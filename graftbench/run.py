#!/usr/bin/env python3
"""graft benchmark: the `ingest`, `dashboard` and `corpus` workloads.

    python3 graftbench/run.py --workload ingest|dashboard|corpus \\
        --seed N --seconds S --trace 0|1
    python3 graftbench/run.py --workload all [--seed N] [--seconds S]
    python3 graftbench/run.py --smoke [--workload W] [--seconds S]

Run from the checkout root. The first run builds the engine and the
harness from source (sbt, offline) into `.bench_build/`. Each workload
runs in its own JVM with one pinned Spark session. The last line of
standard output is one JSON object: `correct`, `attempted`, `failed`
and `metrics` (the BENCHMARK.json end-to-end metrics, or with
`--trace 1` its per-layer metrics). The lines before it print every
metric by name and unit. The full result, with the environment record,
goes to `.bench_build/results/`. `--workload all` runs every workload
untraced and then traced and reports the tracing overhead; `--smoke`
does the same on tiny inputs, with all output checks.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"
CLASS_ARCHIVE = BUILD / "classes.jsa"
sys.path.insert(0, str(BENCH))

import metrics  # noqa: E402

WORKLOADS = ("ingest", "dashboard", "corpus")
RUN_LIMIT_S = 175  # one benchmark invocation, build excluded
BUILD_LIMIT_S = 840
# A fixed heap, so its sizing does not drift during a short run, and a
# fixed young generation: with G1's adaptive one, a third of `corpus`
# runs read 1-1.4 GB of old generation after one GC instead of about
# 270 MB, which made heap_peak_mb bimodal.
JVM_OPTS = ["-Xms3g", "-Xmx3g", "-Xmn128m", "-XX:-UsePerfData",
            f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class BenchError(Exception):
    pass


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ---- build -----------------------------------------------------------------

def _fingerprint():
    h = hashlib.sha256()
    for base in (ROOT / "src" / "main", BENCH / "src", BENCH / "build.sbt",
                 BENCH / "project" / "build.properties"):
        files = sorted(p for p in base.rglob("*") if p.is_file()) if base.is_dir() else [base]
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def _spark_home():
    """The Spark installation to compile and run against: SPARK_HOME, else
    the one whose spark-submit is on PATH, else the engine build's own
    `unmanagedBase` setting."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"]))
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(Path(submit).resolve().parent.parent)
    engine_build = ROOT / "build.sbt"
    if engine_build.exists():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', engine_build.read_text())
        if m:
            candidates.append(Path(m.group(1)).parent)
    for home in candidates:
        if (home / "jars").is_dir():
            return home
    raise BenchError("no Spark installation found (set SPARK_HOME)")


def build():
    """Compile the engine and the harness; returns the JVM classpath."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        raise BenchError(f"engine sources not found under {ROOT / 'src'}; "
                         "run from the root of a graft checkout")
    fingerprint = _fingerprint()
    stamp = BUILD / "build.json"
    if stamp.exists() and CLASS_ARCHIVE.exists():
        done = json.loads(stamp.read_text())
        if done.get("fingerprint") == fingerprint:
            return done["classpath"]
    BUILD.mkdir(parents=True, exist_ok=True)
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Djava.io.tmpdir={tmp}"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts),
               SPARK_HOME=str(_spark_home()))
    log("graftbench: building engine and harness (sbt) ...")
    t0 = time.time()
    try:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
            timeout=BUILD_LIMIT_S, stdin=subprocess.DEVNULL)
    except FileNotFoundError:
        raise BenchError("sbt not found on PATH")
    (BUILD / "build.log").write_text(proc.stdout)
    lines = [ln for ln in proc.stdout.splitlines() if ".jar" in ln and not ln.startswith("[")]
    if proc.returncode != 0 or not lines:
        tail = "\n".join(proc.stdout.splitlines()[-20:])
        raise BenchError(f"build failed (exit {proc.returncode}):\n{tail}")
    classpath = lines[-1].strip()
    _train_class_archive(classpath)
    stamp.write_text(json.dumps({"fingerprint": fingerprint, "classpath": classpath}))
    log(f"graftbench: built in {time.time() - t0:.0f} s")
    return classpath


def _train_class_archive(classpath):
    """One small run of every workload that dumps the classes it loaded
    into a CDS archive; benchmark JVMs map it instead of loading and
    verifying those classes again (about 5 s less start-up and warm-up
    per JVM). The archive is required: the build fails without it and
    every benchmark JVM runs with `-Xshare:on`, which refuses to start
    rather than run without it, so every commit is measured with it."""
    CLASS_ARCHIVE.unlink(missing_ok=True)
    work = BUILD / "work" / "train"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = ["java", *JVM_OPTS, f"-XX:ArchiveClassesAtExit={CLASS_ARCHIVE}",
           f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", classpath, "graftbench.Main",
           "--workload", "train", "--seconds", "1", "--smoke", "1",
           "--work", str(work), "--out", str(work / "record.json")]
    with open(work / "jvm.log", "w") as jlog:
        rc = subprocess.run(cmd, cwd=ROOT, stdout=jlog, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S).returncode
    if rc != 0 or not CLASS_ARCHIVE.exists():
        CLASS_ARCHIVE.unlink(missing_ok=True)
        tail = "\n".join((work / "jvm.log").read_text(errors="replace").splitlines()[-20:])
        raise BenchError(f"class archive not created (exit {rc}):\n{tail}")


# ---- one workload in its own JVM -------------------------------------------

def run_jvm(classpath, workload, seed, seconds, trace, smoke=False, fault=None, limit=RUN_LIMIT_S):
    work = BUILD / "work" / workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    out = work / "record.json"
    (work / "tmp").mkdir()
    cmd = ["java", *JVM_OPTS, "-Xshare:on", f"-XX:SharedArchiveFile={CLASS_ARCHIVE}",
           f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", classpath,
           "graftbench.Main",
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", "1" if trace else "0", "--work", str(work), "--out", str(out),
           "--smoke", "1" if smoke else "0", "--fault", fault or "none"]
    t0 = time.time()
    with open(work / "jvm.log", "w") as jlog:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=jlog, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=limit)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise BenchError(f"{workload}: JVM did not finish within {limit} s")
    if rc != 0 or not out.exists():
        tail = "\n".join((work / "jvm.log").read_text(errors="replace").splitlines()[-25:])
        raise BenchError(f"{workload}: JVM exited {rc}:\n{tail}")
    record = json.loads(out.read_text())
    record["jvm"]["process_s"] = time.time() - t0
    return record


def evaluate(workload, record, trace):
    """The result of one run: checks, failure accounting, metrics."""
    checks = list(record["checks"])
    env = record["env"]
    if workload == "corpus":
        import oracle
        checks += oracle.corpus_checks(record)
        # the parser's session-wide rule exclusion must not leak into
        # the corpus measurement (d9 runs ~35x faster with it)
        rules = (env["excluded_rules_start"], env["excluded_rules_end"])
        checks.append({"name": "InferFiltersFromGenerate stays enabled",
                       "ok": not any("InferFiltersFromGenerate" in r for r in rules),
                       "detail": f"excludedRules start={rules[0]!r} end={rules[1]!r}"})
    if trace:
        layers = metrics.per_layer(record)
        silent = metrics.silent_layers(workload, layers)
        checks.append({"name": "exercised layer metrics read above 0", "ok": not silent,
                       "detail": f"{len(metrics.EXERCISED[workload])} metrics"
                                 + (f", reading 0: {', '.join(silent)}" if silent else "")})
    attempted, failed, _ = metrics.failure_counts(record["ops"], checks)
    e2e, notes = metrics.end_to_end(workload, record, checks)
    result = {
        "workload": workload, "trace": trace,
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted, "failed": failed,
        "end_to_end": e2e, "notes": notes,
        "gated": metrics.gated(workload, e2e),
        "checks": checks,
        "failures": [o for o in record["ops"] if not o["ok"]][:20],
        "env": env, "setup": record["setup"], "jvm": record["jvm"],
    }
    if trace:
        result["per_layer"] = layers
    return result


def _number(v):
    return 0.0 if v is None else float(v)


def final_line(result):
    if result["trace"]:
        m = {name: {"value": _number(result["per_layer"][name]), "unit": unit}
             for name, unit in metrics.PER_LAYER}
    else:
        m = {name: {"value": _number(result["gated"][name]), "unit": unit}
             for name, unit, _ in metrics.GATED}
    return json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                       "failed": result["failed"], "metrics": m})


def print_result(result):
    w = result["workload"]
    env = result["env"]
    print(f"== {w}  seed={env['seed']}  trace={int(result['trace'])}  spark={env['spark_version']} "
          f"cores={env['cores']} heap_max={env['heap_max_mb']}MB  "
          f"excludedRules start='{env['excluded_rules_start']}' end='{env['excluded_rules_end']}'")
    for name, unit, better in metrics.WORKLOAD_METRICS[w]:
        v = result["end_to_end"][name]
        note = result["notes"].get(name)
        shown = "n/a" if v is None else f"{v:.6g}"
        print(f"  {name:32s} {shown:>12s} {unit:9s} ({better} is better)"
              + (f"  {note}" if note else ""))
    for c in result["checks"]:
        print(f"  check {'ok  ' if c['ok'] else 'FAIL'} {c['name']}: {c['detail']}")
    for o in result["failures"]:
        print(f"  failed op {o['id']}: {o['error']}")
    if result.get("overhead"):
        print("  tracing overhead (traced - untraced): " + ", ".join(
            f"{k} {v:+.4g}" for k, v in result["overhead"].items()))


def _qualified(workload, name):
    return name if name.startswith(workload + ".") else f"{workload}.{name}"


def _result_path(workload, seed, trace):
    return BUILD / "results" / f"{workload}-seed{seed}-trace{int(trace)}.json"


def run_one(classpath, workload, seed, seconds, trace, smoke=False, fault=None):
    record = run_jvm(classpath, workload, seed, seconds, trace, smoke=smoke, fault=fault)
    result = evaluate(workload, record, trace)
    if trace:
        # tracing overhead against an untraced run of the same workload and seed
        untraced = _result_path(workload, seed, False)
        if untraced.exists():
            base = json.loads(untraced.read_text())["end_to_end"]
            result["overhead"] = {k: v - base[k] for k, v in result["end_to_end"].items()
                                  if v is not None and base.get(k) is not None}
    path = _result_path(workload, seed, trace)
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(json.dumps(result, indent=1))
    return result


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs; every workload unless --workload names one")
    ap.add_argument("--fault", choices=("throw", "mismatch"), default=None,
                    help="make the first timed operation throw or mismatch")
    a = ap.parse_args(argv)
    if not a.smoke and not a.workload:
        ap.error("--workload or --smoke is required")
    try:
        classpath = build()
        if a.smoke or a.workload == "all":
            seconds = a.seconds if a.seconds is not None else (3 if a.smoke else 10)
            workloads = WORKLOADS if a.workload in (None, "all") else (a.workload,)
            results = []
            for w in workloads:
                for trace in (False, True):
                    r = run_one(classpath, w, a.seed, seconds, trace, smoke=a.smoke, fault=a.fault)
                    print_result(r)
                    results.append(r)
            summary = {"correct": all(r["correct"] for r in results),
                       "attempted": sum(r["attempted"] for r in results),
                       "failed": sum(r["failed"] for r in results),
                       "metrics": {_qualified(r["workload"], name):
                                   {"value": _number(r["end_to_end"][name]), "unit": unit}
                                   for r in results if not r["trace"]
                                   for name, unit, _ in metrics.WORKLOAD_METRICS[r["workload"]]}}
            print(json.dumps(summary))
            return 0
        seconds = a.seconds if a.seconds is not None else 10
        result = run_one(classpath, a.workload, a.seed, seconds, bool(a.trace), fault=a.fault)
        print_result(result)
        print(final_line(result))
        return 0
    except BenchError as e:
        log(f"graftbench: {e}")
        return 2


if __name__ == "__main__":
    sys.exit(main())
