"""Metric derivation for the graft benchmark.

Everything here is a pure function of the run record the JVM writes
(`graftbench.Main`): timed operations with outcomes, set-up timings,
checks, and for traced runs the spans and listener counters.
"""
import math
import statistics

# End-to-end metrics gated by BENCHMARK.json: (name, unit, better).
# Every workload reports each of them; what they measure per workload
# is in WORKLOAD_METRICS below and in README.md.
GATED = [
    ("setup_s", "s", "lower"),
    ("latency_p50_ms", "ms", "lower"),
    ("throughput_per_s", "1/s", "higher"),
    ("heap_peak_mb", "MB", "lower"),
]

# The workload-specific names each gated metric stands for.
GATED_SOURCE = {
    "ingest": {"latency_p50_ms": "ingest.batch_p50_ms",
               "throughput_per_s": "ingest.events_per_s"},
    "dashboard": {"latency_p50_ms": "dashboard.detail_p50_ms",
                  "throughput_per_s": "dashboard.queries_per_s"},
    "corpus": {"latency_p50_ms": "corpus.pass_ms",
               "throughput_per_s": "corpus.documents_per_s"},
}

# Every end-to-end metric each workload prints: (name, unit, better).
COMMON = [("setup_s", "s", "lower"), ("failed_frac", "ratio", "lower"),
          ("heap_peak_mb", "MB", "lower")]
WORKLOAD_METRICS = {
    "ingest": COMMON + [
        ("ingest.events_per_s", "events/s", "higher"),
        ("ingest.batch_p50_ms", "ms", "lower"),
        ("ingest.batch_tail_ms", "ms", "lower"),
        ("ingest.store_bytes_per_event", "B/event", "lower"),
    ],
    "dashboard": COMMON + [
        ("dashboard.detail_p50_ms", "ms", "lower"),
        ("dashboard.detail_tail_ms", "ms", "lower"),
        ("dashboard.overview_p50_ms", "ms", "lower"),
        ("dashboard.queries_per_s", "ops/s", "higher"),
    ],
    "corpus": COMMON + [
        ("corpus.pass_s", "s", "lower"),
        ("corpus.pass_ms", "ms", "lower"),
        ("corpus.documents_per_s", "docs/s", "higher"),
    ],
}

# Operation kinds per workload; per-operation layer metrics exist for each.
OPS = {
    "ingest": ["batch"],
    "dashboard": ["detail", "refresh", "availability", "pareto", "oee"],
    "corpus": ["contamination", "dedup_pipeline", "dup_clusters", "bm25"],
}
ALL_OPS = [k for w in ("ingest", "dashboard", "corpus") for k in OPS[w]]
QUERY_OPS = OPS["dashboard"]
DETAIL_OPS = ("detail", "refresh")
OVERVIEW_OPS = ("availability", "pareto", "oee")


def _per_layer_names():
    names = [
        ("streaming.trigger_ms", "ms"), ("streaming.add_batch_ms", "ms"),
        ("streaming.wal_commit_ms", "ms"),
        ("parse.batch_ms", "ms"), ("parse.msgs_out", "count"), ("parse.rejects", "count"),
        ("sources.register_ms", "ms"), ("sources.load_state_ms", "ms"),
        ("sources.append_ms", "ms"), ("sources.merge_ms", "ms"),
        ("sources.files_written_per_batch", "count"),
        ("sources.bytes_written_per_batch", "B"),
    ]
    for op in QUERY_OPS:
        names += [(f"query.plan_ms.{op}", "ms"), (f"query.exec_ms.{op}", "ms"),
                  (f"sources.files_scanned.{op}", "count"),
                  (f"sources.rows_scanned_per_row_out.{op}", "ratio")]
    for op in OPS["corpus"]:
        names.append((f"functions.op_s.{op}", "s"))
    for op in ALL_OPS:
        names += [(f"spark.max_task_share.{op}", "ratio"), (f"spark.busy_share.{op}", "ratio"),
                  (f"spark.plan_expr_ratio.{op}", "ratio"), (f"spark.shuffle_bytes.{op}", "B"),
                  (f"spark.spill_bytes.{op}", "B"), (f"spark.jobs.{op}", "count"),
                  (f"spark.tasks.{op}", "count")]
    names.append(("spark.gc_ms", "ms"))
    return names


PER_LAYER = _per_layer_names()


def _exercised():
    """Per-layer metrics each workload exercises, so its traced run must
    read them above 0. Left out: counts a correct run may leave at 0
    (parse rejects, spilled bytes)."""
    op_metrics = ("max_task_share", "busy_share", "plan_expr_ratio", "shuffle_bytes",
                  "jobs", "tasks")
    written = ["sources.files_written_per_batch", "sources.bytes_written_per_batch"]
    ex = {
        "ingest": ["streaming.trigger_ms", "streaming.add_batch_ms", "streaming.wal_commit_ms",
                   "parse.batch_ms", "parse.msgs_out", "sources.register_ms",
                   "sources.load_state_ms", "sources.append_ms", "sources.merge_ms"] + written,
        "dashboard": written + [f"{m}.{op}" for op in QUERY_OPS for m in (
            "query.plan_ms", "query.exec_ms", "sources.files_scanned",
            "sources.rows_scanned_per_row_out")],
        "corpus": [f"functions.op_s.{op}" for op in OPS["corpus"]],
    }
    for w, names in ex.items():
        names += [f"spark.{m}.{op}" for op in OPS[w] for m in op_metrics] + ["spark.gc_ms"]
    return ex


EXERCISED = _exercised()


def silent_layers(workload, per_layer_metrics):
    """The exercised per-layer metrics of `workload` that read 0."""
    return [n for n in EXERCISED[workload] if not per_layer_metrics.get(n)]

CORES = 4
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_MIN_BEYOND = 10


def median(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else None


def tail_percentile(samples, ladder=TAIL_LADDER, min_beyond=TAIL_MIN_BEYOND):
    """The highest percentile of `ladder` with at least `min_beyond`
    samples above its nearest-rank position, as (percentile, value);
    None when there are too few samples for any of them."""
    xs = sorted(samples)
    n = len(xs)
    for p in ladder:
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= min_beyond:
            return p, xs[rank - 1]
    return None


def failure_counts(ops, checks=()):
    """(attempted, failed, failed_frac): operations that threw or failed
    their output check, over operations attempted. A failed end-of-run
    check counts as one more failed attempt."""
    attempted = len(ops) + len(checks)
    failed = sum(1 for o in ops if not o["ok"]) + sum(1 for c in checks if not c["ok"])
    return attempted, failed, (failed / attempted if attempted else 1.0)


def setup_s(rec):
    """JVM start to the first timed operation, with the repeated input
    preparation counted once, at its median."""
    prep = rec["setup"]["prep_s"]
    return rec["timed_start_s"] - sum(prep) + median(prep)


def _ok_ms(ops, kinds):
    return [o["ms"] for o in ops if o["ok"] and o["kind"] in kinds]


def _tail(samples):
    t = tail_percentile(samples)
    return (t[1], {"percentile": t[0], "n": len(samples)}) if t else (None, {"n": len(samples)})


def queries_per_s(ops, wall_s, details_per_cycle):
    """Closed-loop throughput of the dashboard's fixed cycle
    (`details_per_cycle` mount + refresh pairs, then one overview op in
    rotation): ops per cycle over (pairs x (median mount + median
    refresh) + mean of the overview kinds' medians). Unlike a raw count
    over the window it does not depend on which op the window happened
    to end on. Overview kinds without a sample are left out of the mean;
    without any detail or overview sample it is ok ops / wall."""
    med = {k: median(_ok_ms(ops, {k})) for k in DETAIL_OPS + OVERVIEW_OPS}
    overview = [med[k] for k in OVERVIEW_OPS if med[k] is not None]
    if med["detail"] is None or med["refresh"] is None or not overview:
        return sum(1 for o in ops if o["ok"]) / wall_s
    cycle_ms = (details_per_cycle * (med["detail"] + med["refresh"])
                + sum(overview) / len(overview))
    return (2 * details_per_cycle + 1) * 1000.0 / cycle_ms


def end_to_end(workload, rec, checks):
    """{name: value} for every WORKLOAD_METRICS entry (None when the run
    has no sample for it) plus {name: note} details."""
    ops = rec["ops"]
    _, _, frac = failure_counts(ops, checks)
    m = {"setup_s": setup_s(rec), "failed_frac": frac, "heap_peak_mb": rec["jvm"]["heap_peak_mb"]}
    notes = {}
    if workload == "ingest":
        info = rec["ingest"]
        batches = _ok_ms(ops, {"batch"})
        m["ingest.events_per_s"] = len(batches) * info["events_per_batch"] / info["timed_wall_s"]
        m["ingest.batch_p50_ms"] = median(batches)
        m["ingest.batch_tail_ms"], notes["ingest.batch_tail_ms"] = _tail(batches)
        m["ingest.store_bytes_per_event"] = info["store_bytes"] / info["events_ingested"]
        notes["ingest.batch_p50_ms"] = {"n": len(batches)}
    elif workload == "dashboard":
        detail = _ok_ms(ops, DETAIL_OPS)
        overview = _ok_ms(ops, OVERVIEW_OPS)
        m["dashboard.detail_p50_ms"] = median(detail)
        m["dashboard.detail_tail_ms"], notes["dashboard.detail_tail_ms"] = _tail(detail)
        m["dashboard.overview_p50_ms"] = median(overview)
        info = rec["dashboard"]
        m["dashboard.queries_per_s"] = queries_per_s(ops, info["timed_wall_s"],
                                                     info["details_per_cycle"])
        notes["dashboard.detail_p50_ms"] = {"n": len(detail)}
        notes["dashboard.overview_p50_ms"] = {
            "n": len(overview), **{k: median(_ok_ms(ops, {k})) for k in OVERVIEW_OPS}}
    elif workload == "corpus":
        info = rec["corpus"]
        kinds = OPS["corpus"]
        passes = []
        for i in range(0, len(ops) - len(kinds) + 1, len(kinds)):
            group = ops[i:i + len(kinds)]
            if [o["kind"] for o in group] == kinds and all(o["ok"] for o in group):
                passes.append(sum(o["ms"] for o in group))
        p50 = median(passes)
        m["corpus.pass_ms"] = p50
        m["corpus.pass_s"] = p50 / 1000.0 if p50 is not None else None
        m["corpus.documents_per_s"] = len(passes) * info["documents"] / info["timed_wall_s"]
        notes["corpus.pass_s"] = {"n": len(passes)}
    return m, notes


def gated(workload, m):
    """The BENCHMARK.json end-to-end metrics for this workload."""
    src = GATED_SOURCE[workload]
    return {name: m[src.get(name, name)] for name, _, _ in GATED}


# ---- per-layer metrics from the traced run ---------------------------------

def _kind(op_id):
    return op_id.split("#", 1)[0]


def per_layer(rec):
    """{name: value} for every PER_LAYER metric; layers the workload does
    not exercise read 0."""
    tr = rec["trace"]
    ops = [o for o in rec["ops"] if o["ok"]]
    wall = {o["id"]: o["ms"] for o in ops}
    rows_out = {o["id"]: o["rows"] for o in ops}
    by_kind = {}
    for o in ops:
        by_kind.setdefault(o["kind"], []).append(o["id"])
    out = {name: 0.0 for name, _ in PER_LAYER}

    def med(values):
        v = median(values)
        return float(v) if v is not None else 0.0

    # streaming: StreamingQueryProgress.durationMs of the timed batches
    prog = [p for p in tr["progress"] if p["op"] in wall and p["rows"] > 0]
    for name, key in (("trigger_ms", "triggerExecution"), ("add_batch_ms", "addBatch"),
                      ("wal_commit_ms", "walCommit")):
        out[f"streaming.{name}"] = med([p["duration_ms"].get(key, 0) for p in prog])

    spans, counts = tr["spans"], tr["counts"]

    # sources callbacks: summed span time per timed batch
    for name in ("register", "load_state", "append", "merge"):
        per_op = {op_id: 0.0 for op_id in by_kind.get("batch", [])}
        for s in spans:
            if s["name"] == f"sources.{name}" and s["op"] in per_op:
                per_op[s["op"]] += (s["end_ns"] - s["start_ns"]) / 1e6
        out[f"sources.{name}_ms"] = med(per_op.values())

    for name, target in (("parse.batch_ms", "parse.batch_ms"), ("parse.msgs_out", "parse.msgs_out"),
                         ("parse.rejects", "parse.rejects"),
                         ("sources.files_written", "sources.files_written_per_batch"),
                         ("sources.bytes_written", "sources.bytes_written_per_batch")):
        out[target] = med([c["value"] for c in counts if c["name"] == name])

    # queries per operation (QueryExecutionListener)
    q_by_op = {}
    for q in tr["queries"]:
        q_by_op.setdefault(q["op"], []).append(q)
    scans = tr["scans"]
    for kind in QUERY_OPS:
        ids = by_kind.get(kind, [])
        qs = [q_by_op.get(i, []) for i in ids]
        out[f"query.plan_ms.{kind}"] = med([sum(q["plan_ms"] for q in x) for x in qs])
        out[f"query.exec_ms.{kind}"] = med([sum(q["exec_ms"] for q in x) for x in qs])
        sc = [scans.get(i, {"files": 0, "rows": 0}) for i in ids]
        out[f"sources.files_scanned.{kind}"] = med([x["files"] for x in sc])
        out[f"sources.rows_scanned_per_row_out.{kind}"] = med(
            [x["rows"] / rows_out[i] for i, x in zip(ids, sc) if rows_out[i]])

    for kind in OPS["corpus"]:
        out[f"functions.op_s.{kind}"] = med(
            [(s["end_ns"] - s["start_ns"]) / 1e9 for s in spans if s["name"] == f"functions.{kind}"])

    # scheduler and planner, per operation
    tasks, jobs = tr["tasks"], tr["jobs"]
    for kind in ALL_OPS:
        ids = by_kind.get(kind, [])
        t = [tasks.get(i) for i in ids]
        out[f"spark.max_task_share.{kind}"] = med(
            [x["max_task_ms"] / wall[i] for i, x in zip(ids, t) if x and wall[i] > 0])
        out[f"spark.busy_share.{kind}"] = med(
            [x["sum_task_ms"] / (wall[i] * CORES) for i, x in zip(ids, t) if x and wall[i] > 0])
        out[f"spark.shuffle_bytes.{kind}"] = med([x["shuffle_bytes"] if x else 0 for x in t])
        out[f"spark.spill_bytes.{kind}"] = med([x["spill_bytes"] if x else 0 for x in t])
        out[f"spark.tasks.{kind}"] = med([x["tasks"] if x else 0 for x in t])
        out[f"spark.jobs.{kind}"] = med([jobs.get(i, 0) for i in ids])
        ratios = []
        for i in ids:
            qs = q_by_op.get(i, [])
            analyzed = sum(q["analyzed_expr"] for q in qs)
            if analyzed:
                ratios.append(sum(q["optimized_expr"] for q in qs) / analyzed)
        out[f"spark.plan_expr_ratio.{kind}"] = med(ratios)
    out["spark.gc_ms"] = float(rec["jvm"]["gc_ms"])
    return out
