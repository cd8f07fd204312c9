"""DuckDB oracle for the `corpus` workload.

d9, d6 and d7 replay the registry's own oracle SQL
(`SparkEntry.oracleSql`). r1's registry oracle inlines the engine's
quantized idf table as literals; the SQL below is the same BM25
arithmetic over that table. Columns are compared sorted by name, rows
sorted, values exact and of the same type family.
"""
import math
from pathlib import Path

R1_SQL = """WITH toks AS (
  SELECT doc_id, source, text, n_chars,
         list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS t
  FROM documents),
dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM toks),
nn AS (SELECT (SELECT count(*) FROM documents) AS n,
              (SELECT sum(dl) FROM dl) AS s),
terms AS (SELECT doc_id, unnest(t) AS term FROM toks),
tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
idf(term, idf_i) AS (SELECT * FROM (VALUES
  {idf}) t),
q AS (
  SELECT doc_id AS query_id, unnest(list_distinct(t[1:8])) AS term
  FROM toks WHERE doc_id % 97 = 0),
sc AS (
  SELECT q.query_id, tf.doc_id,
    CAST(sum(CAST((2200::HUGEINT * idf.idf_i * tf.tf * (SELECT s FROM nn)) //
      (10::HUGEINT * (SELECT s FROM nn) * tf.tf +
       3::HUGEINT * (SELECT s FROM nn) +
       9::HUGEINT * dl.dl * (SELECT n FROM nn)) AS BIGINT)) AS BIGINT) AS score_micro
  FROM q
  JOIN tf USING (term)
  JOIN idf USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  GROUP BY 1, 2),
lexr AS (
  SELECT query_id, doc_id, score_micro,
    CAST(row_number() OVER (PARTITION BY query_id
      ORDER BY score_micro DESC, doc_id) AS INTEGER) AS rank
  FROM sc)
SELECT query_id, doc_id, score_micro, rank FROM lexr
WHERE rank <= 10"""


def _family(v):
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, int):
        return "int"
    if isinstance(v, float):
        return "float"
    return type(v).__name__


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = [tuple(r[i] for i in order) for r in rows]
    return sorted(canon, key=lambda r: tuple(str(x) for x in r)), [cols[i] for i in order]


def _same(a, b):
    if _family(a) != _family(b):
        return False
    if isinstance(a, float) and math.isnan(a) and math.isnan(b):
        return True
    return a == b


def compare(con, name, spark_dir, sql):
    """One check dict: the Spark result under `spark_dir` against `sql`."""
    try:
        spark_rel = con.execute(f"SELECT * FROM read_parquet('{spark_dir}/*.parquet')")
        s_cols = [d[0] for d in spark_rel.description]
        s_rows = spark_rel.fetchall()
        o_rel = con.execute(sql)
        o_cols = [d[0] for d in o_rel.description]
        o_rows = o_rel.fetchall()
    except Exception as e:  # a broken result or oracle is a failed check
        return {"name": f"oracle {name}", "ok": False, "detail": f"error: {e}"}
    if sorted(s_cols) != sorted(o_cols):
        return {"name": f"oracle {name}", "ok": False,
                "detail": f"columns {sorted(s_cols)} vs oracle {sorted(o_cols)}"}
    s, _ = _canon(s_rows, s_cols)
    o, _ = _canon(o_rows, o_cols)
    bad = len(s) != len(o) or any(
        not all(_same(x, y) for x, y in zip(rs, ro)) for rs, ro in zip(s, o))
    return {"name": f"oracle {name}", "ok": not bad,
            "detail": f"rows={len(s)} oracle_rows={len(o)}" + (" differ" if bad else "")}


def corpus_checks(record):
    """Checks of the first timed pass against the DuckDB oracle."""
    import duckdb

    info = record["oracle"]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{info['documents']}/*.parquet')")
    idf = ",\n  ".join(
        "('{}', CAST({} AS BIGINT))".format(t.replace("'", "''"), i) for t, i in info["bm25_idf"])
    sqls = dict(info["sql"])
    sqls["r1_bm25_topk"] = R1_SQL.format(idf=idf)
    results = Path(info["results_dir"])
    return [compare(con, q, results / q, sql) for q, sql in sorted(sqls.items())]
