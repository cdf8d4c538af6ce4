"""Correctness checker of the sink benchmark (the figure behind error_share).

Pipeline workloads: for every drain, the landed data leg together with the
DLQ leg must hold each offered row exactly once by (topic, partition,
offset); every good row's values must equal its source payload; every DLQ
row must carry the reason the generator's manifest names; in pending mode
nothing may have been visible before commit(). A row that breaks any rule
counts once as failed.

curate_batch: each query's result must equal its DuckDB oracle
(`SparkEntry.oracleSql`) over the same corpus, by the rules of
`tools/compare.py`: same column set and Arrow types, same row count, rows
equal in order, doubles within 2 ulp.

Freshness is computed here too, off the clock, from the commit markers the
sink writes: a record's freshness is the marker's mtime minus the time the
record was due.
"""
import glob
import math
import os
import struct

import duckdb

F1_TYPE = '{"id":"VARCHAR","int_value":"BIGINT"}'
F2_TYPE = ('{"id":"VARCHAR","int_value":"BIGINT","double_value":"DOUBLE",'
           '"boolean_value":"BOOLEAN","array_value":["VARCHAR"],'
           '"map_value":"MAP(VARCHAR, INTEGER)",'
           '"struct_value":{"inner1":"VARCHAR","inner2":"BOOLEAN"},'
           '"optional_array_value":["VARCHAR"]}')
F1_COLS = ["id", "int_value"]
F2_COLS = ["id", "int_value", "double_value", "boolean_value", "array_value",
           "map_value", "struct_value", "optional_array_value"]


def _landed(con, sink_root, name, payload, err):
    """Table `name` over a sink's visible rows: coordinates, the batch (from
    the `batch=<id>` directory), and the given payload and err expressions."""
    files = glob.glob(os.path.join(sink_root, "data", "batch=*", "*.parquet"))
    if files:
        src = f"read_parquet({files!r}, hive_partitioning = true)"
    else:  # a leg that never received a row
        src = ("(SELECT NULL::VARCHAR topic, NULL::INTEGER partition, NULL::BIGINT \"offset\", "
               "NULL::BIGINT batch, NULL::VARCHAR err WHERE false)")
        payload = "NULL::VARCHAR"
    con.execute(f"CREATE OR REPLACE TEMP TABLE {name} AS SELECT topic, partition, \"offset\", "
                f"CAST(batch AS BIGINT) AS batch, {payload} AS payload, {err} AS err FROM {src}")


def check_drain(con, drain_dir, src_files, kind):
    """Rows of one drain that break a rule, and per-row freshness inputs.

    Returns (failed_rows, problems, visible) where `visible` lists
    (file index, leg, batch id) per landed row."""
    cols = ", ".join(f'"{c}"' for c in (F2_COLS if kind == "f2" else F1_COLS))
    jtype = F2_TYPE if kind == "f2" else F1_TYPE
    _landed(con, os.path.join(drain_dir, "out"), "landed_data",
            f"to_json(struct_pack({cols}))", "NULL::VARCHAR")
    _landed(con, os.path.join(drain_dir, "dlq"), "landed_dlq", "NULL::VARCHAR", "err")
    con.execute("CREATE OR REPLACE TEMP TABLE src AS SELECT * FROM read_json("
                f"{src_files!r}, format = 'newline_delimited', columns = "
                "{topic: 'VARCHAR', partition: 'INTEGER', \"offset\": 'BIGINT', "
                "key: 'VARCHAR', value: 'VARCHAR'}) WHERE json_valid(value)")
    con.execute("""
        CREATE OR REPLACE TEMP TABLE landed AS
        SELECT topic, partition, "offset", batch, payload, err, 'data' AS leg FROM landed_data
        UNION ALL
        SELECT topic, partition, "offset", batch, payload, err, 'dlq' AS leg FROM landed_dlq""")
    problems = {}
    # duplicates: a coordinate landed more than once (any leg)
    dup = con.execute("""SELECT count(*) FROM (SELECT topic, partition, "offset"
        FROM landed GROUP BY ALL HAVING count(*) > 1)""").fetchone()[0]
    # lost: offered but landed nowhere
    lost = con.execute("""SELECT count(*) FROM manifest m WHERE m.offered AND NOT EXISTS
        (SELECT 1 FROM landed l WHERE l.partition = m.partition AND l."offset" = m."offset")""").fetchone()[0]
    # not offered but landed (or landed under another topic)
    extra = con.execute("""SELECT count(*) FROM landed l WHERE l.topic <> 'events' OR NOT EXISTS
        (SELECT 1 FROM manifest m WHERE m.offered AND l.partition = m.partition
         AND l."offset" = m."offset")""").fetchone()[0]
    # wrong leg or wrong DLQ reason
    wrong = con.execute("""SELECT count(DISTINCT (l.partition, l."offset")) FROM landed l
        JOIN manifest m USING (partition, "offset")
        WHERE l.leg <> m.leg OR (l.leg = 'dlq' AND l.err IS DISTINCT FROM m.reason)""").fetchone()[0]
    # good rows must round-trip their payload values
    bad_values = con.execute(f"""SELECT count(*) FROM landed_data l JOIN src s
        USING (partition, "offset")
        WHERE l.payload IS DISTINCT FROM to_json(json_transform(s.value, '{jtype}'))""").fetchone()[0]
    for k, v in (("duplicated", dup), ("lost", lost), ("unexpected", extra),
                 ("wrong_leg_or_reason", wrong), ("value_mismatch", bad_values)):
        if v:
            problems[k] = v
    visible = con.execute("""SELECT m.file, l.leg, l.batch FROM landed l
        JOIN manifest m USING (partition, "offset")""").fetchall()
    return dup + lost + extra + wrong + bad_values, problems, visible


def _markers(sink_root):
    d = os.path.join(sink_root, "_commits")
    if not os.path.isdir(d):
        return {}
    return {int(n): os.stat(os.path.join(d, n)).st_mtime_ns / 1e6 for n in os.listdir(d)}


def check_pipeline(work, plan, result):
    """Returns (attempted, failed, problems, freshness_ms lists, one per drain)."""
    con = duckdb.connect()
    con.execute(f"SET threads = {os.cpu_count() or 1}")
    manifest = os.path.join(work, "input", "manifest.csv")
    offered_files = result.get("files_offered", plan["files"])
    con.execute(f"CREATE TEMP TABLE manifest AS SELECT file, partition, \"offset\", leg, "
                f"coalesce(reason, '') AS reason, file < {int(offered_files)} AS offered "
                f"FROM read_csv('{manifest}', header = true, all_varchar = false, "
                "columns = {file: 'INTEGER', partition: 'INTEGER', \"offset\": 'BIGINT', "
                "leg: 'VARCHAR', reason: 'VARCHAR'})")
    con.execute("UPDATE manifest SET reason = NULL WHERE reason = ''")
    per_drain = con.execute("SELECT count(*) FROM manifest WHERE offered").fetchone()[0]
    trickle = plan["workload"] == "trickle_pending"
    attempted = failed = 0
    problems = {}
    fresh = []
    names = plan["file_names"][:offered_files]
    for d in result["drains"]:
        drain_dir = os.path.join(work, d["dir"])
        src_dir = os.path.join(drain_dir, "src") if trickle else os.path.join(work, "input", "backlog")
        f, p, visible = check_drain(con, drain_dir, [os.path.join(src_dir, n) for n in names],
                                    plan["kind"])
        attempted += per_drain
        failed += f
        for k, v in p.items():
            problems[k] = problems.get(k, 0) + v
        marks = {"data": _markers(os.path.join(drain_dir, "out")),
                 "dlq": _markers(os.path.join(drain_dir, "dlq"))}
        fresh.append([marks[leg][batch] - d["due_ms"]
                      - (file_idx * result["interval_ms"] if trickle else 0)
                      for file_idx, leg, batch in visible])
    if trickle:
        staged = glob.glob(os.path.join(work, result["drains"][0]["dir"], "out", "_staging", "*"))
        if result.get("early_visible") or staged:
            problems["visible_before_commit_or_left_staged"] = (result.get("early_visible", 0)
                                                                + len(staged))
            failed += problems["visible_before_commit_or_left_staged"]
    return attempted, failed, problems, fresh


# ------------------------------------------------------------- curate_batch

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _canon(v):
    import datetime
    import decimal
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return tuple(_canon(x) for x in v)
    return v


def _ulps_eq(a, b):
    if a == b:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return False
        ia = struct.unpack("<q", struct.pack("<d", a))[0]
        ib = struct.unpack("<q", struct.pack("<d", b))[0]
        if ia < 0:
            ia = -(1 << 63) - ia
        if ib < 0:
            ib = -(1 << 63) - ib
        return abs(ia - ib) <= 2
    if isinstance(a, tuple) and isinstance(b, tuple) and len(a) == len(b):
        return all(_ulps_eq(x, y) for x, y in zip(a, b))
    return False


def _ntype(t):
    s = str(t).replace("large_string", "string").replace("large_binary", "binary")
    return "timestamp" if s.startswith("timestamp") else s


def compare_result(spark_tbl, duck_tbl):
    """None when equal by the oracle rules, else the reason."""
    s_cols, d_cols = sorted(spark_tbl.column_names), sorted(duck_tbl.column_names)
    if s_cols != d_cols:
        return f"column sets differ: {s_cols} vs {d_cols}"
    s_types = {f.name: _ntype(f.type) for f in spark_tbl.schema}
    d_types = {f.name: _ntype(f.type) for f in duck_tbl.schema}
    if any(s_types[c] != d_types[c] for c in s_cols):
        return "arrow types differ"
    if spark_tbl.num_rows != duck_tbl.num_rows:
        return f"rows {spark_tbl.num_rows} vs {duck_tbl.num_rows}"
    s_rows = [tuple(_canon(r[c]) for c in s_cols) for r in spark_tbl.to_pylist()]
    d_rows = [tuple(_canon(r[c]) for c in d_cols) for r in duck_tbl.to_pylist()]
    for a, b in zip(s_rows, d_rows):
        if a != b and not all(_ulps_eq(x, y) for x, y in zip(a, b)):
            return "values differ"
    return None


def check_curate(work, corpus, result):
    """Returns (attempted, failed, problems): queries run, and those whose
    result is missing or differs from its oracle."""
    import pyarrow.parquet as pq
    con = duckdb.connect()
    con.execute(f"SET threads = {os.cpu_count() or 1}")
    for t in TABLES:
        p = os.path.join(corpus, f"{t}.parquet")
        if os.path.isdir(p):
            p = os.path.join(p, "*.parquet")
        elif not os.path.exists(p):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    problems = {}
    oracle = result["oracle_sql"]
    for name, sql in oracle.items():
        files = sorted(glob.glob(os.path.join(work, "results", name, "*.parquet")))
        if not files:
            problems[name] = "no result"
            continue
        try:
            duck = con.execute(sql).fetch_arrow_table()
        except Exception as e:  # the oracle itself failing is a failed query too
            problems[name] = f"oracle error: {e}"
            continue
        why = compare_result(pq.read_table(files[0]), duck)
        if why:
            problems[name] = why
    return len(oracle), len(problems), problems


def quantile(xs, q):
    """Linear-interpolation quantile (the harness's rule on the JVM side)."""
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(math.floor(pos))
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)
