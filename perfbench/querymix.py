"""The `query_mix` workload: fixed-order passes over registered harness
queries (pipeline compiler and operator library), each executed to the
noop sink, over tables generated from the seed. The results are then
checked against each query's DuckDB oracle (`oracle_sql`).

The tables have the shapes of the repository's TPC-H-like test data
(customer, orders, lineitem, events, documents), at about
the size of its sf0.01 scale.
"""

from __future__ import annotations

import glob
import json
import os
import time
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from common import median

# Small enough that set-up plus timed passes fit one run. Covers the
# pipeline compiler ($match/$group/$lookup/$unwind/$redact/$bucketAuto)
# and the ops library (as-of join, bigram LM with construction-time
# jobs).
MIX = [
    "group_sum_avg",
    "tpch_q3_pipeline",
    "redact_pipeline",
    "bucket_auto_custkey",
    "events_asof_join",
    "text_lm_nll",
]

WARM_PASSES = 5

N_CUSTOMERS = 1_500
N_ORDERS = 15_000
N_LINEITEMS = 60_000
N_EVENTS = 10_000
N_USERS = 150
N_DOCS = 500

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _write(root: str, name: str, cols: dict, schema: pa.Schema) -> None:
    table = pa.table({f.name: pa.array(cols[f.name], type=f.type) for f in schema}, schema=schema)
    pq.write_table(table, os.path.join(root, f"{name}.parquet"))


def _days(day0: datetime, offsets) -> list[datetime]:
    return [day0 + timedelta(days=int(d)) for d in offsets]


def generate(root: str, seed: int) -> dict[str, int]:
    """Write the five tables under `root`; returns their row counts.
    Every column is drawn independently and uniformly unless noted,
    with the ranges, cardinalities and row counts of the test data at
    scale 0.01 (see NOTES.md for the comparison)."""
    rng = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)
    ts_us = pa.timestamp("us")

    _write(root, "customer", {
        "c_custkey": np.arange(N_CUSTOMERS),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMERS)],
        "c_nationkey": rng.integers(0, 25, N_CUSTOMERS).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMERS), 2),
        "c_mktsegment": rng.choice(SEGMENTS, N_CUSTOMERS),
    }, pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()), ("c_nationkey", pa.int32()),
                  ("c_acctbal", pa.float64()), ("c_mktsegment", pa.string())]))

    day0 = datetime(1995, 1, 1)
    _write(root, "orders", {
        "o_orderkey": np.arange(N_ORDERS),
        "o_custkey": rng.integers(0, N_CUSTOMERS, N_ORDERS),
        "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS),
        "o_totalprice": np.round(rng.uniform(1000, 500000, N_ORDERS), 2),
        "o_orderdate": _days(day0, rng.integers(0, 2405, N_ORDERS)),
        "o_orderpriority": rng.choice(PRIORITIES, N_ORDERS),
    }, pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()), ("o_orderstatus", pa.string()),
                  ("o_totalprice", pa.float64()), ("o_orderdate", ts_us), ("o_orderpriority", pa.string())]))

    # line items pick their order at random (not nested per order) and
    # their ship date independently of it
    n_l = N_LINEITEMS
    _write(root, "lineitem", {
        "l_orderkey": rng.integers(0, N_ORDERS, n_l),
        "l_partkey": rng.integers(0, 2000, n_l),
        "l_suppkey": rng.integers(0, 100, n_l),
        "l_linenumber": rng.integers(1, 8, n_l).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_l), 2),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_l),
        "l_linestatus": rng.choice(["F", "O"], n_l),
        "l_shipdate": _days(day0 + timedelta(days=1), rng.integers(0, 2500, n_l)),
    }, pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()), ("l_suppkey", pa.int64()),
                  ("l_linenumber", pa.int32()), ("l_quantity", pa.float64()),
                  ("l_extendedprice", pa.float64()), ("l_discount", pa.float64()),
                  ("l_tax", pa.float64()), ("l_returnflag", pa.string()),
                  ("l_linestatus", pa.string()), ("l_shipdate", ts_us)]))

    # a 30-day stream: exponential gaps (mean 259 s) and values (mean 50)
    t0 = datetime(2024, 1, 1)
    gaps = np.cumsum(rng.exponential(259e6, N_EVENTS)).astype(np.int64)  # microseconds
    _write(root, "events", {
        "event_id": np.arange(N_EVENTS),
        "ts": [t0 + timedelta(microseconds=int(g)) for g in gaps],
        "user_id": rng.integers(0, N_USERS, N_EVENTS),
        "event_type": rng.choice(EVENT_TYPES, N_EVENTS),
        "value": np.maximum(np.round(rng.exponential(50.0, N_EVENTS), 2), 0.01),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, N_EVENTS)],
    }, pa.schema([("event_id", pa.int64()), ("ts", ts_us), ("user_id", pa.int64()),
                  ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string())]))

    # 10-99 words from a 30-word vocabulary; 5% are near-duplicates: an
    # earlier document with " dup" appended
    texts: list[str] = []
    for i in range(N_DOCS):
        if i and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    _write(root, "documents", {
        "doc_id": np.arange(N_DOCS),
        "text": texts,
        "lang": rng.choice(LANGS, N_DOCS, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": [len(t) for t in texts],
    }, pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                  ("source", pa.string()), ("n_chars", pa.int64())]))

    return {"customer": N_CUSTOMERS, "orders": N_ORDERS, "lineitem": n_l,
            "events": N_EVENTS, "documents": N_DOCS}


def job_group(i: int, name: str, phase: str) -> str:
    return f"perfbench|pass{i}|{name}|{phase}"


def one_pass(sess, tracer, queries, data_dir: str, i: int | None = None) -> list[dict]:
    """Build and execute every query of the mix once, in order. For a
    timed pass of a traced run (`i` given, tracer on) each build and
    execution runs under its own Spark job group, so its jobs can be
    counted exactly."""
    sc = sess.spark.sparkContext
    groups = tracer.on and i is not None

    def phase(name, ph):
        if groups:
            sc.setLocalProperty("spark.jobGroup.id", job_group(i, name, ph))
        return tracer.span(f"harness.{ph}", query=name)

    out = []
    for name in MIX:
        with tracer.span("harness.query", query=name, timed_pass=i):
            t0 = time.perf_counter()
            with phase(name, "build"):
                df = queries[name](sess.spark, data_dir)
            t1 = time.perf_counter()
            with phase(name, "exec"):
                df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
        if groups:
            sc.setLocalProperty("spark.jobGroup.id", None)
        out.append({"query": name, "build_s": t1 - t0, "exec_s": t2 - t1, "ms": (t2 - t0) * 1000.0})
    return out


def _normalize(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def check_against_oracle(spark, queries, data_dir: str) -> dict[str, str]:
    """Each query's Spark result against its DuckDB oracle over the same
    parquet files: row count, columns, dtypes and exact values,
    compared order-insensitively. Returns {query: problem}."""
    import duckdb
    import pandas as pd

    from route81_spark import harness

    oracles = harness.oracle_sql()
    con = duckdb.connect()
    for path in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    problems = {}
    for name in MIX:
        s = _normalize(queries[name](spark, data_dir).toPandas())
        o = _normalize(con.execute(oracles[name]).fetchdf())
        if len(s) != len(o) or list(s.columns) != list(o.columns):
            problems[name] = f"shape spark={s.shape} {list(s.columns)} oracle={o.shape} {list(o.columns)}"
            continue
        try:
            pd.testing.assert_frame_equal(s, o, check_dtype=False, check_exact=True)
        except AssertionError as e:
            problems[name] = " | ".join(str(e).splitlines()[:4])
    con.close()
    return problems


def run(sess, tracer, seed: int, seconds: float, work: str) -> dict:
    from route81_spark import harness

    queries = harness.queries()
    # set-up: generate the tables and warm every query with passes over
    # them; the first pass is the cold one
    s0 = time.perf_counter()
    data_dir = os.path.join(work, "data")
    sizes = generate(data_dir, seed)
    for _ in range(WARM_PASSES):
        one_pass(sess, tracer, queries, data_dir)
    setup_s = time.perf_counter() - s0

    passes = []
    deadline = time.perf_counter() + seconds
    while not passes or time.perf_counter() < deadline:
        passes.append(one_pass(sess, tracer, queries, data_dir, len(passes)))

    # correctness, outside the timed region
    problems = check_against_oracle(sess.spark, queries, data_dir)
    pass_ms = [sum(q["ms"] for q in p) for p in passes]
    out = {
        "attempted": len(passes),
        # the queries are deterministic: a wrong result is wrong in
        # every pass
        "failed": len(passes) if problems else 0,
        "errors": [f"{k}: {v}" for k, v in problems.items()],
        "setup_s": setup_s,
        "op_ms": pass_ms,
        "info": {
            "queries": MIX,
            "tables": sizes,
            "warm_passes": WARM_PASSES,
            "query_ms": {
                name: [q["ms"] for p in passes for q in p if q["query"] == name] for name in MIX
            },
        },
    }
    if tracer.on:
        jobs = {
            (i, name, ph): len(sess.jobs_in_group(job_group(i, name, ph)))
            for i in range(len(passes))
            for name in MIX
            for ph in ("build", "exec")
        }
        per_pass = [
            {
                "build_s": sum(q["build_s"] for q in p),
                "exec_s": sum(q["exec_s"] for q in p),
                "jobs_in_build": sum(jobs[(i, name, "build")] for name in MIX),
                "jobs_in_exec": sum(jobs[(i, name, "exec")] for name in MIX),
            }
            for i, p in enumerate(passes)
        ]
        out["layers"] = {f"harness.{k}": median([pp[k] for pp in per_pass]) for k in per_pass[0]}
        out["detail"] = {
            "per_pass": per_pass,
            "per_query": {
                name: {
                    "build_s": [q["build_s"] for p in passes for q in p if q["query"] == name],
                    "exec_s": [q["exec_s"] for p in passes for q in p if q["query"] == name],
                    "jobs_in_build": [jobs[(i, name, "build")] for i in range(len(passes))],
                    "jobs_in_exec": [jobs[(i, name, "exec")] for i in range(len(passes))],
                }
                for name in MIX
            },
        }
    return out


def event_log_layers(event_dir: str, n_passes: int) -> tuple[dict, dict]:
    """Task metrics of the timed executions from Spark's JSON event log
    (read after the session stopped): per pass, the sum over the mix's
    exec phases, reported as the median over passes; plus each query's
    exec-phase totals, per pass."""
    keys = ("cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes")
    stage_group: dict[int, str] = {}
    per_group: dict[str, dict[str, float]] = {}
    for path in glob.glob(os.path.join(event_dir, "**", "*"), recursive=True):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if gid:
                        for sid in ev.get("Stage IDs", []):
                            stage_group.setdefault(sid, gid)
                elif kind == "SparkListenerTaskEnd":
                    gid = stage_group.get(ev.get("Stage ID"))
                    tm = ev.get("Task Metrics")
                    if gid is None or not tm:
                        continue
                    acc = per_group.setdefault(gid, dict.fromkeys(keys, 0.0))
                    acc["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    acc["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    acc["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    acc["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
    zero = dict.fromkeys(keys, 0.0)
    per_query = {
        name: [per_group.get(job_group(i, name, "exec"), zero) for i in range(n_passes)]
        for name in MIX
    }
    sums = [{k: sum(per_query[name][i][k] for name in MIX) for k in keys} for i in range(n_passes)]
    layers = {
        "harness.exec_task_cpu_s": median([t["cpu_s"] for t in sums]),
        "harness.exec_gc_s": median([t["gc_s"] for t in sums]),
        "harness.exec_shuffle_write_bytes": median([t["shuffle_write_bytes"] for t in sums]),
        "harness.exec_spill_bytes": median([t["spill_bytes"] for t in sums]),
    }
    return layers, per_query
