"""The CDC workload `cdc_tail`: a closed-loop live tail against a
seeded target, driving the daemon's public functions from this
process. Both streams run with 0 s triggers, so latency measures work,
not timer phase.

Inputs come from a seeded generator that keeps the expected target
state (the model) next to the change events it writes. Change events
have the shape a MongoDB change stream delivers with fullDocument
updateLookup: `_id` sits inside `fullDocument` as well as in
`documentKey`.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import threading
import time

import pyarrow as pa
import pyarrow.parquet as pq

from common import fresh_dir, median, progress_listener, stream_layer_metrics

NS = "bench.docs"
TARGET_NS = "bench.docs_copy"
DB, COLL = NS.split(".")

CONFIG_TOML = f"""
direct-read-namespaces = ["{NS}"]
change-stream-namespaces = ["{NS}"]
topic-name-prefix = ""

[[consumer]]
topics = ["{NS}"]
namespace = "{TARGET_NS}"
document-root-path = "data"
delete-id-path = "meta._id"
bulk-flush-duration = "0s"
"""

WORDS = (
    "alpha bravo cedar delta ember fjord gale harbor iris jade kelp lumen "
    "maple nova onyx pine quartz river slate tundra umber vale willow"
).split()

ARROW_SCHEMA = pa.schema(
    [
        ("_id", pa.string()),
        ("k", pa.int64()),
        ("name", pa.string()),
        ("score", pa.float64()),
        ("qty", pa.int32()),
        ("active", pa.bool_()),
        ("note", pa.string()),
    ]
)
FIELDS = ARROW_SCHEMA.names


def doc_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("_id", T.StringType()),
            T.StructField("k", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("score", T.DoubleType()),
            T.StructField("qty", T.IntegerType()),
            T.StructField("active", T.BooleanType()),
            T.StructField("note", T.StringType()),
        ]
    )


class DocModel:
    """Seeded document and change-event generator. `docs` is the
    expected state of the target after every event written so far."""

    def __init__(self, seed: int) -> None:
        self.rng = random.Random(seed)
        self.docs: dict[str, tuple] = {}
        self._keys: list[str] = []
        self._pos: dict[str, int] = {}
        self._next = 0
        self.counts = {"insert": 0, "update": 0, "delete": 0}

    def _add_key(self, key: str) -> None:
        self._pos[key] = len(self._keys)
        self._keys.append(key)

    def _drop_key(self, key: str) -> None:
        i = self._pos.pop(key)
        last = self._keys.pop()
        if last != key:
            self._keys[i] = last
            self._pos[last] = i

    def _body(self, key: str) -> tuple:
        r = self.rng
        return (
            key,
            r.randrange(1, 10**12),
            f"{r.choice(WORDS)} {r.choice(WORDS)}",
            r.randrange(0, 10**7) / 100,
            r.randrange(0, 10_000),
            r.random() < 0.5,
            " ".join(r.choice(WORDS) for _ in range(r.randrange(4, 12))),
        )

    def new_docs(self, n: int) -> list[tuple]:
        out = []
        for _ in range(n):
            key = f"d{self._next:09d}"
            self._next += 1
            body = self._body(key)
            self.docs[key] = body
            self._add_key(key)
            out.append(body)
        return out

    def events(self, n: int, t: int) -> list[dict]:
        """n change events, 40% insert / 50% update / 10% delete, each
        key at most once; clusterTime {t, i}."""
        n_ins = round(n * 0.4)
        n_del = round(n * 0.1)
        n_upd = n - n_ins - n_del
        picked = [self._keys[i] for i in self.rng.sample(range(len(self._keys)), n_upd + n_del)]
        ops = (
            [("update", k) for k in picked[:n_upd]]
            + [("delete", k) for k in picked[n_upd:]]
            + [("insert", None)] * n_ins
        )
        self.rng.shuffle(ops)
        out = []
        for i, (op, key) in enumerate(ops):
            ud = None
            if op == "insert":
                key = f"d{self._next:09d}"
                self._next += 1
                doc = self._body(key)
                self.docs[key] = doc
                self._add_key(key)
            elif op == "update":
                old = self.docs[key]
                new = self._body(key)
                doc = (key, old[1], old[2], new[3], new[4], old[5], new[6])
                self.docs[key] = doc
                ud = {
                    "updatedFields": {"score": str(doc[3]), "qty": str(doc[4]), "note": doc[6]},
                    "removedFields": [],
                }
            else:
                del self.docs[key]
                self._drop_key(key)
                doc = None
            self.counts[op] += 1
            out.append(
                {
                    "operationType": op,
                    "clusterTime": {"t": t, "i": i},
                    "ns": {"db": DB, "coll": COLL},
                    "documentKey": {"_id": key},
                    "fullDocument": dict(zip(FIELDS, doc)) if doc else None,
                    "updateDescription": ud,
                }
            )
        return out


def write_docs(path: str, docs: list[tuple]) -> None:
    cols = list(zip(*docs))
    table = pa.table([pa.array(c, type=f.type) for c, f in zip(cols, ARROW_SCHEMA)], schema=ARROW_SCHEMA)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def write_events(path: str, events: list[dict]) -> None:
    with open(path, "w") as f:
        for e in events:
            f.write(json.dumps(e, separators=(",", ":")))
            f.write("\n")


class Stats(dict):
    """The consumer's stats dict (`consumer_job(stats=...)`) with a
    condition variable, so a waiter wakes the moment a batch's counters
    land instead of polling."""

    def __init__(self) -> None:
        super().__init__()
        self.cond = threading.Condition()

    def __setitem__(self, key, value) -> None:
        with self.cond:
            super().__setitem__(key, value)
            self.cond.notify_all()

    def wait_total(self, n: int, timeout: float) -> bool:
        """Wait until success + failed covers n messages."""
        with self.cond:
            return self.cond.wait_for(
                lambda: "failed" in self and self["success"] + self["failed"] >= n,
                timeout=timeout,
            )


class TracedTable:
    """Wraps the KeyedParquetTable handed to the consumer: times each
    merge and records bytes and rows written, read from the files on
    disk and their parquet footers (no Spark jobs)."""

    def __init__(self, table, tracer) -> None:
        self.table = table
        self.tracer = tracer
        self.merges: list[dict] = []

    def merge(self, changes, seq="seq"):
        t0 = time.perf_counter()
        with self.tracer.span("sinks.merge"):
            self.table.merge(changes, seq=seq)
        ms = (time.perf_counter() - t0) * 1000.0
        if self.tracer.on:
            nbytes = rows = 0
            cur = os.path.join(self.table.path, "current")
            for root, _, files in os.walk(cur):
                for f in files:
                    if f.endswith(".parquet"):
                        p = os.path.join(root, f)
                        nbytes += os.path.getsize(p)
                        rows += pq.read_metadata(p).num_rows
            self.merges.append({"ms": ms, "bytes": nbytes, "rows": rows})


def record_stream(spark, cfg, spec, topic_dir: str):
    """The consumer's input: the program's `topic_source` over the
    producer's parquet topic directory, with the record schema read
    from the topic as `route81_spark.main.run_consumers` reads it. The
    `seq` column is copied from `run_consumers`, which derives it inline
    from the envelope's oplog timestamp and exposes no function for it."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from route81_spark.jobs.consumer import topic_source

    stream = topic_source(spark, cfg, spec, topic_dir, spark.read.parquet(topic_dir).schema)
    ts_type = T.StructType([T.StructField("t", T.LongType()), T.StructField("i", T.LongType())])
    seq_schema = T.StructType(
        [
            T.StructField(
                "meta",
                T.StructType(
                    [T.StructField("ts", T.StructType([T.StructField("$timestamp", ts_type)]))]
                ),
            )
        ]
    )
    ts = F.from_json(F.col("value").cast("string"), seq_schema)["meta"]["ts"]["$timestamp"]
    return stream.withColumn("seq", ts.getField("t") * F.lit(10_000_000_000) + ts.getField("i"))


def event_stream(spark, cfg, events_root: str):
    """The producer's input as `route81_spark.main.run_change_streams`
    wires it: `change_stream_source` over <events_root>/<namespace>/,
    then the namespace filter."""
    from pyspark.sql import functions as F

    from route81_spark.jobs.producer import change_stream_source, namespace_filter

    stream = change_stream_source(
        spark, cfg, NS, events_dir=events_root, doc_schema=doc_schema()
    ).withColumn("ns_full", F.concat_ws(".", "ns.db", "ns.coll"))
    return namespace_filter(stream, cfg).drop("ns_full")


def _config():
    from route81_spark.config import load_config

    cfg = load_config(CONFIG_TOML)
    return cfg, cfg.consumers[0]


def check_target(table, model: DocModel) -> list[str]:
    """Key set and full content of the target equal the model."""
    rows = table.read().toPandas()
    got = {
        r[0]: tuple(r)
        for r in rows[FIELDS].itertuples(index=False, name=None)
    }
    errors = []
    if set(got) != set(model.docs):
        errors.append(
            f"key set differs: {len(set(got) - set(model.docs))} extra, "
            f"{len(set(model.docs) - set(got))} missing"
        )
    bad = sum(
        1
        for k, v in model.docs.items()
        if k in got
        and tuple(x.item() if hasattr(x, "item") else x for x in got[k]) != v
    )
    if bad:
        errors.append(f"{bad} documents differ from the model")
    return errors


TAIL_DOCS = 10_000
TAIL_STEP_EVENTS = 500
WARM_STEPS = 7
STEP_TIMEOUT_S = 30.0
# clusterTime.t of step n is OPLOG_T0 + n. Real oplog times are Unix
# seconds (about 1.7e9), but run_consumers' seq (t * 1e10 + i)
# overflows a long for any t above about 9.2e8 and the consumer then
# fails its first batch. 0 keeps t small so the workload can run; with
# 1_700_000_000 every step fails. Make it real once seq is fixed.
OPLOG_T0 = 0


class Tail:
    """A running producer + consumer pair over a seeded target."""

    def __init__(self, sess, tracer, cfg, spec, root: str, seed: int, n_docs: int) -> None:
        from route81_spark.jobs.consumer import consumer_sink
        from route81_spark.jobs.producer import streaming_producer_job

        spark = sess.spark
        self.spark, self.cfg, self.spec = spark, cfg, spec
        self.root = fresh_dir(root)
        self.model = DocModel(seed)
        self.seed_path = os.path.join(root, "seed", "part-0.parquet")
        write_docs(self.seed_path, self.model.new_docs(n_docs))
        self.base = consumer_sink(spark, cfg, spec, os.path.join(root, "tables"))
        self.base.init(spark.read.parquet(self.seed_path))
        self.table = TracedTable(self.base, tracer)
        self.events_root = os.path.join(root, "events")
        self.events_dir = fresh_dir(os.path.join(self.events_root, NS))
        self.staging = fresh_dir(os.path.join(root, "staging"))
        self.topic = os.path.join(root, "topic")
        self.stats = Stats()
        self.pq = streaming_producer_job(
            spark, cfg, event_stream(spark, cfg, self.events_root), NS,
            sink_dir=self.topic, checkpoint_dir=os.path.join(root, "ckpt_p"),
            trigger_seconds=0,
        )
        # the consumer's file source needs the producer's sink log, which
        # exists after the producer's first batch (see step)
        self.cq = None
        self.expected = 0
        self.steps = 0

    def step(self, n_events: int) -> tuple[float, float, bool]:
        """Drop one change file and wait until the consumer's counters
        cover it. Returns (drop time, latency s, ok)."""
        from route81_spark.jobs.consumer import consumer_job

        self.steps += 1
        evs = self.model.events(n_events, t=OPLOG_T0 + self.steps)
        name = f"step-{self.steps:05d}.json"
        write_events(os.path.join(self.staging, name), evs)
        self.expected += n_events
        t_drop = time.time()
        t0 = time.perf_counter()
        os.rename(os.path.join(self.staging, name), os.path.join(self.events_dir, name))
        if self.cq is None:
            self.pq.processAllAvailable()
            self.cq = consumer_job(
                self.spark, self.spec, record_stream(self.spark, self.cfg, self.spec, self.topic),
                self.table, doc_schema(), os.path.join(self.root, "ckpt_c"), stats=self.stats,
            )
        deadline = t0 + STEP_TIMEOUT_S
        ok = False
        while not ok and time.perf_counter() < deadline:
            ok = self.stats.wait_total(self.expected, 0.5)
            if not ok and self.dead():
                break
        return t_drop, time.perf_counter() - t0, ok

    def dead(self) -> list[str]:
        """The exceptions of streams that have stopped."""
        return [
            f"{name} stream stopped: {q.exception() or 'no exception'}"
            for name, q in (("producer", self.pq), ("consumer", self.cq))
            if q is not None and not q.isActive
        ]

    def stop(self) -> None:
        for q in (self.pq, self.cq):
            if q is not None:
                q.stop()


def run_tail(sess, tracer, seed: int, seconds: float, work: str) -> dict:
    from route81_spark.stats import StatsListener

    spark = sess.spark
    cfg, spec = _config()
    if tracer.on:
        progress = progress_listener()
        spark.streams.addListener(progress)

    # set-up: generate and seed the target, start both streams, and
    # warm them with a few steps
    s0 = time.perf_counter()
    tail = Tail(sess, tracer, cfg, spec, os.path.join(work, "tail"), seed, TAIL_DOCS)
    for _ in range(WARM_STEPS):
        if not tail.step(TAIL_STEP_EVENTS)[2]:
            break
    setup_s = time.perf_counter() - s0

    listener = StatsListener(log=False)
    spark.streams.addListener(listener)
    base_counts = dict(tail.model.counts)
    group = str(tail.cq.runId)
    jobs_before = set(sess.jobs_in_group(group))
    merges_before = len(tail.table.merges)
    lat, drops, oks, jobs_per_step = [], [], [], []
    deadline = time.perf_counter() + seconds
    while not lat or time.perf_counter() < deadline:
        t_drop, dt, ok = tail.step(TAIL_STEP_EVENTS)
        drops.append(t_drop)
        lat.append(dt * 1000.0)
        oks.append(ok)
        if tracer.on:
            now = set(sess.jobs_in_group(group))
            jobs_per_step.append(len(now - jobs_before))
            jobs_before = now
        if not ok:
            break
    if tracer.on:
        # let the listener bus deliver the last progress events
        time.sleep(0.5)
    errors = tail.dead()
    tail.stop()
    spark.streams.removeListener(listener)

    # correctness, outside the timed region
    counts = listener.snapshot()
    want = {
        "inserted": tail.model.counts["insert"] - base_counts["insert"],
        "updated": tail.model.counts["update"] - base_counts["update"],
        "removed": tail.model.counts["delete"] - base_counts["delete"],
    }
    if {k: counts[k] for k in want} != want:
        errors.append(f"producer StatsListener counts {counts} != generated {want}")
    if tail.stats.get("failed") != 0 or tail.stats.get("success") != tail.expected:
        errors.append(f"consumer stats {dict(tail.stats)} for {tail.expected} events")
    if all(oks):
        errors += check_target(tail.base, tail.model)
    failed = sum(1 for ok in oks if not ok) or (1 if errors else 0)
    out = {
        "attempted": len(lat),
        "failed": failed,
        "errors": errors,
        "setup_s": setup_s,
        # a failed step counts as the full timeout, which misses every
        # limit and stays a finite number in the JSON result
        "op_ms": [x if ok else STEP_TIMEOUT_S * 1000.0 for x, ok in zip(lat, oks)],
        "info": {
            "target_docs": TAIL_DOCS,
            "events_per_step": TAIL_STEP_EVENTS,
            "warm_steps": WARM_STEPS,
            "oplog_t0": OPLOG_T0,
            "step_ms": lat,
        },
    }
    if tracer.on:
        t_first = drops[0] - 0.05
        prod = [r for r in progress.records(tail.pq.id) if r["start"] >= t_first]
        cons = [r for r in progress.records(tail.cq.id) if r["start"] >= t_first]
        merges = tail.table.merges[merges_before:]
        layers = {}
        layers.update(stream_layer_metrics("jobs.producer", prod))
        layers.update(stream_layer_metrics("jobs.consumer", cons))
        layers["jobs.wait_ms_p50"] = median(
            [(p["start"] - d) * 1000.0 for p, d in zip(prod, drops)]
        )
        # the producer's sink log is committed before its offset commit
        # (commitOffsets), which closes the trigger
        layers["jobs.handoff_ms_p50"] = median(
            [
                (c["start"] - p["start"]) * 1000.0
                - p["ms"].get("triggerExecution", 0)
                + p["ms"].get("commitOffsets", 0)
                for p, c in zip(prod, cons)
            ]
        )
        layers["sinks.merge.merge_ms_p50"] = median([m["ms"] for m in merges])
        layers["sinks.merge.bytes_written_per_batch"] = median([m["bytes"] for m in merges])
        layers["sinks.merge.rows_written_per_changed"] = median(
            [m["rows"] / TAIL_STEP_EVENTS for m in merges]
        )
        layers["jobs.consumer.decode_classify_ms_p50"] = median(
            [c["ms"].get("addBatch", 0) - m["ms"] for c, m in zip(cons, merges)]
        )
        layers["jobs.consumer.spark_jobs_per_batch"] = median(jobs_per_step)
        layers.update(isolated_layers(spark, tracer, cfg, spec, tail.seed_path, work))
        out["info"]["batches"] = {"producer": len(prod), "consumer": len(cons), "steps": len(drops)}
        out["info"]["spark_jobs_per_step"] = jobs_per_step
        out["layers"] = layers
    shutil.rmtree(tail.root, ignore_errors=True)
    return out


def isolated_layers(spark, tracer, cfg, spec, coll_path: str, work: str, reps: int = 3) -> dict:
    """The producer-side layers of an initial sync, each called on its
    own over the seed collection and executed to the noop sink (or the
    topic directory). Each later call re-runs the layers under it, so a
    layer's self time is its call minus the previous call."""
    from route81_spark.envelope import build_envelope
    from route81_spark.jobs.consumer import decode_records
    from route81_spark.main import write_records
    from route81_spark.sources.direct_read import direct_read

    def read():
        return direct_read(spark, coll_path, min_partitions=cfg.direct_read_split_max)

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    topic_root = os.path.join(work, "isolated_topic")
    calls = {
        "sources.direct_read": lambda: noop(read()),
        "envelope.encode": lambda: noop(build_envelope(read(), NS)),
        "main.topic_write": lambda: write_records(build_envelope(read(), NS), topic_root, None),
        "model.decode": lambda: noop(
            decode_records(spark.read.parquet(os.path.join(topic_root, f"topic={NS}")), spec, doc_schema())
        ),
    }
    times: dict[str, list[float]] = {k: [] for k in calls}
    for _ in range(reps):
        shutil.rmtree(topic_root, ignore_errors=True)
        for name, call in calls.items():
            t0 = time.perf_counter()
            with tracer.span(name):
                call()
            times[name].append((time.perf_counter() - t0) * 1000.0)
    read_ms = median(times["sources.direct_read"])
    enc_ms = median(times["envelope.encode"])
    return {
        "sources.direct_read_ms": read_ms,
        "envelope.encode_ms": enc_ms - read_ms,
        "main.topic_write_ms": median(times["main.topic_write"]) - enc_ms,
        "model.decode_ms": median(times["model.decode"]),
    }
