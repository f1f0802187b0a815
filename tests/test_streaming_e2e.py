"""End-to-end Structured Streaming loopback (SURVEY §5-2, M3+M4):
change-event JSON file stream -> producer job (pipeline + envelope +
kafka-shaped parquet sink + checkpoint + observe stats) -> consumer job
(decode ext-JSON -> classify -> foreachBatch keyed merge) -> final
table state matches the batch-derived expectation."""

from __future__ import annotations

import json
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from route81_spark.config import load_config
from route81_spark.jobs.consumer import consumer_job, oplog_seq
from route81_spark.jobs.producer import namespace_filter, streaming_producer_job
from route81_spark.model.schemas import change_event_schema
from route81_spark.sinks.merge import KeyedParquetTable
from route81_spark.stats import StatsListener, serve_stats

DOC_SCHEMA = T.StructType(
    [
        T.StructField("_id", T.StringType()),
        T.StructField("i", T.IntegerType()),
        T.StructField("tag", T.StringType()),
    ]
)

TOML = """
change-stream-namespaces = ["test.test"]
topic-name-prefix = ""

[[pipeline]]
namespace = "test.test"
stages = '[{"$match": {"operationType": {"$in": ["insert", "update", "delete"]}}}]'

[[consumer]]
topics = ["test.test"]
namespace = "test.test2"
document-root-path = "data"
delete-id-path = "meta._id"
bulk-flush-duration = "1s"
"""


def _event(op, _id, i=None, t=0):
    doc = {"_id": _id, "i": i, "tag": f"t{i}"} if i is not None else None
    return {
        "operationType": op,
        "clusterTime": {"t": t, "i": int(_id)},
        "ns": {"db": "test", "coll": "test"},
        "documentKey": {"_id": _id},
        "fullDocument": doc,
        "updateDescription": None,
    }


def _await(predicate, timeout=60, every=0.5):
    t0 = time.time()
    while time.time() - t0 < timeout:
        try:
            if predicate():
                return True
        except Exception:
            pass  # e.g. sink dir exists but holds no parquet yet
        time.sleep(every)
    return False


def test_streaming_loopback(spark, tmp_path):
    cfg = load_config(TOML)
    events_dir = tmp_path / "events_in"
    topic_dir = tmp_path / "topic"
    events_dir.mkdir()

    # phase files: 20 inserts, 10 updates, 5 deletes
    with open(events_dir / "p1.json", "w") as f:
        for i in range(20):
            f.write(json.dumps(_event("insert", str(i), i, t=1)) + "\n")
    with open(events_dir / "p2.json", "w") as f:
        for i in range(0, 20, 2):
            f.write(json.dumps(_event("update", str(i), i * 10, t=2)) + "\n")
        for i in range(0, 20, 4):
            f.write(json.dumps(_event("delete", str(i), None, t=3)) + "\n")

    listener = StatsListener()
    spark.streams.addListener(listener)
    stream = (
        spark.readStream.schema(change_event_schema(DOC_SCHEMA))
        .json(str(events_dir))
        .withColumn("ns_full", F.concat_ws(".", "ns.db", "ns.coll"))
    )
    stream = namespace_filter(stream, cfg).drop("ns_full")

    pq = streaming_producer_job(
        spark, cfg, stream, "test.test",
        sink_dir=str(topic_dir), checkpoint_dir=str(tmp_path / "ckpt_p"),
        trigger_seconds=0.5,
    )
    try:
        assert _await(
            lambda: topic_dir.exists()
            and spark.read.parquet(str(topic_dir)).count() >= 35
        ), "producer did not emit all records"
    finally:
        pq.stop()

    # producer restart with the same checkpoint: a new event file is
    # picked up, already-seen files are not re-emitted (resume ≡ P17)
    with open(events_dir / "p3.json", "w") as f:
        f.write(json.dumps(_event("insert", "99", 99, t=4)) + "\n")
    pq2 = streaming_producer_job(
        spark, cfg, stream, "test.test",
        sink_dir=str(topic_dir), checkpoint_dir=str(tmp_path / "ckpt_p"),
        trigger_seconds=0.5,
    )
    try:
        assert _await(
            lambda: spark.read.parquet(str(topic_dir)).count() == 36
        ), f"expected exactly 36 records after resume, got {spark.read.parquet(str(topic_dir)).count()}"
    finally:
        pq2.stop()

    records = spark.read.parquet(str(topic_dir))
    assert set(records.columns) == {"key", "value", "headers", "topic"}
    assert records.select("topic").distinct().collect()[0][0] == "test.test"
    sample = json.loads(
        records.filter(F.col("key").cast("string") == '"3"').collect()[0]["value"].decode()
    )
    assert sample["meta"]["op"] == "i" and sample["data"]["i"] == {"$numberInt": "3"}

    # consumer: stream the topic dir into the keyed table, ordered by
    # the envelope timestamp as seq
    table = KeyedParquetTable(spark, str(tmp_path / "t2"))
    table.init(spark.createDataFrame([], DOC_SCHEMA))
    spec = cfg.consumers[0]

    # seq from the envelope's oplog timestamp (the daemon's own helper)
    rec_stream = (
        spark.readStream.schema(records.schema).parquet(str(topic_dir))
        .withColumn("seq", oplog_seq(F.col("value")))
    )
    consumer_stats: dict = {}
    cq = consumer_job(
        spark, spec, rec_stream, table, DOC_SCHEMA, str(tmp_path / "ckpt_c"),
        stats=consumer_stats,
    )
    try:
        # expected: 20 inserts + the resumed "99", evens updated to
        # i*10, multiples of 4 deleted
        assert _await(lambda: table.exists() and table.read().count() == 16), (
            f"consumer state wrong: {table.read().count() if table.exists() else 'missing'}"
        )
    finally:
        cq.stop()

    got = {r["_id"]: r for r in table.read().collect()}
    assert set(got) == {str(i) for i in range(20) if i % 4 != 0} | {"99"}
    assert got["2"]["i"] == 20 and got["2"]["tag"] == "t20"   # updated (replace)
    assert got["3"]["i"] == 3 and got["3"]["tag"] == "t3"     # untouched insert

    # consumer-side counters (route81.go:497-505)
    assert consumer_stats["success"] == 36 and consumer_stats["failed"] == 0

    # stats listener accumulated producer observe() metrics
    snap = listener.snapshot()
    assert snap["inserted"] == 21 and snap["updated"] == 10 and snap["removed"] == 5

    # HTTP endpoints (route81.go:937-980)
    import urllib.request

    srv = serve_stats(listener)
    try:
        port = srv.server_port
        ok = urllib.request.urlopen(f"http://127.0.0.1:{port}/healthz").read()
        assert ok == b"ok"
        stats = json.loads(
            urllib.request.urlopen(f"http://127.0.0.1:{port}/stats").read()
        )
        assert stats["inserted"] == 21
    finally:
        srv.shutdown()
    spark.streams.removeListener(listener)


def test_command_envelope_contract(spark):
    """Commands: key = namespace (db for dropDatabase), op='c', no data,
    no _id header; dropDatabase routes by db name (route81.go:1330-1398)."""
    from route81_spark.config import Config
    from route81_spark.jobs.producer import envelope_change_stream

    cfg = Config()  # no pipeline: a $match on operationType would
    # (faithfully) filter commands before the envelope, like the server
    evs = spark.createDataFrame(
        [
            json.dumps(_event("insert", "1", 1, t=1)),
            json.dumps({**_event("drop", "0", None, t=2), "fullDocument": None}),
            json.dumps({**_event("dropDatabase", "0", None, t=3), "fullDocument": None}),
        ],
        "string",
    ).select(F.from_json("value", change_event_schema(DOC_SCHEMA)).alias("e")).select("e.*")
    recs = envelope_change_stream(evs, "test.test", cfg).collect()
    by_key = {bytes(r["key"]).decode(): r for r in recs}
    # command keys are JSON-encoded like doc keys (route81.go:1362-1371)
    assert set(by_key) == {'"1"', '"test.test"', '"test"'}
    cmd = by_key['"test.test"']
    v = json.loads(bytes(cmd["value"]).decode())
    assert v["meta"]["op"] == "c" and "data" not in v and "_id" not in v["meta"]
    hdr_keys = [h["key"] for h in cmd["headers"]]
    assert "_id" not in hdr_keys and "ns" in hdr_keys
    dropdb = by_key['"test"']
    assert dropdb["topic"] == "test"  # routed by db name


def test_command_envelope_golden_bytes(spark):
    """Command records byte for byte: key, value, headers (ts and ns
    only) and topic, with a topic prefix and a full-width uint32 `i`."""
    from route81_spark.config import Config
    from route81_spark.jobs.producer import envelope_change_stream

    evs = spark.createDataFrame(
        [
            json.dumps(
                {**_event("drop", "0"), "clusterTime": {"t": 1700000002, "i": 7}}
            ),
            json.dumps(
                {
                    **_event("dropDatabase", "0"),
                    "clusterTime": {"t": 1700000003, "i": 4294967295},
                }
            ),
        ],
        "string",
    ).select(F.from_json("value", change_event_schema(DOC_SCHEMA)).alias("e")).select("e.*")
    recs = envelope_change_stream(evs, "test.test", Config(topic_name_prefix="pfx"))
    assert recs.columns == ["key", "value", "headers", "topic"]
    got = sorted(
        (
            bytes(r["key"]),
            bytes(r["value"]),
            [(h["key"], bytes(h["value"])) for h in r["headers"]],
            r["topic"],
        )
        for r in recs.collect()
    )
    assert got == [
        (
            b'"test"',
            b'{"meta":{"ts":{"$timestamp":{"t":1700000003,"i":4294967295}},'
            b'"ns":"test.test","op":"c"}}',
            [("ts", b'{"T":1700000003,"I":4294967295}'), ("ns", b"test.test")],
            "pfx.test",
        ),
        (
            b'"test.test"',
            b'{"meta":{"ts":{"$timestamp":{"t":1700000002,"i":7}},'
            b'"ns":"test.test","op":"c"}}',
            [("ts", b'{"T":1700000002,"I":7}'), ("ns", b"test.test")],
            "pfx.test.test",
        ),
    ]


def test_document_envelope_golden_bytes(spark):
    """Document records byte for byte: key, value, headers (ts, ns and
    _id) and topic of an insert, an update and a delete, with a topic
    prefix and a full-width uint32 `i`."""
    from route81_spark.config import Config
    from route81_spark.jobs.producer import envelope_change_stream

    evs = spark.createDataFrame(
        [
            json.dumps(
                {**_event("insert", "1", 1), "clusterTime": {"t": 1700000001, "i": 1}}
            ),
            json.dumps(
                {
                    **_event("update", "2", 20),
                    "clusterTime": {"t": 1700000002, "i": 2},
                    "updateDescription": {
                        "updatedFields": {"i": 20},
                        "removedFields": ["tag"],
                    },
                }
            ),
            json.dumps(
                {
                    **_event("delete", "3"),
                    "clusterTime": {"t": 1700000003, "i": 4294967295},
                }
            ),
        ],
        "string",
    ).select(F.from_json("value", change_event_schema(DOC_SCHEMA)).alias("e")).select("e.*")
    recs = envelope_change_stream(evs, "test.test", Config(topic_name_prefix="pfx"))
    assert recs.columns == ["key", "value", "headers", "topic"]
    got = sorted(
        (
            bytes(r["key"]),
            bytes(r["value"]),
            [(h["key"], bytes(h["value"])) for h in r["headers"]],
            r["topic"],
        )
        for r in recs.collect()
    )
    assert got == [
        (
            b'"1"',
            b'{"meta":{"_id":"1","ts":{"$timestamp":{"t":1700000001,"i":1}},'
            b'"ns":"test.test","op":"i"},'
            b'"data":{"_id":"1","i":{"$numberInt":"1"},"tag":"t1"}}',
            [("ts", b'{"T":1700000001,"I":1}'), ("ns", b"test.test"), ("_id", b'"1"')],
            "pfx.test.test",
        ),
        (
            b'"2"',
            b'{"meta":{"_id":"2","ts":{"$timestamp":{"t":1700000002,"i":2}},'
            b'"ns":"test.test","op":"u",'
            b'"updates":{"removed":["tag"],"changed":{"i":"20"}}},'
            b'"data":{"_id":"2","i":{"$numberInt":"20"},"tag":"t20"}}',
            [("ts", b'{"T":1700000002,"I":2}'), ("ns", b"test.test"), ("_id", b'"2"')],
            "pfx.test.test",
        ),
        (
            b'"3"',
            b'{"meta":{"_id":"3","ts":{"$timestamp":{"t":1700000003,"i":4294967295}},'
            b'"ns":"test.test","op":"d"}}',
            [
                ("ts", b'{"T":1700000003,"I":4294967295}'),
                ("ns", b"test.test"),
                ("_id", b'"3"'),
            ],
            "pfx.test.test",
        ),
    ]


def test_namespace_filter_blocks_consumer_targets(spark):
    cfg = load_config(TOML)
    df = spark.createDataFrame(
        [("test.test",), ("test.test2",), ("route81.resume",)], "ns_full string"
    )
    out = namespace_filter(df, cfg)
    assert [r["ns_full"] for r in out.collect()] == ["test.test"]


def test_pprof_endpoints_config_gated():
    """/debug/pprof/* family (route81.go:967-973): served only when the
    pprof toggle is on (route81.go:141), 404 otherwise."""
    import urllib.error
    import urllib.request

    from route81_spark.config import load_config
    from route81_spark.stats import StatsListener, serve_stats

    assert load_config("pprof = true").pprof is True
    assert load_config("").pprof is False

    listener = StatsListener(log=False)
    srv = serve_stats(listener, pprof=True)
    try:
        base = f"http://127.0.0.1:{srv.server_port}/debug/pprof"
        assert b"profiles" in urllib.request.urlopen(f"{base}/").read()
        assert urllib.request.urlopen(f"{base}/cmdline").read()
        stacks = urllib.request.urlopen(f"{base}/goroutine").read().decode()
        assert "thread" in stacks
        prof = urllib.request.urlopen(f"{base}/profile?seconds=0.2").read().decode()
        assert prof.startswith("samples:")
        # malformed / out-of-range seconds -> 400, not a handler crash
        for bad in ("abc", "-1", "9999"):
            with pytest.raises(urllib.error.HTTPError) as ei:
                urllib.request.urlopen(f"{base}/profile?seconds={bad}")
            assert ei.value.code == 400
    finally:
        srv.shutdown()

    srv_off = serve_stats(listener, pprof=False)
    try:
        with pytest.raises(urllib.error.HTTPError):
            urllib.request.urlopen(
                f"http://127.0.0.1:{srv_off.server_port}/debug/pprof/"
            )
    finally:
        srv_off.shutdown()


def test_resume_toggle_checkpoint_paths():
    """resume=true -> stable checkpoint path keyed by resume-name
    (restart resumes, route81.go:199-224); resume=false (reference
    default) -> per-process path, restart starts fresh."""
    from route81_spark.config import load_config
    from route81_spark.main import ckpt_dir

    on = load_config('resume = true\nresume-name = "alpha"')
    assert ckpt_dir(on, "/c", "ns") == "/c/resume/alpha/ns"
    assert ckpt_dir(on, "/c", "ns") == ckpt_dir(on, "/c", "ns")  # stable
    off = load_config("")
    p = ckpt_dir(off, "/c", "ns")
    assert p != ckpt_dir(on, "/c", "ns") and "fresh_" in p


def test_main_cli_end_to_end(spark, tmp_path, sf_dir):
    """The daemon entry point end-to-end, in-process: batch direct-read
    producer (pipeline + producer-map + prefix) into parquet topic dirs,
    then a consumer daemon run that decodes ext-JSON, re-roots at
    `data`, and merges into the seeded keyed table — the README loopback
    scenario (README.md:339-345) through the real CLI surface."""
    from pyspark.sql import functions as F

    from route81_spark.main import main
    from route81_spark.sinks.merge import KeyedParquetTable

    prod_cfg = tmp_path / "producer.toml"
    prod_cfg.write_text(
        """
direct-read-namespaces = ["test.nation"]
exit-after-direct-reads = true
topic-name-prefix = "demo"

[[pipeline]]
namespace = "test.nation"
direct = true
stages = '[{"$match": {"n_regionkey": {"$lte": 1}}}]'
"""
    )
    rc = main(
        [
            "--config", str(prod_cfg),
            "--tables", f"test.nation={sf_dir}/nation.parquet",
            "--ids", "test.nation=n_nationkey",
            "--sink-dir", str(tmp_path / "topics"),
        ]
    )
    assert rc == 0
    produced = spark.read.parquet(str(tmp_path / "topics"))
    n_expected = (
        spark.read.parquet(f"{sf_dir}/nation.parquet")
        .filter(F.col("n_regionkey") <= 1)
        .count()
    )
    assert produced.count() == n_expected
    assert produced.select("topic").distinct().collect()[0][0] == "demo.test.nation"

    # seed the consumer target with the doc schema, then run the daemon
    src = spark.read.parquet(f"{sf_dir}/nation.parquet")
    doc = src.withColumn("_id", F.col("n_nationkey").cast("string")).limit(0)
    table = KeyedParquetTable(spark, str(tmp_path / "tables" / "test.nation2"))
    table.init(doc)

    cons_cfg = tmp_path / "consumer.toml"
    cons_cfg.write_text(
        """
[[consumer]]
namespace = "test.nation2"
topics = ["demo.test.nation"]
message-format = "json-ext"
document-root-path = "data"
bulk-flush-duration = "1s"
"""
    )
    rc = main(
        [
            "--config", str(cons_cfg),
            "--sink-dir", str(tmp_path / "topics"),
            "--tables-out", str(tmp_path / "tables"),
            "--duration", "20",
        ]
    )
    assert rc == 0
    merged = table.read()
    assert merged.count() == n_expected
    assert set(merged.columns) == {"n_nationkey", "n_name", "n_regionkey", "_id"}


# every CLI flag main() merges into the config:
# (Config field, TOML key, flag argv, value the flag sets, TOML value, default)
MERGED_FLAGS = [
    ("kafka_servers", "kafka", ["--kafka-bootstrap", "f:9092"], "f:9092", "t:9092", ""),
    # a flag equal to the default still wins over the TOML
    ("http_server_addr", "http-server-addr", ["--http-server-addr", ":8080"], ":8080", ":9002", ":8080"),
    ("disable_change_stream", "disable-change-stream", ["--disable-change-stream"], True, True, False),
    ("disable_stats", "disable-stats", ["--disable-stats"], True, True, False),
    ("disable_stats_log", "disable-stats-log", ["--disable-stats-log"], True, True, False),
    ("http_server", "http-server", ["--http-server"], True, True, False),
    ("pprof", "pprof", ["--pprof"], True, True, False),
]


@pytest.mark.parametrize("case", ["flag", "toml", "neither"])
@pytest.mark.parametrize(
    "field,key,argv,flag_value,toml_value,default", MERGED_FLAGS, ids=[m[0] for m in MERGED_FLAGS]
)
def test_view_config_shows_merged_flags(
    tmp_path, capsys, case, field, key, argv, flag_value, toml_value, default
):
    """route81's flag/TOML merge (route81.go:342-404): a given flag wins
    over its TOML key, the TOML key alone applies, neither keeps the
    default; --view-config prints the merged config."""
    from route81_spark.main import main

    cfg_path = tmp_path / "c.toml"
    if case == "flag":
        overridden = (not flag_value) if isinstance(flag_value, bool) else toml_value
        cfg_path.write_text(f"{key} = {json.dumps(overridden)}\n")
        extra, want = argv, flag_value
    elif case == "toml":
        cfg_path.write_text(f"{key} = {json.dumps(toml_value)}\n")
        extra, want = [], toml_value
    else:
        cfg_path.write_text("")
        extra, want = [], default
    assert main(["--config", str(cfg_path), "--view-config", *extra]) == 0
    assert json.loads(capsys.readouterr().out)[field] == want


class _FakeQuery:
    def awaitTermination(self):  # noqa: N802
        pass

    def stop(self):
        pass


def test_kafka_flag_switches_streaming_producer(spark, tmp_path, monkeypatch):
    """--kafka-bootstrap selects Kafka for the change-stream producer too:
    it gets the merged config and no parquet path, and runs without
    --sink-dir; with no checkpoint root either, main exits naming
    --checkpoint-dir."""
    from route81_spark.jobs import producer
    from route81_spark.main import main

    events = tmp_path / "events" / "test.test"
    events.mkdir(parents=True)
    (events / "e.json").write_text(json.dumps(_event("insert", "1", 1, t=1)) + "\n")
    cfg_path = tmp_path / "c.toml"
    cfg_path.write_text('change-stream-namespaces = ["test.test"]\n')
    started = []

    def fake_producer(spark, cfg, stream, ns, sink_dir, checkpoint_dir, trigger_seconds=1.0):
        started.append((cfg.kafka_servers, sink_dir, checkpoint_dir))
        return _FakeQuery()

    monkeypatch.setattr(producer, "streaming_producer_job", fake_producer)
    argv = [
        "--config", str(cfg_path),
        "--events-dir", str(tmp_path / "events"),
        "--kafka-bootstrap", "b:9092",
    ]
    assert main([*argv, "--checkpoint-dir", str(tmp_path / "ck")]) == 0
    assert [s[:2] for s in started] == [("b:9092", None)]
    assert started[0][2].startswith(str(tmp_path / "ck"))
    with pytest.raises(SystemExit, match="--checkpoint-dir"):
        main(argv)


def test_consumer_counts_reach_stats(spark, tmp_path, monkeypatch):
    """/stats adds in the consumers' success/failed counters
    (route81.go:497-505): main hands each consumer_job its own dict
    from the listener, so two consumers never write one key."""
    from route81_spark import stats as stats_mod
    from route81_spark.jobs import consumer
    from route81_spark.main import main

    topics = tmp_path / "topics"
    spark.createDataFrame([(b"k", b"{}")], "key binary, value binary").write.parquet(
        str(topics / "t")
    )
    for ns in ("db.a", "db.b"):
        KeyedParquetTable(spark, str(tmp_path / "tables" / ns)).init(
            spark.createDataFrame([], "_id string, x int")
        )
    cfg_path = tmp_path / "c.toml"
    cfg_path.write_text(
        '[[consumer]]\ntopics = ["t"]\nnamespace = "db.a"\n'
        '[[consumer]]\ntopics = ["t"]\nnamespace = "db.b"\n'
    )
    listeners, handed = [], []
    monkeypatch.setattr(
        stats_mod, "serve_stats", lambda listener, port=0, pprof=False: listeners.append(listener)
    )

    def fake_consumer(spark, spec, stream, table, doc_schema, checkpoint_dir, stats=None):
        handed.append(stats)
        # what one batch's on_batch writes
        stats["success"] = 3
        stats["failed"] = 1
        return _FakeQuery()

    monkeypatch.setattr(consumer, "consumer_job", fake_consumer)
    try:
        rc = main(
            [
                "--config", str(cfg_path),
                "--sink-dir", str(topics),
                "--tables-out", str(tmp_path / "tables"),
                "--http-server",
            ]
        )
    finally:
        for listener in listeners:
            spark.streams.removeListener(listener)
    assert rc == 0
    assert len(handed) == 2 and handed[0] is not handed[1]
    snap = listeners[0].snapshot()
    assert (snap["success"], snap["failed"]) == (6, 2)


def test_consumer_stats_concurrent_batches():
    """Consumers write their own dicts from their own batch threads (as
    consumer_job's on_batch does) while /stats snapshots: no count is
    lost and the summed counter never goes down."""
    import sys
    import threading

    listener = StatsListener(log=False)
    dicts = [listener.consumer_stats() for _ in range(8)]
    n = 2000

    def batches(d):
        for _ in range(n):
            d["success"] = d.get("success", 0) + 1
            d["failed"] = d.get("failed", 0)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=batches, args=(d,)) for d in dicts]
        for t in threads:
            t.start()
        seen = []
        while any(t.is_alive() for t in threads):
            seen.append(listener.snapshot()["success"])
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert seen == sorted(seen)
    assert listener.snapshot()["success"] == 8 * n


def test_envelope_change_stream_live_applies_suffix_only(spark, monkeypatch):
    """Live change stream: the $match-compatible prefix runs SERVER-side
    (shipped by mongo_stream_options) — envelope_change_stream must
    compile only the suffix; with the harness source it compiles all."""
    from route81_spark.config import load_config
    from route81_spark.jobs import producer

    toml = (
        '[[pipeline]]\nnamespace = "test.test"\ndirect = false\n'
        'stages = \'[{"$match": {"operationType": "insert"}}, '
        '{"$group": {"_id": "$x", "n": {"$sum": 1}}}]\'\n'
    )
    applied = []
    monkeypatch.setattr(
        producer, "apply_pipeline", lambda df, st: applied.append(st) or df
    )
    evs = (
        spark.createDataFrame([json.dumps(_event("insert", "1", 1, t=1))], "string")
        .select(F.from_json("value", change_event_schema(DOC_SCHEMA)).alias("e"))
        .select("e.*")
    )
    live = load_config('mongo = "mongodb://db:27017"\n' + toml)
    producer.envelope_change_stream(evs, "test.test", live)
    assert applied == [[{"$group": {"_id": "$x", "n": {"$sum": 1}}}]]

    applied.clear()
    producer.envelope_change_stream(evs, "test.test", load_config(toml))
    assert applied == [
        [
            {"$match": {"operationType": "insert"}},
            {"$group": {"_id": "$x", "n": {"$sum": 1}}},
        ]
    ]
