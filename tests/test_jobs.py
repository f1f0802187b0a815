"""Batch job tests: direct_read_job wiring (P2 + P4 + P5 + P7) and
consumer partial-failure accounting (P15)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import Row, functions as F

from route81_spark.config import load_config
from route81_spark.jobs.consumer import apply_consumer_batch
from route81_spark.jobs.producer import direct_read_job
from route81_spark.sinks.merge import KeyedParquetTable


def test_direct_read_job_end_to_end(spark, sf_dir):
    cfg = load_config(
        """
direct-read-namespaces = ["test.nation", "test.region"]
topic-name-prefix = "pfx"

[[producer-map]]
mongo-namespace = "test.region"
kafka-topic = "regions"

[[pipeline]]
namespace = "test.nation"
direct = true
stages = '[{"$match": {"n_regionkey": {"$lte": 2}}}]'
"""
    )
    records = direct_read_job(
        spark,
        cfg,
        table_paths={
            "test.nation": f"{sf_dir}/nation.parquet",
            "test.region": f"{sf_dir}/region.parquet",
        },
        id_cols={"test.nation": ["n_nationkey"], "test.region": ["r_regionkey"]},
    )
    rows = records.collect()
    topics = {r["topic"] for r in rows}
    # prefix applies before the producer-map rewrite (route81.go:1330-1351):
    # region -> map topic "regions" still gets the prefix; nation takes prefix+ns
    assert topics == {"pfx.test.nation", "pfx.regions"}
    nation_rows = [r for r in rows if r["topic"] == "pfx.test.nation"]
    assert all(
        json.loads(bytes(r["value"]).decode())["data"]["n_regionkey"]["$numberInt"] in "012"
        for r in nation_rows
    )
    # direct reads: no op in meta (route81.go:1376-1381)
    v = json.loads(bytes(nation_rows[0]["value"]).decode())
    assert "op" not in v["meta"]


def test_consumer_batch_partial_failure(spark, tmp_path):
    from pyspark.sql import types as T

    from route81_spark.config import ConsumerSpec
    from route81_spark.codecs.extjson import ext_json_string
    from route81_spark.envelope import build_envelope, with_synthetic_id

    doc_schema = T.StructType(
        [
            T.StructField("_id", T.StringType()),
            T.StructField("x", T.IntegerType()),
        ]
    )
    table = KeyedParquetTable(spark, str(tmp_path / "t"))
    table.init(spark.createDataFrame([], doc_schema))

    # two good upserts + one message whose root has no extractable _id
    good = spark.createDataFrame(
        [Row(_id="a", x=1), Row(_id="b", x=2)], doc_schema
    )
    env = build_envelope(good, "db.c", id_col="_id", data_cols=["_id", "x"])
    bad = spark.createDataFrame(
        [Row(value=b'{"meta":{"ts":{"$timestamp":{"t":0,"i":0}},"ns":"db.c"},"data":{"x":{"$numberInt":"9"}}}')],
        "value binary",
    )
    batch = env.select("value").unionByName(bad)

    spec = ConsumerSpec(
        kafka_topics=["t"], mongo_namespace="db.c", document_root_path="data"
    )
    stats = apply_consumer_batch(table, batch, spec, doc_schema)
    assert stats == {"success": 2, "failed": 1}  # route81.go:1100-1116
    got = sorted(r["_id"] for r in table.read().collect())
    assert got == ["a", "b"]


def test_kafka_sink_source_selection(spark, tmp_path):
    """With `kafka` configured, producer/consumer select format("kafka");
    without it, the parquet loopback. No broker here, so assert the
    chosen source/sink format from the plan/builder rather than running."""
    from route81_spark.config import load_config
    from route81_spark.jobs.consumer import topic_source
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("value", T.BinaryType())])
    cfg_kafka = load_config('kafka = "broker:9092"\n[[consumer]]\ntopics = ["t"]\nnamespace = "db.c"')
    cfg_loop = load_config('[[consumer]]\ntopics = ["t"]\nnamespace = "db.c"')

    try:
        src = topic_source(spark, cfg_kafka, cfg_kafka.consumers[0], str(tmp_path), schema)
        # the kafka source exposes the fixed kafka schema
        assert {f.name for f in src.schema.fields} >= {"key", "value", "topic", "partition", "offset"}
    except Exception as e:  # spark-sql-kafka jar not shipped in this container
        if "Failed to find data source: kafka" not in str(e):
            raise

    (tmp_path / "x").mkdir(exist_ok=True)
    src2 = topic_source(spark, cfg_loop, cfg_loop.consumers[0], str(tmp_path / "x"), schema)
    assert [f.name for f in src2.schema.fields] == ["value"]


def test_run_pipeline_cli(spark, tmp_path):
    """The batch pipeline-runner front door: pipeline JSON + named
    parquet tables -> result parquet, with $lookup resolving the other
    named tables."""
    import json

    from route81_spark.run_pipeline import main as rp_main

    sf = "/root/testdata/sf0.001"
    pipe = [
        {"$match": {"o_orderstatus": "F"}},
        {
            "$lookup": {
                "from": "customer",
                "localField": "o_custkey",
                "foreignField": "c_custkey",
                "as": "cust",
            }
        },
        {"$unwind": "$cust"},
        {
            "$group": {
                "_id": "$cust.c_mktsegment",
                "n": {"$sum": 1},
            }
        },
        {"$project": {"_id": 0, "segment": "$_id", "n": 1}},
    ]
    pfile = tmp_path / "p.json"
    pfile.write_text(json.dumps(pipe))
    out = tmp_path / "result"
    rc = rp_main(
        [
            "--pipeline", str(pfile),
            "--source", "orders",
            "--tables",
            f"orders={sf}/orders.parquet",
            f"customer={sf}/customer.parquet",
            "--out", str(out),
        ]
    )
    assert rc == 0
    got = spark.read.parquet(str(out))
    assert set(got.columns) == {"segment", "n"}
    assert got.count() == 5  # five market segments
    assert got.agg({"n": "sum"}).first()[0] > 0


def test_run_pipeline_cli_merge_writeback(spark, tmp_path):
    """--write-collections closes the loop from 'compiles the stage' to
    'a user can run route81-style write-back pipelines': $merge (and
    $out) persist their new collection state as <name>.parquet through
    the writer hook, while the pipeline result still flows to --out."""
    import json

    from route81_spark.run_pipeline import main as rp_main

    src = tmp_path / "src.parquet"
    tgt = tmp_path / "tgt.parquet"
    spark.createDataFrame(
        [(1, "new-a"), (2, "new-b"), (4, "new-d")], "_id long, v string"
    ).write.parquet(str(src))
    spark.createDataFrame(
        [(1, "old-a"), (3, "old-c")], "_id long, v string"
    ).write.parquet(str(tgt))

    pipe = [{"$merge": {"into": "tgt", "on": "_id", "whenMatched": "replace"}}]
    pfile = tmp_path / "p.json"
    pfile.write_text(json.dumps(pipe))
    coll_dir = tmp_path / "collections"
    out = tmp_path / "result"
    rc = rp_main(
        [
            "--pipeline", str(pfile),
            "--source", "src",
            "--tables", f"src={src}", f"tgt={tgt}",
            "--out", str(out),
            "--write-collections", str(coll_dir),
        ]
    )
    assert rc == 0
    merged = {
        r["_id"]: r["v"]
        for r in spark.read.parquet(str(coll_dir / "tgt.parquet")).collect()
    }
    # replace matched (1), keep unmatched target (3), insert new (2, 4)
    assert merged == {1: "new-a", 2: "new-b", 3: "old-c", 4: "new-d"}
    # the original target path is untouched (writes go to the new dir)
    assert {r["_id"] for r in spark.read.parquet(str(tgt)).collect()} == {1, 3}
    # and the pipeline result itself still lands at --out
    assert spark.read.parquet(str(out)).count() == 4


def test_run_pipeline_writeback_refuses_input_collision(spark, tmp_path):
    """r5-advice regression: --write-collections pointed AT the input
    dir makes $merge's mode('overwrite') target resolve to an input
    table path (even via a different path string, e.g. a symlink) —
    the writer must refuse instead of dropping data."""
    import json
    import os

    import pytest

    from route81_spark.run_pipeline import main as rp_main

    data = tmp_path / "data"
    data.mkdir()
    src = data / "src.parquet"
    tgt = data / "tgt.parquet"
    spark.createDataFrame([(1, "a")], "_id long, v string").write.parquet(str(src))
    spark.createDataFrame([(2, "b")], "_id long, v string").write.parquet(str(tgt))
    pfile = tmp_path / "p.json"
    pfile.write_text(
        json.dumps([{"$merge": {"into": "tgt", "on": "_id", "whenMatched": "replace"}}])
    )
    # register tgt under a DIFFERENT string for the same file: Spark's
    # own being-read check can miss it; the realpath guard must not
    link = tmp_path / "link"
    os.symlink(data, link)
    with pytest.raises(SystemExit, match="refusing"):
        rp_main(
            [
                "--pipeline", str(pfile),
                "--source", "src",
                "--tables", f"src={src}", f"tgt={link / 'tgt.parquet'}",
                "--out", str(tmp_path / "result"),
                "--write-collections", str(data),
            ]
        )
    # the input collection is intact
    assert [r["_id"] for r in spark.read.parquet(str(tgt)).collect()] == [2]


def test_run_pipeline_cli_extension_stages(spark, tmp_path):
    """Extension stages ($curate-family) work through the CLI runner."""
    import json

    from route81_spark.run_pipeline import main as rp_main

    docs = tmp_path / "docs.parquet"
    spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog", "web"),
            (2, "the quick brown fox jumps over the lazy dog", "web"),  # dup
            (3, "der hund und die katze ist das haus", "web"),          # de
            (4, "a completely different english document with many words here", "web"),
        ],
        "doc_id long, text string, source string",
    ).write.parquet(str(docs))
    pipe = [
        {"$dedupExact": {}},
        {"$textAnalyze": {}},
        {"$match": {"pred_lang": "en"}},
        {"$project": {"doc_id": 1, "n_tokens": 1}},
    ]
    pfile = tmp_path / "p.json"
    pfile.write_text(json.dumps(pipe))
    out = tmp_path / "res"
    rc = rp_main(
        [
            "--pipeline", str(pfile),
            "--source", "docs",
            "--tables", f"docs={docs}",
            "--out", str(out),
        ]
    )
    assert rc == 0
    got = sorted(r["doc_id"] for r in spark.read.parquet(str(out)).collect())
    assert got == [1, 4]  # dup 2 collapsed, German 3 filtered


def test_run_pipeline_cli_errors(tmp_path):
    """Clear failures for the CLI's user mistakes."""
    import json

    import pytest

    from route81_spark.run_pipeline import main as rp_main

    pfile = tmp_path / "p.json"
    pfile.write_text(json.dumps([{"$match": {}}]))
    # --source not among --tables
    with pytest.raises(SystemExit, match="not among"):
        rp_main(["--pipeline", str(pfile), "--source", "nope",
                 "--tables", "docs=/tmp/x.parquet"])
    # malformed --tables entry
    with pytest.raises(SystemExit, match="name=path"):
        rp_main(["--pipeline", str(pfile), "--source", "docs",
                 "--tables", "justapath"])
    # pipeline file must be a JSON array
    bad = tmp_path / "bad.json"
    bad.write_text('{"$match": {}}')
    with pytest.raises(SystemExit, match="JSON array"):
        rp_main(["--pipeline", str(bad), "--source", "docs",
                 "--tables", "docs=/tmp/x.parquet"])


def _ext_record(key: str, t: int, i: int, x: int | None) -> bytes:
    """One ext-JSON consumer message for key; x=None is an id-only
    delete. The oplog timestamp is (t, i)."""
    data = {"_id": key} if x is None else {"_id": key, "x": {"$numberInt": str(x)}}
    return json.dumps(
        {"meta": {"ts": {"$timestamp": {"t": t, "i": i}}, "ns": "db.c"}, "data": data}
    ).encode()


def _doc_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [T.StructField("_id", T.StringType()), T.StructField("x", T.IntegerType())]
    )


def test_consumer_batch_real_oplog_seq(spark, tmp_path):
    """Real oplog seconds (Unix time) fit the consumer seq, and per-key
    last-writer-wins follows (t, i): a later second beats a larger
    increment, and within a second the larger increment wins."""
    from route81_spark.config import ConsumerSpec
    from route81_spark.jobs.consumer import oplog_seq

    t = 1_700_000_000
    values = [
        _ext_record("a", t + 1, 0, 3),  # latest for a: later second
        _ext_record("a", t, 7, 2),
        _ext_record("a", t, 6, 1),
        _ext_record("b", t, 2, 20),     # latest for b: larger increment
        _ext_record("b", t, 1, 10),
        _ext_record("c", t, 5, 5),
        _ext_record("c", t, 9, None),   # c deleted last
    ]
    batch = spark.createDataFrame([(v,) for v in values], "value binary").withColumn(
        "seq", oplog_seq(F.col("value"))
    )
    doc_schema = _doc_schema()
    table = KeyedParquetTable(spark, str(tmp_path / "t"))
    table.init(spark.createDataFrame([], doc_schema))
    spec = ConsumerSpec(kafka_topics=["t"], mongo_namespace="db.c", document_root_path="data")
    assert apply_consumer_batch(table, batch, spec, doc_schema) == {"success": 7, "failed": 0}
    assert sorted(tuple(r) for r in table.read().collect()) == [("a", 3), ("b", 20)]


def test_consumer_stream_jobs_per_batch(spark, tmp_path):
    """A steady-state consumer micro-batch runs at most 6 Spark jobs:
    decode/classify is planned on the stream, the keyed table reads with
    its recorded schema (no inference job), and the anti-join keys do
    not wait on the per-key shuffle. Counted per batch via statusTracker
    over the stream's runId job group."""
    from route81_spark.config import ConsumerSpec
    from route81_spark.jobs.consumer import consumer_job

    doc_schema = _doc_schema()
    table = KeyedParquetTable(spark, str(tmp_path / "t"))
    table.init(spark.createDataFrame([(f"k{j}", j) for j in range(50)], doc_schema))
    topic = tmp_path / "topic"
    topic.mkdir()
    record_schema = "value binary, seq long"
    spec = ConsumerSpec(
        kafka_topics=["t"], mongo_namespace="db.c", document_root_path="data",
        bulk_flush_seconds=0,
    )
    stats: dict = {}
    stream = spark.readStream.schema(record_schema).parquet(str(topic))
    cq = consumer_job(spark, spec, stream, table, doc_schema, str(tmp_path / "ckpt"), stats=stats)
    tracker = spark.sparkContext.statusTracker()
    group = str(cq.runId)
    jobs = []
    try:
        for step in range(4):
            rows = [
                (_ext_record(f"k{step * 10 + j}", step + 1, j, 100 + step), step * 100 + j)
                for j in range(10)
            ]
            spark.createDataFrame(rows, record_schema).coalesce(1).write.mode("append").parquet(
                str(topic)
            )
            before = set(tracker.getJobIdsForGroup(group))
            cq.processAllAvailable()
            jobs.append(len(set(tracker.getJobIdsForGroup(group)) - before))
    finally:
        cq.stop()
    assert stats == {"success": 40, "failed": 0}
    got = dict(tuple(r) for r in table.read().collect())
    assert len(got) == 50 and got["k39"] == 103 and got["k40"] == 40
    # the first batch also plans the stream; later batches are steady state
    assert max(jobs[1:]) <= 6, jobs


def test_consumer_stream_jobs_per_delta_batch(spark, tmp_path):
    """A consumer micro-batch below the compaction rule runs 1 Spark job:
    the delta write, which also observes the success/failed counts; it
    never reads the target. A compacting batch stays within 6."""
    from route81_spark.config import ConsumerSpec
    from route81_spark.jobs.consumer import consumer_job
    from route81_spark.sinks.merge import MANIFEST

    doc_schema = _doc_schema()
    path = tmp_path / "t"
    table = KeyedParquetTable(spark, str(path))
    table.init(spark.createDataFrame([(f"k{j}", j) for j in range(50)], doc_schema))
    topic = tmp_path / "topic"
    topic.mkdir()
    record_schema = "value binary, seq long"
    spec = ConsumerSpec(
        kafka_topics=["t"], mongo_namespace="db.c", document_root_path="data",
        bulk_flush_seconds=0,
    )
    stream = spark.readStream.schema(record_schema).parquet(str(topic))
    cq = consumer_job(spark, spec, stream, table, doc_schema, str(tmp_path / "ckpt"))
    tracker = spark.sparkContext.statusTracker()
    group = str(cq.runId)
    delta, compacting = [], []
    try:
        for step in range(6):
            rows = [
                (_ext_record(f"k{step * 10 + j}", step + 1, j, 100 + step), step * 100 + j)
                for j in range(10)
            ]
            spark.createDataFrame(rows, record_schema).coalesce(1).write.mode("append").parquet(
                str(topic)
            )
            before = set(tracker.getJobIdsForGroup(group))
            cq.processAllAvailable()
            n = len(set(tracker.getJobIdsForGroup(group)) - before)
            if step:
                deltas = json.loads((path / MANIFEST).read_text())["deltas"]
                (delta if deltas else compacting).append(n)
    finally:
        cq.stop()
    assert delta and compacting, (delta, compacting)
    assert set(delta) == {1}, delta
    assert max(compacting) <= 6, compacting


def _perf_doc_schema():
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


@pytest.mark.parametrize("message_format", ["json-ext", "json"])
def test_decode_classify_parses_each_message_once(spark, tmp_path, message_format):
    """The executed decode -> classify plan holds one from_json per
    message. Extractions under CASE WHEN (tag stripping, the
    classifier's delete test) are not merged by subexpression
    elimination, so a parse inlined into them runs once per field."""
    from route81_spark.config import ConsumerSpec
    from route81_spark.jobs.consumer import decode_classify

    # a file scan, not a local relation: the optimizer folds a local
    # relation's projections away before the plan is executed
    path = str(tmp_path / "records")
    spark.createDataFrame(
        [Row(value=b'{"meta":{"_id":"a","ns":"db.c","op":"i"},"data":{"_id":"a"}}')],
        "value binary",
    ).write.parquet(path)
    spec = ConsumerSpec(
        kafka_topics=["t"],
        mongo_namespace="db.c",
        message_format=message_format,
        document_root_path="data",
        delete_id_path="meta._id",
    )
    out = decode_classify(spark.read.parquet(path), spec, _perf_doc_schema())
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("from_json(") == 1, plan
    assert out.count() == 1
