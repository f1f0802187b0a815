"""Golden envelope + codec tests (SURVEY §5-1, §5-4; FIXTURES.md F3).

The README publishes exact expected Kafka payloads
(/root/reference/README.md:113-182); these tests assert the same
structural contract: insert/update carry data, updates carry
{removed, changed}, deletes carry no data key, direct reads carry no
op, numeric types keep their ext-JSON width tags."""

from __future__ import annotations

import json
import math

from pyspark.sql import Row, functions as F

from route81_spark.codecs.extjson import ext_json_string
from route81_spark.codecs.plainjson import plain_json_string
from route81_spark.config import Config, ProducerMapSpec
from route81_spark.envelope import (
    build_envelope,
    route_topic,
    with_synthetic_id,
)


def _ops(spark):
    schema = (
        "_id string, op string, ts struct<t:long,i:long>, "
        "ud struct<updatedFields:map<string,string>,removedFields:array<string>>, "
        "name string, qty int, big long, price double"
    )
    return spark.createDataFrame(
        [
            Row(_id="1", op="i", ts=Row(t=100, i=1), ud=None,
                name="n1", qty=5, big=2**40, price=1.5),
            Row(_id="2", op="u", ts=Row(t=100, i=2),
                ud=Row(updatedFields={"qty": "6"}, removedFields=["name"]),
                name="n2", qty=6, big=1, price=2.5),
            Row(_id="3", op="d", ts=Row(t=100, i=3), ud=None,
                name=None, qty=None, big=None, price=None),
        ],
        schema=schema,
    )


def _values(spark, **kw):
    env = build_envelope(
        _ops(spark), "db.c",
        id_col="_id", op_col="op", ts_col="ts", updates_col="ud",
        data_cols=["_id", "name", "qty", "big", "price"], **kw,
    )
    return {
        json.loads(r["value"].decode())["meta"]["_id"]: (
            json.loads(r["value"].decode()), r
        )
        for r in env.collect()
    }


def test_insert_envelope_golden_shape(spark):
    v, raw = _values(spark)["1"]
    assert v["meta"]["ns"] == "db.c" and v["meta"]["op"] == "i"
    assert v["meta"]["ts"] == {"$timestamp": {"t": 100, "i": 1}}
    assert "updates" not in v["meta"]
    # ext-JSON width tags per README.md:125/172
    assert v["data"]["qty"] == {"$numberInt": "5"}
    assert v["data"]["big"] == {"$numberLong": str(2**40)}
    assert v["data"]["price"] == {"$numberDouble": "1.5"}
    assert v["data"]["name"] == "n1"
    assert raw["key"] == b'"1"'
    hdrs = {h["key"]: bytes(h["value"]) for h in raw["headers"]}
    assert hdrs["ns"] == b"db.c" and hdrs["_id"] == b'"1"'
    assert json.loads(hdrs["ts"]) == {"T": 100, "I": 1}


def test_update_envelope_carries_updates(spark):
    v, _ = _values(spark)["2"]
    assert v["meta"]["op"] == "u"
    assert v["meta"]["updates"] == {"removed": ["name"], "changed": {"qty": "6"}}


def test_delete_envelope_has_no_data(spark):
    v, _ = _values(spark)["3"]
    assert v["meta"]["op"] == "d"
    assert "data" not in v  # golden README.md:149-153
    assert "updates" not in v["meta"]


def test_direct_read_envelope_has_no_op(spark):
    df = _ops(spark).filter("op = 'i'")
    env = build_envelope(
        df, "db.c", id_col="_id", data_cols=["_id", "name"],
    )
    v = json.loads(env.collect()[0]["value"].decode())
    assert "op" not in v["meta"]  # route81.go:1376-1381
    assert v["meta"]["ts"] == {"$timestamp": {"t": 0, "i": 0}}


def test_producer_map_first_match_wins(spark):
    cfg = Config(
        topic_name_prefix="pfx",
        producer_maps=[
            ProducerMapSpec("db.c", "exact-topic"),
            ProducerMapSpec("db", "db-topic"),
            ProducerMapSpec("", "catch-all"),
        ],
    )
    df = spark.createDataFrame(
        [("db.c",), ("db.other",), ("x.y",)], "ns string"
    ).select(route_topic(F.col("ns"), cfg).alias("topic"), "ns")
    got = {r["ns"]: r["topic"] for r in df.collect()}
    # prefix applies before the map rewrite (route81.go:1330-1351)
    assert got == {
        "db.c": "pfx.exact-topic",
        "db.other": "pfx.db-topic",
        "x.y": "pfx.catch-all",
    }
    # no maps: prefix + "." + ns (README.md:236-259)
    df2 = spark.createDataFrame([("db.c",)], "ns string").select(
        route_topic(F.col("ns"), Config(topic_name_prefix="pfx")).alias("t")
    )
    assert df2.collect()[0]["t"] == "pfx.db.c"


def test_plain_json_nonfinite_and_dates(spark):
    df = spark.createDataFrame(
        [
            Row(f=float("nan"), g=float("inf"), h=float("-inf"), ok=1.25,
                d="2019-06-17 02:27:50.080"),
        ],
        "f double, g double, h double, ok double, d string",
    ).select(
        F.struct("f", "g", "h", "ok", F.col("d").cast("timestamp").alias("d")).alias("v")
    )
    out = df.select(
        plain_json_string(F.col("v"), df.schema["v"].dataType).alias("j")
    ).collect()[0]["j"]
    v = json.loads(out)
    # encoding.go:83-94 markers; encoding.go:65-81 millisecond ISO format
    assert v["f"] == "nan" and v["g"] == "+inf" and v["h"] == "-inf"
    assert v["ok"] == 1.25
    assert v["d"] == "2019-06-17T02:27:50.080Z"


def test_plain_json_year_clamp(spark):
    df = spark.createDataFrame([Row(d="99999-01-01 00:00:00")], "d string").select(
        F.struct(F.col("d").cast("timestamp").alias("d")).alias("v")
    )
    out = df.select(
        plain_json_string(F.col("v"), df.schema["v"].dataType).alias("j")
    ).collect()[0]["j"]
    assert json.loads(out) == {}  # null date dropped (Go marshals null)


def test_ext_json_binary_and_timestamp(spark):
    df = spark.createDataFrame(
        [Row(b=b"\x01\x02", d="2019-06-17 02:27:50.08")],
        "b binary, d string",
    ).select(F.struct("b", F.col("d").cast("timestamp").alias("d")).alias("v"))
    out = df.select(
        ext_json_string(F.col("v"), df.schema["v"].dataType).alias("j")
    ).collect()[0]["j"]
    v = json.loads(out)
    assert v["b"] == {"$binary": {"base64": "AQI=", "subType": "00"}}
    assert v["d"] == {"$date": {"$numberLong": "1560738470080"}}


def test_synthetic_id(spark, sf_dir):
    df = with_synthetic_id(
        spark.read.parquet(f"{sf_dir}/lineitem.parquet"), "l_orderkey", "l_linenumber"
    )
    row = df.orderBy("l_orderkey", "l_linenumber").limit(1).collect()[0]
    assert row["_id"] == f"{row['l_orderkey']}-{row['l_linenumber']}"


def test_gridfs_golden_messages(spark):
    """Byte-exact reproduction of the README's GridFS goldens
    (/root/reference/README.md:155-182): the fs.files and fs.chunks
    insert messages, including $oid tagging of the non-_id `files_id`
    reference and $binary chunk data."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    files_schema = T.StructType(
        [
            T.StructField("_id", T.StringType()),
            T.StructField("chunkSize", T.IntegerType()),
            T.StructField("uploadDate", T.TimestampType()),
            T.StructField("length", T.IntegerType()),
            T.StructField("md5", T.StringType()),
            T.StructField("filename", T.StringType()),
            T.StructField("op", T.StringType()),
            T.StructField("ts", T.StructType([T.StructField("t", T.LongType()), T.StructField("i", T.LongType())])),
        ]
    )
    import datetime as dt

    files = spark.createDataFrame(
        [
            (
                "5d06f146636239111ef90bfa",
                261120,
                dt.datetime.fromtimestamp(1560736070.080, dt.timezone.utc).replace(tzinfo=None),
                12,
                "6f5902ac237024bdd0c176cb93063dc4",
                "test.txt",
                "i",
                (1560736070, 4),
            )
        ],
        files_schema,
    )
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    rec = build_envelope(
        files, "test.fs.files", Config(), id_col="_id",
        op_col="op", ts_col="ts",
        data_cols=["_id", "chunkSize", "uploadDate", "length", "md5", "filename"],
        oid_id=True,
    ).collect()[0]
    golden_files = (
        '{"meta":{"_id":{"$oid":"5d06f146636239111ef90bfa"},'
        '"ts":{"$timestamp":{"t":1560736070,"i":4}},"ns":"test.fs.files","op":"i"},'
        '"data":{"_id":{"$oid":"5d06f146636239111ef90bfa"},"chunkSize":{"$numberInt":"261120"},'
        '"uploadDate":{"$date":{"$numberLong":"1560736070080"}},"length":{"$numberInt":"12"},'
        '"md5":"6f5902ac237024bdd0c176cb93063dc4","filename":"test.txt"}}'
    )
    assert bytes(rec["value"]).decode() == golden_files
    assert rec["topic"] == "test.fs.files"

    chunks_schema = T.StructType(
        [
            T.StructField("_id", T.StringType()),
            T.StructField("files_id", T.StringType()),
            T.StructField("n", T.IntegerType()),
            T.StructField("data", T.BinaryType()),
            T.StructField("op", T.StringType()),
            T.StructField("ts", T.StructType([T.StructField("t", T.LongType()), T.StructField("i", T.LongType())])),
        ]
    )
    import base64

    chunks = spark.createDataFrame(
        [
            (
                "5d06f146636239111ef90bfb",
                "5d06f146636239111ef90bfa",
                0,
                base64.b64decode("aGVsbG8gd29ybGQK"),
                "i",
                (1560736070, 2),
            )
        ],
        chunks_schema,
    )
    rec = build_envelope(
        chunks, "test.fs.chunks", Config(), id_col="_id",
        op_col="op", ts_col="ts",
        data_cols=["_id", "files_id", "n", "data"],
        oid_id=True, oid_cols={"files_id"},
    ).collect()[0]
    golden_chunks = (
        '{"meta":{"_id":{"$oid":"5d06f146636239111ef90bfb"},'
        '"ts":{"$timestamp":{"t":1560736070,"i":2}},"ns":"test.fs.chunks","op":"i"},'
        '"data":{"_id":{"$oid":"5d06f146636239111ef90bfb"},'
        '"files_id":{"$oid":"5d06f146636239111ef90bfa"},"n":{"$numberInt":"0"},'
        '"data":{"$binary":{"base64":"aGVsbG8gd29ybGQK","subType":"00"}}}}'
    )
    assert bytes(rec["value"]).decode() == golden_chunks


def test_avro_records_roundtrip_with_nulls(spark):
    from route81_spark.codecs.avro import decode_avro_records, encode_avro_records

    spec = (
        '{"type":"record","name":"r","fields":['
        '{"name":"a","type":"int"},'
        '{"name":"b","type":["null","string"]},'
        '{"name":"c","type":["null","double"]}]}'
    )
    df = spark.createDataFrame(
        [(1, "x", 2.5), (2, None, None)], "a int, b string, c double"
    )
    for binary in (True, False):
        back = decode_avro_records(
            encode_avro_records(df, spec, binary=binary), spec, binary=binary
        )
        got = sorted((r["a"], r["b"], r["c"]) for r in back.collect())
        assert got == [(1, "x", 2.5), (2, None, None)]


def test_ext_json_timestamp_ntz_tags_date_tz_independent(spark):
    """TIMESTAMP_NTZ (what raw parquet reads surface) must tag as
    canonical {"$date": {"$numberLong": ms}} with the wall time read AS
    UTC — independent of the session timezone — and round-trip through
    decode. An untagged NTZ used to leak through as a bare ISO string."""
    from pyspark.sql import functions as F

    from route81_spark.codecs.extjson import decode_ext_json, ext_json_string
    from route81_spark.codecs.plainjson import plain_json_col

    df = spark.createDataFrame([("2000-04-04 12:34:56.789",)], "s string").select(
        F.col("s").cast("timestamp_ntz").alias("ts")
    )
    ntz = df.schema["ts"].dataType
    expected_ms = 954851696789  # 2000-04-04T12:34:56.789Z
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        for tz in ("UTC", "America/New_York"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            enc = df.select(ext_json_string(F.col("ts"), ntz).alias("j"))
            j = enc.first()["j"]
            assert j == '{"$date":{"$numberLong":"%d"}}' % expected_ms, (tz, j)
            back = enc.select(decode_ext_json(F.col("j"), ntz).alias("ts")).first()["ts"]
            assert str(back) == "2000-04-04 12:34:56.789000", (tz, back)
            plain = df.select(plain_json_col(F.col("ts"), ntz).alias("p")).first()["p"]
            assert plain == "2000-04-04T12:34:56.789Z", (tz, plain)
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_ext_json_ntz_pre_epoch_floors_millis(spark):
    """Pre-1970 sub-millisecond wall times must FLOOR to the earlier
    millisecond like Go's UnixMilli (truncation would tag 1969-12-31
    23:59:59.999999 as epoch 0 instead of -1)."""
    from pyspark.sql import functions as F

    from route81_spark.codecs.extjson import ext_json_string

    df = spark.createDataFrame(
        [("1969-12-31 23:59:59.999999",), ("1970-01-01 00:00:00.000001",)],
        "s string",
    ).select(F.col("s").cast("timestamp_ntz").alias("ts"))
    ntz = df.schema["ts"].dataType
    got = [r["j"] for r in df.select(ext_json_string(F.col("ts"), ntz).alias("j")).collect()]
    assert got == [
        '{"$date":{"$numberLong":"-1"}}',
        '{"$date":{"$numberLong":"0"}}',
    ]
