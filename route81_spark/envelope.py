"""The `{meta, data}` envelope wire format, both directions (SURVEY §2
P5-P7, P11): producer records, key/header extraction, topic routing,
and the consumer's envelope decoder.

The reference wraps every op in `{meta:{_id, ts, ns, op, updates}, data}`
(/root/reference/route81.go:56-67, 1400-1416), produces it as canonical
ext-JSON (route81.go:746), keys the record with the encoded `_id`
(route81.go:1363-1374), attaches `ts`/`ns`/`_id` headers
(route81.go:1383-1398), and routes the topic through the producer-map
(route81.go:1330-1351).

Spark-first: everything here is a pure Column construction over a
declared document schema — the encoders' output DataFrame has exactly
the `key/value/headers/topic` schema `writeStream.format("kafka")`
consumes, and decoding is JVM-side from_json work, no Python in the
stream.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from route81_spark.codecs.extjson import ext_json_col, ext_json_tagged_schema, strip_ext_json
from route81_spark.config import Config
from route81_spark.model.schemas import TS_TYPE


def route_topic(ns_col: Column, cfg: Config) -> Column:
    """Topic = [prefix "."] + (producer-map rewrite | namespace); the
    prefix applies to map-matched names too, and the first matching map
    entry wins (route81.go:1330-1351 writes TopicPrefix before the
    ProducerMaps rewrite). An empty mongo_namespace matches everything;
    otherwise an entry matches when it equals or is a prefix of the
    namespace (README.md:236-259)."""
    out = None
    for m in cfg.producer_maps:
        cond = (
            F.lit(True)
            if m.mongo_namespace == ""
            else ns_col.startswith(m.mongo_namespace)
        )
        out = F.when(cond, F.lit(m.kafka_topic)) if out is None else out.when(cond, F.lit(m.kafka_topic))
    name = ns_col if out is None else out.otherwise(ns_col)
    if cfg.topic_name_prefix:
        return F.concat(F.lit(cfg.topic_name_prefix + "."), name)
    return name


def _id_plain_json(id_col: Column, id_type: T.DataType) -> Column:
    """Plain-JSON rendering of _id for the Kafka key and `_id` header
    (route81.go:1363-1374, 1383-1398): strings quote, numbers render
    bare; float ids with integral values render as ints
    (route81.go:564-595)."""
    if isinstance(id_type, T.StringType):
        return F.to_json(F.struct(id_col.alias("v"))).substr(F.lit(6), F.length(F.to_json(F.struct(id_col.alias("v")))) - F.lit(6))
    if isinstance(id_type, (T.DoubleType, T.FloatType)):
        as_long = id_col.cast("long")
        return F.when(as_long.cast(id_type) == id_col, as_long.cast("string")).otherwise(
            id_col.cast("string")
        )
    return id_col.cast("string")


def _meta_schema(tagged: bool) -> T.StructType:
    """meta `{_id, ts, ns, op, updates}`. `tagged` is the ext-JSON wire
    form (json-ext), where ts is `{"$timestamp": {t, i}}` (README.md:125);
    untagged is the plain form (json)."""
    return T.StructType(
        [
            T.StructField("_id", T.StringType()),
            T.StructField(
                "ts", T.StructType([T.StructField("$timestamp", TS_TYPE)]) if tagged else TS_TYPE
            ),
            T.StructField("ns", T.StringType()),
            T.StructField("op", T.StringType()),
            T.StructField(
                "updates",
                T.StructType(
                    [
                        T.StructField("removed", T.ArrayType(T.StringType())),
                        T.StructField("changed", T.MapType(T.StringType(), T.StringType())),
                    ]
                ),
            ),
        ]
    )


def envelope_schema(doc_schema: T.StructType, tagged: bool = False) -> T.StructType:
    """`{meta, data}` over a declared document schema; `tagged` as in
    `_meta_schema`, with type-tagged data fields."""
    return T.StructType(
        [
            T.StructField("meta", _meta_schema(tagged)),
            T.StructField(
                "data", ext_json_tagged_schema(doc_schema) if tagged else doc_schema
            ),
        ]
    )


def _ts_parts(ts_col: str | None) -> tuple[Column, Column]:
    """meta.ts `{"$timestamp": {t, i}}` and the plain `ts` header text
    `{"T": t, "I": i}`; without a column, the zero oplog timestamp."""
    if ts_col is None:
        tag = F.struct(F.lit(0).alias("t"), F.lit(0).alias("i"))
        return F.struct(tag.alias("$timestamp")), F.lit('{"T":0,"I":0}')
    t, i = F.col(f"{ts_col}.t"), F.col(f"{ts_col}.i")
    tag = F.struct(t.alias("t"), i.alias("i"))
    return F.struct(tag.alias("$timestamp")), F.to_json(F.struct(t.alias("T"), i.alias("I")))


def _records(
    df: DataFrame,
    cfg: Config,
    key: Column,
    ns: Column,
    route_ns: Column,
    ts_col: str | None,
    meta_id: Column | None = None,
    op: Column | None = None,
    updates: Column | None = None,
    data: Column | None = None,
) -> DataFrame:
    """The one record builder: the envelope as the value, `key` as the
    key, `ts`/`ns` headers plus `_id` when meta has one, and the topic
    routed from `route_ns`. A part passed as None is left out of meta
    and of the JSON."""
    ts_tag, ts_header = _ts_parts(ts_col)
    meta = [
        c.alias(name)
        for name, c in (("_id", meta_id), ("ts", ts_tag), ("ns", ns), ("op", op), ("updates", updates))
        if c is not None
    ]
    body = [F.struct(*meta).alias("meta")] + ([] if data is None else [data.alias("data")])
    headers = [("ts", ts_header), ("ns", ns)] + ([] if meta_id is None else [("_id", key)])
    return df.select(
        key.cast("binary").alias("key"),
        F.to_json(F.struct(*body)).cast("binary").alias("value"),
        F.array(
            *[F.struct(F.lit(k).alias("key"), v.cast("binary").alias("value")) for k, v in headers]
        ).alias("headers"),
        route_topic(route_ns, cfg).alias("topic"),
    )


def build_envelope(
    df: DataFrame,
    namespace: str,
    cfg: Config | None = None,
    id_col: str = "_id",
    op_col: str | None = None,
    ts_col: str | None = None,
    updates_col: str | None = None,
    data_cols: list[str] | None = None,
    oid_id: bool = False,
    oid_cols: set[str] | None = None,
) -> DataFrame:
    """Build the Kafka-record DataFrame for one namespace.

    `op_col=None` models the direct-read path: op suppressed
    (route81.go:1376-1381), so `meta.op` is absent from the JSON.
    `ts_col=None` stamps a zero oplog timestamp (direct reads carry no
    resume position of their own).
    Output schema: key binary, value binary, headers
    array<struct<key:string,value:binary>>, topic string.
    """
    data_cols = data_cols or [
        c for c in df.columns if c not in {op_col, ts_col, updates_col} - {None}
    ]
    schema = df.schema
    id_type = schema[id_col].dataType
    op = updates = None
    if op_col:
        # op "" (direct-read) must vanish from the JSON like Go omitempty
        op = F.when(F.col(op_col) != "", F.col(op_col))
    if updates_col:
        # rename updatedFields/removedFields -> changed/removed
        # (route81.go:1318-1328): only present for updates
        updates = F.when(
            F.col(op_col) == "u",
            F.struct(
                F.col(f"{updates_col}.removedFields").alias("removed"),
                F.col(f"{updates_col}.updatedFields").alias("changed"),
            ),
        )
    data = F.struct(
        *[
            ext_json_col(
                F.col(c),
                schema[c].dataType,
                oid=(c == id_col and oid_id) or c in (oid_cols or ()),
            ).alias(c)
            for c in data_cols
        ]
    )
    if op_col:
        # deletes carry no data (golden README.md:149-153)
        data = F.when(F.col(op_col) != "d", data)
    return _records(
        df,
        cfg or Config(),
        key=_id_plain_json(F.col(id_col), id_type),
        ns=F.lit(namespace),
        route_ns=F.lit(namespace),
        ts_col=ts_col,
        meta_id=ext_json_col(F.col(id_col), id_type, oid=oid_id),
        op=op,
        updates=updates,
        data=data,
    )


def build_command_envelope(
    df: DataFrame, ns: Column, route_ns: Column, ts_col: str, cfg: Config
) -> DataFrame:
    """Command records (drop / dropDatabase) with the reference's
    command contract (route81.go:1353-1374, 1383-1398): meta is
    `{ts, ns, op: "c"}` with no `_id`, no data and no `_id` header; the
    key is `route_ns` through the JSON meta encoder, a quoted string
    (getMsgKey: enc.Encode(namespace)), and the topic routes by it too
    (route81.go:1338-1351)."""
    return _records(
        df,
        cfg,
        key=_id_plain_json(route_ns, T.StringType()),
        ns=ns,
        route_ns=route_ns,
        ts_col=ts_col,
        op=F.lit("c"),
    )


def parse_envelope(
    value_col: Column, doc_schema: T.StructType, tagged: bool = True
) -> Column:
    """Record value bytes -> the parsed envelope, in wire form: one
    from_json. Project it into its own column before `envelope_fields`
    reads it, or each field extraction re-parses the message."""
    return F.from_json(value_col.cast("string"), envelope_schema(doc_schema, tagged))


def envelope_fields(
    parsed: Column, doc_schema: T.StructType, tagged: bool = True
) -> list[Column]:
    """Parsed envelope -> its plain-typed `meta` and `data` columns: the
    tagged form's `$timestamp` and data type tags are stripped back to
    the declared types (codecs.extjson)."""
    meta, data = parsed.getField("meta"), parsed.getField("data")
    if tagged:
        ts = meta.getField("ts").getField("$timestamp")
        meta = F.struct(
            *[(ts if f.name == "ts" else meta.getField(f.name)).alias(f.name) for f in _meta_schema(False)]
        )
        data = strip_ext_json(data, doc_schema)
    return [meta.alias("meta"), data.alias("data")]


def decode_envelope(value_col: Column, doc_schema: T.StructType) -> Column:
    """Record value (ext-JSON bytes) -> plain-typed `{meta, data}` struct,
    as one expression (message-format=json-ext, the default —
    route81.go:291-292)."""
    return F.struct(*envelope_fields(parse_envelope(value_col, doc_schema), doc_schema))


def envelope_ts(value_col: Column) -> Column:
    """meta.ts `{t, i}` of an ext-JSON record value, by its own parse of
    only that field."""
    ts_only = T.StructType([T.StructField("meta", T.StructType([_meta_schema(True)["ts"]]))])
    return F.from_json(value_col.cast("string"), ts_only)["meta"]["ts"]["$timestamp"]


def with_synthetic_id(df: DataFrame, *cols: str, alias: str = "_id") -> DataFrame:
    """Synthesize the `_id` route81 documents always carry
    (FIXTURES.md F2): natural key rendered to string."""
    parts: list[Column] = []
    for c in cols:
        parts.append(F.col(c).cast("string"))
    return df.withColumn(alias, F.concat_ws("-", *parts))
