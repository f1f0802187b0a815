"""Producer envelope construction, key/header extraction, topic routing
(SURVEY §2 P5-P7).

The reference wraps every op in `{meta:{_id, ts, ns, op, updates}, data}`
(/root/reference/route81.go:56-67, 1400-1416), produces it as canonical
ext-JSON (route81.go:746), keys the record with the encoded `_id`
(route81.go:1363-1374), attaches `ts`/`ns`/`_id` headers
(route81.go:1383-1398), and routes the topic through the producer-map
(route81.go:1330-1351).

Spark-first: everything here is a pure Column construction over a
declared document schema — the output DataFrame has exactly the
`key/value/headers/topic` schema `writeStream.format("kafka")` consumes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from route81_spark.codecs.extjson import ext_json_col
from route81_spark.codecs.plainjson import plain_json_string
from route81_spark.config import Config


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
    cfg = cfg or Config()
    data_cols = data_cols or [
        c for c in df.columns if c not in {op_col, ts_col, updates_col} - {None}
    ]
    schema = df.schema

    def dtype_of(name: str) -> T.DataType:
        return schema[name].dataType

    id_type = dtype_of(id_col)

    # meta.ts: {"$timestamp": {"t": ..., "i": ...}} (README.md:125)
    if ts_col:
        ts_tag = F.struct(
            F.struct(
                F.col(f"{ts_col}.t").alias("t"), F.col(f"{ts_col}.i").alias("i")
            ).alias("$timestamp")
        )
        ts_plain = F.to_json(F.struct(F.col(f"{ts_col}.t").alias("T"), F.col(f"{ts_col}.i").alias("I")))
    else:
        ts_tag = F.struct(
            F.struct(F.lit(0).alias("t"), F.lit(0).alias("i")).alias("$timestamp")
        )
        ts_plain = F.lit('{"T":0,"I":0}')

    meta_fields: list[Column] = [
        ext_json_col(F.col(id_col), id_type, oid=oid_id).alias("_id"),
        ts_tag.alias("ts"),
        F.lit(namespace).alias("ns"),
    ]
    if op_col:
        # op "" (direct-read) must vanish from the JSON like Go omitempty
        meta_fields.append(
            F.when(F.col(op_col) != "", F.col(op_col)).alias("op")
        )
    if updates_col:
        # rename updatedFields/removedFields -> changed/removed
        # (route81.go:1318-1328): only present for updates
        meta_fields.append(
            F.when(
                F.col(op_col) == "u",
                F.struct(
                    F.col(f"{updates_col}.removedFields").alias("removed"),
                    F.col(f"{updates_col}.updatedFields").alias("changed"),
                ),
            ).alias("updates")
        )

    data_struct = F.struct(
        *[
            ext_json_col(
                F.col(c),
                dtype_of(c),
                oid=(c == id_col and oid_id) or c in (oid_cols or ()),
            ).alias(c)
            for c in data_cols
        ]
    )
    if op_col:
        # deletes carry no data (golden README.md:149-153)
        data_struct = F.when(F.col(op_col) != "d", data_struct)

    value = F.to_json(F.struct(F.struct(*meta_fields).alias("meta"), data_struct.alias("data")))
    key = _id_plain_json(F.col(id_col), id_type)

    headers = F.array(
        F.struct(F.lit("ts").alias("key"), ts_plain.cast("binary").alias("value")),
        F.struct(F.lit("ns").alias("key"), F.lit(namespace).cast("binary").alias("value")),
        F.struct(F.lit("_id").alias("key"), key.cast("binary").alias("value")),
    )

    return df.select(
        key.cast("binary").alias("key"),
        value.cast("binary").alias("value"),
        headers.alias("headers"),
        route_topic(F.lit(namespace), cfg).alias("topic"),
    )


def build_envelope_passthrough(
    df: DataFrame,
    namespace: str,
    cfg: Config | None = None,
    id_col: str = "_id",
    json_col: str = "doc_json",
    op_col: str | None = None,
    ts_col: str | None = None,
) -> DataFrame:
    """Schemaless envelope path (SURVEY §1.1 option b): the document is
    an opaque ext-JSON *string* column — arbitrary/unknown documents ride
    through without a declared schema, exactly like the reference's
    map[string]interface{} handling (route81.go:66). The envelope text is
    assembled by string concatenation (meta is schema-known; data is the
    raw payload), so this path never parses the document."""
    cfg = cfg or Config()
    if ts_col:
        ts_json = F.concat(
            F.lit('{"$timestamp":{"t":'),
            F.col(f"{ts_col}.t").cast("string"),
            F.lit(',"i":'),
            F.col(f"{ts_col}.i").cast("string"),
            F.lit("}}"),
        )
        ts_plain = F.to_json(
            F.struct(F.col(f"{ts_col}.t").alias("T"), F.col(f"{ts_col}.i").alias("I"))
        )
    else:
        ts_json = F.lit('{"$timestamp":{"t":0,"i":0}}')
        ts_plain = F.lit('{"T":0,"I":0}')
    key = _id_plain_json(F.col(id_col), df.schema[id_col].dataType)
    op_part = (
        F.when(
            F.col(op_col).isNotNull() & (F.col(op_col) != ""),
            F.concat(F.lit(',"op":"'), F.col(op_col), F.lit('"')),
        ).otherwise(F.lit(""))
        if op_col
        else F.lit("")
    )
    meta = F.concat(
        F.lit('{"_id":'), key,
        F.lit(',"ts":'), ts_json,
        F.lit(f',"ns":"{namespace}"'), op_part,
        F.lit("}"),
    )
    data_part = F.when(
        F.col(json_col).isNotNull(), F.concat(F.lit(',"data":'), F.col(json_col))
    ).otherwise(F.lit(""))
    value = F.concat(F.lit('{"meta":'), meta, data_part, F.lit("}"))
    headers = F.array(
        F.struct(F.lit("ts").alias("key"), ts_plain.cast("binary").alias("value")),
        F.struct(F.lit("ns").alias("key"), F.lit(namespace).cast("binary").alias("value")),
        F.struct(F.lit("_id").alias("key"), key.cast("binary").alias("value")),
    )
    return df.select(
        key.cast("binary").alias("key"),
        value.cast("binary").alias("value"),
        headers.alias("headers"),
        route_topic(F.lit(namespace), cfg).alias("topic"),
    )


def with_synthetic_id(df: DataFrame, *cols: str, alias: str = "_id") -> DataFrame:
    """Synthesize the `_id` route81 documents always carry
    (FIXTURES.md F2): natural key rendered to string."""
    parts: list[Column] = []
    for c in cols:
        parts.append(F.col(c).cast("string"))
    return df.withColumn(alias, F.concat_ws("-", *parts))
