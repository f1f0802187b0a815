"""CDC and envelope queries: change-event dialect, envelope construction, codec round-trips (ext-JSON/plain-JSON/Avro), classifier + keyed merge, SCD2 history."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T
from route81_spark.config import Config
from route81_spark.envelope import build_envelope
from route81_spark.envelope import with_synthetic_id
from route81_spark.jobs.consumer import oplog_order
from route81_spark.ops.util import det_round_sql
from route81_spark.pipeline import apply_pipeline
from route81_spark.sinks.merge import latest_per_key
from route81_spark.sources.change_events import synthetic_change_events
from ._shared import _q, _t

@_q(
    "plainjson_roundtrip",
    "SELECT r_regionkey, r_name, CAST(r_regionkey AS VARCHAR) AS _id FROM region",
)
def plainjson_roundtrip(spark, sf_dir):
    # P9 plain-JSON encode -> P11 json-format decode = identity
    from route81_spark.codecs.plainjson import plain_json_string
    from route81_spark.envelope import envelope_schema

    df = with_synthetic_id(_t(spark, sf_dir, "region"), "r_regionkey")
    doc = F.struct(*[F.col(c) for c in df.columns])
    env = df.select(
        plain_json_string(
            F.struct(
                F.struct(F.col("_id").alias("_id")).alias("meta"), doc.alias("data")
            ),
            T.StructType(
                [
                    T.StructField("meta", T.StructType([T.StructField("_id", T.StringType())])),
                    T.StructField("data", df.schema),
                ]
            ),
        ).alias("value")
    )
    decoded = env.select(
        F.from_json(F.col("value"), envelope_schema(df.schema)).alias("msg")
    )
    return decoded.select("msg.data.*")

@_q(
    "cdc_counts",
    """
    SELECT op, n FROM (
      SELECT 'insert' AS op, count(*) AS n FROM events
      UNION ALL
      SELECT 'update', count(*) FROM events WHERE event_id % 10 = 0
      UNION ALL
      SELECT 'delete', count(*) FROM events WHERE event_id % 25 = 0
    )
    """,
)
def cdc_counts(spark, sf_dir):
    ev = synthetic_change_events(spark, sf_dir)
    return apply_pipeline(
        ev,
        [
            {"$group": {"_id": "$operationType", "n": {"$sum": 1}}},
            {"$project": {"_id": 0, "op": "$_id", "n": 1}},
        ],
    )

@_q(
    "cdc_match_stream",
    """
    SELECT CAST(event_id AS VARCHAR) AS _id, 'test' AS db, 'events' AS coll,
           event_type AS etype, value AS v
    FROM events
    """,
)
def cdc_match_stream(spark, sf_dir):
    # the README's documented pipeline (README.md:281-287): $match on
    # operationType over the change-event dialect
    ev = synthetic_change_events(spark, sf_dir)
    return apply_pipeline(
        ev,
        [
            {"$match": {"operationType": "insert"}},
            {
                "$project": {
                    "_id": "$documentKey._id",
                    "db": "$ns.db",
                    "coll": "$ns.coll",
                    "etype": "$fullDocument.event_type",
                    "v": "$fullDocument.value",
                }
            },
        ],
    )

@_q(
    "cdc_merge_state",
    """
    SELECT event_id, CAST(ts AS TIMESTAMP_NS) AS ts, user_id, event_type,
           CASE WHEN event_id % 10 = 0 THEN value * 2 ELSE value END AS value,
           CASE WHEN event_id % 10 = 0 THEN NULL ELSE props END AS props
    FROM events WHERE event_id % 25 <> 0
    """,
)
def cdc_merge_state(spark, sf_dir):
    # consumer path end-to-end: change feed -> classify -> last-writer-wins
    # keyed merge (P13-P15 semantics; replace, not patch)
    ev = synthetic_change_events(spark, sf_dir)
    changes = ev.select(
        F.col("documentKey._id").alias("doc_id"),
        (F.col("operationType") == "delete").alias("is_delete"),
        F.col("fullDocument").alias("doc"),
        oplog_order(F.col("clusterTime.t"), F.col("clusterTime.i")).alias("seq"),
    )
    final = latest_per_key(changes).filter(~F.col("is_delete")).select("doc.*")
    return final

@_q(
    "envelope_nation",
    """
    SELECT 'pfx.test.nation' AS topic,
           '"' || CAST(n_nationkey AS VARCHAR) || '"' AS key,
           '{"meta":{"_id":"' || CAST(n_nationkey AS VARCHAR)
             || '","ts":{"$timestamp":{"t":0,"i":0}},"ns":"test.nation"},'
             || '"data":{"n_nationkey":{"$numberInt":"' || CAST(n_nationkey AS VARCHAR)
             || '"},"n_name":"' || n_name
             || '","n_regionkey":{"$numberInt":"' || CAST(n_regionkey AS VARCHAR)
             || '"},"_id":"' || CAST(n_nationkey AS VARCHAR) || '"}}' AS value
    FROM nation
    """,
)
def envelope_nation(spark, sf_dir):
    # direct-read envelope golden path: op suppressed, canonical ext-JSON
    # type tags, plain-JSON key (P5-P8)
    df = with_synthetic_id(_t(spark, sf_dir, "nation"), "n_nationkey")
    env = build_envelope(df, "test.nation", Config(topic_name_prefix="pfx"))
    return env.select(
        "topic", F.col("key").cast("string").alias("key"), F.col("value").cast("string").alias("value")
    )

@_q(
    "envelope_roundtrip",
    "SELECT n_nationkey, n_name, n_regionkey, CAST(n_nationkey AS VARCHAR) AS _id FROM nation",
)
def envelope_roundtrip(spark, sf_dir):
    # producer encode -> consumer decode must be the identity on the
    # document (P8 encode ∘ P11 decode = id), proving both codecs at once
    from route81_spark.envelope import decode_envelope

    df = with_synthetic_id(_t(spark, sf_dir, "nation"), "n_nationkey")
    env = build_envelope(df, "test.nation")
    decoded = env.select(decode_envelope(F.col("value"), df.schema).alias("msg"))
    return decoded.select("msg.data.*")

@_q(
    "cdc_envelope_ops",
    """
    SELECT '"' || CAST(event_id AS VARCHAR) || '"' AS key, op, has_data, n
    FROM (
      SELECT 'i' AS op, TRUE AS has_data, count(*) AS n FROM events
      UNION ALL
      SELECT 'u', TRUE, count(*) FROM events WHERE event_id % 10 = 0
      UNION ALL
      SELECT 'd', FALSE, count(*) FROM events WHERE event_id % 25 = 0
    ) s, events e
    WHERE (s.op = 'i')
       OR (s.op = 'u' AND e.event_id % 10 = 0)
       OR (s.op = 'd' AND e.event_id % 25 = 0)
    """,
)
def cdc_envelope_ops(spark, sf_dir):
    # producer path over the change stream: op codes i/u/d on the wire
    # (README.md:125/139/153), deletes without data
    from route81_spark.jobs.producer import envelope_change_stream

    ev = synthetic_change_events(spark, sf_dir)
    env = envelope_change_stream(ev, "test.events", Config())
    val = F.col("value").cast("string")
    per_op_n = env.select(
        F.get_json_object(val, "$.meta.op").alias("op"),
    ).groupBy("op").agg(F.count(F.lit(1)).alias("n"))
    return (
        env.select(
            F.col("key").cast("string").alias("key"),
            F.get_json_object(val, "$.meta.op").alias("op"),
            F.get_json_object(val, "$.data").isNotNull().alias("has_data"),
        )
        .join(per_op_n, "op")
        .select("key", "op", "has_data", "n")
    )

@_q(
    "envelope_lineitem",
    # Parsed-projection oracle: the full canonical-ext-JSON envelope is
    # BUILT (binary wire columns, golden-tested elsewhere), then parsed
    # BACK out of the produced value bytes — so the oracle checks that
    # the envelope carries the right topic/key/meta and correctly
    # type-tagged data ($numberLong/$numberInt/$date/plain string) for
    # every lineitem row, without DuckDB having to hash raw binary
    # (which crashed its hash table in r02) or reproduce Go float
    # formatting (doubles stay golden-test-covered).
    """
    WITH src AS (
      SELECT CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) AS id,
             *
      FROM lineitem
    )
    SELECT 'pfx.test.lineitem' AS topic,
           '"' || id || '"' AS key_json,
           id,
           'test.lineitem' AS ns,
           CAST(0 AS INT) AS ts_t,
           l_orderkey,
           l_partkey,
           l_suppkey,
           CAST(l_linenumber AS INT) AS l_linenumber,
           epoch_ms(l_shipdate) AS shipdate_ms,
           l_returnflag,
           l_linestatus,
           '{"T":0,"I":0}' AS hdr_ts
    FROM src
    """,
)
def envelope_lineitem(spark, sf_dir):
    # the producer-path throughput workload for bench: full canonical
    # ext-JSON envelope over the widest table, then a parse-back
    # projection of the produced value bytes for the DuckDB oracle
    from route81_spark.io import ensure_parallelism

    df = with_synthetic_id(
        ensure_parallelism(_t(spark, sf_dir, "lineitem")), "l_orderkey", "l_linenumber"
    )
    env = build_envelope(
        df, "test.lineitem", Config(topic_name_prefix="pfx")
    )
    # one from_json schema over the wire bytes instead of a
    # get_json_object per projected field; the executed plan holds one
    # from_json call per extracted field (10), which subexpression
    # elimination merges because they are plain getField chains
    wire_schema = (
        "meta struct<_id: string, ns: string,"
        "            ts: struct<`$timestamp`: struct<t: int, i: int>>>,"
        "data struct<l_orderkey: struct<`$numberLong`: string>,"
        "            l_partkey: struct<`$numberLong`: string>,"
        "            l_suppkey: struct<`$numberLong`: string>,"
        "            l_linenumber: struct<`$numberInt`: string>,"
        "            l_shipdate: struct<`$date`: struct<`$numberLong`: string>>,"
        "            l_returnflag: string, l_linestatus: string>"
    )
    p = F.from_json(F.col("value").cast("string"), wire_schema)
    return env.select(
        F.col("topic"),
        F.col("key").cast("string").alias("key_json"),
        p.getField("meta").getField("_id").alias("id"),
        p.getField("meta").getField("ns").alias("ns"),
        p.getField("meta").getField("ts").getField("$timestamp").getField("t").alias("ts_t"),
        p.getField("data").getField("l_orderkey").getField("$numberLong").cast("long").alias("l_orderkey"),
        p.getField("data").getField("l_partkey").getField("$numberLong").cast("long").alias("l_partkey"),
        p.getField("data").getField("l_suppkey").getField("$numberLong").cast("long").alias("l_suppkey"),
        p.getField("data").getField("l_linenumber").getField("$numberInt").cast("int").alias("l_linenumber"),
        p.getField("data").getField("l_shipdate").getField("$date").getField("$numberLong").cast("long").alias("shipdate_ms"),
        p.getField("data").getField("l_returnflag").alias("l_returnflag"),
        p.getField("data").getField("l_linestatus").alias("l_linestatus"),
        F.element_at("headers", 1).getField("value").cast("string").alias("hdr_ts"),
    )

def envelope_lineitem_build(spark, sf_dir):
    """Bench-only variant (NOT registered): the raw producer path —
    full canonical ext-JSON envelope construction over the widest
    table, WITHOUT the oracle's from_json parse-back. This is what the
    r1-r4 bench series timed as `envelope_lineitem`; the r5 oracle
    added an in-query parse-back that belongs to the correctness gate,
    not the throughput number. bench.py times both."""
    from route81_spark.io import ensure_parallelism

    df = with_synthetic_id(
        ensure_parallelism(_t(spark, sf_dir, "lineitem")), "l_orderkey", "l_linenumber"
    )
    return build_envelope(df, "test.lineitem", Config(topic_name_prefix="pfx"))

_AVRO_NATION_SPEC = (
    '{"type":"record","name":"nation","fields":['
    '{"name":"n_nationkey","type":"int"},'
    '{"name":"n_name","type":["null","string"]},'
    '{"name":"n_regionkey","type":"int"}]}'
)

@_q(
    "avro_roundtrip",
    "SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def avro_roundtrip(spark, sf_dir):
    """Avro binary wire roundtrip (P10 encode ∘ P11 decode = id): rows
    -> dependency-free avro binary (zigzag varints, union indexes) ->
    decoded rows, identity-checked against the raw table. Both
    directions run Arrow-batched (mapInPandas) like the consumer's
    decode path; reference wire contract decoding/decoding.go:45-57."""
    from route81_spark.codecs.avro import decode_avro_records, encode_avro_records

    df = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    records = encode_avro_records(df, _AVRO_NATION_SPEC, binary=True)
    return decode_avro_records(records, _AVRO_NATION_SPEC, binary=True)

@_q(
    "cdc_scd2_history",
    f"""
    WITH ch AS (
      SELECT CAST(event_id AS VARCHAR) AS doc_id,
             event_id AS seq, FALSE AS is_del, value AS v
      FROM events
      UNION ALL
      SELECT CAST(event_id AS VARCHAR),
             4294967296 + event_id, FALSE, value * 2
      FROM events WHERE event_id % 10 = 0
      UNION ALL
      SELECT CAST(event_id AS VARCHAR),
             8589934592 + event_id, TRUE, NULL
      FROM events WHERE event_id % 25 = 0
    ),
    h AS (
      SELECT doc_id, seq, is_del, v,
             lead(seq) OVER (PARTITION BY doc_id ORDER BY seq) AS valid_to
      FROM ch
    )
    SELECT doc_id, {det_round_sql('v', 4)} AS value,
           seq AS valid_from, valid_to,
           valid_to IS NULL AS is_current
    FROM h WHERE NOT is_del
    """,
)
def cdc_scd2_history(spark, sf_dir):
    """SCD type-2 history replayed from the change feed: each version's
    validity range [own seq, next change's seq), deletes closing but
    not opening versions. One lead() window shuffle on the key —
    sinks.merge.scd2_history over the same change shape the keyed
    merge consumes."""
    from route81_spark.ops.util import det_round
    from route81_spark.sinks.merge import scd2_history

    ev = synthetic_change_events(spark, sf_dir)
    changes = ev.select(
        F.col("documentKey._id").alias("doc_id"),
        (F.col("operationType") == "delete").alias("is_delete"),
        F.col("fullDocument.value").alias("value"),
        oplog_order(F.col("clusterTime.t"), F.col("clusterTime.i")).alias("seq"),
    )
    h = scd2_history(changes)
    return h.select(
        "doc_id",
        det_round(F.col("value"), 4).alias("value"),
        "valid_from",
        "valid_to",
        "is_current",
    )


@_q(
    "cdc_delete_id_expr",
    # oracle: replicate the gval expression over the same synthetic
    # message shape — composite delete id = region || '-' ||
    # tags[id % 3] || '-' || id % 1000 (the % binds tighter than +, the
    # subscript tighter still, as in gval; DuckDB lists are 1-based so
    # the CASE inlines the array lookup); upserts keep data._id
    """
    SELECT CAST(event_id % 25 = 0 AS BOOLEAN) AS is_delete,
           CASE WHEN event_id % 25 = 0
                THEN (CASE WHEN user_id % 2 = 0 THEN 'eu' ELSE 'us' END)
                     || '-' ||
                     (CASE event_id % 3 WHEN 0 THEN 'alpha'
                                        WHEN 1 THEN event_type
                                        ELSE 'omega' END)
                     || '-' || CAST(event_id % 1000 AS VARCHAR)
                ELSE CAST(event_id AS VARCHAR) END AS doc_id
    FROM events
    """,
)
def cdc_delete_id_expr(spark, sf_dir):
    """Consumer classifier with a gval EXPRESSION delete-id-path
    (route81 compiles these with gval.Full, route81.go:323-336):
    `meta.region + "-" + meta.tags[meta.id % 3] + "-" + meta.id % 1000`
    builds a composite delete id — string concat, modulo, and an
    integer-valued DYNAMIC array subscript (F.get over the declared
    element type, sinks/gvalexpr.py) compiled to one pure Column over
    the message schema, zero Python per row. Deletes are the rows whose
    document root is NULL; upserts keep the root's _id."""
    from route81_spark.sinks.classify import ClassifierConfig, classify

    ev = _t(spark, sf_dir, "events")
    msgs = ev.select(
        F.struct(
            F.when(F.col("user_id") % 2 == 0, F.lit("eu"))
            .otherwise(F.lit("us")).alias("region"),
            F.col("event_id").alias("id"),
            F.array(
                F.lit("alpha"), F.col("event_type"), F.lit("omega")
            ).alias("tags"),
        ).alias("meta"),
        F.when(
            F.col("event_id") % 25 == 0, F.lit(None)
        ).otherwise(
            F.struct(
                F.col("event_id").cast("string").alias("_id"),
                F.col("event_type").alias("etype"),
            )
        ).alias("data"),
    )
    out = classify(
        msgs,
        ClassifierConfig(
            document_root_path="data",
            delete_id_path='meta.region + "-" + meta.tags[meta.id % 3]'
                           ' + "-" + meta.id % 1000',
        ),
    )
    return out.select("is_delete", "doc_id")


@_q(
    "cdc_delete_id_map",
    # oracle: replicate the map lookup — attrs = {region: ..., tier:
    # event_type}, key cycles region/missing/tier; a missing key makes
    # the whole composite NULL (NULL || x is NULL in both engines,
    # matching try_element_at -> concat on the Spark side)
    """
    SELECT CAST(event_id % 25 = 0 AS BOOLEAN) AS is_delete,
           CASE WHEN event_id % 25 = 0
                THEN (CASE
                       WHEN event_id % 2 = 0
                       THEN (CASE WHEN user_id % 2 = 0
                                  THEN 'eu' ELSE 'us' END)
                       WHEN event_id % 5 = 0 THEN NULL
                       ELSE event_type END)
                     || '-' || CAST(event_id % 100 AS VARCHAR)
                ELSE CAST(event_id AS VARCHAR) END AS doc_id
    FROM events
    """,
)
def cdc_delete_id_map(spark, sf_dir):
    """Consumer classifier with a gval delete-id-path over a declared
    MAP column (r10): `meta.attrs[meta.key] + "-" + meta.id % 100` —
    a string-keyed DYNAMIC subscript compiles to try_element_at when —
    and only when — the schema says the base is a map (an open key
    set; struct bases stay the loud rejection, sinks/gvalexpr.py), so
    a missing key yields NULL exactly like gval's nil on an absent Go
    map key, and the NULL propagates through the composite concat.
    One pure Column over the message schema, zero Python per row."""
    from route81_spark.sinks.classify import ClassifierConfig, classify

    ev = _t(spark, sf_dir, "events")
    msgs = ev.select(
        F.struct(
            F.create_map(
                F.lit("region"),
                F.when(F.col("user_id") % 2 == 0, F.lit("eu"))
                .otherwise(F.lit("us")),
                F.lit("tier"),
                F.col("event_type"),
            ).alias("attrs"),
            F.when(F.col("event_id") % 2 == 0, F.lit("region"))
            .when(F.col("event_id") % 5 == 0, F.lit("missing"))
            .otherwise(F.lit("tier")).alias("key"),
            F.col("event_id").alias("id"),
        ).alias("meta"),
        F.when(
            F.col("event_id") % 25 == 0, F.lit(None)
        ).otherwise(
            F.struct(
                F.col("event_id").cast("string").alias("_id"),
                F.col("event_type").alias("etype"),
            )
        ).alias("data"),
    )
    out = classify(
        msgs,
        ClassifierConfig(
            document_root_path="data",
            delete_id_path='meta.attrs[meta.key] + "-" + meta.id % 100',
        ),
    )
    return out.select("is_delete", "doc_id")
