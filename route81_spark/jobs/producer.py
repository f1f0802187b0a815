"""Producer jobs (SURVEY §3.1-3.2).

The reference's event loop (route81.go:1207-1237) becomes two thin
Spark jobs around the pure-Column core:

  * direct_read_job — batch: read table -> (direct pipeline) -> envelope
    with op suppressed -> kafka-shaped records (route81.go:1376-1381;
    README.md:228-234). `exit-after-direct-reads` ≡ the batch job ends.
  * streaming_producer_job — readStream of change events -> namespace
    filter (feedback-loop prevention, route81.go:163-179) -> (stream
    pipeline) -> envelope with op codes + updates -> writeStream with
    checkpointLocation (≡ the resume timestamp, route81.go:833-875) and
    observe() counters (≡ stats, route81.go:488-679).

The Kafka sink is pluggable: format("kafka") when a broker exists, a
parquet "topic directory" for the harness — the record schema
(key/value/headers/topic) is identical either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from route81_spark.config import Config, kafka_options
from route81_spark.envelope import build_command_envelope, build_envelope
from route81_spark.pipeline import apply_pipeline
from route81_spark.sources.direct_read import direct_read


def namespace_filter(df: DataFrame, cfg: Config, ns_col: str = "ns_full") -> DataFrame:
    """Drop ops from the metadata DB and from consumer target namespaces
    (route81.go:163-179)."""
    targets = cfg.consumer_target_namespaces()
    keep = F.split(F.col(ns_col), r"\.")[0] != F.lit(cfg.metadata_db)
    if targets:
        keep = keep & ~F.col(ns_col).isin(targets)
    return df.filter(keep)


def producer_source(
    spark: SparkSession,
    cfg: Config,
    namespace: str,
    table_paths: dict[str, str] | None = None,
) -> DataFrame:
    """Direct-read source selection (P2), mirroring the Kafka seam's
    switch: a configured `mongo` URI selects the live format("mongodb")
    collection scan (route81.go:1585-1597 startReads, connection retried
    per mustConnect); empty keeps the parquet stand-in."""
    if cfg.mongo_uri:
        from route81_spark.sources import mongo as mongo_seam

        return mongo_seam.with_mongo_retry(
            lambda: mongo_seam.mongo_reader(spark, cfg, namespace).load(), cfg
        )
    return direct_read(
        spark, table_paths[namespace], min_partitions=cfg.direct_read_split_max
    )


def change_stream_source(
    spark: SparkSession,
    cfg: Config,
    namespace: str,
    events_dir: str | None = None,
    doc_schema=None,
) -> DataFrame:
    """Change-stream source selection (P1): a configured `mongo` URI
    selects the connector change stream (fullDocument updateLookup,
    README.md:303-304); empty keeps the harness change-event JSON dir
    with a declared schema."""
    if cfg.mongo_uri:
        from route81_spark.sources import mongo as mongo_seam

        return mongo_seam.mongo_stream_reader(spark, cfg, namespace).load()
    import os

    from route81_spark.model.schemas import change_event_schema

    return (
        spark.readStream.schema(change_event_schema(doc_schema))
        .json(os.path.join(events_dir, namespace))
    )


def direct_read_job(
    spark: SparkSession,
    cfg: Config,
    table_paths: dict[str, str] | None = None,
    id_cols: dict[str, list[str]] | None = None,
) -> DataFrame:
    """Batch direct-read producer: one kafka-record DataFrame unioned
    over all direct-read namespaces. `table_paths` maps namespace ->
    parquet path; `id_cols` maps namespace -> natural-key columns for
    the synthetic _id (FIXTURES.md F2). With a configured `mongo` URI
    the source is the live collection scan instead, whose documents
    already carry `_id` — no synthetic key is added then."""
    from route81_spark.envelope import with_synthetic_id

    out: DataFrame | None = None
    for ns in cfg.direct_read_namespaces:
        df = producer_source(spark, cfg, ns, table_paths)
        stages = cfg.pipeline_for(ns, stream=False)
        if stages and cfg.mongo_uri:
            # live source: the row-local prefix already ran server-side
            # (mongo_read_options ships it via aggregation.pipeline, like
            # route81.go:1585-1597) — compile only the remaining suffix
            from route81_spark.sources.mongo import split_direct_pipeline

            _, stages = split_direct_pipeline(stages)
        if stages:
            df = apply_pipeline(df, stages)
        if "_id" not in df.columns:
            df = with_synthetic_id(df, *id_cols[ns])
        env = build_envelope(df, ns, cfg)  # op/ts suppressed: direct read
        out = env if out is None else out.unionByName(env)
    if out is None:
        raise ValueError("no direct-read-namespaces configured")
    return out


def envelope_change_stream(events: DataFrame, namespace: str, cfg: Config) -> DataFrame:
    """Change-event rows (F1 schema) -> kafka-record rows with op codes
    i/u/d (README.md:125/139/153) and updates {removed, changed}.
    Command events (drop/dropDatabase) take the command contract path."""
    stages = cfg.pipeline_for(namespace, stream=True)
    if stages and cfg.mongo_uri:
        # live change stream: the $match-compatible prefix already ran
        # server-side (mongo_stream_options); apply only the suffix
        from route81_spark.sources.mongo import split_stream_pipeline

        _, stages = split_stream_pipeline(stages)
    if stages:
        events = apply_pipeline(events, stages)
    commands = events.filter(F.col("operationType").isin("drop", "dropDatabase"))
    events = events.filter(~F.col("operationType").isin("drop", "dropDatabase"))
    ns_full = F.concat_ws(".", F.col("ns.db"), F.col("ns.coll"))
    # dropDatabase is keyed and routed by its db name (route81.go:1338-1374)
    route_ns = F.when(F.col("operationType") == "dropDatabase", F.col("ns.db")).otherwise(ns_full)
    cmd_records = build_command_envelope(commands, ns_full, route_ns, "clusterTime", cfg)
    # the key id gets a reserved name: fullDocument.* usually also
    # carries `_id`, which must stay a data column
    flat = events.select(
        F.col("documentKey._id").alias("__r81_id"),
        F.when(F.col("operationType") == "insert", "i")
        .when(F.col("operationType") == "update", "u")
        .when(F.col("operationType") == "delete", "d")
        .otherwise("c")
        .alias("__r81_op"),
        F.col("clusterTime").alias("__r81_ts"),
        F.col("updateDescription").alias("__r81_ud"),
        F.col("fullDocument.*"),
    )
    doc_cols = [c for c in flat.columns if not c.startswith("__r81_")]
    doc_records = build_envelope(
        flat,
        namespace,
        cfg,
        id_col="__r81_id",
        op_col="__r81_op",
        ts_col="__r81_ts",
        updates_col="__r81_ud",
        data_cols=doc_cols,
    )
    return doc_records.unionByName(cmd_records)


def _start_topic_sink(
    records: DataFrame,
    cfg: Config,
    sink_dir: str | None,
    checkpoint_dir: str,
    trigger_seconds: float,
):
    """Producer sink selection (P16): records already carry the native
    Kafka sink schema (key/value binary, topic string, headers array),
    so with a configured `kafka` bootstrap string this is the real
    format("kafka") producer; without one (the harness) the same rows
    land in a parquet 'topic' directory."""
    writer = records.writeStream
    if cfg.kafka_servers:
        writer = (
            writer.format("kafka")
            .options(**kafka_options(cfg))
            .option("includeHeaders", "true")
        )
    else:
        writer = writer.format("parquet").option("path", sink_dir)
    return (
        writer.option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def streaming_producer_job(
    spark: SparkSession,
    cfg: Config,
    event_stream: DataFrame,
    namespace: str,
    sink_dir: str | None,
    checkpoint_dir: str,
    trigger_seconds: float = 1.0,
):
    """Wire a change-event stream through the producer path into the
    configured topic sink (Kafka when `cfg.kafka_servers` is set, which
    ignores `sink_dir`). Returns the StreamingQuery. The observe()
    metrics mirror the reference's per-op counters (route81.go:621-679)."""
    observed = event_stream.observe(
        "producer_stats",
        F.count(F.lit(1)).alias("queued"),
        F.count(F.when(F.col("operationType") == "insert", 1)).alias("inserted"),
        F.count(F.when(F.col("operationType") == "update", 1)).alias("updated"),
        F.count(F.when(F.col("operationType") == "delete", 1)).alias("removed"),
        F.count(
            F.when(F.col("operationType").isin("drop", "dropDatabase"), 1)
        ).alias("dropped"),
    )
    records = envelope_change_stream(observed, namespace, cfg)
    return _start_topic_sink(records, cfg, sink_dir, checkpoint_dir, trigger_seconds)
