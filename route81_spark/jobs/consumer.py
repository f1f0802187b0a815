"""Consumer job (SURVEY §3.3): kafka-shaped records -> decode ->
classify upsert/delete -> keyed merge.

Reference flow (route81.go:1146-1197 consume, 991-1017 queue, 1071-1131
flush): N worker goroutines each buffering <= bulk-size docs, flushed
every bulk-flush-duration as one unordered BulkWrite. Spark mapping:
partitions replace workers, the micro-batch trigger replaces the flush
timer, and foreachBatch applies the same replace/delete-by-_id merge.
Per-key ordering comes from ranking by kafka offset (seq) within the
batch — the reference gets this from per-partition consumption order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from route81_spark.config import Config, ConsumerSpec, kafka_options
from route81_spark.envelope import envelope_fields, envelope_ts, parse_envelope
from route81_spark.sinks.classify import ClassifierConfig, classify
from route81_spark.sinks.merge import KeyedParquetTable


def decode_records(
    records: DataFrame, spec: ConsumerSpec, doc_schema: T.StructType
) -> DataFrame:
    """Kafka records (key/value/...) -> decoded message rows. Selects the
    decoder by message-format (route81.go:717-727). json and json-ext
    parse each value once into its own column, then extract the fields
    from that column."""
    if spec.message_format == "avro":
        from route81_spark.codecs.avro import decode_avro_records

        # avro-binary toggle (route81.go:108, route81.go:718-722):
        # default textual, binary only when configured
        return decode_avro_records(
            records, spec.avro_schema_spec, binary=spec.avro_binary
        )
    if spec.message_format not in ("json", "json-ext"):
        raise ValueError(f"bad message-format: {spec.message_format}")
    tagged = spec.message_format == "json-ext"
    seq = ["seq"] if "seq" in records.columns else []
    parsed = records.select(
        parse_envelope(F.col("value"), doc_schema, tagged).alias("msg"), *seq
    )
    return parsed.select(*envelope_fields(F.col("msg"), doc_schema, tagged), *seq)


def decode_classify(
    records: DataFrame, spec: ConsumerSpec, doc_schema: T.StructType
) -> DataFrame:
    """Kafka records -> classified change rows (is_delete, doc_id, doc,
    plus `seq` when the records carry one). Pure plan construction: the
    streaming consumer builds it once per stream, not once per batch."""
    return classify(
        decode_records(records, spec, doc_schema),
        ClassifierConfig(
            document_root_path=spec.document_root_path,
            delete_id_path=spec.delete_id_path,
        ),
        keep=["seq"],
    )


def merge_classified(table: KeyedParquetTable, classified: DataFrame, **batch) -> dict:
    """Count and merge one batch of classified change rows; `batch`
    (batch_id, stream_id) is handed to the sink's merge.

    Partial-failure contract (route81.go:1100-1116): a message whose
    document id cannot be extracted is counted as failed and skipped;
    the rest of the batch still applies. Returns {'success': n,
    'failed': n} for stats accounting. The counts are observed by the
    sink's own write of the batch, so counting runs no Spark job; a sink
    must run the batch's plan once per query (cache it before a plan
    reads it twice), or the observation is never delivered."""
    counts = Observation()
    good = classified.observe(
        counts,
        F.count(F.lit(1)).alias("total"),
        F.count(F.when(F.col("doc_id").isNull(), 1)).alias("failed"),
    ).filter(F.col("doc_id").isNotNull())
    table.merge(good, seq="seq" if "seq" in classified.columns else None, **batch)
    n = counts.get
    return {"success": n["total"] - n["failed"], "failed": n["failed"]}


def apply_consumer_batch(
    table: KeyedParquetTable,
    batch: DataFrame,
    spec: ConsumerSpec,
    doc_schema: T.StructType,
) -> dict:
    """One batch of kafka records: decode -> classify -> merge, for batch
    backfills. The streaming consumer runs the same two halves, with
    decode_classify planned once on the stream."""
    return merge_classified(table, decode_classify(batch, spec, doc_schema))


def oplog_order(t: Column, i: Column) -> Column:
    """The oplog ordering rule: timestamp (t, i) -> t * 2^32 + i.
    MongoDB's increment `i` is a uint32, so this keeps (t, i) order and
    fits a long for every t below 2^31 (Unix seconds up to 2038)."""
    return t * F.lit(1 << 32) + i


def oplog_seq(value_col: Column) -> Column:
    """Per-key ordering key from an ext-JSON envelope's oplog timestamp
    (meta.ts), by `oplog_order`."""
    ts = envelope_ts(value_col)
    return oplog_order(ts.getField("t"), ts.getField("i"))


def topic_source(
    spark: SparkSession,
    cfg: Config,
    spec: ConsumerSpec,
    sink_dir: str | None,
    record_schema: T.StructType | None,
) -> DataFrame:
    """Consumer source selection (P12): with a configured `kafka`
    bootstrap string, the real format("kafka") subscription (earliest
    offsets + headers, group parallelism ≡ topic partitions,
    route81.go:1146-1175); without one, a file stream over the parquet
    'topic' directory the producer wrote — identical record schema.
    `sink_dir` and `record_schema` only serve the parquet branch."""
    if cfg.kafka_servers:
        return (
            spark.readStream.format("kafka")
            .options(**kafka_options(cfg))
            .option("subscribe", ",".join(spec.kafka_topics))
            .option("startingOffsets", "earliest")
            .option("includeHeaders", "true")
            .option("kafka.group.id", spec.group_id)
            # bulk-size x workers bounds one flush cycle's records
            # (route81.go:991-1017: N workers each buffering <= bulk-size)
            .option("maxOffsetsPerTrigger", str(spec.bulk_size * spec.workers))
            .load()
        )
    return spark.readStream.schema(record_schema).parquet(sink_dir)


def consumer_sink(spark: SparkSession, cfg, spec: ConsumerSpec, tables_out: str | None):
    """Consumer sink selection (P15), mirroring the source seams: a
    configured `mongo` URI selects the live bulk sink
    (replace-by-_id connector writes + per-partition delete bulks,
    route81.go:1071-1131); empty keeps the keyed parquet stand-in."""
    if getattr(cfg, "mongo_uri", ""):
        from route81_spark.sources.mongo import MongoKeyedSink

        return MongoKeyedSink(cfg, spec.mongo_namespace, bulk_size=spec.bulk_size)
    import os

    return KeyedParquetTable(spark, os.path.join(tables_out, spec.mongo_namespace))


def consumer_job(
    spark: SparkSession,
    spec: ConsumerSpec,
    record_stream: DataFrame,
    table: KeyedParquetTable,
    doc_schema: T.StructType,
    checkpoint_dir: str,
    stats: dict | None = None,
):
    """Streaming consumer: foreachBatch keyed merge with the reference's
    flush cadence as the trigger interval. Pass a dict as `stats` to
    accumulate the consumer success/failed counters
    (route81.go:497-505).

    decode -> classify is applied to the stream itself, so it is planned
    once per stream (Structured Streaming re-runs the plan per trigger);
    each micro-batch only counts and merges.

    Exactly-once: a batch at or below the id the sink recorded for this
    stream (a replay after a crash between the sink's commit and the
    stream's) is skipped, counts included. A sink object without
    `last_batch_id` is merged at least once."""

    def on_batch(batch: DataFrame, batch_id: int) -> None:
        last_batch_id = getattr(table, "last_batch_id", None)
        if last_batch_id is None:
            result = merge_classified(table, batch)
        else:
            # the query id: stable across restarts on one checkpoint
            stream_id = batch.sparkSession.sparkContext.getLocalProperty("sql.streaming.queryId")
            if batch_id <= last_batch_id(stream_id):
                return
            result = merge_classified(table, batch, batch_id=batch_id, stream_id=stream_id)
        if stats is not None:
            stats["success"] = stats.get("success", 0) + result["success"]
            stats["failed"] = stats.get("failed", 0) + result["failed"]

    return (
        decode_classify(record_stream, spec, doc_schema)
        .writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{spec.bulk_flush_seconds} seconds")
        .start()
    )
