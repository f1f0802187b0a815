"""Production MongoDB seam (P1/P2/P15 production path).

The reference is a live-Mongo daemon: dialMongo builds the client
(/root/reference/route81.go:1449-1460), mustConnect retries forever
unless fail-fast (route81.go:1563-1583), startReads opens change
streams + direct reads (route81.go:1585-1597), and the consumer sink
issues Replace/Delete-by-_id bulk writes (route81.go:1088-1116).

This module maps that wiring onto the public MongoDB Spark connector
v10 surface (format "mongodb"), behind the same config switch as the
real-Kafka seam: `mongo = "mongodb://..."` in the TOML turns it on;
empty (the sandbox default) keeps the parquet stand-ins. Everything
here *constructs* readers/writers — no connector jar ships in this
container, so construction is unit-tested and live integration is
skipped.

Mapping notes (all public connector options):
  * direct read      -> batch `spark.read.format("mongodb")`; the
    connector's partitioner subsumes direct-read-split-max (the
    reference's per-collection cursor fan-out cap).
  * change stream    -> `spark.readStream.format("mongodb")` with
    `change.stream.publish.full.document.only=false` so operationType /
    updateDescription survive (README.md:303-304: fullDocument
    updateLookup is `change.stream.lookup.full.document`).
  * consumer upserts -> `operationType=replace` + `idFieldList=_id`,
    the connector equivalent of NewReplaceOneModel+SetUpsert
    (route81.go:1094-1100). Connector batch writes cannot express
    deletes; route the delete partition through `delete_writer` (a
    pymongo bulk, gated behind an import-try like the reference's
    DeleteOneModel path, route81.go:1110-1116).
"""

from __future__ import annotations

import logging
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from route81_spark.config import Config
from route81_spark.materialize import cached

log = logging.getLogger("route81_spark.mongo")


def _split_namespace(namespace: str) -> tuple[str, str]:
    db, _, coll = namespace.partition(".")
    return db, coll


def _base_options(cfg: Config, namespace: str) -> dict[str, str]:
    db, coll = _split_namespace(namespace)
    return {
        "connection.uri": cfg.mongo_uri,
        "database": db,
        "collection": coll,
    }


# MongoDB change streams accept only this aggregation-stage subset
# (server-enforced); anything else must stay Spark-side.
STREAM_SAFE_STAGES = frozenset(
    {
        "$match",
        "$project",
        "$addFields",
        "$set",
        "$unset",
        "$replaceRoot",
        "$replaceWith",
        "$redact",
    }
)

# Stages whose result is a pure per-document function — safe to run
# per connector PARTITION on direct reads. Cardinality-global stages
# ($group/$sort/$limit/$skip/...) would otherwise execute once per
# partition page and return partial/duplicated results; they stay
# Spark-side so the live path agrees with the global stand-in path.
ROW_LOCAL_STAGES = STREAM_SAFE_STAGES | {"$unwind"}


def _split_pipeline(
    stages: list[dict] | None, allowed: frozenset | set
) -> tuple[list[dict], list[dict]]:
    """(server_prefix, spark_suffix): the longest leading run of
    `allowed` stages ships to the server verbatim (route81.go:181-197
    executes stages server-side via gtm); the remainder compiles in
    Spark. Split at the FIRST disallowed stage — later allowed stages
    cannot jump the queue without changing semantics."""
    prefix: list[dict] = []
    for i, stage in enumerate(stages or []):
        op = next(iter(stage), None)
        if op in allowed:
            prefix.append(stage)
        else:
            return prefix, list(stages[i:])
    return prefix, []


def split_stream_pipeline(stages: list[dict] | None) -> tuple[list[dict], list[dict]]:
    """Change-stream split: server gets the change-stream-legal prefix."""
    return _split_pipeline(stages, STREAM_SAFE_STAGES)


def split_direct_pipeline(stages: list[dict] | None) -> tuple[list[dict], list[dict]]:
    """Direct-read split: server gets the row-local prefix — safe under
    the connector's per-partition query execution."""
    return _split_pipeline(stages, ROW_LOCAL_STAGES)


def mongo_read_options(cfg: Config, namespace: str) -> dict[str, str]:
    """Batch-read option set for one direct-read namespace.

    Parity with the reference's core efficiency property: the
    namespace's configured direct-read pipeline (already Mongo-dialect
    JSON, config.py) ships in the connector's `aggregation.pipeline`
    option so a selective $match never leaves the database
    (route81.go:181-197, stages handed to gtm at route81.go:1585-1597).
    Only the ROW-LOCAL prefix ships: the connector (like gtm's segment
    cursors) runs the pipeline once per partition, so a $group/$limit
    there would yield per-page partials; those stages stay Spark-side
    (jobs/producer.direct_read_job applies the suffix and must SKIP the
    shipped prefix).

    direct-read-split-max maps to the paginate-into-partitions
    partitioner cap — the reference fans each collection into <= 9
    cursor segments (route81.go:447-450)."""
    import json

    opts = _base_options(cfg, namespace)
    prefix, _ = split_direct_pipeline(cfg.pipeline_for(namespace, stream=False))
    if prefix:
        opts["aggregation.pipeline"] = json.dumps(prefix)
    opts["partitioner"] = (
        "com.mongodb.spark.sql.connector.read.partitioner."
        "PaginateIntoPartitionsPartitioner"
    )
    opts["partitioner.options.max.number.of.partitions"] = str(
        cfg.direct_read_split_max
    )
    return opts


def mongo_stream_options(cfg: Config, namespace: str) -> dict[str, str]:
    """Change-stream option set for one namespace. fullDocument
    updateLookup (README.md:303-304) + raw events so the producer sees
    operationType/updateDescription like gtm hands the reference.

    The $match-compatible PREFIX of the configured stream pipeline
    ships server-side via `aggregation.pipeline` (change streams reject
    other stages); envelope_change_stream applies only the remaining
    suffix in Spark so no stage runs twice."""
    import json

    opts = _base_options(cfg, namespace)
    opts.update(
        {
            "change.stream.lookup.full.document": "updateLookup",
            "change.stream.publish.full.document.only": "false",
        }
    )
    prefix, _ = split_stream_pipeline(cfg.pipeline_for(namespace, stream=True))
    if prefix:
        opts["aggregation.pipeline"] = json.dumps(prefix)
    return opts


def mongo_write_options(cfg: Config, namespace: str) -> dict[str, str]:
    """Upsert (replace-by-_id) writer options for the consumer sink —
    the connector form of the reference's ReplaceOneModel+SetUpsert
    bulk (route81.go:1088-1108)."""
    opts = _base_options(cfg, namespace)
    opts.update({"operationType": "replace", "idFieldList": "_id"})
    return opts


def mongo_reader(spark: SparkSession, cfg: Config, namespace: str):
    """Configured batch DataFrameReader (call .load() against a live
    cluster)."""
    reader = spark.read.format("mongodb")
    for k, v in mongo_read_options(cfg, namespace).items():
        reader = reader.option(k, v)
    return reader


def mongo_stream_reader(spark: SparkSession, cfg: Config, namespace: str):
    """Configured streaming DataStreamReader for the change stream."""
    reader = spark.readStream.format("mongodb")
    for k, v in mongo_stream_options(cfg, namespace).items():
        reader = reader.option(k, v)
    return reader


def mongo_writer(df: DataFrame, cfg: Config, namespace: str):
    """Configured DataFrameWriter for the upsert partition of a
    micro-batch (call .save() against a live cluster)."""
    writer = df.write.format("mongodb").mode("append")
    for k, v in mongo_write_options(cfg, namespace).items():
        writer = writer.option(k, v)
    return writer


def _delete_partition_fn(
    uri: str, db: str, coll: str, id_col: str, bulk_size: int
) -> Callable:
    """Executor-side delete bulk for one partition of delete rows —
    the partition is the reference's per-worker buffer
    (route81.go:991-1017): accumulate <= bulk-size DeleteOne models,
    flush as one unordered bulk_write (route81.go:1110-1116)."""

    def apply(rows) -> None:
        import pymongo

        client = pymongo.MongoClient(uri)
        try:
            buf: list = []
            for row in rows:
                buf.append(pymongo.DeleteOne({"_id": row[id_col]}))
                if len(buf) >= bulk_size:
                    client[db][coll].bulk_write(buf, ordered=False)
                    buf = []
            if buf:
                client[db][coll].bulk_write(buf, ordered=False)
        finally:
            client.close()

    return apply


def delete_writer(
    cfg: Config, namespace: str, id_col: str = "doc_id", bulk_size: int = 100
) -> Callable[[DataFrame], None]:
    """Delete-by-_id bulk for a micro-batch's delete partition
    (route81.go:1110-1116 DeleteOneModel). The Spark connector has no
    batch delete, so this is the one place a direct client is needed;
    pymongo is not in this container, hence the import gate.

    Partition-side by construction: the returned callable takes the
    delete rows as a DataFrame and applies per-partition bulks via
    foreachPartition — ids are NEVER collected to the driver, so a
    delete-heavy backfill scales with executors, not driver memory."""
    try:
        import pymongo  # noqa: F401
    except ImportError as e:
        raise NotImplementedError(
            "delete bulk requires pymongo (reference: route81.go:1110-1116); "
            "not shipped in this container"
        ) from e

    db, coll = _split_namespace(namespace)
    fn = _delete_partition_fn(cfg.mongo_uri, db, coll, id_col, bulk_size)

    def apply(deletes: DataFrame) -> None:
        deletes.select(id_col).foreachPartition(fn)

    return apply


class MongoKeyedSink:
    """Drop-in for KeyedParquetTable when `mongo` is configured: the
    same `.merge(changes, seq)` contract (doc_id, is_delete, doc struct,
    optional seq), applied as the reference's unordered bulk
    (route81.go:1071-1131) — upserts through the connector's
    replace-by-_id batch write, deletes through per-partition pymongo
    bulks. The pymongo gate is deferred to merge time so construction
    (sink selection) works in jar-less environments."""

    def __init__(self, cfg: Config, namespace: str, bulk_size: int = 100):
        self.cfg = cfg
        self.namespace = namespace
        self.bulk_size = bulk_size

    def split(self, changes: DataFrame, seq: str | None = "seq"):
        """Pure plan split (unit-testable without a live cluster):
        collapse to last-change-per-key, then partition into the upsert
        documents and the delete ids."""
        from route81_spark.sinks.merge import latest_per_key

        if seq is not None and seq in changes.columns:
            changes = latest_per_key(changes, seq=seq)
        upserts = changes.filter(~F.col("is_delete")).select("doc.*")
        deletes = changes.filter(F.col("is_delete")).select("doc_id")
        return upserts, deletes

    def last_batch_id(self, stream_id: str) -> int:
        """No batch record: replace and delete by _id are idempotent, so
        a replayed batch is applied again."""
        return -1

    def merge(
        self, changes: DataFrame, seq: str | None = "seq", batch_id: int | None = None, stream_id: str = ""
    ) -> None:  # pragma: no cover - live only
        with cached(changes) as changes:
            upserts, deletes = self.split(changes, seq)
            with_mongo_retry(
                lambda: mongo_writer(upserts, self.cfg, self.namespace).save(),
                self.cfg,
            )
            delete_writer(
                self.cfg, self.namespace, bulk_size=self.bulk_size
            )(deletes)


def with_mongo_retry(
    fn: Callable[[], "DataFrame"],
    cfg: Config,
    delay_s: float = 1.0,
    max_delay_s: float = 30.0,
):
    """mustConnect's retry contract (route81.go:1563-1583): loop until
    the action succeeds, unless fail-fast — then the first error is
    fatal. Wrap the .load()/.save() call, not the builder.

    Each failed attempt is logged (the reference logs every dial
    failure, route81.go:1569-1572) and the sleep backs off
    exponentially, capped at max_delay_s, so a persistent auth/URI
    error neither spins hot nor goes silent."""
    attempt = 0
    delay = delay_s
    while True:
        try:
            return fn()
        except Exception as e:
            if cfg.fail_fast:
                raise
            attempt += 1
            log.warning(
                "mongo attempt %d failed: %s; retrying in %.1fs", attempt, e, delay
            )
            time.sleep(delay)
            delay = min(max(delay, delay_s) * 2, max_delay_s) if delay_s > 0 else 0.0
