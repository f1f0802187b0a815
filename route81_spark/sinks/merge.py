"""Keyed upsert/delete merge sink (SURVEY §2 P15).

The reference buffers <= bulk-size docs / <= bulk-flush-duration and
issues one *unordered* BulkWrite of ReplaceOne(upsert)/DeleteOne models
(/root/reference/route81.go:1071-1131). Semantics to preserve:
whole-document replace (not patch), idempotent per-key last-writer-wins,
at-least-once safe (SURVEY §2.C).

Spark-first: the merge itself is a single DataFrame expression —
  new_state = latest-change-per-key  ⟂  (target anti-join changed-keys)
applied inside foreachBatch for streams or once for batch. At cluster
scale this becomes Delta `MERGE INTO` on the same (key, is_delete, doc)
shape; the base + delta parquet table below is the dependency-free
stand-in, with the same per-batch commit record a Delta log keeps.
Per-key ordering under parallelism comes from ranking by `seq` within
each key — not from any global sort — so the plan is one hash shuffle
on the key, no matter how many executors.
"""

from __future__ import annotations

import json
import logging
import os
import shutil

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from route81_spark.materialize import cached

log = logging.getLogger("route81_spark.merge")


def latest_per_key(changes: DataFrame, key: str = "doc_id", seq: str = "seq") -> DataFrame:
    """Collapse an at-least-once change feed to the last change per key.
    One shuffle on `key`; AQE handles skew."""
    w = Window.partitionBy(key).orderBy(F.col(seq).desc())
    return (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def scd2_history(
    changes: DataFrame,
    key: str = "doc_id",
    seq: str = "seq",
    is_delete: str = "is_delete",
) -> DataFrame:
    """Type-2 slowly-changing-dimension history from a keyed change feed
    (the same (key, seq, is_delete, payload...) shape the merge sink
    consumes): every non-delete change becomes a version row valid from
    its own seq until the key's NEXT change (delete or replacement);
    the latest un-superseded, un-deleted version is flagged current.

    Deletes contribute no version but close the preceding one — so a
    key deleted and later re-inserted yields two disjoint validity
    ranges, matching the reference sink's replace/delete-by-_id
    semantics (/root/reference/route81.go:1088-1116) replayed into
    history form.

    Scale shape: ONE hash shuffle on `key` (the lead() window), same
    cost as latest_per_key; no self-join against the history table.
    Columns out: all change columns except `is_delete`, plus
    valid_from / valid_to (next change's seq, null = open) and
    is_current."""
    w = Window.partitionBy(key).orderBy(F.col(seq).asc())
    h = changes.withColumn("__valid_to", F.lead(F.col(seq)).over(w))
    keep = [c for c in changes.columns if c not in (is_delete, seq)]
    return (
        h.filter(~F.col(is_delete))
        .select(
            *keep,
            F.col(seq).alias("valid_from"),
            F.col("__valid_to").alias("valid_to"),
            F.col("__valid_to").isNull().alias("is_current"),
        )
    )


def apply_changes(
    target: DataFrame,
    changes: DataFrame,
    key: str = "doc_id",
    seq: str | None = "seq",
    target_key: str = "_id",
) -> DataFrame:
    """Pure merge: replace/delete-by-key (route81.go:1086-1098 semantics).

    `changes` columns: <key>, is_delete, doc (struct matching target
    rows, keyed by <target_key>). Returns the new target state as a
    DataFrame of doc fields.

    Schema drift: the reference sink is schemaless (a replace with new
    fields just stores them, route81.go:1094-1100), so the union is
    allowMissingColumns — documents that add fields widen the table
    and old rows read null there; documents that drop fields store
    null, exactly the BSON-absent reading.

    The anti-join keys come from `changes` itself, not from its
    per-key latest rows: the key set is the same, and the broadcast side
    then does not wait on the latest_per_key shuffle.
    """
    changed_keys = changes.select(F.col(key))
    if seq is not None and seq in changes.columns:
        changes = latest_per_key(changes, key=key, seq=seq)
    upserts = changes.filter(~F.col("is_delete")).select("doc.*")
    kept = target.join(changed_keys, target[target_key] == changed_keys[key], "left_anti")
    return kept.unionByName(upserts, allowMissingColumns=True)


# The compaction rule: a merge writes a new base (base, deltas and its
# own batch resolved in one write) instead of a delta once the committed
# delta rows exceed this fraction of the base rows.
COMPACT_FRACTION = 0.25
MANIFEST = "_manifest.json"


def _delta_schema(doc: T.StructType) -> T.StructType:
    return (
        T.StructType().add("doc_id", "string").add("is_delete", "boolean").add("doc", doc)
        .add("seq", "long")
    )


def _delta_version() -> Column:
    """A delta row's commit version, read from its `delta-NNNNNN`
    directory name. A literal version column would be inlined into the
    write's generated code, so each batch would compile new classes."""
    return F.regexp_extract(F.col("_metadata.file_path"), r"/delta-(\d+)/[^/]*$", 1).cast("long")


def _widen(schema: T.StructType, doc: T.StructType) -> T.StructType:
    """The table schema plus the document fields it does not have yet
    (schema drift only ever adds columns)."""
    names = set(schema.fieldNames())
    return T.StructType(schema.fields + [f for f in doc.fields if f.name not in names])


class KeyedParquetTable:
    """Mutable keyed table: a base snapshot plus append-only per-batch
    deltas, all listed in one small manifest — the harness stand-in for
    a Delta table under MERGE, or MongoDB bulk writes. Used from
    foreachBatch.

    A merge appends its batch as a delta directory of change rows
    (`doc_id`, `is_delete`, `doc`, `seq`) named by the commit's version
    (`delta-NNNNNN`) and commits by `os.replace` of the manifest, so its
    cost tracks the batch, not the table: it never reads the target.
    `read()` resolves base ∪ deltas per key by (version, `seq`), the
    version taken from each delta's directory name, with one per-key ranking
    (`apply_changes`). Compaction follows one rule: once the committed
    delta rows pass COMPACT_FRACTION of the base rows, the next merge
    writes a new base resolved from base ∪ deltas ∪ its own batch in
    one write, instead of a delta.

    The manifest also carries the table schema (widened when documents
    add fields), so no read runs a schema-inference job, and the last
    applied streaming batch id per stream (`last_batch_id`), which makes
    the consumer exactly-once: a replayed batch is skipped. A crash
    before the replace leaves the previous manifest, whose files are
    untouched; files it does not list are deleted after each commit.

    A directory holding a parquet snapshot in `current/` and no manifest
    (the layout before the manifest) opens as a base with no deltas;
    deltas that also store their version in a `__v` column (the layout
    before the version came from the name) open as they are."""

    def __init__(self, spark: SparkSession, path: str, key: str = "_id"):
        self.spark = spark
        self.path = path
        self.key = key
        self._legacy: dict | None = None

    def _file(self, name: str) -> str:
        return os.path.join(self.path, name)

    def exists(self) -> bool:
        return os.path.isfile(self._file(MANIFEST)) or os.path.isdir(self._file("current"))

    def _manifest(self) -> dict:
        """The committed manifest; for a `current/` table, one built from
        its files (schema and row count read once per object)."""
        try:
            with open(self._file(MANIFEST)) as f:
                return json.load(f)
        except FileNotFoundError:
            if self._legacy is None:
                base = self.spark.read.parquet(self._file("current"))
                self._legacy = {
                    "version": 0, "base": "current", "base_rows": base.count(), "deltas": [],
                    "schema": base.schema.jsonValue(), "batches": {},
                }
            return self._legacy

    def last_batch_id(self, stream_id: str) -> int:
        """The last streaming batch id committed by `stream_id`, -1 if none."""
        return self._manifest()["batches"].get(stream_id, -1)

    def _resolve(self, m: dict, schema: T.StructType, batch: DataFrame | None = None) -> DataFrame:
        base = self.spark.read.schema(schema).parquet(self._file(m["base"]))
        changes = None
        if m["deltas"]:
            changes = self.spark.read.schema(_delta_schema(schema)).parquet(
                *[self._file(d) for d, _ in m["deltas"]]
            ).withColumn("__v", _delta_version())
        if batch is not None:
            changes = batch if changes is None else changes.unionByName(batch, allowMissingColumns=True)
        if changes is None:
            return base
        return apply_changes(
            base, changes.withColumn("__order", F.struct("__v", "seq")),
            seq="__order", target_key=self.key,
        )

    def read(self) -> DataFrame:
        m = self._manifest()
        return self._resolve(m, T.StructType.fromJson(m["schema"]))

    def _write(self, df: DataFrame, name: str) -> int:
        """Write df to <path>/<name>; returns its row count, observed by
        the write job itself."""
        obs = Observation()
        df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode("overwrite").parquet(
            self._file(name)
        )
        return obs.get["n"]

    def _commit(self, m: dict) -> None:
        """Atomically replace the manifest, then delete what it no longer
        lists. A failed delete is left for the next commit."""
        tmp = self._file(MANIFEST + ".tmp")
        with open(tmp, "w") as f:
            json.dump(m, f)
        os.replace(tmp, self._file(MANIFEST))
        live = {m["base"], *(d for d, _ in m["deltas"])}
        for name in os.listdir(self.path):
            if name not in live and (name == "current" or name.startswith(("base-", "delta-"))):
                try:
                    shutil.rmtree(self._file(name))
                except OSError as e:
                    log.warning("could not delete superseded %s: %s", self._file(name), e)

    def init(self, df: DataFrame) -> None:
        os.makedirs(self.path, exist_ok=True)
        version = self._manifest()["version"] + 1 if os.path.isfile(self._file(MANIFEST)) else 0
        name = f"base-{version:06d}"
        m = {"version": version, "base": name, "deltas": [], "schema": df.schema.jsonValue()}
        self._commit({**m, "base_rows": self._write(df, name), "batches": {}})

    def merge(
        self, changes: DataFrame, seq: str | None = "seq", batch_id: int | None = None, stream_id: str = ""
    ) -> None:
        """changes: doc_id, is_delete, doc struct (+ optional seq).
        Without `seq`, one change per key per batch is assumed. With a
        `batch_id`, the commit records it as `stream_id`'s last applied
        batch; the caller skips a batch at or below `last_batch_id`."""
        m = self._manifest()
        version = m["version"] + 1
        schema = _widen(T.StructType.fromJson(m["schema"]), changes.schema["doc"].dataType)
        order = F.col(seq) if seq is not None and seq in changes.columns else F.lit(None)
        batch = changes.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            "is_delete",
            "doc",
            order.cast("long").alias("seq"),
        )
        delta_rows = sum(n for _, n in m["deltas"])
        if delta_rows > COMPACT_FRACTION * m["base_rows"]:
            name = f"base-{version:06d}"
            # the resolve reads the batch twice (keys and rows): cache it
            # first, so the batch's own plan (and what it observes) runs
            # once, in one job
            with cached(batch.withColumn("__v", F.lit(version).cast("long"))) as batch:
                batch.count()
                rows = self._write(self._resolve(m, schema, batch), name)
            log.info("compacted %s: %d delta rows into %s (%d rows)", self.path, delta_rows, name, rows)
            m = {**m, "base": name, "base_rows": rows, "deltas": []}
        else:
            name = f"delta-{version:06d}"
            m = {**m, "deltas": m["deltas"] + [[name, self._write(batch, name)]]}
        batches = dict(m["batches"])
        if batch_id is not None:
            batches[stream_id] = batch_id
        self._commit({**m, "version": version, "schema": schema.jsonValue(), "batches": batches})
