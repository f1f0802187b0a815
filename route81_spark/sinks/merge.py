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
shape; the parquet swap below is the dependency-free harness stand-in.
Per-key ordering under parallelism comes from ranking by `seq` within
each key — not from any global sort — so the plan is one hash shuffle
on the key, no matter how many executors.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


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


class KeyedParquetTable:
    """Mutable keyed table backed by a parquet directory with
    atomic-rename versioning — the harness stand-in for Delta MERGE /
    MongoDB bulk writes. Used from foreachBatch.

    With `buckets=N` the table is hash-partitioned on the key
    (`bucket=pmod(xxhash64(key), N)` directories) and a merge rewrites
    ONLY the buckets that contain changed keys — the same file-pruning
    property a Delta MERGE gets from data skipping. A CDC batch touching
    0.1% of keys rewrites ~0.1% of buckets instead of the whole table,
    which is what makes a keyed sink viable at 100 TB.

    The table carries the schema of the files it last wrote (`init` and
    every `merge` record it), so reads pass it to the reader and run no
    schema-inference job; an object opened over an existing path infers
    it once, on its first read."""

    def __init__(self, spark: SparkSession, path: str, key: str = "_id", buckets: int = 0):
        self.spark = spark
        self.path = path
        self.key = key
        self.buckets = buckets
        self._schema: T.StructType | None = None

    @property
    def _current(self) -> str:
        return os.path.join(self.path, "current")

    def exists(self) -> bool:
        return os.path.isdir(self._current)

    def _scan(self) -> DataFrame:
        """The files under current/ as written (with the `bucket`
        partition column when bucketed)."""
        if self._schema is None:
            self._schema = self.spark.read.parquet(self._current).schema
        return self.spark.read.schema(self._schema).parquet(self._current)

    def read(self) -> DataFrame:
        df = self._scan()
        return df.drop("bucket") if self.buckets else df

    def _bucket_of(self, col) -> "F.Column":
        return F.pmod(F.xxhash64(col.cast("string")), F.lit(self.buckets)).cast("int")

    def _write(self, df: DataFrame, path: str) -> None:
        """Overwrite `path` with df and record df's schema as the
        table's."""
        writer = df.write.mode("overwrite")
        if self.buckets:
            writer = writer.partitionBy("bucket")
        writer.parquet(path)
        self._schema = df.schema

    def init(self, df: DataFrame) -> None:
        os.makedirs(self.path, exist_ok=True)
        if self.buckets:
            df = df.withColumn("bucket", self._bucket_of(F.col(self.key)))
        self._write(df, self._current)

    def merge(self, changes: DataFrame, seq: str | None = "seq") -> None:
        """changes: doc_id, is_delete, doc struct (+ optional seq)."""
        if self.buckets:
            self._merge_bucketed(changes, seq)
            return
        new_state = apply_changes(self.read(), changes, seq=seq, target_key=self.key)
        tmp = os.path.join(self.path, "next")
        self._write(new_state, tmp)
        old = self._current
        swap = os.path.join(self.path, "prev")
        if os.path.isdir(swap):
            shutil.rmtree(swap)
        os.rename(old, swap)
        os.rename(tmp, old)
        shutil.rmtree(swap)

    def _merge_bucketed(self, changes: DataFrame, seq: str | None) -> None:
        """Rewrite only the buckets containing changed keys, via dynamic
        partition overwrite (non-touched bucket directories are left
        untouched on disk)."""
        changes = changes.withColumn("bucket", self._bucket_of(F.col("doc_id")))
        touched = [r["bucket"] for r in changes.select("bucket").distinct().collect()]
        if not touched:
            return
        current = self._scan().filter(F.col("bucket").isin(touched))
        new_state = apply_changes(
            current.drop("bucket"), changes.drop("bucket"), seq=seq, target_key=self.key
        )
        out = new_state.withColumn("bucket", self._bucket_of(F.col(self.key)))
        # write the new versions of the touched buckets to a scratch dir
        # (cannot overwrite the path being read), then swap exactly those
        # bucket directories; untouched buckets are never rewritten
        tmp = os.path.join(self.path, "next")
        if os.path.isdir(tmp):
            shutil.rmtree(tmp)
        self._write(out, tmp)
        for b in touched:
            cur_b = os.path.join(self._current, f"bucket={b}")
            new_b = os.path.join(tmp, f"bucket={b}")
            if os.path.isdir(cur_b):
                shutil.rmtree(cur_b)
            if os.path.isdir(new_b):
                # bucket still has rows; an all-deleted bucket simply
                # stays removed so deletes are not resurrected
                os.rename(new_b, cur_b)
        shutil.rmtree(tmp, ignore_errors=True)
