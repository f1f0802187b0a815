"""Crash cuts through the streaming consumer's keyed-table commit.

A failure is injected at each step of a merge's commit: the delta
write, the manifest's temp file, the manifest replace, the compacting
base write and the deletion of superseded files. The table and the
stream are then reopened on the same checkpoint. The target must equal
a model of the messages, and each message must count once in the
consumer's `success` counter. A batch the table already committed, run
again by the stream (a crash between the two commits), changes neither
the target nor the counters."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import DataFrameWriter
from pyspark.sql import types as T

from route81_spark.config import ConsumerSpec
from route81_spark.jobs.consumer import consumer_job
from route81_spark.session import codegen_totals
from route81_spark.sinks import merge as M
from route81_spark.sinks.merge import KeyedParquetTable

DOC = T.StructType([T.StructField("_id", T.StringType()), T.StructField("x", T.IntegerType())])
RECORDS = "value binary, seq long"
SPEC = ConsumerSpec(
    kafka_topics=["t"], mongo_namespace="db.c", document_root_path="data", bulk_flush_seconds=0
)
SEED = 20  # rows: a delta passes the compaction rule after 2 batches of 3


def _record(key: str, seq: int, x: int | None) -> tuple[bytes, int]:
    """One ext-JSON consumer message; x=None is an id-only delete."""
    data = {"_id": key} if x is None else {"_id": key, "x": {"$numberInt": str(x)}}
    value = json.dumps({"meta": {"ts": {"$timestamp": {"t": 1, "i": seq}}}, "data": data})
    return value.encode(), seq


class Consumer:
    """A target table, its model, and a consumer stream over a parquet
    topic directory that can be reopened on the same checkpoint."""

    def __init__(self, spark, root, seed: int = SEED) -> None:
        self.spark, self.root = spark, root
        self.path = str(root / "t")
        self.topic = root / "topic"
        self.topic.mkdir()
        self.model = {f"k{j}": j for j in range(seed)}
        KeyedParquetTable(spark, self.path).init(
            spark.createDataFrame(sorted(self.model.items()), DOC)
        )
        self.stats: dict = {}
        self.sent = 0
        self.query = None
        self.open()

    def open(self, checkpoint: str = "ckpt") -> None:
        self.table = KeyedParquetTable(self.spark, self.path)
        stream = self.spark.readStream.schema(RECORDS).parquet(str(self.topic))
        self.query = consumer_job(
            self.spark, SPEC, stream, self.table, DOC, str(self.root / checkpoint), stats=self.stats
        )

    def send(self, b: int) -> None:
        """One batch of 3 messages: an update, a delete, an insert."""
        rows = [
            _record(f"k{b}", 10 * b, 100 + b),
            _record(f"k{b + 10}", 10 * b + 1, None),
            _record(f"n{b}", 10 * b + 2, b),
        ]
        self.model.update({f"k{b}": 100 + b, f"n{b}": b})
        self.model.pop(f"k{b + 10}", None)
        self.sent += len(rows)
        self.spark.createDataFrame(rows, RECORDS).coalesce(1).write.mode("append").parquet(
            str(self.topic)
        )

    def run(self) -> None:
        """Process what was sent; on a failed stream, reopen the table and
        the stream on the same checkpoint and process again."""
        try:
            self.query.processAllAvailable()
        except StreamingQueryException:
            self.open()
            self.query.processAllAvailable()

    def check(self) -> None:
        rows = KeyedParquetTable(self.spark, self.path).read().collect()
        assert len(rows) == len(self.model)
        assert dict(tuple(r) for r in rows) == self.model
        assert self.stats == {"success": self.sent, "failed": 0}
        # what the manifest does not list was deleted by a later commit
        m = json.loads(open(os.path.join(self.path, M.MANIFEST)).read())
        on_disk = {n for n in os.listdir(self.path) if n.startswith(("base-", "delta-"))}
        assert on_disk == {m["base"], *(d for d, _ in m["deltas"])}


def _arm(monkeypatch, cut: str, fired: list) -> None:
    """Make the first `cut` step of a commit fail, once."""
    if cut in ("delta_write", "base_write"):
        prefix = cut.split("_")[0] + "-"
        real = DataFrameWriter.parquet

        def parquet(self, path, *args, **kwargs):
            real(self, path, *args, **kwargs)
            if os.path.basename(path).startswith(prefix) and not fired:
                fired.append(path)
                raise OSError(f"cut after writing {path}")

        monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    elif cut == "manifest_tmp":

        def open_(path, mode="r", *args, **kwargs):
            f = open(path, mode, *args, **kwargs)
            if "w" in mode and not fired:
                f.write('{"version": ')  # a torn temp file
                f.close()
                fired.append(path)
                raise OSError(f"cut writing {path}")
            return f

        monkeypatch.setattr(M, "open", open_, raising=False)
    elif cut == "replace":
        real = os.replace

        def replace(src, dst, *args, **kwargs):
            if str(dst).endswith(M.MANIFEST) and not fired:
                fired.append(dst)
                raise OSError(f"cut replacing {dst}")
            return real(src, dst, *args, **kwargs)

        monkeypatch.setattr(M.os, "replace", replace)
    else:
        real = M.shutil.rmtree

        def rmtree(path, *args, **kwargs):
            if os.path.basename(path).startswith(("base-", "delta-")) and not fired:
                fired.append(path)
                raise OSError(f"cut deleting {path}")
            return real(path, *args, **kwargs)

        monkeypatch.setattr(M.shutil, "rmtree", rmtree)


# (step, batch it cuts): batch 1 writes a delta; batch 2 compacts, so
# its commit supersedes files; batch 3 writes a delta again
CUTS = [
    ("delta_write", 1), ("manifest_tmp", 1), ("replace", 1),
    ("base_write", 2), ("manifest_tmp", 2), ("replace", 2), ("cleanup", 2),
]


@pytest.mark.parametrize("cut,at", CUTS, ids=[f"{c}-{b}" for c, b in CUTS])
def test_crash_cut_reopens_exactly_once(spark, tmp_path, monkeypatch, cut, at):
    c = Consumer(spark, tmp_path)
    try:
        c.send(0)
        c.run()
        fired: list = []
        for b in (1, 2, 3):
            if b == at:
                _arm(monkeypatch, cut, fired)
            c.send(b)
            c.run()
            assert fired or b < at, f"the {cut} cut did not run in batch {at}"
    finally:
        c.query.stop()
    c.check()


def test_replayed_batch_changes_nothing(spark, tmp_path):
    """The stream runs a batch again when it crashed after the table's
    commit and before its own commit log entry: the table skips it."""
    c = Consumer(spark, tmp_path)
    try:
        for b in (0, 1):
            c.send(b)
            c.run()
        c.query.stop()
        manifest = os.path.join(c.path, M.MANIFEST)
        before = open(manifest).read()
        commits = tmp_path / "ckpt" / "commits"
        for name in ("1", ".1.crc"):
            (commits / name).unlink(missing_ok=True)
        c.open()
        c.query.processAllAvailable()
        assert (commits / "1").exists()  # the batch ran again
        assert open(manifest).read() == before
        c.check()
        c.send(2)
        c.run()
    finally:
        c.query.stop()
    c.check()


def test_new_checkpoint_is_a_new_stream(spark, tmp_path):
    """Batch ids are recorded per stream: a stream started on a new
    checkpoint over the same table numbers its batches from 0 again, and
    they apply."""
    c = Consumer(spark, tmp_path)
    try:
        for b in (0, 1):
            c.send(b)
            c.run()
        c.query.stop()
        # the new stream reads the whole topic again: every message is
        # replayed into the table and counted again
        c.sent *= 2
        c.open("ckpt2")
        c.send(2)
        c.run()
    finally:
        c.query.stop()
    c.check()


def test_steady_batch_compiles_nothing(spark, tmp_path):
    """A consumer batch that writes a delta runs the code of the batch
    before it: once warm, it compiles no generated class. (A version
    literal in the delta rows compiled 2 new classes per batch.)"""
    c = Consumer(spark, tmp_path, seed=200)  # 16 batches of 3 before a compaction
    try:
        for b in (0, 1, 2):
            c.send(b)
            c.run()
        before = codegen_totals(spark)["codegen_compiles"]
        c.send(3)
        c.run()
        assert codegen_totals(spark)["codegen_compiles"] == before
        deltas = json.loads(open(os.path.join(c.path, M.MANIFEST)).read())["deltas"]
        assert [d for d, _ in deltas] == [f"delta-{v:06d}" for v in (1, 2, 3, 4)]
    finally:
        c.query.stop()
    c.check()
