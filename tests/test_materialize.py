"""materialize.py: the verbs free what they made, a scope returns the
persistent-RDD set and the CacheManager to where they were, and every
registered query that materializes anything leaves nothing behind."""

from __future__ import annotations

import threading

import pytest

from route81_spark import materialize as M
from route81_spark.session import driver_memory


def _held(spark) -> tuple[set, int]:
    rdds = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    cached = spark._jsparkSession.sharedState().cacheManager().cachedData().size()
    return rdds, cached


def _added(spark, before: tuple[set, int]) -> tuple[set, int]:
    """Persistent RDDs and CacheManager entries added since `before`.
    Only additions count: the JVM may collect an earlier test's
    leftovers meanwhile."""
    rdds, cached = _held(spark)
    return rdds - before[0], max(0, cached - before[1])


def test_driver_memory_is_half_of_ram_capped_at_16g(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert driver_memory(15 * 2**30) == "7680m"
    assert driver_memory(64 * 2**30) == "16384m"
    with open("/proc/meminfo") as fh:
        kb = int(fh.readline().split()[1])  # MemTotal
    assert driver_memory() == f"{min(kb // 2048, 16384)}m"
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert driver_memory(15 * 2**30) == "3g"


def test_release_frees_persisted_and_pinned(spark):
    before = _held(spark)
    p = M.pin(spark.range(10).selectExpr("id * 2 AS v"))
    c = M.cache(spark.range(7).selectExpr("id + 1 AS w"))
    assert p.count() == 10 and c.count() == 7
    assert _added(spark, before)[0] and _added(spark, before)[1] == 1
    M.release(p)
    M.release(c)
    assert _added(spark, before) == (set(), 0)


def test_scope_releases_what_it_made(spark):
    before = _held(spark)
    with M.scope():
        with M.scope() as inner:
            a = M.cache(spark.range(5).selectExpr("id AS a"))
            kept = inner.keep(M.checkpoint(a.selectExpr("a + 1 AS b")))
            M.pin(a.selectExpr("a * 3 AS c")).count()
        # the inner scope freed its cache and pin but not what it kept
        assert _added(spark, before)[1] == 0
        assert sorted(r["b"] for r in kept.collect()) == [1, 2, 3, 4, 5]
        with M.cached(spark.range(3).selectExpr("id AS d")) as d:
            assert d.count() == 3
    assert _added(spark, before) == (set(), 0)


def test_scope_is_per_thread(spark):
    before = _held(spark)
    made = []
    with M.scope():
        t = threading.Thread(target=lambda: made.append(M.pin(spark.range(4))))
        t.start()
        t.join(timeout=60)
        assert not t.is_alive()
    # a pin made on another thread is not this scope's to free
    assert made[0].count() == 4
    M.release(made[0])
    assert _added(spark, before) == (set(), 0)


def test_pin_passes_streaming_frames_through(spark):
    stream = spark.readStream.format("rate").load()
    assert M.pin(stream) is stream


# every registered query that, unscoped, left a persistent RDD or a
# CacheManager entry behind (tools/check_correctness.py's LEAK report)
LEAKING = [
    "corpus_bpe_encode",
    "corpus_bpe_merges",
    "corpus_budget_select",
    "corpus_crawl_funnel",
    "corpus_curation",
    "corpus_drift",
    "corpus_dsir",
    "corpus_overlap_sketch",
    "corpus_zipf",
    "dedup_end_to_end",
    "dedup_incremental",
    "dedup_lsh_jaccard",
    "graph_lookup_chain",
    "text_ccnet_buckets",
    "text_lm_nll",
    "text_quality_apply",
    "text_quality_classifier",
    "text_rare_bigrams",
]


@pytest.mark.parametrize("name", LEAKING)
def test_query_scope_leaves_nothing(spark, sf_dir, name):
    import __spark_entry__ as entry

    fn = entry.queries()[name]
    before = _held(spark)
    with M.scope():
        fn(spark, sf_dir).toPandas()
    assert _added(spark, before) == (set(), 0)
