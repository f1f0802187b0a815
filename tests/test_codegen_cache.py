"""The JVM's codegen cache holds the program's repeating working set: a
fixed cycle of queries run a second time in one session compiles no
generated class, and /stats reports the JVM's compiles."""

from __future__ import annotations

import json
import urllib.request

from route81_spark import harness
from route81_spark.session import CODEGEN_CACHE_ENTRIES, codegen_totals
from route81_spark.stats import StatsListener, serve_stats

# 133 classes at sf0.001, more than Spark's default cache of 100 holds:
# five of the `query_mix` queries and eight more. text_lm_nll is left
# out: two of its stages run independently, their codegen stage ids
# (part of the generated source) follow the order in which adaptive
# execution plans them, and a run that sees a new order compiles new
# classes with any cache size.
CYCLE = [
    "group_sum_avg",
    "tpch_q3_pipeline",
    "redact_pipeline",
    "bucket_auto_custkey",
    "events_asof_join",
    "events_rollup",
    "unwind_group",
    "match_project",
    "dedup_exact",
    "text_stats",
    "corpus_dataset_card",
    "text_char_entropy",
    "corpus_fim",
]


def _compiles(spark, fn) -> int:
    before = codegen_totals(spark)["codegen_compiles"]
    fn()
    return codegen_totals(spark)["codegen_compiles"] - before


def test_second_cycle_compiles_nothing(spark, sf_dir):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)
    qs = harness.queries()

    def cycle():
        for name in CYCLE:
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()

    _compiles(spark, cycle)
    assert _compiles(spark, cycle) == 0


def test_stats_reports_codegen_compiles(spark):
    """/stats adds the JVM's compile count and milliseconds to the
    listener's counters, which it serves unchanged."""
    spark.range(3).selectExpr("id * 7919 + 13 AS y").collect()
    listener = StatsListener(log=False)
    srv = serve_stats(listener)
    try:
        before = codegen_totals(spark)
        stats = json.loads(urllib.request.urlopen(f"http://127.0.0.1:{srv.server_port}/stats").read())
    finally:
        srv.shutdown()
    counters = listener.snapshot()
    assert {k: stats.pop(k) for k in counters} == counters
    assert set(stats) == set(before)
    assert stats["codegen_compiles"] >= before["codegen_compiles"] > 0
    assert stats["codegen_compile_ms"] >= before["codegen_compile_ms"] > 0
