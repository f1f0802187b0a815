"""Streaming stateful operators (extension surface; SURVEY §7 M5).

route81 itself keeps no stream state beyond the resume timestamp
(SURVEY §2.C: no watermarks/windows by design), so these are the
training-data-pipeline extensions expressed on Structured Streaming's
state store:

  * streaming_exact_dedup — cross-micro-batch exact dedup (first-seen
    wins) on the normalized content hash. With an event-time column the
    state is bounded by `dropDuplicatesWithinWatermark`; without one it
    is unbounded (documented trade-off: matches the reference's
    unbounded keyed upsert state, and the downstream keyed merge is
    idempotent either way).
  * running_group_stats — applyInPandasWithState custom stateful
    aggregation: per-key running (count, sum, min, max) re-emitted on
    every micro-batch that touches the key.
  * bloom_intake — BOUNDED-state paragraph dedup intake: a fixed
    m-bit Bloom bitmap versioned per batch id (replay-idempotent
    foreachBatch), where exact dedup state would grow without bound.

Scale shape: both operators shuffle once on their state key and keep
per-key state O(1); dedup state is one hash per distinct content, which
the watermark evicts in event-time order.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from route81_spark.materialize import cached
from route81_spark.ops.dedup import content_hash

STATS_OUT_SCHEMA = "key string, n long, total double, vmin double, vmax double"
STATS_STATE_SCHEMA = "n long, total double, vmin double, vmax double"


def streaming_exact_dedup(
    stream: DataFrame,
    text_col: str = "text",
    ts_col: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """First-seen-wins exact dedup across micro-batches on the
    normalized content hash (same normalization as the batch
    ops.dedup.exact_dedup, so batch and stream agree on identity)."""
    hashed = stream.withColumn("__chash", content_hash(F.col(text_col)))
    if ts_col is not None:
        deduped = hashed.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            ["__chash"]
        )
    else:
        deduped = hashed.dropDuplicates(["__chash"])
    return deduped.drop("__chash")


def streaming_curate(
    stream: DataFrame,
    index: DataFrame | None = None,
    langs: tuple[str, ...] = ("en",),
    min_quality: float = 0.05,
    min_tokens: int = 5,
    max_tokens: int = 1_000_000,
    text_col: str = "text",
    ts_col: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming corpus intake: the batch funnel's one-expression
    curation gate (lang/quality/length — pure per-row Columns, so it
    streams unchanged), exact dedup against an optional STATIC accepted
    index (stream-static anti-join on the content hash — the streaming
    form of ops.dedup.dedup_against's exact stage), then first-seen
    exact dedup across micro-batches.

    Near-dup (LSH) verification is deliberately NOT here: it self-joins
    the corpus, which Structured Streaming cannot express — the
    standard architecture runs cheap gates inline on ingest and the
    full near-dedup in the periodic batch compaction (ops.corpus.curate
    / ops.dedup.dedup_against over the accumulated table)."""
    from route81_spark.ops.text import curation_gate

    c = F.col(text_col)
    gated = stream.filter(
        curation_gate(c, tuple(langs), min_quality, min_tokens, max_tokens)
    )
    if index is not None:
        ih = index.select(content_hash(F.col(text_col)).alias("__chash")).distinct()
        gated = (
            gated.withColumn("__chash", content_hash(c))
            .join(ih, "__chash", "left_anti")
            .drop("__chash")
        )
    return streaming_exact_dedup(gated, text_col, ts_col=ts_col, watermark=watermark)


def sessionize(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "30 minutes",
    value_col: str = "value",
) -> DataFrame:
    """Gap-based sessionization via the built-in session_window: a
    session extends while consecutive events arrive within `gap`; its
    end is last-event + gap. The SAME expression runs batch and
    streaming (streaming needs a watermark on ts_col upstream; state
    merges sessions across micro-batches). At scale this is one shuffle
    on the session key — no self-join, no per-user collect."""
    from route81_spark.ops.util import det_round

    return (
        df.groupBy(key_col, F.session_window(ts_col, gap))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            det_round(F.sum(value_col), 4).alias("total_value"),
        )
        .select(
            key_col,
            # unix_micros rejects TIMESTAMP_NTZ; the cast reinterprets in
            # the (UTC) session zone, matching DuckDB's tz-less epoch_us
            F.unix_micros(F.col("session_window.start").cast("timestamp")).alias(
                "start_us"
            ),
            F.unix_micros(F.col("session_window.end").cast("timestamp")).alias(
                "end_us"
            ),
            "n_events",
            "total_value",
        )
    )


def windowed_counts(
    stream: DataFrame,
    ts_col: str,
    key_col: str,
    value_col: str,
    window: str = "10 minutes",
    watermark: str = "5 minutes",
) -> DataFrame:
    """Tumbling event-time window aggregation with a watermark — the
    late-data-bounded streaming aggregate (readStream -> watermark ->
    window -> agg). State per (window, key) is dropped once the
    watermark passes the window end, so state size is bounded by
    (watermark / window) * |keys| regardless of stream length."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col(value_col).cast("double")).alias("total"),
        )
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            key_col,
            "n",
            "total",
        )
    )


def _stats_update(key: tuple, pdfs: Iterator[pd.DataFrame], state: Any) -> Iterator[pd.DataFrame]:
    if state.exists:
        n, total, vmin, vmax = state.get
    else:
        n, total, vmin, vmax = 0, 0.0, None, None
    for pdf in pdfs:
        v = pdf["value"].dropna().astype("float64")
        if len(v):
            n += int(len(v))
            total += float(v.sum())
            vmin = float(v.min()) if vmin is None else min(vmin, float(v.min()))
            vmax = float(v.max()) if vmax is None else max(vmax, float(v.max()))
    state.update((n, total, vmin, vmax))
    yield pd.DataFrame(
        {"key": [key[0]], "n": [n], "total": [total], "vmin": [vmin], "vmax": [vmax]}
    )


def running_group_stats(stream: DataFrame, key_col: str, value_col: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: running
    per-key stats, one output row per (key, micro-batch). The last row
    per key is the converged aggregate — checked against the batch
    groupBy in tests."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    prepared = stream.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(value_col).cast("double").alias("value"),
    )
    return prepared.groupBy("key").applyInPandasWithState(
        _stats_update,
        STATS_OUT_SCHEMA,
        STATS_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def streaming_rollup(
    stream: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    watermark: str = "1 hour",
    series_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Continuous-aggregate intake (the streaming half of
    ops.temporal.rollup_time): hour-bucket partials — re-aggregable
    (n, total) only — maintained under a watermark, so state is bounded
    by (watermark / hour) x |active buckets| and a closed bucket is
    emitted exactly once in append mode.

    The coarser resolutions deliberately do NOT stream: day/month
    buckets would hold state open for days. The contract is the
    hypertable one — stream the finest grain, derive the rest in the
    periodic batch compaction via compact_rollup (count/sum re-
    aggregate exactly; avg is derived at read time)."""
    series = list(series_cols)
    return (
        stream.withWatermark(ts_col, watermark)
        # window(), not date_trunc: only a window on the watermarked
        # column keeps the event-time tag append mode requires; its
        # start IS the hour boundary
        .groupBy(F.window(F.col(ts_col), "1 hour").alias("__w"), *series)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col(value_col).cast("double")).alias("total"),
        )
        .select(F.col("__w.start").alias("bucket"), *series, "n", "total")
    )


def compact_rollup(
    hourly: DataFrame,
    resolutions: tuple[str, ...] = ("hour", "day", "month"),
    series_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Batch compaction over accumulated hour partials: derive the
    coarser buckets by re-aggregating (n, total) — NEVER rescanning the
    raw stream — and emit the same (resolution, bucket, n, total, avg)
    shape as ops.temporal.rollup_time. Input is bucket-count-sized, so
    every agg here is tiny regardless of how much raw data the stream
    absorbed."""
    order = [r for r in ("month", "day", "hour") if r in resolutions]
    if len(order) != len(resolutions):
        raise ValueError(f"resolutions must be drawn from month/day/hour: {resolutions}")
    series = list(series_cols)
    parts = []
    for r in order:
        g = (
            hourly.groupBy(F.date_trunc(r, F.col("bucket")).alias("bucket"), *series)
            .agg(F.sum("n").alias("n"), F.sum("total").alias("total"))
            .select(
                *series,
                F.lit(r).alias("resolution"),
                "bucket",
                "n",
                "total",
                (F.col("total") / F.col("n")).alias("avg"),
            )
        )
        parts.append(g)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def streaming_domain_partials(
    stream: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    lang_col: str = "lang",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming half of web.domain_stats (the crawl-intake analog of
    streaming_rollup): hour-windowed per-(domain, text-hash, lang-hash)
    partials — re-aggregable integers only — under a watermark, so
    state is bounded by active buckets x active domains and closed
    buckets emit exactly once in append mode. Document text reduces to
    its 60-bit hash INSIDE the streaming projection; neither text nor
    unbounded distinct-sets ever become state. Dup shares and language
    counts are derived later by compact_domain_stats — cross-batch
    distincts deliberately do NOT stream (they would hold state open
    forever), mirroring the hypertable stream-fine/compact-coarse
    contract."""
    from route81_spark.ops.web import _h60, registrable_domain, url_host

    dom = registrable_domain(url_host(F.col(url_col)))
    lang = F.col(lang_col) if lang_col in stream.columns else F.lit("")
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(
            F.window(F.col(ts_col), "1 hour").alias("__w"),
            dom.alias("domain"),
            _h60(F.col(text_col), "domstats|t").alias("__th"),
            _h60(lang, "domstats|l").alias("__lh"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.length(F.col(text_col)).cast("long")).alias("chars"),
        )
        .select(
            F.col("__w.start").alias("bucket"),
            "domain", "__th", "__lh", "n", "chars",
        )
    )


def compact_domain_stats(partials: DataFrame) -> DataFrame:
    """Batch compaction over accumulated domain partials: EXACTLY the
    (domain, n_docs, n_dup_docs, total_chars, n_langs) web.domain_stats
    computes over the same raw rows — derived purely by re-aggregating
    the hash-grain partials (the raw stream is never rescanned; input
    is partial-count-sized)."""
    per_text = partials.groupBy("domain", "__th").agg(
        F.sum("n").alias("__cnt"), F.sum("chars").alias("__ch")
    )
    rolled = per_text.groupBy("domain").agg(
        F.sum("__cnt").cast("long").alias("n_docs"),
        (F.sum("__cnt") - F.count("*")).cast("long").alias("n_dup_docs"),
        F.sum("__ch").cast("long").alias("total_chars"),
    )
    per_lang = (
        partials.select("domain", "__lh").distinct()
        .groupBy("domain")
        .agg(F.count("*").cast("long").alias("n_langs"))
    )
    # null-safe join: the NULL-domain rollup row must still get its
    # n_langs (plain equi-joins never match NULL keys) — mirrors
    # web.domain_stats exactly so stream==batch parity holds for
    # NULL-domain traffic too.
    pl = per_lang.withColumnRenamed("domain", "__pl_dom")
    return rolled.join(
        pl, F.col("domain").eqNullSafe(F.col("__pl_dom")), "left"
    ).select("domain", "n_docs", "n_dup_docs", "total_chars", "n_langs")


def bloom_intake(
    out_dir: str,
    state_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str | None = None,
    window: int | None = 4,
    m_bits: int = 1 << 20,
    k: int = 3,
    seed: str = "bloom0",
):
    """BOUNDED-state streaming dedup intake — the scale counterpart of
    streaming_exact_dedup: that operator's state grows one hash per
    distinct content forever, while this one holds a FIXED m-bit Bloom
    bitmap (128 KiB at the default m) no matter how many billions of
    units flow past, trading exactness for deterministic false
    positives (over-drop only — a Bloom filter never under-drops).

    Per micro-batch (foreachBatch):
      1. load the newest committed bitmap with batch id < this one
         (replay after a crash reloads the SAME pre-state, recomputes
         the same output, and overwrites its own partition — the
         standard idempotent foreachBatch recipe);
      2. bloom_apply scrubs every unit the index has seen; accepted
         rows land in out_dir/batch=<id>;
      3. the batch's OWN unit bitmap ORs into the state and commits as
         state_dir/words_<id>.npy; older snapshots beyond the latest
         two are pruned at commit (Spark replays at most the last
         batch id, so words_{N-1} is the only one a replay can need —
         keeping two is the safety margin), which also keeps the
         per-batch state-dir scan O(1) instead of O(#batches).

    Returns a function for `.writeStream.foreachBatch(...)`."""
    import os

    import numpy as np

    from route81_spark.ops.corpus import bloom_apply, bloom_build

    n_words = m_bits >> 6
    os.makedirs(state_dir, exist_ok=True)

    def _latest_state(before_id: int) -> "np.ndarray":
        best, path = -1, None
        for f in os.listdir(state_dir):
            if f.startswith("words_") and f.endswith(".npy"):
                bid = int(f[len("words_"):-len(".npy")])
                if best < bid < before_id:
                    best, path = bid, os.path.join(state_dir, f)
        if path is None:
            return np.zeros(n_words, dtype=np.int64)
        return np.load(path)

    def run_batch(batch_df: DataFrame, batch_id: int) -> None:
        words = _latest_state(int(batch_id))
        # two actions read this batch (scrub write + delta build):
        # cache so the source files scan/tokenize once, not twice
        with cached(batch_df) as batch_df:
            accepted = bloom_apply(
                batch_df, [int(w) for w in words], text_col, id_col,
                sep=sep, window=window, k=k, seed=seed,
            )
            accepted.write.mode("overwrite").parquet(
                os.path.join(out_dir, f"batch={int(batch_id)}")
            )
            delta = bloom_build(
                batch_df, text_col, id_col, sep=sep, window=window,
                m_bits=m_bits, k=k, seed=seed,
            ).collect()
        for row in delta:
            words[int(row["word"])] |= np.int64(row["bits"])
        tmp = os.path.join(state_dir, f".words_{int(batch_id)}.tmp.npy")
        np.save(tmp, words)
        os.replace(tmp, os.path.join(state_dir, f"words_{int(batch_id)}.npy"))
        # prune: keep the two newest committed snapshots (replay depth
        # is one batch) so state stays bounded in FILES, not just bytes
        snaps = sorted(
            (int(f[len("words_"):-len(".npy")]), f)
            for f in os.listdir(state_dir)
            if f.startswith("words_") and f.endswith(".npy")
        )
        for _bid, f in snaps[:-2]:
            try:
                os.remove(os.path.join(state_dir, f))
            except OSError:
                pass

    return run_batch
