"""Temporal join/rollup operators (extension surface).

Operators a time-series / event-log workload needs that neither the
reference (route81 delegates all queries to the MongoDB server,
/root/reference/route81.go:181-197) nor stock Spark SQL expresses
directly: as-of joins, interval (range) joins, and hypertable-style
multi-resolution rollups. Each is built as a composition of existing
DataFrame ops chosen for the 100 TB plan shape, never a theta-join:

  * asof_join     — the classic union trick: tag both sides, ONE hash
                    shuffle on the key, a running last_value window
                    carries the most recent right row forward onto each
                    left row. No inequality join, no per-key loop; cost
                    is one Exchange + one sort, identical to a groupBy.
  * range_join    — interval containment via time-bucketing: an
                    interval explodes to the fixed-width buckets it
                    covers, the point side maps to its single bucket,
                    and the match becomes an EQUI-join on (key, bucket)
                    refined by the exact range predicate. Each
                    (interval, point) pair meets exactly once (the
                    point's bucket is unique), so no dedup pass. This
                    is the standard replacement for the
                    BroadcastNestedLoopJoin Spark would otherwise pick.
  * rollup_time   — hour/day/month rollup in ONE scan and ONE shuffle
                    via Spark's native rollup() (Expand + partial
                    hash agg): map-side combine collapses the 4x
                    expansion to (distinct buckets x levels) before
                    anything moves. Re-aggregable stats only (count /
                    sum; avg derived at the end), the continuous-
                    aggregate contract of hypertable systems.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from route81_spark.materialize import cache, scope


def _as_seconds(c: Column, dtype: T.DataType) -> Column:
    """Epoch seconds (double) from a timestamp/ntz/numeric column.
    TIMESTAMP_NTZ cannot cast to double directly — reinterpret in the
    (UTC) session zone first, like ops.streaming.sessionize does."""
    if isinstance(dtype, T.TimestampNTZType):
        c = c.cast("timestamp")
    return c.cast("double")


def _tag_union(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_ts: str,
    right_ts: str,
    suffix: str,
    extra_cols=None,
):
    """Shared as-of machinery: tag right rows (side 0, payload struct)
    and left rows (side 1, null payload of the same type), union them.
    Returns (unioned, right_tagged, payload_cols, out_names).
    ``extra_cols`` maps name -> fn(ts_col, dtype) for derived columns
    that must exist on both sides (e.g. the time slice)."""
    payload_cols = [c for c in right.columns if c not in keys]
    out_names = {c: (c + suffix if c in left.columns else c) for c in payload_cols}

    payload = F.struct(
        *[F.col(c).alias(out_names[c]) for c in payload_cols],
        F.col(right_ts).alias("__rts"),
    )
    extra_cols = extra_cols or {}
    r = right.select(
        *keys,
        F.col(right_ts).alias("__ts"),
        *[
            fn(F.col(right_ts), right.schema[right_ts].dataType).alias(name)
            for name, fn in extra_cols.items()
        ],
        F.lit(0).alias("__side"),
        payload.alias("__pay"),
    )
    lpay_t = "struct<" + ",".join(
        f"`{out_names[c]}`:{right.schema[c].dataType.simpleString()}" for c in payload_cols
    ) + f",`__rts`:{right.schema[right_ts].dataType.simpleString()}>"
    l = left.select(
        "*",
        F.col(left_ts).alias("__ts"),
        *[
            fn(F.col(left_ts), left.schema[left_ts].dataType).alias(name)
            for name, fn in extra_cols.items()
        ],
        F.lit(1).alias("__side"),
        F.lit(None).cast(lpay_t).alias("__pay"),
    )
    return l.unionByName(r, allowMissingColumns=True), r, payload_cols, out_names


def _extract_match(out: DataFrame, left_cols: list[str], payload_cols, out_names) -> DataFrame:
    return out.select(
        *left_cols,
        *[F.col(f"__m.`{out_names[c]}`").alias(out_names[c]) for c in payload_cols],
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    tolerance_s: float | None = None,
    suffix: str = "_r",
) -> DataFrame:
    """Left as-of join: for every left row, attach the right row with
    the greatest ``right_ts`` <= ``left_ts`` for the same key(s)
    (pandas ``merge_asof`` direction='backward', inclusive). Left rows
    with no prior right row keep nulls; with ``tolerance_s`` a match
    older than ``left_ts - tolerance_s`` is also nulled.

    Contract: ``right`` must be unique per (key, right_ts) — pre-
    aggregate otherwise (ties would be resolved arbitrarily, breaking
    rerun determinism).

    Scale shape: union both sides (narrow), ONE hash Exchange on the
    key, one per-key sort by (ts, side) where right rows at equal ts
    sort before left (inclusive <=), then ``last(payload, ignorenulls)``
    over an unbounded-preceding running window. The shuffle carries
    each row once; no inequality join, no BroadcastNestedLoopJoin, no
    per-key collect. A pathologically hot single key serializes into
    one task (window semantics) — shard such keys by time range
    upstream if that ever dominates.
    """
    keys = [on] if isinstance(on, str) else list(on)
    unioned, _, payload_cols, out_names = _tag_union(
        left, right, keys, left_ts, right_ts, suffix
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col("__ts").asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = unioned.withColumn("__m", F.last("__pay", ignorenulls=True).over(w))
    out = matched.filter(F.col("__side") == 1)
    if tolerance_s is not None:
        in_tol = (
            _as_seconds(F.col("__ts"), left.schema[left_ts].dataType)
            - _as_seconds(F.col("__m.__rts"), right.schema[right_ts].dataType)
        ) <= F.lit(float(tolerance_s))
        out = out.withColumn("__m", F.when(in_tol, F.col("__m")))
    return _extract_match(out, list(left.columns), payload_cols, out_names)


def asof_join_sliced(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    slice_s: int = 3600,
    suffix: str = "_r",
) -> DataFrame:
    """asof_join for HOT keys: the plain form's window serializes each
    key into one task, so a key with 10^9 events is a straggler. This
    variant runs the heavy scan partitioned by (key, time-slice) — even
    parallelism no matter how hot the key — then stitches slices with a
    two-level segmented scan:

      1. in-slice pass: the union-tag running-last-value window, but
         partitioned by (key, slice) — each slice's rows are a task.
      2. carry pass: per (key, slice), the slice's final right row
         (a tiny aggregate); a per-key window over SLICE SUMMARIES
         (rows = #slices, not #events) computes the strictly-earlier
         carry-in, joined back on (key, slice).

    A left row's match is its in-slice match if any, else the carry-in
    from earlier slices — exactly the plain as-of semantics (verified
    by equivalence tests). Same right-side uniqueness contract.

    Pick slice_s so a slice's events fit a task comfortably; the
    per-key stitch handles time-range/slice_s rows per key.

    Measured crossover (tools/scale_probe.py hot_key_asof, local[32]):
    the slicing costs ~2x coordination, so the plain form still wins at
    10^7 events/key; at 4x10^7 this form is 3.1x faster (28.8s vs
    9.3s), and the gap widens with volume and with cores — the plain
    window is pinned to ONE core regardless of cluster size. Use plain
    for ordinary keys, this for the hot ones.
    """
    keys = [on] if isinstance(on, str) else list(on)

    def slice_of(c: Column, dtype: T.DataType) -> Column:
        return F.floor(_as_seconds(c, dtype) / F.lit(int(slice_s))).cast("long")

    unioned, r, payload_cols, out_names = _tag_union(
        left, right, keys, left_ts, right_ts, suffix,
        extra_cols={"__slice": slice_of},
    )

    # pass 1: heavy scan, evenly partitioned by (key, slice)
    w_slice = (
        Window.partitionBy(*keys, "__slice")
        .orderBy(F.col("__ts").asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    in_slice = unioned.withColumn("__m", F.last("__pay", ignorenulls=True).over(w_slice))

    # pass 2: slice summaries — final right row per (key, slice), then a
    # strictly-preceding running last over slices per key
    finals = r.groupBy(*keys, "__slice").agg(F.max_by("__pay", "__ts").alias("__fin"))
    slices = (
        unioned.select(*keys, "__slice").distinct()
        .join(finals, [*keys, "__slice"], "left")
    )
    w_carry = (
        Window.partitionBy(*keys)
        .orderBy(F.col("__slice").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = slices.withColumn(
        "__carry", F.last("__fin", ignorenulls=True).over(w_carry)
    ).select(*keys, "__slice", "__carry")

    out = (
        in_slice.filter(F.col("__side") == 1)
        .join(carry, [*keys, "__slice"], "left")
        .withColumn("__m", F.coalesce(F.col("__m"), F.col("__carry")))
    )
    return _extract_match(out, list(left.columns), payload_cols, out_names)


def asof_join_static(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    suffix: str = "_r",
) -> DataFrame:
    """As-of join against a STATIC right side, in a form Structured
    Streaming accepts: the window-based asof_join cannot stream
    (non-time windows are unsupported on streams), so here the right
    side collapses to one sorted array of (ts, payload) per key —
    a batch aggregation, broadcast-joined onto the (possibly streaming)
    left — and each left row picks its match with a pure-Column
    element_at(filter(...), -1) probe. Same backward-inclusive
    semantics as asof_join.

    Scale shape: ZERO shuffle on the left/stream side (broadcast hash
    join + per-row expressions). The right side must be
    dimension-sized: each key's full history lives in one array cell,
    so this is the reference-data enrichment case (latest price, last
    config change), not the fact-fact case — use asof_join for that.
    """
    keys = [on] if isinstance(on, str) else list(on)
    payload_cols = [c for c in right.columns if c not in keys]
    out_names = {c: (c + suffix if c in left.columns else c) for c in payload_cols}

    entry = F.struct(
        F.col(right_ts).alias("__rts"),
        F.struct(*[F.col(c).alias(out_names[c]) for c in payload_cols]).alias("__p"),
    )
    hist = right.groupBy(*keys).agg(
        F.sort_array(F.collect_list(entry)).alias("__hist")
    )
    joined = left.join(F.broadcast(hist), keys, "left")
    lts = F.col(left_ts)
    # try_element_at: an empty filtered history (no quote at-or-before,
    # or key absent) is a null match, not an ANSI index error
    match = F.try_element_at(
        F.filter(F.col("__hist"), lambda e: e["__rts"] <= lts), F.lit(-1)
    )
    return joined.select(
        *left.columns,
        *[match["__p"][out_names[c]].alias(out_names[c]) for c in payload_cols],
    )


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    on: str | list[str],
    point_ts: str = "ts",
    start_col: str = "start",
    end_col: str = "end",
    bucket_s: int = 3600,
) -> DataFrame:
    """Inner interval join: each point row pairs with every interval of
    the same key(s) satisfying ``start <= point_ts < end`` (half-open).

    Scale shape: an interval explodes to ceil(len/bucket_s)+1 fixed
    buckets; a point maps to exactly ONE bucket; the join is an
    EQUI-join on (keys..., bucket) refined by the exact predicate.
    Because the point's bucket is unique, each qualifying pair is
    produced exactly once — no distinct pass. Pick ``bucket_s`` near
    the typical interval length: the interval side then explodes ~2x
    and the shuffle stays linear in |points| + |intervals|, vs. the
    O(|points| x |intervals|) BroadcastNestedLoopJoin Spark plans for
    a raw range predicate.

    Column-name collisions between the two inputs are the caller's to
    resolve (select/alias first), as with a plain join.
    """
    keys = [on] if isinstance(on, str) else list(on)
    b = F.lit(int(bucket_s))

    iv = intervals.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(
                    _as_seconds(F.col(start_col), intervals.schema[start_col].dataType) / b
                ).cast("long"),
                F.floor(
                    _as_seconds(F.col(end_col), intervals.schema[end_col].dataType) / b
                ).cast("long"),
            )
        ),
    )
    pt = points.withColumn(
        "__bucket",
        F.floor(
            _as_seconds(F.col(point_ts), points.schema[point_ts].dataType) / b
        ).cast("long"),
    )
    joined = pt.join(iv, [*keys, "__bucket"])
    refined = joined.filter(
        (F.col(point_ts) >= F.col(start_col)) & (F.col(point_ts) < F.col(end_col))
    )
    return refined.drop("__bucket")


def rollup_time(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    resolutions: tuple[str, ...] = ("hour", "day", "month"),
    series_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Hypertable-style multi-resolution rollup: one row per
    (series..., resolution, time bucket) with re-aggregable stats
    (n, total) plus the derived avg. Resolutions must be a contiguous
    coarse<-fine chain from ('month','day','hour') — the hierarchy
    Spark's rollup() expresses. With ``series_cols`` the hierarchy is
    computed per series (the timeseries-DB continuous-aggregate shape);
    series-level subtotals and the grand total are excluded.

    Scale shape: ONE corpus scan, ONE shuffle. ``rollup()`` compiles to
    Expand (one copy per grouping set) + hash aggregation, and the
    map-side partial agg collapses the expansion to
    (series x distinct buckets x levels) rows before the Exchange —
    the same cost as the finest-grain groupBy alone. Only re-aggregable
    accumulators ride the shuffle (count/sum); avg is derived after.
    """
    order = [r for r in ("month", "day", "hour") if r in resolutions]
    if len(order) != len(resolutions):
        raise ValueError(f"resolutions must be drawn from month/day/hour: {resolutions}")
    series = list(series_cols)

    ts = F.col(ts_col)
    base = df.select(
        *series,
        *[F.date_trunc(r, ts).alias(f"__{r}") for r in order],
        F.col(value_col).alias("__v"),
    )
    # series cols first: in grouping_id they take the HIGH bits, so any
    # set that rolls a series col away gets a gid above every time-level
    # gid and the isin() filter below drops it (incl. the grand total)
    g = base.rollup(*series, *[f"__{r}" for r in order]).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__v").alias("total"),
        F.grouping_id().alias("__gid"),
    )
    level = F.lit(None).cast("string")
    bucket: Column = F.lit(None).cast("timestamp")
    level_gids = []
    for i, r in enumerate(order):
        # level i keeps cols 0..i and rolls away the len-1-i finer cols;
        # rollup's grouping_id sets one low bit per rolled column
        gid_here = (1 << (len(order) - 1 - i)) - 1
        level_gids.append(gid_here)
        level = F.when(F.col("__gid") == F.lit(gid_here), F.lit(r)).otherwise(level)
        bucket = F.when(F.col("__gid") == F.lit(gid_here), F.col(f"__{r}")).otherwise(bucket)
    return (
        g.filter(F.col("__gid").isin(level_gids))
        .select(
            *series,
            level.alias("resolution"),
            bucket.alias("bucket"),
            F.col("n"),
            F.col("total"),
            (F.col("total") / F.col("n")).alias("avg"),
        )
    )


def _reach_levels(
    df: DataFrame,
    steps: list,
    step_col: str,
    ts_col: str,
    user_col: str,
) -> list:
    """Shared funnel machinery: per step, the CACHED user-level
    (user, __t) table of reach times — step i's reach is the earliest
    step-i event at-or-after the step-(i-1) reach. Caching each (tiny)
    level keeps the event log scanned once per step instead of O(k^2);
    the caller's `materialize.scope()` releases the levels."""
    reach = None
    levels: list = []
    for step in steps:
        ev = df.filter(F.col(step_col) == step).select(
            F.col(user_col), F.col(ts_col).alias("__ts")
        )
        if reach is None:
            reach = ev.groupBy(user_col).agg(F.min("__ts").alias("__t"))
        else:
            reach = (
                ev.join(reach.select(user_col, "__t"), user_col)
                .filter(F.col("__ts") >= F.col("__t"))
                .groupBy(user_col)
                .agg(F.min("__ts").alias("__t"))
            )
        reach = cache(reach)
        levels.append(reach)
    return levels


def transition_counts(
    df: DataFrame,
    step_col: str = "event_type",
    ts_col: str = "ts",
    user_col: str = "user_id",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """First-order (Markov) transition counts: per user's time-ordered
    sequence, count (current -> next) step pairs — the behavioral-flow
    matrix behind sankeys and next-action models. One lead() window
    shuffle on the user key + a tiny step-pair aggregation;
    deterministic via the tiebreak column."""
    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(tiebreak_col).asc()
    )
    o = df.withColumn("__next", F.lead(F.col(step_col)).over(w))
    return (
        o.filter(F.col("__next").isNotNull())
        .groupBy(
            F.col(step_col).alias("from_type"),
            F.col("__next").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


def funnel_counts(
    df: DataFrame,
    steps: list,
    step_col: str = "event_type",
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Ordered funnel analysis: for each step i, how many users reached
    it IN ORDER — a user reaches step i at the earliest event of that
    step at-or-after their step-(i-1) reach time. The product-analytics
    staple (signup -> activation -> purchase), exactly specified so it
    oracles cleanly.

    Returns (step:int, step_name, n_users), one row per step.

    Scale shape: one filtered min-aggregation per step over (user,
    reach-time) — each produces a USER-level table (tiny vs the event
    log) joined back by user key; the event log itself is scanned once
    per step with the step filter pushed down, and nothing ever
    self-joins at event granularity."""
    if not steps:
        raise ValueError("funnel_counts needs at least one step")
    with scope():
        levels = _reach_levels(df, steps, step_col, ts_col, user_col)
        # ONE job for all steps: tag each (cached, user-level) level
        # with its step index, union, and count per tag — k sequential
        # .count() actions would pay scheduler overhead per funnel step
        tagged = None
        for i, lvl in enumerate(levels):
            t = lvl.select(F.lit(i + 1).alias("step"))
            tagged = t if tagged is None else tagged.unionByName(t)
        got = {
            r["step"]: r["n_users"]
            for r in tagged.groupBy("step")
            .agg(F.count(F.lit(1)).alias("n_users"))
            .collect()
        }
    counts = [
        (i + 1, str(step), int(got.get(i + 1, 0)))
        for i, step in enumerate(steps)
    ]
    return df.sparkSession.createDataFrame(
        counts, "step int, step_name string, n_users long"
    )


def retention_cohorts(
    df: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    period_s: int = 7 * 86400,
) -> DataFrame:
    """Cohort retention: users grouped by first-activity period
    (cohort); for each (cohort, period-offset), the count and share of
    the cohort active in that period — the companion analysis to
    funnel_counts.

    Returns (cohort, offset, n_active, n_cohort, retention) with
    cohort = the epoch-aligned period start timestamp and offset in
    whole periods from the cohort period (offset 0 is first activity,
    so its retention is 1.0 by construction).

    Scale shape: one (user, period) distinct agg over the log, one
    user-level min for the cohort, a user-key join, then a tiny
    (cohort, offset) agg — user-level tables throughout; no event-
    granularity self-join."""
    period = F.lit(int(period_s))
    pstart = (
        F.floor(_as_seconds(F.col(ts_col), df.schema[ts_col].dataType) / period)
        .cast("long")
    )
    active = (
        df.select(F.col(user_col), pstart.alias("__p"))
        .distinct()
    )
    first = active.groupBy(user_col).agg(F.min("__p").alias("__cohort"))
    cohort_sizes = first.groupBy("__cohort").agg(
        F.count(F.lit(1)).alias("n_cohort")
    )
    joined = active.join(first, user_col)
    per_cell = joined.groupBy("__cohort", (F.col("__p") - F.col("__cohort")).alias("offset")).agg(
        F.count(F.lit(1)).alias("n_active")
    )
    from route81_spark.ops.util import det_round

    return (
        per_cell.join(cohort_sizes, "__cohort")
        .select(
            F.timestamp_seconds(F.col("__cohort") * period).alias("cohort"),
            F.col("offset"),
            "n_active",
            "n_cohort",
            det_round(F.col("n_active") / F.col("n_cohort"), 4).alias("retention"),
        )
    )


def rolling_zscore_anomalies(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
    window_rows: int = 10,
    threshold: float = 2.0,
    min_n: int = 5,
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Per-series rolling z-score anomaly flags: each event scored
    against the mean/stddev of its trailing `window_rows`-event window
    (itself included); |z| > threshold flags an anomaly once the window
    holds at least `min_n` events. The standard cheap change detector
    for metric streams.

    Returns the input plus (roll_n, z, is_anomaly); z is null (and the
    flag false) while the window is short or flat (std ~ 0).

    Scale shape: ONE hash shuffle on the series key + a per-key sort —
    the same cost as any windowed aggregate; no self-joins. Rows-window
    (not range) so the memory per key is bounded by window_rows."""
    if order_tiebreak is None:
        raise ValueError(
            "rolling_zscore_anomalies needs order_tiebreak (a unique column "
            "breaking equal-ts ties) — without one, equal-timestamp rows sort "
            "arbitrarily and the flags are nondeterministic across runs"
        )
    order = [F.col(ts_col).asc(), F.col(order_tiebreak).asc()]
    w = (
        Window.partitionBy(key_col)
        .orderBy(*order)
        .rowsBetween(-(window_rows - 1), Window.currentRow)
    )
    v = F.col(value_col).cast("double")
    mean = F.avg(v).over(w)
    std = F.stddev_samp(v).over(w)
    n = F.count(F.lit(1)).over(w)
    from route81_spark.ops.util import det_round

    z = F.when(
        (n >= min_n) & std.isNotNull() & (std > 1e-9), (v - mean) / std
    )
    return df.select(
        "*",
        n.alias("roll_n"),
        det_round(z, 4).alias("z"),
        F.coalesce(F.abs(z) > threshold, F.lit(False)).alias("is_anomaly"),
    )


def funnel_latency(
    df: DataFrame,
    steps: list,
    step_col: str = "event_type",
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Step-latency companion to funnel_counts: for each transition
    step i-1 -> i, the median / p90 seconds users took (among users who
    reached step i, with reach times defined exactly as funnel_counts).
    Exact interpolated percentiles, so the numbers oracle cleanly.

    Returns (step, step_name, n_users, p50_s, p90_s), one row per
    transition (steps[1:]). Same scale shape as funnel_counts:
    user-level min-aggs chained by user key; percentile aggs run over
    user-level tables."""
    if len(steps) < 2:
        raise ValueError("funnel_latency needs at least two steps")
    from route81_spark.ops.util import det_round

    with scope():
        levels = _reach_levels(df, steps, step_col, ts_col, user_col)
        # ONE job for all transitions: tag each per-transition delta
        # table with its step index, union, aggregate per tag — the
        # per-step .first() loop ran one Spark job per funnel step
        deltas = None
        for i in range(1, len(steps)):
            prev, reach = levels[i - 1], levels[i]
            d = reach.join(
                prev.select(user_col, F.col("__t").alias("__t0")), user_col
            ).select(
                F.lit(i + 1).alias("step"),
                (
                    _as_seconds(F.col("__t"), df.schema[ts_col].dataType)
                    - _as_seconds(F.col("__t0"), df.schema[ts_col].dataType)
                ).alias("__d"),
            )
            deltas = d if deltas is None else deltas.unionByName(d)
        got = {
            r["step"]: r
            for r in deltas.groupBy("step")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.percentile(F.col("__d"), 0.5).alias("p50"),
                F.percentile(F.col("__d"), 0.9).alias("p90"),
            )
            .collect()
        }
    rows = []
    for i, step in enumerate(steps[1:], start=1):
        agg = got.get(i + 1)
        rows.append(
            (
                i + 1,
                str(step),
                0 if agg is None else int(agg["n"]),
                None if agg is None or agg["p50"] is None else float(agg["p50"]),
                None if agg is None or agg["p90"] is None else float(agg["p90"]),
            )
        )
    out = df.sparkSession.createDataFrame(
        rows, "step int, step_name string, n_users long, p50_s double, p90_s double"
    )
    return out.select(
        "step",
        "step_name",
        "n_users",
        det_round(F.col("p50_s"), 4).alias("p50_s"),
        det_round(F.col("p90_s"), 4).alias("p90_s"),
    )
