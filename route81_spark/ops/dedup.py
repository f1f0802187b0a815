"""Deduplication operators over the `documents` table.

Four families (BASELINE north-star; SURVEY §7 M5):
  * exact          — hash-groupBy on a normalized content hash
  * MinHash + LSH  — shingle -> k minhashes -> banded bucket-join
  * SimHash        — bitwise-majority token-hash signature
  * n-gram Jaccard — exact Jaccard verification on candidate pairs

Scale design: every op is shuffle-minimal —
  * exact dedup: one hash aggregation on the content hash (map-side
    partial agg applies).
  * MinHash sigs: pure per-row expressions, no shuffle at all.
  * LSH candidates: explode to (band, band_hash) and self-join on the
    band key — the join key is the bucket, so co-candidates co-locate in
    one shuffle; no O(n^2) crossJoin ever materializes.
  * Jaccard verify runs only on candidate pairs.
Hashes are md5-derived 60-bit ints so DuckDB oracles match exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from route81_spark.materialize import cache, cached, checkpoint, scope
from route81_spark.ops.text import shingles, tokens
from route81_spark.ops.util import det_round as _det_round


def h64(col: Column, seed: int) -> Column:
    """Deterministic 60-bit integer hash, oracle-reproducible:
    conv(substr(md5(seed|x),1,15),16,10)."""
    return F.conv(F.substring(F.md5(F.concat(F.lit(f"{seed}|"), col)), 1, 15), 16, 10).cast("long")


def content_hash(text_col: Column) -> Column:
    """Normalized exact-dup hash: lowercase, collapsed whitespace."""
    return F.md5(F.regexp_replace(F.lower(F.trim(text_col)), r"\s+", " "))


def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One row per distinct content: (content_hash, keep_id, n_dups)."""
    return (
        df.select(content_hash(F.col(text_col)).alias("chash"), F.col(id_col))
        .groupBy("chash")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_docs"))
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id representative of each exact-duplicate group.

    ONE corpus shuffle: rank within each content-hash partition and keep
    rank 1. Spark's WindowGroupLimit pushes the rank<=1 filter map-side,
    so the shuffle carries at most one row per (partition, content) —
    strictly better than the agg + semi-join formulation, which
    re-shuffled the FULL corpus rows a second time on the id key."""
    from pyspark.sql import Window

    w = Window.partitionBy(content_hash(F.col(text_col))).orderBy(F.col(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# Universal-hash family for MinHash: one md5 base hash per shingle, k
# derived hashes h_j = ((base mod P) * A_j + B_j) mod P with P = 2^31-1.
# 8x less md5 work than hashing per seed, and every value is exactly
# reproducible in SQL (no overflow: (P-1)*A_j + B_j < 2^62).
MINHASH_P = 2_147_483_647  # 2^31 - 1 (Mersenne prime)


def minhash_seed_params(j: int) -> tuple[int, int]:
    return 2 * j + 1, j * 12_345 + 6_789


def derived_hash(base: Column, j: int) -> Column:
    a, b = minhash_seed_params(j)
    return ((base % MINHASH_P) * F.lit(a) + F.lit(b)) % MINHASH_P


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, mh0..mh{k-1}) via the scalable formulation: explode shingles,
    md5 each shingle ONCE, derive the k seed hashes arithmetically, then
    groupBy(id).agg(min...).

    Why this shape at 100 TB: one expensive hash per shingle row (no
    expression duplication), the min-aggregation combines map-side
    (whole-stage codegen'd partial agg), and the only shuffle carries k
    longs per document — not the shingle sets."""
    from route81_spark.io import ensure_parallelism

    exploded = ensure_parallelism(df.select(id_col, text_col)).select(
        F.col(id_col), F.explode(shingles(F.col(text_col), shingle_n)).alias("__sh")
    )
    based = exploded.select(id_col, h64(F.col("__sh"), 0).alias("__b"))
    hashed = based.select(
        id_col, *[derived_hash(F.col("__b"), j).alias(f"__h{j}") for j in range(k)]
    )
    return hashed.groupBy(id_col).agg(
        *[F.min(f"__h{j}").alias(f"mh{j}") for j in range(k)]
    )


def lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    bands: int = 4,
    max_bucket_size: int = 4096,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) sharing >= 1 LSH band.

    Plan shape: agg-form signatures -> band hashes -> posexplode ->
    groupBy (band_idx, band_hash) collecting each bucket's id list ->
    generate the in-bucket pairs with array expressions. One pass over
    the signature lineage (the md5-per-shingle cost is paid once; the
    former self-join formulation computed it once per side) and one
    shuffle (the bucket groupBy; the join formulation shuffled both
    sides). Pair count per bucket is m(m-1)/2 either way — inherent to
    LSH — but in-bucket generation materializes a bucket's pairs in a
    single row, so buckets larger than `max_bucket_size` (degenerate
    boilerplate clusters) fall back to a per-row equi-join that spreads
    the quadratic output across tasks. Result set is identical."""
    rows = k // bands
    sigs = minhash_signatures(df, text_col, id_col, k)
    band_hashes = [
        F.md5(F.concat_ws(",", *[F.col(f"mh{b * rows + r}") for r in range(rows)])).alias(f"b{b}")
        for b in range(bands)
    ]
    banded = sigs.select(F.col(id_col), F.array(*band_hashes).alias("bh"))
    exploded = banded.select(id_col, F.posexplode("bh").alias("band_idx", "band_hash"))
    buckets = (
        exploded.groupBy("band_idx", "band_hash")
        .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    ids = F.col("ids")
    small_pairs = (
        buckets.filter(F.size(ids) <= max_bucket_size)
        .select(
            F.explode(
                F.flatten(
                    F.transform(
                        ids,
                        # 2-arg lambda = (element, index) in Spark HOFs
                        lambda x, i: F.transform(
                            F.slice(ids, i + F.lit(2), F.size(ids)),
                            lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.id_a", "p.id_b")
    )
    big = buckets.filter(F.size(ids) > max_bucket_size).select(
        "band_idx", "band_hash", F.explode(ids).alias(id_col)
    )
    # Spread shape of this lane (probed r10, tools/scale_probe.py
    # lsh_megacluster): the joined side carries bucket MEMBERS only
    # (linear in cluster size), so Catalyst broadcasts it and the m^2
    # pair GENERATION streams over the other side with no join-key
    # shuffle — salting is therefore a no-op here (verified: identical
    # wall time at spread 1 vs 32; the build side is broadcast either
    # way). What DOES serialize is the stream side's layout: explode
    # leaves a mega-bucket's members in the few partitions its
    # per-band bucket rows occupied, so one hash repartition of the
    # member rows (linear cost) spreads the quadratic generation
    # across the cluster. If the member side ever outgrows the
    # broadcast threshold, the fallback sort-merge join's hot key is
    # AQE skew-join territory (enabled by default), not hand salting.
    a = big.repartition(F.col(id_col)).alias("a")
    big_pairs = a.join(
        big.alias("b"),
        (F.col("a.band_idx") == F.col("b.band_idx"))
        & (F.col("a.band_hash") == F.col("b.band_hash"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
    return small_pairs.unionByName(big_pairs).distinct()


def jaccard(a_tokens: Column, b_tokens: Column) -> Column:
    """Exact Jaccard over distinct token/shingle sets."""
    inter = F.size(F.array_intersect(a_tokens, b_tokens))
    union = F.size(F.array_union(a_tokens, b_tokens))
    return F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))


def ngram_jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.0,
) -> DataFrame:
    """Score candidate pairs with exact shingle-set Jaccard. `pairs` has
    (id_a, id_b); the doc table joins in twice (broadcast when small).

    The caller's `materialize.scope()` releases its two caches."""
    # the pairs DataFrame is consumed three times below (two id
    # projections + the scoring join); without persistence the whole
    # LSH candidate DAG — the expensive part — re-executes each time.
    # Candidates are tiny relative to the corpus, so caching them is
    # the correct trade at any scale (MEMORY_AND_DISK spills safely).
    from pyspark import StorageLevel

    if pairs.storageLevel == StorageLevel.NONE:
        pairs = cache(pairs, StorageLevel.MEMORY_AND_DISK)
    # compute shingles only for documents that appear in a candidate pair
    # (left-semi prune): at 100 TB the candidate set is orders of
    # magnitude smaller than the corpus
    ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .unionByName(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    needed = df.join(F.broadcast(ids), id_col, "left_semi")
    # persisted: the a-side and b-side joins below are DIFFERENT join
    # keys, so without a cache the shingling of the needed docs runs
    # twice (no ReusedExchange across renamed plans). Bounded by the
    # candidate set.
    sh = cache(needed.select(
        F.col(id_col), F.array_sort(shingles(F.col(text_col), shingle_n)).alias("sh")
    ))
    out = (
        pairs.join(sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        # det_round: engine round() implementations disagree near halves
        .select(
            "id_a",
            "id_b",
            _det_round(jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard"),
        )
    )
    return out.filter(F.col("jaccard") >= threshold) if threshold > 0 else out


def simhash(text_col: Column, n_bits: int = 16) -> Column:
    """SimHash: for each bit, majority vote of token-hash bits (with
    multiplicity); bit set iff sum(+1/-1) > 0. Pure per-row expressions.

    One fold over the token hashes with a struct accumulator carrying
    all n_bits vote counters — the per-bit-aggregate form re-evaluated
    the md5 hash array once per bit (n_bits full passes)."""

    def with_hashes(hs: Column) -> Column:
        zero = F.struct(
            *[F.lit(0).cast("long").alias(f"b{b}") for b in range(n_bits)]
        )

        def step(acc: Column, h: Column) -> Column:
            return F.struct(
                *[
                    (
                        acc[f"b{b}"]
                        + F.when(
                            F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, F.lit(1)
                        ).otherwise(F.lit(-1))
                    ).alias(f"b{b}")
                    for b in range(n_bits)
                ]
            )

        def with_votes(votes: Column) -> Column:
            out = F.lit(0).cast("long")
            for b in range(n_bits):
                out = out + F.when(
                    votes[f"b{b}"] > 0, F.lit(2**b).cast("long")
                ).otherwise(F.lit(0).cast("long"))
            return out

        # votes is referenced n_bits times below — bind it, or the whole
        # fold re-runs per bit
        return F.get(
            F.transform(F.array(F.aggregate(hs, zero, step)), with_votes), 0
        )

    hashes = F.transform(tokens(text_col), lambda t: h64(t, 0))
    return F.get(F.transform(F.array(hashes), with_hashes), 0)


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def near_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    bands: int = 2,
    jaccard_threshold: float = 0.5,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """The end-to-end dedup product: drop exact duplicates, then drop
    near-duplicates (LSH candidates verified by Jaccard >= threshold,
    clustered, min-id representative kept). Returns the surviving rows.

    Composition of shuffle-minimal pieces: exact = one hash agg;
    candidates = band equi-join; verify = broadcast-pruned Jaccard;
    clusters = connected components of the (tiny) verified-pair graph;
    final filter = broadcast anti-join of the loser set.

    Everything materialized on the way is released before the call
    returns. The result is checkpointed (`materialize.checkpoint`, with
    `checkpoint_dir` for the cluster loop and the result alike), so
    downstream actions re-read it instead of re-running the funnel."""
    # survivors feeds three consumers (candidate gen, Jaccard verify,
    # the final anti-join) — persist or the exact-dedup agg runs 3x
    # during the eager clustering below
    with cached(exact_dedup(df, text_col, id_col)) as survivors, scope() as s:
        cand = lsh_candidates(survivors, text_col, id_col, k=k, bands=bands)
        verified = ngram_jaccard_pairs(
            survivors, cand, text_col, id_col, threshold=jaccard_threshold
        )
        # eager: near_dup_clusters materializes the pair graph + labels,
        # so after this line the candidate/verify lineage is consumed
        clusters = near_dup_clusters(
            verified.select("id_a", "id_b"), checkpoint_dir=checkpoint_dir
        )
        losers = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select(
            F.col("doc_id").alias(id_col)
        )
        result = survivors.join(F.broadcast(losers), id_col, "left_anti")
        # materialize while survivors is still cached: the caller's
        # actions then read the checkpointed result instead of paying
        # the gate+exact-dedup scans again after the release
        return s.keep(checkpoint(result, checkpoint_dir))


def _symmetric(e: DataFrame) -> DataFrame:
    return e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _star_step(sym: DataFrame, large: bool) -> DataFrame:
    """One large-star / small-star operation (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) over a
    symmetric edge list. Per node u with neighborhood N(u) and
    m = min(N(u) ∪ {u}): large-star links every neighbor v > u to m;
    small-star links every neighbor v < u, plus u itself, to m. One
    groupBy shuffle per operation; neighborhoods shrink geometrically."""
    nbr = sym.groupBy("src").agg(F.collect_set("dst").alias("nbrs"))
    m = F.least(F.col("src"), F.array_min("nbrs"))
    if large:
        targets = F.filter(F.col("nbrs"), lambda v: v > F.col("src"))
    else:
        targets = F.array_union(
            F.filter(F.col("nbrs"), lambda v: v < F.col("src")),
            F.array(F.col("src")),
        )
    return (
        nbr.select(F.explode(targets).alias("src"), m.alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _star_components(edges: DataFrame, checkpoint_dir: str | None, max_rounds=64) -> DataFrame:
    """Connected components via alternating large-star/small-star:
    O(log^2 n) rounds regardless of component *diameter*, so a deep
    chain costs no more rounds than a shallow tree. Returns (id, label)
    with label = component minimum, one row per node of `edges`.
    Edges arrive as (src, dst) pairs; convergence is detected by a
    (count, hash-sum) signature of the edge multiset — two scalars, no
    driver-side edge list."""
    nodes = edges.select(F.col("src").alias("id")).unionByName(
        edges.select(F.col("dst").alias("id"))
    )
    prev_sig = None
    for _ in range(max_rounds):
        # one checkpoint per round: the small-star step reads the
        # large-star output in both edge directions through one reused
        # shuffle, so a lineage cut in between would only add a job
        large = _star_step(_symmetric(edges), large=True)
        edges = checkpoint(_star_step(_symmetric(large), large=False), checkpoint_dir)
        sig = tuple(
            edges.agg(
                F.count(F.lit(1)),
                # decimal sum: exact and overflow-proof under ANSI mode
                F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")),
            ).collect()[0]
        )
        if sig == prev_sig:
            break
        prev_sig = sig
    else:  # pragma: no cover - log^2 bound makes this unreachable
        raise RuntimeError(f"star contraction did not converge in {max_rounds} rounds")
    # at convergence the graph is a forest of stars centered on each
    # component minimum: children point at their root (label < id).
    # Every input node self-labels too and the min keeps the root, so
    # roots — and nodes whose only edge was a self-loop, which the
    # steps drop — each get exactly one row
    return (
        nodes.select("id", F.col("id").alias("label"))
        .unionByName(edges.select(F.col("src").alias("id"), F.col("dst").alias("label")))
        .groupBy("id")
        .agg(F.min("label").alias("label"))
    )


def dedup_against(
    new: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    bands: int = 2,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Incremental-ingest dedup: drop rows of `new` that exactly or
    nearly duplicate a document already in `index` (the accepted
    corpus). The index is never modified; duplicates WITHIN the new
    batch are near_dedup's job, not this one's.

    Shape mirrors the self-dedup pipeline but always joins NEW vs
    INDEX, never self: content-hash anti-join for exact dups; MinHash
    band buckets equi-joined across the two tables for candidates;
    shingle-Jaccard verification on candidates only (semi-join pruned
    per side); broadcast anti-join of the verified losers. At 100 TB
    the index side's signatures can be precomputed/stored — the band
    join only carries (id, band hash) rows either way.

    The caller's `materialize.scope()` releases the candidate cache."""
    nh = new.withColumn("__ch", content_hash(F.col(text_col)))
    ih = index.select(content_hash(F.col(text_col)).alias("__ch")).distinct()
    survivors = nh.join(ih, "__ch", "left_anti").drop("__ch")

    rows_per_band = k // bands

    def banded(df: DataFrame, out_id: str) -> DataFrame:
        sigs = minhash_signatures(df, text_col, id_col, k)
        bhs = [
            F.md5(
                F.concat_ws(
                    ",",
                    *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)],
                )
            ).alias(f"b{b}")
            for b in range(bands)
        ]
        return sigs.select(
            F.col(id_col).alias(out_id),
            F.posexplode(F.array(*bhs)).alias("band_idx", "band_hash"),
        )

    cand = cache(
        banded(survivors, "id_a")
        .join(banded(index, "id_b"), ["band_idx", "band_hash"])
        .select("id_a", "id_b")
        .distinct()
    )

    def shingle_side(df: DataFrame, ids_col: str, sh_alias: str) -> DataFrame:
        ids = cand.select(F.col(ids_col).alias(id_col)).distinct()
        needed = df.join(F.broadcast(ids), id_col, "left_semi")
        return needed.select(
            F.col(id_col).alias(ids_col),
            F.array_sort(shingles(F.col(text_col))).alias(sh_alias),
        )

    verified = (
        cand.join(shingle_side(survivors, "id_a", "sh_a"), "id_a")
        .join(shingle_side(index, "id_b", "sh_b"), "id_b")
        .select(
            "id_a",
            _det_round(jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("j"),
        )
    )
    losers = (
        verified.filter(F.col("j") >= jaccard_threshold)
        .select(F.col("id_a").alias(id_col))
        .distinct()
    )
    return survivors.join(F.broadcast(losers), id_col, "left_anti")


# near_dup_clusters' one routing rule: pair graphs up to this many rows
# take the driver union-find, every larger one star contraction
SMALL_GRAPH_MAX_EDGES = 100_000


def _collected_components(pairs: DataFrame, rows: list) -> DataFrame:
    """Driver-side union-find over a COLLECTED edge list (small-graph
    fast path of near_dup_clusters). Union-by-min keeps every tree
    rooted at its component minimum, so find(n) IS the cluster label —
    the same min-reachable-id contract as star contraction. Python's
    str ordering agrees with Spark's UTF8String comparison (UTF-8 byte
    order preserves code-point order), so labels match for string and
    numeric ids alike."""
    from pyspark.sql import types as T

    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        a, b = r["src"], r["dst"]
        for n in (a, b):
            parent.setdefault(n, n)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    idt = pairs.schema["id_a"].dataType
    schema = T.StructType(
        [T.StructField("doc_id", idt), T.StructField("cluster_id", idt)]
    )
    data = [(n, find(n)) for n in parent]
    return pairs.sparkSession.createDataFrame(data, schema)


def near_dup_clusters(pairs: DataFrame, checkpoint_dir: str | None = None) -> DataFrame:
    """Connected components over near-dup pairs: (doc_id, cluster_id)
    where cluster_id = min doc id reachable through the pair graph —
    the grouping that turns candidate pairs into dedup decisions (keep
    one representative per cluster). Every id of the pair set gets a
    row, including one whose only pair is a self-loop.

    One rule picks the algorithm: graphs with <= SMALL_GRAPH_MAX_EDGES
    pair rows run a driver-side union-find over the collected edge
    list; every larger graph runs large-star/small-star contraction
    (`_star_components`, O(log^2 n) rounds regardless of component
    diameter). The verified near-dup pair graph is usually orders of
    magnitude smaller than the corpus — a few hundred edges at test
    scale, where distributed rounds cost seconds of pure job scheduling
    against a graph that fits in one network packet. 100k edges is a
    few MB on the driver; a corpus with pathological duplication blows
    past the threshold and takes the distributed path, so there is no
    scale cliff.

    `checkpoint_dir`: see `materialize.checkpoint`."""
    # persist BEFORE the path decision: both the size count and (on
    # large graphs) the distributed loop read the cached edge set, so
    # the expensive upstream candidate/verify lineage executes exactly
    # once regardless of which path wins
    with cached(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    ) as edges:
        # Size the graph with ONE aggregation job, then collect from the
        # cache only when it is provably small. A `.limit(N+1).collect()`
        # probe runs Spark's incremental CollectLimit — up to ~20
        # scale-up attempt jobs per call (r14 job trace: 21 jobs, ~2.5 s
        # of pure scheduling at sf0.1). The count is the RAW pair row
        # count: union-find is idempotent under duplicate edges, and a
        # raw count >= the distinct count only sends a borderline graph
        # to the distributed path, which computes the same labels.
        n_raw = edges.count()
        if n_raw <= SMALL_GRAPH_MAX_EDGES:
            return _collected_components(pairs, edges.collect())
        # Right-size the loop's parallelism to the PAIR GRAPH, not the
        # corpus: running each round's tiny shuffles through corpus-sized
        # task counts makes per-round scheduling the dominant cost (~1
        # partition per 250k pair rows). The checkpoint reads the
        # persisted edges, so the upstream DAG never re-executes.
        parts = max(2, min(32, n_raw // 250_000 + 1))
        edges_ck = checkpoint(edges.coalesce(parts), checkpoint_dir)
    labels = _star_components(edges_ck, checkpoint_dir)
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("cluster_id"))


def edit_distance_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_norm: float = 1.0,
) -> DataFrame:
    """Score candidate pairs with exact Levenshtein edit distance — the
    right verifier where shingle Jaccard is too coarse (short texts,
    titles, near-identical docs differing by character edits). Built-in
    levenshtein() on both engines, so this stays JVM-side and
    oracle-checkable.

    Returns (id_a, id_b, dist, norm_dist) with norm_dist = dist /
    max(len_a, len_b), filtered to norm_dist <= max_norm. Scale shape:
    identical to the Jaccard verifier — texts join onto the (tiny)
    candidate-pair set, never pairwise over the corpus; O(len^2) DP cost
    is paid only on candidate pairs."""
    docs = df.select(F.col(id_col), F.col(text_col))
    a = docs.select(
        F.col(id_col).alias("id_a"), F.col(text_col).alias("__ta")
    )
    b = docs.select(
        F.col(id_col).alias("id_b"), F.col(text_col).alias("__tb")
    )
    joined = pairs.select("id_a", "id_b").join(a, "id_a").join(b, "id_b")
    dist = F.levenshtein(F.col("__ta"), F.col("__tb"))
    denom = F.greatest(F.length("__ta"), F.length("__tb"))
    norm = F.when(denom > 0, dist.cast("double") / denom.cast("double")).otherwise(
        F.lit(0.0)
    )
    from route81_spark.ops.util import det_round

    return (
        joined.select(
            "id_a",
            "id_b",
            dist.cast("long").alias("dist"),
            det_round(norm, 6).alias("norm_dist"),
        )
        .filter(F.col("norm_dist") <= max_norm)
    )


def cluster_representatives(
    df: DataFrame,
    clusters: DataFrame,
    score: Column,
    id_col: str = "doc_id",
) -> DataFrame:
    """Pick each near-dup cluster's KEEPER by a caller-supplied score
    (highest wins; ties break to min id for rerun determinism) instead
    of near_dedup's min-id policy — the knob curation pipelines want:
    keep the highest-quality / longest / most-recent copy, drop the
    rest.

    `clusters` is near_dup_clusters' (doc_id, cluster_id) output —
    rows NOT in any cluster are untouched survivors. One max_by agg on
    the (tiny) cluster table + a broadcast anti-join of the losers:
    the corpus itself never shuffles."""
    scored = df.select(F.col(id_col), score.alias("__score"))
    members = clusters.select(
        F.col("doc_id").alias(id_col), "cluster_id"
    ).join(scored, id_col)
    # min_by over (negated score, id): largest score wins, ties fall to
    # the smallest id — and the id is compared natively, so string ids
    # work (negating the id aborts under ANSI for non-numeric ids)
    keepers = members.groupBy("cluster_id").agg(
        F.min_by(
            F.col(id_col),
            F.struct((-F.col("__score")).alias("s"), F.col(id_col).alias("i")),
        ).alias("__keep")
    )
    losers = (
        members.join(keepers, "cluster_id")
        .filter(F.col(id_col) != F.col("__keep"))
        .select(id_col)
    )
    return df.join(F.broadcast(losers), id_col, "left_anti")


def cdc_boundaries(
    text: Column, k: int = 8, divisor: int = 16, seed: str = "cdcb0"
) -> Column:
    """Content-defined chunk boundary positions (Rabin/FastCDC family,
    position-independence variant): position j (1-based, k <= j < len)
    ends a chunk iff the md5-derived 60-bit hash of the k chars ending
    at j is 0 mod `divisor` — so boundaries move WITH the content, and
    an insertion near the front of a document shifts chunk alignment
    only locally (the property that makes chunk-level dedup robust,
    unlike fixed-width windows). Expected chunk length ~= divisor.
    Dropping FastCDC's min/max-size clamps keeps every position's
    boundary decision independent -> per-row parallel and exactly
    SQL-replicable."""
    ln = F.length(text)
    return F.when(
        ln >= k + 1,
        F.filter(
            F.sequence(F.lit(k), ln - 1),
            lambda j: h64(F.substr(text, j - (k - 1), F.lit(k)), seed) % divisor
            == 0,
        ),
    ).otherwise(F.array().cast("array<int>"))


def cdc_chunk_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    divisor: int = 16,
    seed: str = "cdcb0",
    content_seed: str = "cdcc0",
) -> DataFrame:
    """Content-defined chunking + corpus-wide chunk-level dedup
    accounting — the storage/transfer primitive behind crawl-snapshot
    dedup: split every document at content-defined boundaries, hash
    each chunk, and charge every repeat of a chunk already seen at a
    smaller (doc, position) as duplicated bytes. Returns per document
    (id, n_chunks, total_chars, n_dup_chunks, dup_chars); the corpus
    dedup ratio is sum(dup_chars)/sum(total_chars).

    100 TB shape: chunk text reduces to (hash, len) integers PER ROW
    before anything wide happens; the winner per chunk hash is one
    map-side-combinable min(struct(doc,pos)) agg (skew-safe where a
    ROW_NUMBER window over a hot chunk hash would serialize); the
    exploded integer rows join the winners back on the hash and
    re-aggregate per doc. Raw text NEVER shuffles — the only Exchanges
    carry (hash, doc, pos, len) tuples."""
    text = F.col(text_col)

    # bind the boundary array ONCE per row (the F.array binding idiom):
    # the naive form re-evaluated the O(len) md5 boundary chain for
    # every element_at(starts/ends, i) reference — O(len * chunks) md5
    # per document, measured 100x slower at the 20x probe scale
    def with_b(bnd: Column) -> Column:
        starts = F.concat(F.array(F.lit(1)), F.transform(bnd, lambda b: b + 1))
        ends = F.concat(bnd, F.array(F.length(text)))
        return F.zip_with(
            starts,
            ends,
            lambda s, e: F.struct(
                h64(F.substr(text, s, e - s + 1), content_seed).alias("h"),
                (e - s + 1).cast("int").alias("ln"),
            ),
        )

    chunks = F.get(
        F.transform(
            F.array(cdc_boundaries(text, k=k, divisor=divisor, seed=seed)),
            with_b,
        ),
        0,
    )
    ex = df.select(
        F.col(id_col), F.posexplode(chunks).alias("pos", "c")
    ).select(
        F.col(id_col),
        (F.col("pos") + 1).cast("int").alias("p"),
        F.col("c.h"),
        F.col("c.ln"),
    )
    winners = ex.groupBy("h").agg(
        F.min(F.struct(F.col(id_col).alias("i"), F.col("p").alias("q"))).alias(
            "w"
        )
    )
    dup = (F.col("w.i") != F.col(id_col)) | (F.col("w.q") != F.col("p"))
    return (
        ex.join(winners, "h")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("int").alias("n_chunks"),
            F.sum("ln").alias("total_chars"),
            F.sum(dup.cast("int")).cast("int").alias("n_dup_chunks"),
            F.sum(F.when(dup, F.col("ln")).otherwise(0)).alias("dup_chars"),
        )
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: tuple[int, int] = (1, 2),
    max_df: int = 32,
    seed: int = 19,
) -> DataFrame:
    """Asymmetric near-CONTAINMENT detection — the quote/extraction
    primitive Jaccard resemblance misses: a short document pasted into
    a long one scores |A∩B|/min(|A|,|B|) ~= 1 while its Jaccard
    |A∩B|/|A∪B| stays near 0. Pairs (a < b) of documents whose exact
    n-token shingle-set intersection covers >= threshold of the SMALLER
    set. Returns (id_a, id_b, inter, size_a, size_b, containment).

    100 TB shape: an inverted-index self-join — each distinct
    (doc, shingle-hash) row meets its co-occurrences ON the shingle
    key, never all-pairs. Shingles appearing in more than `max_df`
    documents are dropped from intersection counting BEFORE the join
    (the stop-shingle guard: boilerplate n-grams otherwise fan out
    d^2/2 pairs each); set sizes keep the full count, so pruning can
    only UNDER-count containment — a containment-0.5 pair built from
    stop-shingles alone is noise, not signal. The threshold compares
    integer cross-products (2*inter >= min-size); the reported double
    is display-only.

    Execution shape: per-doc shingle-hash DEDUP and set size are pure
    per-row expressions (array_distinct + size over the bound hash
    array — a document is row-local, so its distinct set never needs a
    shuffle), making the first stage map-only; the exploded
    already-distinct (doc, hash, size) rows then take ONE exchange for
    the per-shingle document-frequency window, whose hash partitioning
    the posting-list groupBy reuses. The stop-shingle prune is a
    filter (not a groupBy + broadcast anti-join) and set sizes ride
    along instead of being re-attached by two id joins. After the
    prune every shingle's posting list is bounded by max_df, so the
    inverted-index SELF-JOIN becomes a bounded collect_list + pair
    explode over the SAME partitioning the df window already
    established — the whole query is one linear pipeline (the scan +
    explode executes once; the r13 form evaluated it six times) with
    two real Exchanges (df window, pair aggregation) and no join. The
    r14 first cut kept a corpus-wide (i, h) distinct + a per-doc size
    window behind a repartition("i") — one whole exchange + two
    aggregation passes for facts the row already knew. The window
    count (not collect_list) does the hot-shingle detection, so
    per-task state stays bounded even for a boilerplate shingle
    present in millions of documents (window partitions spill through
    the sorter; the collected lists exist only post-prune, capped at
    max_df)."""
    num, den = threshold
    hset = F.array_distinct(
        F.transform(shingles(F.col(text_col), n), lambda s: h64(s, seed))
    )
    sh = (
        df.select(F.col(id_col).alias("i"), hset.alias("__hs"))
        # full set size per doc (counted BEFORE the stop-shingle prune,
        # as the contract requires) is row-local; computed BELOW the
        # explode so the Generate's required child output is (i, sz)
        # and the hash array never rides along the exploded rows
        # (size above the Generate kept __hs in every output row —
        # an O(set size) copy per exploded row). long: the former
        # window count was int64 and the oracle pins BIGINT sizes.
        .select("i", F.size("__hs").cast("long").alias("sz"), "__hs")
        # the explode emits per-doc-distinct rows by construction
        .select("i", "sz", F.explode("__hs").alias("h"))
        # document frequency per shingle hash — the one corpus shuffle
        .withColumn("df", F.count("*").over(Window.partitionBy("h")))
        .filter(F.col("df") <= max_df)
    )
    posting = sh.groupBy("h").agg(
        F.collect_list(F.struct("i", "sz")).alias("ds")
    )
    pairs = posting.select(
        F.explode("ds").alias("a"), "ds"
    ).select(
        "a",
        F.explode(
            F.filter("ds", lambda d: d["i"] > F.col("a")["i"])
        ).alias("b"),
    )
    inter = (
        pairs.groupBy(
            F.col("a")["i"].alias("id_a"), F.col("b")["i"].alias("id_b")
        )
        .agg(
            F.count("*").cast("long").alias("inter"),
            F.max(F.col("a")["sz"]).alias("size_a"),
            F.max(F.col("b")["sz"]).alias("size_b"),
        )
    )
    least = F.least(F.col("size_a"), F.col("size_b"))
    return (
        inter.filter(F.col("inter") * den >= least * num)
        .select(
            "id_a",
            "id_b",
            "inter",
            "size_a",
            "size_b",
            _det_round(F.col("inter") / least, 6).alias("containment"),
        )
    )


def merge_minhash_signatures(
    a: DataFrame,
    b: DataFrame,
    id_col: str = "doc_id",
    k: int = 16,
) -> DataFrame:
    """Merge two MinHash signature tables by elementwise minimum — the
    incremental-index maintenance primitive: because min is associative
    over hash sets, min(sig(S1), sig(S2)) IS sig(S1 ∪ S2), so a standing
    near-dup index absorbs a new crawl batch WITHOUT rehashing old text
    (signatures are the only state that needs to live). Ids present on
    one side pass through unchanged; shared ids take the elementwise
    min. One full-outer join on the id carrying k longs per row —
    text-free by construction."""
    cols_a = a.select(
        F.col(id_col), *[F.col(f"mh{j}").alias(f"__a{j}") for j in range(k)]
    )
    cols_b = b.select(
        F.col(id_col), *[F.col(f"mh{j}").alias(f"__b{j}") for j in range(k)]
    )
    j = cols_a.join(cols_b, id_col, "full_outer")
    return j.select(
        F.col(id_col),
        *[
            F.least(
                F.coalesce(F.col(f"__a{i}"), F.col(f"__b{i}")),
                F.coalesce(F.col(f"__b{i}"), F.col(f"__a{i}")),
            ).alias(f"mh{i}")
            for i in range(k)
        ],
    )
