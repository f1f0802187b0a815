"""Similarity search over the `embeddings` table (array<float> column).

Baseline: brute-force cosine top-k — broadcast the (small) query set,
score every (query, vector) pair with JVM-side higher-order functions
(zip_with + aggregate: sequential fold, so the DuckDB list_reduce oracle
is bit-identical), rank per query.

Scale path: bucketed search (sign-bit LSH over leading dimensions) so
each query only scans its bucket — the bucket id is a pure per-row
expression, candidate retrieval is a hash join on the bucket key.
At 100 TB the brute-force scan shuffles nothing (scores computed
map-side; only the per-query top-k heap shuffles k rows per partition
via the window/orderBy on a tiny projected result).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from route81_spark.ops.util import det_round


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (matches DuckDB list_reduce order)."""
    # cast each element to double BEFORE multiplying: float*float rounds
    # differently than double*double, and the DuckDB oracle (and any
    # production consumer) computes in double
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def cosine(a: Column, b: Column) -> Column:
    # zero-norm guard: under Spark 4's default ANSI mode a zero vector
    # would abort the job with DIVIDE_BY_ZERO; yield null instead (null
    # scores sort last in every top-k here, so zero vectors never rank)
    denom = norm(a) * norm(b)
    return F.when(denom != 0, dot(a, b) / denom)


def brute_force_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Top-k cosine neighbors per query. Broadcast the query side; score
    map-side; rank with a per-query window (ties broken by id).

    Per-task work (guide §1.2 step 2): each side's L2 norm is computed
    ONCE per vector before the crossJoin instead of per (vector, query)
    pair inside cosine's guard and division — same doubles, same zero
    guard, bit-identical scores; and the corpus side is spread so a
    single-file scan does not serialize the whole scoring stage onto
    one task (no-op on any multi-split input)."""
    from route81_spark.io import ensure_parallelism

    e = ensure_parallelism(emb.select(id_col, vec_col)).withColumn(
        "__nrm", norm(F.col(vec_col))
    )
    q = queries.withColumn("__qnrm", norm(F.col(query_vec_col)))
    denom = F.col("__nrm") * F.col("__qnrm")
    scored = e.crossJoin(F.broadcast(q)).select(
        F.col(query_id_col),
        F.col(id_col),
        det_round(
            F.when(
                denom != 0,
                dot(F.col(vec_col), F.col(query_vec_col)) / denom,
            ),
            6,
        ).alias("score"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("score").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "score", F.col("rank").cast("int").alias("rank"))
    )


def _local_topk_superset(key6, kk: int):
    """Indices of a partition-local candidate SUPERSET for a global
    top-kk by (rounded key asc, id asc): the kk smallest rounded keys
    PLUS every boundary-value tie. Including all ties is what makes the
    selection safe — dropping an arbitrary tied row here could drop the
    row the global window would rank (ids break ties there). O(n) via
    np.partition; the tie group is duplicate-key-sized (normally tiny;
    a fully-degenerate batch returns itself, which is still correct)."""
    import numpy as np

    if kk >= len(key6):
        return np.arange(len(key6))
    thresh = np.partition(key6, kk - 1)[kk - 1]
    return np.flatnonzero(key6 <= thresh)


def brute_force_topk_np(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """BLAS-backed brute-force top-k: the throughput path for dense
    scoring. The query matrix ships to every task (collected once —
    it is the broadcast side by construction); each Arrow batch scores
    E @ Q^T in one matmul and keeps only the partition-local top-k per
    query, so the shuffle carries k rows per (query, partition) and the
    final window ranks a tiny set. Same contract as brute_force_topk;
    scores may differ in the last float ulps (BLAS summation order), so
    this is the bench/scale variant while the fold version carries the
    bit-exact oracle."""
    import numpy as np
    import pandas as pd

    q_rows = queries.select(query_id_col, query_vec_col).collect()
    q_ids = np.array([r[query_id_col] for r in q_rows])
    Q = np.array([r[query_vec_col] for r in q_rows], dtype=np.float64)
    # zero-norm guard (matches cosine()'s null-score contract): a zero
    # vector must never rank, but NaN would — Spark's desc ordering
    # puts NaN FIRST, and _local_topk_superset's fate for NaN rows is
    # batch-size-dependent (key6 <= thresh is false, yet kk >= len
    # passes them through). Zero-norm EMBEDDING rows get the sentinel
    # score -2.0 (below the cosine range) so they rank after every real
    # score — exactly where the fold path's null sorts — and the final
    # select nulls the sentinel so the output matches brute_force_topk
    # even when k exceeds the nonzero-vector count.
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            E = np.array(list(pdf[vec_col]), dtype=np.float64)
            norms = np.linalg.norm(E, axis=1, keepdims=True)
            En = E / np.maximum(norms, 1e-12)
            S = En @ Qn.T  # (n, q)
            S[norms.ravel() == 0.0, :] = -2.0  # sentinel: ranks last
            kk = min(k, len(pdf))
            out_rows = []
            ids = pdf[id_col].to_numpy()
            for qi in range(len(q_ids)):
                # select on the ROUNDED score (the key the global window
                # ranks by) and keep boundary ties — raw-score selection
                # could drop the tied row the window (ties by id) wants
                s6 = np.floor(S[:, qi] * 1e6 + 0.5) / 1e6
                sel = _local_topk_superset(-s6, kk)
                out_rows.append(
                    pd.DataFrame(
                        {
                            query_id_col: q_ids[qi],
                            id_col: ids[sel],
                            "score": s6[sel],
                        }
                    )
                )
            yield pd.concat(out_rows, ignore_index=True)

    partial = emb.select(id_col, vec_col).mapInPandas(
        score, schema=f"{query_id_col} long, {id_col} long, score double"
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("score").desc(), F.col(id_col).asc())
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            id_col,
            # sentinel -> null: the fold path scores zero vectors null
            F.when(F.col("score") >= -1.0, F.col("score")).alias("score"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def sign_bucket(vec: Column, n_dims: int = 8, offset: int = 0) -> Column:
    """LSH bucket id from the sign bits of `n_dims` dims starting at
    `offset` — a pure per-row expression (deterministic,
    oracle-reproducible). `offset` gives OR-amplification bands their
    own disjoint dim slices (band j = offset j*n_dims); callers keep
    offset + n_dims within the vector length."""
    out = F.lit(0).cast("long")
    for i in range(n_dims):
        out = out + F.when(
            F.element_at(vec, offset + i + 1) > 0, F.lit(2**i).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return out


def bucketed_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_dims: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    n_bands: int = 1,
    vec_dim: int = 64,
) -> DataFrame:
    """ANN: score only vectors sharing the query's sign bucket — a hash
    join on the bucket key instead of a full scan (recall < 1 by design).

    `n_bands` > 1 turns on OR-amplification exactly like knn_graph:
    band j buckets on the disjoint dim slice [j*n_dims, (j+1)*n_dims),
    the join key becomes (band, bucket), and (query, hit) pairs dedup
    before the top-k window — recall 1-(1-p^r)^L instead of p^r. The
    corpus is scanned ONCE (posexplode of the L per-band buckets, a
    narrow in-flight multiply, no shuffle); the query side stays a
    broadcast, so the whole candidate relation remains map-only."""
    bands = max(1, min(n_bands, vec_dim // max(n_dims, 1)))

    def with_bucket(df: DataFrame, vcol: str) -> DataFrame:
        if bands == 1:
            return df.withColumn("band", F.lit(0)).withColumn(
                "bucket", sign_bucket(F.col(vcol), n_dims)
            )
        return df.select(
            "*",
            F.posexplode(
                F.array(*[
                    sign_bucket(F.col(vcol), n_dims, offset=j * n_dims)
                    for j in range(bands)
                ])
            ).alias("band", "bucket"),
        )

    e = with_bucket(emb, vec_col)
    q = with_bucket(queries, query_vec_col)
    scored = e.join(F.broadcast(q), ["band", "bucket"]).select(
        F.col(query_id_col),
        F.col(id_col),
        det_round(cosine(F.col(vec_col), F.col(query_vec_col)), 6).alias("score"),
    )
    if bands > 1:
        # a pair surfacing in several bands scores identically in each
        scored = scored.groupBy(query_id_col, id_col).agg(
            F.max("score").alias("score")
        )
    w = Window.partitionBy(query_id_col).orderBy(F.col("score").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "score", F.col("rank").cast("int").alias("rank"))
    )


def _ivf_assign_codegen(
    emb: DataFrame,
    cells: list,
    cid_type: str,
    id_col: str,
    vec_col: str,
    centroid_id_col: str,
    score_col: str | None = None,
) -> DataFrame:
    """Small-codebook IVF assignment: C independent cosine columns
    against *literal* centroid arrays, argmax as one `greatest()` over
    C (score, -cid) structs — highest score wins, ties fall to the
    LOWEST cid because the second struct field is the negated id. Still
    a narrow zero-shuffle transform. vs. the fold form this removes the
    interpreted aggregate-over-structs argmax (greatest is a plain
    codegen'd comparison tree) and the per-row codebook materialization;
    the C cosines themselves stay higher-order expressions, which is
    the right size/speed trade (a fully-unrolled multiply-add tree was
    measured 5x SLOWER: ~12 MiB task binaries, codegen fallback).

    Bit-parity with the fold form (and the DuckDB oracle): each score
    is the same dot/norm fold arithmetic in the same element order —
    the corpus-side norm is hoisted to ONE column (computed once per
    row instead of once per centroid), and each centroid's norm is
    folded to a Python-computed double constant (same sequential sum,
    IEEE-identical).

    The whole argmax is assembled as ONE SQL string and parsed
    JVM-side: building it as C*d Column objects costs >2s of py4j
    round-trips per call (literal-by-literal), dominating the query at
    interactive scales."""
    import math

    from route81_spark.ops.util import det_round_sql

    vq = f"`{vec_col}`"
    vnorm = "__r81_vnorm"
    emb = emb.withColumn(vnorm, norm(F.col(vec_col)))

    def dbl(x: float) -> str:
        return f"cast('{x!r}' as double)"

    structs = []
    for cid, cvec in cells:
        c = [float(x) for x in cvec]
        cn = 0.0  # python float IS ieee double; same fold order as norm()
        for x in c:
            cn += x * x
        cn = math.sqrt(cn)
        if cn == 0.0:
            # zero-norm centroid scores null against everything, exactly
            # like cosine()'s denom-zero guard
            score = "cast(null as double)"
        else:
            arr = ", ".join(dbl(x) for x in c)
            # same shape as dot(): zip_with products, sequential fold
            dot_sql = (
                f"aggregate(zip_with({vq}, array({arr}), "
                "(x, y) -> cast(x as double) * cast(y as double)), "
                "cast(0.0 as double), (acc, v) -> acc + v)"
            )
            denom = f"(`{vnorm}` * {dbl(cn)})"
            score = det_round_sql(
                f"CASE WHEN {denom} != 0 THEN ({dot_sql}) / {denom} END", 6
            )
        structs.append(f"named_struct('score', {score}, 'negcid', {-cid}L)")
    best = f"greatest({', '.join(structs)})" if len(structs) > 1 else structs[0]
    cols = [
        f"`{id_col}`",
        vq,
        f"cast(-(({best}).negcid) as {cid_type}) as `{centroid_id_col}`",
    ]
    if score_col is not None:
        cols.append(f"({best}).score as `{score_col}`")
    return emb.selectExpr(*cols)


def ivf_assign(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid_vec",
    codegen_max_centroids: int = 64,
) -> DataFrame:
    """IVF coarse quantization as a ZERO-SHUFFLE narrow transform.

    Small codebooks (C <= codegen_max_centroids, integral ids, uniform
    dim — the common case: C is bounded by definition) are collected at
    plan-build time and compiled straight into whole-stage-codegen'd
    expressions: C unrolled cosine chains + one greatest() argmax
    (_ivf_assign_codegen). Collecting C rows to the driver is the same
    bounded-codebook assumption the broadcast already makes.

    Larger / non-integral codebooks keep the fold form: the codebook is
    collapsed to a single row holding the whole array of (id, vec)
    cells; a 1-row broadcast nested-loop join attaches it to every
    corpus partition map-side, and each row computes its argmax cosine
    with JVM higher-order functions. Either way there is no per-vector
    window and no Exchange: the corpus (and its embedding payload)
    never shuffles — a crossJoin + row_number(PARTITION BY vec_id)
    would force a full-corpus hash Exchange, the scale-killer at
    100 TB.

    Contract (both paths): ties -> lowest centroid id; a vector whose
    score is null against every centroid (zero vector) also takes the
    lowest centroid id — identical to the old
    row_number(ORDER BY score DESC NULLS LAST, cid ASC) semantics.
    An empty codebook raises (the old shape silently returned zero
    rows; silent null assignments would vanish in downstream joins).
    """
    head = centroids.select(
        F.col(centroid_id_col), F.col(centroid_vec_col)
    ).limit(codegen_max_centroids + 1).collect()
    if not head:
        raise ValueError("ivf_assign: centroids must be non-empty")
    cid_type = centroids.schema[centroid_id_col].dataType.simpleString()
    dims = {len(r[centroid_vec_col]) for r in head if r[centroid_vec_col] is not None}
    if (
        len(head) <= codegen_max_centroids
        and cid_type in ("tinyint", "smallint", "int", "bigint")
        and len(dims) == 1
        and all(r[centroid_vec_col] is not None for r in head)
    ):
        cells = sorted((r[centroid_id_col], r[centroid_vec_col]) for r in head)
        return _ivf_assign_codegen(
            emb, cells, cid_type, id_col, vec_col, centroid_id_col
        )

    cell = F.struct(
        F.col(centroid_id_col).alias("cid"), F.col(centroid_vec_col).alias("cvec")
    )
    # sort_array orders struct elements by first field -> ascending cid,
    # so the strict-> fold below keeps the FIRST maximum = lowest cid on
    # ties regardless of collect_list's nondeterministic order
    codebook = centroids.agg(F.sort_array(F.collect_list(cell)).alias("__codebook"))

    scored = F.transform(
        F.col("__codebook"),
        lambda c: F.struct(
            det_round(cosine(F.col(vec_col), c["cvec"]), 6).alias("score"),
            c["cid"].alias("cid"),
        ),
    )
    cid_t = centroids.schema[centroid_id_col].dataType.simpleString()
    # single-pass argmax fold: exactly C cosines per row (a two-pass
    # array_max + filter re-evaluates the scored array inside the filter
    # lambda per element -> O(C^2) cosines; measured 19x slower)
    best = F.aggregate(
        scored,
        F.lit(None).cast(f"struct<score:double,cid:{cid_t}>"),
        lambda acc, x: F.when(
            acc.isNull()
            | (
                x["score"].isNotNull()
                & (acc["score"].isNull() | (x["score"] > acc["score"]))
            ),
            x,
        ).otherwise(acc),
    )
    return emb.crossJoin(F.broadcast(codebook)).select(
        F.col(id_col), F.col(vec_col), best["cid"].alias(centroid_id_col)
    )


def train_ivf_centroids(
    emb: DataFrame,
    n_centroids: int,
    max_iter: int = 10,
    tol: float = 1e-4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distributed Lloyd's k-means for the IVF codebook, so the index is
    self-contained (callers previously had to supply centroids).

    Deterministic: seeds are the n_centroids lowest-id vectors; each
    round assigns the corpus with ivf_assign (the zero-shuffle codegen
    path) and recomputes per-cell means from centroid_update's
    BIGINT-exact quantized component sums (map-side partials, shuffle
    carries C*d integer rows per partition, never the corpus) — so the
    trained centroids are partitioning-independent, not just
    seed-deterministic. Only the C x d means
    come back to the driver per round (the same bounded-codebook
    assumption ivf_assign's broadcast already makes). Empty cells keep
    their previous centroid. Stops when every centroid moves < tol
    (L-inf) or after max_iter rounds.

    Returns a (centroid_id, centroid_vec) DataFrame ready for
    ivf_assign/ivf_topk."""
    spark = emb.sparkSession
    seed_rows = (
        emb.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(n_centroids)
        .collect()
    )
    if not seed_rows:
        raise ValueError("train_ivf_centroids: empty corpus")
    centroids = [[float(x) for x in r[vec_col]] for r in seed_rows]

    def as_df(cents: list) -> DataFrame:
        return spark.createDataFrame(
            [(i, v) for i, v in enumerate(cents)],
            "centroid_id int, centroid_vec array<double>",
        )

    for _ in range(max_iter):
        # M-step via centroid_update's BIGINT-exact quantized sums:
        # F.avg over doubles is reduction-order nondeterministic across
        # partitionings, which would break this function's determinism
        # contract — integer sums make the recovered means a pure
        # function of the data (and keep ONE M-step implementation)
        means = centroid_update(
            emb, as_df(centroids), id_col=id_col, vec_col=vec_col
        ).collect()
        new_cents = [list(c) for c in centroids]
        by_cell: dict[int, dict[int, float]] = {}
        for r in means:
            by_cell.setdefault(r["centroid_id"], {})[r["dim"]] = (
                r["sum_q"] / (r["n"] * 1e6)
            )
        for cid, dims in by_cell.items():
            for pos, m in dims.items():
                new_cents[cid][pos] = m
        shift = max(
            (
                abs(a - b)
                for old, new in zip(centroids, new_cents)
                for a, b in zip(old, new)
            ),
            default=0.0,
        )
        centroids = new_cents
        if shift < tol:
            break
    return as_df(centroids)


def ivf_probe_cells(
    queries: DataFrame,
    centroids: DataFrame,
    nprobe: int,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """(query_id, query_vec, centroid_id) rows for each query's nprobe
    closest cells. The query side is small by construction, so the
    crossJoin + rank window here is over |Q| x C rows — never the
    corpus."""
    scored = queries.crossJoin(F.broadcast(centroids)).select(
        F.col(query_id_col),
        F.col(query_vec_col),
        F.col("centroid_id"),
        det_round(cosine(F.col(query_vec_col), F.col("centroid_vec")), 6).alias(
            "__cs"
        ),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("__cs").desc(), F.col("centroid_id").asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= nprobe)
        .select(query_id_col, query_vec_col, "centroid_id")
    )


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """IVF ANN: search the query's `nprobe` closest centroid cells.
    At 100 TB this is the classic two-level scheme: the corpus is
    assigned once map-side (ivf_assign, zero shuffle), each query probes
    its cells via a broadcast equi-join on the centroid id; nprobe
    trades recall against scanned fraction (~nprobe/C of the corpus)."""
    from route81_spark.io import ensure_parallelism

    # norms hoisted out of the cell join — once per vector/query, not
    # per probed pair (bit-identical scores, same zero guard); the
    # corpus side is spread so a single-file scan does not serialize
    # the assignment + scoring map stage onto one task
    assigned = ivf_assign(
        ensure_parallelism(emb.select(id_col, vec_col)),
        centroids, id_col, vec_col,
    ).withColumn("__nrm", norm(F.col(vec_col)))
    q_assigned = ivf_probe_cells(
        queries, centroids, nprobe, query_id_col, query_vec_col
    ).withColumn("__qnrm", norm(F.col(query_vec_col)))
    denom = F.col("__nrm") * F.col("__qnrm")
    scored = assigned.join(F.broadcast(q_assigned), "centroid_id").select(
        F.col(query_id_col),
        F.col(id_col),
        det_round(
            F.when(
                denom != 0,
                dot(F.col(vec_col), F.col(query_vec_col)) / denom,
            ),
            6,
        ).alias("score"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("score").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "score", F.col("rank").cast("int").alias("rank"))
    )


def quantize_int8(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric int8 quantization of an embedding column — the
    standard storage/serving compression (scale = 127/max|x| per
    vector, q = round-half-up(x*scale)). Returns exploded rows
    (id, pos, q, scale) so the result is oracle-comparable; zero
    vectors are dropped (no scale exists).

    Pure narrow expressions + posexplode: no shuffle, no UDF. The
    round is floor(x+0.5) — deterministic across engines, unlike
    engine round() (see ops/util.det_round)."""
    v = F.col(vec_col)
    amax = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    sc = F.lit(127.0) / F.col("__amax")
    return (
        emb.select(F.col(id_col), v, amax.alias("__amax"))
        .filter(F.col("__amax") > 0)
        .select(
            F.col(id_col),
            F.posexplode(v).alias("pos", "__x"),
            sc.alias("__sc"),
        )
        .select(
            id_col,
            "pos",
            F.floor(F.col("__x").cast("double") * F.col("__sc") + F.lit(0.5))
            .cast("int")
            .alias("q"),
            det_round(F.col("__sc"), 6).alias("scale"),
        )
    )


def embedding_dedup(
    emb: DataFrame,
    threshold: float = 0.98,
    n_dims: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic dedup in embedding space (the SemDeDup recipe, Abbas et
    al. 2023): bucket the corpus, find within-bucket high-cosine pairs,
    connect them into clusters, keep each cluster's min-id
    representative. Composition of the scale-safe pieces: bucketed
    self-join (never all-pairs) -> connected components of the tiny
    pair graph -> broadcast anti-join of the loser set."""
    from route81_spark.ops.dedup import near_dup_clusters

    pairs = embedding_near_dups(emb, threshold, n_dims, id_col, vec_col)
    clusters = near_dup_clusters(pairs.select("id_a", "id_b"))
    losers = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias(id_col)
    )
    return emb.join(F.broadcast(losers), id_col, "left_anti")


def embedding_near_dups(
    emb: DataFrame,
    threshold: float = 0.98,
    n_dims: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-duplicate vector pairs via bucketed self-join + cosine
    threshold (id_a < id_b)."""
    e = emb.select(
        F.col(id_col), F.col(vec_col), sign_bucket(F.col(vec_col), n_dims).alias("bucket")
    )
    a = e.alias("a")
    b = e.alias("b")
    return (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            det_round(cosine(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}")), 6).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def semantic_decontaminate(
    emb: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bench_vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space benchmark decontamination: annotate each corpus
    vector with its max cosine to ANY benchmark vector and a
    `contaminated` flag at >= threshold — the semantic complement of
    the n-gram overlap check (ops.corpus.decontaminate) that catches
    paraphrased eval leakage n-grams miss.

    100 TB shape: the benchmark (eval sets) is tiny by definition, so
    it collapses to ONE broadcast row of vectors (the ivf_assign
    codebook pattern) and the max-cosine fold runs map-side —
    ZERO corpus shuffle, zero corpus movement. An empty benchmark
    yields contaminated=false everywhere (max over nothing is null)."""
    bench_row = benchmark.agg(F.collect_list(F.col(bench_vec_col)).alias("__bvs"))
    v = F.col(vec_col)
    max_sim = det_round(
        F.array_max(F.transform(F.col("__bvs"), lambda b: cosine(v, b))), 6
    )
    return (
        emb.crossJoin(F.broadcast(bench_row))
        .select(
            "*",
            max_sim.alias("max_sim"),
            F.coalesce(max_sim >= F.lit(threshold), F.lit(False)).alias("contaminated"),
        )
        .drop("__bvs")
    )


def _fold_sum(arr, axis: int):
    """Left-to-right sequential sum over one (small) axis — np.sum uses
    pairwise/unrolled accumulation whose fp rounding differs from a SQL
    left fold; oracle-exact PQ needs bit-identical summation order. The
    loop is over the reduced axis only (4-64 iterations), each step
    vectorized over the rest."""
    import numpy as np

    arr = np.moveaxis(np.asarray(arr, dtype=np.float64), axis, 0)
    acc = np.zeros(arr.shape[1:], dtype=np.float64)
    for j in range(arr.shape[0]):
        acc = acc + arr[j]
    return acc


def _unit_rows(X, det_quantize: int | None):
    """Normalize rows to unit L2 (sequential-fold norm, matching the
    SQL list_reduce order); optionally quantize each component with
    det_round semantics so every downstream distance is computed on
    bit-identical inputs in numpy and DuckDB."""
    import numpy as np

    n2 = _fold_sum(X * X, axis=1)
    U = X / np.maximum(np.sqrt(n2), 1e-12)[:, None]
    if det_quantize is not None:
        s = float(10**det_quantize)
        U = np.floor(U * s + 0.5) / s
    return U


def pq_train_codebook(
    emb: DataFrame,
    m: int = 8,
    ksub: int = 16,
    sample: int = 512,
    iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    init: str = "random",
    det_quantize: int | None = None,
):
    """Train a product-quantization codebook on a deterministic sample
    (lowest ids): the vector space splits into `m` subspaces, each
    k-means'd into `ksub` centroids. Training is driver-side numpy on a
    tiny sample — exactly how IVF/PQ systems train (the codebook is
    kilobytes; the corpus never moves). Returns a (m, ksub, dsub)
    ndarray.

    `init="prefix"` seeds centroids from the first `ksub` sample rows
    (instead of a seeded random choice); with `iters=0` the codebook is
    then a pure deterministic function of the data that a SQL oracle
    can replicate exactly — the registry's oracle-checked configuration.
    `det_quantize` rounds normalized components at 10^-digits so numpy
    and SQL compute every distance on bit-identical inputs."""
    import numpy as np

    rows = emb.orderBy(id_col).limit(sample).select(vec_col).collect()
    X = np.array([r[vec_col] for r in rows], dtype=np.float64)
    # normalize: ADC's L2 on unit vectors is monotone with cosine, so
    # PQ ranking approximates the exact cosine ranking
    X = _unit_rows(X, det_quantize)
    n, d = X.shape
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    rng = np.random.RandomState(42)
    books = np.empty((m, ksub, dsub))
    for s in range(m):
        sub = X[:, s * dsub : (s + 1) * dsub]
        if init == "prefix":
            if n < ksub:
                raise ValueError(
                    f"pq_train_codebook init='prefix' needs >= ksub={ksub} "
                    f"sample rows, got {n}"
                )
            cent = sub[:ksub].copy()
        else:
            cent = sub[rng.choice(n, size=ksub, replace=False)]
        for _ in range(iters):
            d2 = ((sub[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(ksub):
                mask = assign == c
                if mask.any():
                    cent[c] = sub[mask].mean(axis=0)
        books[s] = cent
    return books


def pq_topk(
    emb: DataFrame,
    queries: DataFrame,
    codebook,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    det_quantize: int | None = None,
) -> DataFrame:
    """PQ asymmetric-distance top-k: vectors compress to `m` uint8 codes
    (d floats -> m bytes, a 32x shrink at d=64/m=8); each query
    precomputes per-subspace distance tables once, and scoring a vector
    is `m` table lookups — no float math per candidate.

    Scale shape: encode is one Arrow-batched pass (the codes table is
    what you'd persist); scoring ships only the tables (m*ksub floats
    per query) and the shuffle carries k rows per (query, partition).
    Approximate by construction: rank by negative ADC distance; exact
    re-ranking of the PQ top-R with brute-force cosine is the standard
    refinement and composes via brute_force_topk on the candidate set."""
    import numpy as np
    import pandas as pd

    books = np.asarray(codebook, dtype=np.float64)  # (m, ksub, dsub)
    m, ksub, dsub = books.shape

    q_rows = queries.select(query_id_col, query_vec_col).collect()
    q_ids = np.array([r[query_id_col] for r in q_rows])
    Q = np.array([r[query_vec_col] for r in q_rows], dtype=np.float64)
    Q = _unit_rows(Q, det_quantize)
    # per-query ADC tables: squared L2 from each query sub-vector to
    # every centroid of that subspace -> (q, m, ksub). Sequential folds
    # so the distances are bit-identical to a SQL left-fold oracle.
    tables = np.empty((len(q_ids), m, ksub))
    for s in range(m):
        qs = Q[:, s * dsub : (s + 1) * dsub]  # (q, dsub)
        diff = qs[:, None, :] - books[s][None, :, :]  # (q, ksub, dsub)
        tables[:, s, :] = _fold_sum(diff**2, axis=2)

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            E = np.array(list(pdf[vec_col]), dtype=np.float64)  # (n, d)
            E = _unit_rows(E, det_quantize)
            # encode: per-subspace nearest centroid -> (n, m) codes
            codes = np.empty((len(E), m), dtype=np.int64)
            for s in range(m):
                sub = E[:, s * dsub : (s + 1) * dsub]
                d2 = _fold_sum(
                    (sub[:, None, :] - books[s][None, :, :]) ** 2, axis=2
                )
                codes[:, s] = d2.argmin(axis=1)
            ids = pdf[id_col].to_numpy()
            out = []
            for qi in range(len(q_ids)):
                # ADC distance = ordered (s asc) fold of table lookups
                dist = _fold_sum(tables[qi][np.arange(m)[None, :], codes], axis=1)
                dist6 = np.floor(dist * 1e6 + 0.5) / 1e6
                kk = min(k, len(E))
                # partition-local selection must use the SAME key the
                # global window ranks by — the ROUNDED dist — and keep
                # boundary ties (e.g. two vectors sharing all m codes),
                # or it could drop the row the global (dist, id) window
                # ranks. Superset selection is O(n), not a batch sort.
                sel = _local_topk_superset(dist6, kk)
                out.append(
                    pd.DataFrame(
                        {
                            query_id_col: q_ids[qi],
                            id_col: ids[sel],
                            "adc_dist": dist6[sel],
                        }
                    )
                )
            yield pd.concat(out, ignore_index=True)

    partial = emb.select(id_col, vec_col).mapInPandas(
        score, schema=f"{query_id_col} long, {id_col} long, adc_dist double"
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "adc_dist", F.col("rank").cast("int").alias("rank"))
    )


def pq_refined_topk(
    emb: DataFrame,
    queries: DataFrame,
    codebook,
    k: int = 5,
    refine: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    det_quantize: int | None = None,
) -> DataFrame:
    """The production PQ design: ADC retrieves `refine*k` candidates
    from the compressed domain (cheap, approximate), then exact cosine
    re-ranks ONLY those candidates (expensive math on refine*k rows per
    query, not the corpus). Recall approaches exact search while the
    full-precision vectors of only ~refine*k*|Q| rows are ever touched."""
    cand = pq_topk(
        emb, queries, codebook, k=refine * k,
        id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col, query_vec_col=query_vec_col,
        det_quantize=det_quantize,
    ).select(query_id_col, id_col)
    with_vecs = cand.join(emb.select(id_col, vec_col), id_col)
    scored = with_vecs.join(F.broadcast(queries), query_id_col).select(
        F.col(query_id_col),
        F.col(id_col),
        det_round(cosine(F.col(vec_col), F.col(query_vec_col)), 6).alias("score"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("score").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "score", F.col("rank").cast("int").alias("rank"))
    )


def mmr_select(
    df: DataFrame,
    score_col: str,
    k: int,
    lam: float = 0.7,
    candidate_pool: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance selection: greedily pick k rows
    maximizing  lam*score - (1-lam)*max_cosine_to_already_selected —
    the standard diversity-aware alternative to plain top-k (few-shot
    example selection, dedup-aware retrieval, diverse eval sets).

    Scale shape: a distributed top-(candidate_pool) prune by score
    (TakeOrderedAndProject — k rows per partition ship) bounds the
    candidate set, then the greedy loop runs driver-side in numpy over
    that BOUNDED pool (default 4k candidates — the same
    bounded-model-set pattern as the PQ codebook). Selection is
    deterministic: score ties break to min id, and the greedy argmax
    breaks ties to min id too.

    Returns the selected rows of `df` (broadcast semi-join on id)."""
    import numpy as np

    if k <= 0:
        raise ValueError("mmr_select: k must be positive")
    pool_n = int(candidate_pool or 4 * k)
    cands = (
        df.select(id_col, score_col, vec_col)
        .filter(F.col(score_col).isNotNull() & F.col(vec_col).isNotNull())
        .orderBy(F.col(score_col).desc(), F.col(id_col).asc())
        .limit(pool_n)
        .collect()
    )
    if not cands:
        return df.limit(0)
    ids = [r[id_col] for r in cands]
    scores = np.array([float(r[score_col]) for r in cands])
    V = np.array([list(map(float, r[vec_col])) for r in cands])
    norms = np.linalg.norm(V, axis=1)
    norms[norms == 0] = 1.0
    V = V / norms[:, None]

    selected: list[int] = []
    remaining = list(range(len(ids)))
    # -inf, not 0: a candidate anti-correlated with everything selected
    # must get a NEGATIVE penalty (i.e. a bonus), per the MMR formula
    max_sim = np.full(len(ids), -np.inf)
    while remaining and len(selected) < k:
        best, best_val = None, None
        for i in remaining:
            val = lam * scores[i] - (1.0 - lam) * (max_sim[i] if selected else 0.0)
            if best is None or val > best_val or (val == best_val and ids[i] < ids[best]):
                best, best_val = i, val
        selected.append(best)
        remaining.remove(best)
        sims = V[remaining] @ V[best]
        for j, i in enumerate(remaining):
            if sims[j] > max_sim[i]:
                max_sim[i] = sims[j]

    chosen = df.sparkSession.createDataFrame(
        [(ids[i],) for i in selected], f"{id_col} {df.schema[id_col].dataType.simpleString()}"
    )
    return df.join(F.broadcast(chosen), id_col, "left_semi")


def hard_negatives(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    query_label_col: str = "query_label",
) -> DataFrame:
    """Hard-negative mining for embedding-model training (the
    DPR/Contriever recipe): per query, the top-k most-similar corpus
    vectors whose label DIFFERS from the query's — semantically close
    but wrong, the negatives that actually teach the margin (random
    negatives are trivially separable).

    Same scale shape as brute_force_topk: queries broadcast, scoring
    map-side, per-query top-k via WindowGroupLimit. The label gate is
    a map-side filter BEFORE ranking, so only cross-label rows reach
    the shuffle; swap the scorer for the bucketed/IVF variants when
    the corpus outgrows brute force. Norms are hoisted out of the
    crossJoin (once per vector, not per pair — bit-identical scores)
    and the corpus side is spread off a single-file scan."""
    from route81_spark.io import ensure_parallelism
    from route81_spark.ops.util import det_round

    e = ensure_parallelism(
        emb.select(id_col, vec_col, label_col)
    ).withColumn("__nrm", norm(F.col(vec_col)))
    q = queries.withColumn("__qnrm", norm(F.col(query_vec_col)))
    denom = F.col("__nrm") * F.col("__qnrm")
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col(label_col) != F.col(query_label_col))
        .select(
            F.col(query_id_col),
            F.col(id_col),
            F.col(label_col),
            det_round(
                F.when(
                    denom != 0,
                    dot(F.col(vec_col), F.col(query_vec_col)) / denom,
                ),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col, id_col, label_col, "score",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def cluster_balanced_sample(
    emb: DataFrame,
    centroids: DataFrame,
    n_per: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 31,
) -> DataFrame:
    """Cluster-balanced diversity sampling — the embedding-space analog
    of temperature-flattened domain mixing: assign every vector to its
    nearest centroid (zero-shuffle ivf_assign), then take a FIXED
    deterministic quota from each cluster, so over-represented semantic
    modes (boilerplate clouds, template swarms) can't dominate the
    sample the way size-proportional sampling lets them. In-cluster
    pick order is an md5 hash of the id — random-looking, seedable,
    re-runnable. Returns (centroid_id, id, pick_rank, cluster_size).

    100 TB shape: the embedding payload never shuffles — assignment is
    map-side codegen, and the quota window runs on (centroid, id, hash)
    integer rows only, with the rank<=k filter compiled to
    WindowGroupLimit (map-side partial top-k per cluster, no full
    per-cluster sort materializes). Cluster sizes are a
    map-side-combinable count broadcast back."""
    from route81_spark.ops.dedup import h64

    assigned = ivf_assign(emb, centroids, id_col=id_col, vec_col=vec_col)
    slim = assigned.select(
        "centroid_id", F.col(id_col), h64(F.col(id_col).cast("string"), seed).alias("__h")
    )
    sizes = slim.groupBy("centroid_id").agg(
        F.count("*").cast("long").alias("cluster_size")
    )
    w = Window.partitionBy("centroid_id").orderBy("__h", id_col)
    picked = (
        slim.withColumn("pick_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("pick_rank") <= n_per)
        .drop("__h")
    )
    return picked.join(F.broadcast(sizes), "centroid_id").select(
        "centroid_id", id_col, "pick_rank", "cluster_size"
    )


def contrastive_triplets(
    emb: DataFrame,
    anchors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    anchor_id_col: str = "anchor_id",
    anchor_vec_col: str = "anchor_vec",
    anchor_label_col: str = "anchor_label",
) -> DataFrame:
    """(anchor, positive, hard-negative) triplet construction — the
    training-pair factory for contrastive embedding fine-tuning
    (SimCSE/DPR recipe): per anchor, positive = most-similar SAME-label
    vector (self excluded), negative = most-similar CROSS-label vector
    (the hard one, not a random one). Returns
    (anchor_id, anchor_label, pos_id, pos_score, neg_id, neg_score,
    margin); anchors whose label has no other member yield no row
    (a positive-less triplet teaches nothing).

    100 TB shape: ONE broadcast scoring pass tags each (anchor, corpus)
    row same/cross; both winners come from a single
    WindowGroupLimit-compiled rank over (anchor, side) — map-side
    partial top-1 — then pivot to one row per anchor. Swap the scorer
    for bucketed/IVF when the corpus outgrows brute force (same
    contract as hard_negatives). Norms are hoisted out of the
    crossJoin (once per vector, not per pair — bit-identical scores)
    and the corpus side is spread off a single-file scan."""
    from route81_spark.io import ensure_parallelism

    e = ensure_parallelism(
        emb.select(id_col, vec_col, label_col)
    ).withColumn("__nrm", norm(F.col(vec_col)))
    a = anchors.withColumn("__anrm", norm(F.col(anchor_vec_col)))
    denom = F.col("__nrm") * F.col("__anrm")
    scored = (
        e.crossJoin(F.broadcast(a))
        .filter(F.col(id_col) != F.col(anchor_id_col))
        .select(
            F.col(anchor_id_col),
            F.col(anchor_label_col),
            F.col(id_col),
            (F.col(label_col) == F.col(anchor_label_col)).alias("__pos"),
            det_round(
                F.when(
                    denom != 0,
                    dot(F.col(vec_col), F.col(anchor_vec_col)) / denom,
                ),
                6,
            ).alias("__s"),
        )
    )
    w = Window.partitionBy(anchor_id_col, "__pos").orderBy(
        F.col("__s").desc(), F.col(id_col).asc()
    )
    best = scored.withColumn("__r", F.row_number().over(w)).filter(
        F.col("__r") == 1
    )
    side = lambda c: F.max(F.when(F.col("__pos"), F.col(c)))  # noqa: E731
    oth = lambda c: F.max(F.when(~F.col("__pos"), F.col(c)))  # noqa: E731
    out = best.groupBy(anchor_id_col, anchor_label_col).agg(
        side(id_col).alias("pos_id"),
        side("__s").alias("pos_score"),
        oth(id_col).alias("neg_id"),
        oth("__s").alias("neg_score"),
    )
    return out.filter(
        F.col("pos_id").isNotNull() & F.col("neg_id").isNotNull()
    ).select(
        anchor_id_col,
        anchor_label_col,
        "pos_id",
        "pos_score",
        "neg_id",
        "neg_score",
        (F.col("pos_score") - F.col("neg_score")).alias("margin"),
    )


def knn_graph(
    emb: DataFrame,
    k: int = 3,
    n_dims: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_bucket_pop: int = 16,
    min_dims: int = 2,
    max_dims: int = 24,
    n_bands: int = 1,
    vec_dim: int = 64,
    corpus_count: int | None = None,
) -> DataFrame:
    """Corpus-wide approximate k-NN graph: each vector's `k` nearest
    neighbours among its sign-bucket candidates. The graph primitive
    behind graph-based curation (SemDeDup clustering beyond the
    threshold cut, density/diversity scoring, label propagation).

    Scale shape: the candidate relation is the same bucketed self-join
    as embedding_near_dups — an equi-join on the LSH bucket key, never
    all-pairs; per-bucket population is corpus/2^n_dims in expectation.
    With n_dims=None (the default) the bucket width SELF-SCALES from a
    cheap corpus count: n_dims = clamp(ceil(log2(n / target_bucket_pop)),
    min_dims, max_dims), which pins expected bucket population at
    `target_bucket_pop` — candidate pairs then grow ~n·pop (LINEAR in
    corpus size) instead of n²/2^const (this was the ledger's worst
    scale exponent when the knob was a fixed 8). The chosen width is
    recorded as an `n_dims` output column so results stay reproducible
    and oracle-checkable (the DuckDB twin derives the same width from
    count(*)). The only other shuffle is the per-source top-k window
    over (src, score) rows. Unlike bucketed_topk the query side IS the
    corpus, so the join is a plain shuffle join on `bucket` —
    broadcasting would ship the whole corpus.

    Recall: ONE sign band has low top-k recall (a true neighbour only
    surfaces if ALL n_dims sign bits agree — measured ~0.05-0.2 @5 on
    the harness embeddings). `n_bands` > 1 turns on OR-amplification:
    band j buckets on the DISJOINT dim slice [j*n_dims, (j+1)*n_dims),
    candidates union across bands (recall 1-(1-p^r)^L instead of p^r),
    the pair set dedups on (src, nbr) before the top-k window. Cost is
    ~n_bands x candidate pairs — still linear in corpus size at the
    self-scaled width; bands are clamped so slices fit in `vec_dim`
    dims. The recall/cost trade is probe-measured (scale_probe
    knn_recall) and floor-pinned (tests/test_ops.py)."""
    import math

    if n_dims is None:
        # DELIBERATE (r12 close-out, carried from r7): the width
        # derivation runs ONE count(*) at plan-build time. Closing as
        # the intended design, not debt: (a) the count over a parquet
        # source is metadata-only (no row reads — one short job over
        # file footers), amortized over a kNN-graph build that dwarfs
        # it; (b) the alternative — a runtime scalar width via a
        # 1-row-aggregate crossJoin — would make n_dims non-literal
        # (the bucket expression, the band slicing, and the bands
        # clamp all need a Python int to SHAPE the plan; a runtime
        # width can only truncate bits, cannot re-shape bands) and
        # would still read the same footer metadata, just later;
        # (c) callers at true 100 TB who already know the corpus size
        # pass corpus_count (or n_dims) and skip the job entirely —
        # the documented fast path, exercised by the harness query.
        n = corpus_count if corpus_count is not None else emb.count()
        n_dims = int(
            min(
                max_dims,
                max(
                    min_dims,
                    math.ceil(math.log2(max(n, 1) / float(target_bucket_pop))),
                ),
            )
        )
    bands = max(1, min(n_bands, vec_dim // max(n_dims, 1)))

    # ONE exploded (band, bucket) relation + ONE equi-join on the pair
    # key, identical to a union of per-band joins (it IS the oracle's
    # formulation). The former per-band form built the cosine/round
    # expression tree `bands` times (r14 measured: 2.3 s of driver-side
    # construction at 8 bands) and planned/compiled 8 separate
    # self-joins; this shape pays one join, one codegen span, and the
    # scoring expression once. Shuffle bytes are unchanged (each band
    # copy of a vector crossed the wire in the per-band form too).
    #
    # Two per-task costs matter in the pair-scoring stage (guide §1.2
    # step 2):
    #  * the probe side must not serialize onto one scan task when the
    #    corpus is a single small file (the per-band union form got 8-way
    #    parallelism for free from its 8 branches; the single join needs
    #    the input spread explicitly — no-op on any multi-split scan);
    #  * each vector's L2 norm is hoisted out of the join and computed
    #    ONCE per vector instead of per candidate pair (cosine(a, b)
    #    inlines norm(a)*norm(b), i.e. 2 array aggregates per pair in
    #    the guard + 2 more in the division at ~pop pairs per vector).
    #    Same doubles, same division, same zero guard — bit-identical
    #    scores, ~5x less per-pair arithmetic.
    from route81_spark.io import ensure_parallelism

    e = ensure_parallelism(emb.select(id_col, vec_col)).select(
        F.col(id_col),
        F.col(vec_col),
        norm(F.col(vec_col)).alias("__nrm"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band"),
                        sign_bucket(
                            F.col(vec_col), n_dims, offset=j * n_dims
                        ).alias("bucket"),
                    )
                    for j in range(bands)
                ]
            )
        ).alias("__bb"),
    ).select(
        id_col, vec_col, "__nrm",
        F.col("__bb.band").alias("band"),
        F.col("__bb.bucket").alias("bucket"),
    )
    a, b = e.alias("a"), e.alias("b")
    denom = F.col("a.__nrm") * F.col("b.__nrm")
    scored = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("src"),
        F.col(f"b.{id_col}").alias("nbr"),
        det_round(
            F.when(
                denom != 0,
                dot(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}")) / denom,
            ),
            6,
        ).alias("score"),
    )
    if bands > 1:
        # a pair found by several bands scores identically in each —
        # max() is pure dedup (hash-only rows shuffle, never vectors)
        scored = scored.groupBy("src", "nbr").agg(F.max("score").alias("score"))
    w = Window.partitionBy("src").orderBy(F.col("score").desc(), F.col("nbr").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "src",
            "nbr",
            "score",
            F.col("rank").cast("int").alias("rank"),
            F.lit(n_dims).cast("int").alias("n_dims"),
        )
    )


def _achlioptas_signs(in_dim: int, out_dim: int, seed: str) -> list[list[int]]:
    """Deterministic sparse JL sign matrix (Achlioptas 2003): entry
    (d, j) is +1 / -1 / 0 with probability 1/6, 1/6, 2/3, derived from
    md5 so a SQL oracle regenerates every entry bit-for-bit:
    ('0x' || substr(md5('<seed>|d:j'), 1, 15))::BIGINT % 6 -> 0=+1,
    1=-1, else 0."""
    import hashlib

    signs = []
    for d in range(in_dim):
        row = []
        for j in range(out_dim):
            h = int(
                hashlib.md5(f"{seed}|{d}:{j}".encode()).hexdigest()[:15], 16
            ) % 6
            row.append(1 if h == 0 else (-1 if h == 1 else 0))
        signs.append(row)
    return signs


def random_project(
    emb: DataFrame,
    out_dim: int = 16,
    in_dim: int = 64,
    seed: str = "jl",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction with the sparse
    Achlioptas projection: out[j] = sum_d sign(d, j) * vec[d], signs in
    {+1, 0, -1} hash-derived (no stored matrix — any worker, any engine
    regenerates it). 64 -> 16 dims cuts downstream ANN cost 4x while
    approximately preserving pairwise distances; the standard pre-step
    before bucketed/IVF search on very wide embeddings.

    Scale shape: a pure per-row projection — ZERO shuffle, the matrix
    is plan-time literals (kilobytes), the corpus never moves. Each
    output component is the same zip_with/aggregate sequential fold as
    dot(), so the DuckDB list_reduce twin is bit-identical; unscaled
    integer-weight sums (the sqrt(3/out_dim) JL constant is a global
    monotone factor, irrelevant to distance *ratios*) keep every
    product exact-by-construction at float precision.

    Returns (id, dim, value) rows — one per output component."""
    from route81_spark.ops.util import det_round_sql

    signs = _achlioptas_signs(in_dim, out_dim, seed)
    comps = []
    for j in range(out_dim):
        arr = ", ".join(f"{signs[d][j]}.0D" for d in range(in_dim))
        fold = (
            f"aggregate(zip_with(`{vec_col}`, array({arr}), "
            "(x, y) -> cast(x as double) * y), "
            "cast(0.0 as double), (acc, v) -> acc + v)"
        )
        comps.append(det_round_sql(fold, 6))
    return emb.selectExpr(
        f"`{id_col}`", f"array({', '.join(comps)}) as __proj"
    ).select(
        F.col(id_col),
        F.posexplode("__proj").alias("dim", "value"),
    )


def ivfpq_topk(
    emb: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    codebook,
    k: int = 5,
    nprobe: int = 2,
    refine: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    det_quantize: int | None = None,
) -> DataFrame:
    """IVF + PQ, composed — the canonical billion-scale ANN layout
    (FAISS IVFPQ with by_residual=false): a coarse inverted index
    restricts each query to its `nprobe` closest cells, and within
    those cells candidates are ranked by PQ asymmetric distance (m
    table lookups per candidate, no float math), then the top
    `refine*k` get an exact cosine re-rank.

    Scale shape: cell assignment is the zero-shuffle codegen argmax
    (ivf_assign); the probe list is |Q|*nprobe integer pairs
    (broadcast via closure); ADC scoring is one Arrow-batched pass
    over ONLY the rows whose cell some query probed (~nprobe/C of the
    corpus per query); the shuffle carries <= refine*k rows per
    (query, partition). The full-precision vectors of just the
    candidate set are ever touched again."""
    import numpy as np
    import pandas as pd

    assigned = ivf_assign(emb, centroids, id_col, vec_col)
    probes = ivf_probe_cells(queries, centroids, nprobe, query_id_col, query_vec_col)
    # bounded by construction: |Q| * nprobe integer pairs
    cells_of: dict = {}
    for r in probes.select(query_id_col, "centroid_id").collect():
        cells_of.setdefault(r[query_id_col], []).append(r["centroid_id"])
    probed_union = sorted({c for cs in cells_of.values() for c in cs})

    books = np.asarray(codebook, dtype=np.float64)  # (m, ksub, dsub)
    m, ksub, dsub = books.shape
    q_rows = queries.select(query_id_col, query_vec_col).collect()
    q_ids = np.array([r[query_id_col] for r in q_rows])
    Q = np.array([r[query_vec_col] for r in q_rows], dtype=np.float64)
    Q = _unit_rows(Q, det_quantize)
    tables = np.empty((len(q_ids), m, ksub))
    for s in range(m):
        qs = Q[:, s * dsub : (s + 1) * dsub]
        diff = qs[:, None, :] - books[s][None, :, :]
        tables[:, s, :] = _fold_sum(diff**2, axis=2)

    kk_cand = refine * k
    cent_col = "__r81_cell"

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            pdf = pdf[pdf[cent_col].isin(probed_union)]
            if not len(pdf):
                continue
            E = np.array(list(pdf[vec_col]), dtype=np.float64)
            E = _unit_rows(E, det_quantize)
            codes = np.empty((len(E), m), dtype=np.int64)
            for s in range(m):
                sub = E[:, s * dsub : (s + 1) * dsub]
                d2 = _fold_sum((sub[:, None, :] - books[s][None, :, :]) ** 2, axis=2)
                codes[:, s] = d2.argmin(axis=1)
            ids = pdf[id_col].to_numpy()
            cents = pdf[cent_col].to_numpy()
            out = []
            for qi, qid in enumerate(q_ids):
                qmask = np.isin(cents, cells_of.get(qid, []))
                if not qmask.any():
                    continue
                dist = _fold_sum(
                    tables[qi][np.arange(m)[None, :], codes[qmask]], axis=1
                )
                dist6 = np.floor(dist * 1e6 + 0.5) / 1e6
                sub_ids = ids[qmask]
                kk = min(kk_cand, len(sub_ids))
                sel = _local_topk_superset(dist6, kk)
                out.append(
                    pd.DataFrame(
                        {
                            query_id_col: qid,
                            id_col: sub_ids[sel],
                            "adc_dist": dist6[sel],
                        }
                    )
                )
            if out:
                yield pd.concat(out, ignore_index=True)

    partial = assigned.select(
        id_col, vec_col, F.col("centroid_id").alias(cent_col)
    ).mapInPandas(score, schema=f"{query_id_col} long, {id_col} long, adc_dist double")
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("adc_dist").asc(), F.col(id_col).asc()
    )
    cand = (
        partial.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= kk_cand)
        .select(query_id_col, id_col)
    )
    with_vecs = cand.join(emb.select(id_col, vec_col), id_col)
    scored = with_vecs.join(F.broadcast(queries), query_id_col).select(
        F.col(query_id_col),
        F.col(id_col),
        det_round(cosine(F.col(vec_col), F.col(query_vec_col)), 6).alias("score"),
    )
    w2 = Window.partitionBy(query_id_col).orderBy(F.col("score").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "score", F.col("rank").cast("int").alias("rank"))
    )


def prefix_refine_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    prefix_dim: int = 16,
    refine: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Matryoshka-style adaptive retrieval (MRL funnel, Kusupati et al.
    2022): rank the corpus by cosine over only the LEADING `prefix_dim`
    dimensions (MRL-trained embeddings pack the signal front-first),
    keep refine*k candidates per query, then re-rank just those with
    the full-dimension cosine. The cheap pass does prefix_dim/d of the
    float math per row; only refine*k*|Q| full vectors are ever scored.

    At 100 TB the prefix column would be stored as its own (4x
    narrower) parquet column so the first pass also reads 4x less;
    here the slice models that funnel. Pure Column end to end —
    broadcast queries, WindowGroupLimit candidate cut, no Python."""
    pfx = F.slice(F.col(vec_col), 1, prefix_dim)
    qpfx = F.slice(F.col(query_vec_col), 1, prefix_dim)
    scored0 = emb.crossJoin(F.broadcast(queries)).select(
        F.col(query_id_col),
        F.col(id_col),
        det_round(cosine(pfx, qpfx), 6).alias("__ps"),
    )
    w0 = Window.partitionBy(query_id_col).orderBy(
        F.col("__ps").desc(), F.col(id_col).asc()
    )
    cand = (
        scored0.withColumn("__rn", F.row_number().over(w0))
        .filter(F.col("__rn") <= refine * k)
        .select(query_id_col, id_col)
    )
    with_vecs = cand.join(emb.select(id_col, vec_col), id_col)
    scored = with_vecs.join(F.broadcast(queries), query_id_col).select(
        F.col(query_id_col),
        F.col(id_col),
        det_round(cosine(F.col(vec_col), F.col(query_vec_col)), 6).alias("score"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("score").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "score", F.col("rank").cast("int").alias("rank"))
    )


def _unit_quantized(vec: Column, digits: int = 9) -> Column:
    """Unit-normalize then det-round each component at 10^-digits — the
    Column twin of _unit_rows(det_quantize=digits), so numpy, Spark and
    SQL all see bit-identical normalized inputs.

    The norm is BOUND once via the single-element-transform trick: a
    plain `nrm` expression referenced inside the per-element lambda
    re-expands (and re-folds the whole vector) PER ELEMENT — an O(d^2)
    interpreted-HOF blowup (the cdc_chunk_stats lesson)."""
    scale = float(10**digits)

    def with_nrm(nrm: Column) -> Column:
        return F.transform(
            vec,
            lambda x: F.floor(x.cast("double") / nrm * scale + F.lit(0.5))
            / F.lit(scale),
        )

    return F.get(
        F.transform(F.array(F.greatest(norm(vec), F.lit(1e-12))), with_nrm), 0
    )


def int8_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Symmetric int8 retrieval (SDC): both sides unit-normalize,
    quantize to int8 (per-vector scale = 127/max|x|), and candidates
    rank by the INTEGER dot product de-scaled back to an approximate
    cosine. The serving-economics path: 4x less memory bandwidth than
    float32 scan, SIMD int8 dot kernels — and the integer dots make
    the whole ranking bit-exact across engines (the only doubles are
    the final de-scale, identical order both sides).

    Pure Column: quantization is a narrow per-row transform, scoring
    joins the broadcast query codes, top-k is the standard window."""
    def codes(raw: Column) -> Column:
        # bind the normalized vector, then its amax, as lambda variables
        # (nested single-element transforms): referencing the raw
        # expressions inside the per-element quantization lambda would
        # re-expand the whole normalize/amax chain PER ELEMENT
        def with_nv(nv: Column) -> Column:
            def with_amax(amax: Column) -> Column:
                # zero-vector guard (quantize_int8's __amax > 0
                # contract): no scale exists, and under Spark 4 ANSI
                # 127.0/0.0 would abort the JOB — null codes make the
                # pair score null, ranking last, exactly like cosine()'s
                # denom-zero contract. The CASE WHEN keeps the division
                # unevaluated for the zero rows.
                q = F.when(
                    amax > 0,
                    F.transform(
                        nv,
                        lambda x: F.floor(
                            x * (F.lit(127.0) / amax) + F.lit(0.5)
                        ).cast("int"),
                    ),
                )
                return F.struct(q.alias("q"), amax.alias("amax"))

            return F.get(
                F.transform(
                    F.array(F.array_max(F.transform(nv, lambda x: F.abs(x)))),
                    with_amax,
                ),
                0,
            )

        return F.get(F.transform(F.array(_unit_quantized(raw)), with_nv), 0)

    # explode(array(...)) puts a Generate between quantization and the
    # join: CollapseProject cannot cross it, so codes() evaluates ONCE
    # per row instead of once per (vector, query) PAIR (measured 34s ->
    # ~2s at sf0.1 — the join-side re-inline recomputed the normalize +
    # quantize chain |Q| times per vector)
    e = emb.select(F.col(id_col), F.explode(F.array(codes(F.col(vec_col)))).alias("__c"))
    q = queries.select(
        F.col(query_id_col), F.explode(F.array(codes(F.col(query_vec_col)))).alias("__qc")
    )
    idot = F.aggregate(
        F.zip_with(
            F.col("__c.q"), F.col("__qc.q"),
            lambda x, y: x.cast("long") * y.cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    scored = e.crossJoin(F.broadcast(q)).select(
        F.col(query_id_col),
        F.col(id_col),
        det_round(
            idot.cast("double") * F.col("__c.amax") * F.col("__qc.amax")
            / F.lit(16129.0),
            6,
        ).alias("score"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("score").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "score", F.col("rank").cast("int").alias("rank"))
    )


def centroid_ood_scores(
    emb: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Out-of-distribution scoring against a reference centroid set:
    each vector's max cosine to any centroid, flagged `is_outlier`
    below `threshold` (or when the vector has no defined cosine — a
    zero vector). The embedding-curation companion to SemDeDup: dedup
    trims the over-dense core, this trims the unmodeled tail (noise,
    wrong-domain, encoder failures).

    Reuses the zero-shuffle codegen argmax (ivf_assign's machinery,
    emitting the best SCORE): a narrow per-row transform, the corpus
    never moves, the codebook rides as plan literals."""
    cells_rows = centroids.select("centroid_id", "centroid_vec").collect()
    cells = [(int(r["centroid_id"]), list(r["centroid_vec"])) for r in cells_rows]
    cells.sort()
    out = _ivf_assign_codegen(
        emb, cells, "long", id_col, vec_col, "__r81_cid", score_col="__r81_best"
    )
    return out.select(
        F.col(id_col),
        F.col("__r81_best").alias("max_cos"),
        (
            F.col("__r81_best").isNull() | (F.col("__r81_best") < F.lit(threshold))
        ).alias("is_outlier"),
    )


def centroid_update(
    emb: DataFrame,
    centroids: DataFrame,
    digits: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One DISTRIBUTED k-means M-step over the full corpus — the
    companion to train_ivf_centroids (which trains driver-side on a
    bounded sample): assignment is the zero-shuffle codegen argmax,
    then per-(centroid, dim) component sums reduce map-side. Components
    are integer-quantized at 10^-digits BEFORE summing, so the sums are
    BIGINT-exact regardless of partitioning/reduction order (float sums
    across partitions are order-nondeterministic — the reason this op
    emits (sum_q, n) integers and leaves new_centroid = sum_q /
    (n * 10^digits) to the caller).

    100 TB shape: embeddings never shuffle for assignment; the only
    Exchange carries (centroid, dim, partial-sum) integer rows, at most
    C * d per partition after map-side combine."""
    scale = 10**digits
    # NULL embeddings contribute NO components (posexplode of a null
    # array emits zero rows) — filter explicitly so that contract is
    # visible and any SQL twin can mirror it (a LATERAL-unnest oracle
    # would otherwise keep 64 null rows and inflate n)
    assigned = ivf_assign(
        emb.filter(F.col(vec_col).isNotNull()), centroids, id_col, vec_col
    )
    q = assigned.select(
        "centroid_id",
        F.posexplode(
            F.transform(
                F.col(vec_col),
                lambda x: F.floor(x.cast("double") * scale + F.lit(0.5)).cast("long"),
            )
        ).alias("dim", "__q"),
    )
    return q.groupBy("centroid_id", "dim").agg(
        F.sum("__q").alias("sum_q"),
        F.count("*").alias("n"),
    )


def ann_recall_report(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_dims: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    n_bands: int = 1,
) -> DataFrame:
    """Index-quality observability: per-query recall@k of the
    sign-bucket ANN against exact brute force, on a sampled query set —
    the health check a serving platform runs after every index rebuild
    (recall collapse = the bucket function stopped matching the data).
    Returns (query_id, n_truth, n_hit) integer rows; recall =
    n_hit/n_truth wherever the caller plots it.

    Scale shape: both retrievals are the existing bounded paths (exact
    scan is map-side with broadcast queries; bucketed is the hash
    join); the comparison joins two <= k*|Q|-row results. Run it on a
    SAMPLED query set — the point is an estimate, not a second scan of
    the corpus per query."""
    exact = brute_force_topk(
        emb, queries, k=k, id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col, query_vec_col=query_vec_col,
    ).select(query_id_col, id_col)
    approx = bucketed_topk(
        emb, queries, k=k, n_dims=n_dims, id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col, query_vec_col=query_vec_col,
        n_bands=n_bands,
    ).select(query_id_col, F.col(id_col).alias("__hit"))
    j = exact.join(
        approx,
        (exact[query_id_col] == approx[query_id_col])
        & (exact[id_col] == approx["__hit"]),
        "left",
    ).select(exact[query_id_col].alias("qid"), exact[id_col], "__hit")
    return (
        j.groupBy("qid")
        .agg(
            F.count("*").cast("int").alias("n_truth"),
            F.count("__hit").cast("int").alias("n_hit"),
        )
        .select(F.col("qid").alias(query_id_col), "n_truth", "n_hit")
    )
