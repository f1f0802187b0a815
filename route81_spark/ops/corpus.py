"""Corpus-level curation ops: the compositions a training-data pipeline
runs after per-doc analysis — filter -> dedup -> split -> shard.

Everything here is built from the scale-safe primitives in ops.text /
ops.dedup (pure Column filters, hash aggs, bucketed joins) and adds the
three missing pieces:

  * curate():        quality/language/length gate + exact + near dedup
  * train_val_split: deterministic hash split (no rand(): re-runnable,
                     resume-safe, stable under repartition)
  * shard():         deterministic global shuffle into N training
                     shards — shard by hash, order within shard by a
                     second hash; at scale this is ONE hash-partition
                     exchange + an in-partition sort (no global sort)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from route81_spark.materialize import cache, cached, pin, release, scope
from route81_spark.ops.dedup import near_dedup
from route81_spark.ops.util import lit_string_array
from route81_spark.ops.text import curation_gate


def curate(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    langs: tuple[str, ...] = ("en",),
    min_quality: float = 0.05,
    min_tokens: int = 5,
    max_tokens: int = 1_000_000,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """The standard curation funnel: language gate -> quality gate ->
    token-length gate -> exact dedup -> near dedup. The gates are pure
    per-row Column predicates (pushed ahead of the expensive dedup
    stages, so shingling/minhash only run on surviving rows)."""
    c = F.col(text_col)
    # one-expression gate: tokenizes each doc exactly once (a naive
    # lang_id/quality/token_count conjunction re-splits ~6x per row)
    gated = df.filter(
        curation_gate(c, tuple(langs), min_quality, min_tokens, max_tokens)
    )
    # the funnel scans its input several times (exact-dedup agg + semi
    # join, signature build): the three tokenizing gate expressions run
    # once, and near_dedup's result is checkpoint-materialized
    with cached(gated) as gated:
        return near_dedup(
            gated, text_col, id_col, jaccard_threshold=jaccard_threshold
        )


def split_hash(id_col: Column, seed: str) -> Column:
    """Deterministic [0,1) hash for split/shuffle decisions:
    first 15 md5 hex digits -> 60-bit int -> /2^60."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}|"), id_col.cast("string"))), 1, 15),
        16,
        10,
    ).cast("double")
    return h / F.lit(float(2**60))


def train_val_split(
    df: DataFrame,
    id_col: str = "doc_id",
    val_fraction: float = 0.1,
    seed: str = "split0",
) -> DataFrame:
    """Adds a `split` column ('train'/'val') decided by a deterministic
    hash of the id — unlike rand(), the assignment survives reruns,
    repartitioning, and incremental appends (a doc never flips sides)."""
    return df.withColumn(
        "split",
        F.when(split_hash(F.col(id_col), seed) < val_fraction, F.lit("val")).otherwise(
            F.lit("train")
        ),
    )


def rare_bigram_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    rare_denominator: int = 20,
) -> DataFrame:
    """Corpus-LM fluency proxy (the CCNet/perplexity-filter idea made
    engine-exact): train bigram counts on the corpus itself, then score
    each doc by its fraction of RARE bigrams — those with conditional
    probability c(w1,w2)/c(w1) < 1/rare_denominator, tested as the
    integer comparison c(w1,w2)*rare_denominator < c(w1), so the
    decision is exact (no float log-prob sums, whose summation order
    differs per engine).

    Returns (id, n_bigrams, n_rare, rare_frac). 100 TB shape: one
    explode->count aggregation for the model (bigram vocab is bounded
    by vocab^2 and heavily skew-coalesced by AQE), one join back on the
    bigram key, one per-doc count agg. The doc text never shuffles —
    only (id, bigram) pairs."""
    from route81_spark.io import ensure_parallelism
    from route81_spark.ops.text import positional_ngrams, tokens

    base = ensure_parallelism(df.select(id_col, text_col))
    # bind the token array before the positional n-grams slice it: an
    # unbound tokens() inside the per-position lambda re-splits the text
    # once per bigram position
    bound_grams = F.get(
        F.transform(
            F.array(tokens(F.col(text_col))), lambda tk: positional_ngrams(tk, 2)
        ),
        0,
    )
    pairs = base.select(
        F.col(id_col), F.explode(bound_grams).alias("bg")
    ).filter(F.col("bg").contains(" "))  # docs with <2 tokens emit no bigram
    # Aggregate to per-(doc, bigram) counts FIRST and pin them: the
    # model aggregation and the scoring join both hang off tfb, so the
    # corpus is tokenized exactly once. Unigram counts then derive from
    # the (vocab-sized) bigram model — sum of c2 over bigrams sharing
    # w1 — and the rarity decision precomputes per bigram, so the
    # scoring join is a single equi-join against (bg, is_rare).
    tfb = pin(pairs.groupBy(id_col, "bg").agg(F.count(F.lit(1)).alias("n")))
    w1 = F.split(F.col("bg"), " ")[0]
    model = tfb.groupBy("bg").agg(F.sum("n").alias("c2"))
    uni = (
        model.select(w1.alias("w1"), "c2")
        .groupBy("w1")
        .agg(F.sum("c2").alias("c1"))
    )
    rare_bg = (
        model.withColumn("w1", w1)
        .join(uni, "w1")
        .select(
            "bg",
            (F.col("c2") * rare_denominator < F.col("c1")).alias("is_rare"),
        )
    )
    scored = (
        tfb.join(rare_bg, "bg")
        .groupBy(id_col)
        .agg(
            F.sum("n").alias("n_bigrams"),
            F.sum(F.when(F.col("is_rare"), F.col("n")).otherwise(0)).alias("n_rare"),
        )
    )
    from route81_spark.ops.util import det_round

    return scored.select(
        F.col(id_col),
        F.col("n_bigrams"),
        F.col("n_rare"),
        det_round(F.col("n_rare") / F.col("n_bigrams"), 6).alias("rare_frac"),
    )


def tfidf_top_terms(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    idf_scale: int = 1_000_000,
) -> DataFrame:
    """Top-k characteristic terms per doc by tf-idf, with a RATIONAL idf
    (idf' = (N * idf_scale) div df — integer, same ordering as N/df) so
    ranking is bit-exact across engines; float ln() idf can flip
    near-tied ranks between libm implementations.

    Returns (id, term, score, rank). Shape: explode->per-doc term
    counts (one agg), document frequencies (one agg on the term key),
    join on term, per-doc top-k window — every shuffle carries (id,
    term, counts), never the text."""
    from route81_spark.io import ensure_parallelism
    from route81_spark.ops.text import tokens

    n_docs = df.select(id_col).distinct().count()  # scalar model constant
    base = ensure_parallelism(df.select(id_col, text_col))
    terms = base.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term")
    )
    tf = terms.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.expr(f"{n_docs}L * {idf_scale}L div df")
    scored = tf.join(dfreq, "term").select(
        F.col(id_col), F.col("term"), (F.col("tf") * idf).alias("score")
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "score", "rank")
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    min_hits: int = 1,
) -> DataFrame:
    """Benchmark decontamination (the GPT-3/PaLM-style n-gram overlap
    check): annotate each corpus doc with the number of DISTINCT word
    n-grams it shares with any benchmark doc, and a `contaminated` flag
    at >= min_hits.

    100 TB shape: the benchmark side (eval sets) is tiny by definition —
    its distinct n-gram set broadcasts. The corpus side is a narrow
    explode of per-row distinct shingles into a broadcast semi-join;
    the only shuffle is the per-doc hit count, carrying MATCHING rows
    only (usually a vanishing fraction). The corpus text/payload never
    shuffles — hits join back by id."""
    from route81_spark.io import ensure_parallelism
    from route81_spark.ops.text import shingles

    bench_grams = benchmark.select(
        F.explode(shingles(F.col(text_col), n)).alias("__ng")
    ).distinct()
    # shingling + explode is the expensive narrow stage — spread a
    # few-file scan across cores (no-op on well-partitioned inputs)
    corpus_grams = ensure_parallelism(corpus.select(id_col, text_col)).select(
        F.col(id_col), F.explode(shingles(F.col(text_col), n)).alias("__ng")
    )
    hits = (
        corpus_grams.join(F.broadcast(bench_grams), "__ng")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    out = corpus.join(hits, id_col, "left")
    n_hits = F.coalesce(F.col("n_hits"), F.lit(0)).cast("long")
    return out.select(
        *[F.col(c) for c in corpus.columns if c != "n_hits"],
        n_hits.alias("n_hits"),
        (n_hits >= min_hits).alias("contaminated"),
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    id_col: str = "doc_id",
    seed: str = "strat0",
    default_fraction: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum downsampling (e.g. language rebalancing
    before training): keep a row iff its id-hash falls under its
    stratum's fraction. Unlike df.sampleBy, the decision is a pure
    per-row expression — re-runnable, resume-safe, no RNG state, zero
    shuffle — and a doc never flips in or out across reruns/appends."""
    frac = None
    for key in sorted(fractions):
        cond = F.col(strata_col) == key
        val = F.lit(float(fractions[key]))
        frac = F.when(cond, val) if frac is None else frac.when(cond, val)
    frac = frac.otherwise(F.lit(float(default_fraction))) if frac is not None else F.lit(
        float(default_fraction)
    )
    return df.filter(split_hash(F.col(id_col), seed) < frac)


def weighted_sample(
    df: DataFrame,
    weight: Column,
    k: int,
    id_col: str = "doc_id",
    seed: str = "wsample0",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, size k (Efraimidis &
    Spirakis 2006 A-ES): each row draws a deterministic uniform u from
    its id hash and ranks by ln(u)/w — the top k are a true
    w-proportional sample. Unlike quality top-k (select_topk_per_group)
    this is probabilistic: low-weight rows still appear at their
    proportional rate, which is what corpus subsampling wants.

    Deterministic by construction (hash-derived u, no rand()): reruns,
    repartitions, and appends never flip a row's key. Rows with w <= 0
    are excluded (zero weight = never sampled).

    Plan: per-row expressions + TakeOrderedAndProject for the top-k —
    each partition ships k rows, never a global sort. The returned
    `sample_key` is det-rounded for cross-engine rank stability; ties
    break by id."""
    u = split_hash(F.col(id_col), seed)
    from route81_spark.ops.util import det_round

    # u in [0,1): nudge 0 to the smallest cell to keep ln defined
    safe_u = F.greatest(u, F.lit(1.0 / 2**60))
    key = det_round(F.log(safe_u) / weight, 6)
    return (
        df.withColumn("__w", weight)
        .filter(F.col("__w") > 0)
        .withColumn("sample_key", key)
        .orderBy(F.col("sample_key").desc(), F.col(id_col).asc())
        .limit(k)
        .drop("__w")
    )


def pack_sequences(
    df: DataFrame,
    budget_tokens: int,
    n_shards: int = 8,
    tokens_col: str = "n_tokens",
    id_col: str = "doc_id",
    seed: str = "shuffle0",
) -> DataFrame:
    """Deterministic token-budget packing: shard-shuffle the docs
    (shard()), then within each shard assign consecutive docs to bins of
    ~budget_tokens by exclusive running token count (bin = floor of the
    tokens BEFORE this doc / budget — the streaming-friendly approximate
    packing used to build fixed-length training batches; a doc may
    straddle a boundary, which sequence-packing tolerates by design).

    Plan: shard() is one hash Exchange; the running sum is a window over
    (shard, order-hash) — per-shard sorts of corpus/N rows, never a
    global ORDER BY."""
    sharded = shard(df, n_shards, id_col=id_col, seed=seed)
    w = (
        Window.partitionBy("shard")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(F.col(tokens_col)).over(w) - F.col(tokens_col)
    return sharded.withColumn(
        "bin", F.floor(cum / F.lit(float(budget_tokens))).cast("int")
    )


def shard(
    df: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
    seed: str = "shuffle0",
) -> DataFrame:
    """Deterministic global shuffle into `n_shards` training shards:
    shard id = hash(id) mod N, position = rank of a second hash within
    the shard. Equivalent to a seeded random permutation, but stable and
    re-runnable. The plan is one hash Exchange on shard + an
    in-partition sort — never a global ORDER BY."""
    shard_col = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{seed}|s|"), F.col(id_col).cast("string"))), 1, 15
            ),
            16,
            10,
        ).cast("long")
        % n_shards
    )
    order_h = F.md5(F.concat(F.lit(f"{seed}|o|"), F.col(id_col).cast("string")))
    w = Window.partitionBy("shard").orderBy("__oh")
    return (
        df.withColumn("shard", shard_col.cast("int"))
        .withColumn("__oh", order_h)
        .withColumn("pos", (F.row_number().over(w) - 1).cast("long"))
        .drop("__oh")
    )


def build_vocab(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 1,
    max_vocab: int | None = None,
) -> DataFrame:
    """Frequency vocabulary for tokenizer/embedding training:
    (term, n, token_id) with dense 0-based ids ordered by count desc,
    term asc (the conventional most-frequent-first id assignment).

    100 TB shape: the corpus passes through ONE explode + map-side-
    combined count aggregation; the ranking window then runs over the
    VOCAB (bounded by distinct terms, orders of magnitude below corpus
    rows — and further cut by min_count/max_vocab before/at the rank).
    The unpartitioned row_number is a deliberate single-reducer step
    over that bounded set, the same shape every tokenizer trainer uses;
    it is never applied to corpus-sized data."""
    from route81_spark.io import ensure_parallelism
    from route81_spark.ops.text import tokens

    counts = (
        ensure_parallelism(df.select(text_col))
        .select(F.explode(tokens(F.col(text_col))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_count)
    )
    w = Window.orderBy(F.col("n").desc(), F.col("term").asc())
    out = counts.select(
        "term", "n", (F.row_number().over(w) - 1).cast("int").alias("token_id")
    )
    if max_vocab is not None:
        # row_number + filter compiles to WindowGroupLimit: per-partition
        # top-k prunes before the single-partition final rank
        out = out.filter(F.col("token_id") < max_vocab)
    return out


def encode_token_ids(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    unk_id: int = -1,
) -> DataFrame:
    """Encode documents against a vocabulary: exploded (id, pos,
    token_id) rows, OOV terms -> `unk_id`. The exploded form is what
    sequence packers / loss-mask builders consume, and it keeps every
    operation JVM-side: one explode, one BROADCAST join against the
    vocab (vocab tables fit executor memory by construction — that is
    what max_vocab is for), no corpus shuffle at all."""
    from route81_spark.io import ensure_parallelism
    from route81_spark.ops.text import tokens

    p = ensure_parallelism(df.select(id_col, text_col)).select(
        F.col(id_col), F.posexplode(tokens(F.col(text_col))).alias("pos", "term")
    )
    v = vocab.select("term", "token_id")
    return p.join(F.broadcast(v), "term", "left").select(
        id_col,
        F.col("pos").cast("int").alias("pos"),
        F.coalesce(F.col("token_id"), F.lit(unk_id)).cast("int").alias("token_id"),
    )


# BPE wire format for a word's symbol sequence: every symbol wrapped as
# \x01<sym>\x02, so a merge (l, r) is ONE literal (not regex) replace of
# \x01l\x02\x01r\x02 with \x01lr\x02 — left-to-right non-overlapping on
# both engines, which is exactly BPE's scan order ('aaaa' + (a,a) ->
# [aa, aa], 'aaa' -> [aa, a]), and the wrappers make it impossible to
# match across symbol boundaries or inside a multi-char symbol.
_BPE_S, _BPE_E, _BPE_EOW = "\x01", "\x02", "\x03"


def bpe_train_merges(
    df: DataFrame,
    n_merges: int,
    text_col: str = "text",
    checkpoint_every: int = 4,
    max_words: int | None = None,
) -> DataFrame:
    """Distributed BPE merge training (Sennrich et al. 2016): start
    from character symbols (+ an end-of-word marker), then repeat
    `n_merges` times: aggregate frequency-weighted adjacent-pair
    counts, pick the most frequent pair (deterministic tie-break:
    count desc, left asc, right asc), fuse it in every word. Returns
    the learned merge table (step, sym_l, sym_r, pair_count) — the
    artifact a tokenizer consumes, in learned order. Stops early when
    no pair is left (fully merged corpus); integer counts make every
    round oracle-able.

    100 TB shape: the corpus is touched ONCE — a map-side-combined
    word-count aggregation reduces it to the vocab-sized (word, freq)
    table, and the whole merge loop iterates on THAT (the classic
    trainer's word-frequency dict, kept distributed). Per round: one
    (l, r) pair-count shuffle over vocab rows, ONE argmax row to the
    driver, one per-row literal replace. A pin every
    `checkpoint_every` rounds bounds lineage growth (materialize.py),
    and every round's table is released at return; the corpus is never
    collected and nothing corpus-sized ever reaches the driver.
    `max_words` caps the iterated table to the top-V words by
    (frequency desc, word asc) — the standard trainer prune when the
    raw word-type count (hapax-heavy web corpora) outgrows what N
    rounds of pair aggregation should pay for; the deliberate
    single-reducer rank runs over the WORD TABLE, never the corpus,
    the same bounded-set contract as build_vocab."""
    from route81_spark.io import ensure_parallelism
    from route81_spark.ops.text import tokens

    if n_merges < 1:
        raise ValueError("n_merges must be >= 1")
    wrapped = F.concat(
        F.regexp_replace(F.col("word"), "(.)", f"{_BPE_S}$1{_BPE_E}"),
        F.lit(f"{_BPE_S}{_BPE_EOW}{_BPE_E}"),
    )
    words = (
        ensure_parallelism(df.select(text_col))
        .select(F.explode(tokens(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    if max_words is not None:
        wr = Window.orderBy(F.col("f").desc(), F.col("word").asc())
        words = (
            words.withColumn("__r", F.row_number().over(wr))
            .filter(F.col("__r") <= max_words)
            .drop("__r")
        )
    spark = df.sparkSession
    merges: list[tuple[int, str, str, int]] = []
    with scope():
        words = cache(words.select(wrapped.alias("w"), "f"))
        prev = words
        # one generation older than `prev` — released only AFTER the next
        # round's argmax has materialized prev (releasing the parent
        # before the child is materialized would force the child's first
        # action to re-run the whole lineage from the corpus)
        older = None
        for step in range(1, n_merges + 1):
            syms = F.split(
                F.col("w").substr(F.lit(2), F.length("w") - 2), f"{_BPE_E}{_BPE_S}"
            )

            def with_s(s: Column) -> Column:
                return F.when(
                    F.size(s) > 1,
                    F.transform(
                        F.sequence(F.lit(1), F.size(s) - 1),
                        lambda i: F.struct(
                            F.element_at(s, i).alias("l"),
                            F.element_at(s, i + 1).alias("r"),
                        ),
                    ),
                ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))

            pair_col = F.get(F.transform(F.array(syms), with_s), 0)
            best = (
                prev.select(F.explode(pair_col).alias("p"), "f")
                .groupBy("p.l", "p.r")
                .agg(F.sum("f").alias("cnt"))
                .orderBy(F.col("cnt").desc(), F.col("l").asc(), F.col("r").asc())
                .limit(1)
                .collect()
            )
            # the argmax collect above materialized prev (its parent was
            # still materialized), so the grandparent can go now
            if older is not None:
                release(older)
            if not best:
                break
            l, r, cnt = best[0]["l"], best[0]["r"], best[0]["cnt"]
            merges.append((step, l, r, cnt))
            if step == n_merges:
                # the fused table after the LAST merge is never
                # consumed — building (and eagerly checkpointing) it
                # was one dead full replace pass per call
                break
            nxt = prev.select(
                F.replace(
                    F.col("w"),
                    F.lit(f"{_BPE_S}{l}{_BPE_E}{_BPE_S}{r}{_BPE_E}"),
                    F.lit(f"{_BPE_S}{l}{r}{_BPE_E}"),
                ).alias("w"),
                "f",
            )
            # the NEXT round's argmax materializes nxt in the job it
            # already runs; every `checkpoint_every` rounds the pin
            # also cuts the lineage
            nxt = pin(nxt) if step % checkpoint_every == 0 else cache(nxt)
            if prev is not words:
                older = prev
            prev = nxt
    return spark.createDataFrame(
        merges, "step int, sym_l string, sym_r string, pair_count long"
    )


def bpe_encode(
    df: DataFrame,
    merges,
    text_col: str = "text",
    id_col: str = "doc_id",
    word_map: bool | None = None,
    segment: int = 48,
) -> DataFrame:
    """Encode documents with a learned BPE merge table: every word is
    re-wrapped into character symbols (+ end-of-word) and the merges
    apply IN LEARNED ORDER, each as one literal left-to-right replace —
    exact for any merge table produced by bpe_train_merges, because BPE
    only learns a pair after both its symbols exist (every non-char
    symbol was created by an EARLIER merge, so a later merge can never
    open an earlier opportunity). Output is exploded subword rows
    (id, wpos, spos, sym) — the form sequence packers consume.

    Scale shape, two regimes (identical output):
    - SHALLOW tables (<= `segment` merges, or word_map=False): the
      chain compiles into ONE per-row projection — zero joins, zero
      shuffles, the corpus is touched once.
    - DEEP tables (a real 32k-merge tokenizer; auto past `segment`
      merges, or word_map=True): a 32k-deep replace chain would blow
      the Catalyst expression tree AND re-pay the whole chain per
      corpus token, so encoding moves to the VOCAB: distinct words
      (one integer-cheap word shuffle, hapax-bounded like
      bpe_train_merges' word table) run the chain in `segment`-sized
      slices with a pin barrier between slices (Catalyst's
      project-collapse would otherwise re-inline the slices into one
      giant expression), and the resulting word->symbols map joins
      back BROADCAST — the corpus-sized side never shuffles. Chain
      cost is paid once per word TYPE, not per token, which is also
      the faster plan whenever the corpus has any repetition."""
    from route81_spark.io import ensure_parallelism
    from route81_spark.ops.text import tokens

    if isinstance(merges, DataFrame):
        pairs = [
            (r["sym_l"], r["sym_r"]) for r in merges.orderBy("step").collect()
        ]
    else:
        pairs = [(l, r) for l, r in merges]
    if segment < 1:
        raise ValueError("segment must be >= 1")
    if word_map is None:
        word_map = len(pairs) > segment

    def wrap(word: Column) -> Column:
        return F.concat(
            F.regexp_replace(word, "(.)", f"{_BPE_S}$1{_BPE_E}"),
            F.lit(f"{_BPE_S}{_BPE_EOW}{_BPE_E}"),
        )

    def chain(expr: Column, chunk) -> Column:
        for l, r in chunk:
            expr = F.replace(
                expr,
                F.lit(f"{_BPE_S}{l}{_BPE_E}{_BPE_S}{r}{_BPE_E}"),
                F.lit(f"{_BPE_S}{l}{r}{_BPE_E}"),
            )
        return expr

    def unwrap(expr: Column) -> Column:
        return F.split(
            expr.substr(F.lit(2), F.length(expr) - 2), f"{_BPE_E}{_BPE_S}"
        )

    words = ensure_parallelism(df.select(id_col, text_col)).select(
        F.col(id_col), F.posexplode(tokens(F.col(text_col))).alias("wpos", "word")
    )
    if word_map:
        enc = words.select("word").distinct().select(
            "word", wrap(F.col("word")).alias("__w")
        )
        for i in range(0, len(pairs), segment):
            enc = enc.select(
                "word", chain(F.col("__w"), pairs[i : i + segment]).alias("__w")
            )
            # barrier between slices: cuts the expression tree (and the
            # lineage) at vocab-sized cost; without it ProjectCollapse
            # re-inlines everything into one giant projection
            enc = pin(enc)
        mapping = enc.select("word", unwrap(F.col("__w")).alias("__syms"))
        encoded = words.join(F.broadcast(mapping), "word").select(
            id_col,
            F.col("wpos").cast("int").alias("wpos"),
            F.posexplode(F.col("__syms")).alias("spos", "sym"),
        )
    else:
        encoded = words.select(
            id_col,
            F.col("wpos").cast("int").alias("wpos"),
            F.posexplode(unwrap(chain(wrap(F.col("word")), pairs))).alias(
                "spos", "sym"
            ),
        )
    return encoded.select(
        id_col, "wpos", F.col("spos").cast("int").alias("spos"), "sym"
    )


def _bigram_pairs(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, bg) rows — the token array is bound once per row before the
    positional slice, so the text splits exactly once."""
    from route81_spark.io import ensure_parallelism
    from route81_spark.ops.text import positional_ngrams, tokens

    base = ensure_parallelism(df.select(id_col, text_col))
    bound_grams = F.get(
        F.transform(
            F.array(tokens(F.col(text_col))), lambda tk: positional_ngrams(tk, 2)
        ),
        0,
    )
    return base.select(
        F.col(id_col), F.explode(bound_grams).alias("bg")
    ).filter(F.col("bg").contains(" "))


def _lm_tables(model: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Model tables from (bg, c2) bigram counts: (lp, uni, vsize) with
    lp = (bg, ln((c2+1)/(c1+V))), uni = (w1, c1), vsize = 1-row (V).
    Shared by the self-trained and held-out LM paths so the smoothing
    arithmetic cannot diverge between them."""
    w1 = F.split(F.col("bg"), " ")[0]
    uni = (
        model.select(w1.alias("w1"), "c2").groupBy("w1").agg(F.sum("c2").alias("c1"))
    )
    vsize = uni.agg(F.count(F.lit(1)).alias("V"))
    lp = (
        model.withColumn("w1", w1)
        .join(uni, "w1")
        .crossJoin(F.broadcast(vsize))
        .select(
            "bg",
            F.log((F.col("c2") + 1).cast("double") / (F.col("c1") + F.col("V"))).alias(
                "lp"
            ),
        )
    )
    return lp, uni, vsize


def train_bigram_lm(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Add-one-smoothed bigram log-prob model: returns (lp, uni, vsize)
    — lp = (bg, lp) with lp = ln((c2+1)/(c1+V)), uni the (w1, c1)
    continuation counts (needed to smooth unseen bigrams of a KNOWN
    first word), vsize a 1-row (V) DataFrame. Persist/write these once
    and score many batches (the train-once shape a 100 TB pipeline
    actually runs)."""
    pairs = _bigram_pairs(df, text_col, id_col)
    model = pairs.groupBy("bg").agg(F.count(F.lit(1)).alias("c2"))
    return _lm_tables(model)


def lm_logprob_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    train_on: DataFrame | None = None,
) -> DataFrame:
    """Bigram-LM negative log-likelihood per document (the CCNet/KenLM
    perplexity-filter signal): add-one-smoothed p(w2|w1) = (c2+1)/(c1+V),
    doc score = -mean ln p over its bigram instances. Returns
    (id, n_bigrams, nll) with nll det-rounded to 6 dp so engine
    libm/summation-order ulps cannot flip the value.

    `train_on` selects the training corpus (default: df itself, the
    self-trained filter). With a separate training set, a bigram unseen
    at training time takes the true add-one mass for its first word:
    p = 1/(c1+V) with the trained continuation count c1 (0 if the first
    word itself is unseen, giving 1/V) — monotonically below every SEEN
    bigram sharing that first word, so held-out scoring is total and
    novelty is never ranked as more fluent than in-distribution text.

    Contract: a document with fewer than 2 tokens has no bigrams and
    emits NO output row (same as the DuckDB oracle's GROUP BY over
    bigram instances); left-join the result back on the id if totality
    matters downstream.

    Same 100 TB shape as rare_bigram_stats: per-(doc,bigram) counts
    aggregate FIRST (one Exchange at the fan-out point, reused by the
    model aggregation and the scoring join in the self-trained case),
    the model is vocab^2-bounded, and only (id, bigram, n) rows ever
    shuffle — never text."""
    from route81_spark.ops.util import det_round

    if train_on is None:
        pairs = _bigram_pairs(df, text_col, id_col)
        # fan-out: the scoring join AND the whole model chain (c2
        # counts -> continuation counts -> V -> lp) read (id, bigram, n);
        # unpinned, the corpus was tokenized four times per score
        tfb = pin(pairs.groupBy(id_col, "bg").agg(F.count(F.lit(1)).alias("n")))
        lp, _, _ = _lm_tables(tfb.groupBy("bg").agg(F.sum("n").alias("c2")))
        # self-trained: every scored bigram is in the model, so a plain
        # inner join scores everything — no smoothing fallback needed
        joined = tfb.join(lp, "bg")
        eff_lp = F.col("lp")
    else:
        lp, uni, vsize = train_bigram_lm(train_on, text_col, id_col)
        tfb = _bigram_pairs(df, text_col, id_col).groupBy(id_col, "bg").agg(
            F.count(F.lit(1)).alias("n")
        )
        joined = (
            tfb.withColumn("__w1", F.split(F.col("bg"), " ")[0])
            .join(lp, "bg", "left")
            # no broadcast hint: uni is vocab-sized — usually broadcast-
            # able, but past the threshold the planner's SMJ is correct
            .join(uni.withColumnRenamed("w1", "__w1"), "__w1", "left")
            .crossJoin(F.broadcast(vsize))
        )
        eff_lp = F.coalesce(
            F.col("lp"),
            -F.log((F.coalesce(F.col("c1"), F.lit(0)) + F.col("V")).cast("double")),
        )
    scored = joined.groupBy(id_col).agg(
        F.sum("n").alias("n_bigrams"),
        F.sum(F.col("n") * eff_lp).alias("__slp"),
    )
    return scored.select(
        F.col(id_col),
        F.col("n_bigrams"),
        det_round(-F.col("__slp") / F.col("n_bigrams"), 6).alias("nll"),
    )


def remove_boilerplate(
    df: DataFrame,
    window: int = 16,
    max_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-wide repeated-segment removal (the C4/RefinedWeb
    boilerplate pass): split each doc into non-overlapping
    `window`-token chunks, count how many DISTINCT documents each chunk
    occurs in, drop chunks shared by more than `max_docs` docs, and
    reassemble the survivors in order. Returns
    (id, n_chunks, n_kept, clean_text) — n_kept may be 0 (fully
    boilerplate doc, clean_text '').

    100 TB shape: the frequency pass shuffles only (chunk-hash, doc-id)
    pairs — never text — and reduces to the DROP set (chunks in more
    than max_docs docs), which is small by the premise of the operation
    (boilerplate is few distinct segments repeated many times) and
    broadcasts back as a left join. Chunk text therefore shuffles
    exactly once, in the per-doc reassembly agg; the corpus is chunked
    twice (two scans), the right trade against shuffling text twice.
    xxhash64 collisions merge two chunks' doc-counts with probability
    ~n^2/2^64 — negligible against the statistical nature of the
    filter. A degenerate corpus whose drop set outgrows executor
    memory needs max_docs raised (or pre-gating) — matching the
    operation's premise, and the same bounded-broadcast contract as
    the vocab/codebook ops."""
    from route81_spark.ops.text import chunk_documents

    chunks = chunk_documents(
        df, chunk_tokens=window, overlap=0, text_col=text_col, id_col=id_col
    ).select(id_col, "chunk_idx", "chunk_text", F.xxhash64("chunk_text").alias("__k"))
    drops = (
        chunks.groupBy("__k")
        .agg(F.count_distinct(id_col).alias("__nd"))
        .filter(F.col("__nd") > max_docs)
        .select("__k", F.lit(True).alias("__drop"))
    )
    flagged = chunks.join(F.broadcast(drops), "__k", "left")
    keep = F.col("__drop").isNull()
    return flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("int").alias("n_chunks"),
        F.sum(keep.cast("int")).cast("int").alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(keep, F.struct("chunk_idx", "chunk_text"))
                    )
                ),
                lambda s: s["chunk_text"],
            ),
        ).alias("clean_text"),
    )


def _line_array(text_col: str, sep: str | None, window: int | None) -> Column:
    """Per-row array of 'line' units: literal-separator split (`sep`,
    the C4 case) or non-overlapping `window`-token chunks (corpora
    without line structure). Pure expressions, token array bound once."""
    if (sep is None) == (window is None):
        raise ValueError("pass exactly one of sep= or window=")
    if sep is not None:
        import re as _re

        return F.split(F.col(text_col), _re.escape(sep), -1)
    from route81_spark.ops.text import tokens

    w = int(window)

    def with_tk(tk: Column) -> Column:
        # ceil(n / w) via float-div + int-cast truncation — the same
        # arithmetic as chunk_documents / the boilerplate oracle
        nc = F.greatest((F.size(tk) + F.lit(w - 1)) / F.lit(w), F.lit(1)).cast("int")
        return F.transform(
            F.sequence(F.lit(1), nc),
            lambda i: F.concat_ws(" ", F.slice(tk, (i - 1) * F.lit(w) + 1, w)),
        )

    return F.get(F.transform(F.array(tokens(F.col(text_col))), with_tk), 0)


def line_dedup_global(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str | None = None,
    window: int | None = None,
) -> DataFrame:
    """Corpus-wide exact line dedup, C4/RefinedWeb-style: keep only the
    FIRST occurrence — min (doc_id, position) — of every distinct line
    in the whole corpus, drop every repeat, and rebuild each document
    from its surviving lines in order. Returns
    (id, n_lines, n_kept, clean_text); n_kept may be 0 (every line of
    the doc first appeared elsewhere -> clean_text '').

    This is a different primitive from remove_boilerplate's
    frequency-threshold pass: a line shared by two docs survives in
    exactly one of them (deterministically the earliest), instead of
    both keeping it until it crosses max_docs.

    100 TB shape — raw text shuffles exactly ONCE:
      1. metadata pass: each doc's line array is hashed per-row and
         posexploded to (line-hash, doc, pos) INTEGER rows; the winner
         per line-hash is one map-side-combinable min(struct(doc,pos))
         hash agg. The winner rows ARE the kept occurrences (no join
         back to the exploded lines), so nothing line-sized shuffles.
      2. kept positions: winners reduce to (doc, sorted pos array) —
         still integers, one (already small) shuffle.
      3. rebuild: ONE join of the original docs against their kept
         positions on doc id — the only Exchange that carries text —
         then a per-row projection slices the surviving lines out of
         the re-split array. Text is split twice (two scans), the
         right trade against shuffling exploded line text.
    xxhash64 merges two distinct lines with probability ~n^2/2^65 —
    at 10^12 lines that is still ~1e-5 expected collisions, each of
    which drops one line; acceptable for a statistical cleaning pass
    (and the same contract as every hash-keyed dedup here)."""
    lines = _line_array(text_col, sep, window)
    hashed = df.select(
        F.col(id_col), F.posexplode(F.transform(lines, lambda l: F.xxhash64(l)))
    ).select(
        F.col("col").alias("__h"),
        F.struct(
            F.col(id_col).alias("i"), F.col("pos").cast("int").alias("p")
        ).alias("__occ"),
    )
    winners = hashed.groupBy("__h").agg(F.min("__occ").alias("__w"))
    keep = (
        winners.select(F.col("__w.i").alias(id_col), F.col("__w.p").alias("__p"))
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("__p")).alias("__kp"))
    )
    joiner = sep if sep is not None else " "
    kp = F.coalesce(F.col("__kp"), F.array().cast("array<int>"))
    return (
        df.join(keep, id_col, "left")
        .select(
            F.col(id_col),
            F.size(lines).alias("n_lines"),
            F.size(kp).alias("n_kept"),
            F.concat_ws(
                joiner, F.transform(kp, lambda p: F.get(lines, p))
            ).alias("clean_text"),
        )
    )


def _shingle_hash_array(text_col: str, L: int) -> Column:
    """Per-row array of stride-1 L-token shingle hashes (docs shorter
    than L emit none); token array bound once per row."""
    from route81_spark.ops.text import tokens

    def shingle_hashes(tk: Column) -> Column:
        return F.when(
            F.size(tk) >= L,
            F.transform(
                F.sequence(F.lit(1), F.size(tk) - F.lit(L - 1)),
                lambda i: F.xxhash64(F.concat_ws(" ", F.slice(tk, i, L))),
            ),
        ).otherwise(F.array().cast("array<long>"))

    return F.get(
        F.transform(F.array(tokens(F.col(text_col))), shingle_hashes), 0
    )


def _excise_drop_starts(
    df: DataFrame,
    drops: DataFrame,
    L: int,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Shared rebuild tail for span-level removal (span_dedup_global /
    decontaminate_excise): join per-doc sorted drop-START arrays (each
    start covers L tokens) to the docs — the only text-carrying join —
    then merge starts into disjoint [s, e) intervals and excise covered
    tokens, all as per-row expressions. Returns
    (id, n_tokens, n_dropped, clean_text)."""
    from route81_spark.ops.text import tokens

    iv_type = "array<struct<s:int,e:int>>"
    merged = F.aggregate(
        F.coalesce(F.col("__ds"), F.array().cast("array<int>")),
        F.array().cast(iv_type),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (s <= F.element_at(acc, -1).getField("e")),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        F.element_at(acc, -1).getField("s").alias("s"),
                        (s + F.lit(L)).cast("int").alias("e"),
                    )
                ),
            ),
        ).otherwise(
            F.concat(
                acc,
                F.array(
                    F.struct(
                        s.cast("int").alias("s"), (s + F.lit(L)).cast("int").alias("e")
                    )
                ),
            )
        ),
    )

    def with_state(tk: Column, ivs: Column) -> Column:
        # zero-token guard: sequence(0, -1) is DESCENDING in Spark
        # ([0, -1]), and its elements would index element_at out of
        # bounds — an empty doc (tokens('') = []) must yield an empty
        # position list, not a crash
        kept = F.filter(
            F.when(
                F.size(tk) > 0, F.sequence(F.lit(0), F.size(tk) - 1)
            ).otherwise(F.array().cast("array<int>")),
            lambda t: ~F.exists(
                ivs, lambda iv: (t >= iv.getField("s")) & (t < iv.getField("e"))
            ),
        )
        return F.struct(
            F.size(tk).alias("n_tokens"),
            (F.size(tk) - F.size(kept)).alias("n_dropped"),
            F.concat_ws(
                " ", F.transform(kept, lambda t: F.element_at(tk, t + 1))
            ).alias("clean_text"),
        )

    state = F.get(
        F.transform(
            F.array(F.struct(tokens(F.col(text_col)).alias("tk"), merged.alias("iv"))),
            lambda b: with_state(b.getField("tk"), b.getField("iv")),
        ),
        0,
    )
    return (
        df.join(drops, id_col, "left")
        .select(F.col(id_col), state.alias("__st"))
        .select(
            id_col,
            F.col("__st.n_tokens").cast("int").alias("n_tokens"),
            F.col("__st.n_dropped").cast("int").alias("n_dropped"),
            F.col("__st.clean_text").alias("clean_text"),
        )
    )



def span_dedup_global(
    df: DataFrame,
    min_tokens: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact SUBSTRING dedup (Lee et al. 2021, "Deduplicating Training
    Data Makes Language Models Better"): every `min_tokens`-token span
    that repeats anywhere in the corpus keeps only its FIRST occurrence
    (min (doc_id, pos)); every other occurrence's tokens are excised
    and the documents rebuilt. Finer than line/doc dedup: it catches a
    duplicated paragraph embedded in otherwise-distinct documents, at
    any alignment (stride-1 shingles, where line dedup sees only its
    fixed segmentation). Returns (id, n_tokens, n_dropped, clean_text).

    The published method builds a corpus-wide suffix array; that is a
    sequential construction over the whole corpus. This keeps the exact
    same REMOVAL semantics for spans of exactly-`min_tokens` granularity
    (a repeat of length m >= L is covered by its stride-1 L-shingles,
    so long repeats are fully excised span-for-span) while staying a
    shuffle-minimal DataFrame program — the standard trade (e.g. the
    RefinedWeb reimplementation) for distributing this pass.

    100 TB shape — raw text shuffles exactly ONCE (same contract as
    line_dedup_global): shingle hashes are computed per-row and only
    (hash, doc, pos) INTEGER rows shuffle; the winner agg is a
    map-side-combinable min(struct); the non-winner occurrences join
    winner rows hash-partitioned (shuffle reuse, still integers) and
    reduce to per-doc sorted drop-start arrays; ONE join on doc id
    brings the drop lists to the documents, where interval merge +
    token excision are pure per-row expressions. Shingle hashing
    re-concatenates L tokens per position (O(n*L) chars per doc) — the
    CPU cost of alignment-free matching; collisions merge spans with
    probability ~n^2/2^65 (the statistical-pass contract of every
    hash-keyed dedup here)."""
    L = int(min_tokens)
    if L < 2:
        raise ValueError("min_tokens must be >= 2")
    bound = _shingle_hash_array(text_col, L)
    occ = df.select(F.col(id_col), F.posexplode(bound)).select(
        F.col("col").alias("__h"),
        F.struct(
            F.col(id_col).alias("i"), F.col("pos").cast("int").alias("p")
        ).alias("__occ"),
    )
    winners = occ.groupBy("__h").agg(F.min("__occ").alias("__w"))
    drops = (
        occ.join(winners, "__h")
        .filter(F.col("__occ") != F.col("__w"))
        .select(F.col("__occ.i").alias(id_col), F.col("__occ.p").alias("__p"))
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_set("__p")).alias("__ds"))
    )
    return _excise_drop_starts(df, drops, L, text_col, id_col)

def mixture_resample(
    df: DataFrame,
    group_col: str,
    target_shares: dict[str, float],
    id_col: str = "doc_id",
    seed: str = "mix0",
    group_counts: dict[str, int] | None = None,
) -> DataFrame:
    """Domain-mixture construction: downsample each group so the output
    composition matches `target_shares` (e.g. {'web': .6, 'code': .4})
    at the largest total the data supports — T = min_g(count_g /
    share_g), acceptance rate_g = T * share_g / count_g. Selection is
    the deterministic per-row id-hash (stratified_sample's contract):
    re-runnable, no RNG state, rows never flip across reruns.

    The per-group counts are one aggregation collected to the driver —
    group cardinality is the number of DOMAINS (tens), not corpus rows,
    the same bounded-collect contract as the IVF codebook. Groups
    absent from `target_shares` (or with share 0) are dropped."""
    shares = {g: float(s) for g, s in target_shares.items() if float(s) > 0}
    if not shares:
        raise ValueError("mixture_resample: need at least one positive share")
    counts = {
        g: n for g, n in (group_counts or {}).items() if g in shares
    } or {
        r["g"]: r["n"]
        for r in df.filter(F.col(group_col).isin(list(shares)))
        .groupBy(F.col(group_col).alias("g"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    present = {g: s for g, s in shares.items() if counts.get(g, 0) > 0}
    if not present:
        return df.filter(F.lit(False))
    t = min(counts[g] / s for g, s in present.items())
    fractions = {g: min(1.0, t * s / counts[g]) for g, s in present.items()}
    return stratified_sample(
        df, group_col, fractions, id_col=id_col, seed=seed, default_fraction=0.0
    )


def select_topk_per_group(
    df: DataFrame,
    group_col: str,
    score: Column,
    k: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-budgeted data selection: keep the k best rows per group
    by (score desc, id asc — deterministic tie-break). The
    row_number-then-filter shape compiles to WindowGroupLimit, so each
    input partition prunes to k rows per group BEFORE the single group
    shuffle — the selection never moves more than k rows per (partition
    x group), the same scale contract as the similarity top-k."""
    w = Window.partitionBy(group_col).orderBy(score.desc(), F.col(id_col).asc())
    return df.withColumn(
        "sel_rank", F.row_number().over(w).cast("int")
    ).filter(F.col("sel_rank") <= k)


def mixture_upsample(
    df: DataFrame,
    group_col: str,
    factors: dict[str, float],
    id_col: str = "doc_id",
    seed: str = "up0",
) -> DataFrame:
    """Epoch-style upsampling: each row of group g is emitted
    floor(f_g) times plus one more with probability frac(f_g), decided
    by the deterministic id-hash — so a factor of 1.7 means "1.7
    epochs" of that domain, exactly the repeat-factor mixing used to
    hit target token budgets. Output carries a 0-based `copy` index
    (same id appears in several copies by design — downstream shard()
    keys on (id, copy) via the copy-qualified id this returns).

    Groups absent from `factors` keep factor 1.0 (one copy). Pure
    per-row expressions: one explode by a per-row literal count, no
    shuffle, rerun-stable."""
    n_copies = None
    for key in sorted(factors):
        f = float(factors[key])
        if f < 0:
            raise ValueError(f"mixture_upsample: negative factor for {key!r}")
        whole, frac = int(f), f - int(f)
        cnt = F.lit(whole) + F.when(
            split_hash(F.col(id_col), f"{seed}|{key}") < F.lit(frac), 1
        ).otherwise(0)
        cond = F.col(group_col) == key
        n_copies = F.when(cond, cnt) if n_copies is None else n_copies.when(cond, cnt)
    n_copies = (
        n_copies.otherwise(F.lit(1)) if n_copies is not None else F.lit(1)
    )
    return df.withColumn("__n", n_copies).filter(F.col("__n") > 0).select(
        "*", F.explode(F.sequence(F.lit(0), F.col("__n") - 1)).alias("copy")
    ).drop("__n")


def dataset_card(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """Per-source dataset card: the summary table a corpus release ships
    with — doc/token volumes, token-length profile, median quality,
    language share, and exact-duplicate rate.

    100 TB shape: one narrow per-row stage (tokenize once; hash once)
    feeding two map-side-combined aggregations — the per-source card
    agg and the (source, content-hash) distinct count for the dup rate
    (exact distinct needs its own key; both shuffles carry aggregated
    rows only). The card is source-count-sized, so the final join is a
    broadcast."""
    from route81_spark.ops.dedup import content_hash
    from route81_spark.ops.text import quality_score, token_count
    from route81_spark.ops.util import det_round

    # NOT spread: with the single-pass aggregation below, interleaved
    # A/B at sf0.1 (min of 6, twice) has unspread 0.50/0.58 s vs
    # spread 0.79/0.86 s — the round-robin exchange ships the raw text
    # and costs more than the one single-task map stage it
    # parallelizes; at scale multi-split inputs parallelize it for free
    c = F.col(text_col)
    base = docs.select(
        F.col(source_col).alias("source"),
        token_count(c).alias("__tok"),
        quality_score(c).alias("__q"),
        # null-safe: `lang == 'en'` is NULL for null lang, which avg()
        # would silently exclude; the oracle's CASE WHEN counts it as 0
        F.when(F.col(lang_col) == "en", 1.0).otherwise(0.0).alias("__en"),
        content_hash(c).alias("__chash"),
    )
    # ONE aggregation computes the card AND the distinct-hash count
    # (count_distinct is the oracle's own form, and Spark plans the
    # mixed distinct/regular aggregate via one Expand over the already
    # NARROW projected rows) — the former separate distinct()+count
    # consumer re-ran the whole tokenize/quality/hash per-row stage a
    # second time, a full extra corpus pass for a column computed in
    # the same row. count_distinct skips NULLs exactly like the
    # distinct-pairs count did only because __chash is non-null by
    # construction (content_hash of non-null text; the generator emits
    # none) — the oracle's count(DISTINCT chash) has the same contract.
    card = base.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__tok").alias("total_tokens"),
        det_round(F.avg("__tok"), 4).alias("avg_tokens"),
        F.max("__tok").alias("max_tokens"),
        det_round(F.percentile(F.col("__q"), 0.5), 6).alias("p50_quality"),
        det_round(F.avg("__en"), 4).alias("en_share"),
        F.count_distinct(F.col("__chash")).alias("__n_unique"),
    )
    return card.withColumn(
        "dup_rate",
        det_round(F.lit(1.0) - F.col("__n_unique") / F.col("n_docs"), 4),
    ).drop("__n_unique")


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    id_col: str = "doc_id",
    seed: str = "shuffle0",
    max_records_per_file: int | None = None,
    file_format: str = "parquet",
) -> None:
    """Materialize a curated corpus as training shards: shard() gives
    the deterministic global shuffle (shard=<k> partition dirs, `pos`
    the in-shard order — the loader reads one dir and sorts by pos),
    and the write clusters rows so each shard directory is written by
    one task in pos order. `max_records_per_file` bounds file sizes for
    loader parallelism without an extra shuffle (the writer rolls
    files).

    One hash Exchange (the shard assignment) + an in-partition sort —
    the same plan shard() always has; the writer adds no global sort
    and no second shuffle."""
    sharded = shard(df, n_shards, id_col=id_col, seed=seed)
    writer = (
        sharded.repartition(n_shards, F.col("shard"))
        .sortWithinPartitions("shard", "pos")
        .write.mode("overwrite")
        .partitionBy("shard")
    )
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    writer.format(file_format).save(path)


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    stem: str | None = None,
    stop_words: bool = False,
    stop_language: str | None = None,
) -> DataFrame:
    """Okapi BM25 relevance of every document to a bag-of-terms query —
    the classic retrieval scorer, exact formula:

        score = sum_t idf(t) * tf_t*(k1+1) / (tf_t + k1*(1-b+b*dl/avgdl))
        idf(t) = ln(1 + (N - df_t + 0.5)/(df_t + 0.5))

    ``stem="porter"`` (Snowball English, ops/porter.py) or ``"s"``
    (Harman S-stemmer) conflates morphological variants the standard
    IR way: corpus tokens and query terms stem before tf/df, so
    'relations' in the query scores 'relational' in the text. Document
    length (dl/avgdl) is unchanged by stemming (token count is
    preserved). Terms dedupe AFTER stemming — two query forms sharing
    a stem contribute once.

    ``stop_words=True`` (r10) drops the stem mode's language's
    Snowball stop words (ops/stopwords.py, lowercase comparison —
    every carried _CHAIN_LANGS stem mode picks ITS language's list:
    French since r11, German/Swedish since r12, Norwegian since r13,
    Danish since r14; English otherwise)
    from corpus tokens AND query terms BEFORE stemming — the textbook
    analyzer order. With stop removal active, dl/avgdl count the
    remaining tokens (the standard index-resident definition); a
    query consisting only of stop words fails loudly like an empty
    query. ``stop_language`` (r11) overrides the list for corpora in
    any other carried Snowball language ("german", "ru", ...,
    resolved by ops.stopwords.stop_list — unknown/romanian fail
    loudly); it requires ``stop_words=True`` and composes with
    ``stem=None`` only (scoring a German corpus with the English
    stemmer while stopping German would be an incoherent analyzer —
    loud error).

    100 TB shape: the corpus model constants (N, avgdl, and df per
    query term) come from ONE aggregation collecting a single row, and
    fold into ONE per-row scoring expression over a single bound token
    array. Scoring shuffles NOTHING; only a caller's top-k ships rows.
    Stemming rides the same two passes as tokenization (model pass +
    scoring pass) — a per-token scalar expression, no extra jobs.
    """
    import math

    from route81_spark.io import ensure_parallelism
    from route81_spark.ops.text import tokens

    from route81_spark.pipeline.query import _CHAIN_LANGS, _chain_fns

    if stem not in (None, "s", "porter", *_CHAIN_LANGS):
        raise ValueError(
            f"bm25_scores: unsupported stem mode {stem!r} — None, 's' "
            "(Harman S-stemmer), 'porter' (Snowball English) and the "
            f"carried Snowball languages {sorted(_CHAIN_LANGS)} are "
            "the implemented modes"
        )
    if stem == "porter":
        # one call_function against the once-per-session SQL temp
        # function (ops/porter.py) — not a fresh ~13 KB tree per pass
        from route81_spark.ops.porter import (
            porter2_py as _stem_py, porter2_stem_tokens as _stem_toks,
        )
    elif stem in _CHAIN_LANGS:
        # the carried non-English programs, from the same registry as
        # $text's dispatch. tokens() splits on whitespace, so accented
        # letters survive into the stemmer; lowercasing/punctuation
        # prep remains the caller's job (same contract as the porter
        # mode). German's own postlude removes umlauts; French/
        # Swedish keep their diacritics — fold downstream if wanted.
        _stem_toks, _stem_py = _chain_fns(stem)
    elif stem == "s":
        from route81_spark.ops.text import (
            s_stem_py as _stem_py, s_stem_tokens as _stem_toks,
        )

    # dedupe (order-preserving): a repeated query term — or two forms
    # conflating to one stem — must not double-count its contribution
    qt = list(dict.fromkeys(str(t) for t in query_terms))
    if not qt:
        # before the stop filter, so an EMPTY query raises the generic
        # message, not a misleading 'every term is a stop word'
        raise ValueError("bm25_scores needs at least one query term")
    if stop_language is not None and not stop_words:
        raise ValueError(
            "bm25_scores: stop_language requires stop_words=True"
        )
    if stop_language is not None and stem is not None:
        raise ValueError(
            "bm25_scores: stop_language composes with stem=None only —"
            " the stem mode's language already picks the en/fr list,"
            " and stemming one language while stopping another would"
            " be an incoherent analyzer"
        )
    if stop_words:
        from route81_spark.ops.stopwords import (
            STOP_EN, stop_list,
        )

        # the stem MODE's language picks the list (r11: the verbatim
        # Snowball French list composes with stem='french'; its
        # accented surface forms mean the comparison runs on the raw
        # lowercase term, never a folded one); stop_language overrides
        # for unstemmed corpora in any other carried language
        if stop_language is not None:
            stops = stop_list(stop_language)
        elif stem in _CHAIN_LANGS:
            # the carried programs' languages pick their lists (for
            # French stop_list returns the vendored STOP_FR)
            stops = stop_list(stem)
        else:
            stops = STOP_EN
        _ss = set(stops)
        qt = [t for t in qt if t.lower() not in _ss]
        if not qt:
            raise ValueError(
                "bm25_scores: every query term is a stop word"
            )
    if stem:
        # stemming maps each surviving term to a (possibly empty)
        # string — it can never EMPTY a non-empty list, so the two
        # guards above are exhaustive
        qt = list(dict.fromkeys(_stem_py(t) for t in qt))
    tok = tokens(F.col(text_col))
    if stop_words:
        stop_arr = lit_string_array(stops)
        tok = F.filter(
            tok, lambda x: ~F.array_contains(stop_arr, F.lower(x))
        )
    if stem:
        tok = _stem_toks(tok)
    # ONE corpus pass builds the whole model: doc count, avg length, and
    # every query term's document frequency ride the same aggregation
    # (the corpus tokenizes once, not once per statistic)
    stats = (
        df.select(tok.alias("__tk"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(F.size("__tk")).alias("avgdl"),
            *[
                F.sum(F.array_contains("__tk", t).cast("long")).alias(f"__df{i}")
                for i, t in enumerate(qt)
            ],
        )
        .first()
    )
    n_docs = int(stats["n"])
    if n_docs == 0:
        raise ValueError("bm25_scores: empty corpus (no documents to model)")
    # all-empty docs give avgdl == 0; every tf is 0 then, so any positive
    # avgdl yields the same (all-zero) scores without a DIVIDE_BY_ZERO
    avgdl = float(stats["avgdl"] or 0.0) or 1.0
    dfreq = {t: int(stats[f"__df{i}"] or 0) for i, t in enumerate(qt)}
    idf = {
        t: math.log(1.0 + (n_docs - dfreq.get(t, 0) + 0.5) / (dfreq.get(t, 0) + 0.5))
        for t in qt
    }

    scored = ensure_parallelism(df).withColumn("__tk", tok)
    dl = F.size(F.col("__tk")).cast("double")
    norm = F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl / F.lit(avgdl))
    score = None
    for t in qt:  # fixed left-assoc fold: identical fp order in the oracle
        tf = F.size(F.filter(F.col("__tk"), lambda x: x == F.lit(t))).cast("double")
        term = F.lit(idf[t]) * (tf * F.lit(k1 + 1.0)) / (tf + norm)
        score = term if score is None else score + term
    from route81_spark.ops.util import det_round

    return scored.withColumn("bm25", det_round(score, 6)).drop("__tk")


def approx_distinct_by(
    df: DataFrame,
    group_col: str,
    value_col: str,
    rsd: float = 0.05,
) -> DataFrame:
    """Per-group approximate distinct count (HyperLogLog++ via Spark's
    approx_count_distinct) next to the exact-path alternative the
    dataset card uses. At 100 TB the sketch is the right default:
    per-partition HLL registers merge map-side, so the shuffle carries
    one fixed-size sketch per (partition x group) instead of every
    distinct value — the exact count's (group, value) pre-aggregation
    shuffles the full distinct set. Error is bounded by `rsd`
    (relative standard deviation); the test pins observed error well
    inside 3*rsd."""
    return df.groupBy(group_col).agg(
        F.approx_count_distinct(value_col, rsd=rsd).alias("approx_distinct"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def _hashed_bigram_buckets(
    docs: DataFrame,
    flag_filter: Column,
    text_col: str,
    id_col: str,
    n_buckets: int,
    seed: int,
) -> DataFrame:
    """Shared DSIR/classifier front end: explode each doc's text ONCE
    into hashed-bigram bucket counts (id, __tgt, b, n_db). The token
    array is bound once per row before the positional slice; the
    map-side combine caps the shuffle at n_buckets rows per doc, and
    raw text never shuffles. Docs with no bigram contribute no rows."""
    from route81_spark.io import ensure_parallelism
    from route81_spark.ops.dedup import h64
    from route81_spark.ops.text import positional_ngrams, tokens

    base = ensure_parallelism(
        docs.select(
            F.col(id_col),
            flag_filter.cast("boolean").alias("__tgt"),
            F.col(text_col),
        )
    )
    bound_grams = F.get(
        F.transform(
            F.array(tokens(F.col(text_col))), lambda tk: positional_ngrams(tk, 2)
        ),
        0,
    )
    pairs = base.select(
        F.col(id_col), F.col("__tgt"), F.explode(bound_grams).alias("bg")
    ).filter(F.col("bg").contains(" "))
    out = (
        pairs.select(
            id_col, "__tgt", F.pmod(h64(F.col("bg"), seed), F.lit(n_buckets)).alias("b")
        )
        .groupBy(id_col, "__tgt", "b")
        .agg(F.count(F.lit(1)).alias("n_db"))
    )
    # fan-out: the bucket-model aggregation and the scoring join both
    # read it; the pin bounds their replay at n_buckets rows per doc
    return pin(out)


def quality_classifier(
    docs: DataFrame,
    seed_filter: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
    scale: int = 10_000,
    seed: int = 13,
) -> DataFrame:
    """CCNet/GPT-3-style trained quality filter: a hashed-bigram
    naive-Bayes classifier scoring every document against a labeled
    seed set (positives = `seed_filter` docs, negatives = the rest) —
    the standard companion to DSIR's importance weights when curating
    a pretraining mix. The fastText/NB log-odds

        sum_b n_db * [log P(b|pos) - log P(b|neg)]

    is replaced by its integer-ratio analog: per-bucket scaled odds

        w[b] = ((pos[b]+1) * (Nneg+B) * scale) div ((neg[b]+1) * (Npos+B))

    (Laplace +1, class-normalized by each side's total mass, odds 1 ==
    `scale`), scored as sum_b n_db * w[b]. Monotone in the NB odds per
    bucket, and every decision is integer-exact, so the DuckDB oracle
    matches bit for bit. pred_keep fires when the doc's mean bucket
    odds exceed 1 (score > n_bigrams * scale) — an integer compare.

    Docs with no bigram (0/1 tokens) carry no signal and are omitted.

    Scale shape: identical to dsir_importance — text explodes once
    into (doc, bucket) counts; the model is n_buckets rows (plus ONE
    totals row) broadcast back; scoring joins per-(doc, bucket). With
    int64 arithmetic the products bound corpus size to ~3e9 bigrams at
    scale=1e4 ((pos+1)*(Nneg+B)*scale < 2^63); beyond that lower
    `scale` or move the model columns to decimal(38,0) — ANSI mode
    fails loudly rather than wrapping."""
    from route81_spark.ops.util import det_round

    doc_bucket = _hashed_bigram_buckets(
        docs, seed_filter, text_col, id_col, n_buckets, seed
    )
    by_bucket = doc_bucket.groupBy("b").agg(
        F.sum(F.when(F.col("__tgt"), F.col("n_db")).otherwise(F.lit(0))).alias("pos_c"),
        F.sum(F.when(~F.col("__tgt"), F.col("n_db")).otherwise(F.lit(0))).alias(
            "neg_c"
        ),
    )
    totals = by_bucket.agg(
        F.sum("pos_c").alias("npos"), F.sum("neg_c").alias("nneg")
    )
    model = by_bucket.crossJoin(F.broadcast(totals)).selectExpr(
        "b",
        # integer div, not floor(double /): the products exceed 2^53
        f"((pos_c + 1) * (nneg + {n_buckets}) * CAST({scale} AS BIGINT))"
        f" div ((neg_c + 1) * (npos + {n_buckets})) AS w",
    )
    scored = (
        doc_bucket.join(F.broadcast(model), "b")
        .groupBy(id_col, "__tgt")
        .agg(
            F.sum("n_db").alias("n_bigrams"),
            F.sum(F.col("n_db") * F.col("w")).alias("score"),
        )
    )
    return scored.select(
        id_col,
        F.col("__tgt").cast("int").alias("is_seed"),
        "n_bigrams",
        "score",
        det_round(F.col("score").cast("double") / F.col("n_bigrams"), 4).alias(
            "avg_odds"
        ),
        (F.col("score") > F.col("n_bigrams") * F.lit(scale).cast("long"))
        .cast("int")
        .alias("pred_keep"),
    )


def dsir_importance(
    docs: DataFrame,
    target_filter: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
    scale: int = 1_000_000,
    seed: int = 11,
) -> DataFrame:
    """DSIR-style hashed-bigram importance weights (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling"):
    score every raw document by how target-like its hashed n-gram
    profile is, then sample the pretraining mix by that weight. The
    published estimator is a log-likelihood ratio of two hashed
    bag-of-bigrams models; this integer-ratio variant scores with

        r[b]       = ((tgt[b] + 1) * scale) div (raw[b] + 1)
        importance = sum_b n_db * r[b]
        avg_importance = importance / n_bigrams      (det-rounded)

    — the same monotone-in-(tgt/raw) per-bucket signal, but every
    decision is integer-exact, so the DuckDB oracle matches bit for bit
    (log/exp ulps cannot flip a rounding). Laplace +1 on both counts
    keeps empty buckets finite exactly like the paper's smoothing.

    Docs with no bigram (0/1 tokens) carry no signal and are omitted.

    Scale shape: text explodes ONCE into (doc, bucket) counts — the
    map-side combine caps the shuffle at n_buckets rows per doc; the
    model is n_buckets rows total (hash-agg of those same counts,
    broadcast back); the scoring join is per-(doc, bucket), never
    per-token, and raw text never shuffles."""
    from route81_spark.ops.util import det_round

    doc_bucket = _hashed_bigram_buckets(
        docs, target_filter, text_col, id_col, n_buckets, seed
    )
    model = (
        doc_bucket.groupBy("b")
        .agg(
            F.sum("n_db").alias("raw_c"),
            F.sum(F.when(F.col("__tgt"), F.col("n_db")).otherwise(F.lit(0))).alias(
                "tgt_c"
            ),
        )
        # integer div, not floor(double /): bucket counts at 100 TB
        # exceed 2^53 once multiplied by `scale`
        .selectExpr("b", f"((tgt_c + 1) * CAST({scale} AS BIGINT)) div (raw_c + 1) AS r")
    )
    scored = (
        doc_bucket.join(F.broadcast(model), "b")
        .groupBy(id_col, "__tgt")
        .agg(
            F.sum("n_db").alias("n_bigrams"),
            F.sum(F.col("n_db") * F.col("r")).alias("importance"),
        )
    )
    return scored.select(
        id_col,
        F.col("__tgt").cast("int").alias("is_target"),
        "n_bigrams",
        "importance",
        det_round(
            F.col("importance").cast("double") / F.col("n_bigrams"), 4
        ).alias("avg_importance"),
    )


def ccnet_buckets(
    df: DataFrame,
    group_col: str = "source",
    n_buckets: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style perplexity bucketing: score every doc with the
    self-trained bigram-LM NLL (lm_logprob_score), then split each
    `group_col` slice into `n_buckets` NTILE buckets ordered by
    (rounded NLL asc, id) — bucket 1 = head (most fluent), middle,
    tail. The standard artifact for perplexity-stratified sampling.

    Scale note: exact NTILE is a per-group total order — Spark sends
    each `group_col` value to ONE window task. That matches how CCNet
    actually runs (per-language / per-snapshot shards, each
    reducer-sized); for a monolithic group at corpus scale use
    ccnet_buckets_approx below (map-side bucketing against sketched
    tercile boundaries — no per-group sort at all). Ordering ranks the
    det-rounded NLL so engine ulps cannot reorder, ties broken by id."""
    scored = lm_logprob_score(df, text_col=text_col, id_col=id_col)
    src = df.select(id_col, group_col)
    w = Window.partitionBy(group_col).orderBy(
        F.col("nll").asc(), F.col(id_col).asc()
    )
    return (
        scored.join(src, id_col)
        .select(
            id_col,
            group_col,
            "n_bigrams",
            "nll",
            F.ntile(n_buckets).over(w).cast("int").alias("bucket"),
        )
    )


def ccnet_buckets_approx(
    df: DataFrame,
    group_col: str = "source",
    n_buckets: int = 3,
    rel_err: float = 0.001,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Scalable CCNet bucketing: instead of an exact per-group NTILE
    (one reducer per group), estimate each group's bucket BOUNDARIES
    with percentile_approx (Greenwald-Khanna sketch: map-side partial
    sketches merge, no sort) and assign buckets with a broadcast join +
    per-row compare. Same head/middle/tail artifact; bucket SIZES are
    exact only within the sketch's rank error (rel_err of the group
    count at the boundary), which is what every production perplexity
    filter accepts in exchange for removing the per-group sort."""
    scored = lm_logprob_score(df, text_col=text_col, id_col=id_col)
    src = df.select(id_col, group_col)
    qs = [i / n_buckets for i in range(1, n_buckets)]
    bounds = (
        scored.join(src, id_col)
        .groupBy(group_col)
        .agg(
            F.percentile_approx(
                "nll", qs, F.lit(int(1.0 / rel_err))
            ).alias("__b")
        )
    )
    joined = scored.join(src, id_col).join(F.broadcast(bounds), group_col)
    bucket = F.lit(1)
    for i in range(n_buckets - 1):
        bucket = bucket + (F.col("nll") > F.element_at("__b", i + 1)).cast("int")
    return joined.select(
        id_col, group_col, "n_bigrams", "nll", bucket.cast("int").alias("bucket")
    )


def decontaminate_excise(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination by EXCISION (the GPT-3/Pile recipe's
    stronger form): any stride-1 `n`-token span of a training document
    that appears verbatim anywhere in the benchmark set is cut out
    (overlapping hits merge into one excised interval) and the document
    rebuilt — `decontaminate` FLAGS offenders; this removes the
    contamination while keeping the rest of the doc. Returns
    (id, n_tokens, n_dropped, clean_text).

    Scale shape: benchmark suites are small by nature, so their
    distinct shingle-hash set BROADCASTS; marking is a map-side
    broadcast semi-join on (hash, doc, pos) integer rows — no winner
    aggregation at all, corpus-sized nothing shuffles except the one
    drop-list join on doc id that every excision pays
    (_excise_drop_starts). Same collision contract as span dedup."""
    L = int(n)
    if L < 2:
        raise ValueError("n must be >= 2")
    bench_sh = (
        benchmark.select(
            F.explode(
                _shingle_hash_array(bench_text_col, L)
            ).alias("__h")
        )
        .distinct()
    )
    occ = docs.select(
        F.col(id_col), F.posexplode(_shingle_hash_array(text_col, L))
    ).select(F.col(id_col), F.col("pos").cast("int").alias("__p"), F.col("col").alias("__h"))
    drops = (
        occ.join(F.broadcast(bench_sh), "__h")
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_set("__p")).alias("__ds"))
    )
    return _excise_drop_starts(docs, drops, L, text_col, id_col)


def temperature_mixture(
    df: DataFrame,
    group_col: str,
    temperature: float,
    id_col: str = "doc_id",
    seed: str = "mixT",
) -> DataFrame:
    """Temperature-flattened domain mixture (the multilingual-LM
    sampling recipe, XLM/mT5 style): target share of group g is
    proportional to count_g^(1/T) — T=1 reproduces the natural
    distribution, T -> inf approaches uniform, flattening the head
    domains so low-resource groups are seen more often. Shares are
    derived from the data (one tiny count agg; the group list is
    domain-sized and collected deliberately) as INTEGER weights
    floor(n^(1/T) * 1e6 + 0.5) — the round makes the normalizing sum
    order-independent, so an oracle's unordered SQL sum agrees — then
    fed to mixture_resample's largest-feasible-total acceptance
    (deterministic id-hash selection, same scale shape)."""
    if temperature <= 0:
        raise ValueError("temperature must be > 0")
    counts = {
        r["g"]: r["n"]
        for r in df.groupBy(F.col(group_col).alias("g"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    import math

    w = {
        g: math.floor(n ** (1.0 / temperature) * 1e6 + 0.5)
        for g, n in counts.items()
    }
    total = sum(w.values())
    shares = {g: wg / total for g, wg in w.items()}
    # pass the counts through — mixture_resample would otherwise re-run
    # the identical full-corpus aggregation to rebuild them
    return mixture_resample(
        df, group_col, shares, id_col=id_col, seed=seed, group_counts=counts
    )


def quality_model(
    docs: DataFrame,
    seed_filter: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
    scale: int = 10_000,
    seed: int = 13,
) -> DataFrame:
    """Train the hashed-bigram NB quality model STANDALONE: the same
    integer-odds per-bucket weights quality_classifier fits, but
    materialized as a complete (b, w) table over ALL n_buckets buckets
    (buckets no training bigram hit get the pure-Laplace weight), so it
    can be saved and applied to other corpora — or to a STREAM — via
    apply_quality_model."""
    doc_bucket = _hashed_bigram_buckets(
        docs, seed_filter, text_col, id_col, n_buckets, seed
    )
    by_bucket = doc_bucket.groupBy("b").agg(
        F.sum(F.when(F.col("__tgt"), F.col("n_db")).otherwise(F.lit(0))).alias("pos_c"),
        F.sum(F.when(~F.col("__tgt"), F.col("n_db")).otherwise(F.lit(0))).alias(
            "neg_c"
        ),
    )
    totals = by_bucket.agg(F.sum("pos_c").alias("npos"), F.sum("neg_c").alias("nneg"))
    full = (
        docs.sparkSession.range(n_buckets)
        .select(F.col("id").alias("b"))
        .join(by_bucket, "b", "left")
        .crossJoin(F.broadcast(totals))
        .selectExpr(
            "b",
            f"((coalesce(pos_c, 0) + 1) * (nneg + {n_buckets}) * CAST({scale} AS BIGINT))"
            f" div ((coalesce(neg_c, 0) + 1) * (npos + {n_buckets})) AS w",
        )
    )
    return full


def apply_quality_model(
    df: DataFrame,
    model: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
    scale: int = 10_000,
    seed: int = 13,
) -> DataFrame:
    """Score documents against a TRAINED quality model as a pure
    per-row expression — the stream-legal half of the CCNet recipe
    (train on a curated batch, filter the firehose). The (b, w) table
    collects to a 2*n_buckets-literal map (bounded by construction, the
    same contract as every broadcast model here) and scoring is one
    in-row fold over the doc's bigrams: NO shuffle, NO stateful
    aggregation, so it runs unchanged on a Structured Streaming
    DataFrame in append mode. Docs with no bigram are omitted (batch)
    or scored null-free with n_bigrams=0 filtered out, matching
    quality_classifier's contract."""
    from route81_spark.ops.dedup import h64
    from route81_spark.ops.text import positional_ngrams, tokens
    from route81_spark.ops.util import det_round

    weights = {int(r["b"]): int(r["w"]) for r in model.collect()}
    if len(weights) != n_buckets:
        raise ValueError(
            f"model covers {len(weights)} of {n_buckets} buckets — "
            "apply_quality_model needs the COMPLETE table quality_model "
            "produces (a missing bucket would null out every score that "
            "touches it)"
        )
    wmap = F.create_map(
        *[F.lit(x) for kv in sorted(weights.items()) for x in kv]
    )

    def with_state(bgs: Column) -> Column:
        pairs = F.filter(bgs, lambda bg: bg.contains(" "))
        score = F.aggregate(
            pairs,
            F.lit(0).cast("long"),
            lambda acc, bg: acc
            + F.element_at(wmap, F.pmod(h64(bg, seed), F.lit(n_buckets))),
        )
        return F.struct(
            F.size(pairs).cast("long").alias("n_bigrams"),
            score.alias("score"),
        )

    bound = F.get(
        F.transform(
            F.array(tokens(F.col(text_col))),
            lambda tk: with_state(positional_ngrams(tk, 2)),
        ),
        0,
    )
    out = df.select(F.col(id_col), bound.alias("__st")).select(
        F.col(id_col),
        F.col("__st.n_bigrams").alias("n_bigrams"),
        F.col("__st.score").alias("score"),
    )
    return out.filter(F.col("n_bigrams") > 0).select(
        id_col,
        "n_bigrams",
        "score",
        det_round(F.col("score").cast("double") / F.col("n_bigrams"), 4).alias(
            "avg_odds"
        ),
        (F.col("score") > F.col("n_bigrams") * F.lit(scale).cast("long"))
        .cast("int")
        .alias("pred_keep"),
    )


def fim_transform(
    df: DataFrame,
    rate: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 7,
) -> DataFrame:
    """Fill-in-the-middle transformation (Bavarian et al. 2022): for a
    deterministic `rate` share of documents, pick two hash-derived
    token split points and emit the PSM re-ordering
    <fim_prefix> P <fim_suffix> S <fim_middle> M — the data
    augmentation that teaches causal code models infilling. Docs not
    selected (or too short: < 4 tokens) pass through unchanged with
    fim = 0. Every decision is integer (60-bit md5-derived hashes of
    the doc id, modular split points), so an oracle reproduces the
    exact same splits; the whole op is one per-row projection — no
    shuffle, stream-legal."""
    from route81_spark.ops.dedup import h64
    from route81_spark.ops.text import tokens

    if not (0 <= rate <= 1):
        raise ValueError("rate must be in [0, 1]")
    ids = F.col(id_col).cast("string")

    def with_tk(tk: Column) -> Column:
        n = F.size(tk)
        pick = (F.pmod(h64(ids, seed), F.lit(100)) < F.lit(int(rate * 100))) & (
            n >= 4
        )
        p1 = F.lit(1) + F.pmod(h64(F.concat(ids, F.lit("|a")), seed), n - 2)
        p2 = p1 + 1 + F.pmod(
            F.when(n - p1 - 1 > 0, h64(F.concat(ids, F.lit("|b")), seed)).otherwise(
                F.lit(0)
            ),
            F.greatest(n - p1 - 1, F.lit(1)),
        )
        psm = F.concat(
            F.lit("<fim_prefix> "),
            F.concat_ws(" ", F.slice(tk, 1, p1)),
            F.lit(" <fim_suffix> "),
            F.concat_ws(" ", F.slice(tk, p2 + 1, n - p2)),
            F.lit(" <fim_middle> "),
            F.concat_ws(" ", F.slice(tk, p1 + 1, p2 - p1)),
        )
        return F.struct(
            pick.cast("int").alias("fim"),
            F.when(pick, psm).otherwise(F.concat_ws(" ", tk)).alias("text_out"),
        )

    st = F.get(F.transform(F.array(tokens(F.col(text_col))), with_tk), 0)
    return df.select(F.col(id_col), st.alias("__st")).select(
        id_col,
        F.col("__st.fim").alias("fim"),
        F.col("__st.text_out").alias("text_out"),
    )


def pack_layout(
    df: DataFrame,
    budget_tokens: int,
    n_shards: int = 8,
    tokens_col: str = "n_tokens",
    id_col: str = "doc_id",
    seed: str = "shuffle0",
) -> DataFrame:
    """Packing LAYOUT: pack_sequences' (shard, bin) assignment plus each
    doc's token offsets [off_start, off_end) WITHIN its packed training
    sequence — exactly what an attention-mask / loss-mask builder needs
    to reset attention at doc boundaries inside a packed window (a doc
    that straddles the budget keeps its offsets past `budget_tokens`,
    which the consumer truncates-or-wraps; recording it beats silently
    splitting). One extra window over the SAME (shard, order-hash) sort
    pack_sequences already pays — no new shuffle."""
    packed = pack_sequences(
        df,
        budget_tokens,
        n_shards=n_shards,
        tokens_col=tokens_col,
        id_col=id_col,
        seed=seed,
    )
    w = (
        Window.partitionBy("shard", "bin")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = F.sum(F.col(tokens_col)).over(w) - F.col(tokens_col)
    return packed.select(
        id_col,
        "shard",
        "bin",
        start.cast("int").alias("off_start"),
        (start + F.col(tokens_col)).cast("int").alias("off_end"),
    )


def chat_render(
    df: DataFrame,
    conv_col: str = "conv_id",
    order_cols: tuple[str, ...] = ("ts",),
    role_col: str = "role",
    content_col: str = "content",
    assistant_role: str = "assistant",
) -> DataFrame:
    """SFT/chat-template rendering with loss-mask spans: turn rows
    (conv, order, role, content) become one training document per
    conversation —

      text = concat over turns of '<|{role}|>\\n{content}<|end|>\\n'
      mask = flat [start, end) char-offset pairs covering each
             assistant turn's content PLUS its '<|end|>' token (the
             standard supervise-the-response-and-its-stop-token recipe;
             the trailing newline stays unsupervised)

    Returns (conv, n_turns int, text, mask array<long>). A tokenizer
    downstream maps char spans to token spans (char offsets are the
    engine-portable contract — token ids depend on the tokenizer).

    Scale: ONE shuffle (partial-merge collect_list on the conv key);
    per-conv state is bounded by conversation length, never corpus
    size; the render + offset fold are pure Column expressions
    (array_sort + aggregate), zero Python. At 100 TB conversations are
    the natural unit of parallelism — no window, no self-join."""
    o_fields = [F.col(c).alias(f"o{i}") for i, c in enumerate(order_cols)]
    turns = df.select(
        F.col(conv_col),
        F.struct(
            *o_fields,
            F.col(role_col).alias("role"),
            F.col(content_col).alias("content"),
        ).alias("t"),
    )
    agg = turns.groupBy(conv_col).agg(
        F.array_sort(F.collect_list("t")).alias("ts")
    )

    def seg(t: Column) -> Column:
        return F.concat(
            F.lit("<|"), t["role"], F.lit("|>\n"), t["content"], F.lit("<|end|>\n")
        )

    def step(acc: Column, t: Column) -> Column:
        open_len = F.length(t["role"]) + F.lit(5)  # '<|' + '|>' + '\n'
        clen = F.length(t["content"])
        start = acc["pos"] + open_len
        end_m = start + clen + F.lit(7)  # '<|end|>'
        seg_len = open_len + clen + F.lit(8)  # + trailing '\n'
        spans = F.when(
            t["role"] == F.lit(assistant_role),
            F.concat(
                acc["spans"], F.array(start.cast("long"), end_m.cast("long"))
            ),
        ).otherwise(acc["spans"])
        return F.struct(
            (acc["pos"] + seg_len).cast("long").alias("pos"),
            spans.alias("spans"),
        )

    zero = F.struct(
        F.lit(0).cast("long").alias("pos"),
        F.array().cast("array<long>").alias("spans"),
    )
    return agg.select(
        conv_col,
        F.size("ts").alias("n_turns"),
        F.array_join(F.transform("ts", seg), "").alias("text"),
        F.aggregate("ts", zero, step)["spans"].alias("mask"),
    )


def _h60(col: Column, seed: str) -> Column:
    """60-bit non-negative cross-engine hash (first 15 md5 hex digits),
    the integer sibling of split_hash — replicable in any SQL engine
    via ('0x' || substr(md5(...), 1, 15))::BIGINT."""
    return F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{seed}|"), col.cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("long")


def insert_canaries(
    df: DataFrame,
    rate: tuple[int, int] = (1, 8),
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: str = "canary0",
) -> DataFrame:
    """Memorization-probe canaries (secret-sharer style): a
    deterministic hash-rate subset of docs gets a unique marker string
    'CANARY-<60-bit-id>' spliced in at a hash-derived character
    position. Training on the output and later prompting for canaries
    measures verbatim memorization; the insertion being hash-derived
    (not rand()) means reruns, repartitions, and incremental appends
    plant the SAME canaries — the probe set is reproducible without
    storing it.

    Adds is_canary boolean and canary_id (string, NULL when not
    selected); text is modified only for selected rows. Pure Column
    expressions — zero shuffle, zero Python; scales as a map."""
    num, den = rate
    if not (0 < num <= den):
        raise ValueError("rate must be a fraction in (0, 1]")
    ids = F.col(id_col)
    text = F.col(text_col)
    sel = _h60(ids, f"{seed}|sel") % den < num
    canary = F.concat(
        F.lit("CANARY-"), _h60(ids, f"{seed}|payload").cast("string")
    )
    pos = F.pmod(_h60(ids, f"{seed}|pos"), F.length(text) + 1)
    spliced = F.concat(
        F.substring(text, F.lit(1), pos),
        F.lit(" "),
        canary,
        F.lit(" "),
        F.substr(text, pos + 1),
    )
    return df.withColumns(
        {
            text_col: F.when(sel, spliced).otherwise(text),
            "is_canary": sel,
            "canary_id": F.when(sel, canary),
        }
    )


def detect_canaries(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    pattern: str = "CANARY-[0-9]+",
) -> DataFrame:
    """The read side of the probe: scan any corpus (or model-generated
    samples) for canary markers. Returns one row per hit:
    (id, canary, found_at 1-based char position of the FIRST
    occurrence of that marker). Pure per-row regex + explode — no
    shuffle; run it over generations to quantify leakage, over the
    training corpus to verify planting, or over a third-party corpus
    to detect contamination by your own probe set."""
    ids = F.col(id_col)
    hits = F.array_distinct(
        F.regexp_extract_all(F.col(text_col), F.lit(f"({pattern})"), 1)
    )
    return (
        df.select(ids, F.col(text_col), F.explode(hits).alias("canary"))
        .select(
            ids,
            "canary",
            # instr()/locate() only take literal needles through the
            # Python API — call the SQL function with two Columns
            F.call_function("instr", F.col(text_col), F.col("canary")).alias(
                "found_at"
            ),
        )
    )


def stupid_backoff_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    train_on: DataFrame | None = None,
    alpha: float = 0.4,
) -> DataFrame:
    """Stupid Backoff trigram scoring (Brants et al. 2007 — THE
    web-scale LM recipe: raw count ratios, a constant backoff factor,
    no discount normalization, built from exactly the per-order count
    tables a MapReduce/Spark job produces). Per trigram position:

        S(w3|w1 w2) = c3/c(w1 w2)            if the trigram was seen
                    = a * S(w3|w2)           else
        S(w3|w2)    = c2/c(w2)               if the bigram was seen
                    = a * S(w3)              else
        S(w3)       = (c(w3)+1) / (N+V)      add-one unigram floor so
                                             scoring is total (pure
                                             Brants leaves OOV undefined)

    Doc score = -mean ln S over its trigram instances, det-rounded to
    6 dp (libm/summation-order ulps). Returns (id, n_trigrams, sb_nll);
    docs with <3 tokens emit no row.

    `train_on` picks the count corpus (held-out scoring exercises the
    backoff chain; self-trained never backs off past the trigram).

    100 TB shape: the corpus reduces to per-order count tables (three
    map-side-combined aggs — the same three jobs Brants sharded);
    scoring aggregates per-(doc, trigram) FIRST, scores each trigram
    TYPE once (distinct types join the count tables, not instances),
    and joins the vocab-bounded type scores back on the trigram key.
    Only (id, tg, n) rows shuffle — never text."""
    from route81_spark.io import ensure_parallelism
    from route81_spark.ops.text import positional_ngrams, tokens
    from route81_spark.ops.util import det_round

    train = df if train_on is None else train_on

    def grams(src: DataFrame, n: int) -> DataFrame:
        base = ensure_parallelism(src.select(id_col, text_col))
        bound = F.get(
            F.transform(
                F.array(tokens(F.col(text_col))),
                lambda tk: positional_ngrams(tk, n),
            ),
            0,
        )
        g = base.select(F.col(id_col), F.explode(bound).alias("g"))
        return g.filter(F.size(F.split(F.col("g"), " ")) == n)

    tri = grams(train, 3).groupBy("g").agg(F.count(F.lit(1)).alias("c3"))
    big = grams(train, 2).groupBy("g").agg(F.count(F.lit(1)).alias("c2"))
    uni = grams(train, 1).groupBy("g").agg(F.count(F.lit(1)).alias("c1"))
    tot = uni.agg(F.sum("c1").alias("N"), F.count(F.lit(1)).alias("V"))

    tfb = grams(df, 3).groupBy(id_col, "g").agg(F.count(F.lit(1)).alias("n"))
    w = F.split(F.col("g"), " ")
    typed = tfb.select("g").distinct().select(
        "g",
        F.concat_ws(" ", w[0], w[1]).alias("__ctx"),
        F.concat_ws(" ", w[1], w[2]).alias("__bg2"),
        w[1].alias("__w2"),
        w[2].alias("__w3"),
    )
    a = F.lit(float(alpha))
    joined = (
        typed.join(tri, "g", "left")
        .join(
            big.select(F.col("g").alias("__ctx"), F.col("c2").alias("__cctx")),
            "__ctx",
            "left",
        )
        .join(
            big.select(F.col("g").alias("__bg2"), F.col("c2").alias("__cbg")),
            "__bg2",
            "left",
        )
        .join(
            uni.select(F.col("g").alias("__w2"), F.col("c1").alias("__c1w2")),
            "__w2",
            "left",
        )
        .join(
            uni.select(F.col("g").alias("__w3"), F.col("c1").alias("__c1w3")),
            "__w3",
            "left",
        )
        .crossJoin(F.broadcast(tot))
    )
    s1 = (F.coalesce(F.col("__c1w3"), F.lit(0)) + 1) / (F.col("N") + F.col("V"))
    s2 = F.when(
        F.col("__cbg").isNotNull(), F.col("__cbg") / F.col("__c1w2")
    ).otherwise(a * s1)
    s3 = F.when(
        F.col("c3").isNotNull(), F.col("c3") / F.col("__cctx")
    ).otherwise(a * s2)
    scores = joined.select("g", F.log(s3).alias("__lp"))
    agg = tfb.join(scores, "g").groupBy(id_col).agg(
        F.sum("n").alias("n_trigrams"),
        F.sum(F.col("n") * F.col("__lp")).alias("__slp"),
    )
    return agg.select(
        F.col(id_col),
        F.col("n_trigrams"),
        det_round(-F.col("__slp") / F.col("n_trigrams"), 6).alias("sb_nll"),
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus snapshot diff — the daily-ops primitive behind
    incremental curation: given yesterday's and today's snapshots,
    classify every id as added / removed / changed / unchanged by
    content hash (sha256 of the text; ids compare even when the
    payload moved files). Returns
    (id, status, old_hash, new_hash) — feed `added` + `changed` into
    the incremental dedup/index paths (dedup_against,
    fingerprint_dedup_against) instead of recurating the world.

    100 TB shape: each side reduces to (id, hash) BEFORE the join —
    one full-outer hash join on the id key carrying two 64-char
    strings per row, never text. Hashing is map-side JVM sha2."""
    oh = old.select(
        F.col(id_col), F.sha2(F.col(text_col), 256).alias("old_hash")
    )
    nh = new.select(
        F.col(id_col), F.sha2(F.col(text_col), 256).alias("new_hash")
    )
    j = oh.join(nh, id_col, "full_outer")
    status = (
        F.when(F.col("old_hash").isNull(), "added")
        .when(F.col("new_hash").isNull(), "removed")
        .when(F.col("old_hash") == F.col("new_hash"), "unchanged")
        .otherwise("changed")
    )
    return j.select(id_col, status.alias("status"), "old_hash", "new_hash")


_KMV_MAX = 1152921504606846975.0  # 2^60 - 1 as a double (both engines
# parse the same literal to the same IEEE value)


def kmv_overlap_sketch(
    a: DataFrame,
    b: DataFrame,
    k: int = 128,
    text_col: str = "text",
) -> DataFrame:
    """Corpus-overlap estimate from bottom-k (KMV) sketches — the
    planning primitive before an expensive cross-corpus dedup: "how
    much of snapshot B is already in A?" answered from two
    kilobyte-sized sketches instead of a corpus join.

    Each side reduces to the k smallest DISTINCT 60-bit content
    hashes; the bottom-k of the union of two bottom-k sketches IS the
    bottom-k of the union (KMV closure), so jaccard_est =
    |union-sketch ∩ A_k ∩ B_k| / |union-sketch| is the standard
    unbiased Jaccard estimator (Beyer et al. 2007), and the kth
    minimum yields a distinct-cardinality estimate of the union.

    100 TB shape: one integer-hash DISTINCT per side then a
    per-partition top-k (TakeOrdered — never a global sort); every
    subsequent join touches <= k rows. Returns ONE row:
    (k_used, n_a, n_b, shared, jaccard_est, union_est)."""
    from route81_spark.ops.util import det_round

    def sk(df: DataFrame) -> DataFrame:
        h = F.conv(F.substring(F.md5(F.col(text_col)), 1, 15), 16, 10).cast("long")
        # NULL text -> NULL hash would sort FIRST in Spark's ASC order
        # (DuckDB defaults NULLS LAST), occupying a sketch slot that can
        # never match — drop it on both sides' semantics: no content,
        # no membership
        s = (
            df.filter(F.col(text_col).isNotNull())
            .select(h.alias("h"))
            .distinct()
            .orderBy("h")
            .limit(k)
        )
        # fan-out: each <= k-row sketch feeds three branches (union
        # sketch, intersection, its own count); unpinned, every branch
        # replayed the corpus-wide distinct+top-k
        return pin(s)

    ak, bk = sk(a), sk(b)
    # same fan-out: u feeds the union-stats agg AND the shared join
    u = pin(ak.union(bk).distinct().orderBy("h").limit(k))
    inter = ak.join(bk, "h")
    shared = u.join(inter, "h")
    row = (
        u.agg(F.count("*").alias("k_used"), F.max("h").alias("kth"))
        .crossJoin(ak.agg(F.count("*").alias("n_a")))
        .crossJoin(bk.agg(F.count("*").alias("n_b")))
        .crossJoin(shared.agg(F.count("*").alias("shared")))
    )
    jacc = det_round(F.col("shared") / F.col("k_used").cast("double"), 6)
    union_est = F.when(
        F.col("k_used") < k, F.col("k_used").cast("double")
    ).otherwise(
        det_round(
            (F.col("k_used") - 1).cast("double")
            * F.lit(_KMV_MAX)
            / F.col("kth").cast("double"),
            4,
        )
    )
    return row.select(
        F.col("k_used").cast("int").alias("k_used"),
        F.col("n_a").cast("int").alias("n_a"),
        F.col("n_b").cast("int").alias("n_b"),
        F.col("shared").cast("int").alias("shared"),
        jacc.alias("jaccard_est"),
        union_est.alias("union_est"),
    )


def preference_pairs(
    df: DataFrame,
    group_col: str = "prompt_id",
    score_col: Column | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DPO/RLHF preference-pair construction: within each prompt group
    pick the highest-scoring candidate as `chosen` and the lowest as
    `rejected` (deterministic tie-breaks: chosen falls to the LOWEST
    id, rejected to the HIGHEST, via negated-id struct fields), and
    keep only pairs with a strictly positive margin — equal-scored
    pairs carry no preference signal.

    Scale shape: ONE map-side-combined aggregate on the group key (two
    struct max/mins), integer/double rows only — the candidate texts
    never shuffle; join them back by id afterwards if the trainer
    needs payloads. No window, no per-group sort."""
    from route81_spark.ops.text import quality_score

    s = score_col if score_col is not None else quality_score(F.col(text_col))
    gid = F.col(id_col)
    agg = df.groupBy(group_col).agg(
        F.max(
            F.struct(s.alias("s"), (-gid).alias("negid"), gid.alias("id"))
        ).alias("best"),
        F.min(
            F.struct(s.alias("s"), (-gid).alias("negid"), gid.alias("id"))
        ).alias("worst"),
    )
    return (
        agg.filter(F.col("best.s") > F.col("worst.s"))
        .select(
            F.col(group_col),
            F.col("best.id").alias("chosen_id"),
            F.col("worst.id").alias("rejected_id"),
            F.col("best.s").alias("chosen_score"),
            F.col("worst.s").alias("rejected_score"),
            (F.col("best.s") - F.col("worst.s")).alias("margin"),
        )
    )


_BLOOM_P = 2_147_483_647  # 2^31 - 1, the minhash universal-hash prime


def _bloom_positions(unit: Column, m_bits: int, k: int, seed: str) -> Column:
    """Array of k bloom bit positions for one text unit via
    Kirsch-Mitzenmacher double hashing: ONE md5 per unit (the
    expensive part — the naive k-seeds form paid k of them), split by
    pure bit ops into h1 = low 31 bits and h2 = high 29 bits, then
    pos_i = (h1 + i*(2*h2+1)) mod P mod m with P = 2^31-1 prime.
    The odd step keeps h2=0 from collapsing all k positions; K-M shows
    this family preserves the Bloom false-positive asymptotics of k
    independent hashes. Bit-exact cross-engine by construction: the
    mask/shift split stays in int64 (no float division anywhere) and
    DuckDB computes the identical `& 0x7FFFFFFF` / `>> 31` on the same
    md5-derived 60-bit base."""

    def with_base(b: Column) -> Column:
        h1 = b.bitwiseAND(F.lit(_BLOOM_P))  # low 31 bits (mask = 2^31-1)
        step = F.shiftright(b, 31) * 2 + 1
        return F.array(
            *[((h1 + F.lit(i) * step) % F.lit(_BLOOM_P)) % F.lit(m_bits)
              for i in range(k)]
        )

    return F.get(F.transform(F.array(_h60(unit, seed)), with_base), 0)


def bloom_build(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str | None = None,
    window: int | None = None,
    m_bits: int = 1 << 20,
    k: int = 3,
    seed: str = "bloom0",
) -> DataFrame:
    """Build a Bloom-filter bitmap of every paragraph/line unit in `df`
    — the Dolma-style membership index an incremental ingestion pass
    checks new crawl text against. Returns sparse bitmap rows
    (word BIGINT in [0, m/64), bits BIGINT): word w's 64 bits OR-ed
    over all unit-hash positions landing in it.

    100 TB shape: units explode per-row, reduce to k integer positions
    each BEFORE any shuffle, then ONE map-side-combinable bit_or hash
    agg over at most m/64 distinct keys (m=2^20 -> <=16,384 rows,
    128 KiB of filter). Raw text never shuffles; the filter is tiny by
    construction no matter the corpus size — that bound is the entire
    point of the structure (false-positive rate, not memory, is what
    degrades as the corpus grows)."""
    units = _line_array(text_col, sep, window)
    pos = df.select(
        F.explode(
            F.flatten(
                F.transform(
                    units, lambda u: _bloom_positions(u, m_bits, k, seed)
                )
            )
        ).alias("__p")
    )
    word = F.call_function("shiftright", F.col("__p"), F.lit(6))
    mask = F.call_function(
        "shiftleft", F.lit(1).cast("long"), (F.col("__p") % 64).cast("int")
    )
    return pos.groupBy(word.alias("word")).agg(
        F.bit_or(mask).alias("bits")
    ).withColumn("m_words", F.lit(m_bits >> 6))


def bloom_dense_words(bloom: DataFrame, m_bits: int = 1 << 20) -> list[int]:
    """Materialize the sparse bitmap as a dense m/64-long word list for
    literal broadcast. The collect is bounded BY CONSTRUCTION at
    m/64 rows (16,384 longs = 128 KiB at the default m) — independent
    of corpus size, the same bounded-collect contract as the PQ
    codebook sample."""
    n_words = m_bits >> 6
    dense = [0] * n_words
    for row in bloom.collect():
        if "m_words" in row and int(row["m_words"]) != n_words:
            raise ValueError(
                f"bitmap was built with m_bits={int(row['m_words']) << 6}, "
                f"asked to densify as m_bits={m_bits}"
            )
        dense[int(row["word"])] = int(row["bits"])
    return dense


def bloom_probe_expr(
    lit_words: Column, unit: Column, m_bits: int, k: int, seed: str
) -> Column:
    """True iff ALL k bit positions of `unit` are set in the dense
    bitmap literal — the single shared probe used by bloom_apply and
    bloom_semi_join, so a change to the position encoding (like the
    r6 K-M rewrite) lands in exactly one place."""
    return F.forall(
        _bloom_positions(unit, m_bits, k, seed),
        lambda p: (
            F.element_at(
                lit_words,
                (F.call_function("shiftright", p, F.lit(6)) + 1).cast("int"),
            ).bitwiseAND(
                F.call_function(
                    "shiftleft", F.lit(1).cast("long"), (p % 64).cast("int")
                )
            )
            != 0
        ),
    )


def bloom_apply(
    df: DataFrame,
    words: list[int],
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str | None = None,
    window: int | None = None,
    k: int = 3,
    seed: str = "bloom0",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Filter every unit of every document against a pre-built Bloom
    bitmap (`words` from bloom_dense_words): a unit is `seen` iff ALL
    k of its bit positions are set (false positives are inherent,
    deterministic given the hashes, and replicated exactly by the
    oracle's set-membership twin). Documents are rebuilt from their
    unseen units in order. Returns (id, n_units, n_seen, clean_text).

    100 TB shape: the bitmap rides along as ONE 128 KiB array literal,
    so this is a pure per-row projection — zero shuffles, zero joins,
    stream-legal (append-mode safe; pair with bloom_build on the
    already-ingested index for incremental crawl dedup). Contrast
    line_dedup_global, which needs the winner agg + text join because
    it dedups a corpus against ITSELF."""
    from route81_spark.ops.util import lit_long_array

    m_bits = len(words) << 6
    # ONE Literal node, O(1) gateway round trips. The np.int64-array
    # F.lit it replaces also folded to one Literal (unlike F.lit(list),
    # whose 16k-child CreateArray codegen re-materialized per
    # element_at probe — measured 8s instead of 1s at sf0.1), but its
    # CONSTRUCTION made 2 Py4J calls per element: ~33,000 round trips
    # ≈ 2.8 s of driver latency per build (tools/py4j_count.py).
    lit_words = lit_long_array(words)

    def seen(u: Column) -> Column:
        return bloom_probe_expr(lit_words, u, m_bits, k, seed)

    joiner = sep if sep is not None else " "
    # `carry_cols` ride along the per-row projection so a composing
    # caller (incremental_curation's status) never needs to join the
    # result back onto its input — the join re-executed the entire
    # upstream lineage a second time AND paid a shuffle for columns
    # that were sitting in the same row all along.
    carry = [F.col(c) for c in carry_cols]
    # two 1-element explodes materialize `units` then `kept` exactly
    # once per row: CollapseProject does not cross a Generate, so the
    # downstream multi-column projection can't re-inline the md5 probe
    # chain (naive form evaluated it twice -> 2x the probe md5 work)
    bound_units = df.select(
        F.col(id_col),
        *carry,
        F.explode(F.array(_line_array(text_col, sep, window))).alias("__us"),
    )
    bound_kept = bound_units.select(
        F.col(id_col),
        *carry,
        F.size("__us").alias("n_units"),
        F.explode(
            F.array(F.filter(F.col("__us"), lambda u: ~seen(u)))
        ).alias("__kp"),
    )
    return bound_kept.select(
        F.col(id_col),
        *carry,
        F.col("n_units"),
        (F.col("n_units") - F.size("__kp")).alias("n_seen"),
        F.array_join(F.col("__kp"), joiner).alias("clean_text"),
    )


def bloom_paragraph_dedup(
    df: DataFrame,
    ref_filter: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str | None = None,
    window: int | None = None,
    m_bits: int = 1 << 20,
    k: int = 3,
    seed: str = "bloom0",
) -> DataFrame:
    """End-to-end incremental-ingestion dedup (Dolma's paragraph Bloom
    pass): build the bitmap from the already-ingested reference slice
    (`ref_filter` true), then drop every probe-side unit the filter
    claims to have seen and rebuild the probe documents. Returns probe
    rows only: (id, n_units, n_seen, clean_text)."""
    ref = df.filter(ref_filter)
    probe = df.filter(~ref_filter)
    bitmap = bloom_build(
        ref, text_col, id_col, sep=sep, window=window,
        m_bits=m_bits, k=k, seed=seed,
    )
    words = bloom_dense_words(bitmap, m_bits)
    return bloom_apply(
        probe, words, text_col, id_col, sep=sep, window=window, k=k, seed=seed
    )


def zipf_fit(
    df: DataFrame,
    text_col: str = "text",
    top_v: int = 256,
) -> DataFrame:
    """Zipf-law diagnostic for a corpus: least-squares slope of
    ln(frequency) on ln(rank) over the top_v most frequent tokens
    (natural text sits near -1; template spam and synthetic filler
    drift far off — a cheap whole-corpus health check next to the
    dataset card). Returns ONE row
    (n_types, n_tokens, n_top, top_count, zipf_slope).

    100 TB shape: the corpus reduces to the token-frequency table in
    one map-side-combinable agg; top_v selection is a TakeOrdered (no
    global sort materializes); the regression runs as a SEQUENTIAL
    left fold over the <= top_v sorted counts inside one row — bit-
    reproducible, and the same fold the DuckDB oracle runs."""
    from route81_spark.ops.text import tokens

    c = (
        df.select(F.explode(tokens(F.col(text_col))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"))
    )
    # fan-out: the totals agg AND the top-V TakeOrdered read the
    # vocab-sized frequency table
    c = pin(c)
    totals = c.agg(
        F.count("*").cast("long").alias("n_types"),
        F.sum("cnt").cast("long").alias("n_tokens"),
    )
    top = c.orderBy(F.desc("cnt"), F.asc("tok")).limit(top_v)
    packed = top.groupBy().agg(
        F.sort_array(
            F.collect_list(
                F.struct((-F.col("cnt")).alias("nc"), F.col("tok").alias("t"))
            )
        ).alias("a")
    )

    def fold(term):
        # left fold with 0.0 init == DuckDB list_reduce (0.0+t1 === t1)
        return F.aggregate(
            F.sequence(F.lit(1), F.size(F.col("a"))),
            F.lit(0.0),
            lambda acc, i: acc + term(i),
        )

    def lncnt(i):
        return F.log((-F.element_at(F.col("a"), i).getField("nc")).cast("double"))

    def lnrank(i):
        return F.log(i.cast("double"))

    n = F.size(F.col("a")).cast("double")
    sx = fold(lnrank)
    sy = fold(lncnt)
    sxx = fold(lambda i: lnrank(i) * lnrank(i))
    sxy = fold(lambda i: lnrank(i) * lncnt(i))
    from route81_spark.ops.util import det_round

    fitted = packed.select(
        F.size(F.col("a")).alias("n_top"),
        (-F.element_at(F.col("a"), 1).getField("nc")).alias("top_count"),
        det_round(
            (n * sxy - sx * sy) / (n * sxx - sx * sx), 6
        ).alias("zipf_slope"),
    )
    return totals.crossJoin(fitted).select(
        "n_types", "n_tokens", "n_top", "top_count", "zipf_slope"
    )


def intradoc_line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str | None = None,
    window: int | None = None,
) -> DataFrame:
    """WITHIN-document repeated-line removal (the Gopher-class
    intra-doc repetition scrub): each document keeps only the first
    occurrence of every line it contains; repeats inside the SAME doc
    are dropped, but a line shared across documents survives in each —
    the complement of line_dedup_global's corpus-wide keep-first.
    Returns (id, n_lines, n_kept, clean_text).

    100 TB shape: entirely per-row — the keep-first decision is
    array_position(units, u) == own index inside one document, so this
    is a pure projection: zero shuffles, stream-legal (append-mode
    intake hygiene alongside normalize_text)."""
    joiner = sep if sep is not None else " "
    # bind `units` then `kept` exactly once per row behind Generate
    # boundaries (the bloom_apply fix): the naive form re-evaluated the
    # whole tokenize+chunk tree per element via array_position(units,.)
    # inside the HOF lambda, plus twice more across the select columns
    bound_units = df.select(
        F.col(id_col),
        F.explode(F.array(_line_array(text_col, sep, window))).alias("__us"),
    )
    us = F.col("__us")
    bound_kept = bound_units.select(
        F.col(id_col),
        F.size("__us").alias("n_lines"),
        F.explode(
            F.array(
                F.filter(
                    us, lambda u, i: F.array_position(us, u) == i + F.lit(1)
                )
            )
        ).alias("__kp"),
    )
    return bound_kept.select(
        F.col(id_col),
        F.col("n_lines"),
        F.size("__kp").alias("n_kept"),
        F.array_join(F.col("__kp"), joiner).alias("clean_text"),
    )


def budget_select(
    scored: DataFrame,
    priority_col: str,
    tokens_col: str,
    budget: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Greedy data selection under a token budget — the final step of
    every curation funnel once quality scores exist: rank documents by
    priority (id tie-break) and keep the prefix whose cumulative token
    count fits the budget (a doc is kept iff the running total
    INCLUDING it is <= budget; no skip-and-continue, so the kept set is
    a deterministic prefix). Returns
    (id, priority, n_tokens, sel_rank, cum_tokens) for kept docs.

    Scale note: the ranking window is global — the same single-reducer
    contract as ccnet_buckets' exact NTILE, documented there: the input
    is the doc-count-sized (id, 2 ints) score table, not the corpus,
    and the reducer streams it. For corpora where even that table is
    too large, find the priority cutoff with a quantile sketch first
    (the ccnet_buckets_approx pattern) and filter map-side; the exact
    form is the oracle-checkable contract."""
    w = (
        Window.orderBy(F.desc(priority_col), F.asc(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rw = Window.orderBy(F.desc(priority_col), F.asc(id_col))
    out = scored.select(
        F.col(id_col),
        F.col(priority_col),
        F.col(tokens_col),
        F.row_number().over(rw).cast("int").alias("sel_rank"),
        F.sum(tokens_col).over(w).cast("long").alias("cum_tokens"),
    )
    return out.filter(F.col("cum_tokens") <= budget)


def distribution_drift(
    a: DataFrame,
    b: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Token-distribution drift between two corpus snapshots as the
    total-variation distance TV = 1/2 * sum_t |p_a(t) - p_b(t)| — the
    monitoring primitive that catches a crawl source going bad (spam
    influx, template takeover, language shift) BEFORE expensive
    recuration. Integer-exact: per-token counts cross-multiplied
    against the opposite side's total (|c_a*N_b - c_b*N_a| sums as
    BIGINT), divided once at the end. Returns ONE row
    (n_types_union, n_tokens_a, n_tokens_b, tv_num, tv_distance).

    Exactness bound: the numerator is bounded by 2*N_a*N_b, so int64
    is exact up to ~2.1e9 tokens PER SIDE (~8 GB of text) — right for
    per-source/per-shard drift monitoring, the intended granularity.
    Above that, swap the cross-products for decimal(38,0) (the
    quality_classifier escape hatch) or compare hash-bucketed
    sub-distributions.

    100 TB shape: each side reduces to its vocab-sized count table in
    one map-side-combinable agg; ONE full-outer join on the token key
    (vocab-sized, not corpus-sized) and one scalar aggregate. Text
    never shuffles."""
    from route81_spark.ops.text import tokens
    from route81_spark.ops.util import det_round

    def counts(df: DataFrame, name: str) -> DataFrame:
        return (
            df.select(F.explode(tokens(F.col(text_col))).alias("tok"))
            .groupBy("tok")
            .agg(F.count("*").cast("long").alias(name))
        )

    ca = counts(a, "ca")
    cb = counts(b, "cb")
    j = ca.join(cb, "tok", "full_outer").select(
        F.coalesce("ca", F.lit(0)).alias("ca"),
        F.coalesce("cb", F.lit(0)).alias("cb"),
    )
    # fan-out: the totals agg AND the TV-numerator agg (which replays
    # the totals as its broadcast side) read the joined count table
    j = pin(j)
    agg = j.agg(
        F.count("*").cast("int").alias("n_types_union"),
        F.sum("ca").cast("long").alias("n_tokens_a"),
        F.sum("cb").cast("long").alias("n_tokens_b"),
    )
    tv = (
        j.crossJoin(F.broadcast(agg))
        .agg(
            F.sum(
                F.abs(
                    F.col("ca") * F.col("n_tokens_b")
                    - F.col("cb") * F.col("n_tokens_a")
                )
            )
            .cast("long")
            .alias("tv_num")
        )
    )
    return agg.crossJoin(tv).select(
        "n_types_union",
        "n_tokens_a",
        "n_tokens_b",
        "tv_num",
        det_round(
            F.col("tv_num")
            / (F.lit(2.0) * F.col("n_tokens_a") * F.col("n_tokens_b")),
            6,
        ).alias("tv_distance"),
    )


def bloom_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Union two Bloom bitmaps (bloom_build outputs) — the index-update
    step of the incremental-ingestion loop: OR yesterday's filter with
    the batch just accepted, without touching any text. Bitmap-OR is
    exact for Bloom semantics (a bit is set iff set in either side) —
    but ONLY for same-sized filters: positions are taken mod m, so
    OR-ing bitmaps of different m silently misplaces bits and creates
    FALSE NEGATIVES (the failure a Bloom filter must never have).
    bloom_build therefore tags its output with m_words, and the merge
    refuses mismatched sizes (one tiny agg over the <=m/64-row
    bitmaps). One full-outer join over <= m/64 integer rows."""
    sizes = (
        a.select(F.col("m_words").alias("ma"))
        .limit(1)
        .crossJoin(b.select(F.col("m_words").alias("mb")).limit(1))
        .collect()
    )
    if sizes and sizes[0]["ma"] != sizes[0]["mb"]:
        raise ValueError(
            f"cannot OR bitmaps of different sizes: m_bits "
            f"{sizes[0]['ma'] << 6} vs {sizes[0]['mb'] << 6}"
        )
    ja = a.select(F.col("word"), F.col("bits").alias("__a"))
    jb = b.select(F.col("word"), F.col("bits").alias("__b"))
    j = ja.join(jb, "word", "full_outer")
    m_words = int(sizes[0]["ma"]) if sizes else 0
    return j.select(
        "word",
        (
            F.coalesce(F.col("__a"), F.lit(0)).bitwiseOR(
                F.coalesce(F.col("__b"), F.lit(0))
            )
        ).alias("bits"),
        F.lit(m_words).alias("m_words"),
    )


def incremental_curation(
    old: DataFrame,
    new: DataFrame,
    langs: tuple[str, ...] = ("en",),
    min_quality: float = 0.05,
    min_tokens: int = 5,
    max_tokens: int = 1_000_000,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 4,
    m_bits: int = 1 << 20,
    k: int = 3,
    seed: str = "bloom0",
) -> DataFrame:
    """The day-2 ops composition, end to end: given yesterday's
    accepted corpus and today's snapshot, (1) snapshot_diff finds the
    added/changed ids — unchanged docs are never reprocessed, (2) the
    quality/language/length gate screens the candidates, (3) the
    standing Bloom index built from yesterday's corpus scrubs every
    paragraph yesterday already had. Returns the accepted NEW work
    only: (id, status, n_units, n_seen, clean_text).

    100 TB shape: the diff is two (id, hash) reductions + one id join;
    the gate is one bound tokenization per candidate; the index is the
    bounded bitmap (built once per day, mergeable via bloom_merge);
    the scrub is the map-only literal probe. Nothing corpus-sized
    shuffles, and the expensive paths touch only the day's delta."""
    from route81_spark.ops.text import curation_gate

    delta = snapshot_diff(old, new, id_col=id_col, text_col=text_col).filter(
        F.col("status").isin("added", "changed")
    )
    cand = new.join(delta.select(id_col, "status"), id_col)
    gated = cand.filter(
        curation_gate(
            F.col(text_col), langs, min_quality, min_tokens, max_tokens
        )
    )
    words = bloom_dense_words(
        bloom_build(
            old, text_col, id_col, window=window, m_bits=m_bits, k=k, seed=seed
        ),
        m_bits,
    )
    # status rides through the scrub projection (carry_cols) — the
    # former re-join of `gated` onto the scrub output re-executed the
    # diff+gate lineage twice and shuffled both sides for a column
    # already present in the row
    scrubbed = bloom_apply(
        gated, words, text_col, id_col, window=window, k=k, seed=seed,
        carry_cols=("status",),
    )
    return scrubbed.select(id_col, "status", "n_units", "n_seen", "clean_text")
