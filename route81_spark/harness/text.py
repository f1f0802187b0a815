"""Text analysis: stats, language-ID, quality scoring and classifiers, winnowing, vocab/token-ids, BM25, n-gram LMs, HTML extraction, entropy/Zipf diagnostics."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from route81_spark.materialize import cached
from route81_spark.ops import text as X
from route81_spark.ops.util import det_round_sql
from route81_spark.pipeline import apply_pipeline
from ._shared import _HTML_STEPS, _TOKS, _docs_ids, _q, _syn_text, _t, _wh60

@_q(
    "text_stats",
    f"""
    SELECT doc_id,
           CAST(len({_TOKS}) AS INT) AS n_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+'))
                AS INT) AS n_bpe_tokens,
           floor((least(length(text) / 400.0, 1.0)
                 * (CAST(len(list_distinct({_TOKS})) AS DOUBLE) / len({_TOKS}))
                 * (CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                    / length(text))) * 1000000.0 + 0.5) / 1000000.0 AS quality,
           md5(array_to_string(list_sort(list_distinct({_TOKS})), ' ')) AS fp
    FROM documents
    """,
)
def text_stats(spark, sf_dir):
    from route81_spark.io import ensure_parallelism

    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    c = F.col("text")
    return docs.select(
        "doc_id",
        X.token_count(c).alias("n_tokens"),
        F.size(X.bpe_ish_tokens(c)).alias("n_bpe_tokens"),
        X.quality_score(c).alias("quality"),
        X.fingerprint(c).alias("fp"),
    )

@_q(
    "text_langid",
    """
    WITH s AS (
      SELECT doc_id, lang,
             CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                  t -> t IN ('der','die','und','das','ist'))) AS INT) AS s_de,
             CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                  t -> t IN ('the','and','of','to','a'))) AS INT) AS s_en,
             CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                  t -> t IN ('le','la','et','les','des'))) AS INT) AS s_fr
      FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN greatest(s_de, s_en, s_fr) > 0 THEN
             CASE WHEN s_de = greatest(s_de, s_en, s_fr) THEN 'de'
                  WHEN s_en = greatest(s_de, s_en, s_fr) THEN 'en'
                  ELSE 'fr' END
           ELSE 'und' END AS pred_lang
    FROM s
    """,
)
def text_langid(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", "lang", X.lang_id(F.col("text")).alias("pred_lang"))

@_q(
    "text_winnow",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
    sh AS (
      SELECT doc_id,
             list_transform(range(1, greatest(len(tk) - 3, 1) + 1),
                            i -> coalesce(array_to_string(tk[i:i+3], ' '), '')) AS sgl
      FROM t
    ),
    h AS (
      SELECT doc_id,
             list_transform(sgl, s -> ('0x' || substr(md5('7|' || s), 1, 15))::BIGINT) AS hs
      FROM sh
    ),
    w AS (
      SELECT doc_id,
             list_sort(list_distinct(
               list_transform(range(1, greatest(len(hs) - 3, 1) + 1),
                              i -> list_aggregate(hs[i:i+3], 'min')))) AS fps
      FROM h
    )
    SELECT doc_id, unnest(fps) AS fp FROM w
    """,
)
def text_winnow(spark, sf_dir):
    # winnowing fingerprints (MOSS), exploded to (doc_id, fp) rows —
    # the equi-joinable representation candidate retrieval uses
    from route81_spark.io import ensure_parallelism

    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        F.explode(X.winnow_fingerprints(F.col("text"), k=4, window=4)).alias("fp"),
    )

_PII_EMAIL_SQL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

_PII_PHONE_SQL = "\\+?[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}"

_PII_IP_SQL = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

_PII_AUG_SQL = """
    text || CASE CAST(doc_id % 7 AS INT)
      WHEN 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com now'
      WHEN 1 THEN ' call 555-123-4567 soon'
      WHEN 2 THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1 up'
      ELSE '' END
"""

@_q(
    "text_pii_redact",
    f"""
    WITH aug AS (SELECT doc_id, {_PII_AUG_SQL} AS p FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(p, '{_PII_EMAIL_SQL}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(p, '{_PII_PHONE_SQL}')) AS INT) AS n_phones,
           CAST(len(regexp_extract_all(p, '{_PII_IP_SQL}')) AS INT) AS n_ips,
           regexp_replace(
             regexp_replace(
               regexp_replace(p, '{_PII_EMAIL_SQL}', '<EMAIL>', 'g'),
               '{_PII_PHONE_SQL}', '<PHONE>', 'g'),
             '{_PII_IP_SQL}', '<IP>', 'g') AS redacted
    FROM aug
    """,
)
def text_pii_redact(spark, sf_dir):
    # PII scrub over the documents table: typed placeholder redaction +
    # per-class counts, all narrow regexp expressions (ops/text.py
    # pii_counts/pii_redact)
    from route81_spark.ops.text import pii_counts, pii_redact

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.when(
            did % 7 == 0,
            F.concat(
                F.lit(" contact user"),
                did.cast("string"),
                F.lit("@mail.example.com now"),
            ),
        )
        .when(did % 7 == 1, F.lit(" call 555-123-4567 soon"))
        .when(
            did % 7 == 2,
            F.concat(F.lit(" host 10.0."), (did % 256).cast("string"), F.lit(".1 up")),
        )
        .otherwise(F.lit("")),
    )
    with_pii = docs.select("doc_id", aug.alias("p"))
    counts = pii_counts(F.col("p"))
    return with_pii.select(
        "doc_id",
        counts["n_emails"].alias("n_emails"),
        counts["n_phones"].alias("n_phones"),
        counts["n_ips"].alias("n_ips"),
        pii_redact(F.col("p")).alias("redacted"),
    )

@_q(
    "text_gopher_flags",
    f"""
    WITH t AS (SELECT doc_id, text, {_TOKS} AS tk FROM documents),
    g AS (
      SELECT doc_id, text, tk,
             list_transform(range(1, greatest(len(tk) - 2, 1) + 1),
                            i -> coalesce(array_to_string(tk[i:i+2], ' '), '')) AS g3
      FROM t
    ),
    m AS (
      SELECT doc_id,
             floor((1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3))
                   * 1000000.0 + 0.5) / 1000000.0 AS dup_3gram_frac,
             floor((CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE)
                    / len(tk)) * 1000000.0 + 0.5) / 1000000.0 AS mean_word_len,
             floor((CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
                    / length(text)) * 1000000.0 + 0.5) / 1000000.0 AS symbol_ratio,
             CAST(len(list_filter(tk, x -> x IN
               ('a','and','das','der','des','die','et','ist','la','le','les',
                'of','the','to','und'))) AS INT) AS stopword_hits
      FROM g
    )
    SELECT doc_id, dup_3gram_frac, mean_word_len, symbol_ratio, stopword_hits,
           (dup_3gram_frac <= 0.75 AND mean_word_len BETWEEN 2.0 AND 12.0
            AND symbol_ratio <= 0.3 AND stopword_hits >= 1) AS keep
    FROM m
    """,
)
def text_gopher_flags(spark, sf_dir):
    # Gopher-style cheap quality filters: 3-gram repetition fraction,
    # mean word length, symbol ratio, stopword presence — pure Column
    # expressions (ops/text.py gopher_metrics/gopher_keep)
    from route81_spark.io import ensure_parallelism
    from route81_spark.ops.text import gopher_struct

    # the repetition metrics are heavy per-row HOFs; a single-file scan
    # must not serialize them onto one task. Two projections: the struct
    # evaluates once (multi-referenced non-cheap producers don't
    # collapse), fields project from it.
    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    return docs.select("doc_id", gopher_struct(F.col("text")).alias("g")).select(
        "doc_id",
        F.col("g.dup_3gram_frac").alias("dup_3gram_frac"),
        F.col("g.mean_word_len").alias("mean_word_len"),
        F.col("g.symbol_ratio").alias("symbol_ratio"),
        F.col("g.stopword_hits").alias("stopword_hits"),
        F.col("g.keep").alias("keep"),
    )

@_q(
    "text_rare_bigrams",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
    p AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(tk) - 1, 1) + 1),
                    i -> coalesce(array_to_string(tk[i:i+1], ' '), ''))) AS bg
      FROM t
    ),
    pairs AS (SELECT doc_id, bg FROM p WHERE contains(bg, ' ')),
    model AS (SELECT bg, count(*) AS c2 FROM pairs GROUP BY 1),
    uni AS (SELECT string_split(bg, ' ')[1] AS w1, count(*) AS c1
            FROM pairs GROUP BY 1),
    s AS (
      SELECT pr.doc_id,
             count(*) AS n_bigrams,
             CAST(sum(CASE WHEN m.c2 * 20 < u.c1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_rare
      FROM pairs pr
      JOIN model m USING (bg)
      JOIN uni u ON string_split(pr.bg, ' ')[1] = u.w1
      GROUP BY 1
    )
    SELECT doc_id, n_bigrams, n_rare,
           floor((CAST(n_rare AS DOUBLE) / n_bigrams) * 1000000.0 + 0.5)
             / 1000000.0 AS rare_frac
    FROM s
    """,
)
def text_rare_bigrams(spark, sf_dir):
    # corpus-LM fluency proxy: fraction of bigrams whose conditional
    # probability (trained on this corpus) is rare — integer-exact
    # decision, no float log-prob summation order to disagree on
    from route81_spark.ops.corpus import rare_bigram_stats

    return rare_bigram_stats(_t(spark, sf_dir, "documents"))

@_q(
    "text_tfidf_top",
    f"""
    WITH t AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
    d AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
    s AS (SELECT tf.doc_id, tf.term,
                 CAST(tf.tf * ((n.n * 1000000) // d.df) AS BIGINT) AS score
          FROM tf JOIN d USING (term) CROSS JOIN n)
    SELECT doc_id, term, score, CAST(rn AS INT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                    ORDER BY score DESC, term ASC) AS rn FROM s)
    WHERE rn <= 3
    """,
)
def text_tfidf_top(spark, sf_dir):
    # top-3 characteristic terms per doc by tf-idf with a rational idf
    # (integer (N*1e6) div df) so ranking is bit-exact across engines
    from route81_spark.ops.corpus import tfidf_top_terms

    return tfidf_top_terms(_t(spark, sf_dir, "documents"), k=3)

@_q(
    "text_chunks",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
    c AS (
      SELECT doc_id, tk, len(tk) AS n,
             greatest(CAST(floor((len(tk) - 8 + 23) / 24.0) AS INT), 1)
               AS n_chunks
      FROM t
    )
    SELECT doc_id,
           CAST(unnest(range(n_chunks)) AS INT) AS chunk_idx,
           unnest(list_transform(range(1, n_chunks + 1),
                  i -> coalesce(array_to_string(
                         tk[(i-1)*24 + 1 : (i-1)*24 + 32], ' '), '')))
             AS chunk_text,
           unnest(list_transform(range(1, n_chunks + 1),
                  i -> CAST(least(n - (i-1)*24, 32) AS INT))) AS n_tokens
    FROM c
    """,
)
def text_chunks(spark, sf_dir):
    # overlapping token-window segmentation (chunk 32 / overlap 8 so the
    # test corpus exercises multi-chunk docs): the standard pre-training
    # / retrieval chunking, pure narrow expressions + one explode
    from route81_spark.ops.text import chunk_documents

    return chunk_documents(
        _t(spark, sf_dir, "documents"), chunk_tokens=32, overlap=8
    )

@_q(
    "text_winnow_pairs",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
    sh AS (
      SELECT doc_id,
             list_transform(range(1, greatest(len(tk) - 3, 1) + 1),
                            i -> coalesce(array_to_string(tk[i:i+3], ' '), '')) AS sgl
      FROM t
    ),
    h AS (
      SELECT doc_id,
             list_transform(sgl, s -> ('0x' || substr(md5('7|' || s), 1, 15))::BIGINT) AS hs
      FROM sh
    ),
    w AS (
      SELECT doc_id,
             list_sort(list_distinct(
               list_transform(range(1, greatest(len(hs) - 3, 1) + 1),
                              i -> list_aggregate(hs[i:i+3], 'min')))) AS fps
      FROM h
    ),
    e AS (SELECT doc_id, unnest(fps) AS fp FROM w),
    ok AS (SELECT fp FROM e GROUP BY fp HAVING count(*) BETWEEN 2 AND 10),
    p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM e a JOIN e b USING (fp) JOIN ok USING (fp)
          WHERE a.doc_id < b.doc_id)
    SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS n_shared
    FROM p GROUP BY 1, 2 HAVING count(*) >= 2
    """,
)
def text_winnow_pairs(spark, sf_dir):
    # candidate near-clone retrieval over winnowing fingerprints (the
    # MOSS scheme's second half): shared uncommon fingerprints ->
    # candidate pairs; common fingerprints dropped (boilerplate)
    from route81_spark.ops.text import winnow_pairs

    return winnow_pairs(_t(spark, sf_dir, "documents"))

_VOCAB_SQL = f"""
    vt AS (SELECT unnest({_TOKS}) AS term FROM documents),
    vc AS (SELECT term, count(*) AS n FROM vt GROUP BY 1),
    vr AS (SELECT term, n,
                  CAST(row_number() OVER (ORDER BY n DESC, term ASC) - 1 AS INT)
                    AS token_id
           FROM vc)
"""

@_q(
    "text_vocab",
    f"""
    WITH {_VOCAB_SQL}
    SELECT term, n, token_id FROM vr WHERE token_id < 20
    """,
)
def text_vocab(spark, sf_dir):
    # frequency vocabulary with dense most-frequent-first ids: one
    # map-side-combined count agg over the corpus, rank over the
    # (bounded) vocab only
    from route81_spark.ops.corpus import build_vocab

    return build_vocab(_t(spark, sf_dir, "documents"), max_vocab=20)

@_q(
    "text_token_ids",
    f"""
    WITH {_VOCAB_SQL},
    v AS (SELECT term, token_id FROM vr WHERE token_id < 20),
    t AS (SELECT doc_id, {_TOKS} AS tk FROM documents WHERE doc_id % 20 = 0),
    p AS (SELECT doc_id, unnest(range(1, len(tk) + 1)) AS pos1,
                 unnest(tk) AS term
          FROM t)
    SELECT p.doc_id, CAST(p.pos1 - 1 AS INT) AS pos,
           CAST(coalesce(v.token_id, -1) AS INT) AS token_id
    FROM p LEFT JOIN v USING (term)
    """,
)
def text_token_ids(spark, sf_dir):
    # encode a doc subset against the corpus vocabulary: exploded
    # (id, pos, token_id) rows, OOV -> -1, broadcast vocab join — the
    # corpus never shuffles
    from route81_spark.ops.corpus import build_vocab, encode_token_ids

    docs = _t(spark, sf_dir, "documents")
    vocab = build_vocab(docs, max_vocab=20)
    return encode_token_ids(docs.filter(F.col("doc_id") % 20 == 0), vocab)

@_q(
    "text_lm_nll",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
    p AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(tk) - 1, 1) + 1),
                    i -> coalesce(array_to_string(tk[i:i+1], ' '), ''))) AS bg
      FROM t
    ),
    pairs AS (SELECT doc_id, bg FROM p WHERE contains(bg, ' ')),
    model AS (SELECT bg, count(*) AS c2 FROM pairs GROUP BY 1),
    uni AS (SELECT string_split(bg, ' ')[1] AS w1, count(*) AS c1
            FROM pairs GROUP BY 1),
    v AS (SELECT count(*) AS vs FROM uni),
    lp AS (
      SELECT m.bg, ln(CAST(m.c2 + 1 AS DOUBLE) / (u.c1 + v.vs)) AS lp
      FROM model m JOIN uni u ON string_split(m.bg, ' ')[1] = u.w1 CROSS JOIN v
    ),
    s AS (
      SELECT pr.doc_id, count(*) AS n_bigrams, sum(l.lp) AS slp
      FROM pairs pr JOIN lp l USING (bg) GROUP BY 1
    )
    SELECT doc_id, n_bigrams,
           floor((-slp / n_bigrams) * 1000000.0 + 0.5) / 1000000.0 AS nll
    FROM s
    """,
)
def text_lm_nll(spark, sf_dir):
    # self-trained bigram-LM negative log-likelihood per doc (the
    # KenLM/CCNet perplexity-filter signal); det-rounded so libm /
    # summation-order ulps cannot flip values
    from route81_spark.ops.corpus import lm_logprob_score

    return lm_logprob_score(_t(spark, sf_dir, "documents"))

@_q(
    "text_vocab_coverage",
    f"""
    WITH tc AS (
      SELECT t AS term, CAST(count(*) AS BIGINT) AS c
      FROM (SELECT unnest({_TOKS}) AS t FROM documents)
      GROUP BY 1
    ),
    ranked AS (
      SELECT term, c,
             CAST(row_number() OVER (ORDER BY c DESC, term ASC) AS BIGINT) AS rank,
             sum(c) OVER (ORDER BY c DESC, term ASC
                          ROWS UNBOUNDED PRECEDING) AS cum,
             sum(c) OVER () AS total
      FROM tc
    )
    SELECT rank, term, c AS term_count,
           {det_round_sql('cum / CAST(total AS DOUBLE)', 6)} AS coverage
    FROM ranked WHERE rank <= 32
    """,
)
def text_vocab_coverage(spark, sf_dir):
    """Vocabulary coverage curve: cumulative share of all corpus tokens
    covered by the top-k terms — the tokenizer-design question ('how
    big a vocab covers 95%?') answered exactly. One map-side-combined
    term count over the corpus; top-k ships k rows per partition and
    the 32-point curve assembles driver-side."""
    from route81_spark.io import ensure_parallelism
    from route81_spark.ops.text import tokens

    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    # total + top-k share the term-count aggregation
    with cached(
        docs.select(F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    ) as tc:
        # scalar total + TOP-K, never a global window: orderBy+limit is
        # TakeOrderedAndProject (k rows per partition) — a full-vocab
        # rank/cumsum window would drag millions of terms through ONE
        # task at scale. The 32-row curve assembles driver-side (eager,
        # so the cached term counts are read exactly once).
        raw_total = tc.agg(F.sum("c")).first()[0]
        top = tc.orderBy(F.col("c").desc(), F.col("term").asc()).limit(32).collect()
    schema = "rank long, term string, term_count long, coverage double"
    if raw_total is None:  # empty corpus: empty curve, like the oracle
        return spark.createDataFrame([], schema)
    total = float(raw_total)
    rows, cum = [], 0
    for i, r in enumerate(top):
        cum += int(r["c"])
        rows.append((i + 1, r["term"], int(r["c"]), cum / total))
    out = spark.createDataFrame(rows, schema)
    from route81_spark.ops.util import det_round

    # the SHARED cross-engine rounding, not a hand-rolled copy
    return out.withColumn("coverage", det_round(F.col("coverage"), 6))

@_q(
    "text_phrase_search",
    f"""
    WITH s AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
    idx AS (
      SELECT doc_id, tk[t.p + 1] AS term, t.p AS pos
      FROM s, unnest(range(len(tk))) AS t(p)
    )
    SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_occurrences
    FROM idx a
    JOIN idx b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
    WHERE a.term = 'table' AND b.term = 'part'
    GROUP BY a.doc_id
    """,
)
def text_phrase_search(spark, sf_dir):
    """Exact phrase match ('table part') via the positional inverted
    index: per-term posting filters + consecutive-position equi-joins —
    term-selective, no LIKE scan (which also false-matches inside
    longer tokens)."""
    from route81_spark.ops.text import phrase_search

    return phrase_search(_t(spark, sf_dir, "documents"), ["table", "part"])

_BM25_TERMS = ["join", "vector", "scan"]

_BM25_ORACLE = f"""
    WITH s AS (
      SELECT doc_id, {_TOKS} AS tk FROM documents
    ),
    c AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             avg(CAST(len(tk) AS DOUBLE)) AS avgdl
      FROM s
    ),
    d AS (
      SELECT
        {", ".join(f"(SELECT CAST(count(*) AS DOUBLE) FROM s WHERE list_contains(tk, '{t}')) AS df{i}" for i, t in enumerate(_BM25_TERMS))}
    )
    SELECT doc_id,
           {det_round_sql(" + ".join(
               f"(ln(1 + (c.n - d.df{i} + 0.5) / (d.df{i} + 0.5))"
               f" * (CAST(len(list_filter(tk, x -> x = '{t}')) AS DOUBLE) * 2.2)"
               f" / (CAST(len(list_filter(tk, x -> x = '{t}')) AS DOUBLE)"
               f"    + 1.2 * (0.25 + 0.75 * CAST(len(tk) AS DOUBLE) / c.avgdl)))"
               for i, t in enumerate(_BM25_TERMS)), 6)} AS bm25
    FROM s, c, d
    ORDER BY bm25 DESC, doc_id ASC LIMIT 25
"""

@_q("text_bm25", _BM25_ORACLE)
def text_bm25(spark, sf_dir):
    """Okapi BM25 top-25 for a fixed bag-of-terms query: corpus model
    constants (N, avgdl, per-term df) fold into one per-row scoring
    expression — zero scoring shuffle, TakeOrderedAndProject top-k.
    The fold is left-associative in both engines so the float sum
    order matches the oracle exactly."""
    from route81_spark.ops.corpus import bm25_scores

    docs = _t(spark, sf_dir, "documents")
    scored = bm25_scores(docs, _BM25_TERMS)
    return (
        scored.select("doc_id", "bm25")
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(25)
    )

@_q(
    "text_quality_classifier",
    # mirror of ops.corpus.quality_classifier: hashed-bigram buckets via
    # the md5-derived 60-bit hash (seed 13), naive-Bayes integer-odds
    # model with Laplace +1 and class-total normalization, per-doc
    # integer score sums. Seed set: English-labeled documents.
    f"""
    WITH t AS (SELECT doc_id, lang, {_TOKS} AS tk FROM documents),
    p AS (
      SELECT doc_id, lang = 'en' AS tgt,
             unnest(list_transform(range(1, greatest(len(tk) - 1, 1) + 1),
                    i -> coalesce(array_to_string(tk[i:i+1], ' '), ''))) AS bg
      FROM t
    ),
    pairs AS (
      SELECT doc_id, tgt,
             ('0x' || substr(md5('13|' || bg), 1, 15))::BIGINT % 256 AS b
      FROM p WHERE contains(bg, ' ')
    ),
    doc_bucket AS (
      SELECT doc_id, tgt, b, count(*) AS n_db FROM pairs GROUP BY 1, 2, 3
    ),
    by_bucket AS (
      SELECT b,
             sum(CASE WHEN tgt THEN n_db ELSE 0 END) AS pos_c,
             sum(CASE WHEN NOT tgt THEN n_db ELSE 0 END) AS neg_c
      FROM doc_bucket GROUP BY b
    ),
    tot AS (SELECT sum(pos_c) AS npos, sum(neg_c) AS nneg FROM by_bucket),
    model AS (
      SELECT b,
             CAST(((pos_c + 1) * (nneg + 256) * 10000)
               // ((neg_c + 1) * (npos + 256)) AS BIGINT) AS w
      FROM by_bucket CROSS JOIN tot
    ),
    s AS (
      SELECT d.doc_id, d.tgt,
             CAST(sum(d.n_db) AS BIGINT) AS n_bigrams,
             CAST(sum(d.n_db * m.w) AS BIGINT) AS score
      FROM doc_bucket d JOIN model m USING (b)
      GROUP BY 1, 2
    )
    SELECT doc_id, CAST(tgt AS INT) AS is_seed, n_bigrams, score,
           floor((CAST(score AS DOUBLE) / n_bigrams) * 10000.0 + 0.5)
             / 10000.0 AS avg_odds,
           CAST(score > n_bigrams * 10000 AS INT) AS pred_keep
    FROM s
    """,
)
def text_quality_classifier(spark, sf_dir):
    """Trained hashed-bigram quality filter (CCNet/GPT-3 style): every
    document scored by a naive-Bayes integer-odds model fit against the
    English-labeled seed set; pred_keep marks docs whose mean bucket
    odds exceed 1."""
    from route81_spark.ops.corpus import quality_classifier

    docs = _t(spark, sf_dir, "documents")
    return quality_classifier(docs, F.col("lang") == "en")

@_q(
    "text_ccnet_buckets",
    # text_lm_nll's oracle + per-source NTILE over (rounded nll, id):
    # the det-round means engine ulps cannot reorder the tile sort
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
    p AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(tk) - 1, 1) + 1),
                    i -> coalesce(array_to_string(tk[i:i+1], ' '), ''))) AS bg
      FROM t
    ),
    pairs AS (SELECT doc_id, bg FROM p WHERE contains(bg, ' ')),
    model AS (SELECT bg, count(*) AS c2 FROM pairs GROUP BY 1),
    uni AS (SELECT string_split(bg, ' ')[1] AS w1, count(*) AS c1
            FROM pairs GROUP BY 1),
    v AS (SELECT count(*) AS vs FROM uni),
    lp AS (
      SELECT m.bg, ln(CAST(m.c2 + 1 AS DOUBLE) / (u.c1 + v.vs)) AS lp
      FROM model m JOIN uni u ON string_split(m.bg, ' ')[1] = u.w1 CROSS JOIN v
    ),
    s AS (
      SELECT pr.doc_id, count(*) AS n_bigrams, sum(l.lp) AS slp
      FROM pairs pr JOIN lp l USING (bg) GROUP BY 1
    ),
    nll AS (
      SELECT doc_id, n_bigrams,
             floor((-slp / n_bigrams) * 1000000.0 + 0.5) / 1000000.0 AS nll
      FROM s
    )
    SELECT n.doc_id, d.source, n.n_bigrams, n.nll,
           CAST(ntile(3) OVER (PARTITION BY d.source
                ORDER BY n.nll ASC, n.doc_id ASC) AS INT) AS bucket
    FROM nll n JOIN documents d USING (doc_id)
    """,
)
def text_ccnet_buckets(spark, sf_dir):
    """CCNet-style perplexity terciles per source: head / middle / tail
    buckets over the self-trained bigram-LM NLL — the artifact
    perplexity-stratified sampling consumes."""
    from route81_spark.ops.corpus import ccnet_buckets

    return ccnet_buckets(_t(spark, sf_dir, "documents"))

@_q(
    "text_quality_apply",
    # the train->apply split must reproduce text_quality_classifier's
    # integer scores exactly (the apply path folds a 256-entry literal
    # map per row instead of joining bucket counts — same arithmetic,
    # and every bucket a doc hits exists in the self-trained model),
    # so the oracle is the classifier's SQL without the label column
    f"""
    WITH t AS (SELECT doc_id, lang, {_TOKS} AS tk FROM documents),
    p AS (
      SELECT doc_id, lang = 'en' AS tgt,
             unnest(list_transform(range(1, greatest(len(tk) - 1, 1) + 1),
                    i -> coalesce(array_to_string(tk[i:i+1], ' '), ''))) AS bg
      FROM t
    ),
    pairs AS (
      SELECT doc_id, tgt,
             ('0x' || substr(md5('13|' || bg), 1, 15))::BIGINT % 256 AS b
      FROM p WHERE contains(bg, ' ')
    ),
    doc_bucket AS (
      SELECT doc_id, tgt, b, count(*) AS n_db FROM pairs GROUP BY 1, 2, 3
    ),
    by_bucket AS (
      SELECT b,
             sum(CASE WHEN tgt THEN n_db ELSE 0 END) AS pos_c,
             sum(CASE WHEN NOT tgt THEN n_db ELSE 0 END) AS neg_c
      FROM doc_bucket GROUP BY b
    ),
    tot AS (SELECT sum(pos_c) AS npos, sum(neg_c) AS nneg FROM by_bucket),
    model AS (
      SELECT b,
             CAST(((pos_c + 1) * (nneg + 256) * 10000)
               // ((neg_c + 1) * (npos + 256)) AS BIGINT) AS w
      FROM by_bucket CROSS JOIN tot
    ),
    s AS (
      SELECT d.doc_id,
             CAST(sum(d.n_db) AS BIGINT) AS n_bigrams,
             CAST(sum(d.n_db * m.w) AS BIGINT) AS score
      FROM doc_bucket d JOIN model m USING (b)
      GROUP BY 1
    )
    SELECT doc_id, n_bigrams, score,
           floor((CAST(score AS DOUBLE) / n_bigrams) * 10000.0 + 0.5)
             / 10000.0 AS avg_odds,
           CAST(score > n_bigrams * 10000 AS INT) AS pred_keep
    FROM s
    """,
)
def text_quality_apply(spark, sf_dir):
    """The production split of the quality filter: quality_model trains
    the bucket weights, apply_quality_model scores every doc with one
    in-row fold over the broadcast map (the stream-legal path) —
    bit-identical to the fused classifier."""
    from route81_spark.ops.corpus import apply_quality_model, quality_model

    docs = _t(spark, sf_dir, "documents")
    model = quality_model(docs, F.col("lang") == "en")
    return apply_quality_model(docs, model)

def _html_sql(x: str) -> str:
    """DuckDB twin of ops.text.html_to_text — the same regexes in the
    same order (all RE2-safe: no backreferences)."""
    expr = x
    for pat, rep in _HTML_STEPS:
        expr = f"regexp_replace({expr}, '{pat}', {rep}, 'g')"
    return expr

_HTML_PRE = (
    '<html><head><title>doc</title><style>p {color: red}</style></head>'
    '<body><script>if (1<2) { x("</div>"); }</script><!-- nav below -->'
    '<nav><a href="/">home</a></nav><p id="main">'
)

_HTML_POST = '</p><br><div>footer &amp; legal &lt;terms&gt;</div></body></html>'

@_q(
    "text_html_extract",
    # each doc is wrapped in a deterministic page (head/style/script
    # blocks, a comment, nav boilerplate, entity-bearing footer) so the
    # chain exercises every step at any SF; the oracle runs the SAME
    # RE2-safe regexes in the same order
    "WITH h AS (SELECT doc_id, "
    + "'"
    + _HTML_PRE.replace("'", "''")
    + "' || text || '"
    + _HTML_POST.replace("'", "''")
    + "' AS t FROM documents)\n"
    + "SELECT doc_id, "
    + _html_sql("t")
    + " AS clean FROM h",
)
def text_html_extract(spark, sf_dir):
    """Web-corpus HTML -> text extraction (trafilatura-lite): one JVM
    regexp chain — script/style/head blocks dropped with content,
    block tags become newlines, remaining tags strip, core entities
    decode, whitespace folds. Zero shuffle, zero Python; malformed
    markup degrades to whitespace, never to an error."""
    from route81_spark.ops.text import html_to_text

    docs = _t(spark, sf_dir, "documents")
    page = F.concat(F.lit(_HTML_PRE), F.col("text"), F.lit(_HTML_POST))
    return docs.select("doc_id", html_to_text(page).alias("clean"))

@_q(
    "text_stupid_backoff",
    # count tables from the 90% md5-hash train split; the held-out 10%
    # exercises every backoff tier. CASE arms and multiplication
    # association mirror the Spark expression tree exactly
    # (0.4*(0.4*s1), not (0.4*0.4)*s1) so only libm/summation ulps
    # remain — absorbed by the repo-standard det_round(6).
    f"""
    WITH tk AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
    tr AS (SELECT doc_id, tk, len(tk) AS n FROM tk),
    train_ids AS (
      SELECT doc_id FROM documents
      WHERE ('0x' || substr(md5('sb0|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
            / 1152921504606846976.0 < 0.9
    ),
    tri_i AS (
      SELECT doc_id, array_to_string(tk[i:i+2], ' ') AS tg
      FROM tr, LATERAL (SELECT unnest(range(1, greatest(n - 2, 0) + 1)) AS i) s
    ),
    big_i AS (
      SELECT doc_id, array_to_string(tk[i:i+1], ' ') AS bg
      FROM tr, LATERAL (SELECT unnest(range(1, greatest(n - 1, 0) + 1)) AS i) s
    ),
    uni_i AS (SELECT doc_id, unnest(tk) AS w FROM tr),
    tri_c AS (SELECT tg, count(*) AS c3 FROM tri_i JOIN train_ids USING (doc_id) GROUP BY 1),
    big_c AS (SELECT bg, count(*) AS c2 FROM big_i JOIN train_ids USING (doc_id) GROUP BY 1),
    uni_c AS (SELECT w, count(*) AS c1 FROM uni_i JOIN train_ids USING (doc_id) GROUP BY 1),
    tot AS (SELECT sum(c1) AS N, count(*) AS V FROM uni_c),
    tfb AS (SELECT doc_id, tg, count(*) AS n FROM tri_i GROUP BY 1, 2),
    typed AS (
      SELECT tg,
             w[1] || ' ' || w[2] AS ctx,
             w[2] || ' ' || w[3] AS bg2,
             w[2] AS w2, w[3] AS w3
      FROM (SELECT tg, string_split(tg, ' ') AS w FROM (SELECT DISTINCT tg FROM tfb))
    ),
    sc AS (
      SELECT t.tg,
             ln(CASE WHEN tri_c.c3 IS NOT NULL THEN tri_c.c3 / ctxc.c2
                     WHEN bgc.c2 IS NOT NULL THEN 0.4 * (bgc.c2 / u2.c1)
                     ELSE 0.4 * (0.4 * ((coalesce(u3.c1, 0) + 1) / (tot.N + tot.V)))
                END) AS lp
      FROM typed t
      LEFT JOIN tri_c ON tri_c.tg = t.tg
      LEFT JOIN big_c ctxc ON ctxc.bg = t.ctx
      LEFT JOIN big_c bgc ON bgc.bg = t.bg2
      LEFT JOIN uni_c u2 ON u2.w = t.w2
      LEFT JOIN uni_c u3 ON u3.w = t.w3
      CROSS JOIN tot
    )
    SELECT f.doc_id, CAST(sum(f.n) AS BIGINT) AS n_trigrams,
           floor(-sum(f.n * sc.lp) / sum(f.n) * 1000000.0 + 0.5) / 1000000.0 AS sb_nll
    FROM tfb f JOIN sc USING (tg)
    GROUP BY 1
""",
)
def text_stupid_backoff(spark, sf_dir):
    """Stupid Backoff trigram scoring with count tables trained on the
    deterministic 90% hash split and applied to ALL docs — the held-out
    tail walks the trigram->bigram->unigram backoff chain. Corpus
    reduces to three per-order count tables; each trigram TYPE is
    scored once and joined back."""
    from route81_spark.ops.corpus import split_hash, stupid_backoff_score

    docs = _t(spark, sf_dir, "documents")
    train = docs.filter(split_hash(F.col("doc_id"), "sb0") < 0.9)
    return stupid_backoff_score(docs, train_on=train)

@_q(
    "text_novelty",
    # mirror of ops.text.novelty_scores: distinct 3-token shingle sets
    # (md5 60-bit, seed 23), df-count per shingle hash, per-doc df==1
    # share; integer counts both sides, det-rounded final ratio.
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
    sg AS (
      SELECT DISTINCT doc_id,
             ('0x' || substr(md5('23|' || s), 1, 15))::BIGINT AS h
      FROM (SELECT doc_id,
                   unnest(list_transform(range(1, greatest(len(tk) - 2, 1) + 1),
                          i -> coalesce(array_to_string(tk[i:i+2], ' '), ''))) AS s
            FROM t)
    ),
    dfreq AS (SELECT h, count(*) AS df FROM sg GROUP BY h)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
           floor(CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*) * 1000000.0 + 0.5) / 1000000.0 AS novelty
    FROM sg JOIN dfreq USING (h)
    GROUP BY doc_id
""",
)
def text_novelty(spark, sf_dir):
    """Corpus-relative novelty share (df==1 shingles / all shingles):
    the keep-what's-new signal under a token budget — template farms
    and mirrored pages score near zero."""
    from route81_spark.io import ensure_parallelism
    from route81_spark.ops.text import novelty_scores

    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    return novelty_scores(docs)

@_q(
    "text_char_entropy",
    # mirror of ops.text.char_entropy: per-position char array, sorted
    # distinct chars, SAME sequential fold of p*ln(p) both engines,
    # bits = -nats/ln(2) with the identical double literal; det-rounded.
    """
    WITH d AS (SELECT doc_id, text, CAST(length(text) AS INT) AS L FROM documents),
    cs AS (SELECT doc_id, L,
                  list_transform(range(1, L + 1),
                                 i -> substr(text, CAST(i AS INT), 1)) AS c
           FROM d),
    e AS (SELECT doc_id, L,
                 list_sort(list_distinct(c)) AS dc,
                 list_reduce(list_prepend(0.0, list_transform(
                   list_sort(list_distinct(c)),
                   ch -> (CAST(len(list_filter(c, x -> x = ch)) AS DOUBLE) / L)
                         * ln(CAST(len(list_filter(c, x -> x = ch)) AS DOUBLE) / L)
                 )), (a, b) -> a + b) AS nats
          FROM cs)
    SELECT doc_id,
           L AS n_chars,
           CAST(len(dc) AS INT) AS n_distinct,
           floor(-nats / 0.6931471805599453 * 1000000.0 + 0.5) / 1000000.0
             AS entropy_bits
    FROM e
""",
)
def text_char_entropy(spark, sf_dir):
    """Character-distribution Shannon entropy per document (bits) —
    the gibberish/low-diversity-spam tagger; pure per-row Column
    fold in sorted-char order, bit-reproducible."""
    from route81_spark.io import ensure_parallelism
    from route81_spark.ops.text import char_entropy
    from route81_spark.ops.util import det_round

    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    text = F.col("text")
    # same empty-text guard as char_entropy: sequence(1,0) descends
    cs = F.when(
        F.length(text) > 0,
        F.transform(
            F.sequence(F.lit(1), F.length(text)),
            lambda i: F.substr(text, i, F.lit(1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return docs.select(
        "doc_id",
        F.length(text).cast("int").alias("n_chars"),
        F.size(F.array_distinct(cs)).alias("n_distinct"),
        det_round(char_entropy(text), 6).alias("entropy_bits"),
    )


# --------------------------------------------------------------------
# $text {stem: "s"} — Harman S-stemmer conflation (r8)
# --------------------------------------------------------------------

S_SNIPS = [
    "fast queries win big",
    "one query plan holds",
    "many tables scanned daily",
    "the focus hypothesis stands",
    "query of many words",
    "heroes and zeroes",
    "status of the bus",
    "glasses and classes",
]

# the same CASE chain as ops.text.s_stem, inlined per token (first
# matching ENDING wins; exceptions leave the word unchanged)
_STEM_SQL = """
    CASE WHEN length(t) <= 3 THEN t
         WHEN ends_with(t, 'ies') THEN
           CASE WHEN ends_with(t, 'eies') OR ends_with(t, 'aies') THEN t
                ELSE substr(t, 1, length(t) - 3) || 'y' END
         WHEN ends_with(t, 'es') THEN
           CASE WHEN ends_with(t, 'aes') OR ends_with(t, 'ees')
                     OR ends_with(t, 'oes') THEN t
                ELSE substr(t, 1, length(t) - 1) END
         WHEN ends_with(t, 's') THEN
           CASE WHEN ends_with(t, 'us') OR ends_with(t, 'ss') THEN t
                ELSE substr(t, 1, length(t) - 1) END
         ELSE t END
"""


def _syn_sql(snips: list[str], seed: str,
             x: str = "CAST(doc_id AS VARCHAR)") -> str:
    """DuckDB half of the snippet-pick synthesis twin: two
    hash-picked snippets from a closed list, joined by a space —
    byte-for-byte the template every per-family wrapper used to
    carry. ONE place (with _syn_spark below) where the SQL/Spark
    synthesis twins can drift, instead of one per family."""
    lits = "[" + ", ".join("'" + s + "'" for s in snips) + "]"
    n = len(snips)

    def pick(part: str) -> str:
        return f"({lits})[CAST({_wh60(seed + part, x)} % {n} AS INT) + 1]"

    return f"{pick('|a')} || ' ' || {pick('|b')}"


def _syn_spark(snips: list[str], seed: str, ids: Column) -> Column:
    """Spark half of the snippet-pick synthesis twin (same hash,
    same modulus = len(snips), same seed parts)."""
    from route81_spark.ops.web import _h60

    n = len(snips)

    def pick(part: str) -> Column:
        h = _h60(ids, seed + part)
        return F.element_at(
            F.array(*[F.lit(s) for s in snips]), (h % n + 1).cast("int")
        )

    return F.concat(pick("|a"), F.lit(" "), pick("|b"))


def _s_syn_sql(x: str = "CAST(doc_id AS VARCHAR)") -> str:
    return _syn_sql(S_SNIPS, "stem0", x)


def _s_syn_spark(ids: Column) -> Column:
    return _syn_spark(S_SNIPS, "stem0", ids)


@_q(
    "match_text_stem",
    # oracle: stem the token array with the inlined S-stemmer chain,
    # then recompute membership + integer score — 'queries'/'query'
    # conflate, '-words' excludes via its stem 'word', while exception
    # endings (focus/heroes/status/glasses) survive unstemmed
    f"""
    WITH s AS (SELECT doc_id, {_s_syn_sql()} AS raw FROM documents),
    t0 AS (SELECT doc_id,
                  string_split_regex(lower(raw), '[^0-9a-z]+') AS toks
           FROM s),
    t AS (SELECT doc_id,
                 list_transform(toks, t -> {_STEM_SQL}) AS st
          FROM t0)
    SELECT doc_id,
           CAST(len(list_filter(st, x -> x = 'query'))
              + len(list_filter(st, x -> x = 'table')) AS BIGINT) AS score
    FROM t
    WHERE (list_contains(st, 'query') OR list_contains(st, 'table'))
      AND NOT coalesce(list_contains(st, 'word'), false)
    """,
)
def match_text_stem(spark, sf_dir):
    """$text with the {stem: "s"} engine extension: 'queries' in the
    search conflates with 'query' in the text (and vice versa), the
    negation '-words' fires on the stemmed token 'word', and exception
    endings (focus, heroes, status, glasses) stay distinct words — the
    Harman S-stemmer applied as one pure-Column CASE chain over the
    token array, zero Python, zero shuffle."""
    docs = _docs_ids(spark, sf_dir)
    prepped = _syn_text(docs, _s_syn_spark(F.col("doc_id")), "doc_id")
    return apply_pipeline(
        prepped,
        [
            {"$match": {"$text": {
                "$search": "queries table -words", "stem": "s",
            }}},
            {"$addFields": {"score": {"$meta": "textScore"}}},
            {"$project": {"doc_id": 1, "score": 1}},
        ],
    )


# --------------------------------------------------------------------
# $text with full Snowball English (Porter2) stemming (r9)
# --------------------------------------------------------------------

P_SNIPS = [
    "running jumps daily",
    "the runner ran fast",
    "relational databases scale",
    "controlled experiments proceed",
    "hoping for agreement",
    "dying early generously",
    "conditional rational analysis",
    "flies tied knots",
]


def _p_stem_case() -> str:
    """Per-token stem lookup for the oracle: the CASE maps every word
    of the closed P_SNIPS vocabulary to its stem PRE-COMPUTED by the
    Python spec twin (ops.porter.porter2_py) — the twin is the
    independent side (the Spark query runs the Column program live),
    and the twin itself is pinned to the published algorithm by
    tests/test_porter.py's spec pins + exhaustive grid sweep."""
    from route81_spark.ops.porter import porter2_py

    vocab = sorted({w for s in P_SNIPS for w in s.split()})
    whens = " ".join(f"WHEN '{w}' THEN '{porter2_py(w)}'" for w in vocab)
    return f"CASE t {whens} ELSE t END"


def _p_syn_sql(x: str = "CAST(doc_id AS VARCHAR)") -> str:
    return _syn_sql(P_SNIPS, "porter0", x)


def _p_syn_spark(ids: Column) -> Column:
    return _syn_spark(P_SNIPS, "porter0", ids)


@_q(
    "match_text_porter",
    # oracle: stem the token array via the twin-precomputed lookup,
    # then recompute membership + integer score — 'runs'/'running'
    # conflate on stem 'run', 'relation'/'relational'/'relations' on
    # 'relat', '-control' excludes via the stem of 'controlled'
    f"""
    WITH s AS (SELECT doc_id, {_p_syn_sql()} AS raw FROM documents),
    t0 AS (SELECT doc_id,
                  string_split_regex(lower(raw), '[^0-9a-z]+') AS toks
           FROM s),
    t AS (SELECT doc_id,
                 list_transform(toks, t -> {_p_stem_case()}) AS st
          FROM t0)
    SELECT doc_id,
           CAST(len(list_filter(st, x -> x = 'run'))
              + len(list_filter(st, x -> x = 'relat')) AS BIGINT) AS score
    FROM t
    WHERE (list_contains(st, 'run') OR list_contains(st, 'relat'))
      AND NOT coalesce(list_contains(st, 'control'), false)
    """,
)
def match_text_porter(spark, sf_dir):
    """$text with $language: "english" — Mongo's default English
    analyzer language now selects the full Snowball English (Porter2)
    stemmer (ops/porter.py), the same algorithm the server's text
    index runs (route81 delegates $text to it, route81.go:181-197):
    'runs' in the search conflates with 'running' in the text,
    'relation' with 'relational'/'relations', and the negation
    '-control' fires on the stemmed token of 'controlled'. The stemmer
    is one pure-Column expression program per token (regexp-derived
    R1/R2 regions, nested-CASE suffix steps with Snowball's
    longest-match-wins semantics) — zero Python, zero shuffle."""
    docs = _docs_ids(spark, sf_dir)
    prepped = _syn_text(docs, _p_syn_spark(F.col("doc_id")), "doc_id")
    return apply_pipeline(
        prepped,
        [
            {"$match": {"$text": {
                "$search": "runs relation -control",
                "$language": "english",
            }}},
            {"$addFields": {"score": {"$meta": "textScore"}}},
            {"$project": {"doc_id": 1, "score": 1}},
        ],
    )


# --------------------------------------------------------------------
# $text with full Snowball French stemming (r10)
# --------------------------------------------------------------------

FR_SNIPS = [
    "les continuations majestueuses",
    "elle continuait librement",
    "générales activités nationales",
    "premier jouet national",
    "rien de notable ici",
    "des nationaux résolus",
]


def _fr_stem_case() -> str:
    """Per-token stem lookup for the oracle: the CASE maps every word
    of the closed FR_SNIPS vocabulary to fold(french_stem(word))
    PRE-COMPUTED by the Python spec twin (ops.french.french_py) — the
    Spark query runs the Column program live; the twin is pinned to
    the published algorithm by tests/test_french.py's spec pins +
    grid sweep. The diacritic fold comes AFTER stemming (the French
    analyzer order: the algorithm needs its accents)."""
    from route81_spark.ops.french import french_py
    from route81_spark.ops.unitext import fold_diacritics_py

    vocab = sorted({w for s in FR_SNIPS for w in s.split()})
    whens = " ".join(
        f"WHEN '{w}' THEN '{fold_diacritics_py(french_py(w))}'"
        for w in vocab
    )
    return f"CASE t {whens} ELSE t END"


def _fr_syn_sql(x: str = "CAST(doc_id AS VARCHAR)") -> str:
    return _syn_sql(FR_SNIPS, "french0", x)


def _fr_syn_spark(ids: Column) -> Column:
    return _syn_spark(FR_SNIPS, "french0", ids)


@_q(
    "match_text_french",
    # oracle: tokenize on any non-alphanumeric (the accented letters
    # must not split — the vocabulary is space-separated words, so a
    # space split is the same thing), stem via the twin-precomputed
    # lookup, recompute membership + integer score — 'continuer' /
    # 'continuait' / 'continuations' conflate on stem 'continu',
    # 'majestueux'/'majestueuses' on 'majestu', 'générale'/'générales'
    # on folded 'general', and '-nationaux' excludes via the shared
    # stem 'national' of national/nationales/nationaux
    f"""
    WITH s AS (SELECT doc_id, {_fr_syn_sql()} AS raw FROM documents),
    t0 AS (SELECT doc_id, string_split(lower(raw), ' ') AS toks FROM s),
    t AS (SELECT doc_id,
                 list_transform(toks, t -> {_fr_stem_case()}) AS st
          FROM t0)
    SELECT doc_id,
           CAST(len(list_filter(st, x -> x = 'continu'))
              + len(list_filter(st, x -> x = 'majestu'))
              + len(list_filter(st, x -> x = 'general')) AS BIGINT) AS score
    FROM t
    WHERE (list_contains(st, 'continu') OR list_contains(st, 'majestu')
           OR list_contains(st, 'general'))
      AND NOT coalesce(list_contains(st, 'national'), false)
    """,
)
def match_text_french(spark, sf_dir):
    """$text with $language: "french" — the full Snowball French
    stemmer (ops/french.py, r10), the program Mongo's French analyzer
    runs server-side (route81 delegates $text to that index,
    route81.go:181-197): 'continuer' in the search conflates with
    'continuait'/'continuations' in the text, 'majestueux' with
    'majestueuses', 'générale' with 'générales' (stemmed BEFORE the
    diacritic fold — the French analyzer order), and the negation
    '-nationaux' fires on the shared stem of national/nationales/
    nationaux. One pure-Column program per token (prelude mark scan as
    a single consuming regex pass, regexp-derived RV/R1/R2, the suffix
    steps as longest-match-in-region when-chains) — zero Python, zero
    shuffle, applied through the once-per-session SQL temp function."""
    docs = _docs_ids(spark, sf_dir)
    prepped = _syn_text(docs, _fr_syn_spark(F.col("doc_id")), "doc_id")
    return apply_pipeline(
        prepped,
        [
            {"$match": {"$text": {
                "$search": "continuer majestueux générale -nationaux",
                "$language": "french",
            }}},
            {"$addFields": {"score": {"$meta": "textScore"}}},
            {"$project": {"doc_id": 1, "score": 1}},
        ],
    )


# --------------------------------------------------------------------
# $text with stop-word removal (r10)
# --------------------------------------------------------------------

SW_SNIPS = [
    "the data is in the lake",
    "data processing runs daily",
    "the the same very should now",
    "is it about data today",
    "processing the stream again",
    "nothing relevant here",
]


def _sw_not_in() -> str:
    """NOT IN list generated from the SAME Python constant the engine
    filters with (ops/stopwords.py) — the IBAN-registry single-source
    pattern: the list is data shared with the oracle, never
    re-derived."""
    from route81_spark.ops.stopwords import STOP_EN

    return "(" + ", ".join("'" + w + "'" for w in STOP_EN) + ")"


def _sw_syn_sql(x: str = "CAST(doc_id AS VARCHAR)") -> str:
    return _syn_sql(SW_SNIPS, "stopw0", x)


def _sw_syn_spark(ids: Column) -> Column:
    return _syn_spark(SW_SNIPS, "stopw0", ids)


@_q(
    "match_text_stopwords",
    # oracle: tokenize, drop stop words via the shared NOT IN list,
    # then recompute membership + integer score — 'the'/'is' in the
    # search contribute nothing (dropped as query terms), stop tokens
    # in documents score nothing, and the all-stop-words snippet can
    # only match through its non-stop neighbors
    f"""
    WITH s AS (SELECT doc_id, {_sw_syn_sql()} AS raw FROM documents),
    t0 AS (SELECT doc_id,
                  string_split_regex(lower(raw), '[^0-9a-z]+') AS toks
           FROM s),
    t AS (SELECT doc_id,
                 list_filter(toks, t -> t NOT IN {_sw_not_in()}) AS st
          FROM t0)
    SELECT doc_id,
           CAST(len(list_filter(st, x -> x = 'data'))
              + len(list_filter(st, x -> x = 'processing'))
                AS BIGINT) AS score
    FROM t
    WHERE list_contains(st, 'data') OR list_contains(st, 'processing')
    """,
)
def match_text_stopwords(spark, sf_dir):
    """$text with {stopWords: true} — Mongo's text index drops the
    language's stop words from BOTH the indexed token stream and the
    query terms (an all-stop-words $search matches nothing); this
    engine opts in per query (documented divergence: the default
    keeps stop words so existing queries stay stable). The search
    'the data is processing' loses 'the'/'is' as query terms, stop
    tokens inside documents contribute nothing to textScore, and the
    list itself (Snowball English, ops/stopwords.py) is shared as
    data with the oracle. Per-row token filtering — one
    array_contains per token, map-only, no Python."""
    docs = _docs_ids(spark, sf_dir)
    prepped = _syn_text(docs, _sw_syn_spark(F.col("doc_id")), "doc_id")
    return apply_pipeline(
        prepped,
        [
            {"$match": {"$text": {
                "$search": "the data is processing",
                "stopWords": True,
            }}},
            {"$addFields": {"score": {"$meta": "textScore"}}},
            {"$project": {"doc_id": 1, "score": 1}},
        ],
    )


# --------------------------------------------------------------------
# French stop-word removal composed with French stemming (r11)
# --------------------------------------------------------------------

FRSW_SNIPS = [
    "les continuations ont été majestueuses",
    "elle continuait de grandes activités",
    "de la même générale nationale",
    "des nationaux et du premier jouet",
    "rien notable ici vraiment",
    "été les de la même",  # every token is a French stop word
]


def _frsw_not_in() -> str:
    """NOT IN list generated from the SAME Python constant the engine
    filters with (ops/stopwords.py STOP_FR — the verbatim Snowball
    french.stop, jar-pinned by tests/test_stopwords.py): shared data,
    never re-derived."""
    from route81_spark.ops.stopwords import STOP_FR

    return "(" + ", ".join("'" + w + "'" for w in STOP_FR) + ")"


def _frsw_stem_case(fold: bool = True) -> str:
    """Per-token stem lookup for the oracle: the closed FRSW_SNIPS
    vocabulary maps to fold(french_stem(word)) PRE-COMPUTED by the
    Python spec twin (the Spark query runs the Column program live;
    the twin is pinned by tests/test_french.py's spec pins + grid).
    The bm25/$stem paths stem WITHOUT the $text fold (fold=False) —
    and unlike German, French stems KEEP their accents ('générale'
    -> 'général'), so the two forms genuinely differ."""
    from route81_spark.ops.french import french_py
    from route81_spark.ops.unitext import fold_diacritics_py

    vocab = sorted({w for s in FRSW_SNIPS for w in s.split()})

    def out(w: str) -> str:
        s = french_py(w)
        return fold_diacritics_py(s) if fold else s

    whens = " ".join(
        f"WHEN '{w}' THEN '{out(w)}'" for w in vocab
    )
    return f"CASE t {whens} ELSE t END"


def _bm25_fr_terms() -> list[str]:
    """The engine-side analyzer applied to the bm25 French query
    terms, shared as data: stop with the raw French list, stem with
    the twin (NO fold on the bm25 path), dedupe."""
    from route81_spark.ops.french import french_py
    from route81_spark.ops.stopwords import STOP_FR

    stops = set(STOP_FR)
    out = [french_py(t) for t in
           ["les", "continuer", "été", "générale"]
           if t not in stops]
    return list(dict.fromkeys(out))


def _frsw_syn_sql(x: str = "CAST(doc_id AS VARCHAR)") -> str:
    return _syn_sql(FRSW_SNIPS, "frstop0", x)


def _frsw_syn_spark(ids: Column) -> Column:
    return _syn_spark(FRSW_SNIPS, "frstop0", ids)


@_q(
    "match_text_french_stopwords",
    # oracle: tokenize (space split — the closed vocabulary is
    # space-separated), drop French stop words via the shared NOT IN
    # list BEFORE stemming (the engine's analyzer order: the accented
    # stop form 'été' must filter on the unfolded token), stem via the
    # twin-precomputed lookup (fold AFTER stem), then recompute
    # membership + integer score — 'les'/'été' in the search
    # contribute nothing (dropped as query terms), 'continuer'
    # conflates with continuations/continuait on stem 'continu',
    # 'générale' matches on folded stem 'general', and the
    # all-stop-words snippet can only match through its non-stop
    # neighbor
    f"""
    WITH s AS (SELECT doc_id, {_frsw_syn_sql()} AS raw FROM documents),
    t0 AS (SELECT doc_id, string_split(lower(raw), ' ') AS toks FROM s),
    t1 AS (SELECT doc_id,
                  list_filter(toks, t -> t NOT IN {_frsw_not_in()}) AS ft
           FROM t0),
    t AS (SELECT doc_id,
                 list_transform(ft, t -> {_frsw_stem_case()}) AS st
          FROM t1)
    SELECT doc_id,
           CAST(len(list_filter(st, x -> x = 'continu'))
              + len(list_filter(st, x -> x = 'general')) AS BIGINT)
             AS score
    FROM t
    WHERE list_contains(st, 'continu') OR list_contains(st, 'general')
    """,
)
def match_text_french_stopwords(spark, sf_dir):
    """$text with $language: "french" AND {stopWords: true} (r11) —
    the Snowball FRENCH stop list (ops/stopwords.py STOP_FR, the
    verbatim french.stop data, pinned byte-for-byte against the copy
    Apache Spark ships in its MLlib stopwords resource) composes with
    the Snowball French stemmer in Mongo's analyzer ORDER: tokenize
    the case-folded text on Unicode runs, drop stop words on the
    UNfolded surface form ('été' carries its accents in the list),
    stem with accents intact, THEN fold. Query terms stop with the
    same French list before stemming; an all-stop-words snippet can
    never match on its own tokens. One array_contains filter per
    token ahead of the stemmer — map-only, zero shuffle, zero
    Python."""
    docs = _docs_ids(spark, sf_dir)
    prepped = _syn_text(docs, _frsw_syn_spark(F.col("doc_id")), "doc_id")
    return apply_pipeline(
        prepped,
        [
            {"$match": {"$text": {
                "$search": "les continuer été générale",
                "$language": "french",
                "stopWords": True,
            }}},
            {"$addFields": {"score": {"$meta": "textScore"}}},
            {"$project": {"doc_id": 1, "score": 1}},
        ],
    )


@_q(
    "text_bm25_french",
    # oracle: whitespace-split the synthesized French corpus, drop
    # French stop words via the shared RAW NOT IN list ('été' filters
    # on the unfolded accented token), stem the remainder via the
    # twin-precomputed lookup WITHOUT the $text fold (the bm25 path —
    # French stems keep their accents: 'générale' -> 'général'), then
    # replicate the exact BM25 formula over the stop-filtered stemmed
    # arrays — 'les'/'été' contribute nothing, 'continuer' scores
    # continuations/continuait docs via stem 'continu'
    f"""
    WITH s0 AS (SELECT doc_id, {_frsw_syn_sql()} AS raw FROM documents),
    t0 AS (SELECT doc_id,
                  string_split_regex(trim(raw), '\\s+') AS toks
           FROM s0),
    t1 AS (SELECT doc_id,
                  list_filter(toks, t -> t NOT IN {_frsw_not_in()})
                    AS ft
           FROM t0),
    s AS (SELECT doc_id,
                 list_transform(ft,
                   t -> {_frsw_stem_case(fold=False)}) AS tk
          FROM t1),
    c AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             avg(CAST(len(tk) AS DOUBLE)) AS avgdl
      FROM s
    ),
    d AS (
      SELECT
        {", ".join(f"(SELECT CAST(count(*) AS DOUBLE) FROM s WHERE list_contains(tk, '{t}')) AS df{i}" for i, t in enumerate(_bm25_fr_terms()))}
    )
    SELECT doc_id,
           {det_round_sql(" + ".join(
               f"(ln(1 + (c.n - d.df{i} + 0.5) / (d.df{i} + 0.5))"
               f" * (CAST(len(list_filter(tk, x -> x = '{t}')) AS DOUBLE) * 2.2)"
               f" / (CAST(len(list_filter(tk, x -> x = '{t}')) AS DOUBLE)"
               f"    + 1.2 * (0.25 + 0.75 * CAST(len(tk) AS DOUBLE) / c.avgdl)))"
               for i, t in enumerate(_bm25_fr_terms())), 6)} AS bm25
    FROM s, c, d
    ORDER BY bm25 DESC, doc_id ASC LIMIT 25
    """,
)
def text_bm25_french(spark, sf_dir):
    """Okapi BM25 with the full FRENCH analyzer chain (r12 driver
    registration of the r11-unit-pinned composition — stem='french'
    + stop_words): French stop words (raw accented surface forms —
    'été' filters unfolded) drop from corpus tokens AND query terms
    BEFORE the Snowball French stemmer conflates the survivors;
    'continuer' scores continuations/continuait docs via the shared
    stem 'continu', dl/avgdl count the post-stop tokens, and stems
    KEEP their accents on this path (no $text fold — 'générale'
    scores as 'général'). Model constants from ONE single-row
    aggregation; scoring one per-row expression; zero scoring
    shuffle; top-25 via TakeOrderedAndProject."""
    from route81_spark.ops.corpus import bm25_scores

    docs = _docs_ids(spark, sf_dir)
    prepped = _syn_text(docs, _frsw_syn_spark(F.col("doc_id")), "doc_id")
    scored = bm25_scores(
        prepped, ["les", "continuer", "été", "générale"],
        stem="french", stop_words=True,
    )
    return (
        scored.select("doc_id", "bm25")
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(25)
    )


@_q(
    "stage_stem_french",
    # oracle: tokenize -> shared raw NOT IN stop filter (unfolded
    # 'été') -> per-token twin lookup WITHOUT fold (the $stem stage
    # emits raw French stems, accents kept) -> join (empty-list
    # coalesce: the all-stop-words snippet stems to '')
    f"""
    WITH s AS (SELECT doc_id, {_frsw_syn_sql()} AS raw FROM documents),
    t0 AS (SELECT doc_id,
                  string_split_regex(trim(raw), '\\s+') AS toks
           FROM s),
    t AS (SELECT doc_id,
                 list_filter(toks, t -> t NOT IN {_frsw_not_in()}) AS ft
          FROM t0)
    SELECT doc_id,
           coalesce(array_to_string(
             list_transform(ft, t -> {_frsw_stem_case(fold=False)}),
             ' '), '') AS stems
    FROM t
    """,
)
def stage_stem_french(spark, sf_dir):
    """The $stem pipeline stage in mode 'french' with
    {stopWords: true} (r12 driver registration of the r10/r11
    unit-pinned composition): French stop words drop on the unfolded
    surface BEFORE the Snowball French stemmer, the stage emits raw
    French stems (accents kept — no $text fold on this surface), and
    the all-stop-words snippet stems to the empty array. Per-row
    scalar work through the once-per-session registered SQL
    function; no shuffle, no Python."""
    docs = _docs_ids(spark, sf_dir)
    prepped = _syn_text(docs, _frsw_syn_spark(F.col("doc_id")), "doc_id")
    out = apply_pipeline(
        prepped,
        [{"$stem": {"textField": "text", "as": "st", "mode": "french",
                    "stopWords": True}}],
    )
    return out.select(
        "doc_id", F.concat_ws(" ", F.col("st")).alias("stems")
    )


# --------------------------------------------------------------------
# German analyzer ($language: "german"): stop + Snowball German stem
# (r11 stop-without-stem, upgraded r12 when the stemmer landed)
# --------------------------------------------------------------------

GSW_SNIPS = [
    "die daten über alles",
    "daten verarbeitung läuft täglich",
    "über die der und",  # every token is a German stop word
    "das modell lernt schnell",
    "verarbeitung der daten strom",
    "nichts relevantes hier",
]


def _gsw_stem_case(snips: list[str], fold: bool = True) -> str:
    """Per-token German-analyzer lookup for the oracle over a closed
    vocabulary: Snowball German stem (ops.german.german_py — the
    Python spec twin) THEN diacritic fold, pre-computed — the engine
    order (stem with umlauts intact, the program's own postlude
    removes them; the fold then covers any remaining marks). The
    bm25 path stems WITHOUT a fold (fold=False) — identical output
    on pure-German vocab (the postlude already removed the umlauts),
    but the oracle states the path it twins."""
    from route81_spark.ops.german import german_py
    from route81_spark.ops.unitext import fold_diacritics_py

    vocab = sorted({w for s in snips for w in s.split()})

    def out(w: str) -> str:
        s = german_py(w)
        return fold_diacritics_py(s) if fold else s

    whens = " ".join(
        f"WHEN '{w}' THEN '{out(w)}'" for w in vocab
    )
    return f"CASE t {whens} ELSE t END"


def _gsw_not_in_raw() -> str:
    """RAW (unfolded) German NOT IN list — the engine's German
    analyzer (german_chain) and bm25_scores' stop filter both compare
    lower(token) against the verbatim list with its accents intact
    (stopping happens BEFORE any stemming or folding), so the
    oracle's list keeps 'über' as-is. Shared data, never
    re-derived."""
    from route81_spark.ops.stopwords import stop_list

    return "(" + ", ".join(
        "'" + w + "'" for w in stop_list("german")
    ) + ")"


def _gsw_syn_sql(x: str = "CAST(doc_id AS VARCHAR)") -> str:
    return _syn_sql(GSW_SNIPS, "destop0", x)


def _gsw_syn_spark(ids: Column) -> Column:
    return _syn_spark(GSW_SNIPS, "destop0", ids)


@_q(
    "match_text_german_stopwords",
    # oracle (r12 rewrite — the German stemmer landed, completing the
    # analyzer this query half-covered): tokenize (space split —
    # closed vocabulary), drop German stop words on the UNFOLDED
    # lowercase surface via the shared RAW NOT IN list (stopping
    # precedes stemming AND folding in the analyzer order), then stem
    # each survivor via the twin-precomputed German lookup (stem with
    # umlauts intact, fold after — the CASE bakes both), then
    # membership + integer score: 'die'/'über' in the search
    # contribute nothing, 'daten' scores via stem 'dat',
    # 'verarbeitung' via 'verarbeit', the all-stop-words snippet can
    # only match through its non-stop neighbor
    f"""
    WITH s AS (SELECT doc_id, {_gsw_syn_sql()} AS raw FROM documents),
    t0 AS (SELECT doc_id, string_split(lower(raw), ' ') AS toks FROM s),
    t1 AS (SELECT doc_id,
                  list_filter(toks, t -> t NOT IN {_gsw_not_in_raw()})
                    AS ft
           FROM t0),
    t AS (SELECT doc_id,
                 list_transform(ft, t -> {_gsw_stem_case(GSW_SNIPS)})
                   AS st
          FROM t1)
    SELECT doc_id,
           CAST(len(list_filter(st, x -> x = 'dat'))
              + len(list_filter(st, x -> x = 'verarbeit'))
                AS BIGINT) AS score
    FROM t
    WHERE list_contains(st, 'dat')
       OR list_contains(st, 'verarbeit')
    """,
)
def match_text_german_stopwords(spark, sf_dir):
    """$text with $language: "german" AND {stopWords: true} — r11
    registered the stop half (stop-without-stem); r12 carried the
    Snowball German stemmer (ops/german.py), so this is now the FULL
    German analyzer in Mongo's ORDER: tokenize (Unicode runs) ->
    drop German stop words on the unfolded surface (the verbatim
    Snowball list, raw accented forms, applied to indexed tokens AND
    query terms) -> stem with umlauts intact (the program's postlude
    removes them) -> fold. 'daten' in the search conflates with any
    'dat'-stemming form; 'über'/'die' stop out. One array_contains +
    one registered-SQL-function call per token — map-only, zero
    shuffle, zero Python."""
    docs = _docs_ids(spark, sf_dir)
    prepped = _syn_text(docs, _gsw_syn_spark(F.col("doc_id")), "doc_id")
    return apply_pipeline(
        prepped,
        [
            {"$match": {"$text": {
                "$search": "die daten über verarbeitung",
                "$language": "german",
                "unicode": True,
                "stopWords": True,
            }}},
            {"$addFields": {"score": {"$meta": "textScore"}}},
            {"$project": {"doc_id": 1, "score": 1}},
        ],
    )


GST_SNIPS = [
    "die kindern spielen gern",
    "kindes buch gefällt immer",
    "bücher über verarbeitung reden",
    "verarbeitungen laufen täglich weiter",
    "das modell lernt schnell",
    "nichts relevantes hier",
]


def _gst_syn_sql(x: str = "CAST(doc_id AS VARCHAR)") -> str:
    return _syn_sql(GST_SNIPS, "destem0", x)


def _gst_syn_spark(ids: Column) -> Column:
    return _syn_spark(GST_SNIPS, "destem0", ids)


@_q(
    "match_text_german",
    # oracle: tokenize the closed vocabulary, stem every token via
    # the twin-precomputed German lookup (stem-then-fold baked into
    # the CASE), then recompute membership + integer score with the
    # twin-stemmed query terms: 'kinder'->'kind' conflates kindern/
    # kindes, 'bücher'->'buch' conflates buch (stem BEFORE fold — the
    # folded 'bucher' would stem to 'buch' only by luck of this
    # vocabulary; the analyzer order is pinned by the umlaut stop
    # test), and '-verarbeitung' excludes verarbeitung AND
    # verarbeitungen through their shared stem 'verarbeit'
    f"""
    WITH s AS (SELECT doc_id, {_gst_syn_sql()} AS raw FROM documents),
    t0 AS (SELECT doc_id, string_split(lower(raw), ' ') AS toks FROM s),
    t AS (SELECT doc_id,
                 list_transform(toks, t -> {_gsw_stem_case(GST_SNIPS)})
                   AS st
          FROM t0)
    SELECT doc_id,
           CAST(len(list_filter(st, x -> x = 'kind'))
              + len(list_filter(st, x -> x = 'buch'))
                AS BIGINT) AS score
    FROM t
    WHERE (list_contains(st, 'kind') OR list_contains(st, 'buch'))
      AND NOT list_contains(st, 'verarbeit')
    """,
)
def match_text_german(spark, sf_dir):
    """$text with $language: "german" (r12 — the Snowball German
    stemmer, ops/german.py): stemmed conflation in match + score —
    'kinder' matches kindern/kindes via stem 'kind', 'bücher' matches
    'buch' via stem 'buch' (stemming runs BEFORE the diacritic fold,
    the German analyzer order), and the '-verarbeitung' negation
    excludes verarbeitungen too through the shared stem. The stemmer
    applies through the once-per-session registered SQL function —
    map-only plan, zero shuffle, zero Python; the column-vs-twin grid
    sweep + spec pins live in tests/test_german.py."""
    docs = _docs_ids(spark, sf_dir)
    prepped = _syn_text(docs, _gst_syn_spark(F.col("doc_id")), "doc_id")
    return apply_pipeline(
        prepped,
        [
            {"$match": {"$text": {
                "$search": "kinder bücher -verarbeitung",
                "$language": "german",
                "unicode": True,
            }}},
            {"$addFields": {"score": {"$meta": "textScore"}}},
            {"$project": {"doc_id": 1, "score": 1}},
        ],
    )


# --------------------------------------------------------------------
# Swedish analyzer ($language: "swedish", r12): Snowball Swedish stem
# --------------------------------------------------------------------

SVT_SNIPS = [
    "nyheterna kommer snabbt",
    "flickorna läser nyheter",
    "möjligheterna blir stora",
    "nyheter när hunden springer",
    "hunden springer fort",
    "inget relevant alls",
]


def _svt_stem_case() -> str:
    """Per-token Swedish-analyzer lookup for the oracle over the
    closed SVT_SNIPS vocabulary: Snowball Swedish stem
    (ops.swedish.swedish_py — the Python spec twin) THEN diacritic
    fold, pre-computed — the engine order (the Swedish program KEEPS
    ä/å/ö, so the fold is what removes them: 'möjligheterna' stems
    to 'möj' and folds to 'moj')."""
    from route81_spark.ops.swedish import swedish_py
    from route81_spark.ops.unitext import fold_diacritics_py

    vocab = sorted({w for s in SVT_SNIPS for w in s.split()})
    whens = " ".join(
        f"WHEN '{w}' THEN '{fold_diacritics_py(swedish_py(w))}'"
        for w in vocab
    )
    return f"CASE t {whens} ELSE t END"


def _svt_syn_sql(x: str = "CAST(doc_id AS VARCHAR)") -> str:
    return _syn_sql(SVT_SNIPS, "svstem0", x)


def _svt_syn_spark(ids: Column) -> Column:
    return _syn_spark(SVT_SNIPS, "svstem0", ids)


@_q(
    "match_text_swedish",
    # oracle: tokenize the closed vocabulary, stem every token via
    # the twin-precomputed Swedish lookup (stem-then-fold baked into
    # the CASE), then recompute membership + integer score with the
    # twin-stemmed query terms: 'nyheter'->'nyhet' conflates
    # nyheterna/nyheter (the setlimit pin: 'heterna' straddles R1 and
    # is invisible, 'erna' deletes), 'möjlig'->'möj'->fold 'moj'
    # conflates möjligheterna, and '-hund' excludes hunden through
    # the shared stem 'hund'
    f"""
    WITH s AS (SELECT doc_id, {_svt_syn_sql()} AS raw FROM documents),
    t0 AS (SELECT doc_id, string_split(lower(raw), ' ') AS toks FROM s),
    t AS (SELECT doc_id,
                 list_transform(toks, t -> {_svt_stem_case()}) AS st
          FROM t0)
    SELECT doc_id,
           CAST(len(list_filter(st, x -> x = 'nyhet'))
              + len(list_filter(st, x -> x = 'moj'))
                AS BIGINT) AS score
    FROM t
    WHERE (list_contains(st, 'nyhet') OR list_contains(st, 'moj'))
      AND NOT list_contains(st, 'hund')
    """,
)
def match_text_swedish(spark, sf_dir):
    """$text with $language: "swedish" (r12 — the Snowball Swedish
    stemmer, ops/swedish.py, the fourth carried language program):
    stemmed conflation in match + score — 'nyheter' matches
    'nyheterna' via stem 'nyhet' (exercising the setlimit
    containment semantics unique to the Scandinavian programs: the
    longer table suffix 'heterna' starts before R1 and is INVISIBLE,
    so 'erna' deletes — a longest-anywhere gate would keep the word
    whole), 'möjlig' matches 'möjligheterna' via the shared stem
    'möj' (stemming runs BEFORE the diacritic fold: the program
    keeps its ä/å/ö and the fold then yields 'moj' on both sides),
    and the '-hund' negation excludes 'hunden'. The stemmer applies
    through the once-per-session registered SQL function — map-only
    plan, zero shuffle, zero Python; the column-vs-twin grid sweep +
    spec pins live in tests/test_swedish.py."""
    docs = _docs_ids(spark, sf_dir)
    prepped = _syn_text(docs, _svt_syn_spark(F.col("doc_id")), "doc_id")
    return apply_pipeline(
        prepped,
        [
            {"$match": {"$text": {
                "$search": "nyheter möjlig -hund",
                "$language": "swedish",
                "unicode": True,
            }}},
            {"$addFields": {"score": {"$meta": "textScore"}}},
            {"$project": {"doc_id": 1, "score": 1}},
        ],
    )


# --------------------------------------------------------------------
# Swedish bm25 / $stem (r13 driver registrations of the r12
# unit-pinned forms — tests/test_swedish.py pins both): a DEDICATED
# snippet family with an all-stop-words snippet (SVT_SNIPS is shared
# with match_text_swedish, whose recorded plan embeds its literals
# and must stay byte-identical)
# --------------------------------------------------------------------

SVST_SNIPS = [
    "nyheterna kommer snabbt",
    "flickorna läser nyheter",
    "springer och hoppar ofta",
    "och det att över är",  # every token is a Swedish stop word
    "möjligheterna blir stora",
    "inget relevant alls",
]


def _svst_not_in() -> str:
    """RAW (unfolded) Swedish NOT IN list — stopping happens BEFORE
    stemming and folding, so the oracle's list keeps 'över'/'är'
    as-is. Shared data, never re-derived."""
    from route81_spark.ops.stopwords import stop_list

    return "(" + ", ".join(
        "'" + w + "'" for w in stop_list("swedish")
    ) + ")"


def _svst_stem_case() -> str:
    """Per-token Swedish stem lookup for the oracle over the closed
    SVST_SNIPS vocabulary, WITHOUT the $text fold (the bm25 and $stem
    paths emit raw Swedish stems — ä/å/ö kept: 'möjligheterna' ->
    'möj'), pre-computed by the Python spec twin."""
    from route81_spark.ops.swedish import swedish_py

    vocab = sorted({w for s in SVST_SNIPS for w in s.split()})
    whens = " ".join(
        f"WHEN '{w}' THEN '{swedish_py(w)}'" for w in vocab
    )
    return f"CASE t {whens} ELSE t END"


def _bm25_sv_terms() -> list[str]:
    """The engine-side analyzer applied to the bm25 Swedish query
    terms, shared as data: stop with the raw Swedish list, stem with
    the twin (NO fold on the bm25 path), dedupe."""
    from route81_spark.ops.stopwords import stop_list
    from route81_spark.ops.swedish import swedish_py

    stops = set(stop_list("swedish"))
    out = [swedish_py(t) for t in
           ["är", "nyheter", "möjlig", "springer"]
           if t not in stops]
    return list(dict.fromkeys(out))


def _svst_syn_sql(x: str = "CAST(doc_id AS VARCHAR)") -> str:
    return _syn_sql(SVST_SNIPS, "svstem1", x)


def _svst_syn_spark(ids: Column) -> Column:
    return _syn_spark(SVST_SNIPS, "svstem1", ids)


@_q(
    "text_bm25_swedish",
    # oracle: whitespace-split the synthesized Swedish corpus, drop
    # Swedish stop words via the shared RAW NOT IN list ('över'/'är'
    # filter on the unfolded accented tokens), stem the remainder via
    # the twin-precomputed lookup WITHOUT the $text fold (the bm25
    # path — Swedish stems keep ä/å/ö: 'möjligheterna' -> 'möj'),
    # then replicate the exact BM25 formula over the stop-filtered
    # stemmed arrays — 'är' contributes nothing, 'nyheter' scores
    # nyheterna docs via the setlimit stem 'nyhet'
    f"""
    WITH s0 AS (SELECT doc_id, {_svst_syn_sql()} AS raw FROM documents),
    t0 AS (SELECT doc_id,
                  string_split_regex(trim(raw), '\\s+') AS toks
           FROM s0),
    t1 AS (SELECT doc_id,
                  list_filter(toks, t -> t NOT IN {_svst_not_in()})
                    AS ft
           FROM t0),
    s AS (SELECT doc_id,
                 list_transform(ft, t -> {_svst_stem_case()}) AS tk
          FROM t1),
    c AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             avg(CAST(len(tk) AS DOUBLE)) AS avgdl
      FROM s
    ),
    d AS (
      SELECT
        {", ".join(f"(SELECT CAST(count(*) AS DOUBLE) FROM s WHERE list_contains(tk, '{t}')) AS df{i}" for i, t in enumerate(_bm25_sv_terms()))}
    )
    SELECT doc_id,
           {det_round_sql(" + ".join(
               f"(ln(1 + (c.n - d.df{i} + 0.5) / (d.df{i} + 0.5))"
               f" * (CAST(len(list_filter(tk, x -> x = '{t}')) AS DOUBLE) * 2.2)"
               f" / (CAST(len(list_filter(tk, x -> x = '{t}')) AS DOUBLE)"
               f"    + 1.2 * (0.25 + 0.75 * CAST(len(tk) AS DOUBLE) / c.avgdl)))"
               for i, t in enumerate(_bm25_sv_terms())), 6)} AS bm25
    FROM s, c, d
    ORDER BY bm25 DESC, doc_id ASC LIMIT 25
    """,
)
def text_bm25_swedish(spark, sf_dir):
    """Okapi BM25 with the full SWEDISH analyzer chain (r13 driver
    registration of the r12-unit-pinned composition — stem='swedish'
    + stop_words, tests/test_swedish.py): Swedish stop words (raw
    accented surface forms — 'över'/'är' filter unfolded) drop from
    corpus tokens AND query terms BEFORE the Snowball Swedish stemmer
    conflates the survivors; 'nyheter' scores nyheterna docs via the
    setlimit stem 'nyhet', the all-stop-words snippet contributes an
    empty dl, and stems KEEP their ä/å/ö on this path (no $text
    fold). Model constants from ONE single-row aggregation; scoring
    one per-row expression; zero scoring shuffle; top-25 via
    TakeOrderedAndProject."""
    from route81_spark.ops.corpus import bm25_scores

    docs = _docs_ids(spark, sf_dir)
    prepped = _syn_text(docs, _svst_syn_spark(F.col("doc_id")), "doc_id")
    scored = bm25_scores(
        prepped, ["är", "nyheter", "möjlig", "springer"],
        stem="swedish", stop_words=True,
    )
    return (
        scored.select("doc_id", "bm25")
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(25)
    )


@_q(
    "stage_stem_swedish",
    # oracle: tokenize -> shared raw NOT IN stop filter (unfolded
    # 'över'/'är') -> per-token twin lookup WITHOUT fold (the $stem
    # stage emits raw Swedish stems, ä/å/ö kept) -> join (empty-list
    # coalesce: the all-stop-words snippet stems to '')
    f"""
    WITH s AS (SELECT doc_id, {_svst_syn_sql()} AS raw FROM documents),
    t0 AS (SELECT doc_id,
                  string_split_regex(trim(raw), '\\s+') AS toks
           FROM s),
    t AS (SELECT doc_id,
                 list_filter(toks, t -> t NOT IN {_svst_not_in()}) AS ft
          FROM t0)
    SELECT doc_id,
           coalesce(array_to_string(
             list_transform(ft, t -> {_svst_stem_case()}),
             ' '), '') AS stems
    FROM t
    """,
)
def stage_stem_swedish(spark, sf_dir):
    """The $stem pipeline stage in mode 'swedish' with
    {stopWords: true} (r13 driver registration of the r12
    unit-pinned composition, tests/test_swedish.py): Swedish stop
    words drop on the unfolded surface BEFORE the Snowball Swedish
    stemmer, the stage emits raw Swedish stems (ä/å/ö kept — no
    $text fold on this surface), and the all-stop-words snippet
    stems to the empty array. Per-row scalar work through the
    once-per-session registered SQL function; no shuffle, no
    Python."""
    docs = _docs_ids(spark, sf_dir)
    prepped = _syn_text(docs, _svst_syn_spark(F.col("doc_id")), "doc_id")
    out = apply_pipeline(
        prepped,
        [{"$stem": {"textField": "text", "as": "st", "mode": "swedish",
                    "stopWords": True}}],
    )
    return out.select(
        "doc_id", F.concat_ws(" ", F.col("st")).alias("stems")
    )


# --------------------------------------------------------------------
# Norwegian analyzer ($language: "norwegian", r13): Snowball
# Norwegian stem — the fifth carried language program
# --------------------------------------------------------------------

NVT_SNIPS = [
    "nyhetene kommer raskt",
    "jentene leser nyheter",
    "mulighetene blir store",
    "nyheter når hunden løper",
    "hunden løper fort",
    "påstanden står fast",
    "ingenting relevant her",
]


def _nvt_stem_case() -> str:
    """Per-token Norwegian-analyzer lookup for the oracle over the
    closed NVT_SNIPS vocabulary: Snowball Norwegian stem
    (ops.norwegian.norwegian_py — the Python spec twin) THEN
    diacritic fold, pre-computed — the engine order (the Norwegian
    program KEEPS æ/å/ø; the fold removes the å: 'påstanden' stems
    to 'påstand' and folds to 'pastand'; æ/ø have no NFD
    decomposition and survive on both sides)."""
    from route81_spark.ops.norwegian import norwegian_py
    from route81_spark.ops.unitext import fold_diacritics_py

    vocab = sorted({w for s in NVT_SNIPS for w in s.split()})
    whens = " ".join(
        f"WHEN '{w}' THEN '{fold_diacritics_py(norwegian_py(w))}'"
        for w in vocab
    )
    return f"CASE t {whens} ELSE t END"


def _nvt_syn_sql(x: str = "CAST(doc_id AS VARCHAR)") -> str:
    return _syn_sql(NVT_SNIPS, "nostem0", x)


def _nvt_syn_spark(ids: Column) -> Column:
    return _syn_spark(NVT_SNIPS, "nostem0", ids)


def _nvt_not_in() -> str:
    """RAW (unfolded) Norwegian NOT IN list — stopping happens BEFORE
    stemming and folding, so the oracle's list keeps 'når' as-is.
    Shared data, never re-derived."""
    from route81_spark.ops.stopwords import stop_list

    return "(" + ", ".join(
        "'" + w + "'" for w in stop_list("norwegian")
    ) + ")"


def _nvt_stem_case_raw() -> str:
    """Per-token Norwegian stem lookup for the oracle over the closed
    NVT_SNIPS vocabulary, WITHOUT the $text fold (the bm25 path emits
    raw Norwegian stems — å/æ/ø kept: 'løper' -> 'løp'), pre-computed
    by the Python spec twin."""
    from route81_spark.ops.norwegian import norwegian_py

    vocab = sorted({w for s in NVT_SNIPS for w in s.split()})
    whens = " ".join(
        f"WHEN '{w}' THEN '{norwegian_py(w)}'" for w in vocab
    )
    return f"CASE t {whens} ELSE t END"


def _bm25_no_terms() -> list[str]:
    """The engine-side analyzer applied to the bm25 Norwegian query
    terms, shared as data: stop with the raw Norwegian list, stem
    with the twin (NO fold on the bm25 path), dedupe."""
    from route81_spark.ops.norwegian import norwegian_py
    from route81_spark.ops.stopwords import stop_list

    stops = set(stop_list("norwegian"))
    out = [norwegian_py(t) for t in
           ["når", "nyheter", "mulig", "løper"]
           if t not in stops]
    return list(dict.fromkeys(out))


@_q(
    "text_bm25_norwegian",
    # oracle: whitespace-split the synthesized Norwegian corpus, drop
    # Norwegian stop words via the shared RAW NOT IN list ('når'/
    # 'blir'/'her' filter on the unfolded tokens), stem the remainder
    # via the twin-precomputed lookup WITHOUT the $text fold (the
    # bm25 path — Norwegian stems keep å/æ/ø: 'løper' scores as
    # 'løp'), then replicate the exact BM25 formula over the
    # stop-filtered stemmed arrays — 'når' contributes nothing,
    # 'nyheter' scores nyhetene docs via the setlimit stem 'nyhet',
    # 'mulig' scores mulighetene docs via the shared stem 'mul'
    f"""
    WITH s0 AS (SELECT doc_id, {_nvt_syn_sql()} AS raw FROM documents),
    t0 AS (SELECT doc_id,
                  string_split_regex(trim(raw), '\\s+') AS toks
           FROM s0),
    t1 AS (SELECT doc_id,
                  list_filter(toks, t -> t NOT IN {_nvt_not_in()})
                    AS ft
           FROM t0),
    s AS (SELECT doc_id,
                 list_transform(ft, t -> {_nvt_stem_case_raw()}) AS tk
          FROM t1),
    c AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             avg(CAST(len(tk) AS DOUBLE)) AS avgdl
      FROM s
    ),
    d AS (
      SELECT
        {", ".join(f"(SELECT CAST(count(*) AS DOUBLE) FROM s WHERE list_contains(tk, '{t}')) AS df{i}" for i, t in enumerate(_bm25_no_terms()))}
    )
    SELECT doc_id,
           {det_round_sql(" + ".join(
               f"(ln(1 + (c.n - d.df{i} + 0.5) / (d.df{i} + 0.5))"
               f" * (CAST(len(list_filter(tk, x -> x = '{t}')) AS DOUBLE) * 2.2)"
               f" / (CAST(len(list_filter(tk, x -> x = '{t}')) AS DOUBLE)"
               f"    + 1.2 * (0.25 + 0.75 * CAST(len(tk) AS DOUBLE) / c.avgdl)))"
               for i, t in enumerate(_bm25_no_terms())), 6)} AS bm25
    FROM s, c, d
    ORDER BY bm25 DESC, doc_id ASC LIMIT 25
    """,
)
def text_bm25_norwegian(spark, sf_dir):
    """Okapi BM25 with the full NORWEGIAN analyzer chain (r13 — the
    bm25 driver registration lands in the SAME round as the stemmer,
    closing the tested-vs-graded gap up front): Norwegian stop words
    (raw surface forms — 'når' filters unfolded) drop from corpus
    tokens AND query terms BEFORE the Snowball Norwegian stemmer
    conflates the survivors; 'nyheter' scores nyhetene docs via the
    setlimit stem 'nyhet', 'mulig' scores mulighetene docs via the
    shared stem 'mul', and stems KEEP their å/æ/ø on this path (no
    $text fold — 'løper' scores as 'løp'). Model constants from ONE
    single-row aggregation; scoring one per-row expression; zero
    scoring shuffle; top-25 via TakeOrderedAndProject."""
    from route81_spark.ops.corpus import bm25_scores

    docs = _docs_ids(spark, sf_dir)
    prepped = _syn_text(docs, _nvt_syn_spark(F.col("doc_id")), "doc_id")
    scored = bm25_scores(
        prepped, ["når", "nyheter", "mulig", "løper"],
        stem="norwegian", stop_words=True,
    )
    return (
        scored.select("doc_id", "bm25")
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(25)
    )


@_q(
    "match_text_norwegian",
    # oracle: tokenize the closed vocabulary, stem every token via
    # the twin-precomputed Norwegian lookup (stem-then-fold baked
    # into the CASE), then recompute membership + integer score with
    # the twin-stemmed query terms: 'nyheter'->'nyhet' conflates
    # nyhetene/nyheter (the setlimit pin: 'hetene' straddles R1 and
    # is invisible, 'ene' deletes), 'mulig'->'mul' conflates
    # mulighetene (step-1 'hetene' then step-3 'ig' — 'lig' itself
    # straddles), 'påstander'->'påstand'->fold 'pastand' conflates
    # påstanden, and '-hund' excludes hunden through the shared stem
    # 'hund'
    f"""
    WITH s AS (SELECT doc_id, {_nvt_syn_sql()} AS raw FROM documents),
    t0 AS (SELECT doc_id, string_split(lower(raw), ' ') AS toks FROM s),
    t AS (SELECT doc_id,
                 list_transform(toks, t -> {_nvt_stem_case()}) AS st
          FROM t0)
    SELECT doc_id,
           CAST(len(list_filter(st, x -> x = 'nyhet'))
              + len(list_filter(st, x -> x = 'mul'))
              + len(list_filter(st, x -> x = 'pastand'))
                AS BIGINT) AS score
    FROM t
    WHERE (list_contains(st, 'nyhet') OR list_contains(st, 'mul')
           OR list_contains(st, 'pastand'))
      AND NOT list_contains(st, 'hund')
    """,
)
def match_text_norwegian(spark, sf_dir):
    """$text with $language: "norwegian" (r13 — the Snowball
    Norwegian stemmer, ops/norwegian.py, the fifth carried language
    program, reusing the setlimit machinery Swedish landed in r12):
    stemmed conflation in match + score — 'nyheter' matches
    'nyhetene' via stem 'nyhet' (the containment semantics: 'hetene'
    starts before R1 and is INVISIBLE, so 'ene' deletes), 'mulig'
    matches 'mulighetene' via the shared stem 'mul' (step-1 deletes
    'hetene' whole, step-3 deletes the in-R1 'ig' while 'lig'
    straddles), 'påstander' matches 'påstanden' via stem 'påstand'
    (stemming runs BEFORE the diacritic fold: the program keeps its
    å and the fold then yields 'pastand' on both sides), and the
    '-hund' negation excludes 'hunden'. The stemmer applies through
    the once-per-session registered SQL function — map-only plan,
    zero shuffle, zero Python; the column-vs-twin grid sweep + spec
    pins live in tests/test_norwegian.py."""
    docs = _docs_ids(spark, sf_dir)
    prepped = _syn_text(docs, _nvt_syn_spark(F.col("doc_id")), "doc_id")
    return apply_pipeline(
        prepped,
        [
            {"$match": {"$text": {
                "$search": "nyheter mulig påstander -hund",
                "$language": "norwegian",
                "unicode": True,
            }}},
            {"$addFields": {"score": {"$meta": "textScore"}}},
            {"$project": {"doc_id": 1, "score": 1}},
        ],
    )


@_q(
    "stage_stem_norwegian",
    # oracle: tokenize -> shared raw NOT IN stop filter (unfolded
    # 'når'/'blir'/'her') -> per-token twin lookup WITHOUT fold (the
    # $stem stage emits raw Norwegian stems, å/æ/ø kept) -> join
    # (empty-list coalesce for safety, the SVST pattern)
    f"""
    WITH s AS (SELECT doc_id, {_nvt_syn_sql()} AS raw FROM documents),
    t0 AS (SELECT doc_id,
                  string_split_regex(trim(raw), '\\s+') AS toks
           FROM s),
    t AS (SELECT doc_id,
                 list_filter(toks, t -> t NOT IN {_nvt_not_in()}) AS ft
          FROM t0)
    SELECT doc_id,
           coalesce(array_to_string(
             list_transform(ft, t -> {_nvt_stem_case_raw()}),
             ' '), '') AS stems
    FROM t
    """,
)
def stage_stem_norwegian(spark, sf_dir):
    """The $stem pipeline stage in mode 'norwegian' with
    {stopWords: true} (r14 driver registration of the r13
    unit-pinned composition, tests/test_norwegian.py — the one
    tested-vs-graded gap the r13 round left open): Norwegian stop
    words drop on the unfolded surface ('når' filters raw) BEFORE
    the Snowball Norwegian stemmer, and the stage emits raw
    Norwegian stems (å/æ/ø kept — no $text fold on this surface:
    'løper' -> 'løp'). Per-row scalar work through the
    once-per-session registered SQL function; no shuffle, no
    Python."""
    docs = _docs_ids(spark, sf_dir)
    prepped = _syn_text(docs, _nvt_syn_spark(F.col("doc_id")), "doc_id")
    out = apply_pipeline(
        prepped,
        [{"$stem": {"textField": "text", "as": "st",
                    "mode": "norwegian", "stopWords": True}}],
    )
    return out.select(
        "doc_id", F.concat_ws(" ", F.col("st")).alias("stems")
    )


# --------------------------------------------------------------------
# Danish analyzer ($language: "danish", r14): Snowball Danish stem —
# the sixth carried language program (ops/danish.py)
# --------------------------------------------------------------------

DKT_SNIPS = [
    "nyhederne kommer hurtigt",
    "pigerne læser nyheder",
    "bestemmelserne gælder nu",
    "nyheder når hunden løber",
    "hunden løber hurtigt",
    "påstanden står fast",
    "ingenting relevant her",
]


def _dkt_stem_case() -> str:
    """Per-token Danish-analyzer lookup for the oracle over the
    closed DKT_SNIPS vocabulary: Snowball Danish stem
    (ops.danish.danish_py — the Python spec twin) THEN diacritic
    fold, pre-computed — the engine order (the Danish program KEEPS
    æ/å/ø; the fold removes the å: 'påstanden' stems to 'påstand'
    and folds to 'pastand'; æ/ø have no NFD decomposition and
    survive on both sides)."""
    from route81_spark.ops.danish import danish_py
    from route81_spark.ops.unitext import fold_diacritics_py

    vocab = sorted({w for s in DKT_SNIPS for w in s.split()})
    whens = " ".join(
        f"WHEN '{w}' THEN '{fold_diacritics_py(danish_py(w))}'"
        for w in vocab
    )
    return f"CASE t {whens} ELSE t END"


def _dkt_syn_sql(x: str = "CAST(doc_id AS VARCHAR)") -> str:
    return _syn_sql(DKT_SNIPS, "dkstem0", x)


def _dkt_syn_spark(ids: Column) -> Column:
    return _syn_spark(DKT_SNIPS, "dkstem0", ids)


@_q(
    "match_text_danish",
    # oracle: tokenize the closed vocabulary, stem every token via
    # the twin-precomputed Danish lookup (stem-then-fold baked into
    # the CASE), then recompute membership + integer score with the
    # twin-stemmed query terms: 'nyheder'->'nyhed' conflates
    # nyhederne/nyheder (the setlimit pin: 'heder' straddles R1 and
    # is invisible, 'er' deletes), 'bestemme'->'bestem' conflates
    # bestemmelserne (step-1 'erne', step-3 'els', step-4 undouble),
    # 'påstande'->'påstand'->fold 'pastand' conflates påstanden, and
    # '-hund' excludes hunden through the shared stem 'hund'
    f"""
    WITH s AS (SELECT doc_id, {_dkt_syn_sql()} AS raw FROM documents),
    t0 AS (SELECT doc_id, string_split(lower(raw), ' ') AS toks FROM s),
    t AS (SELECT doc_id,
                 list_transform(toks, t -> {_dkt_stem_case()}) AS st
          FROM t0)
    SELECT doc_id,
           CAST(len(list_filter(st, x -> x = 'nyhed'))
              + len(list_filter(st, x -> x = 'bestem'))
              + len(list_filter(st, x -> x = 'pastand'))
                AS BIGINT) AS score
    FROM t
    WHERE (list_contains(st, 'nyhed') OR list_contains(st, 'bestem')
           OR list_contains(st, 'pastand'))
      AND NOT list_contains(st, 'hund')
    """,
)
def match_text_danish(spark, sf_dir):
    """$text with $language: "danish" (r14 — the Snowball Danish
    stemmer, ops/danish.py, the sixth carried language program,
    reusing the setlimit machinery Swedish landed in r12 and the R1
    region machinery Norwegian landed in r13 — Danish and Norwegian
    share the exact vowel set): stemmed conflation in match + score —
    'nyheder' matches 'nyhederne' via stem 'nyhed' (the containment
    semantics: 'heder' starts before R1 and is INVISIBLE, so 'er'
    deletes; note 'nyhed' itself SURVIVES — Danish has no bare 'ed'
    entry, the Norwegian contrast), 'bestemme' matches
    'bestemmelserne' via the shared stem 'bestem' (steps 1+3a+4: the
    published algorithm's own undouble example), 'påstande' matches
    'påstanden' via stem 'påstand' (stemming runs BEFORE the
    diacritic fold: the program keeps its å and the fold then yields
    'pastand' on both sides), and the '-hund' negation excludes
    'hunden'. The stemmer applies through the once-per-session
    registered SQL function — map-only plan, zero shuffle, zero
    Python; the column-vs-twin grid sweep + spec pins live in
    tests/test_danish.py, and the twin is additionally pinned
    word-for-word to the compiled Snowball authority in
    tests/test_snowball_authority.py."""
    docs = _docs_ids(spark, sf_dir)
    prepped = _syn_text(docs, _dkt_syn_spark(F.col("doc_id")), "doc_id")
    return apply_pipeline(
        prepped,
        [
            {"$match": {"$text": {
                "$search": "nyheder bestemme påstande -hund",
                "$language": "danish",
                "unicode": True,
            }}},
            {"$addFields": {"score": {"$meta": "textScore"}}},
            {"$project": {"doc_id": 1, "score": 1}},
        ],
    )


# --------------------------------------------------------------------
# Danish bm25 / $stem: a DEDICATED snippet family with an
# all-stop-words snippet (DKT_SNIPS is shared with match_text_danish;
# the SVST/NVT precedent — one family per plan-recorded literal set)
# --------------------------------------------------------------------

DKST_SNIPS = [
    "nyhederne kommer hurtigt",
    "pigerne læser nyheder",
    "løber og hopper ofte",
    "og det at over er",  # every token is a Danish stop word
    "bestemmelserne gælder nu",
    "ingenting relevant her",
]


def _dkst_not_in() -> str:
    """RAW (unfolded) Danish NOT IN list — stopping happens BEFORE
    stemming and folding, so the oracle's list keeps 'når'/'på'
    as-is. Shared data, never re-derived."""
    from route81_spark.ops.stopwords import stop_list

    return "(" + ", ".join(
        "'" + w + "'" for w in stop_list("danish")
    ) + ")"


def _dkst_stem_case() -> str:
    """Per-token Danish stem lookup for the oracle over the closed
    DKST_SNIPS vocabulary, WITHOUT the $text fold (the bm25 and
    $stem paths emit raw Danish stems — æ/å/ø kept: 'løber' ->
    'løb'), pre-computed by the Python spec twin."""
    from route81_spark.ops.danish import danish_py

    vocab = sorted({w for s in DKST_SNIPS for w in s.split()})
    whens = " ".join(
        f"WHEN '{w}' THEN '{danish_py(w)}'" for w in vocab
    )
    return f"CASE t {whens} ELSE t END"


def _bm25_dk_terms() -> list[str]:
    """The engine-side analyzer applied to the bm25 Danish query
    terms, shared as data: stop with the raw Danish list, stem with
    the twin (NO fold on the bm25 path), dedupe."""
    from route81_spark.ops.danish import danish_py
    from route81_spark.ops.stopwords import stop_list

    stops = set(stop_list("danish"))
    out = [danish_py(t) for t in
           ["er", "nyheder", "bestemme", "løber"]
           if t not in stops]
    return list(dict.fromkeys(out))


def _dkst_syn_sql(x: str = "CAST(doc_id AS VARCHAR)") -> str:
    return _syn_sql(DKST_SNIPS, "dkstem1", x)


def _dkst_syn_spark(ids: Column) -> Column:
    return _syn_spark(DKST_SNIPS, "dkstem1", ids)


@_q(
    "text_bm25_danish",
    # oracle: whitespace-split the synthesized Danish corpus, drop
    # Danish stop words via the shared RAW NOT IN list ('og'/'det'/
    # 'over'/'er' filter on the unfolded tokens), stem the remainder
    # via the twin-precomputed lookup WITHOUT the $text fold (the
    # bm25 path — Danish stems keep æ/å/ø: 'løber' scores as 'løb'),
    # then replicate the exact BM25 formula over the stop-filtered
    # stemmed arrays — 'er' contributes nothing, 'nyheder' scores
    # nyhederne docs via the setlimit stem 'nyhed', 'bestemme'
    # scores bestemmelserne docs via the shared stem 'bestem'
    f"""
    WITH s0 AS (SELECT doc_id, {_dkst_syn_sql()} AS raw FROM documents),
    t0 AS (SELECT doc_id,
                  string_split_regex(trim(raw), '\\s+') AS toks
           FROM s0),
    t1 AS (SELECT doc_id,
                  list_filter(toks, t -> t NOT IN {_dkst_not_in()})
                    AS ft
           FROM t0),
    s AS (SELECT doc_id,
                 list_transform(ft, t -> {_dkst_stem_case()}) AS tk
          FROM t1),
    c AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             avg(CAST(len(tk) AS DOUBLE)) AS avgdl
      FROM s
    ),
    d AS (
      SELECT
        {", ".join(f"(SELECT CAST(count(*) AS DOUBLE) FROM s WHERE list_contains(tk, '{t}')) AS df{i}" for i, t in enumerate(_bm25_dk_terms()))}
    )
    SELECT doc_id,
           {det_round_sql(" + ".join(
               f"(ln(1 + (c.n - d.df{i} + 0.5) / (d.df{i} + 0.5))"
               f" * (CAST(len(list_filter(tk, x -> x = '{t}')) AS DOUBLE) * 2.2)"
               f" / (CAST(len(list_filter(tk, x -> x = '{t}')) AS DOUBLE)"
               f"    + 1.2 * (0.25 + 0.75 * CAST(len(tk) AS DOUBLE) / c.avgdl)))"
               for i, t in enumerate(_bm25_dk_terms())), 6)} AS bm25
    FROM s, c, d
    ORDER BY bm25 DESC, doc_id ASC LIMIT 25
    """,
)
def text_bm25_danish(spark, sf_dir):
    """Okapi BM25 with the full DANISH analyzer chain (r14 — the
    bm25 driver registration lands in the SAME round as the stemmer,
    the Norwegian-round pattern): Danish stop words (raw surface
    forms — 'og'/'det'/'over'/'er' filter unfolded) drop from corpus
    tokens AND query terms BEFORE the Snowball Danish stemmer
    conflates the survivors; 'nyheder' scores nyhederne docs via the
    setlimit stem 'nyhed', 'bestemme' scores bestemmelserne docs via
    the shared stem 'bestem', the all-stop-words snippet contributes
    an empty dl, and stems KEEP their æ/å/ø on this path (no $text
    fold — 'løber' scores as 'løb'). Model constants from ONE
    single-row aggregation; scoring one per-row expression; zero
    scoring shuffle; top-25 via TakeOrderedAndProject."""
    from route81_spark.ops.corpus import bm25_scores

    docs = _docs_ids(spark, sf_dir)
    prepped = _syn_text(docs, _dkst_syn_spark(F.col("doc_id")), "doc_id")
    scored = bm25_scores(
        prepped, ["er", "nyheder", "bestemme", "løber"],
        stem="danish", stop_words=True,
    )
    return (
        scored.select("doc_id", "bm25")
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(25)
    )


@_q(
    "stage_stem_danish",
    # oracle: tokenize -> shared raw NOT IN stop filter (unfolded
    # 'og'/'det'/'over'/'er') -> per-token twin lookup WITHOUT fold
    # (the $stem stage emits raw Danish stems, æ/å/ø kept) -> join
    # (empty-list coalesce: the all-stop-words snippet stems to '')
    f"""
    WITH s AS (SELECT doc_id, {_dkst_syn_sql()} AS raw FROM documents),
    t0 AS (SELECT doc_id,
                  string_split_regex(trim(raw), '\\s+') AS toks
           FROM s),
    t AS (SELECT doc_id,
                 list_filter(toks, t -> t NOT IN {_dkst_not_in()}) AS ft
          FROM t0)
    SELECT doc_id,
           coalesce(array_to_string(
             list_transform(ft, t -> {_dkst_stem_case()}),
             ' '), '') AS stems
    FROM t
    """,
)
def stage_stem_danish(spark, sf_dir):
    """The $stem pipeline stage in mode 'danish' with
    {stopWords: true} (r14 — registered in the stemmer's own round
    so no tested-vs-graded gap opens, alongside the unit pins in
    tests/test_danish.py): Danish stop words drop on the unfolded
    surface BEFORE the Snowball Danish stemmer, the stage emits raw
    Danish stems (æ/å/ø kept — no $text fold on this surface), and
    the all-stop-words snippet stems to the empty array. Per-row
    scalar work through the once-per-session registered SQL
    function; no shuffle, no Python."""
    docs = _docs_ids(spark, sf_dir)
    prepped = _syn_text(docs, _dkst_syn_spark(F.col("doc_id")), "doc_id")
    out = apply_pipeline(
        prepped,
        [{"$stem": {"textField": "text", "as": "st", "mode": "danish",
                    "stopWords": True}}],
    )
    return out.select(
        "doc_id", F.concat_ws(" ", F.col("st")).alias("stems")
    )


def _sw_stem_case() -> str:
    """Porter2 stem lookup for the closed SW_SNIPS vocabulary,
    pre-computed by the Python spec twin (ops.porter.porter2_py)."""
    from route81_spark.ops.porter import porter2_py

    vocab = sorted({w for s in SW_SNIPS for w in s.split()})
    whens = " ".join(
        f"WHEN '{w}' THEN '{porter2_py(w)}'" for w in vocab
    )
    return f"CASE t {whens} ELSE t END"


@_q(
    "text_bm25_stopwords",
    # oracle: drop stop words via the shared NOT IN list, stem the
    # remainder via the twin-precomputed lookup, then replicate the
    # exact BM25 formula (same left-assoc fold, same constants) over
    # the stop-filtered STEMMED arrays — dl/avgdl count the REMAINING
    # tokens (the index-resident definition), 'the' in the query
    # contributes nothing, 'runs' scores 'runs' docs via stem 'run'
    f"""
    WITH s0 AS (SELECT doc_id, {_sw_syn_sql()} AS raw FROM documents),
    t0 AS (SELECT doc_id,
                  string_split_regex(lower(raw), '[^0-9a-z]+') AS toks
           FROM s0),
    t1 AS (SELECT doc_id,
                  list_filter(toks, t -> t NOT IN {_sw_not_in()}) AS ft
           FROM t0),
    s AS (SELECT doc_id,
                 list_transform(ft, t -> {_sw_stem_case()}) AS tk
          FROM t1),
    c AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             avg(CAST(len(tk) AS DOUBLE)) AS avgdl
      FROM s
    ),
    d AS (
      SELECT
        {", ".join(f"(SELECT CAST(count(*) AS DOUBLE) FROM s WHERE list_contains(tk, '{t}')) AS df{i}" for i, t in enumerate(["data", "process", "run"]))}
    )
    SELECT doc_id,
           {det_round_sql(" + ".join(
               f"(ln(1 + (c.n - d.df{i} + 0.5) / (d.df{i} + 0.5))"
               f" * (CAST(len(list_filter(tk, x -> x = '{t}')) AS DOUBLE) * 2.2)"
               f" / (CAST(len(list_filter(tk, x -> x = '{t}')) AS DOUBLE)"
               f"    + 1.2 * (0.25 + 0.75 * CAST(len(tk) AS DOUBLE) / c.avgdl)))"
               for i, t in enumerate(["data", "process", "run"])), 6)} AS bm25
    FROM s, c, d
    ORDER BY bm25 DESC, doc_id ASC LIMIT 25
    """,
)
def text_bm25_stopwords(spark, sf_dir):
    """Okapi BM25 with the full textbook analyzer chain (r11 driver
    registration of the r10-implemented option): stop-word removal
    (Snowball English list, shared as data with the oracle) BEFORE
    Porter2 stemming, for corpus tokens AND query terms — 'the' in
    the query contributes nothing, dl/avgdl count the post-stop
    tokens (the index-resident definition). Model constants still
    come from ONE single-row aggregation; scoring is one per-row
    expression over the bound filtered+stemmed token array; zero
    scoring shuffle; top-25 via TakeOrderedAndProject."""
    from route81_spark.ops.corpus import bm25_scores

    docs = _docs_ids(spark, sf_dir)
    prepped = _syn_text(docs, _sw_syn_spark(F.col("doc_id")), "doc_id")
    scored = bm25_scores(
        prepped, ["the", "data", "processing", "runs"],
        stem="porter", stop_words=True,
    )
    return (
        scored.select("doc_id", "bm25")
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(25)
    )


@_q(
    "stage_stem_stopwords",
    # oracle: tokenize -> shared NOT IN stop filter -> per-token twin
    # lookup -> join (array_to_string of an empty list is NULL in
    # DuckDB -> coalesce; the all-stop-words snippet exercises it)
    f"""
    WITH s AS (SELECT doc_id, {_sw_syn_sql()} AS raw FROM documents),
    t0 AS (SELECT doc_id,
                  string_split_regex(lower(raw), '[^0-9a-z]+') AS toks
           FROM s),
    t AS (SELECT doc_id,
                 list_filter(toks, t -> t NOT IN {_sw_not_in()}) AS ft
          FROM t0)
    SELECT doc_id,
           coalesce(array_to_string(
             list_transform(ft, t -> {_sw_stem_case()}), ' '), '')
             AS stems
    FROM t
    """,
)
def stage_stem_stopwords(spark, sf_dir):
    """The $stem pipeline-stage extension with {stopWords: true} (r11
    driver registration of the r10-implemented option): Snowball
    English stop words drop BEFORE stemming — the analyzer order a
    stemmed-vocabulary builder wants — and a document of only stop
    words stems to the empty array. Per-row scalar work, no shuffle,
    no Python."""
    docs = _docs_ids(spark, sf_dir)
    prepped = _syn_text(docs, _sw_syn_spark(F.col("doc_id")), "doc_id")
    out = apply_pipeline(
        prepped,
        [{"$stem": {"textField": "text", "as": "st", "mode": "porter",
                    "stopWords": True}}],
    )
    return out.select(
        "doc_id", F.concat_ws(" ", F.col("st")).alias("stems")
    )


@_q(
    "text_bm25_stop_language",
    # oracle: whitespace-split the synthesized German corpus, drop
    # German stop words via the shared RAW (unfolded) NOT IN list,
    # then replicate the exact BM25 formula (same left-assoc fold,
    # same constants) over the stop-filtered arrays — 'die'/'über' in
    # the query contribute nothing (stop words), no stemming runs
    # (stop_language composes with stem=None only), and dl/avgdl
    # count the post-stop tokens
    f"""
    WITH s0 AS (SELECT doc_id, {_gsw_syn_sql()} AS raw FROM documents),
    t0 AS (SELECT doc_id,
                  string_split_regex(trim(raw), '\\s+') AS toks
           FROM s0),
    s AS (SELECT doc_id,
                 list_filter(toks, t -> t NOT IN {_gsw_not_in_raw()})
                   AS tk
          FROM t0),
    c AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             avg(CAST(len(tk) AS DOUBLE)) AS avgdl
      FROM s
    ),
    d AS (
      SELECT
        {", ".join(f"(SELECT CAST(count(*) AS DOUBLE) FROM s WHERE list_contains(tk, '{t}')) AS df{i}" for i, t in enumerate(["daten", "verarbeitung"]))}
    )
    SELECT doc_id,
           {det_round_sql(" + ".join(
               f"(ln(1 + (c.n - d.df{i} + 0.5) / (d.df{i} + 0.5))"
               f" * (CAST(len(list_filter(tk, x -> x = '{t}')) AS DOUBLE) * 2.2)"
               f" / (CAST(len(list_filter(tk, x -> x = '{t}')) AS DOUBLE)"
               f"    + 1.2 * (0.25 + 0.75 * CAST(len(tk) AS DOUBLE) / c.avgdl)))"
               for i, t in enumerate(["daten", "verarbeitung"])), 6)} AS bm25
    FROM s, c, d
    ORDER BY bm25 DESC, doc_id ASC LIMIT 25
    """,
)
def text_bm25_stop_language(spark, sf_dir):
    """Okapi BM25 with ``stop_language="german"`` (r12 driver
    registration of the r11-implemented option): an UNSTEMMED corpus
    in a carried non-en/fr Snowball language stops with ITS verbatim
    list (ops.stopwords.stop_list, raw surface forms — 'über' stays
    accented on the bm25 path), applied to corpus tokens AND query
    terms; 'die'/'über' in the query contribute nothing, dl/avgdl
    count the post-stop tokens. Stop removal SHRINKS the token stream
    ahead of the model pass (the r11 probe: stop->stem BM25 scales
    BETTER than stem-only); model constants come from ONE single-row
    aggregation, scoring is one per-row expression, top-25 via
    TakeOrderedAndProject."""
    from route81_spark.ops.corpus import bm25_scores

    docs = _docs_ids(spark, sf_dir)
    prepped = _syn_text(docs, _gsw_syn_spark(F.col("doc_id")), "doc_id")
    scored = bm25_scores(
        prepped, ["die", "daten", "über", "verarbeitung"],
        stop_words=True, stop_language="german",
    )
    return (
        scored.select("doc_id", "bm25")
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(25)
    )


def _bm25_de_terms() -> list[str]:
    """The engine-side analyzer applied to the query terms, shared as
    data: stop with the raw German list, stem with the twin, dedupe —
    so the oracle's per-term df/tf expressions use exactly the terms
    bm25_scores scores."""
    from route81_spark.ops.german import german_py
    from route81_spark.ops.stopwords import stop_list

    stops = set(stop_list("german"))
    out = [german_py(t) for t in
           ["die", "daten", "über", "verarbeitungen"]
           if t not in stops]
    return list(dict.fromkeys(out))


@_q(
    "text_bm25_german",
    # oracle: whitespace-split the synthesized German corpus, drop
    # German stop words via the shared RAW NOT IN list, stem the
    # remainder via the twin-precomputed lookup (no fold on the bm25
    # path), then replicate the exact BM25 formula (same left-assoc
    # fold, same constants) over the stop-filtered STEMMED arrays —
    # 'die'/'über' in the query contribute nothing, 'verarbeitungen'
    # scores 'verarbeitung' docs via the shared stem 'verarbeit',
    # dl/avgdl count the post-stop tokens
    f"""
    WITH s0 AS (SELECT doc_id, {_gsw_syn_sql()} AS raw FROM documents),
    t0 AS (SELECT doc_id,
                  string_split_regex(trim(raw), '\\s+') AS toks
           FROM s0),
    t1 AS (SELECT doc_id,
                  list_filter(toks, t -> t NOT IN {_gsw_not_in_raw()})
                    AS ft
           FROM t0),
    s AS (SELECT doc_id,
                 list_transform(ft,
                   t -> {_gsw_stem_case(GSW_SNIPS, fold=False)}) AS tk
          FROM t1),
    c AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             avg(CAST(len(tk) AS DOUBLE)) AS avgdl
      FROM s
    ),
    d AS (
      SELECT
        {", ".join(f"(SELECT CAST(count(*) AS DOUBLE) FROM s WHERE list_contains(tk, '{t}')) AS df{i}" for i, t in enumerate(_bm25_de_terms()))}
    )
    SELECT doc_id,
           {det_round_sql(" + ".join(
               f"(ln(1 + (c.n - d.df{i} + 0.5) / (d.df{i} + 0.5))"
               f" * (CAST(len(list_filter(tk, x -> x = '{t}')) AS DOUBLE) * 2.2)"
               f" / (CAST(len(list_filter(tk, x -> x = '{t}')) AS DOUBLE)"
               f"    + 1.2 * (0.25 + 0.75 * CAST(len(tk) AS DOUBLE) / c.avgdl)))"
               for i, t in enumerate(_bm25_de_terms())), 6)} AS bm25
    FROM s, c, d
    ORDER BY bm25 DESC, doc_id ASC LIMIT 25
    """,
)
def text_bm25_german(spark, sf_dir):
    """Okapi BM25 with the full GERMAN analyzer chain (r12 —
    stem='german' + stop_words): German stop words (raw accented
    surface forms) drop from corpus tokens AND query terms BEFORE the
    Snowball German stemmer conflates the survivors — 'die'/'über'
    contribute nothing, 'verarbeitungen' scores 'verarbeitung' docs
    via the shared stem, dl/avgdl count the post-stop tokens. Model
    constants from ONE single-row aggregation; scoring one per-row
    expression over the bound filtered+stemmed array; zero scoring
    shuffle; top-25 via TakeOrderedAndProject."""
    from route81_spark.ops.corpus import bm25_scores

    docs = _docs_ids(spark, sf_dir)
    prepped = _syn_text(docs, _gsw_syn_spark(F.col("doc_id")), "doc_id")
    scored = bm25_scores(
        prepped, ["die", "daten", "über", "verarbeitungen"],
        stem="german", stop_words=True,
    )
    return (
        scored.select("doc_id", "bm25")
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(25)
    )


# Stop-word-dense PUNCTUATED snippets (r12): one per non-English
# language in the mix — elisions/commas/dashes exercise the unicode
# tokenizer fix (edge punctuation must not hide stop words from the
# scorer). Each snippet's own language wins its stop-hit argmax by a
# wide margin (verified against the shared lists); index order is the
# hash-pick order and must match the oracle's list literal.
LSB_SNIPS = [
    "c'est que nous étions dans la même maison, et qu'il y avait été"
    " là.",                                                  # french
    "über die daten, und das war nicht nur für uns — auch mit dem"
    " modell.",                                              # german
    "los datos de la casa, que el modelo no era como los otros para"
    " nosotros.",                                            # spanish
    "и в не на что он как это было, но мы так и не узнали его.",
    "ma non era come gli altri, perché noi avevamo una casa al"
    " mare.",                                                # italian
    "o modelo não era como os outros, mas nós tínhamos uma casa só.",
    "dit is een huis en het was niet zo groot als de andere hier.",
]


def _lsb_mix_sql() -> str:
    """The 8-way deterministic mix, SQL side: bucket 0 keeps the real
    (English) document text; buckets 1..7 substitute one snippet."""
    lits = "[" + ", ".join(
        "'" + s.replace("'", "''") + "'" for s in LSB_SNIPS
    ) + "]"
    m = f"CAST({_wh60('lsb0')} % 8 AS INT)"
    return f"CASE WHEN {m} = 0 THEN text ELSE ({lits})[{m}] END"


def _lsb_mix_spark(ids: Column, text: Column) -> Column:
    from route81_spark.ops.web import _h60

    m = (_h60(ids, "lsb0") % 8).cast("int")
    return F.when(m == 0, text).otherwise(
        F.element_at(F.array(*[F.lit(s) for s in LSB_SNIPS]), m)
    )


def _snowball_langid_scores_sql() -> str:
    """Per-language stop-hit score columns for the $langId snowball
    oracle: the SAME 14 verbatim lists the engine scores with
    (ops.stopwords.stop_list), shared as data — one
    len(list_filter(... lower(t) IN (...))) per language over the
    64-token unicode-token prefix."""
    from route81_spark.ops.stopwords import stop_list
    from route81_spark.ops.text import SNOWBALL_LANGS

    cols = []
    for i, lang in enumerate(SNOWBALL_LANGS):
        in_list = ", ".join("'" + w + "'" for w in stop_list(lang))
        cols.append(
            f"CAST(len(list_filter(tk, t -> lower(t) IN ({in_list})))"
            f" AS BIGINT) AS s{i}"
        )
    return ", ".join(cols)


def _snowball_langid_argmax_sql() -> str:
    """First-max-in-declaration-order argmax (SNOWBALL_LANGS is
    alphabetical — the documented danish-before-norwegian tie-break),
    all-zero -> 'und'; mirrors ops.text._lang_argmax_chain."""
    from route81_spark.ops.text import SNOWBALL_LANGS

    n = len(SNOWBALL_LANGS)
    best = "greatest(" + ", ".join(f"s{i}" for i in range(n)) + ")"
    whens = " ".join(
        f"WHEN s{i} = {best} THEN '{lang}'"
        for i, lang in enumerate(SNOWBALL_LANGS)
    )
    return f"CASE WHEN {best} > 0 THEN (CASE {whens} END) ELSE 'und' END"


@_q(
    "text_lang_id_snowball",
    # oracle: unicode tokenization (the same [^\p{L}\p{N}]+ split —
    # RE2 and Java agree on the Unicode categories), 64-token prefix,
    # one stop-hit count per carried language against the shared
    # verbatim lists, then the deterministic first-max argmax
    f"""
    WITH s0 AS (SELECT doc_id, {_lsb_mix_sql()} AS mixed
                FROM documents),
    t0 AS (
      SELECT doc_id,
             list_slice(list_filter(
               string_split_regex(mixed, '[^\\p{{L}}\\p{{N}}]+'),
               t -> t <> ''), 1, 64) AS tk
      FROM s0
    ),
    sc AS (SELECT doc_id, {_snowball_langid_scores_sql()} FROM t0)
    SELECT doc_id, {_snowball_langid_argmax_sql()} AS lang_sb FROM sc
    """,
)
def text_lang_id_snowball(spark, sf_dir):
    """$langId mode "snowball" (r12 driver registration of the
    r11-implemented stage): stop-list-overlap language ID over all 14
    carried verbatim Snowball lists, through the $langId pipeline
    stage -> ops.text.snowball_lang_id -> the hashed single-pass
    program (one xxhash64 per token + ONE 14-int score-vector
    aggregate, 64-token prefix cap -> constant per-doc cost; the
    execution shape measured into place at the 100x probe tier, r11).
    r12: tokens are unicode letter/number runs, so punctuated prose
    scores correctly. The input is a deterministic 8-way mix — real
    (English, punctuated) document text for bucket 0, one
    stop-word-dense snippet per other language for buckets 1..7 — so
    every list in the mix is exercised differentially, elisions and
    dashes included. Map-only, zero shuffle, zero Python."""
    from route81_spark.io import ensure_parallelism

    docs = ensure_parallelism(
        _t(spark, sf_dir, "documents").select("doc_id", "text")
    )
    prepped = docs.select(
        "doc_id",
        _lsb_mix_spark(F.col("doc_id"), F.col("text")).alias("text"),
    )
    out = apply_pipeline(prepped, [
        {"$langId": {"textField": "text", "mode": "snowball",
                     "as": "lang_sb"}},
    ])
    return out.select("doc_id", "lang_sb")


W_TITLES = ["query guide", "table manual", "spark notes", "misc intro"]


@_q(
    "match_text_weighted",
    # oracle: synthesize the same hash-picked title, tokenize title and
    # body separately, then recompute the weighted-index semantics —
    # terms match in EITHER field, '-batch' must be absent from BOTH,
    # score = 5 x title occurrences + 1 x body occurrences
    f"""
    WITH s AS (
      SELECT doc_id,
             (['query guide', 'table manual', 'spark notes', 'misc intro'])
               [CAST({_wh60('wtitle')} % 4 AS INT) + 1] AS title,
             text
      FROM documents
    ),
    t AS (
      SELECT doc_id,
             string_split_regex(lower(title), '[^0-9a-z]+') AS tt,
             string_split_regex(lower(text), '[^0-9a-z]+') AS bt
      FROM s
    )
    SELECT doc_id,
           CAST(5 * (len(list_filter(tt, x -> x = 'query'))
                   + len(list_filter(tt, x -> x = 'table')))
              + (len(list_filter(bt, x -> x = 'query'))
                   + len(list_filter(bt, x -> x = 'table'))) AS BIGINT)
             AS score
    FROM t
    WHERE (list_contains(tt, 'query') OR list_contains(bt, 'query')
           OR list_contains(tt, 'table') OR list_contains(bt, 'table'))
      AND NOT coalesce(list_contains(tt, 'batch'), false)
      AND NOT coalesce(list_contains(bt, 'batch'), false)
    """,
)
def match_text_weighted(spark, sf_dir):
    """$text over a WEIGHTED MULTI-FIELD index — the engine analog of
    Mongo's createIndex({title: "text", body: "text"}, {weights:
    {title: 5}}): terms match in ANY indexed field, the negation
    '-batch' only passes documents where the term is absent from EVERY
    field, and textScore sums weight x occurrences per field. Both
    fields normalize/tokenize once inside one bound struct — per-row
    filter + projection, no shuffle, no Python."""
    from route81_spark.ops.web import _h60

    from route81_spark.io import ensure_parallelism

    docs = ensure_parallelism(
        _t(spark, sf_dir, "documents").select("doc_id", "text")
    )
    title = F.element_at(
        F.array(*[F.lit(s) for s in W_TITLES]),
        (_h60(F.col("doc_id"), "wtitle") % 4 + 1).cast("int"),
    )
    prepped = docs.select(
        "doc_id", title.alias("title"), F.col("text").alias("body")
    )
    return apply_pipeline(
        prepped,
        [
            {"$match": {"$text": {
                "$search": "query table -batch",
                "fields": {"title": 5, "body": 1},
            }}},
            {"$addFields": {"score": {"$meta": "textScore"}}},
            {"$project": {"doc_id": 1, "score": 1}},
        ],
    )


@_q(
    "match_text_wildcard",
    # oracle: the wildcard index expands to {title: 1, body: 1} here
    # (doc_id is long) — terms in EITHER field, weight-1 score sums
    f"""
    WITH s AS (
      SELECT doc_id,
             (['query guide', 'table manual', 'spark notes', 'misc intro'])
               [CAST({_wh60('wtitle')} % 4 AS INT) + 1] AS title,
             text
      FROM documents
    ),
    t AS (
      SELECT doc_id,
             string_split_regex(lower(title), '[^0-9a-z]+') AS tt,
             string_split_regex(lower(text), '[^0-9a-z]+') AS bt
      FROM s
    )
    SELECT doc_id,
           CAST(len(list_filter(tt, x -> x = 'spark'))
              + len(list_filter(bt, x -> x = 'spark'))
              + len(list_filter(tt, x -> x = 'vector'))
              + len(list_filter(bt, x -> x = 'vector')) AS BIGINT) AS score
    FROM t
    WHERE (list_contains(tt, 'spark') OR list_contains(bt, 'spark')
           OR list_contains(tt, 'vector') OR list_contains(bt, 'vector'))
    """,
)
def match_text_wildcard(spark, sf_dir):
    """$text over the WILDCARD text-index analog ({fields: "$**"} <->
    Mongo's createIndex({"$**": "text"})): every top-level string
    column searches at weight 1 — the spec expands against the schema
    at $match compile time, so {$meta: "textScore"} sums occurrences
    across all string fields. Same bound-struct shape as the weighted
    form: per-row work, no shuffle, no Python."""
    from route81_spark.ops.web import _h60

    from route81_spark.io import ensure_parallelism

    docs = ensure_parallelism(
        _t(spark, sf_dir, "documents").select("doc_id", "text")
    )
    title = F.element_at(
        F.array(*[F.lit(s) for s in W_TITLES]),
        (_h60(F.col("doc_id"), "wtitle") % 4 + 1).cast("int"),
    )
    prepped = docs.select(
        "doc_id", title.alias("title"), F.col("text").alias("body")
    )
    return apply_pipeline(
        prepped,
        [
            {"$match": {"$text": {
                "$search": "spark vector", "fields": "$**",
            }}},
            {"$addFields": {"score": {"$meta": "textScore"}}},
            {"$project": {"doc_id": 1, "score": 1}},
        ],
    )


N_NOTES = ["vector store", "row group", "spark core", "empty note"]


@_q(
    "match_text_wildcard_nested",
    # oracle: the wildcard index now DESCENDS into the struct — the
    # expansion is {body: 1, meta.title: 1, meta.note: 1}; terms match
    # in any of the three, weight-1 score sums across all of them
    f"""
    WITH s AS (
      SELECT doc_id,
             (['query guide', 'table manual', 'spark notes', 'misc intro'])
               [CAST({_wh60('wtitle')} % 4 AS INT) + 1] AS title,
             (['vector store', 'row group', 'spark core', 'empty note'])
               [CAST({_wh60('wnote')} % 4 AS INT) + 1] AS note,
             text
      FROM documents
    ),
    t AS (
      SELECT doc_id,
             string_split_regex(lower(title), '[^0-9a-z]+') AS tt,
             string_split_regex(lower(note), '[^0-9a-z]+') AS nt,
             string_split_regex(lower(text), '[^0-9a-z]+') AS bt
      FROM s
    )
    SELECT doc_id,
           CAST(len(list_filter(tt, x -> x = 'spark'))
              + len(list_filter(nt, x -> x = 'spark'))
              + len(list_filter(bt, x -> x = 'spark'))
              + len(list_filter(tt, x -> x = 'vector'))
              + len(list_filter(nt, x -> x = 'vector'))
              + len(list_filter(bt, x -> x = 'vector')) AS BIGINT) AS score
    FROM t
    WHERE (list_contains(tt, 'spark') OR list_contains(nt, 'spark')
           OR list_contains(bt, 'spark')
           OR list_contains(tt, 'vector') OR list_contains(nt, 'vector')
           OR list_contains(bt, 'vector'))
    """,
)
def match_text_wildcard_nested(spark, sf_dir):
    """$text over the wildcard index with NESTED DOCUMENT descent (r10
    — Mongo's createIndex({"$**": "text"}) indexes string fields inside
    embedded documents too): the expansion recurses StructType children
    into dotted paths at $match compile time, so a struct column
    meta{title, note} contributes meta.title and meta.note alongside
    the top-level body. Same bound-struct shape — all three fields
    normalize/tokenize once, per-row work, no shuffle, no Python."""
    from route81_spark.ops.web import _h60

    from route81_spark.io import ensure_parallelism

    docs = ensure_parallelism(
        _t(spark, sf_dir, "documents").select("doc_id", "text")
    )
    title = F.element_at(
        F.array(*[F.lit(s) for s in W_TITLES]),
        (_h60(F.col("doc_id"), "wtitle") % 4 + 1).cast("int"),
    )
    note = F.element_at(
        F.array(*[F.lit(s) for s in N_NOTES]),
        (_h60(F.col("doc_id"), "wnote") % 4 + 1).cast("int"),
    )
    prepped = docs.select(
        "doc_id",
        F.col("text").alias("body"),
        F.struct(title.alias("title"), note.alias("note")).alias("meta"),
    )
    return apply_pipeline(
        prepped,
        [
            {"$match": {"$text": {
                "$search": "spark vector", "fields": "$**",
            }}},
            {"$addFields": {"score": {"$meta": "textScore"}}},
            {"$project": {"doc_id": 1, "score": 1}},
        ],
    )


LO_SNIPS = [
    "running relational work",
    "run the line",
    "relations hold fast",
    "nothing notable here",
]


def _lo_stem_case(lang: str = "en") -> str:
    from route81_spark.ops.french import french_py
    from route81_spark.ops.german import german_py
    from route81_spark.ops.porter import porter2_py
    from route81_spark.ops.swedish import swedish_py

    stem = {"en": porter2_py, "fr": french_py, "de": german_py,
            "sv": swedish_py}[lang]
    vocab = sorted({w for s in LO_SNIPS for w in s.split()})
    whens = " ".join(f"WHEN '{w}' THEN '{stem(w)}'" for w in vocab)
    return f"CASE t {whens} ELSE t END"


def _lo_syn_sql() -> str:
    return _syn_sql(LO_SNIPS, "langov")


def _lo_syn_spark(ids: Column) -> Column:
    return _syn_spark(LO_SNIPS, "langov", ids)


@_q(
    "match_text_langoverride",
    # oracle: stem the token array via the ENGLISH twin lookup for
    # docs whose real lang column is 'en', via the FRENCH twin lookup
    # (r10) for 'fr' docs, via the GERMAN/SWEDISH twin lookups (r12)
    # for 'de'/'sv' docs (the corpus has no sv rows today — the
    # branch keeps the oracle a true twin of the engine's dispatch
    # rather than relying on that), and keep raw tokens for every
    # other language (those match only the literal stemmed query
    # terms)
    f"""
    WITH s AS (SELECT doc_id, lang, {_lo_syn_sql()} AS raw FROM documents),
    t0 AS (SELECT doc_id, lang,
                  string_split_regex(lower(raw), '[^0-9a-z]+') AS toks
           FROM s),
    t AS (SELECT doc_id,
                 CASE WHEN lang = 'en'
                      THEN list_transform(toks, t -> {_lo_stem_case()})
                      WHEN lang = 'fr'
                      THEN list_transform(toks, t -> {_lo_stem_case("fr")})
                      WHEN lang = 'de'
                      THEN list_transform(toks, t -> {_lo_stem_case("de")})
                      WHEN lang = 'sv'
                      THEN list_transform(toks, t -> {_lo_stem_case("sv")})
                      ELSE toks END AS st
          FROM t0)
    SELECT doc_id,
           CAST(len(list_filter(st, x -> x = 'run'))
              + len(list_filter(st, x -> x = 'relat')) AS BIGINT) AS score
    FROM t
    WHERE list_contains(st, 'run') OR list_contains(st, 'relat')
    """,
)
def match_text_langoverride(spark, sf_dir):
    """$text with {languageOverride: "lang"} — Mongo's
    language_override text-index option over the REAL per-document
    lang column: the 'en' cohort stems with Snowball English (so
    'runs' in the search matches 'running'), the 'fr' cohort (r10)
    stems with Snowball French, the 'de' cohort (r12) stems with
    Snowball German (ops/german.py — on this English corpus both,
    correctly, conflate nothing the query terms hit: German stems
    'relations' to 'relation', never to the English 'relat'), while
    zh/es docs keep raw tokens; every non-en branch matches only the
    literal stemmed query terms ('run' in "run the line"). Per-row
    CASE picks exactly one analysis branch per document; no shuffle,
    no Python."""
    from route81_spark.io import ensure_parallelism

    docs = ensure_parallelism(
        _t(spark, sf_dir, "documents").select("doc_id", "lang")
    )
    prepped = _syn_text(docs, _lo_syn_spark(F.col("doc_id")), "doc_id", "lang")
    return apply_pipeline(
        prepped,
        [
            {"$match": {"$text": {
                "$search": "runs relation",
                "$language": "english",
                "languageOverride": "lang",
            }}},
            {"$addFields": {"score": {"$meta": "textScore"}}},
            {"$project": {"doc_id": 1, "score": 1}},
        ],
    )


@_q(
    "stage_stem",
    # oracle: the same tokenize -> per-token twin-lookup -> join chain
    # (array_to_string of an empty list is NULL in DuckDB -> coalesce)
    f"""
    WITH s AS (SELECT doc_id, {_lo_syn_sql()} AS raw FROM documents),
    t AS (SELECT doc_id,
                 string_split_regex(lower(raw), '[^0-9a-z]+') AS toks
          FROM s)
    SELECT doc_id,
           coalesce(array_to_string(
             list_transform(toks, t -> {_lo_stem_case()}), ' '), '')
             AS stems
    FROM t
    """,
)
def stage_stem(spark, sf_dir):
    """The $stem pipeline-stage extension: tokenize + Snowball-stem a
    text column into an array column inside the Mongo-dialect pipeline
    (the building block for stemmed vocabularies outside $text);
    joined to one string here so the oracle hashes scalars. Per-row
    scalar work, no shuffle, no Python."""
    docs = _docs_ids(spark, sf_dir)
    prepped = _syn_text(docs, _lo_syn_spark(F.col("doc_id")), "doc_id")
    out = apply_pipeline(
        prepped,
        [{"$stem": {"textField": "text", "as": "st", "mode": "porter"}}],
    )
    return out.select(
        "doc_id", F.concat_ws(" ", F.col("st")).alias("stems")
    )


_BM25P_TERMS = ["runs", "relations", "agreement"]  # stems: run/relat/agreement


@_q(
    "text_bm25_stemmed",
    # oracle: stem the synthesized token arrays via the twin-precomputed
    # lookup, then replicate the exact BM25 formula (same left-assoc
    # fold, same constants) over the STEMMED arrays — 'runs' scores
    # 'running', 'relations' scores 'relational'
    f"""
    WITH s0 AS (SELECT doc_id, {_p_syn_sql()} AS raw FROM documents),
    t0 AS (SELECT doc_id,
                  string_split_regex(lower(raw), '[^0-9a-z]+') AS toks
           FROM s0),
    s AS (SELECT doc_id,
                 list_transform(toks, t -> {_p_stem_case()}) AS tk
          FROM t0),
    c AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             avg(CAST(len(tk) AS DOUBLE)) AS avgdl
      FROM s
    ),
    d AS (
      SELECT
        {", ".join(f"(SELECT CAST(count(*) AS DOUBLE) FROM s WHERE list_contains(tk, '{t}')) AS df{i}" for i, t in enumerate(["run", "relat", "agreement"]))}
    )
    SELECT doc_id,
           {det_round_sql(" + ".join(
               f"(ln(1 + (c.n - d.df{i} + 0.5) / (d.df{i} + 0.5))"
               f" * (CAST(len(list_filter(tk, x -> x = '{t}')) AS DOUBLE) * 2.2)"
               f" / (CAST(len(list_filter(tk, x -> x = '{t}')) AS DOUBLE)"
               f"    + 1.2 * (0.25 + 0.75 * CAST(len(tk) AS DOUBLE) / c.avgdl)))"
               for i, t in enumerate(["run", "relat", "agreement"])), 6)} AS bm25
    FROM s, c, d
    ORDER BY bm25 DESC, doc_id ASC LIMIT 25
    """,
)
def text_bm25_stemmed(spark, sf_dir):
    """Stemmed Okapi BM25 (the standard IR analyzer chain): corpus
    tokens and query terms run the Snowball English stemmer before
    tf/df, so 'runs' retrieves 'running' docs and 'relations'
    retrieves 'relational' — ops.corpus.bm25_scores(stem="porter")
    composing with ops/porter.py. Model constants still come from one
    single-row aggregation; scoring is one per-row expression over the
    bound stemmed token array; zero scoring shuffle; top-25 via
    TakeOrderedAndProject."""
    from route81_spark.ops.corpus import bm25_scores

    docs = _docs_ids(spark, sf_dir)
    prepped = _syn_text(docs, _p_syn_spark(F.col("doc_id")), "doc_id")
    scored = bm25_scores(prepped, _BM25P_TERMS, stem="porter")
    return (
        scored.select("doc_id", "bm25")
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(25)
    )


# --------------------------------------------------------------------
# Extended PII classes: Luhn-validated payment cards + SSNs (r8)
# --------------------------------------------------------------------

_CC_CAND_SQL = r"\b[0-9](?:[ -]?[0-9]){12,18}\b"
_SSN_SQL = r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b"
# DuckDB Luhn twin over a candidate string (same 0-based reversed-index
# doubling convention as ops.text.luhn_valid)
_LUHN_SQL = (
    "(length(regexp_replace(c, '[^0-9]', '', 'g')) BETWEEN 13 AND 19"
    " AND list_sum(list_transform(range(length(regexp_replace(c, '[^0-9]', '', 'g'))),"
    " k -> CASE WHEN k % 2 = 1"
    " THEN CAST(substr(reverse(regexp_replace(c, '[^0-9]', '', 'g')), CAST(k AS INT) + 1, 1) AS INT) * 2"
    "      - CASE WHEN CAST(substr(reverse(regexp_replace(c, '[^0-9]', '', 'g')), CAST(k AS INT) + 1, 1) AS INT) > 4"
    "             THEN 9 ELSE 0 END"
    " ELSE CAST(substr(reverse(regexp_replace(c, '[^0-9]', '', 'g')), CAST(k AS INT) + 1, 1) AS INT) END)) % 10 = 0)"
)


# DuckDB mod-97 + registry-length validity twin over an IBAN candidate
# c: the same streaming fold as ops.text.iban_valid — rearrange (BBAN+
# country+check), walk chars, digits r->(r*10+d)%97, letters
# r->(r*100+v)%97; the accumulator rides as VARCHAR because list_reduce
# needs one type. The per-country length CASE is generated from the
# SAME ISO 13616 registry dict the Column validator uses (shared DATA,
# independently formulated logic); unknown countries hit ELSE -1.
_IBAN_LEN_SQL = (
    "CASE substr(c, 1, 2) "
    + " ".join(f"WHEN '{cc}' THEN {n}"
               for cc, n in sorted(X.IBAN_LENGTHS.items()))
    + " ELSE -1 END"
)
_IBAN_VALID_SQL = (
    f"(length(c) = {_IBAN_LEN_SQL} AND list_reduce(list_prepend('0',"
    " list_transform(range(length(c)),"
    " k -> substr(substr(c, 5) || substr(c, 1, 4), CAST(k AS INT) + 1, 1))),"
    " (acc, ch) -> CAST(CASE WHEN ch BETWEEN '0' AND '9'"
    " THEN (CAST(acc AS INT) * 10 + CAST(ch AS INT)) % 97"
    " ELSE (CAST(acc AS INT) * 100 + ascii(ch) - 55) % 97 END AS VARCHAR))"
    " = '1')"
)


@_q(
    "text_pii_extended",
    # planted structure: %5==0 docs carry a LUHN-VALID 16-digit card
    # (check digit computed in-SQL with the same fold), %5==1 docs the
    # SAME digits with the check digit bumped (+1 mod 10, Luhn-invalid
    # -> must survive redaction untouched), %5==2 docs an SSN, %5==3 a
    # mod-97-VALID DE IBAN whose check digits the oracle computes
    # numerically (the 24-digit rearranged number fits HUGEINT), and
    # %5==4 a mod-97-VALID but WRONG-LENGTH DE string (16-digit BBAN,
    # total 20 vs the registry's 22 — must survive: the length table
    # gates it out)
    f"""
    WITH b AS (
      SELECT doc_id, text,
             lpad(CAST((doc_id * 7919) % 1000000000000000 AS VARCHAR), 15, '0') AS base,
             lpad(CAST((doc_id * 104729) % 1000000000000000000 AS VARCHAR), 18, '0') AS bban,
             lpad(CAST((doc_id * 104729) % 10000000000000000 AS VARCHAR), 16, '0') AS bban16
      FROM documents
    ),
    k AS (
      SELECT doc_id, text, base, bban, bban16,
             (10 - list_sum(list_transform(range(15),
                 j -> CASE WHEN j % 2 = 0
                      THEN CAST(substr(reverse(base), CAST(j AS INT) + 1, 1) AS INT) * 2
                           - CASE WHEN CAST(substr(reverse(base), CAST(j AS INT) + 1, 1) AS INT) > 4
                                  THEN 9 ELSE 0 END
                      ELSE CAST(substr(reverse(base), CAST(j AS INT) + 1, 1) AS INT) END))
              % 10) % 10 AS chk,
             98 - CAST(bban || '131400' AS HUGEINT) % 97 AS ibk,
             98 - CAST(bban16 || '131400' AS HUGEINT) % 97 AS ibk16
      FROM b
    ),
    aug AS (
      SELECT doc_id,
             text || CASE doc_id % 5
               WHEN 0 THEN ' card ' || base || CAST(chk AS VARCHAR) || ' on file'
               WHEN 1 THEN ' meter ' || base || CAST((chk + 1) % 10 AS VARCHAR) || ' logged'
               WHEN 2 THEN ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' leaked'
               WHEN 3 THEN ' wire DE' || lpad(CAST(ibk AS VARCHAR), 2, '0') || bban || ' sent'
               ELSE ' ref DE' || lpad(CAST(ibk16 AS VARCHAR), 2, '0') || bban16 || ' noted'
             END AS p
      FROM k
    ),
    v AS (
      SELECT doc_id, p,
             list_filter(regexp_extract_all(p, '{_CC_CAND_SQL}'),
                         c -> {_LUHN_SQL}) AS ccs,
             list_filter(regexp_extract_all(p, '\\b[A-Z]{{2}}[0-9]{{2}}[A-Z0-9]{{11,30}}\\b'),
                         c -> {_IBAN_VALID_SQL}) AS ibans
      FROM aug
    )
    SELECT doc_id,
           CAST(len(ccs) AS INT) AS n_ccs,
           CAST(len(regexp_extract_all(p, '{_SSN_SQL}')) AS INT) AS n_ssns,
           CAST(len(ibans) AS INT) AS n_ibans,
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   list_reduce(list_prepend(
                     list_reduce(list_prepend(p, ibans),
                                 (acc, c) -> regexp_replace(acc, '\\b' || c || '\\b', '<IBAN>', 'g')),
                     ccs), (acc, c) -> regexp_replace(acc, '\\b' || c || '\\b', '<CC>', 'g')),
                   '{_PII_EMAIL_SQL}', '<EMAIL>', 'g'),
                 '{_PII_PHONE_SQL}', '<PHONE>', 'g'),
               '{_SSN_SQL}', '<SSN>', 'g'),
             '{_PII_IP_SQL}', '<IP>', 'g') AS redacted
    FROM v
    """,
)
def text_pii_extended(spark, sf_dir):
    """Checksum-validated PII classes: payment cards gate on the Luhn
    checksum, IBANs on ISO 7064 mod-97 (a number-shaped string failing
    its checksum is measurement data and must NOT be eaten), SSNs on
    the 3-2-4 dashed shape. The planted corpus carries a valid card,
    the SAME digits with a bumped check digit (must survive), an SSN,
    or a valid DE IBAN per doc — so the oracle catches both over- and
    under-redaction. Candidate extraction is one regexp pass per
    class; validation one per-char transform/fold; checksum-gated
    redaction a sequential replace fold over the row's own valid
    matches — all pure Column, zero shuffle."""
    from route81_spark.ops.text import pii_counts, pii_redact

    from route81_spark.io import ensure_parallelism

    docs = ensure_parallelism(
        _t(spark, sf_dir, "documents").select("doc_id", "text")
    )
    did = F.col("doc_id")
    base = F.lpad(((did * 7919) % F.lit(10**15)).cast("string"), 15, "0")
    rb = F.filter(F.split(F.reverse(base), ""), lambda c: c != "")
    s = F.aggregate(
        F.transform(
            rb,
            lambda c, j: F.when(
                j % 2 == 0,
                c.cast("int") * 2 - F.when(c.cast("int") > 4, 9).otherwise(0),
            ).otherwise(c.cast("int")),
        ),
        F.lit(0),
        lambda a, b: a + b,
    )
    chk = (F.lit(10) - s % 10) % 10
    def _de_iban(width: int) -> Column:
        bb = F.lpad(((did * 104729) % F.lit(10**width)).cast("string"),
                    width, "0")
        digs = F.filter(
            F.split(F.concat(bb, F.lit("131400")), ""), lambda c: c != ""
        )
        r = F.aggregate(
            digs, F.lit(0), lambda a, c: (a * 10 + c.cast("int")) % 97
        )
        return F.concat(
            F.lit("DE"), F.lpad((F.lit(98) - r).cast("string"), 2, "0"), bb
        )

    iban = _de_iban(18)       # total 22 = the DE registry length
    iban_short = _de_iban(16)  # total 20: mod-97 valid, WRONG length
    aug = F.concat(
        F.col("text"),
        F.when(
            did % 5 == 0,
            F.concat(F.lit(" card "), base, chk.cast("string"),
                     F.lit(" on file")),
        )
        .when(
            did % 5 == 1,
            F.concat(F.lit(" meter "), base,
                     ((chk + 1) % 10).cast("string"), F.lit(" logged")),
        )
        .when(
            did % 5 == 2,
            F.concat(F.lit(" ssn 123-45-"),
                     F.lpad((did % 10000).cast("string"), 4, "0"),
                     F.lit(" leaked")),
        )
        .when(
            did % 5 == 3,
            F.concat(F.lit(" wire "), iban, F.lit(" sent")),
        )
        .otherwise(F.concat(F.lit(" ref "), iban_short, F.lit(" noted"))),
    )
    with_pii = docs.select("doc_id", aug.alias("p"))
    counts = pii_counts(F.col("p"))
    return with_pii.select(
        "doc_id",
        counts["n_ccs"].alias("n_ccs"),
        counts["n_ssns"].alias("n_ssns"),
        counts["n_ibans"].alias("n_ibans"),
        pii_redact(F.col("p")).alias("redacted"),
    )
