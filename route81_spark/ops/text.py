"""Text analysis over the `documents` table: tokenization, token counts,
quality scoring, language-ID heuristic, document fingerprinting.

Everything is built-in pyspark.sql.functions (JVM-side, codegen'd) and
deliberately mirrors expressions DuckDB can evaluate, so each op ships
with a value-exact oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from route81_spark.ops.util import lit_string_array

# A BPE-ish pre-tokenizer: word pieces, digit runs, punctuation runs.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"

# Tiny deterministic stopword marker sets for the lang-id heuristic.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
}


def tokens(col: Column) -> Column:
    """Whitespace tokenization; empty string -> empty array."""
    t = F.trim(col)
    return F.when(t == "", F.array().cast("array<string>")).otherwise(F.split(t, r"\s+"))


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def bpe_ish_tokens(col: Column) -> Column:
    return F.regexp_extract_all(col, F.lit(BPE_ISH_PATTERN), 0)


def s_stem(tok: Column) -> Column:
    """Harman (1991) English S-stemmer over ONE (lowercased) token —
    the documented conflation subset behind $text's {stem: "s"} engine
    extension (Mongo's Snowball stemmers are index-internal; the
    S-stemmer is the standard weak stemmer with near-Porter retrieval
    quality on English plurals):

      1. -ies -> -y   unless the word ends -eies / -aies
      2. -es  -> -e   unless the word ends -aes / -ees / -oes
      3. -s   ->      unless the word ends -us / -ss

    First matching ENDING wins — an exception leaves the word
    unchanged rather than falling through to a shorter ending (Harman's
    formulation; 'aies' stays 'aies', it does not become 'aie').
    Words of <= 3 characters pass through. Pure Column (endswith +
    substring inside codegen); the DuckDB twin is the same CASE chain,
    the Python twin is s_stem_py."""
    n = F.length(tok)
    e3 = F.substring(tok, -3, 3)
    e2 = F.substring(tok, -2, 2)
    return F.when(n <= 3, tok).otherwise(
        F.when(
            e3 == "ies",
            F.when(
                F.substring(tok, -4, 4).isin("eies", "aies"), tok
            ).otherwise(F.concat(F.substring(tok, 1, n - 3), F.lit("y"))),
        )
        .when(
            e2 == "es",
            F.when(e3.isin("aes", "ees", "oes"), tok).otherwise(
                F.substring(tok, 1, n - 1)
            ),
        )
        .when(
            F.substring(tok, -1, 1) == "s",
            F.when(e2.isin("us", "ss"), tok).otherwise(
                F.substring(tok, 1, n - 1)
            ),
        )
        .otherwise(tok)
    )


def s_stem_tokens(toks: Column) -> Column:
    """Stem every element of a token array — the same call shape as
    porter2_stem_tokens / french_stem_tokens, so $text/$stem/bm25
    dispatch all three modes uniformly. The S-stemmer's tree is tiny,
    so a plain transform() is the right application path (no SQL
    temp-function registration needed)."""
    return F.transform(toks, s_stem)


def s_stem_py(tok: str) -> str:
    """Python spec twin of s_stem (stems $text query literals
    driver-side and serves as the hypothesis oracle)."""
    if len(tok) <= 3:
        return tok
    if tok.endswith("ies"):
        return tok if tok.endswith(("eies", "aies")) else tok[:-3] + "y"
    if tok.endswith("es"):
        return tok if tok.endswith(("aes", "ees", "oes")) else tok[:-1]
    if tok.endswith("s"):
        return tok if tok.endswith(("us", "ss")) else tok[:-1]
    return tok


def quality_score(text_col: Column) -> Column:
    """Deterministic [0,1] quality heuristic: length factor x lexical
    diversity x alpha ratio. The components are the standard cheap
    signals (length, punct/alpha ratios, type-token ratio).

    Rounded with det_round (floor-scaling) so the value is bit-identical
    across engines — see ops/util.py. Empty/whitespace-only text scores
    0 instead of aborting under ANSI."""
    return quality_score_tk(text_col, tokens(text_col))


def marker_hits(text_col: Column, words: list[str]) -> Column:
    """How many tokens of `text_col` are in `words` (with multiplicity)."""
    tk = tokens(text_col)
    return F.size(F.filter(tk, lambda t: t.isin(words)))


def lang_id_tk(tk: Column) -> Column:
    """lang_id over an already-computed token array — pass a lambda
    variable to evaluate the tokenization once (see curation_gate)."""
    scores = {
        lang: F.size(F.filter(tk, lambda t: t.isin(ws)))
        for lang, ws in LANG_MARKERS.items()
    }
    langs = sorted(scores)  # deterministic tie-break: first max in code-order wins
    best = F.greatest(*[scores[l] for l in langs]) if len(langs) > 1 else scores[langs[0]]
    chain = None
    for l in langs:
        cond = scores[l] == best
        chain = F.when(cond, F.lit(l)) if chain is None else chain.when(cond, F.lit(l))
    return F.when(best > 0, chain).otherwise(F.lit("und"))


def lang_id(text_col: Column) -> Column:
    """argmax over marker-hit scores, ties broken by language code order;
    all-zero -> 'und' (undetermined)."""
    return lang_id_tk(tokens(text_col))


# The 14 languages whose verbatim Snowball stop lists the engine
# carries (ops/stopwords.py stop_list) — declaration order IS the
# deterministic tie-break for snowball_lang_id (alphabetical).
SNOWBALL_LANGS: tuple[str, ...] = (
    "danish", "dutch", "english", "finnish", "french", "german",
    "hungarian", "italian", "norwegian", "portuguese", "russian",
    "spanish", "swedish", "turkish",
)


def _lang_argmax_chain(scores: list[Column]) -> Column:
    """Deterministic argmax over per-language scores: first max in
    SNOWBALL_LANGS order wins; all-zero -> 'und'."""
    best = F.greatest(*scores)
    chain = None
    for lang, s in zip(SNOWBALL_LANGS, scores):
        cond = s == best
        chain = (F.when(cond, F.lit(lang)) if chain is None
                 else chain.when(cond, F.lit(lang)))
    return F.when(best > 0, chain).otherwise(F.lit("und"))


def _snowball_argmax(tk: Column, max_tokens: int | None = 64) -> Column:
    """The whole-array lang-id program, EXACT string form: one
    stop-hit count per language (array_contains against the literal
    word list, lowercased token, NO diacritic fold — the lists carry
    their accents and so does real text), then a deterministic
    argmax. `max_tokens` bounds the scored prefix (see
    snowball_lang_id_tk). This form is the no-session fallback and
    the semantics reference the hashed fast path is tested against."""
    from route81_spark.ops.stopwords import stop_list

    if max_tokens is not None:
        tk = F.slice(tk, 1, max_tokens)

    def _hits(arr: Column) -> Column:
        # closure, NOT a default-arg lambda: a 2-parameter lambda
        # passed to F.filter would receive (element, index)
        return F.size(F.filter(
            tk, lambda t: F.array_contains(arr, F.lower(t))
        ))

    scores = [
        _hits(lit_string_array(stop_list(lang)))
        for lang in SNOWBALL_LANGS
    ]
    return _lang_argmax_chain(scores)


_SNOWBALL_HASHES: dict[str, tuple[int, ...]] | None = None


def _snowball_hashes(spark) -> dict[str, tuple[int, ...]]:
    """xxhash64(lower(word)) for every stop-list word, computed BY
    SPARK ITSELF once per process (one 2,100-row local job — a
    bounded model artifact, like the Bloom bitmaps), so the driver
    constants can never drift from the executor-side hash function.
    Collision-free across the union of all 14 lists is ASSERTED: the
    closed vocabulary makes the hashed program exactly equal to the
    string program on every list word; an arbitrary non-stop token
    colliding with a list hash has probability ~2.1e3/2^64 per token
    — negligible, and the exact string form remains available."""
    global _SNOWBALL_HASHES
    if _SNOWBALL_HASHES is None:
        from route81_spark.ops.stopwords import stop_list

        words = sorted({w for l in SNOWBALL_LANGS for w in stop_list(l)})
        rows = (
            spark.createDataFrame([(w,) for w in words], ["w"])
            .select("w", F.xxhash64(F.lower(F.col("w"))).alias("h"))
            .collect()
        )
        h = {r["w"]: r["h"] for r in rows}
        if len(set(h.values())) != len(h):  # pragma: no cover
            raise AssertionError(
                "xxhash64 collision inside the Snowball stop lists"
            )
        _SNOWBALL_HASHES = {
            lang: tuple(h[w] for w in stop_list(lang))
            for lang in SNOWBALL_LANGS
        }
    return _SNOWBALL_HASHES


def _snowball_argmax_hashed(
    tk: Column, max_tokens: int | None,
    hashes: dict[str, tuple[int, ...]],
) -> Column:
    """The hashed fast path: each token lowercases + xxhash64's ONCE,
    and ONE aggregate pass walks the hash array accumulating a
    14-int score vector (per token: 14 long-membership tests into a
    zip_with add) — the naive 14-filter form re-derives the whole
    tokenize+hash chain per language (higher-order lambdas evaluate
    interpreted, outside codegen's subexpression elimination), which
    measured ~9x slower at the 100x probe tier. The scores vector
    then binds through a 1-element transform (the _text_bound trick)
    so the argmax when-chain reads it 28 times without re-running the
    aggregate."""
    if max_tokens is not None:
        tk = F.slice(tk, 1, max_tokens)
    token_hashes = F.transform(tk, lambda t: F.xxhash64(F.lower(t)))
    lang_arrs = [
        F.array(*[F.lit(v) for v in hashes[lang]])
        for lang in SNOWBALL_LANGS
    ]
    zero = F.array_repeat(F.lit(0), len(SNOWBALL_LANGS))

    def step(acc: Column, h: Column) -> Column:
        member = F.array(*[
            F.array_contains(arr, h).cast("int") for arr in lang_arrs
        ])
        return F.zip_with(acc, member, lambda a, m: a + m)

    scores_arr = F.aggregate(token_hashes, zero, step)

    def argmax(sa: Column) -> Column:
        return _lang_argmax_chain([
            F.element_at(sa, i + 1) for i in range(len(SNOWBALL_LANGS))
        ])

    bound = F.transform(
        F.array(F.struct(scores_arr.alias("s"))),
        lambda b: argmax(b.getField("s")),
    )
    return F.get(bound, 0)


def snowball_lang_id_tk(tk: Column, max_tokens: int | None = 64) -> Column:
    """Stop-list-overlap language ID over an already-computed token
    array (r11): the classic stopword heuristic, upgraded from the
    5-word LANG_MARKERS to the full verbatim Snowball lists of ALL 14
    carried languages — the document's language is the list with the
    most token hits (raw count: grammatical words dominate real text,
    so the hit RATE separates languages far better than marker sets;
    closely-related pairs — danish/norwegian share half their lists —
    tie-break alphabetically, documented). All-zero -> 'und'.

    `max_tokens` (default 64) scores only the token PREFIX — the
    standard lang-id move: grammatical words saturate within a few
    dozen tokens, so per-document cost is CONSTANT regardless of
    document length (each scored token scans the ~2,100 combined list
    entries; unbounded scoring of book-length docs would pay that per
    token). Pass None for the full scan (e.g. short mixed-language
    fragments).

    With a live session the program runs the HASHED fast path
    (_snowball_argmax_hashed: one xxhash64 per token, long-compare
    membership — the hash constants are computed by Spark itself once
    per process and asserted collision-free over the closed
    vocabulary) through a once-per-session SQL temp function
    (ops/sqlfn.array_fn — tokens_fn's ARRAY -> SCALAR sibling; one
    registration per distinct max_tokens), so the driver-side tree
    builds once per process and every application is one
    call_function: per-row map-only work, zero shuffle, zero Python,
    fixed driver cost at any corpus scale. Without a session
    (plan-only tests) the exact string program applies inline."""
    from pyspark.sql import SparkSession

    from route81_spark.ops.sqlfn import array_fn

    spark = SparkSession.getActiveSession()
    if spark is None:
        return _snowball_argmax(tk, max_tokens)
    hashes = _snowball_hashes(spark)
    suffix = "all" if max_tokens is None else str(int(max_tokens))

    def builder(c: Column) -> Column:
        return _snowball_argmax_hashed(c, max_tokens, hashes)

    return array_fn(f"__r81_snowball_langid_h{suffix}", builder, tk)


def snowball_lang_id(text_col: Column,
                     max_tokens: int | None = 64) -> Column:
    """snowball_lang_id_tk over UNICODE tokens (maximal letter/number
    runs) of a text column. r12 fix: whitespace tokens left edge
    punctuation attached ('the,' / 'les.'), so punctuated prose never
    hit any stop list and short punctuated texts drifted toward 'und'
    or a wrong argmax — the tokenizer is now the same
    `[^\\p{L}\\p{N}]+` split the $text unicode path uses, which also
    makes hyphen/quote-bound grammatical words ("l'homme" -> l+homme)
    scoreable."""
    from route81_spark.ops.unitext import unicode_tokens

    return snowball_lang_id_tk(unicode_tokens(text_col), max_tokens)


def quality_score_tk(text_col: Column, tk: Column) -> Column:
    """quality_score with the token array supplied (same math as
    quality_score; tokenize once when tk is a lambda variable)."""
    from route81_spark.ops.util import det_round

    n_chars = F.length(text_col)
    length_factor = F.least(n_chars / F.lit(400.0), F.lit(1.0))
    diversity = F.when(F.size(tk) > 0, F.size(F.array_distinct(tk)) / F.size(tk))
    alpha = F.length(F.regexp_replace(text_col, r"[^A-Za-z]", "")) / n_chars
    score = det_round(length_factor * diversity * alpha, 6)
    return F.when((n_chars > 0) & (F.size(tk) > 0), score).otherwise(F.lit(0.0))


def curation_gate(
    text_col: Column,
    langs: tuple[str, ...],
    min_quality: float,
    min_tokens: int,
    max_tokens: int,
) -> Column:
    """The language+quality+length gate as ONE boolean expression that
    tokenizes the text exactly once: the token array binds to a lambda
    variable (transform over a 1-element array), so every sub-predicate
    references the bound value instead of re-embedding the split. A
    naive conjunction of lang_id/quality_score/token_count evaluates the
    tokenization ~6x per row — and filter pushdown through a projection
    would re-inline any pre-computed token column right back."""
    return F.get(
        F.transform(
            F.array(tokens(text_col)),
            lambda tk: lang_id_tk(tk).isin(*langs)
            & (quality_score_tk(text_col, tk) >= F.lit(min_quality))
            & F.size(tk).between(min_tokens, max_tokens),
        ),
        0,
    )


def fingerprint(text_col: Column) -> Column:
    """Order-insensitive document fingerprint: md5 over the sorted
    distinct token set (a set-signature; md5 matches DuckDB's)."""
    return F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(text_col)))))


def shingles(text_col: Column, n: int = 3) -> Column:
    """Word n-gram shingles (distinct), the MinHash input. The token
    array is bound to a lambda variable before the per-position slices
    reference it — an outer expression inside an HOF lambda re-evaluates
    per element, so the unbound form re-split the text once per shingle
    position (O(n^2) splits per document)."""

    def with_tk(tk: Column) -> Column:
        idx = F.sequence(F.lit(1), F.greatest(F.size(tk) - F.lit(n - 1), F.lit(1)))
        return F.array_distinct(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(tk, i, n)))
        )

    return F.get(F.transform(F.array(tokens(text_col)), with_tk), 0)


def winnow_fingerprints(text_col: Column, k: int = 4, window: int = 4) -> Column:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD 2003, the MOSS algorithm): rolling-hash every k-token
    shingle POSITIONALLY (no distinct — window order matters), keep the
    minimum hash of each `window` consecutive hashes, then dedupe+sort.
    Guarantees any shared run of >= window+k-1 tokens yields a common
    fingerprint, with ~2/(window+1) of hashes retained.

    Pure per-row Column expression — at 100 TB this is a narrow map with
    no shuffle; candidate retrieval is then an equi-join on fp."""
    # Every intermediate array is BOUND to a lambda variable (transform
    # over a 1-element array) before the next stage references it: an
    # outer (non-lambda) expression inside an HOF lambda re-evaluates
    # PER ELEMENT, so the unbound form recomputed the full k-gram hash
    # array once per window — O(n^2) md5 calls per document (measured
    # 9.8s -> ~1s at sf0.1 for the bound form).
    def with_tk(tk: Column) -> Column:
        n_sh = F.greatest(F.size(tk) - F.lit(k - 1), F.lit(1))
        sh = F.transform(
            F.sequence(F.lit(1), n_sh), lambda i: F.concat_ws(" ", F.slice(tk, i, k))
        )

        def with_hs(hs: Column) -> Column:
            n_win = F.greatest(F.size(hs) - F.lit(window - 1), F.lit(1))
            fps = F.transform(
                F.sequence(F.lit(1), n_win),
                lambda i: F.array_min(F.slice(hs, i, window)),
            )
            return F.array_sort(F.array_distinct(fps))

        return F.get(
            F.transform(F.array(F.transform(sh, lambda s: _h64(s, 7))), with_hs), 0
        )

    return F.get(F.transform(F.array(tokens(text_col)), with_tk), 0)


def winnow_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    window: int = 4,
    max_docs_per_fp: int = 10,
    min_shared: int = 2,
) -> DataFrame:
    """Candidate near-clone pairs from winnowing fingerprints — the
    retrieval half of the MOSS scheme: docs sharing >= min_shared
    (uncommon) fingerprints are candidate copies of a span of
    >= window+k-1 tokens. Fingerprints appearing in more than
    max_docs_per_fp docs are dropped (MOSS's common-fingerprint
    removal: boilerplate matches everything and carries no signal —
    and the cap also bounds in-bucket pair fan-out, so no degenerate
    bucket ever goes quadratic).

    Shape: explode per-row fingerprints, ONE groupBy on fp collecting
    each bucket's id list, in-bucket pair generation, per-pair count.
    Never an all-pairs join; the doc text never shuffles."""
    from route81_spark.io import ensure_parallelism

    fps = ensure_parallelism(df.select(id_col, text_col)).select(
        F.col(id_col),
        F.explode(winnow_fingerprints(F.col(text_col), k, window)).alias("fp"),
    )
    buckets = (
        fps.groupBy("fp")
        .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= max_docs_per_fp))
    )
    ids = F.col("ids")
    pairs = buckets.select(
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
    ).select("p.id_a", "p.id_b")
    return (
        pairs.groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def _h64(col: Column, seed: int) -> Column:
    # same deterministic 60-bit md5 hash as ops.dedup.h64 (kept local to
    # avoid a circular import)
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}|"), col)), 1, 15), 16, 10
    ).cast("long")


# PII patterns chosen to parse identically under Java regex (Spark) and
# RE2 (DuckDB oracle): no backrefs, no lookaround.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\+?[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}"
PII_IP = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
# US SSN shape (3-2-4, dashed). Deliberately UNVALIDATED (no area/group
# exclusions): curation errs toward over-redaction, and the validity
# exclusions need lookaheads RE2 (the oracle engine) lacks.
PII_SSN = r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b"
# payment-card CANDIDATES: 13-19 digits with optional single space/dash
# separators; the Luhn checksum (luhn_valid) decides — a number-shaped
# string that fails Luhn is measurement data, not a card, and must NOT
# be eaten by the scrub
PII_CC_CANDIDATE = r"\b[0-9](?:[ -]?[0-9]){12,18}\b"


def luhn_valid(cand: Column) -> Column:
    """Luhn checksum over a candidate card string (separators ignored):
    from the RIGHT, double every second digit, subtract 9 when the
    double exceeds 9, valid iff the sum is divisible by 10 and the
    digit count is a real card length (13-19). Pure Column — one
    per-char transform + one fold, replicable in the DuckDB oracle
    (same k%2 index convention on the reversed digit string)."""
    ds = F.regexp_replace(cand, F.lit("[^0-9]"), F.lit(""))
    chars = F.filter(F.split(F.reverse(ds), ""), lambda c: c != "")
    contribs = F.transform(
        chars,
        lambda c, i: F.when(
            i % 2 == 1,
            c.cast("int") * 2 - F.when(c.cast("int") > 4, 9).otherwise(0),
        ).otherwise(c.cast("int")),
    )
    total = F.aggregate(contribs, F.lit(0), lambda a, b: a + b)
    n = F.length(ds)
    return (n >= 13) & (n <= 19) & (total % 10 == 0)


def cc_matches(text_col: Column) -> Column:
    """Luhn-VALID payment-card substrings of the text (array; empty
    when none) — candidates come from one regexp pass, validation is
    the pure-Column checksum."""
    cands = F.regexp_extract_all(text_col, F.lit(PII_CC_CANDIDATE), 0)
    return F.filter(cands, luhn_valid)


# IBAN candidates: 2 country letters + 2 check digits + 11-30 BBAN
# chars; the ISO 7064 mod-97 checksum + the per-country length
# registry (iban_valid) decide
PII_IBAN_CANDIDATE = r"\b[A-Z]{2}[0-9]{2}[A-Z0-9]{11,30}\b"

# ISO 13616 country -> total IBAN length (the public SWIFT IBAN
# registry). Shared DATA between the Column validator and the DuckDB
# oracle twin (harness/text.py generates its CASE from this dict) —
# one source of truth for the table, independently formulated logic.
IBAN_LENGTHS = {
    "AD": 24, "AE": 23, "AL": 28, "AT": 20, "AZ": 28, "BA": 20,
    "BE": 16, "BG": 22, "BH": 22, "BI": 27, "BR": 29, "BY": 28,
    "CH": 21, "CR": 22, "CY": 28, "CZ": 24, "DE": 22, "DJ": 27,
    "DK": 18, "DO": 28, "EE": 20, "EG": 29, "ES": 24, "FI": 18,
    "FK": 18, "FO": 18, "FR": 27, "GB": 22, "GE": 22, "GI": 23,
    "GL": 18, "GR": 27, "GT": 28, "HR": 21, "HU": 28, "IE": 22,
    "IL": 23, "IQ": 23, "IS": 26, "IT": 27, "JO": 30, "KW": 30,
    "KZ": 20, "LB": 28, "LC": 32, "LI": 21, "LT": 20, "LU": 20,
    "LV": 21, "LY": 25, "MC": 27, "MD": 24, "ME": 22, "MK": 19,
    "MN": 20, "MR": 27, "MT": 31, "MU": 30, "NI": 28, "NL": 18,
    "NO": 15, "OM": 23, "PK": 24, "PL": 28, "PS": 29, "PT": 25,
    "QA": 29, "RO": 24, "RS": 22, "RU": 33, "SA": 24, "SC": 31,
    "SD": 18, "SE": 24, "SI": 19, "SK": 24, "SM": 27, "SO": 23,
    "ST": 25, "SV": 28, "TL": 23, "TN": 24, "TR": 26, "UA": 29,
    "VA": 22, "VG": 24, "XK": 20,
}


def iban_valid(cand: Column) -> Column:
    """ISO 7064 mod-97 over the rearranged IBAN (BBAN + country +
    check digits; letters expand to two digits, A=10..Z=35): valid iff
    the big number ≡ 1 (mod 97) AND the total length matches the
    country's ISO 13616 registry entry (a mod-97-valid string of the
    wrong length for its country — 1-in-97 of random number-shaped
    strings — is measurement data, not an IBAN; unknown country codes
    are not IBANs at all). Checksum: sequential digit fold
    r -> (r*10+d) % 97 (the standard streaming form — the 15-34-char
    IBAN far exceeds any integer type), letters folding two digits in
    one step via (r*100 + v) % 97. One per-char aggregate + one
    foldable map-literal lookup, pure Column; the DuckDB twin expands
    letters first and folds the digit string with the same recurrence,
    its length CASE generated from the same registry dict."""
    rearranged = F.concat(F.substring(cand, 5, 34), F.substring(cand, 1, 4))
    chars = F.filter(F.split(rearranged, ""), lambda c: c != "")
    r = F.aggregate(
        chars,
        F.lit(0),
        lambda acc, c: F.when(
            c.rlike("[0-9]"), (acc * 10 + c.cast("int")) % 97
        ).otherwise((acc * 100 + (F.ascii(c) - 55)) % 97),
    )
    expected = F.element_at(
        F.create_map(
            *[F.lit(x) for kv in sorted(IBAN_LENGTHS.items()) for x in kv]
        ),
        F.substring(cand, 1, 2),
    )
    len_ok = F.coalesce(F.length(cand) == expected, F.lit(False))
    return len_ok & (r == 1)


def iban_matches(text_col: Column) -> Column:
    """mod-97-VALID IBAN substrings of the text (array; empty when
    none)."""
    cands = F.regexp_extract_all(text_col, F.lit(PII_IBAN_CANDIDATE), 0)
    return F.filter(cands, iban_valid)


def pii_counts(text_col: Column) -> dict[str, Column]:
    """Occurrence counts of the supported PII classes (pre-redaction)."""
    return {
        "n_emails": F.regexp_count(text_col, F.lit(PII_EMAIL)),
        "n_phones": F.regexp_count(text_col, F.lit(PII_PHONE)),
        "n_ips": F.regexp_count(text_col, F.lit(PII_IP)),
        "n_ssns": F.regexp_count(text_col, F.lit(PII_SSN)),
        "n_ccs": F.size(cc_matches(text_col)),
        "n_ibans": F.size(iban_matches(text_col)),
    }


def pii_redact(text_col: Column) -> Column:
    """Replace emails/phones/IPv4s/SSNs/Luhn-valid cards/mod-97-valid
    IBANs with typed placeholder tags — the standard pre-training scrub
    pass. Pure per-row expressions: narrow, zero-shuffle, codegen'd;
    order matters (IBANs then cards first — the longest alnum/digit
    spans, so the phone rule cannot half-eat one; emails before the IP
    rule). Checksum-gated classes redact via a sequential replace fold
    over the row's own valid matches (checksum validation is beyond
    regex), so invalid number-shaped strings survive untouched.

    Replacement is \\b-anchored, NOT raw substring: a valid match that
    also occurs as a substring of a LONGER digit/alnum run elsewhere in
    the row (where the anchored candidate regex did not match) must not
    be half-eaten there. Candidate alphabets ([0-9 -] cards, [A-Z0-9]
    IBANs) contain no regex metacharacters, so the match embeds in the
    pattern verbatim."""

    def _anchored(c: Column) -> Column:
        return F.concat(F.lit(r"\b"), c, F.lit(r"\b"))

    out = F.aggregate(
        iban_matches(text_col),
        text_col,
        lambda acc, c: F.regexp_replace(acc, _anchored(c), F.lit("<IBAN>")),
    )
    out = F.aggregate(
        cc_matches(out),
        out,
        lambda acc, c: F.regexp_replace(acc, _anchored(c), F.lit("<CC>")),
    )
    out = F.regexp_replace(out, PII_EMAIL, "<EMAIL>")
    out = F.regexp_replace(out, PII_PHONE, "<PHONE>")
    out = F.regexp_replace(out, PII_SSN, "<SSN>")
    return F.regexp_replace(out, PII_IP, "<IP>")


# Gopher-rule thresholds (Rae et al. 2021, table A1-style cheap filters)
GOPHER_MAX_DUP_3GRAM_FRAC = 0.75
GOPHER_MEAN_WORD_LEN = (2.0, 12.0)
GOPHER_MAX_SYMBOL_RATIO = 0.3
GOPHER_MIN_STOPWORD_HITS = 1


def positional_ngrams(tk: Column, n: int) -> Column:
    """All word n-grams WITH multiplicity (unlike shingles(): repetition
    analysis needs the duplicates)."""
    idx = F.sequence(F.lit(1), F.greatest(F.size(tk) - F.lit(n - 1), F.lit(1)))
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(tk, i, n)))


def gopher_metrics(text_col: Column) -> dict[str, Column]:
    """The cheap repetition/shape signals of Gopher-style quality
    filtering, each a pure Column expression (det_round'ed for
    cross-engine value parity):

      * dup_3gram_frac — fraction of 3-gram occurrences that are
        repeats of an earlier occurrence (1 - distinct/total)
      * mean_word_len  — total token chars / token count
      * symbol_ratio   — non-alphanumeric-non-space chars / chars
      * stopword_hits  — tokens in the (tiny, deterministic) marker set
    """
    from route81_spark.ops.util import det_round

    tk = tokens(text_col)
    n_tok = F.size(tk)
    grams = positional_ngrams(tk, 3)
    n_grams = F.size(grams)
    dup_frac = F.when(
        n_grams > 0,
        det_round(
            F.lit(1.0) - F.size(F.array_distinct(grams)) / n_grams.cast("double"), 6
        ),
    )
    char_sum = F.aggregate(
        tk, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    mean_word_len = F.when(
        n_tok > 0, det_round(char_sum.cast("double") / n_tok, 6)
    )
    n_chars = F.length(text_col)
    symbol_ratio = F.when(
        n_chars > 0,
        det_round(
            F.length(F.regexp_replace(text_col, r"[A-Za-z0-9\s]", "")).cast("double")
            / n_chars,
            6,
        ),
    )
    all_markers = sorted({w for ws in LANG_MARKERS.values() for w in ws})
    return {
        "dup_3gram_frac": dup_frac,
        "mean_word_len": mean_word_len,
        "symbol_ratio": symbol_ratio,
        "stopword_hits": marker_hits(text_col, all_markers),
    }


def gopher_struct(text_col: Column) -> Column:
    """All gopher metrics + the keep decision as ONE struct column that
    tokenizes the text exactly once and builds the 3-gram list exactly
    once (nested single-element transform bindings — the same trick as
    curation_gate; the standalone gopher_metrics expressions re-derive
    the token array per metric). Select it into its own projection and
    read fields from a second select: CollapseProject keeps a
    multi-referenced non-cheap producer un-inlined, so the struct
    evaluates once per row."""
    from route81_spark.ops.util import det_round

    all_markers = sorted({w for ws in LANG_MARKERS.values() for w in ws})
    lo, hi = GOPHER_MEAN_WORD_LEN

    def with_tk(tk: Column) -> Column:
        def with_g3(g3: Column) -> Column:
            n_tok = F.size(tk)
            n_grams = F.size(g3)
            dup = F.when(
                n_grams > 0,
                det_round(
                    F.lit(1.0)
                    - F.size(F.array_distinct(g3)) / n_grams.cast("double"),
                    6,
                ),
            )
            char_sum = F.aggregate(
                tk, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
            )
            mwl = F.when(n_tok > 0, det_round(char_sum.cast("double") / n_tok, 6))
            n_chars = F.length(text_col)
            sym = F.when(
                n_chars > 0,
                det_round(
                    F.length(
                        F.regexp_replace(text_col, r"[A-Za-z0-9\s]", "")
                    ).cast("double")
                    / n_chars,
                    6,
                ),
            )
            hits = F.size(F.filter(tk, lambda t: t.isin(all_markers)))
            keep = (
                (dup <= GOPHER_MAX_DUP_3GRAM_FRAC)
                & mwl.between(lo, hi)
                & (sym <= GOPHER_MAX_SYMBOL_RATIO)
                & (hits >= GOPHER_MIN_STOPWORD_HITS)
            )
            return F.struct(
                dup.alias("dup_3gram_frac"),
                mwl.alias("mean_word_len"),
                sym.alias("symbol_ratio"),
                hits.alias("stopword_hits"),
                keep.alias("keep"),
            )

        return F.get(F.transform(F.array(positional_ngrams(tk, 3)), with_g3), 0)

    return F.get(F.transform(F.array(tokens(text_col)), with_tk), 0)


def gopher_keep(text_col: Column) -> Column:
    """Boolean keep-decision vs the thresholds (one evaluation of the
    shared metric struct)."""
    return gopher_struct(text_col)["keep"]


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 128,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into overlapping token-window chunks — the
    standard pre-training / retrieval segmentation. Chunk i covers
    tokens [i*stride, i*stride + chunk_tokens) with
    stride = chunk_tokens - overlap; the final chunk may be short, and
    every token is covered. Returns exploded rows
    (id, chunk_idx, chunk_text, n_tokens).

    Pure per-row expressions (token array bound once per row, chunk
    count by integer arithmetic — no float ceil to disagree across
    engines) + one explode: a narrow zero-shuffle transform."""
    if not (0 <= overlap < chunk_tokens):
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap

    def with_tk(tk: Column) -> Column:
        n = F.size(tk)
        n_chunks = F.greatest(
            (n - F.lit(overlap) + F.lit(stride - 1)) / F.lit(stride), F.lit(1)
        ).cast("int")
        return F.transform(
            F.sequence(F.lit(1), n_chunks),
            lambda i: F.struct(
                (i - 1).cast("int").alias("chunk_idx"),
                F.concat_ws(
                    " ", F.slice(tk, (i - 1) * F.lit(stride) + 1, chunk_tokens)
                ).alias("chunk_text"),
                F.least(
                    n - (i - 1) * F.lit(stride), F.lit(chunk_tokens)
                ).cast("int").alias("n_tokens"),
            ),
        )

    chunks = F.get(F.transform(F.array(tokens(F.col(text_col))), with_tk), 0)
    return df.select(F.col(id_col), F.explode(chunks).alias("c")).select(
        id_col, "c.chunk_idx", "c.chunk_text", "c.n_tokens"
    )


def analyze(df: DataFrame, text_col: str = "text") -> DataFrame:
    c = F.col(text_col)
    return df.select(
        "*",
        token_count(c).alias("n_tokens"),
        F.size(bpe_ish_tokens(c)).alias("n_bpe_tokens"),
        quality_score(c).alias("quality"),
        lang_id(c).alias("pred_lang"),
        fingerprint(c).alias("fp"),
    )


def inverted_index(
    df: "DataFrame", text_col: str = "text", id_col: str = "doc_id"
) -> "DataFrame":
    """Positional inverted index: one row per token occurrence —
    (term, doc_id, pos). The standard retrieval structure: term-keyed,
    so a term filter prunes to that term's postings before any join.
    At scale, write this partitioned/bucketed by term so a query reads
    one term's postings, not the corpus."""
    from route81_spark.io import ensure_parallelism

    return ensure_parallelism(df.select(id_col, text_col)).select(
        F.col(id_col),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "term"),
    ).select("term", id_col, "pos")


def phrase_search(
    df: "DataFrame",
    phrase: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> "DataFrame":
    """Exact phrase match via the positional index: occurrences where
    the phrase's terms appear at consecutive token positions. Returns
    (doc_id, n_occurrences).

    Scale shape: each term filters the index to ITS postings first
    (term-selective scans), then consecutive-position equi-joins chain
    on (doc_id, pos) — the joined sets are per-term posting lists, a
    vanishing corpus fraction for selective phrases. Never a LIKE scan
    over full text (which also false-matches inside longer tokens)."""
    terms = [str(t) for t in phrase]
    if not terms:
        raise ValueError("phrase_search needs at least one term")
    idx = inverted_index(df, text_col, id_col)
    cur = (
        idx.filter(F.col("term") == terms[0])
        .select(F.col(id_col), F.col("pos").alias("__p0"))
    )
    for i, t in enumerate(terms[1:], start=1):
        nxt = idx.filter(F.col("term") == t).select(
            F.col(id_col), (F.col("pos") - i).alias("__p0")
        )
        cur = cur.join(nxt, [id_col, "__p0"])
    return cur.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_occurrences"))


def compression_ratio(
    df: "DataFrame", text_col: str = "text", id_col: str = "doc_id"
) -> "DataFrame":
    """Deflate compression ratio per document — the classic cheap
    redundancy signal (highly repetitive/boilerplate text compresses
    far below ~0.4; natural prose sits higher). zlib level is pinned so
    the ratio is deterministic across runs/executors.

    The ONE Arrow-batched op in this module: compression needs real
    bytes, so it runs in mapInPandas (vectorized batches, text never
    shuffles — derive the signal before any wide transform, like the
    multimodal features)."""
    import zlib
    from collections.abc import Iterator

    import pandas as pd

    sel = df.select(id_col, text_col)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ratios, sizes = [], []
            for t in pdf[text_col]:
                raw = (t or "").encode("utf-8")
                sizes.append(len(raw))
                ratios.append(
                    len(zlib.compress(raw, 6)) / len(raw) if raw else 1.0
                )
            yield pd.DataFrame(
                {id_col: pdf[id_col], "n_bytes": sizes, "deflate_ratio": ratios}
            )

    # id type follows the input (Mongo _id is often a string), not a
    # hardcoded long — a mismatched Arrow schema fails at runtime
    id_type = df.schema[id_col].dataType.simpleString()
    return sel.mapInPandas(
        run, schema=f"{id_col} {id_type}, n_bytes long, deflate_ratio double"
    )


def normalize_text(col: Column) -> Column:
    """C4/Dolma-style character normalization as ONE pure-Column
    regexp chain (JVM-side, whole-stage-codegen friendly; replicable
    step for step in any RE2/PCRE engine — the corpus_normalize oracle
    mirrors each stage with regexp_replace(..., 'g')):

      1. drop control chars except tab/newline (incl. DEL)
      2. fold unicode punctuation: curly quotes -> ASCII quotes,
         en/em/horizontal-bar dashes -> '-', ellipsis -> '...',
         NBSP + unicode space family -> plain space
      3. collapse space/tab runs -> one space; strip spaces hugging a
         newline
      4. collapse 3+ newlines -> exactly 2 (paragraphs survive,
         vertical noise doesn't)
      5. trim leading/trailing whitespace

    Order matters (space folding must precede run-collapsing); keep
    the oracle chain in the same order when editing."""
    c = F.regexp_replace(col, r"[\x00-\x08\x0B-\x1F\x7F]", "")
    c = F.regexp_replace(c, "[\u2018\u2019\u201B]", "'")
    c = F.regexp_replace(c, '[\u201C\u201D\u201F]', '"')
    c = F.regexp_replace(c, "[\u2013\u2014\u2015]", "-")
    c = F.regexp_replace(c, "\u2026", "...")
    c = F.regexp_replace(c, "[\u00A0\u2000-\u200A\u202F\u3000]", " ")
    c = F.regexp_replace(c, r"[ \t]+", " ")
    c = F.regexp_replace(c, r" ?\n ?", "\n")
    c = F.regexp_replace(c, r"\n{3,}", "\n\n")
    return F.regexp_replace(c, r"^\s+|\s+$", "")


def novelty_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    seed: int = 23,
) -> DataFrame:
    """Corpus-relative novelty: the share of a document's distinct
    n-token shingles that appear NOWHERE else in the corpus (df == 1).
    The inverse signal of boilerplate/dup metrics — low novelty means
    the doc is assembled from text the corpus already has (template
    farms, mirrored pages); high novelty marks genuinely new content
    worth keeping when token budgets bind. Returns
    (id, n_shingles, n_unique, novelty).

    100 TB shape: per-doc-distinct (doc, shingle-hash) integer rows ->
    the df count per hash as a full-partition window count over the
    SAME relation -> per-doc ratio agg. One linear pipeline: the
    r13 groupBy + join-back form evaluated the scan + shingle +
    distinct lineage twice (exchange reuse never fires across the
    branches); the window form evaluates it once. The (doc, hash)
    dedup is ROW-LOCAL (a document's distinct hash set is
    array_distinct over its own bound array — the containment_pairs
    r14 lesson), so the first stage is a map-only explode of
    already-distinct rows: the former corpus-wide distinct behind a
    repartition("__h") paid two aggregation passes for a fact each
    row already knew. Text never shuffles; no all-pairs anything;
    per-task state stays bounded (the window is a count — partitions
    spill through the sorter)."""
    from route81_spark.ops.dedup import h64
    from route81_spark.ops.util import det_round

    hset = F.array_distinct(
        F.transform(shingles(F.col(text_col), n), lambda s: h64(s, seed))
    )
    sh = (
        df.select(F.col(id_col), F.explode(hset).alias("__h"))
        .withColumn("__df", F.count("*").over(Window.partitionBy("__h")))
    )
    per_doc = (
        sh.groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            F.sum((F.col("__df") == 1).cast("int")).cast("long").alias("n_unique"),
        )
    )
    return per_doc.select(
        F.col(id_col),
        "n_shingles",
        "n_unique",
        det_round(F.col("n_unique") / F.col("n_shingles"), 6).alias("novelty"),
    )


def char_entropy(text_col: Column) -> Column:
    """Per-document character-distribution Shannon entropy in BITS —
    the cheap gibberish/keyboard-mash/low-diversity-spam signal
    (Dolma/RedPajama-class quality tagger). Pure per-row expressions:
    the char array binds once, the distinct-char fold runs in sorted
    order so the float sum is bit-reproducible (and exactly mirrors
    the oracle's list_reduce). Computed in nats via ln then divided by
    ln(2) — both engines' log2() routes differ, ln() is bit-identical
    libm."""

    def with_cs(cs: Column) -> Column:
        n = F.size(cs).cast("double")
        dc = F.array_sort(F.array_distinct(cs))
        nat = F.aggregate(
            dc,
            F.lit(0.0),
            lambda acc, c: acc
            + (F.size(F.filter(cs, lambda x: x == c)) / n)
            * F.log(F.size(F.filter(cs, lambda x: x == c)) / n),
        )
        return -nat / F.lit(0.6931471805599453)

    # guard: sequence(1, 0) is DESCENDING [1, 0] in Spark (default step
    # -1 when start > stop), which would fabricate two phantom ''
    # chars for empty text — the oracle's range(1, L+1) is empty there
    cs = F.when(
        F.length(text_col) > 0,
        F.transform(
            F.sequence(F.lit(1), F.length(text_col)),
            lambda i: F.substr(text_col, i, F.lit(1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.get(F.transform(F.array(cs), with_cs), 0)


def gate_attribution(
    df: DataFrame,
    langs: tuple[str, ...] = ("en",),
    min_quality: float = 0.05,
    min_tokens: int = 5,
    max_tokens: int = 1_000_000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-rule drop attribution for the curation gate — the funnel
    observability every production pipeline publishes (Dolma-style
    tagger reports): for each rule, how many documents fail it at all
    (marginal) and how many are dropped BY it first in the declared
    order lang -> quality -> too_short -> too_long (waterfall — sums to
    total drops), plus the pass row. Returns
    (rule, n_fail, n_first_fail, share) ordered by the waterfall.

    100 TB shape: all four flags come from ONE bound tokenization per
    row (the curation_gate trick), reduced by a single
    map-side-combinable aggregate to one driver row, then unpivoted to
    five rule rows — text never shuffles, nothing per-doc survives."""
    from route81_spark.ops.util import det_round

    text = F.col(text_col)
    flags = F.get(
        F.transform(
            F.array(tokens(text)),
            lambda tk: F.struct(
                (~lang_id_tk(tk).isin(*langs)).alias("f_lang"),
                (quality_score_tk(text, tk) < F.lit(min_quality)).alias(
                    "f_quality"
                ),
                (F.size(tk) < min_tokens).alias("f_short"),
                (F.size(tk) > max_tokens).alias("f_long"),
            ),
        ),
        0,
    )
    d = df.select(flags.alias("g"))
    g = F.col("g")
    ff_lang = g["f_lang"]
    ff_quality = ~g["f_lang"] & g["f_quality"]
    ff_short = ~g["f_lang"] & ~g["f_quality"] & g["f_short"]
    ff_long = ~g["f_lang"] & ~g["f_quality"] & ~g["f_short"] & g["f_long"]
    agg = d.agg(
        F.count("*").cast("long").alias("n"),
        *[
            F.sum(c.cast("int")).cast("long").alias(a)
            for c, a in [
                (g["f_lang"], "m_lang"),
                (g["f_quality"], "m_quality"),
                (g["f_short"], "m_short"),
                (g["f_long"], "m_long"),
                (ff_lang, "w_lang"),
                (ff_quality, "w_quality"),
                (ff_short, "w_short"),
                (ff_long, "w_long"),
            ]
        ],
    )
    n_pass = (
        F.col("n") - F.col("w_lang") - F.col("w_quality")
        - F.col("w_short") - F.col("w_long")
    )
    rows = F.array(
        F.struct(F.lit("lang").alias("rule"), F.col("m_lang").alias("n_fail"),
                 F.col("w_lang").alias("n_first_fail")),
        F.struct(F.lit("quality").alias("rule"), F.col("m_quality").alias("n_fail"),
                 F.col("w_quality").alias("n_first_fail")),
        F.struct(F.lit("too_short").alias("rule"), F.col("m_short").alias("n_fail"),
                 F.col("w_short").alias("n_first_fail")),
        F.struct(F.lit("too_long").alias("rule"), F.col("m_long").alias("n_fail"),
                 F.col("w_long").alias("n_first_fail")),
        F.struct(F.lit("pass").alias("rule"), F.lit(0).cast("long").alias("n_fail"),
                 n_pass.alias("n_first_fail")),
    )
    return agg.select(F.col("n"), F.inline(rows)).select(
        "rule",
        "n_fail",
        "n_first_fail",
        det_round(F.col("n_first_fail") / F.col("n"), 6).alias("share"),
    )


def html_to_text(col: Column) -> Column:
    """Web-corpus HTML -> text extraction (trafilatura-lite) as ONE
    pure-Column regexp chain — the first step of every crawl pipeline,
    JVM-side and replicable step for step in any RE2/PCRE engine (the
    media-free analog of normalize_text; keep the oracle chain in the
    same order):

      1. drop <script>/<style>/<head> blocks WITH their content
         (case-insensitive, dotall)
      2. drop HTML comments
      3. block-level CLOSERS (</p>, </div>, </li>, </h1..6>, </tr>)
         and <br> -> newline, so block structure survives as line
         structure (openers strip to space in step 4 — closer+opener
         pairs would otherwise double every break)
      4. strip every remaining tag
      5. decode the core entities (&amp; last — it may form others)
      6. collapse space/tab runs; trim spaces hugging newlines;
         collapse 3+ newlines to 2; trim

    Deliberately NOT a parser: malformed markup degrades to extra
    whitespace, never to an error — the right failure mode at crawl
    scale (a DOM parse would be a per-row Python UDF)."""
    # CRLF/CR -> LF first: crawl HTML is overwhelmingly CRLF, and the
    # downstream whitespace folds only understand \n
    c = F.regexp_replace(col, r"\r\n?", "\n")
    # alternation instead of a backreference (`</\1>`): RE2 engines
    # (DuckDB's) have no backreferences, and the oracle must run the
    # SAME pattern
    c = F.regexp_replace(
        c,
        r"(?is)<script\b.*?</script\s*>|<style\b.*?</style\s*>|<head\b.*?</head\s*>",
        " ",
    )
    c = F.regexp_replace(c, r"(?s)<!--.*?-->", " ")
    c = F.regexp_replace(
        c, r"(?i)</(p|div|li|tr|h[1-6])\s*>|<br\s*/?>", "\n"
    )
    c = F.regexp_replace(c, r"(?s)<[^>]*>", " ")
    c = F.regexp_replace(c, "&nbsp;", " ")
    c = F.regexp_replace(c, "&lt;", "<")
    c = F.regexp_replace(c, "&gt;", ">")
    c = F.regexp_replace(c, "&quot;", '"')
    c = F.regexp_replace(c, "&#39;", "'")
    c = F.regexp_replace(c, "&amp;", "&")
    c = F.regexp_replace(c, r"[ \t]+", " ")
    c = F.regexp_replace(c, r" ?\n ?", "\n")
    c = F.regexp_replace(c, r"\n{3,}", "\n\n")
    return F.regexp_replace(c, r"^\s+|\s+$", "")
