"""Property-based invariants for the round-4 curation ops: chunking
coverage/overlap, int8 quantization error bounds, and stratified-sample
determinism — driven by hypothesis over random documents/vectors.
One Spark job per property (all examples batched into one DataFrame)
keeps the suite fast."""

from __future__ import annotations

import pytest
from hypothesis import example, given, settings, strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

words = st.lists(
    st.text(alphabet="abcdefg", min_size=1, max_size=5), min_size=0, max_size=60
)


@settings(max_examples=20, deadline=None)
@given(tokens=words, chunk=st.integers(4, 16), overlap=st.integers(0, 3))
def test_chunking_invariants(spark, tokens, chunk, overlap):
    from route81_spark.ops.text import chunk_documents

    df = spark.createDataFrame(
        [Row(doc_id=1, text=" ".join(tokens))], "doc_id long, text string"
    )
    out = sorted(
        (r["chunk_idx"], r["chunk_text"], r["n_tokens"])
        for r in chunk_documents(df, chunk_tokens=chunk, overlap=overlap).collect()
    )
    stride = chunk - overlap
    # contiguous chunk indexes from 0
    assert [c[0] for c in out] == list(range(len(out)))
    rebuilt = []
    for idx, text, n in out:
        toks = text.split() if text else []
        assert len(toks) == n <= chunk
        # chunk i starts at i*stride and matches the source tokens
        assert toks == tokens[idx * stride : idx * stride + chunk]
        rebuilt.extend(toks if idx == 0 else toks[overlap:])
    # every token covered exactly once after removing overlaps
    if tokens:
        assert rebuilt == tokens


@settings(max_examples=20, deadline=None)
@given(
    vec=st.lists(
        st.floats(-100, 100, allow_nan=False, width=32), min_size=1, max_size=16
    )
)
def test_quantize_int8_error_bound(spark, vec):
    from route81_spark.ops.similarity import quantize_int8

    emb = spark.createDataFrame(
        [Row(vec_id=1, embedding=vec)], "vec_id long, embedding array<float>"
    )
    rows = quantize_int8(emb).collect()
    amax = max(abs(float(x)) for x in vec)
    if amax == 0:
        assert rows == []  # zero vectors dropped
        return
    scale = 127.0 / amax
    for r in rows:
        assert -128 <= r["q"] <= 128  # |x|*scale <= 127 (+0.5 rounding)
        x = float(vec[r["pos"]])
        assert abs(x - r["q"] / scale) <= 0.5 / scale + 1e-9


def test_stratified_sample_fraction_monotone(spark):
    # a doc kept at fraction f stays kept at every f' > f (hash
    # thresholding, not re-sampling) — the property that makes
    # incremental fraction changes safe
    from route81_spark.ops.corpus import stratified_sample

    df = spark.createDataFrame(
        [Row(doc_id=i, lang="en") for i in range(300)], "doc_id long, lang string"
    )
    kept = {}
    for f in (0.2, 0.5, 0.8):
        kept[f] = {r["doc_id"] for r in stratified_sample(df, "lang", {"en": f}).collect()}
    assert kept[0.2] <= kept[0.5] <= kept[0.8]
    assert len(kept[0.2]) < len(kept[0.8])


@settings(max_examples=12, deadline=None)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 24), st.integers(0, 24)),
        min_size=1,
        max_size=40,
    ),
)
@example(edges=[(1, 2), (5, 5)])
def test_clusters_match_union_find(spark, edges):
    """near_dup_clusters (star contraction AND the small-graph driver
    union-find) must agree with a reference union-find on random graphs,
    self-loops included: a node whose only pair is (u, u) still gets
    its own cluster."""
    from unittest import mock

    from route81_spark.ops import dedup as D

    parent = list(range(25))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    nodes = set()
    for a, b in edges:
        nodes |= {a, b}
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {n: find(n) for n in sorted(nodes)}

    df = spark.createDataFrame(
        [Row(id_a=a, id_b=b) for a, b in edges], "id_a long, id_b long"
    )

    def labels():
        rows = D.near_dup_clusters(df).collect()
        assert len(rows) == len(nodes), "one row per node"
        return {r["doc_id"]: r["cluster_id"] for r in rows}

    # a threshold of 0 forces star contraction on every non-empty graph
    with mock.patch.object(D, "SMALL_GRAPH_MAX_EDGES", 0):
        assert labels() == expected
    assert labels() == expected


@settings(max_examples=15, deadline=None)
@given(
    docs=st.lists(words, min_size=1, max_size=8),
    max_vocab=st.integers(1, 10),
)
def test_vocab_encode_roundtrip_property(spark, docs, max_vocab):
    """build_vocab ids are dense 0..V-1 ordered by (count desc, term
    asc); encode_token_ids inverts through the vocab exactly (in-vocab
    terms round-trip, OOV -> -1 at the right positions)."""
    from collections import Counter

    from route81_spark.ops.corpus import build_vocab, encode_token_ids

    rows = [Row(doc_id=i, text=" ".join(tk)) for i, tk in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    vocab = build_vocab(df, max_vocab=max_vocab).collect()

    counts = Counter(t for tk in docs for t in tk)
    want = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:max_vocab]
    assert [(r["term"], r["n"]) for r in sorted(vocab, key=lambda r: r["token_id"])] == want
    assert sorted(r["token_id"] for r in vocab) == list(range(len(want)))

    ids = {r["term"]: r["token_id"] for r in vocab}
    enc = {}
    for r in encode_token_ids(df, build_vocab(df, max_vocab=max_vocab)).collect():
        enc.setdefault(r["doc_id"], {})[r["pos"]] = r["token_id"]
    for i, tk in enumerate(docs):
        got = [enc.get(i, {}).get(p) for p in range(len(tk))]
        assert got == [ids.get(t, -1) for t in tk]


@settings(max_examples=15, deadline=None)
@given(
    docs=st.lists(words.filter(lambda w: len(w) > 0), min_size=1, max_size=8),
    window=st.integers(2, 6),
    max_docs=st.integers(1, 3),
)
def test_boilerplate_reassembly_property(spark, docs, window, max_docs):
    """remove_boilerplate must reproduce exactly the per-doc
    concatenation of its sub-max_docs chunks, computed independently in
    Python over the same chunk grid."""
    from collections import Counter

    from route81_spark.ops.corpus import remove_boilerplate

    def chunks_of(tk):
        n_chunks = max((len(tk) + window - 1) // window, 1)
        return [" ".join(tk[i * window : (i + 1) * window]) for i in range(n_chunks)]

    doc_chunks = {i: chunks_of(tk) for i, tk in enumerate(docs)}
    nd = Counter()
    for i, cs in doc_chunks.items():
        for c in set(cs):
            nd[c] += 1

    rows = [Row(doc_id=i, text=" ".join(tk)) for i, tk in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in remove_boilerplate(df, window=window, max_docs=max_docs).collect()
    }
    for i, cs in doc_chunks.items():
        kept = [c for c in cs if nd[c] <= max_docs]
        assert out[i]["clean_text"] == " ".join(kept)
        assert out[i]["n_chunks"] == len(cs)
        assert out[i]["n_kept"] == len(kept)


@settings(max_examples=10, deadline=None)
@given(
    sizes=st.lists(st.integers(1, 40), min_size=2, max_size=4),
    shares=st.lists(st.floats(0.05, 1.0), min_size=2, max_size=4),
)
def test_mixture_rates_property(spark, sizes, shares):
    """mixture_resample: the implied acceptance rates are <= 1, the
    binding group (smallest count/share) keeps everything, and output
    is a subset of input selected deterministically."""
    n = min(len(sizes), len(shares))
    sizes, shares = sizes[:n], shares[:n]
    rows = [
        Row(doc_id=g * 1000 + i, source=f"g{g}")
        for g, sz in enumerate(sizes)
        for i in range(sz)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    target = {f"g{g}": shares[g] for g in range(n)}
    from route81_spark.ops.corpus import mixture_resample

    out = mixture_resample(df, "source", target).collect()
    got = {}
    for r in out:
        got.setdefault(r["source"], set()).add(r["doc_id"])
    binding = min(range(n), key=lambda g: sizes[g] / shares[g])
    # the binding group's rate is exactly 1.0 -> all its rows survive
    assert len(got.get(f"g{binding}", set())) == sizes[binding]
    all_ids = {r["doc_id"] for r in rows}
    assert all(i in all_ids for ids in got.values() for i in ids)


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_line_dedup_matches_python_reference(spark, seed):
    """Randomized corpora vs a direct single-node keep-first
    implementation: every (doc, line-window) decision must agree."""
    import random

    from pyspark.sql import Row

    from route81_spark.ops.corpus import line_dedup_global

    rng = random.Random(seed)
    vocab = ["a", "b", "c", "d"]
    docs = {
        i: " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 9)))
        for i in range(30)
    }
    W = 2

    def ref():
        seen, out = set(), {}
        for i in sorted(docs):
            toks = docs[i].split()
            n = len(toks)
            nc = max((n + W - 1) // W, 1)
            lines = [" ".join(toks[j * W:(j + 1) * W]) for j in range(nc)]
            kept = []
            for ln in lines:
                if ln not in seen:
                    seen.add(ln)
                    kept.append(ln)
            out[i] = (nc, len(kept), " ".join(kept))
        return out

    df = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in docs.items()])
    got = {
        r["doc_id"]: (r["n_lines"], r["n_kept"], r["clean_text"])
        for r in line_dedup_global(df, window=W).collect()
    }
    assert got == ref()


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_span_dedup_matches_python_reference(spark, seed):
    """Randomized corpora vs a direct single-node implementation of
    keep-first span excision (winner = min (doc, pos) per L-shingle;
    every other occurrence's L tokens excised)."""
    import random

    from pyspark.sql import Row

    from route81_spark.ops.corpus import span_dedup_global

    rng = random.Random(100 + seed)
    vocab = ["x", "y", "z"]
    docs = {
        i: " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 10)))
        for i in range(25)
    }
    L = 3

    def ref():
        first = {}
        for i in sorted(docs):
            toks = docs[i].split()
            for p in range(max(len(toks) - L + 1, 0)):
                key = tuple(toks[p:p + L])
                first.setdefault(key, (i, p))
        out = {}
        for i in sorted(docs):
            toks = docs[i].split()
            drop = [False] * len(toks)
            for p in range(max(len(toks) - L + 1, 0)):
                if first[tuple(toks[p:p + L])] != (i, p):
                    for t in range(p, p + L):
                        drop[t] = True
            kept = [t for t, d in zip(toks, drop) if not d]
            out[i] = (len(toks), sum(drop), " ".join(kept))
        return out

    df = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in docs.items()])
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_dropped"], r["clean_text"])
        for r in span_dedup_global(df, min_tokens=L).collect()
    }
    assert got == ref()


def test_preference_pairs_invariants_randomized(spark):
    """Randomized invariants (3 seeds): every emitted pair's chosen
    score is the group max and rejected the group min; margin > 0;
    groups whose max==min never emit; ids come from the group."""
    import random

    from pyspark.sql import Row

    from route81_spark.ops.corpus import preference_pairs
    from route81_spark.ops.text import quality_score
    from pyspark.sql import functions as F

    words = "alpha beta gamma delta epsilon zeta eta theta".split()
    for seed in (11, 23, 47):
        rng = random.Random(seed)
        rows = [
            Row(
                doc_id=i,
                prompt_id=rng.randrange(6),
                text=" ".join(rng.choice(words) for _ in range(rng.randrange(1, 30))),
            )
            for i in range(60)
        ]
        df = spark.createDataFrame(rows)
        scored = df.select(
            "doc_id", "prompt_id", quality_score(F.col("text")).alias("s")
        ).collect()
        by_g: dict = {}
        for r in scored:
            by_g.setdefault(r["prompt_id"], []).append((r["s"], r["doc_id"]))
        got = {r["prompt_id"]: r for r in preference_pairs(df).collect()}
        for g, members in by_g.items():
            smax, smin = max(v for v, _ in members), min(v for v, _ in members)
            if smax == smin:
                assert g not in got
                continue
            r = got[g]
            assert r["chosen_score"] == smax and r["rejected_score"] == smin
            assert r["margin"] > 0
            assert r["chosen_id"] == min(i for v, i in members if v == smax)
            assert r["rejected_id"] == max(i for v, i in members if v == smin)


def test_kmv_overlap_sketch_estimator_bounds_randomized(spark):
    """Randomized bounds (3 seeds): 0 <= jaccard_est <= 1, union_est >=
    max-side sketch size when saturated, exact count when not, and the
    estimate tracks true Jaccard within the k=64 sketch's error."""
    import random

    from pyspark.sql import Row

    from route81_spark.ops.corpus import kmv_overlap_sketch

    for seed in (5, 17, 31):
        rng = random.Random(seed)
        universe = [f"document body {i}" for i in range(400)]
        a_set = set(rng.sample(universe, 250))
        b_set = set(rng.sample(universe, 250))
        a = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in enumerate(sorted(a_set))])
        b = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in enumerate(sorted(b_set))])
        r = kmv_overlap_sketch(a, b, k=64).collect()[0]
        true_j = len(a_set & b_set) / len(a_set | b_set)
        assert 0.0 <= r["jaccard_est"] <= 1.0
        assert abs(r["jaccard_est"] - true_j) < 0.25  # k=64 KMV error bound is loose
        assert r["k_used"] == 64 and r["union_est"] > 250
        # non-saturated branch: k exceeds the union, so the sketch is
        # the exact set — union_est must be the EXACT count and the
        # jaccard the EXACT Jaccard
        sa = set(rng.sample(universe, 20))
        sb = set(rng.sample(universe, 20))
        small_a = spark.createDataFrame(
            [Row(doc_id=i, text=t) for i, t in enumerate(sorted(sa))])
        small_b = spark.createDataFrame(
            [Row(doc_id=i, text=t) for i, t in enumerate(sorted(sb))])
        ex = kmv_overlap_sketch(small_a, small_b, k=64).collect()[0]
        assert ex["k_used"] == len(sa | sb) and ex["union_est"] == float(len(sa | sb))
        assert ex["shared"] == len(sa & sb)
