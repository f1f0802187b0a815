"""Extension-op tests: dedup determinism, similarity ranking,
text analysis, multimodal plumbing."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Row, functions as F

from route81_spark.ops import dedup as D
from route81_spark.ops import similarity as S
from route81_spark.ops import text as X
from route81_spark.ops.multimodal import extract_features, fake_features, synthetic_media


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=3, text="Hello  world"),
            Row(doc_id=1, text="hello world"),
            Row(doc_id=2, text="different"),
        ],
        "doc_id long, text string",
    )
    kept = sorted(r["doc_id"] for r in D.exact_dedup(df).collect())
    assert kept == [1, 2]  # whitespace+case normalized dup collapses to min id


def test_minhash_identical_docs_identical_sigs(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, text="a b c d e f g"), Row(doc_id=2, text="a b c d e f g"),
         Row(doc_id=3, text="x y z w v u t")],
        "doc_id long, text string",
    )
    sigs = {r["doc_id"]: [r[f"mh{j}"] for j in range(4)]
            for r in D.minhash_signatures(df, k=4).collect()}
    assert sigs[1] == sigs[2] != sigs[3]
    pairs = D.lsh_candidates(df, k=4, bands=2).collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [(1, 2)]
    scored = D.ngram_jaccard_pairs(df, D.lsh_candidates(df, k=4, bands=2)).collect()
    assert scored[0]["jaccard"] == 1.0


def test_simhash_close_for_similar(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
         Row(doc_id=2, text="the quick brown fox jumps over the lazy cat"),
         Row(doc_id=3, text="completely unrelated words appear here instead now")],
        "doc_id long, text string",
    )
    sh = {r["doc_id"]: r["s"] for r in
          df.select("doc_id", D.simhash(F.col("text"), 16).alias("s")).collect()}
    d12 = bin(sh[1] ^ sh[2]).count("1")
    d13 = bin(sh[1] ^ sh[3]).count("1")
    assert d12 < d13


def test_cosine_topk_self_is_rank1(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter("vec_id = 0").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    top = S.brute_force_topk(emb, queries, k=3).orderBy("rank").collect()
    assert top[0]["vec_id"] == 0 and top[0]["score"] == pytest.approx(1.0, abs=1e-6)
    assert top[0]["rank"] == 1 and len(top) == 3
    assert top[1]["score"] <= top[0]["score"]


def test_bucketed_topk_subset_of_bucket(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter("vec_id = 0").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    top = S.bucketed_topk(emb, queries, k=3).collect()
    assert len(top) >= 1  # self always shares its own bucket
    assert any(r["vec_id"] == 0 for r in top)


def test_text_analysis_basics(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, text="the cat and the dog of a to a"),
         Row(doc_id=2, text="der hund und die katze ist das")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           df.select("doc_id", X.lang_id(F.col("text")).alias("lang"),
                     X.token_count(F.col("text")).alias("n")).collect()}
    assert out[1]["lang"] == "en" and out[2]["lang"] == "de"
    assert out[1]["n"] == 9


def test_snowball_lang_id(spark):
    """snowball_lang_id (r11): the full-Snowball-stop-list overlap
    language ID over all 14 carried languages — applied through a
    once-per-session SQL temp function (ops/sqlfn.array_fn); the
    inline fallback (builder called directly) must agree."""
    from route81_spark.ops.sqlfn import _SQL_BODIES
    from route81_spark.ops.text import _snowball_argmax, snowball_lang_id
    from route81_spark.ops.unitext import unicode_tokens

    rows = [
        (1, "the data is in the lake and it runs", "english"),
        (2, "les continuations ont été dans la même direction",
         "french"),
        (3, "die daten sind über alles und das modell", "german"),
        (4, "los datos de la que el en una casa", "spanish"),
        (5, "и в не на что он как это было", "russian"),
        (6, "dit is een huis en het was niet", "dutch"),
        (7, "zzz qqq xxx", "und"),  # no stop hits anywhere
        # danish and norwegian share 'og i det at en til' verbatim:
        # the tie breaks alphabetically (danish first) — documented
        (8, "og i det at en til", "danish"),
        # r12: punctuated prose — the unicode tokenizer strips edge
        # punctuation, so 'the,'/'it.' still hit the English list
        # (the old whitespace split scored this 'und')
        (9, "the, data is in the lake; and it runs.", "english"),
        # elision: l'/d' fragments split at the apostrophe and are IN
        # the French list
        (10, "l'homme, d'une même direction... qui était là!",
         "french"),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t, _ in rows], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["lang"]
        for r in df.select(
            "doc_id", snowball_lang_id(F.col("text")).alias("lang")
        ).collect()
    }
    assert got == {i: want for i, _, want in rows}
    # registered HASHED path == exact STRING program (different
    # machinery end to end: xxhash64 long-compare vs string lists)
    inline = {
        r["doc_id"]: r["lang"]
        for r in df.select(
            "doc_id",
            _snowball_argmax(unicode_tokens(F.col("text"))).alias("lang"),
        ).collect()
    }
    assert inline == got
    assert "__r81_snowball_langid_h64" in _SQL_BODIES  # extraction ran


def test_lang_id_stage(spark):
    """$langId pipeline stage: 'markers' default stays the original
    3-language heuristic; 'snowball' runs the 14-list overlap; bad
    modes fail loudly."""
    import pytest

    from route81_spark.pipeline import apply_pipeline

    df = spark.createDataFrame(
        [(1, "los datos de la que el en una casa")],
        "doc_id long, text string",
    )
    out = apply_pipeline(df, [
        {"$langId": {"textField": "text", "mode": "snowball",
                     "as": "l"}},
    ])
    assert out.collect()[0]["l"] == "spanish"
    # the markers default MISclassifies this Spanish text as 'fr'
    # ('la' is one of the five French markers; Spanish has no marker
    # set) — exactly the gap the snowball mode closes
    out2 = apply_pipeline(df, [{"$langId": {"textField": "text"}}])
    assert out2.collect()[0]["lang_pred"] == "fr"
    with pytest.raises(ValueError, match="unsupported mode"):
        apply_pipeline(df, [{"$langId": {"mode": "fasttext"}}])


def test_fingerprint_order_insensitive(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, text="b a c"), Row(doc_id=2, text="c b a")],
        "doc_id long, text string",
    )
    fps = [r["f"] for r in df.select(X.fingerprint(F.col("text")).alias("f")).collect()]
    assert fps[0] == fps[1]


def test_multimodal_feature_plumbing(spark):
    media = synthetic_media(spark, n=16)
    feats = extract_features(media).collect()
    assert len(feats) == 16
    r = next(x for x in feats if x["media_id"] == 3)
    assert len(r["features"]) == 16
    assert r["n_bytes"] == 32
    # deterministic: same payload -> same features
    payload = bytes.fromhex(r["sha"]) if False else None
    assert all(0.0 <= f < 1.0 for f in r["features"])
    import hashlib
    expect = fake_features(hashlib.sha256(b"3").digest())
    assert list(map(float, r["features"])) == pytest.approx(list(map(float, expect)))


def test_embedding_near_dups_planted(spark):
    # all-positive leading dims so base/near share a sign bucket
    base = [1.0] + [0.01] * 7
    near = [0.98] + [0.012] * 7
    far = [0.01] * 7 + [1.0]
    df = spark.createDataFrame(
        [Row(vec_id=1, embedding=base), Row(vec_id=2, embedding=near),
         Row(vec_id=3, embedding=far)],
        "vec_id long, embedding array<float>",
    )
    pairs = S.embedding_near_dups(df, threshold=0.9, n_dims=4).collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [(1, 2)]


def test_lsh_bucket_fallback_identical(spark):
    # max_bucket_size=1 forces every bucket through the equi-join
    # fallback; the pair set must be identical to the in-bucket path
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"the quick brown fox {i % 3} jumps over the lazy dog")
         for i in range(12)],
        "doc_id long, text string",
    )
    default = {(r["id_a"], r["id_b"]) for r in D.lsh_candidates(docs, k=8, bands=2).collect()}
    fallback = {
        (r["id_a"], r["id_b"])
        for r in D.lsh_candidates(docs, k=8, bands=2, max_bucket_size=1).collect()
    }
    assert default == fallback and default


def test_pq_topk_recall_vs_brute_force(spark, sf_dir):
    """PQ ADC top-k must be a faithful approximation: recall@10 vs the
    exact brute-force neighbors above a floor, and self-match (query is
    in the corpus) always in the top ranks."""
    from route81_spark.io import load_table
    from route81_spark.ops import similarity as S
    import pyspark.sql.functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    queries = (
        emb.filter(F.col("vec_id") % 100 == 0)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    )
    books = S.pq_train_codebook(emb, m=16, ksub=16, sample=256)
    pq = S.pq_topk(emb, queries, books, k=10).collect()
    refined = S.pq_refined_topk(emb, queries, books, k=10, refine=10).collect()
    exact = S.brute_force_topk(emb, queries, k=10).collect()

    def by_query(rows):
        out = {}
        for r in rows:
            out.setdefault(r["query_id"], set()).add(r["vec_id"])
        return out

    got, ref, want = by_query(pq), by_query(refined), by_query(exact)
    # raw ADC on near-uniform synthetic vectors is weak but must beat
    # chance (10/500 = 2%) comfortably and always find the query itself
    raw = [len(got[q] & want[q]) / len(want[q]) for q in want]
    assert sum(raw) / len(raw) >= 0.2, f"raw ADC recall@10 too low: {raw}"
    for q, ids in got.items():
        assert q in ids
    # the refine stage is the product contract: near-exact recall
    rr = [len(ref[q] & want[q]) / len(want[q]) for q in want]
    assert sum(rr) / len(rr) >= 0.8, f"refined recall@10 too low: {rr}"



def test_winnow_guarantee_shared_run(spark):
    """Winnowing guarantee (Schleimer et al. 2003): two documents
    sharing a token run of >= window+k-1 tokens (here 7) must share at
    least one fingerprint; disjoint texts share none."""
    shared = "alpha beta gamma delta epsilon zeta eta"  # 7 tokens
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text=f"one two three {shared} four five"),
            Row(doc_id=2, text=f"{shared} completely different tail here"),
            Row(doc_id=3, text="nothing in common with the others at all"),
        ],
        "doc_id int, text string",
    )
    out = df.select(
        "doc_id", X.winnow_fingerprints(F.col("text"), k=4, window=4).alias("fps")
    ).collect()
    fps = {r["doc_id"]: set(r["fps"]) for r in out}
    assert fps[1] & fps[2], "shared 7-token run must produce a common fingerprint"
    assert not (fps[1] & fps[3])
    assert not (fps[2] & fps[3])
    # retention: fingerprints are a strict subset of the shingle hashes
    assert all(len(v) > 0 for v in fps.values())


def test_ivf_nprobe_improves_recall(spark, sf_dir):
    """nprobe is the IVF recall knob: probing 2 cells must recover at
    least as many true (brute-force) neighbors as probing 1, and the
    nprobe=1 candidate set is a subset of nprobe=2's."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    centroids = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid_vec")
    )
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    truth = {
        (r["query_id"], r["vec_id"])
        for r in S.brute_force_topk(emb, queries, k=5).collect()
    }

    def hits(nprobe):
        got = {
            (r["query_id"], r["vec_id"])
            for r in S.ivf_topk(emb, queries, centroids, k=5, nprobe=nprobe).collect()
        }
        return got

    h1, h2 = hits(1), hits(2)
    assert len(h2 & truth) >= len(h1 & truth)
    # every query still returns k rows from a wider candidate pool
    assert len(h2) == len(h1)


def test_embedding_dedup_planted_duplicates(spark):
    """Two planted identical vectors (cos=1) must collapse to the min-id
    representative; the distinct vector survives."""
    import numpy as np

    rng = [(1, [1.0, 2.0, 0.5, -1.0]), (2, [1.0, 2.0, 0.5, -1.0]),
           (3, [-1.0, -2.0, 3.0, 0.0])]
    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in v]) for i, v in rng],
        "vec_id long, embedding array<float>",
    )
    kept = sorted(
        r["vec_id"]
        for r in S.embedding_dedup(emb, threshold=0.99, n_dims=4).collect()
    )
    assert kept == [1, 3]


def test_train_val_split_deterministic_and_sized(spark, sf_dir):
    from route81_spark.ops.corpus import train_val_split

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = {r["doc_id"]: r["split"] for r in train_val_split(docs).collect()}
    b = {r["doc_id"]: r["split"] for r in
         train_val_split(docs.repartition(7)).collect()}
    assert a == b  # stable under repartition / rerun
    frac = sum(1 for v in a.values() if v == "val") / len(a)
    assert 0.02 < frac < 0.25  # ~10% at small n


def test_shard_is_permutation(spark, sf_dir):
    from route81_spark.ops.corpus import shard

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = shard(docs, n_shards=4).select("doc_id", "shard", "pos").collect()
    assert len(out) == docs.count()
    # (shard, pos) is a dense 0..k-1 numbering per shard: a permutation
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    assert set(by_shard) <= {0, 1, 2, 3}
    for positions in by_shard.values():
        assert sorted(positions) == list(range(len(positions)))
    # deterministic across reruns
    again = shard(docs, n_shards=4).select("doc_id", "shard", "pos").collect()
    assert {(r["doc_id"], r["shard"], r["pos"]) for r in again} == {
        (r["doc_id"], r["shard"], r["pos"]) for r in out
    }


def test_curate_is_subset_and_gated(spark, sf_dir):
    from route81_spark.ops.corpus import curate
    from route81_spark.ops.text import lang_id

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    kept = curate(docs)
    assert kept.count() <= docs.count()
    # every survivor passes the language gate
    assert kept.filter(lang_id(F.col("text")) != "en").count() == 0


def test_cluster_small_graph_fast_path(spark, tmp_path):
    # under the edge threshold the loop short-circuits to a driver
    # union-find: same labels, no checkpoint files, no leaked blocks
    import os

    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    pairs = spark.createDataFrame(
        [Row(id_a=f"d{i}", id_b=f"d{i + 1}") for i in range(5)]
        + [Row(id_a="x2", id_b="x1")],
        "id_a string, id_b string",
    )
    ckdir = str(tmp_path / "ck_fast")
    out = D.near_dup_clusters(pairs, checkpoint_dir=ckdir)
    got = {(r["doc_id"], r["cluster_id"]) for r in out.collect()}
    assert got == {(f"d{i}", "d0") for i in range(6)} | {("x1", "x1"), ("x2", "x1")}
    assert not any(files for _, _, files in os.walk(ckdir)), "fast path wrote checkpoints"
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    assert after <= before
    # empty pair set: empty result, id-typed schema preserved
    empty = D.near_dup_clusters(pairs.limit(0))
    assert empty.count() == 0
    assert [f.dataType.simpleString() for f in empty.schema.fields] == ["string", "string"]


def test_cluster_reliable_checkpoint(spark, tmp_path, monkeypatch):
    # cluster-mode path: reliable file checkpoints instead of
    # executor-local blocks; same clusters, checkpoint files on disk,
    # and nothing new left in the persistent-RDD map
    import os

    monkeypatch.setattr(D, "SMALL_GRAPH_MAX_EDGES", 0)
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    pairs = spark.createDataFrame(
        [Row(id_a=i, id_b=i + 1) for i in range(5)]
        + [Row(id_a=10, id_b=11)],
        "id_a long, id_b long",
    )
    ckdir = str(tmp_path / "ck")
    out = D.near_dup_clusters(pairs, checkpoint_dir=ckdir)
    got = {(r["doc_id"], r["cluster_id"]) for r in out.collect()}
    assert got == {(i, 0) for i in range(6)} | {(10, 10), (11, 10)}
    assert any(files for _, _, files in os.walk(ckdir)), "no checkpoint files written"
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    assert after <= before


def test_star_fallback_reliable_checkpoint(spark, tmp_path, monkeypatch):
    # deep chain + reliable checkpoints: star contraction runs through
    # the file-backed checkpointer and writes its rounds to disk
    import os

    monkeypatch.setattr(D, "SMALL_GRAPH_MAX_EDGES", 0)
    pairs = spark.createDataFrame(
        [Row(id_a=i, id_b=i + 1) for i in range(9)], "id_a long, id_b long"
    )
    ckdir = str(tmp_path / "ck")
    out = D.near_dup_clusters(pairs, checkpoint_dir=ckdir)
    assert {(r["doc_id"], r["cluster_id"]) for r in out.collect()} == {
        (i, 0) for i in range(10)
    }
    assert any(files for _, _, files in os.walk(ckdir)), "no checkpoint files written"


def test_near_dedup_leaves_no_cached_rdds(spark, tmp_path):
    # VERDICT r3 wrong #3: near_dedup persisted `survivors` (and its
    # candidate pairs) forever. Contract now: explicit caches released
    # before returning; with reliable checkpoints nothing is pinned.
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
            Row(doc_id=2, text="the quick brown fox jumps over the lazy dog!"),
            Row(doc_id=3, text="completely different content about spark engines"),
            Row(doc_id=4, text="The quick  brown fox jumps over the lazy dog"),
        ],
        "doc_id long, text string",
    )
    out = D.near_dedup(df, jaccard_threshold=0.3, checkpoint_dir=str(tmp_path / "ck"))
    kept = sorted(r["doc_id"] for r in out.collect())
    assert kept == [1, 3]  # 4 is an exact dup of 1 (normalized), 2 a near-dup
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    assert after <= before, f"leaked cached RDDs: {after - before}"


def test_ivf_assign_empty_centroids_raises(spark):
    # ADVICE r3: an empty codebook used to emit NULL centroid ids that
    # silently vanished in downstream equi-joins; now it fails loudly
    emb = spark.createDataFrame(
        [Row(vec_id=1, embedding=[1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    empty = spark.createDataFrame(
        [], "centroid_id long, centroid_vec array<float>"
    )
    with pytest.raises(ValueError, match="non-empty"):
        S.ivf_assign(emb, empty)


def test_ivf_assign_codegen_fold_parity(spark):
    # the small-codebook SQL path and the fold path must agree exactly:
    # ties -> lowest cid, zero vectors -> lowest cid, null scores lose
    rows = [
        Row(vec_id=1, embedding=[1.0, 0.0, 0.0]),
        Row(vec_id=2, embedding=[0.0, 1.0, 0.0]),
        Row(vec_id=3, embedding=[0.0, 0.0, 0.0]),   # zero vector
        Row(vec_id=4, embedding=[1.0, 1.0, 0.0]),   # equidistant tie
        Row(vec_id=5, embedding=[-1.0, -1.0, -0.5]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = spark.createDataFrame(
        [
            Row(centroid_id=10, centroid_vec=[1.0, 0.0, 0.0]),
            Row(centroid_id=11, centroid_vec=[0.0, 1.0, 0.0]),
        ],
        "centroid_id long, centroid_vec array<float>",
    )
    fast = {
        (r["vec_id"], r["centroid_id"])
        for r in S.ivf_assign(emb, cents).collect()
    }
    fold = {
        (r["vec_id"], r["centroid_id"])
        for r in S.ivf_assign(emb, cents, codegen_max_centroids=0).collect()
    }
    assert fast == fold
    assert (3, 10) in fast  # zero vector -> lowest centroid id
    assert (4, 10) in fast  # exact tie -> lowest centroid id


def test_pii_redact_and_counts(spark):
    from route81_spark.ops.text import pii_counts, pii_redact

    df = spark.createDataFrame(
        [Row(t="mail a.b@x.co or call 555-123-4567 from 10.0.0.1 ok")], "t string"
    )
    c = pii_counts(F.col("t"))
    row = df.select(
        c["n_emails"].alias("e"), c["n_phones"].alias("p"), c["n_ips"].alias("i"),
        pii_redact(F.col("t")).alias("r"),
    ).collect()[0]
    assert (row["e"], row["p"], row["i"]) == (1, 1, 1)
    assert row["r"] == "mail <EMAIL> or call <PHONE> from <IP> ok"


def test_gopher_repetition_flags(spark):
    from route81_spark.ops.text import gopher_keep

    df = spark.createDataFrame(
        [
            Row(doc_id=1, t="the cat sat on the mat and slept all of today quietly"),
            Row(doc_id=2, t="spam spam spam spam spam spam spam spam spam spam"),
        ],
        "doc_id long, t string",
    )
    keep = {r["doc_id"]: r["k"] for r in df.select("doc_id", gopher_keep(F.col("t")).alias("k")).collect()}
    assert keep[1] is True       # normal prose passes
    assert keep[2] is False      # pure repetition fails dup-3gram + stopwords


def test_decontaminate_flags_overlap(spark):
    from route81_spark.ops.corpus import decontaminate

    bench = spark.createDataFrame(
        [Row(doc_id=100, text="alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            Row(doc_id=1, text="alpha beta gamma delta epsilon zeta eta"),  # overlaps
            Row(doc_id=2, text="one two three four five six seven"),        # clean
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: (r["n_hits"], r["contaminated"])
           for r in decontaminate(corpus, bench, n=5, min_hits=1).collect()}
    assert out[1][0] >= 1 and out[1][1] is True
    assert out[2] == (0, False)


def test_stratified_sample_deterministic(spark):
    from route81_spark.ops.corpus import stratified_sample

    df = spark.createDataFrame(
        [Row(doc_id=i, lang="en" if i % 2 == 0 else "xx") for i in range(200)],
        "doc_id long, lang string",
    )
    a = {r["doc_id"] for r in stratified_sample(df, "lang", {"en": 0.5}).collect()}
    b = {r["doc_id"] for r in stratified_sample(df, "lang", {"en": 0.5}).collect()}
    assert a == b                              # rerun-stable
    assert all(i % 2 == 0 for i in a)          # default fraction 0 drops 'xx'
    assert 20 < len(a) < 80                    # ~half of the 100 'en' docs


def test_pack_sequences_bins(spark):
    from route81_spark.ops.corpus import pack_sequences

    df = spark.createDataFrame(
        [Row(doc_id=i, n_tokens=100) for i in range(40)], "doc_id long, n_tokens long"
    )
    out = pack_sequences(df, budget_tokens=250, n_shards=2).collect()
    assert {r["shard"] for r in out} <= {0, 1}
    for shard in (0, 1):
        rows = sorted((r["pos"], r["bin"]) for r in out if r["shard"] == shard)
        bins = [b for _, b in rows]
        assert bins == sorted(bins)            # bins increase along pack order
        # exclusive running count: 100-token docs on a 250 budget ->
        # bins of 3,2,3,2,... docs; every bin holds 2 or 3 docs
        from collections import Counter

        assert set(Counter(bins).values()) <= {2, 3}


def test_rare_bigram_stats(spark):
    from route81_spark.ops.corpus import rare_bigram_stats

    # "a b" occurs in every doc (common); doc 3 adds a one-off bigram
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b"),
            Row(doc_id=2, text="a b"),
            Row(doc_id=3, text="a b x y"),
        ]
        + [Row(doc_id=10 + i, text="a b") for i in range(20)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in rare_bigram_stats(df, rare_denominator=5).collect()}
    assert out[1]["n_rare"] == 0                   # "a b": c2=23, c1(a)=23 -> common
    r3 = out[3]
    assert r3["n_bigrams"] == 3                    # "a b", "b x", "x y"
    # "b x": c2=1, c1(b)=1 -> 5*1 < 1 false -> common; "x y": c2=1, c1(x)=1 common
    # rare needs a w1 that is frequent with OTHER continuations:
    df2 = spark.createDataFrame(
        [Row(doc_id=i, text="go home") for i in range(10)]
        + [Row(doc_id=99, text="go wild")],
        "doc_id long, text string",
    )
    out2 = {r["doc_id"]: r for r in rare_bigram_stats(df2, rare_denominator=5).collect()}
    assert out2[99]["n_rare"] == 1                 # "go wild": 1*5 < c1(go)=11
    assert out2[0]["n_rare"] == 0


def test_tfidf_top_terms(spark):
    from route81_spark.ops.corpus import tfidf_top_terms

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="common common zebra"),
            Row(doc_id=2, text="common common common"),
            Row(doc_id=3, text="common plain words"),
        ],
        "doc_id long, text string",
    )
    out = tfidf_top_terms(df, k=1).collect()
    top = {r["doc_id"]: r["term"] for r in out}
    assert top[1] == "zebra"  # unique term beats the ubiquitous one
    assert all(r["rank"] == 1 for r in out)


def test_quantize_int8(spark):
    rows = [
        Row(vec_id=1, embedding=[1.0, -0.5, 0.25, 0.0]),
        Row(vec_id=2, embedding=[0.0, 0.0, 0.0, 0.0]),  # zero vector dropped
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = S.quantize_int8(emb).collect()
    assert {r["vec_id"] for r in out} == {1}
    by_pos = {r["pos"]: r for r in out}
    assert [by_pos[i]["q"] for i in range(4)] == [127, -63, 32, 0]
    # scale = 127/1.0; round-half-up: -63.5 -> floor(-63.0) = -63
    assert by_pos[0]["scale"] == 127.0


def test_chunk_documents_overlap_coverage(spark):
    from route81_spark.ops.text import chunk_documents

    words = " ".join(f"w{i}" for i in range(25))
    df = spark.createDataFrame(
        [Row(doc_id=1, text=words), Row(doc_id=2, text="short doc")],
        "doc_id long, text string",
    )
    out = chunk_documents(df, chunk_tokens=10, overlap=2).collect()
    d1 = sorted((r["chunk_idx"], r["chunk_text"], r["n_tokens"])
                for r in out if r["doc_id"] == 1)
    # stride 8: chunks at 0,8,16 -> ceil((25-2)/8) = 3 chunks
    assert [c[0] for c in d1] == [0, 1, 2]
    assert d1[0][1].split() == [f"w{i}" for i in range(10)]
    assert d1[1][1].split() == [f"w{i}" for i in range(8, 18)]   # 2-token overlap
    assert d1[2][1].split() == [f"w{i}" for i in range(16, 25)]  # short tail
    assert [c[2] for c in d1] == [10, 10, 9]
    d2 = [r for r in out if r["doc_id"] == 2]
    assert len(d2) == 1 and d2[0]["n_tokens"] == 2

    import pytest

    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(df, chunk_tokens=8, overlap=8)


def test_train_ivf_centroids_converges(spark):
    import random

    random.seed(7)
    centers = [[5.0, 0.0, 0.0], [0.0, 5.0, 0.0], [0.0, 0.0, 5.0]]
    rows = []
    for i in range(150):
        c = centers[i % 3]
        rows.append(
            Row(vec_id=i, embedding=[v + random.uniform(-0.4, 0.4) for v in c])
        )
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = S.train_ivf_centroids(emb, n_centroids=3, max_iter=15)
    got = {r["centroid_id"]: r["centroid_vec"] for r in cents.collect()}
    assert len(got) == 3
    # each learned centroid lands near one true center, each center claimed
    claimed = set()
    for vec in got.values():
        best = min(
            range(3),
            key=lambda j: sum((a - b) ** 2 for a, b in zip(vec, centers[j])),
        )
        dist = sum((a - b) ** 2 for a, b in zip(vec, centers[best])) ** 0.5
        assert dist < 0.5, f"centroid {vec} far from any center"
        claimed.add(best)
    assert claimed == {0, 1, 2}
    # the trained codebook drives the existing IVF search end-to-end
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    topk = S.ivf_topk(emb, queries, cents, k=3)
    assert topk.count() == 9


def test_winnow_pairs_finds_clones(spark):
    from route81_spark.ops.text import winnow_pairs

    base = "one two three four five six seven eight nine ten eleven twelve"
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text=base),
            Row(doc_id=2, text=base + " extra tail words here"),  # clone + suffix
            Row(doc_id=3, text="totally different content with no overlap at all"),
        ],
        "doc_id long, text string",
    )
    out = winnow_pairs(df, min_shared=1).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in out}
    assert (1, 2) in pairs          # shared long span -> shared fingerprints
    assert all(3 not in p for p in pairs)


def test_dedup_against_index(spark):
    index = spark.createDataFrame(
        [
            Row(doc_id=100, text="the quick brown fox jumps over the lazy dog"),
            Row(doc_id=101, text="some indexed reference content lives here"),
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            Row(doc_id=1, text="The quick  brown fox jumps over the lazy dog"),  # exact (normalized)
            Row(doc_id=2, text="the quick brown fox jumps over the lazy dog!!"),  # near
            Row(doc_id=3, text="entirely novel writing about spark pipelines"),
        ],
        "doc_id long, text string",
    )
    kept = sorted(
        r["doc_id"]
        for r in D.dedup_against(new, index, jaccard_threshold=0.3).collect()
    )
    assert kept == [3]
    # the index side is never modified and batch-internal dups are out
    # of scope: a new batch with two copies of a novel doc keeps both
    twins = spark.createDataFrame(
        [Row(doc_id=7, text="novel twin text"), Row(doc_id=8, text="novel twin text")],
        "doc_id long, text string",
    )
    assert D.dedup_against(twins, index).count() == 2


def test_wav_bmp_roundtrip():
    import numpy as np

    from route81_spark.ops.multimodal import (
        decode_bmp24, decode_wav_pcm16, encode_bmp24, encode_wav_pcm16,
    )

    samples = (np.sin(np.arange(400) / 7.0) * 12345).astype(np.int16)
    back, rate = decode_wav_pcm16(encode_wav_pcm16(samples, 8000))
    assert rate == 8000 and np.array_equal(back[:, 0], samples)

    # odd width exercises the 4-byte row padding path
    px = (np.arange(5 * 3 * 3) % 256).reshape(5, 3, 3).astype(np.uint8)
    assert np.array_equal(decode_bmp24(encode_bmp24(px)), px)


def test_real_decode_features_and_resize(spark):
    import numpy as np

    from route81_spark.ops.multimodal import (
        decode_bmp24, extract_features, resize_images, synthetic_decodable_media,
    )

    media = synthetic_decodable_media(spark, n=8)
    feats = {r["media_id"]: r for r in extract_features(media).collect()}
    assert len(feats) == 8
    for mid, r in feats.items():
        f = r["features"]
        if r["kind"] == "audio":
            assert f[0] > 0.1            # sine RMS, not hash noise
            dur_s = 0.05 + (mid % 5) * 0.01
            assert abs(f[6] - dur_s) < 1e-3   # decoded duration matches
        else:
            assert 0.0 < f[8] < 1.0      # mean pixel in (0,1)
            assert f[6] == 8 + mid % 8   # decoded width matches generator

    resized = {r["media_id"]: r for r in resize_images(media, 4, 4).collect()}
    saw_mimes = set()
    for mid, r in resized.items():
        if r["kind"] != "image":
            continue
        # REAL re-encoded image, in whichever container it arrived in
        from route81_spark.ops.multimodal import real_decode

        saw_mimes.add(r["meta"]["mime"])
        px = real_decode(bytes(r["payload"]), r["meta"]["mime"])
        assert px.shape == (4, 4, 3)
        assert r["meta"]["width"] == 4 and r["meta"]["height"] == 4
        assert int(px[0, 0, 2]) == mid % 256   # blue channel survives resample
    # the generator alternates containers, so both real codecs ran
    assert saw_mimes == {"image/bmp", "image/png"}


def test_feature_stats_integer_exact_vs_numpy(spark):
    """feature_stats (the media_features oracle core) must equal a
    direct numpy recomputation over the decoded pixels/samples, and
    fail loudly on undecodable mimes."""
    import numpy as np
    import pytest
    from pyspark.errors import PythonException

    from route81_spark.ops.multimodal import (
        decode_wav_pcm16,
        feature_stats,
        real_decode,
        synthetic_decodable_media,
        synthetic_media,
    )

    media = synthetic_decodable_media(spark, n=8)
    payloads = {
        r["media_id"]: (bytes(r["payload"]), r["meta"]["mime"])
        for r in media.collect()
    }
    got = {r["media_id"]: r for r in feature_stats(media).collect()}
    assert len(got) == 8
    for mid, (payload, mime) in payloads.items():
        r = got[mid]
        if mime == "audio/wav":
            samples, _ = decode_wav_pcm16(payload)
            mono = samples[:, 0].astype(np.int64)
            assert r["n_samples"] == mono.size
            assert r["energy"] == int((mono * mono).sum())
            assert r["zero_cross"] == int(
                (np.diff(np.signbit(mono)) != 0).sum()
            )
            assert r["width"] is None and r["rgb_sum"] is None
        else:
            px = real_decode(payload, mime).astype(np.int64)
            assert (r["height"], r["width"]) == px.shape[:2]
            assert r["rgb_sum"] == int(px.sum())
            assert r["luma_sum"] == int(
                (299 * px[:, :, 0] + 587 * px[:, :, 1] + 114 * px[:, :, 2]).sum()
            )
            assert r["n_samples"] is None and r["energy"] is None
    # opaque payloads (no decoder in this environment) fail loudly
    with pytest.raises(PythonException, match="NotImplementedError"):
        feature_stats(synthetic_media(spark, n=3)).collect()


# ---------------------------------------------------------------------
# vocab / token-id encoding / LM scoring / boilerplate / mixture
# ---------------------------------------------------------------------

def _vocab_docs(spark):
    return spark.createDataFrame(
        [
            Row(doc_id=1, text="a a a b b c"),
            Row(doc_id=2, text="a b c d"),
            Row(doc_id=3, text="a z"),
        ],
        "doc_id long, text string",
    )


def test_build_vocab_dense_frequency_ids(spark):
    from route81_spark.ops.corpus import build_vocab

    rows = {r["term"]: (r["n"], r["token_id"]) for r in build_vocab(_vocab_docs(spark)).collect()}
    # counts: a=5 b=3 c=2 d=1 z=1; ties broken term-asc
    assert rows == {"a": (5, 0), "b": (3, 1), "c": (2, 2), "d": (1, 3), "z": (1, 4)}
    capped = build_vocab(_vocab_docs(spark), max_vocab=2).collect()
    assert sorted(r["term"] for r in capped) == ["a", "b"]
    mc = build_vocab(_vocab_docs(spark), min_count=2).collect()
    assert sorted(r["term"] for r in mc) == ["a", "b", "c"]


def test_encode_token_ids_roundtrip_and_unk(spark):
    from route81_spark.ops.corpus import build_vocab, encode_token_ids

    docs = _vocab_docs(spark)
    vocab = build_vocab(docs, max_vocab=3)  # a, b, c in-vocab; d, z OOV
    enc = encode_token_ids(docs, vocab)
    by_doc = {}
    for r in enc.collect():
        by_doc.setdefault(r["doc_id"], {})[r["pos"]] = r["token_id"]
    assert [by_doc[1][p] for p in range(6)] == [0, 0, 0, 1, 1, 2]
    assert [by_doc[2][p] for p in range(4)] == [0, 1, 2, -1]
    assert [by_doc[3][p] for p in range(2)] == [0, -1]
    # the vocab join must be broadcast — the corpus side never shuffles
    plan = enc._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_lm_logprob_score_orders_fluency(spark):
    from route81_spark.ops.corpus import lm_logprob_score

    # doc 1 repeats the corpus-dominant bigram; doc 3 is one-off pairs
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="x y x y x y x y"),
            Row(doc_id=2, text="x y x y"),
            Row(doc_id=3, text="p q r s"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in lm_logprob_score(df).collect()}
    assert rows[1]["n_bigrams"] == 7 and rows[3]["n_bigrams"] == 3
    assert rows[1]["nll"] > 0 and rows[3]["nll"] > 0
    assert rows[1]["nll"] < rows[3]["nll"]  # common bigrams -> lower NLL
    assert rows[2]["nll"] < rows[3]["nll"]


def test_remove_boilerplate_drops_shared_chunks(spark):
    from route81_spark.ops.corpus import remove_boilerplate

    shared = "one two three four"
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text=f"{shared} u1 u2 u3 u4"),
            Row(doc_id=2, text=f"{shared} v1 v2 v3 v4"),
            Row(doc_id=3, text=f"{shared} w1 w2 w3 w4"),
            Row(doc_id=4, text="solo only text here"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in remove_boilerplate(df, window=4, max_docs=2).collect()}
    # the shared leading chunk appears in 3 docs > max_docs=2 -> dropped
    assert out[1]["clean_text"] == "u1 u2 u3 u4"
    assert out[2]["clean_text"] == "v1 v2 v3 v4"
    assert (out[1]["n_chunks"], out[1]["n_kept"]) == (2, 1)
    # unique doc unchanged
    assert out[4]["clean_text"] == "solo only text here"
    assert (out[4]["n_chunks"], out[4]["n_kept"]) == (1, 1)


def test_remove_boilerplate_fully_boilerplate_doc(spark):
    from route81_spark.ops.corpus import remove_boilerplate

    df = spark.createDataFrame(
        [Row(doc_id=i, text="same same same same") for i in range(4)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in remove_boilerplate(df, window=4, max_docs=2).collect()}
    assert all(out[i]["clean_text"] == "" and out[i]["n_kept"] == 0 for i in range(4))


def test_mixture_resample_hits_target_shares(spark, sf_dir):
    from route81_spark.ops.corpus import mixture_resample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = mixture_resample(docs, "source", {"src0": 0.5, "src1": 0.3, "src2": 0.2})
    counts = {r["source"]: r["n"] for r in out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(counts) <= {"src0", "src1", "src2"}
    total = sum(counts.values())
    # hash sampling is binomial around the target; allow generous slack
    assert abs(counts.get("src0", 0) / total - 0.5) < 0.2
    # deterministic: a rerun selects the identical row set
    again = mixture_resample(docs, "source", {"src0": 0.5, "src1": 0.3, "src2": 0.2})
    assert sorted(r["doc_id"] for r in out.select("doc_id").collect()) == sorted(
        r["doc_id"] for r in again.select("doc_id").collect()
    )


def test_mixture_resample_degenerate_inputs(spark):
    from route81_spark.ops.corpus import mixture_resample

    df = spark.createDataFrame(
        [Row(doc_id=i, source="a") for i in range(10)], "doc_id long, source string"
    )
    # group with all the mass keeps everything (rate 1.0)
    assert mixture_resample(df, "source", {"a": 1.0}).count() == 10
    # shares naming only absent groups -> empty, not an error
    assert mixture_resample(df, "source", {"missing": 1.0}).count() == 0
    with pytest.raises(ValueError):
        mixture_resample(df, "source", {"a": 0.0})


def test_lm_score_heldout_training_set(spark):
    from route81_spark.ops.corpus import lm_logprob_score

    train = spark.createDataFrame(
        [Row(doc_id=i, text="x y x y x y") for i in range(3)],
        "doc_id long, text string",
    )
    test = spark.createDataFrame(
        [
            Row(doc_id=10, text="x y x y"),     # all bigrams seen
            Row(doc_id=11, text="p q r s"),     # all bigrams unseen
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in lm_logprob_score(test, train_on=train).collect()}
    # unseen bigrams take the add-one mass 1/(c1+V): doc 11 scores
    # strictly worse, and nothing is dropped (total scoring)
    assert rows[10]["n_bigrams"] == 3 and rows[11]["n_bigrams"] == 3
    assert rows[11]["nll"] > rows[10]["nll"]
    import math
    # V = {x, y}; all of doc 11's first words are unseen -> c1=0,
    # lp = -ln(V) = -ln(2) exactly
    assert rows[11]["nll"] == pytest.approx(math.log(2.0), abs=1e-6)
    # unseen bigram with a SEEN first word must score below every seen
    # bigram of that word: 'x x' -> 1/(c1+V), c1(x)=3*3=9 -> nll=ln(11)
    heldout2 = spark.createDataFrame(
        [Row(doc_id=12, text="x x")], "doc_id long, text string"
    )
    r12 = lm_logprob_score(heldout2, train_on=train).collect()[0]
    assert r12["nll"] == pytest.approx(math.log(11.0), abs=1e-6)


def test_mixture_upsample_epochs(spark):
    from route81_spark.ops.corpus import mixture_upsample

    df = spark.createDataFrame(
        [Row(doc_id=i, source="a" if i < 50 else "b") for i in range(100)],
        "doc_id long, source string",
    )
    out = mixture_upsample(df, "source", {"a": 2.5, "b": 0.0}).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r["copy"])
    # factor 0.0 removes the group entirely
    assert all(d < 50 for d in by_doc)
    # every 'a' doc appears 2 or 3 times with dense copy indexes
    ns = {len(v) for v in by_doc.values()}
    assert ns <= {2, 3} and 2 in ns
    total = sum(len(v) for v in by_doc.values())
    assert 50 * 2 <= total <= 50 * 3 and abs(total - 125) <= 15  # ~2.5 epochs
    for v in by_doc.values():
        assert sorted(v) == list(range(len(v)))
    # deterministic across reruns
    again = mixture_upsample(df, "source", {"a": 2.5, "b": 0.0}).collect()
    assert sorted((r["doc_id"], r["copy"]) for r in again) == sorted(
        (r["doc_id"], r["copy"]) for r in out
    )


def test_jsonl_corpus_ingest_with_corrupt_lines(spark, tmp_path):
    from pyspark.sql import types as T

    from route81_spark.sources.corpus_files import (
        ingest_stats,
        read_jsonl_corpus,
        split_corrupt,
    )

    p = tmp_path / "drop" / "part-0.jsonl"
    p.parent.mkdir(parents=True)
    p.write_text(
        '{"doc_id": 1, "text": "hello world"}\n'
        "this is not json at all\n"
        '{"doc_id": 2, "text": "second doc"}\n'
        '{"doc_id": 3, "text": "third", "extra": "ignored"}\n'
        '{"broken": \n'
    )
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    df = read_jsonl_corpus(spark, str(p.parent), schema)
    stats = ingest_stats(df)
    assert stats == {"total": 5, "corrupt": 2, "parsed": 3}
    good, bad = split_corrupt(df)
    assert {r["doc_id"] for r in good.collect()} == {1, 2, 3}
    assert "_corrupt" not in good.columns
    raws = {r["raw"] for r in bad.collect()}
    assert "this is not json at all" in raws and len(raws) == 2
    # declared-schema contract: undeclared fields are pruned, not errors
    assert set(good.columns) == {"doc_id", "text"}
    # schema collision guard
    bad_schema = T.StructType([T.StructField("_corrupt", T.StringType())])
    with pytest.raises(ValueError):
        read_jsonl_corpus(spark, str(p.parent), bad_schema)


def test_write_training_shards_layout(spark, tmp_path):
    import os

    from route81_spark.ops.corpus import write_training_shards

    df = spark.createDataFrame(
        [Row(doc_id=i, text=f"doc {i}") for i in range(100)],
        "doc_id long, text string",
    )
    out = str(tmp_path / "shards")
    write_training_shards(df, out, n_shards=4, max_records_per_file=10)
    dirs = sorted(d for d in os.listdir(out) if d.startswith("shard="))
    assert dirs == [f"shard={i}" for i in range(4)]
    back = spark.read.parquet(out)
    assert back.count() == 100
    assert {r["doc_id"] for r in back.collect()} == set(range(100))
    # pos is dense 0..n-1 within each shard (loader contract)
    for i in range(4):
        pos = sorted(r["pos"] for r in back.filter(f"shard = {i}").collect())
        assert pos == list(range(len(pos)))
    # maxRecordsPerFile bounds files: >=3 files for ~25 rows at 10/file
    files = [f for f in os.listdir(os.path.join(out, "shard=0")) if f.endswith(".parquet")]
    assert len(files) >= 2


def test_dataset_card_toy_sources(spark):
    from route81_spark.ops.corpus import dataset_card

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox", "en", "web"),
            (2, "the quick brown fox", "en", "web"),   # exact dup of 1
            (3, "unique document here", "de", "web"),
            (4, "another corpus entirely", "en", "books"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    card = {r["source"]: r for r in dataset_card(docs).collect()}
    web = card["web"]
    assert web["n_docs"] == 3 and web["total_tokens"] == 11
    assert web["max_tokens"] == 4
    # 2 distinct contents over 3 docs -> dup rate 1/3
    assert abs(web["dup_rate"] - 0.3333) < 1e-9
    assert abs(web["en_share"] - 0.6667) < 1e-9
    books = card["books"]
    assert books["n_docs"] == 1 and books["dup_rate"] == 0.0


def test_dataset_card_null_lang_counts_as_non_en(spark):
    """NULL lang must count as 0 in en_share (oracle's CASE WHEN), not
    be excluded from the average by a null-propagating comparison."""
    from route81_spark.ops.corpus import dataset_card

    docs = spark.createDataFrame(
        [
            (1, "one two three", "en", "web"),
            (2, "vier fünf sechs", None, "web"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    card = {r["source"]: r for r in dataset_card(docs).collect()}
    assert abs(card["web"]["en_share"] - 0.5) < 1e-9


def test_semantic_decontaminate_flags_and_empty_benchmark(spark):
    from route81_spark.ops.similarity import semantic_decontaminate

    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.9, 0.1]),   # high cosine to [1,0]
            (3, [0.0, 1.0]),   # orthogonal
        ],
        "vec_id long, embedding array<float>",
    )
    bench = spark.createDataFrame([(99, [1.0, 0.0])], "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r for r in semantic_decontaminate(emb, bench, 0.95).collect()}
    assert out[1]["contaminated"] and out[2]["contaminated"]
    assert not out[3]["contaminated"] and out[3]["max_sim"] == 0.0
    # empty benchmark: nothing contaminated, max_sim null
    empty = bench.filter("vec_id < 0")
    out2 = semantic_decontaminate(emb, empty, 0.95).collect()
    assert all(not r["contaminated"] and r["max_sim"] is None for r in out2)
    # scale pin: zero corpus Exchange (benchmark collapses to one
    # broadcast row; scoring is map-side)
    plan = (
        semantic_decontaminate(emb, bench, 0.95)
        ._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    assert "Exchange hashpartitioning" not in plan


def test_png_roundtrip_and_all_filters():
    import struct
    import zlib

    import numpy as np

    from route81_spark.ops.multimodal import decode_png_rgb8, encode_png_rgb8

    px = (np.arange(7 * 5 * 3) * 13 % 256).reshape(7, 5, 3).astype(np.uint8)
    assert np.array_equal(decode_png_rgb8(encode_png_rgb8(px)), px)

    # hand-build a PNG using every filter type (our encoder only emits
    # type 0) so the un-filter paths are all exercised
    h, w, bpp = 5, 4, 3
    img = (np.arange(h * w * bpp) * 37 % 256).reshape(h, w * bpp).astype(np.int32)
    lines = []
    prev = np.zeros(w * bpp, dtype=np.int32)
    for y, ftype in enumerate([0, 1, 2, 3, 4]):
        cur = img[y]
        if ftype == 0:
            enc = cur.copy()
        elif ftype == 1:
            enc = cur.copy()
            enc[bpp:] = (cur[bpp:] - cur[:-bpp]) % 256
        elif ftype == 2:
            enc = (cur - prev) % 256
        elif ftype == 3:
            enc = cur.copy()
            for x in range(w * bpp):
                left = cur[x - bpp] if x >= bpp else 0
                enc[x] = (cur[x] - ((left + prev[x]) >> 1)) % 256
        else:
            enc = cur.copy()
            for x in range(w * bpp):
                a = cur[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc[x] = (cur[x] - pred) % 256
        lines.append(bytes([ftype]) + enc.astype(np.uint8).tobytes())
        prev = cur

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    payload = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"".join(lines)))
        + chunk(b"IEND", b"")
    )
    got = decode_png_rgb8(payload)
    assert np.array_equal(got, img.astype(np.uint8).reshape(h, w, bpp))


def test_png_rgba_drops_alpha_and_unsupported_raise():
    import struct
    import zlib

    import numpy as np
    import pytest as pt

    from route81_spark.ops.multimodal import decode_png_rgb8

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    # RGBA (type 6): alpha must be dropped
    h, w = 2, 3
    rgba = (np.arange(h * w * 4) % 256).astype(np.uint8).reshape(h, w * 4)
    raw = b"".join(b"\x00" + rgba[y].tobytes() for y in range(h))
    payload = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 6, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    got = decode_png_rgb8(payload)
    assert got.shape == (h, w, 3)
    assert np.array_equal(got, rgba.reshape(h, w, 4)[:, :, :3])

    # palette PNG must raise, not mis-decode
    pal = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"\x00" * (h * (w + 1))))
        + chunk(b"IEND", b"")
    )
    with pt.raises(NotImplementedError):
        decode_png_rgb8(pal)


def test_weighted_sample_proportional_and_deterministic(spark):
    from route81_spark.ops.corpus import weighted_sample

    # two weight classes, 10:1 — heavy rows should dominate the sample
    rows = [(i, 10.0 if i % 2 == 0 else 1.0) for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    out = weighted_sample(df, F.col("w"), k=200)
    ids = [r["doc_id"] for r in out.collect()]
    assert len(ids) == 200 and len(set(ids)) == 200
    heavy = sum(1 for i in ids if i % 2 == 0)
    # E[heavy] ~ 183 of 200; anywhere clearly above parity proves
    # w-proportional selection without flaking
    assert heavy > 140
    # deterministic: identical rerun
    ids2 = [r["doc_id"] for r in weighted_sample(df, F.col("w"), k=200).collect()]
    assert ids == ids2
    # zero/negative weights never sampled
    dfz = spark.createDataFrame([(1, 0.0), (2, -1.0), (3, 5.0)], "doc_id long, w double")
    assert [r["doc_id"] for r in weighted_sample(dfz, F.col("w"), k=3).collect()] == [3]


def test_approx_distinct_error_bounded(spark):
    from route81_spark.ops.corpus import approx_distinct_by

    # group 'a': 1000 distinct; group 'b': 100 distinct with repeats
    rows = [("a", i) for i in range(1000)] + [("b", i % 100) for i in range(1000)]
    df = spark.createDataFrame(rows, "g string, v long")
    got = {r["g"]: r for r in approx_distinct_by(df, "g", "v", rsd=0.05).collect()}
    assert got["a"]["n_rows"] == 1000 and got["b"]["n_rows"] == 1000
    for g, exact in (("a", 1000), ("b", 100)):
        err = abs(got[g]["approx_distinct"] - exact) / exact
        assert err <= 0.15, f"group {g}: {err} beyond 3*rsd"
    # HLL partials merge map-side: one hash Exchange, partial agg
    plan = (
        approx_distinct_by(df, "g", "v")._jdf.queryExecution()
        .executedPlan().toString().split("== Initial Plan ==")[0]
    )
    assert plan.count("Exchange hashpartitioning") == 1 and "partial_" in plan


def test_bm25_ranking_properties(spark):
    from route81_spark.ops.corpus import bm25_scores

    docs = spark.createDataFrame(
        [
            (1, "join join join filler filler"),       # high tf of query term
            (2, "join filler filler filler filler"),   # one hit
            (3, "filler filler filler filler filler"), # no hits
            (4, "rare filler filler filler filler"),   # hits the rare term
        ]
        + [(10 + i, "join common words here now") for i in range(6)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["bm25"] for r in bm25_scores(docs, ["join", "rare"]).collect()}
    # more tf -> higher score; zero hits -> zero
    assert out[1] > out[2] > out[3] == 0.0
    # 'rare' appears in 1 doc, 'join' in 8: one rare hit out-scores one common hit
    assert out[4] > out[2]
    # zero scoring shuffle
    plan = (
        bm25_scores(docs, ["join"])._jdf.queryExecution().executedPlan()
        .toString().split("== Initial Plan ==")[0]
    )
    assert "Exchange hashpartitioning" not in plan


def test_edit_distance_pairs_basics(spark):
    docs = spark.createDataFrame(
        [
            (1, "hello world"),
            (2, "hello worlds"),   # 1 edit
            (3, "totally different text"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "id_a long, id_b long"
    )
    out = {(r["id_a"], r["id_b"]): r for r in
           D.edit_distance_pairs(docs, pairs, max_norm=1.0).collect()}
    assert out[(1, 2)]["dist"] == 1
    assert abs(out[(1, 2)]["norm_dist"] - 1 / 12) < 1e-6
    assert out[(1, 4)]["dist"] == 11  # vs empty: all inserts
    # threshold prunes the far pair
    kept = {(r["id_a"], r["id_b"]) for r in
            D.edit_distance_pairs(docs, pairs, max_norm=0.2).collect()}
    assert kept == {(1, 2)}


def test_phrase_search_exact_positions(spark):
    from route81_spark.ops.text import phrase_search

    docs = spark.createDataFrame(
        [
            (1, "big data small data big data"),   # "big data" x2
            (2, "data big"),                       # reversed -> no
            (3, "big database"),                   # token boundary -> no
            (4, "the big data pipeline"),          # x1
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["n_occurrences"] for r in
           phrase_search(docs, ["big", "data"]).collect()}
    assert out == {1: 2, 4: 1}
    # three-term chain
    out3 = {r["doc_id"]: r["n_occurrences"] for r in
            phrase_search(docs, ["big", "data", "pipeline"]).collect()}
    assert out3 == {4: 1}


def test_csv_corpus_ingest_with_corrupt_rows(spark, tmp_path):
    from pyspark.sql import types as TT

    from route81_spark.sources.corpus_files import (
        ingest_stats, read_csv_corpus, split_corrupt,
    )

    p = tmp_path / "c.csv"
    p.write_text(
        "doc_id,text,n\n"
        '1,"hello, world",10\n'
        "2,plain text,20\n"
        "3,broken,notanint\n"      # type failure -> corrupt
        "4,final row,40\n"
    )
    schema = TT.StructType(
        [
            TT.StructField("doc_id", TT.LongType()),
            TT.StructField("text", TT.StringType()),
            TT.StructField("n", TT.IntegerType()),
        ]
    )
    df = read_csv_corpus(spark, str(p), schema).withColumn(
        "__", F.lit(1)
    ).drop("__")
    good, bad = split_corrupt(df)
    g = {r["doc_id"]: (r["text"], r["n"]) for r in good.collect()}
    assert g[1] == ("hello, world", 10)   # quoted comma survives
    assert g[2] == ("plain text", 20)
    assert 3 not in g
    raws = [r["raw"] for r in bad.collect()]
    assert len(raws) == 1 and "notanint" in raws[0]
    stats = ingest_stats(df)
    assert stats["corrupt"] == 1 and stats["parsed"] >= 3


def test_compression_ratio_orders_redundancy(spark):
    from route81_spark.ops.text import compression_ratio

    docs = spark.createDataFrame(
        [
            (1, "spam " * 400),                      # highly repetitive
            (2, "the quick brown fox jumps over the lazy dog " * 10),
            (3, ""),                                  # empty -> ratio 1.0
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in compression_ratio(docs).collect()}
    assert out[1]["deflate_ratio"] < out[2]["deflate_ratio"] < 1.0
    assert out[1]["deflate_ratio"] < 0.1   # boilerplate compresses away
    assert out[3]["deflate_ratio"] == 1.0 and out[3]["n_bytes"] == 0
    # deterministic across runs
    again = {r["doc_id"]: r["deflate_ratio"] for r in compression_ratio(docs).collect()}
    assert again == {k: v["deflate_ratio"] for k, v in out.items()}


def test_compression_ratio_string_ids(spark):
    """The output schema must follow the id column's actual type — a
    string doc_id (typical Mongo _id) used to crash Arrow conversion
    against the hardcoded `long` schema."""
    from route81_spark.ops.text import compression_ratio

    docs = spark.createDataFrame(
        [("a1", "spam " * 50), ("b2", "unique words only here")],
        "doc_id string, text string",
    )
    out = {r["doc_id"]: r for r in compression_ratio(docs).collect()}
    assert set(out) == {"a1", "b2"}
    assert out["a1"]["deflate_ratio"] < out["b2"]["deflate_ratio"]


def test_bm25_degenerate_inputs(spark):
    from route81_spark.ops.corpus import bm25_scores

    empty = spark.createDataFrame([], "doc_id long, text string")
    with pytest.raises(ValueError, match="empty corpus"):
        bm25_scores(empty, ["x"])
    blank = spark.createDataFrame([(1, ""), (2, " ")], "doc_id long, text string")
    out = bm25_scores(blank, ["x"]).collect()  # avgdl==0 must not divide-by-zero
    assert all(r["bm25"] == 0.0 for r in out)


def test_cluster_representatives_keep_best(spark):
    from route81_spark.ops.dedup import cluster_representatives, near_dup_clusters

    docs = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.9), (4, 0.5), (5, 0.1)],
        "doc_id long, quality double",
    )
    # cluster A = {1,2,3}, cluster B = {4}; 5 unclustered
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    clusters = near_dup_clusters(pairs)
    kept = sorted(
        r["doc_id"]
        for r in cluster_representatives(docs, clusters, F.col("quality")).collect()
    )
    # cluster A keeps doc 2 (top quality 0.9, tie with 3 -> min id);
    # 4 and 5 aren't in any multi-member cluster -> untouched
    assert kept == [2, 4, 5]


def test_mmr_select_prefers_diversity(spark):
    from route81_spark.ops.similarity import mmr_select

    # 1 and 2: near-identical high-score vectors; 3: different direction,
    # slightly lower score. Top-2 by score = {1,2}; MMR = {1,3}.
    emb = spark.createDataFrame(
        [
            (1, 1.00, [1.0, 0.0]),
            (2, 0.99, [0.999, 0.01]),
            (3, 0.90, [0.0, 1.0]),
        ],
        "vec_id long, score double, embedding array<float>",
    )
    got = sorted(r["vec_id"] for r in mmr_select(emb, "score", k=2, lam=0.5).collect())
    assert got == [1, 3]
    # lam=1.0 degenerates to plain top-k
    topk = sorted(r["vec_id"] for r in mmr_select(emb, "score", k=2, lam=1.0).collect())
    assert topk == [1, 2]
    # deterministic rerun
    again = sorted(r["vec_id"] for r in mmr_select(emb, "score", k=2, lam=0.5).collect())
    assert again == got
    # empty input
    assert mmr_select(emb.filter("vec_id < 0"), "score", k=2).count() == 0


def test_cluster_representatives_string_ids(spark):
    from route81_spark.ops.dedup import cluster_representatives, near_dup_clusters

    docs = spark.createDataFrame(
        [("doc-a", 0.2), ("doc-b", 0.9), ("doc-c", 0.9)],
        "doc_id string, quality double",
    )
    pairs = spark.createDataFrame(
        [("doc-a", "doc-b"), ("doc-b", "doc-c")], "id_a string, id_b string"
    )
    kept = [
        r["doc_id"]
        for r in cluster_representatives(
            docs, near_dup_clusters(pairs), F.col("quality")
        ).collect()
    ]
    # top quality 0.9 tie between b and c -> min id 'doc-b'; works on
    # STRING ids (no numeric negation in the tie-break)
    assert kept == ["doc-b"]


def test_mmr_negative_cosine_is_a_bonus(spark):
    from route81_spark.ops.similarity import mmr_select

    # B is anti-correlated with A: its diversity term must be a BONUS
    # (negative max-cosine), beating the orthogonal C despite lower score
    emb = spark.createDataFrame(
        [
            (1, 1.0, [1.0, 0.0]),    # A: picked first
            (2, 0.2, [-1.0, 0.0]),   # B: cos(A,B) = -1
            (3, 0.5, [0.0, 1.0]),    # C: cos(A,C) = 0
        ],
        "vec_id long, score double, embedding array<float>",
    )
    got = sorted(r["vec_id"] for r in mmr_select(emb, "score", k=2, lam=0.5).collect())
    assert got == [1, 2]  # 0.5*0.2 - 0.5*(-1) = 0.6 > 0.5*0.5 = 0.25
    # null scores are excluded from the pool, not a crash
    withnull = emb.union(
        spark.createDataFrame([(4, None, [1.0, 1.0])], emb.schema)
    )
    assert mmr_select(withnull, "score", k=3).count() == 3


def test_compact_recovers_from_stale_swap(spark, tmp_path):
    import os

    from route81_spark.ops.layout import compact_small_files

    p = str(tmp_path / "t")
    spark.range(100).repartition(5).write.parquet(p)
    stale = p + ".__old__"
    os.makedirs(stale)
    open(os.path.join(stale, "junk"), "w").write("x")
    assert compact_small_files(spark, p) == 1
    assert spark.read.parquet(p).count() == 100
    assert not os.path.exists(stale)


def test_dsir_importance_orders_by_target_likeness(spark):
    """Target-vocabulary docs must outscore off-target docs; a mixed doc
    lands between; sub-bigram docs are omitted; deterministic."""
    from pyspark.sql import functions as F

    from route81_spark.ops.corpus import dsir_importance

    tgt_text = "alpha beta gamma delta alpha beta"
    off_text = "omega sigma tau rho omega sigma"
    docs = spark.createDataFrame(
        [
            (1, tgt_text, "wiki"),
            (2, tgt_text + " gamma delta", "wiki"),
            (3, off_text, "web"),
            (4, off_text + " tau rho", "web"),
            (5, tgt_text + " " + off_text, "web"),   # mixed, raw side
            (6, "single", "web"),                      # no bigram -> omitted
        ],
        "doc_id long, text string, source string",
    )
    out = {
        r["doc_id"]: r
        for r in dsir_importance(docs, F.col("source") == "wiki").collect()
    }
    assert set(out) == {1, 2, 3, 4, 5}
    assert out[1]["is_target"] == 1 and out[3]["is_target"] == 0
    assert out[1]["avg_importance"] > out[5]["avg_importance"] > out[3]["avg_importance"]
    again = {
        r["doc_id"]: r["avg_importance"]
        for r in dsir_importance(docs, F.col("source") == "wiki").collect()
    }
    assert again == {k: v["avg_importance"] for k, v in out.items()}


def test_line_dedup_global_keep_first(spark):
    """Keep-first-occurrence semantics: a line shared by N docs survives
    ONLY in the (doc_id, pos)-earliest one — unlike remove_boilerplate,
    which keeps it everywhere until it crosses max_docs."""
    from pyspark.sql import Row

    from route81_spark.ops.corpus import line_dedup_global

    df = spark.createDataFrame(
        [
            Row(doc_id=3, text="a\nb"),       # repeats only -> empty
            Row(doc_id=1, text="a\nb\nc"),
            Row(doc_id=2, text="b\nd\na"),
            Row(doc_id=4, text=""),           # '' line, first seen here
            Row(doc_id=5, text="\n"),         # two '' lines, both repeats
        ]
    )
    out = {r["doc_id"]: r for r in line_dedup_global(df, sep="\n").collect()}
    assert (out[1]["n_lines"], out[1]["n_kept"], out[1]["clean_text"]) == (3, 3, "a\nb\nc")
    assert (out[2]["n_kept"], out[2]["clean_text"]) == (1, "d")
    assert (out[3]["n_kept"], out[3]["clean_text"]) == (0, "")
    assert (out[4]["n_lines"], out[4]["n_kept"]) == (1, 1)
    assert (out[5]["n_lines"], out[5]["n_kept"]) == (2, 0)
    # intra-doc repeats also dedup (doc 2's 'a' lost to doc 1 pos 0;
    # doc 1 keeps each of its distinct lines exactly once)


def test_line_dedup_global_window_mode_and_arg_check(spark):
    import pytest
    from pyspark.sql import Row

    from route81_spark.ops.corpus import line_dedup_global

    df = spark.createDataFrame(
        [Row(doc_id=1, text="x y z w x y"), Row(doc_id=2, text="x y z w q")]
    )
    out = {r["doc_id"]: r for r in line_dedup_global(df, window=2).collect()}
    # doc 1 = [x y][z w][x y]: the third window repeats the first
    assert (out[1]["n_lines"], out[1]["n_kept"], out[1]["clean_text"]) == (3, 2, "x y z w")
    # doc 2 = [x y][z w][q]: first two lost to doc 1, short tail kept
    assert (out[2]["n_kept"], out[2]["clean_text"]) == (1, "q")
    with pytest.raises(ValueError, match="exactly one"):
        line_dedup_global(df)
    with pytest.raises(ValueError, match="exactly one"):
        line_dedup_global(df, sep="\n", window=2)


def test_bpe_train_merges_matches_single_node_reference(spark):
    """The distributed trainer must learn the SAME merge table (pairs,
    order, counts) as a straightforward single-node BPE on the same
    word counts — including the Sennrich toy corpus whose first merges
    are the canonical (e,s)(es,t)(est,</w>)(l,o)(lo,w)."""
    from collections import Counter

    from pyspark.sql import Row

    from route81_spark.ops.corpus import bpe_train_merges

    corpus = [
        "low low low low low lower lower newest newest newest",
        "newest newest newest widest widest widest low",
    ]

    def reference_bpe(texts, n):
        words = Counter()
        for t in texts:
            for w in t.split():
                words[tuple(w) + ("\x03",)] += 1
        merges = []
        for step in range(1, n + 1):
            pairs = Counter()
            for syms, f in words.items():
                for a, b in zip(syms, syms[1:]):
                    pairs[(a, b)] += f
            if not pairs:
                break
            # count desc, left asc, right asc — the trainer's tie-break
            (l, r), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
            merges.append((step, l, r, cnt))
            out = {}
            for syms, f in words.items():
                s, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                        s.append(l + r)
                        i += 2
                    else:
                        s.append(syms[i])
                        i += 1
                out[tuple(s)] = out.get(tuple(s), 0) + f
            words = Counter(out)
        return merges

    df = spark.createDataFrame([Row(text=t) for t in corpus])
    got = [
        (r["step"], r["sym_l"], r["sym_r"], r["pair_count"])
        for r in bpe_train_merges(df, 10, checkpoint_every=3).orderBy("step").collect()
    ]
    assert got == reference_bpe(corpus, 10)
    assert [g[1:3] for g in got[:3]] == [("e", "s"), ("es", "t"), ("est", "\x03")]


def test_bpe_train_merges_early_stop_and_args(spark):
    import pytest
    from pyspark.sql import Row

    from route81_spark.ops.corpus import bpe_train_merges

    # 'ab' fully merges in 2 steps (a+b, ab+eow); further rounds stop
    df = spark.createDataFrame([Row(text="ab ab")])
    got = bpe_train_merges(df, 10).orderBy("step").collect()
    assert [(r["sym_l"], r["sym_r"], r["pair_count"]) for r in got] == [
        ("a", "b", 2), ("ab", "\x03", 2),
    ]
    with pytest.raises(ValueError, match="n_merges"):
        bpe_train_merges(df, 0)


def test_quality_classifier_separates_seed_like_docs(spark):
    """Docs sharing the seed set's bigrams must score above odds-1
    (pred_keep=1); docs from the disjoint low-quality vocabulary must
    score below. Held-out doc 9 proves generalization: unlabeled but
    seed-like text still passes the filter."""
    from pyspark.sql import Row

    from route81_spark.ops.corpus import quality_classifier

    good = "the quick brown fox jumps over the lazy dog near the river bank"
    bad = "zz yy xx ww vv uu tt ss rr qq pp oo nn mm ll kk jj"
    docs = spark.createDataFrame(
        [Row(doc_id=i, lab="seed" if i < 4 else "raw",
             text=good if i < 4 or i == 9 else bad)
         for i in range(10)]
    )
    out = {r["doc_id"]: r for r in
           quality_classifier(docs, F.col("lab") == "seed").collect()}
    assert all(out[i]["pred_keep"] == 1 for i in range(4))
    assert out[9]["pred_keep"] == 1 and out[9]["is_seed"] == 0  # held-out
    assert all(out[i]["pred_keep"] == 0 for i in range(4, 9))
    assert all(out[i]["avg_odds"] > out[j]["avg_odds"]
               for i in (0, 9) for j in range(4, 9))
    # single-token docs carry no bigram signal and are omitted
    one = spark.createDataFrame([Row(doc_id=1, lab="seed", text="solo")])
    assert quality_classifier(one, F.col("lab") == "seed").count() == 0


def test_image_dhash_and_near_dup_pairs(spark):
    """dHash over REALLY-encoded payloads: every planted (base, noisy
    re-encoded copy) pair — and nothing else — must land within the
    hamming threshold, across BMP<->PNG container boundaries."""
    from route81_spark.ops.multimodal import (
        image_dhash, image_near_dup_pairs, synthetic_image_corpus,
    )

    corp = synthetic_image_corpus(spark, 24)
    hashes = image_dhash(corp)
    rows = hashes.collect()
    assert all(r["decodable"] and r["dhash"] is not None for r in rows)
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in image_near_dup_pairs(hashes, max_hamming=3).collect()
    }
    assert set(pairs) == {(3 * g, 3 * g + 1) for g in range(8)}
    assert all(h <= 2 for h in pairs.values())  # measured dup distance
    # the near-dup really crosses containers (exact hash can't see it)
    mimes = {r["media_id"]: r["mime"] for r in rows}
    assert all(mimes[3 * g] != mimes[3 * g + 1] for g in range(8))


def test_image_dedup_keeps_representatives_and_undecodable(spark):
    from route81_spark.ops.multimodal import (
        image_dedup, synthetic_image_corpus, synthetic_media,
    )
    from route81_spark.pipeline import apply_pipeline

    corp = synthetic_image_corpus(spark, 24)
    surv = sorted(r["media_id"] for r in image_dedup(corp).collect())
    # min-id representative per planted pair + every distinct image
    assert surv == sorted([3 * g for g in range(8)] + [3 * g + 2 for g in range(8)])
    # same result through the pipeline-JSON stage surface
    via_stage = apply_pipeline(corp, [{"$imageDedup": {"maxHamming": 3}}])
    assert sorted(r["media_id"] for r in via_stage.collect()) == surv
    # undecodable payloads (no codec) can't be compared -> all survive
    fake = synthetic_media(spark, 12)
    assert image_dedup(fake).count() == 12


def test_dhash64_downscale_paths():
    import numpy as np

    from route81_spark.ops.multimodal import dhash64

    # area-mean path: monotone horizontal gradient -> all-zero bits
    # (left < right everywhere); reversed -> all-one bits
    yy, xx = np.mgrid[0:32, 0:36]
    grad = np.stack([xx * 7 % 256] * 3, axis=2).astype(np.uint8)
    assert dhash64(grad[:, ::1]) == 0
    rev = grad[:, ::-1]
    assert dhash64(rev) == -1  # 64 set bits as a signed long
    # nearest-sample fallback for images smaller than the 8x9 grid
    tiny = np.stack([np.arange(4 * 5).reshape(4, 5) * 10 % 256] * 3, axis=2).astype(np.uint8)
    v = dhash64(tiny)
    assert isinstance(v, int) and -(1 << 63) <= v < 1 << 63


def test_span_dedup_global_excises_repeats_any_alignment(spark):
    """Exact-substring semantics (Lee et al.): a repeated >= L-token
    span is excised span-for-span from every occurrence EXCEPT the
    (doc, pos)-earliest — at any alignment, including self-repeats and
    long repeats covered by their stride-1 shingles."""
    import pytest
    from pyspark.sql import Row

    from route81_spark.ops.corpus import span_dedup_global

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b c d e f g h"),
            Row(doc_id=2, text="x x a b c d y y"),    # embedded repeat
            Row(doc_id=3, text="a b c d e f zz ww"),  # length-6 overlap
            Row(doc_id=4, text="short doc"),           # < L tokens
            Row(doc_id=5, text="a b c d a b c d"),    # self-repeat
        ]
    )
    out = {r["doc_id"]: r for r in span_dedup_global(df, min_tokens=4).collect()}
    assert (out[1]["n_dropped"], out[1]["clean_text"]) == (0, "a b c d e f g h")
    assert (out[2]["n_dropped"], out[2]["clean_text"]) == (4, "x x y y")
    # the len-6 repeat is covered by its three stride-1 4-shingles
    assert (out[3]["n_dropped"], out[3]["clean_text"]) == (6, "zz ww")
    assert (out[4]["n_tokens"], out[4]["n_dropped"]) == (2, 0)
    assert (out[5]["n_dropped"], out[5]["clean_text"]) == (8, "")
    with pytest.raises(ValueError, match="min_tokens"):
        span_dedup_global(df, min_tokens=1)


def test_bpe_encode_matches_single_node_reference(spark):
    """bpe_encode's chain-of-replaces must produce exactly the subword
    sequence of the classic iterative encoder (apply the lowest-rank
    applicable merge until none applies) for merges learned by
    bpe_train_merges — the in-order single-pass is exact because BPE
    learns a pair only after both symbols exist."""
    from pyspark.sql import Row

    from route81_spark.ops.corpus import bpe_encode, bpe_train_merges

    corpus = [
        "low low low low low lower lower newest newest newest",
        "newest newest newest widest widest widest low",
    ]
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(corpus)]
    )
    merges_df = bpe_train_merges(df, 10)
    ranks = {
        (r["sym_l"], r["sym_r"]): r["step"]
        for r in merges_df.collect()
    }

    def ref_encode(word):
        syms = list(word) + ["\x03"]
        while True:
            best = None
            for i, pair in enumerate(zip(syms, syms[1:])):
                if pair in ranks and (best is None or ranks[pair] < ranks[best[1]]):
                    best = (i, pair)
            if best is None:
                return syms
            l, r = best[1]
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out

    got = {}
    for r in bpe_encode(df, merges_df).collect():
        got.setdefault((r["doc_id"], r["wpos"]), []).append((r["spos"], r["sym"]))
    for d, t in enumerate(corpus):
        for w, word in enumerate(t.split()):
            syms = [s for _, s in sorted(got[(d, w)])]
            assert syms == ref_encode(word), (word, syms)
    # list-of-pairs form accepted too
    alt = bpe_encode(df, [("e", "s"), ("es", "t")]).count()
    assert alt > 0


def _ref_bpe_train(word_freqs: dict, n: int) -> list:
    """Single-node Sennrich trainer over a word-frequency dict (same
    tie-break as bpe_train_merges: count desc, left asc, right asc)."""
    words = {tuple(w) + ("\x03",): f for w, f in word_freqs.items()}
    merges = []
    for _ in range(n):
        pairs: dict = {}
        for syms, f in words.items():
            for p in zip(syms, syms[1:]):
                pairs[p] = pairs.get(p, 0) + f
        if not pairs:
            break
        (l, r), _ = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((l, r))
        out: dict = {}
        for syms, f in words.items():
            s, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    s.append(l + r)
                    i += 2
                else:
                    s.append(syms[i])
                    i += 1
            out[tuple(s)] = out.get(tuple(s), 0) + f
        words = out
    return merges


def _ref_bpe_encode(word: str, merges: list) -> list:
    """Apply merges IN LEARNED ORDER, one left-to-right pass each —
    bpe_encode's exactness contract for trainer-produced tables."""
    syms = list(word) + ["\x03"]
    for l, r in merges:
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                out.append(l + r)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def test_bpe_encode_deep_table_256_merges(spark):
    """Realistic merge depth (r6 verdict task): at >48 merges
    bpe_encode switches to the vocab-level word-map path (distinct
    words run the chain in checkpoint-separated slices, then broadcast
    back) — pin 256 learned merges against the single-node reference
    encoder, and pin shallow==deep equality on the same table."""
    import random

    from pyspark.sql import Row

    from route81_spark.ops.corpus import bpe_encode

    rng = random.Random(41)
    vocab = sorted(
        {
            "".join(rng.choice("abcdefgh") for _ in range(rng.randint(3, 9)))
            for _ in range(300)
        }
    )
    freqs = {w: rng.randint(1, 40) for w in vocab}
    merges = _ref_bpe_train(freqs, 256)
    assert len(merges) == 256, len(merges)  # corpus rich enough

    docs, flat = [], []
    for d in range(24):
        ws = [vocab[(d * 17 + j * 7) % len(vocab)] for j in range(30)]
        docs.append(Row(doc_id=d, text=" ".join(ws)))
        flat.append(ws)
    df = spark.createDataFrame(docs)

    deep = bpe_encode(df, merges)  # auto word-map (256 > 48)
    got: dict = {}
    for r in deep.collect():
        got.setdefault((r["doc_id"], r["wpos"]), []).append(
            (r["spos"], r["sym"])
        )
    for d, ws in enumerate(flat):
        for w, word in enumerate(ws):
            syms = [s for _, s in sorted(got[(d, w)])]
            assert syms == _ref_bpe_encode(word, merges), (word, syms)

    # the two regimes are the same function: force-shallow on a slice
    # of the table must equal force-deep
    small = merges[:12]
    rows_deep = sorted(
        map(tuple, bpe_encode(df, small, word_map=True, segment=4).collect())
    )
    rows_shallow = sorted(
        map(tuple, bpe_encode(df, small, word_map=False).collect())
    )
    assert rows_deep == rows_shallow


def test_video_dedup_frame_overlap_and_hot_frame_guard(spark):
    from pyspark.sql import Row

    from route81_spark.ops.multimodal import frame_overlap_pairs, video_dedup

    def fr(vid, shas):
        return [Row(media_id=vid, frame_sha=s) for s in shas]

    frames = spark.createDataFrame(
        fr(1, ["a", "b", "c", "d"])          # original
        + fr(2, ["a", "b", "c"])             # trimmed cut: jac 3/4
        + fr(3, ["x", "y", "z", "a"])        # one shared frame: 1/7 < 3/10
        + fr(4, ["q", "r"])                  # unrelated
    )
    pairs = frame_overlap_pairs(frames, threshold_ratio=(3, 10)).collect()
    assert [(r["id_a"], r["id_b"], r["shared"]) for r in pairs] == [(1, 2, 3)]
    surv = {r["media_id"]: r["n_frames"] for r in video_dedup(frames).collect()}
    assert surv == {1: 4, 3: 4, 4: 2}
    # stop-frame guard: a sha in EVERY video (intro card) must not
    # create candidate pairs on its own
    intro = frames.unionByName(
        spark.createDataFrame(
            [Row(media_id=v, frame_sha="intro") for v in (1, 2, 3, 4)]
        )
    )
    p2 = frame_overlap_pairs(
        intro, threshold_ratio=(3, 10), max_videos_per_frame=3
    ).collect()
    # (1,2) still pairs (now 3 shared of union 6 -> 0.5); (3,4) must
    # NOT appear even though they share the ubiquitous intro frame
    assert {(r["id_a"], r["id_b"]) for r in p2} == {(1, 2)}


def test_audio_dedup_planted_near_dups_and_gate(spark):
    """Spectral fingerprints over REALLY-encoded WAV: each planted
    noisy copy collapses onto its base (min-id representative); the
    distinct-profile clip survives. Non-WAV payloads can't be compared
    -> decodable false, all survive."""
    from route81_spark.ops.multimodal import (
        audio_dedup, audio_fingerprint, synthetic_audio_corpus, synthetic_media,
    )
    from route81_spark.pipeline import apply_pipeline

    corp = synthetic_audio_corpus(spark, 24)
    fps = audio_fingerprint(corp).collect()
    assert all(r["decodable"] and r["afp"] is not None for r in fps)
    surv = sorted(r["media_id"] for r in audio_dedup(corp).collect())
    assert surv == sorted([3 * g for g in range(8)] + [3 * g + 2 for g in range(8)])
    via_stage = apply_pipeline(corp, [{"$audioDedup": {}}])
    assert sorted(r["media_id"] for r in via_stage.collect()) == surv
    fake = synthetic_media(spark, 12)  # octet-stream payloads
    assert audio_dedup(fake).count() == 12


def test_audio_energy_fingerprint_integer_corpus(spark):
    """The integer energy-envelope path (aefp64 over the int corpus):
    Spark fingerprints through the REAL WAV encode/decode round trip
    must equal direct-numpy aefp64 on the generated samples; planted
    near-dups collapse onto min-id under method='energy'; the stereo
    mono-mix is an exact channel sum."""
    import numpy as np

    from route81_spark.ops.multimodal import (
        aefp64, audio_dedup, audio_fingerprint, decode_wav_pcm16,
        synthetic_audio_corpus_int,
    )

    corp = synthetic_audio_corpus_int(spark, 24)
    raw = {r["media_id"]: bytes(r["payload"]) for r in corp.collect()}
    fps = {r["media_id"]: r["afp"]
           for r in audio_fingerprint(corp, method="energy").collect()}
    for mid, payload in raw.items():
        samples, rate = decode_wav_pcm16(payload)
        assert rate == 8000 and samples.shape == (1950, 1)
        assert fps[mid] == aefp64(samples)
    surv = sorted(r["media_id"] for r in
                  audio_dedup(corp, max_hamming=3, method="energy").collect())
    assert surv == sorted([3 * g for g in range(8)] + [3 * g + 2 for g in range(8)])
    # exact stereo mono-mix: duplicating the channel scales every frame
    # energy by 4 — comparisons (and so the fingerprint) are unchanged
    mono, _ = decode_wav_pcm16(raw[0])
    stereo = np.concatenate([mono, mono], axis=1)
    assert aefp64(stereo) == aefp64(mono)


def test_hard_negatives_cross_label_only(spark):
    """Negatives must (a) exclude every same-label vector — including
    the query itself — and (b) rank the closest wrong-label vector
    first."""
    from pyspark.sql import Row

    from route81_spark.ops.similarity import hard_negatives

    emb = spark.createDataFrame(
        [
            Row(vec_id=0, embedding=[1.0, 0.0], label=0),   # query
            Row(vec_id=1, embedding=[0.99, 0.1], label=0),  # same label: out
            Row(vec_id=2, embedding=[0.9, 0.4], label=1),   # hard negative
            Row(vec_id=3, embedding=[0.0, 1.0], label=1),   # easy negative
        ],
        "vec_id long, embedding array<float>, label int",
    )
    q = emb.filter("vec_id = 0").select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("label").alias("query_label"),
    )
    rows = hard_negatives(emb, q, k=2).orderBy("rank").collect()
    assert [(r["vec_id"], r["rank"]) for r in rows] == [(2, 1), (3, 2)]
    assert all(r["label"] == 1 for r in rows)


def test_ccnet_buckets_tiles_per_group(spark):
    from pyspark.sql import Row

    from route81_spark.ops.corpus import ccnet_buckets

    # source A: 6 docs -> tiles of 2/2/2; fluent docs reuse the corpus's
    # common bigrams (low NLL), the rare-bigram docs land in the tail
    docs = spark.createDataFrame(
        [Row(doc_id=i, source="A", text="the cat sat on the mat " * 3)
         for i in range(4)]
        + [Row(doc_id=10 + i, source="A", text=f"zq{i} wx{i} kv{i} jm{i}")
           for i in range(2)]
        + [Row(doc_id=20, source="B", text="solo doc here")]
    )
    out = {r["doc_id"]: r for r in ccnet_buckets(docs).collect()}
    assert [out[i]["bucket"] for i in range(4)] == [1, 1, 2, 2]
    assert {out[10]["bucket"], out[11]["bucket"]} == {3}
    assert out[20]["bucket"] == 1  # singleton group -> head
    # every group uses buckets 1..3 contiguously
    assert all(1 <= r["bucket"] <= 3 for r in out.values())


def test_bpe_max_words_prune_and_ccnet_approx(spark):
    from pyspark.sql import Row

    from route81_spark.ops.corpus import (
        bpe_train_merges, ccnet_buckets, ccnet_buckets_approx,
    )

    df = spark.createDataFrame(
        [Row(doc_id=0, text="aa aa aa aa bb bb zz")]
    )
    # with the hapax 'zz' pruned away, merges come only from aa/bb
    got = bpe_train_merges(df, 3, max_words=2).orderBy("step").collect()
    syms = {(r["sym_l"], r["sym_r"]) for r in got}
    assert ("z", "z") not in syms and ("zz", "\x03") not in syms
    # approx bucketing agrees with exact NTILE away from boundaries:
    # clearly-fluent docs land in bucket 1, clearly-rare ones in 3
    docs = spark.createDataFrame(
        [Row(doc_id=i, source="A", text="the cat sat on the mat " * 3)
         for i in range(6)]
        + [Row(doc_id=10 + i, source="A", text=f"zq{i} wx{i} kv{i} jm{i}")
           for i in range(3)]
    )
    exact = {r["doc_id"]: r["bucket"] for r in ccnet_buckets(docs).collect()}
    approx = {r["doc_id"]: r["bucket"] for r in ccnet_buckets_approx(docs).collect()}
    assert set(approx) == set(exact)
    assert all(approx[10 + i] == 3 for i in range(3))
    assert all(approx[i] in (1, exact[i]) for i in range(6))


def test_decontaminate_excise_merges_overlapping_hits(spark):
    """Excision (not just flagging): overlapping benchmark 5-gram hits
    merge into ONE cut interval; untouched docs pass through verbatim;
    a fully-contaminated doc empties."""
    import pytest
    from pyspark.sql import Row

    from route81_spark.ops.corpus import decontaminate_excise

    bench = spark.createDataFrame(
        [Row(doc_id=99, text="the quick brown fox jumps over")]
    )
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="intro words the quick brown fox jumps over outro text"),
            Row(doc_id=2, text="totally unrelated content with nothing shared at all"),
            Row(doc_id=3, text="the quick brown fox jumps"),
        ]
    )
    out = {r["doc_id"]: r for r in decontaminate_excise(docs, bench, n=5).collect()}
    # two overlapping 5-gram hits merge into the 6-token run [2, 8)
    assert (out[1]["n_dropped"], out[1]["clean_text"]) == (6, "intro words outro text")
    assert out[2]["n_dropped"] == 0
    assert (out[3]["n_dropped"], out[3]["clean_text"]) == (5, "")
    with pytest.raises(ValueError, match="n must"):
        decontaminate_excise(docs, bench, n=1)


def test_temperature_mixture_flattens_head_groups(spark):
    """T=2 must downsample the head group toward sqrt-proportional
    shares (low-resource groups keep ~everything); T=1 is the natural
    distribution (everything kept — shares already proportional)."""
    import pytest
    from pyspark.sql import Row

    from route81_spark.ops.corpus import temperature_mixture

    docs = spark.createDataFrame(
        [Row(doc_id=i, g="big", text="x") for i in range(400)]
        + [Row(doc_id=1000 + i, g="small", text="x") for i in range(100)]
    )
    out = temperature_mixture(docs, "g", 2.0).groupBy("g").count().collect()
    got = {r["g"]: r["count"] for r in out}
    # weights: 400^.5=20, 100^.5=10 -> shares 2/3, 1/3; T_total is
    # pinned by the small group (100/(1/3)=300): big target=200 of 400,
    # small target=100 of 100 (rate 1.0). Hash acceptance is
    # statistical around 200 for big; small keeps everything exactly.
    assert got["small"] == 100
    assert 160 <= got["big"] <= 240
    assert temperature_mixture(docs, "g", 1.0).count() == 500
    with pytest.raises(ValueError, match="temperature"):
        temperature_mixture(docs, "g", 0.0)


def test_fingerprint_dedup_against_index(spark):
    """Incremental perceptual dedup: new items within hamming threshold
    of ANY accepted fingerprint drop; fresh content and undecodable
    rows survive; the index is untouched. Works for both hash kinds
    (image dhash / audio afp via hash_col)."""
    from pyspark.sql import Row

    from route81_spark.ops.multimodal import (
        audio_fingerprint, fingerprint_dedup_against, image_dhash,
        synthetic_audio_corpus, synthetic_image_corpus,
    )

    corp = synthetic_image_corpus(spark, 24)
    h = image_dhash(corp)
    index = h.filter(F.col("media_id") % 3 == 0)
    new = h.filter(F.col("media_id") % 3 != 0)
    surv = sorted(
        r["media_id"] for r in fingerprint_dedup_against(new, index).collect()
    )
    assert surv == [3 * g + 2 for g in range(8)]
    # undecodable new rows pass through
    und = spark.createDataFrame(
        [Row(media_id=999, mime="image/gif", dhash=None, decodable=False)],
        "media_id long, mime string, dhash long, decodable boolean",
    )
    assert fingerprint_dedup_against(und, index).count() == 1
    # audio kind through hash_col
    ac = synthetic_audio_corpus(spark, 12)
    af = audio_fingerprint(ac)
    a_index = af.filter(F.col("media_id") % 3 == 0)
    a_new = af.filter(F.col("media_id") % 3 != 0)
    a_surv = sorted(
        r["media_id"]
        for r in fingerprint_dedup_against(a_new, a_index, hash_col="afp").collect()
    )
    assert a_surv == [3 * g + 2 for g in range(4)]


def test_fim_transform_reconstruction_invariant(spark):
    """PSM re-ordering must be lossless: suffix+prefix+middle token
    multisets reassemble the original doc, middle is non-empty, and
    rate=0 / short docs pass through untouched."""
    import pytest
    import re
    from pyspark.sql import Row

    from route81_spark.ops.corpus import fim_transform

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=" ".join(f"t{j}" for j in range(4 + i))) for i in range(12)]
        + [Row(doc_id=100, text="a b"), Row(doc_id=101, text="")]
    )
    out = {r["doc_id"]: r for r in fim_transform(docs, rate=1.0).collect()}
    m = re.compile(r"<fim_prefix> (.*) <fim_suffix> (.*) <fim_middle> (.*)")
    for i in range(12):
        assert out[i]["fim"] == 1
        pre, suf, mid = m.fullmatch(out[i]["text_out"]).groups()
        # exact in-order reconstruction: prefix + middle + suffix
        assert pre.split() + mid.split() + suf.split() == [
            f"t{j}" for j in range(4 + i)
        ]
        assert pre and mid, "prefix and middle must be non-empty"
    assert out[100]["fim"] == 0 and out[100]["text_out"] == "a b"
    assert out[101]["fim"] == 0 and out[101]["text_out"] == ""
    assert all(r["fim"] == 0 for r in fim_transform(docs, rate=0.0).collect())
    with pytest.raises(ValueError, match="rate"):
        fim_transform(docs, rate=1.5)


def test_pack_layout_offsets_contiguous(spark):
    """Within every (shard, bin): offsets start at 0, are contiguous
    (doc i+1 starts where doc i ends), and only the LAST doc of a bin
    may cross the budget (that is what makes the next doc open a new
    bin under exclusive-prefix binning)."""
    from pyspark.sql import Row

    from route81_spark.ops.corpus import pack_layout

    docs = spark.createDataFrame(
        [Row(doc_id=i, n_tokens=(i * 37) % 90 + 10) for i in range(200)]
    )
    rows = pack_layout(docs, budget_tokens=128, n_shards=4).collect()
    by_bin: dict = {}
    for r in rows:
        by_bin.setdefault((r["shard"], r["bin"]), []).append(r)
    assert sum(len(v) for v in by_bin.values()) == 200
    for (shard, b), docs_in in by_bin.items():
        docs_in.sort(key=lambda r: r["off_start"])
        assert docs_in[0]["off_start"] == 0
        for a, c in zip(docs_in, docs_in[1:]):
            assert c["off_start"] == a["off_end"]
        # all docs except possibly the last START inside the budget
        for r in docs_in[:-1]:
            assert r["off_start"] < 128


def test_chat_render_mask_spans_recover_assistant_text(spark):
    """The loss-mask contract, checked by construction: slicing the
    rendered text with each [start, end) span must recover exactly
    the assistant turn's content + '<|end|>' (and nothing else);
    all-user conversations get an empty mask; turn order follows the
    order columns, not input row order."""
    from pyspark.sql import Row

    from route81_spark.ops.corpus import chat_render
    from route81_spark.pipeline import apply_pipeline

    rows = [
        Row(conv_id=1, ts=3, role="assistant", content="sure, done"),
        Row(conv_id=1, ts=1, role="user", content="hi"),
        Row(conv_id=1, ts=2, role="user", content="do the thing"),
        Row(conv_id=1, ts=4, role="assistant", content="bye"),
        Row(conv_id=2, ts=1, role="user", content="lonely"),
    ]
    df = spark.createDataFrame(rows)
    out = {r["conv_id"]: r for r in chat_render(df, order_cols=("ts",)).collect()}

    r1 = out[1]
    assert r1["n_turns"] == 4
    assert r1["text"].startswith("<|user|>\nhi<|end|>\n<|user|>\ndo the thing")
    spans = list(zip(r1["mask"][0::2], r1["mask"][1::2]))
    got = [r1["text"][s:e] for s, e in spans]
    assert got == ["sure, done<|end|>", "bye<|end|>"]
    # nothing outside the spans contains assistant content
    assert r1["text"].count("sure, done") == 1

    r2 = out[2]
    assert r2["mask"] == [] and r2["n_turns"] == 1
    assert r2["text"] == "<|user|>\nlonely<|end|>\n"

    via_stage = apply_pipeline(
        df, [{"$chatRender": {"orderFields": ["ts"]}}]
    )
    assert {r["conv_id"]: r["text"] for r in via_stage.collect()} == {
        1: r1["text"], 2: r2["text"],
    }


def test_canary_round_trip_and_reproducibility(spark):
    """Planting is text-preserving (cutting ' CANARY-n ' back out
    restores the original byte-for-byte), detection finds EXACTLY the
    planted set at the planted offsets, unselected rows are untouched,
    and a re-run plants the identical canaries (hash-derived, no
    rand())."""
    from pyspark.sql import Row

    from route81_spark.ops.corpus import detect_canaries, insert_canaries

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"alpha bravo {i} charlie delta") for i in range(64)]
    )
    planted = insert_canaries(docs, rate=(1, 4), seed="t").collect()
    orig = {i: f"alpha bravo {i} charlie delta" for i in range(64)}
    n_sel = 0
    for r in planted:
        if not r["is_canary"]:
            assert r["text"] == orig[r["doc_id"]] and r["canary_id"] is None
            continue
        n_sel += 1
        assert r["canary_id"].startswith("CANARY-")
        assert r["text"].replace(f" {r['canary_id']} ", "", 1) == orig[r["doc_id"]]
    assert 0 < n_sel < 64
    det = detect_canaries(
        spark.createDataFrame([Row(doc_id=r["doc_id"], text=r["text"]) for r in planted])
    ).collect()
    got = {(r["doc_id"], r["canary"]) for r in det}
    want = {(r["doc_id"], r["canary_id"]) for r in planted if r["is_canary"]}
    assert got == want
    for r in det:
        full = {p["doc_id"]: p["text"] for p in planted}[r["doc_id"]]
        s = r["found_at"] - 1
        assert full[s : s + len(r["canary"])] == r["canary"]
    again = insert_canaries(docs, rate=(1, 4), seed="t").collect()
    assert {(r["doc_id"], r["canary_id"]) for r in again} == {
        (r["doc_id"], r["canary_id"]) for r in planted
    }


def test_normalize_text_stages_and_idempotence(spark):
    """Each normalization class folds as documented; the chain is
    idempotent (normalize(normalize(x)) == normalize(x)); tabs/newlines
    survive step 1 while other control chars don't; the $normalizeText
    stage rewrites in place."""
    from pyspark.sql import Row

    from route81_spark.ops.text import normalize_text
    from route81_spark.pipeline import apply_pipeline

    cases = [
        ("\x00a\x07b\x7fc", "abc"),                      # control strip
        ("‘q’ “w”", "'q' \"w\""),     # quote folding
        ("a–b—c…", "a-b-c..."),            # dashes + ellipsis
        ("a  b　c", "a b c"),               # unicode spaces
        ("a \t  b", "a b"),                               # run collapse
        ("a \n b\n\n\n\n\nc", "a\nb\n\nc"),               # newline hygiene
        ("  padded  ", "padded"),
    ]
    df = spark.createDataFrame([Row(i=i, text=t) for i, (t, _) in enumerate(cases)])
    out = {r["i"]: r["clean"] for r in
           df.select("i", normalize_text(F.col("text")).alias("clean")).collect()}
    for i, (_, want) in enumerate(cases):
        assert out[i] == want, (i, out[i], want)
    twice = df.select(
        "i", normalize_text(normalize_text(F.col("text"))).alias("clean")
    ).collect()
    assert {r["i"]: r["clean"] for r in twice} == out
    staged = apply_pipeline(df, [{"$normalizeText": {}}]).collect()
    assert {r["i"]: r["text"] for r in staged} == out


def test_stupid_backoff_tiers_hand_computed(spark):
    """Every backoff tier against hand arithmetic (train: 'a b c d' ->
    N=4, V=4): seen trigram scores its raw ratio; unseen trigram with
    seen suffix bigram takes 0.4 * c2/c1; unseen bigram falls to
    0.4*0.4*(c(w3)+1)/(N+V); full OOV bottoms at the add-one floor.
    Docs under 3 tokens emit no row; the $stupidBackoff stage agrees."""
    import math

    from pyspark.sql import Row

    from route81_spark.ops.corpus import stupid_backoff_score
    from route81_spark.pipeline import apply_pipeline

    train = spark.createDataFrame([Row(doc_id=0, text="a b c d")])
    score = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b c"),   # seen trigram: S = 1/1
            Row(doc_id=2, text="x b c"),   # backoff 1: 0.4 * (1/1)
            Row(doc_id=3, text="x y c"),   # backoff 2: 0.4*0.4*(1+1)/8
            Row(doc_id=4, text="x y z"),   # OOV floor: 0.4*0.4*(0+1)/8
            Row(doc_id=5, text="a b"),     # <3 tokens: no row
        ]
    )
    got = {
        r["doc_id"]: (r["n_trigrams"], r["sb_nll"])
        for r in stupid_backoff_score(score, train_on=train).collect()
    }
    r6 = lambda x: math.floor(x * 1e6 + 0.5) / 1e6
    assert got == {
        1: (1, r6(-math.log(1.0))),
        2: (1, r6(-math.log(0.4 * 1.0))),
        3: (1, r6(-math.log(0.4 * (0.4 * (2 / 8))))),
        4: (1, r6(-math.log(0.4 * (0.4 * (1 / 8))))),
    }
    # self-trained via the stage: both trigrams seen with
    # context-bigram count 1 -> S = 1/1 each, nll exactly 0
    st = apply_pipeline(train, [{"$stupidBackoff": {}}]).collect()
    assert st[0]["n_trigrams"] == 2 and st[0]["sb_nll"] == 0.0


def test_snapshot_diff_statuses_and_stage(spark):
    """All four statuses classified correctly; the $snapshotDiff stage
    reads the OLD snapshot through the $lookup collection hook with
    the pipeline input as the NEW side."""
    from pyspark.sql import Row

    from route81_spark.ops.corpus import snapshot_diff
    from route81_spark.pipeline import apply_pipeline, compiler

    old = spark.createDataFrame(
        [Row(doc_id=1, text="same"), Row(doc_id=2, text="before"),
         Row(doc_id=3, text="gone")]
    )
    new = spark.createDataFrame(
        [Row(doc_id=1, text="same"), Row(doc_id=2, text="after"),
         Row(doc_id=4, text="fresh")]
    )
    got = {r["doc_id"]: r for r in snapshot_diff(old, new).collect()}
    assert {i: r["status"] for i, r in got.items()} == {
        1: "unchanged", 2: "changed", 3: "removed", 4: "added",
    }
    assert got[3]["new_hash"] is None and got[4]["old_hash"] is None
    assert got[1]["old_hash"] == got[1]["new_hash"]
    compiler.set_collection_resolver(lambda n: {"yesterday": old}[n])
    try:
        staged = apply_pipeline(new, [{"$snapshotDiff": {"from": "yesterday"}}])
        assert {r["doc_id"]: r["status"] for r in staged.collect()} == {
            i: r["status"] for i, r in got.items()
        }
    finally:
        compiler.set_collection_resolver(None)


def test_bloom_dedup_drops_planted_shared_units(spark):
    """A probe paragraph that also appears in the reference slice is
    dropped; unique probe paragraphs survive in order; reference docs
    never appear in the output."""
    from route81_spark.ops.corpus import bloom_paragraph_dedup

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="alpha beta\nshared paragraph here"),
            Row(doc_id=100, text="shared paragraph here\nunique probe tail"),
            Row(doc_id=101, text="all fresh\nnothing seen"),
        ]
    )
    out = {
        r["doc_id"]: r
        for r in bloom_paragraph_dedup(
            df, F.col("doc_id") < 10, sep="\n"
        ).collect()
    }
    assert set(out) == {100, 101}
    assert (out[100]["n_units"], out[100]["n_seen"]) == (2, 1)
    assert out[100]["clean_text"] == "unique probe tail"
    assert (out[101]["n_seen"], out[101]["clean_text"]) == (
        0, "all fresh\nnothing seen")


def test_bloom_bitmap_matches_python_reference_and_fp_determinism(spark):
    """With a deliberately tiny filter (m=64 bits, k=2) false positives
    MUST occur and MUST match an independent hashlib.md5 reference —
    pinning both the cross-engine hash arithmetic and the bitwise
    membership semantics."""
    import hashlib

    from route81_spark.ops.corpus import (
        bloom_apply, bloom_build, bloom_dense_words)

    P = 2_147_483_647

    def positions(u, k, m):
        base = int(hashlib.md5(f"bloom0|{u}".encode()).hexdigest()[:15], 16)
        h1, h2 = base & P, base >> 31
        return [((h1 + i * (2 * h2 + 1)) % P) % m for i in range(k)]

    m, k = 64, 2
    ref_units = [f"ref unit {i}" for i in range(12)]
    probe_units = [f"probe unit {i}" for i in range(40)]
    ref = spark.createDataFrame([Row(doc_id=1, text="\n".join(ref_units))])
    probe = spark.createDataFrame([Row(doc_id=2, text="\n".join(probe_units))])

    bits = set()
    for u in ref_units:
        bits.update(positions(u, k, m))
    want_words = [0]
    for p in bits:
        want_words[0] |= 1 << p
    # sign-safe compare: Spark bit_or yields a signed 64-bit word
    def signed(w):
        return w - (1 << 64) if w >= (1 << 63) else w

    got_words = bloom_dense_words(
        bloom_build(ref, sep="\n", m_bits=m, k=k), m_bits=m)
    assert got_words == [signed(want_words[0])]

    out = bloom_apply(probe, got_words, sep="\n", k=k).collect()[0]
    want_seen = [
        u for u in probe_units
        if all((want_words[0] >> p) & 1 for p in positions(u, k, m))
    ]
    assert out["n_seen"] == len(want_seen)
    assert out["clean_text"] == "\n".join(
        u for u in probe_units if u not in want_seen)
    # the tiny filter is ~half full: false positives must actually occur
    assert 0 < len(want_seen) < len(probe_units)


def test_bloom_apply_carry_cols(spark):
    """carry_cols rides extra columns through the scrub projection
    row-for-row (the r14 optimization that let incremental_curation
    drop its re-join): same n_units/n_seen/clean_text as the bare
    call, plus the carried column untouched."""
    from route81_spark.ops.corpus import (
        bloom_apply, bloom_build, bloom_dense_words)

    ref = spark.createDataFrame(
        [Row(doc_id=1, text="aa\nbb\ncc")])
    probe = spark.createDataFrame(
        [Row(doc_id=2, text="bb\ndd", status="added"),
         Row(doc_id=3, text="ee\ncc\nff", status="changed")])
    words = bloom_dense_words(bloom_build(ref, sep="\n"))
    bare = {r["doc_id"]: r for r in bloom_apply(
        probe, words, sep="\n").collect()}
    carried = {r["doc_id"]: r for r in bloom_apply(
        probe, words, sep="\n", carry_cols=("status",)).collect()}
    assert set(carried) == set(bare) == {2, 3}
    for i, st in ((2, "added"), (3, "changed")):
        assert carried[i]["status"] == st
        for c in ("n_units", "n_seen", "clean_text"):
            assert carried[i][c] == bare[i][c]


def test_bloom_dedup_stage(spark):
    from route81_spark.pipeline import apply_pipeline

    df = spark.createDataFrame(
        [Row(doc_id=i, text=f"unit a{i}\nunit b{i}") for i in range(20)]
    )
    staged = apply_pipeline(
        df, [{"$bloomDedup": {"sep": "\n", "refSplit": [1, 2]}}])
    assert set(staged.columns) == {"doc_id", "n_units", "n_seen", "clean_text"}
    rows = staged.collect()
    assert 0 < len(rows) < 20  # both splits non-empty at n=20
    assert all(r["n_units"] == 2 for r in rows)


def _cdc_py_chunks(text, k=8, divisor=16):
    """Independent hashlib reference for content-defined chunking."""
    import hashlib

    def h(s, seed):
        return int(hashlib.md5(f"{seed}|{s}".encode()).hexdigest()[:15], 16)

    bnd = [
        j for j in range(k, len(text))
        if h(text[j - k:j], "cdcb0") % divisor == 0
    ] if len(text) >= k + 1 else []
    starts = [0] + [b for b in bnd]
    ends = bnd + [len(text)]
    return [text[s:e] for s, e in zip(starts, ends)]


def test_cdc_boundaries_match_hashlib_reference(spark):
    from route81_spark.ops.dedup import cdc_boundaries

    texts = [
        "the quick brown fox jumps over the lazy dog again and again",
        "short",
        "x" * 40,
    ]
    df = spark.createDataFrame([Row(i=i, text=t) for i, t in enumerate(texts)])
    got = {
        r["i"]: list(r["b"])
        for r in df.select("i", cdc_boundaries(F.col("text")).alias("b")).collect()
    }
    for i, t in enumerate(texts):
        chunks = _cdc_py_chunks(t)
        # Spark boundaries are 1-based end positions of non-final chunks
        want = []
        pos = 0
        for c in chunks[:-1]:
            pos += len(c)
            want.append(pos)
        assert got[i] == want, (t, got[i], want)


def test_cdc_chunks_realign_after_local_edit(spark):
    """The defining CDC property: prepending text shifts every char
    position, but chunk boundaries re-synchronize at the first
    content-defined cut — the suffix chunks are IDENTICAL, so a
    fixed-window scheme's total re-upload becomes a one-chunk delta."""
    base = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango "
        "uniform victor whiskey xray yankee zulu one two three four five"
    )
    a = _cdc_py_chunks(base)
    b = _cdc_py_chunks("EDITED PREFIX >> " + base)
    assert len(a) > 3 and len(b) > 3
    # common suffix of the two chunk lists covers all but the head
    n = 0
    while n < min(len(a), len(b)) and a[-1 - n] == b[-1 - n]:
        n += 1
    assert n >= len(a) - 2, (a, b)

    from route81_spark.ops.dedup import cdc_chunk_stats

    df = spark.createDataFrame(
        [Row(doc_id=1, text=base), Row(doc_id=2, text="EDITED PREFIX >> " + base)]
    )
    got = {r["doc_id"]: r for r in cdc_chunk_stats(df).collect()}
    # every re-synced suffix chunk of doc 2 is charged as duplicate
    assert got[2]["n_dup_chunks"] >= n
    assert got[1]["n_dup_chunks"] == 0


def test_cdc_chunk_stats_identical_doc_fully_duplicated(spark):
    from route81_spark.ops.dedup import cdc_chunk_stats
    from route81_spark.pipeline import apply_pipeline

    t = "repeat me " * 20
    df = spark.createDataFrame(
        [Row(doc_id=1, text=t), Row(doc_id=2, text=t)]
    )
    got = {r["doc_id"]: r for r in cdc_chunk_stats(df).collect()}
    assert got[2]["n_dup_chunks"] == got[2]["n_chunks"]  # all seen at doc 1
    assert got[2]["dup_chars"] == got[2]["total_chars"] == len(t)
    staged = apply_pipeline(df, [{"$cdcChunks": {}}]).collect()
    assert {r["doc_id"]: r["n_chunks"] for r in staged} == {
        i: r["n_chunks"] for i, r in got.items()
    }


def test_containment_catches_doc_inside_doc_where_jaccard_misses(spark):
    """A short doc pasted verbatim into a much longer one: containment
    ~= 1.0 (flagged) while Jaccard resemblance is far below any usable
    dedup threshold — the case this operator exists for."""
    from route81_spark.ops.dedup import containment_pairs

    quote = "the sky above the port was the color of television"
    filler = " ".join(f"w{i} w{i} filler{i}" for i in range(60))
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text=quote),
            Row(doc_id=2, text=filler + " " + quote + " " + filler[::-1]),
            Row(doc_id=3, text="completely unrelated text about nothing at all"),
        ]
    )
    got = containment_pairs(df).collect()
    assert [(r["id_a"], r["id_b"]) for r in got] == [(1, 2)]
    assert got[0]["containment"] >= 0.9
    # Jaccard on the same pair is tiny: |A| << |B|
    assert got[0]["inter"] / (
        got[0]["size_a"] + got[0]["size_b"] - got[0]["inter"]
    ) < 0.15


def test_containment_stop_shingle_prune_and_stage(spark):
    """Shingles present in > max_df docs are excluded from intersection
    counting (never from set sizes): a pair whose overlap is ONLY the
    corpus-wide boilerplate shingle reports no containment."""
    from route81_spark.ops.dedup import containment_pairs
    from route81_spark.pipeline import apply_pipeline

    boiler = "subscribe to our newsletter today"
    df = spark.createDataFrame(
        [Row(doc_id=i, text=f"unique{i} body{i} stuff{i} " + boiler)
         for i in range(10)]
    )
    assert containment_pairs(df, max_df=4).collect() == []
    # same corpus without the prune: every pair shares the boiler shingles
    assert len(containment_pairs(df, max_df=1000).collect()) > 0
    staged = apply_pipeline(df, [{"$containment": {"maxDf": 4}}])
    assert staged.collect() == []


def test_novelty_scores_hand_computed(spark):
    """Doc 3 copies doc 1 verbatim -> zero novelty for both (every
    shared shingle has df=2); the lone-content doc scores 1.0."""
    from route81_spark.ops.text import novelty_scores
    from route81_spark.pipeline import apply_pipeline

    t = "alpha beta gamma delta epsilon zeta"
    df = spark.createDataFrame(
        [Row(doc_id=1, text=t), Row(doc_id=3, text=t),
         Row(doc_id=2, text="wholly original content right here")]
    )
    got = {r["doc_id"]: r for r in novelty_scores(df).collect()}
    assert got[1]["novelty"] == 0.0 and got[3]["novelty"] == 0.0
    assert got[2]["novelty"] == 1.0
    assert got[2]["n_unique"] == got[2]["n_shingles"]
    staged = apply_pipeline(df, [{"$novelty": {}}])
    assert {r["doc_id"]: r["novelty"] for r in staged.collect()} == {
        i: r["novelty"] for i, r in got.items()}


def test_zipf_fit_recovers_planted_power_law(spark):
    """Tokens planted with freq(r) = C / r (slope -1 exactly in the
    ln-ln plane for every sampled rank) must fit to ~-1."""
    import math

    from route81_spark.ops.corpus import zipf_fit

    words = []
    for r in range(1, 33):
        words += [f"tok{r:02d}"] * (3200 // r)
    df = spark.createDataFrame([Row(doc_id=1, text=" ".join(words))])
    row = zipf_fit(df, top_v=32).collect()[0]
    assert row["n_top"] == 32 and row["top_count"] == 3200
    assert abs(row["zipf_slope"] - (-1.0)) < 0.02
    # independent closed-form check on the exact planted counts
    xs = [math.log(r) for r in range(1, 33)]
    ys = [math.log(3200 // r) for r in range(1, 33)]
    n = 32.0
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    want = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert abs(row["zipf_slope"] - want) < 1e-4


def test_char_entropy_known_distributions(spark):
    import math

    from route81_spark.ops.text import char_entropy

    df = spark.createDataFrame(
        [Row(doc_id=1, text="aaaa"), Row(doc_id=2, text="abab"),
         Row(doc_id=3, text="abcdefgh")]
    )
    got = {r["doc_id"]: r["e"] for r in df.select(
        "doc_id", char_entropy(F.col("text")).alias("e")).collect()}
    assert got[1] == 0.0 and abs(got[2] - 1.0) < 1e-12
    assert abs(got[3] - 3.0) < 1e-12
    assert math.isfinite(got[1])


def test_intradoc_dedup_vs_global_semantics(spark):
    """The discriminating corpus: a line repeated INSIDE doc 1 and also
    present in doc 2. Intra-doc keeps one copy in EACH doc; global
    keep-first leaves it only in doc 1."""
    from route81_spark.ops.corpus import intradoc_line_dedup, line_dedup_global
    from route81_spark.pipeline import apply_pipeline

    df = spark.createDataFrame(
        [Row(doc_id=1, text="dup\nuniq1\ndup"), Row(doc_id=2, text="dup\nuniq2")]
    )
    intra = {r["doc_id"]: r for r in intradoc_line_dedup(df, sep="\n").collect()}
    assert intra[1]["clean_text"] == "dup\nuniq1"
    assert intra[2]["clean_text"] == "dup\nuniq2"  # survives in BOTH docs
    glob = {r["doc_id"]: r for r in line_dedup_global(df, sep="\n").collect()}
    assert glob[1]["clean_text"] == "dup\nuniq1"
    assert glob[2]["clean_text"] == "uniq2"  # global keep-first drops it here
    staged = apply_pipeline(df, [{"$intradocDedup": {"sep": "\n"}}])
    assert {r["doc_id"]: r["clean_text"] for r in staged.collect()} == {
        i: r["clean_text"] for i, r in intra.items()}


def test_cluster_balanced_sample_quota_and_determinism(spark):
    """Every cluster contributes exactly min(n_per, cluster_size) picks,
    pick order is stable across runs, and a skewed cluster (90% of the
    corpus) cannot exceed its quota — the flattening guarantee."""
    import math

    from route81_spark.ops.similarity import cluster_balanced_sample

    def unit(theta):
        return [math.cos(theta), math.sin(theta)] + [0.0] * 6

    rows = [Row(vec_id=i, embedding=unit(0.01 * (i % 5))) for i in range(90)]
    rows += [Row(vec_id=100 + i, embedding=unit(1.5 + 0.01 * i)) for i in range(6)]
    emb = spark.createDataFrame(rows)
    cents = spark.createDataFrame(
        [Row(centroid_id=0, centroid_vec=unit(0.0)),
         Row(centroid_id=1, centroid_vec=unit(1.55))]
    )
    out = cluster_balanced_sample(emb, cents, n_per=8).collect()
    by_c = {}
    for r in out:
        by_c.setdefault(r["centroid_id"], []).append(r)
    assert len(by_c[0]) == 8 and by_c[0][0]["cluster_size"] == 90
    assert len(by_c[1]) == 6 and by_c[1][0]["cluster_size"] == 6  # < quota
    again = cluster_balanced_sample(emb, cents, n_per=8).collect()
    assert sorted((r["centroid_id"], r["vec_id"], r["pick_rank"]) for r in out) \
        == sorted((r["centroid_id"], r["vec_id"], r["pick_rank"]) for r in again)


def test_budget_select_prefix_semantics(spark):
    """Kept set = the exact best-first prefix: the doc that would push
    the running total past the budget is dropped AND nothing after it
    sneaks in (no skip-and-continue); ties break by id."""
    from route81_spark.ops.corpus import budget_select
    from route81_spark.pipeline import apply_pipeline

    rows = [
        Row(doc_id=1, priority=100, n_tokens=40),
        Row(doc_id=2, priority=90, n_tokens=50),
        Row(doc_id=3, priority=80, n_tokens=30),   # cum 120 > 100 -> dropped
        Row(doc_id=4, priority=70, n_tokens=5),    # would fit, but prefix rule
        Row(doc_id=5, priority=100, n_tokens=5),   # ties with 1, id 5 after 1
    ]
    df = spark.createDataFrame(rows)
    got = budget_select(df, "priority", "n_tokens", budget=100).collect()
    assert [(r["doc_id"], r["sel_rank"], r["cum_tokens"]) for r in got] == [
        (1, 1, 40), (5, 2, 45), (2, 3, 95)]
    staged = apply_pipeline(df, [{"$budgetSelect": {"budget": 100}}])
    assert {r["doc_id"] for r in staged.collect()} == {1, 5, 2}


def test_contrastive_triplets_hand_computed(spark):
    """Planted geometry: anchor A (label 0) has a same-label near-twin
    P, a cross-label impostor N sitting CLOSER than P (the hard
    negative), and a far random R. Triplet = (A, P, N); margin
    negative because the impostor is closer; label-singleton anchors
    emit nothing."""
    import math

    from route81_spark.ops.similarity import contrastive_triplets

    def unit(theta):
        return [math.cos(theta), math.sin(theta)] + [0.0] * 6

    emb = spark.createDataFrame(
        [Row(vec_id=1, embedding=unit(0.00), label=0),   # anchor
         Row(vec_id=2, embedding=unit(0.20), label=0),   # positive
         Row(vec_id=3, embedding=unit(0.05), label=1),   # hard negative
         Row(vec_id=4, embedding=unit(2.50), label=1),   # far
         Row(vec_id=9, embedding=unit(1.00), label=7)]   # singleton label
    )
    anchors = emb.filter(F.col("vec_id").isin(1, 9)).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("embedding").alias("anchor_vec"),
        F.col("label").alias("anchor_label"),
    )
    got = contrastive_triplets(emb, anchors).collect()
    assert len(got) == 1  # anchor 9's label has no positive -> dropped
    r = got[0]
    assert (r["anchor_id"], r["pos_id"], r["neg_id"]) == (1, 2, 3)
    assert r["margin"] < 0  # impostor closer than positive
    assert abs(r["pos_score"] - math.cos(0.20)) < 1e-6
    assert abs(r["neg_score"] - math.cos(0.05)) < 1e-6


def test_merge_minhash_signatures_union_property(spark):
    """The MinHash invariant that makes incremental indexing sound:
    sig(S1 ∪ S2) == elementwise-min(sig(S1), sig(S2)). With 1-token
    shingles the shingle set IS the token set, so concatenating two
    token-disjoint texts is an exact set union — computed sig of the
    concatenation must equal the merged sig of the parts."""
    from route81_spark.ops.dedup import merge_minhash_signatures, minhash_signatures

    t1 = "alpha bravo charlie delta"
    t2 = "echo foxtrot golf hotel india"
    a = minhash_signatures(
        spark.createDataFrame([Row(doc_id=1, text=t1)]), shingle_n=1)
    b = minhash_signatures(
        spark.createDataFrame([Row(doc_id=1, text=t2)]), shingle_n=1)
    merged = merge_minhash_signatures(a, b).collect()[0]
    full = minhash_signatures(
        spark.createDataFrame([Row(doc_id=1, text=t1 + " " + t2)]),
        shingle_n=1).collect()[0]
    assert [merged[f"mh{j}"] for j in range(16)] == \
        [full[f"mh{j}"] for j in range(16)]
    # one-sided ids pass through unchanged
    c = minhash_signatures(
        spark.createDataFrame([Row(doc_id=2, text="solo doc here")]),
        shingle_n=1)
    m2 = {r["doc_id"]: r for r in merge_minhash_signatures(a, c).collect()}
    assert [m2[2][f"mh{j}"] for j in range(16)] == \
        [c.collect()[0][f"mh{j}"] for j in range(16)]


def test_gate_attribution_waterfall_sums_and_order(spark):
    """Waterfall first-fails + pass == total; marginal >= waterfall per
    rule; a doc failing lang AND length attributes to lang (first in
    declared order)."""
    from route81_spark.ops.text import gate_attribution
    from route81_spark.pipeline import apply_pipeline

    en = "the and of to a " * 8                      # passes everything
    de_long = "der die und das ist " * 30            # fails lang AND too_long
    short_en = "the and of"                          # fails too_short
    df = spark.createDataFrame(
        [Row(doc_id=1, text=en), Row(doc_id=2, text=de_long),
         Row(doc_id=3, text=short_en)]
    )
    got = {r["rule"]: r for r in gate_attribution(
        df, min_quality=0.0, min_tokens=5, max_tokens=100).collect()}
    assert got["lang"]["n_fail"] == 1 and got["lang"]["n_first_fail"] == 1
    assert got["too_long"]["n_fail"] == 1      # de_long IS too long...
    assert got["too_long"]["n_first_fail"] == 0  # ...but lang claimed it
    assert got["too_short"]["n_first_fail"] == 1
    assert got["pass"]["n_first_fail"] == 1
    total_first = sum(r["n_first_fail"] for r in got.values())
    assert total_first == 3
    staged = apply_pipeline(df, [{"$gateAttribution": {
        "minQuality": 0.0, "minTokens": 5, "maxTokens": 100}}])
    assert {r["rule"]: r["n_first_fail"] for r in staged.collect()} == {
        k: r["n_first_fail"] for k, r in got.items()}


def test_distribution_drift_hand_computed(spark):
    """Identical snapshots -> TV 0; disjoint vocabularies -> TV 1;
    a hand-computed mixed case matches the exact rational value."""
    from route81_spark.ops.corpus import distribution_drift
    from route81_spark.pipeline import apply_pipeline, compiler

    a = spark.createDataFrame([Row(doc_id=1, text="x x y")])
    same = distribution_drift(a, a).collect()[0]
    assert same["tv_num"] == 0 and same["tv_distance"] == 0.0
    b = spark.createDataFrame([Row(doc_id=1, text="z z z")])
    disj = distribution_drift(a, b).collect()[0]
    assert disj["tv_distance"] == 1.0
    # a: {x:2, y:1} N=3 ; c: {x:1, y:2} N=3 -> TV = 1/2*(1/3+1/3) = 1/3
    c = spark.createDataFrame([Row(doc_id=1, text="x y y")])
    mix = distribution_drift(a, c).collect()[0]
    assert mix["tv_num"] == 6  # |2*3-1*3| + |1*3-2*3|
    assert abs(mix["tv_distance"] - 1 / 3) < 1e-6
    compiler.set_collection_resolver(lambda n: {"old": a}[n])
    try:
        staged = apply_pipeline(c, [{"$distributionDrift": {"from": "old"}}])
        assert staged.collect()[0]["tv_num"] == 6
    finally:
        compiler.set_collection_resolver(None)


def test_bloom_merge_equals_combined_build(spark):
    """OR-merging the bitmaps of two corpora == building one bitmap
    over their union — the exactness that makes incremental index
    updates sound — and a unit seen by either side is seen by the
    merged filter."""
    from route81_spark.ops.corpus import (
        bloom_apply, bloom_build, bloom_dense_words, bloom_merge)

    d1 = spark.createDataFrame([Row(doc_id=1, text="aa bb\ncc dd")])
    d2 = spark.createDataFrame([Row(doc_id=2, text="ee ff\ngg hh")])
    both = d1.unionByName(d2)
    m = 1 << 12
    merged = bloom_merge(
        bloom_build(d1, sep="\n", m_bits=m),
        bloom_build(d2, sep="\n", m_bits=m),
    )
    w_merged = bloom_dense_words(merged, m_bits=m)
    w_both = bloom_dense_words(bloom_build(both, sep="\n", m_bits=m), m_bits=m)
    assert w_merged == w_both
    probe = spark.createDataFrame(
        [Row(doc_id=9, text="aa bb\ngg hh\nnew unit")])
    out = bloom_apply(probe, w_merged, sep="\n").collect()[0]
    assert (out["n_units"], out["n_seen"], out["clean_text"]) == (
        3, 2, "new unit")


def test_bloom_merge_refuses_mismatched_sizes(spark):
    from route81_spark.ops.corpus import bloom_build, bloom_merge

    d = spark.createDataFrame([Row(doc_id=1, text="aa bb\ncc dd")])
    big = bloom_build(d, sep="\n", m_bits=1 << 12)
    small = bloom_build(d, sep="\n", m_bits=1 << 8)
    with pytest.raises(ValueError, match="different sizes"):
        bloom_merge(big, small)


def test_bloom_dense_words_refuses_wrong_m_bits(spark):
    from route81_spark.ops.corpus import bloom_build, bloom_dense_words

    d = spark.createDataFrame([Row(doc_id=1, text="aa bb\ncc dd")])
    with pytest.raises(ValueError, match="m_bits"):
        bloom_dense_words(bloom_build(d, sep="\n", m_bits=1 << 12),
                          m_bits=1 << 20)


def test_char_entropy_empty_text_no_phantom_chars(spark):
    """sequence(1,0) descends in Spark — the guard must keep empty text
    at zero distinct chars (oracle parity: DuckDB range(1,1) is [])."""
    from route81_spark.ops.text import char_entropy

    df = spark.createDataFrame([Row(doc_id=1, text=""), Row(doc_id=2, text="ab")])
    got = {r["doc_id"]: r["e"] for r in df.select(
        "doc_id", char_entropy(F.col("text")).alias("e")).collect()}
    assert got[1] == 0.0 and got[2] == 1.0


def test_incremental_curation_processes_only_the_delta(spark):
    """Unchanged docs never reach the output; a changed doc is scrubbed
    down to its genuinely-new units; an added non-English doc dies at
    the gate; a fresh English doc passes whole."""
    from route81_spark.ops.corpus import incremental_curation
    from route81_spark.pipeline import apply_pipeline, compiler

    en = "the and of to a " * 4
    old = spark.createDataFrame(
        [Row(doc_id=1, text=en + "stable tail one"),
         Row(doc_id=2, text=en + "will change soon")]
    )
    new = spark.createDataFrame(
        [Row(doc_id=1, text=en + "stable tail one"),              # unchanged
         Row(doc_id=2, text=en + "will change soon brand new bit here"),
         Row(doc_id=3, text="der die und das ist " * 6),          # added, non-en
         Row(doc_id=4, text=en + "completely fresh page")]        # added, en
    )
    got = {r["doc_id"]: r for r in incremental_curation(
        old, new, min_quality=0.0, min_tokens=3).collect()}
    assert set(got) == {2, 4}
    assert got[2]["status"] == "changed" and got[4]["status"] == "added"
    # doc 2's prefix units were all in the old index; the new tail survives
    assert "brand new bit here" in got[2]["clean_text"]
    assert got[2]["n_seen"] > 0
    # doc 4 shares the 'the and of to a' boilerplate units with old docs
    # (scrubbed) but keeps its fresh tail
    assert "completely fresh page" in got[4]["clean_text"]
    compiler.set_collection_resolver(lambda n: {"accepted": old}[n])
    try:
        staged = apply_pipeline(new, [{"$incrementalCurate": {
            "from": "accepted", "minQuality": 0.0, "minTokens": 3}}])
        assert {r["doc_id"]: r["clean_text"] for r in staged.collect()} == {
            i: r["clean_text"] for i, r in got.items()}
    finally:
        compiler.set_collection_resolver(None)


def test_kmv_overlap_sketch_bounds(spark):
    from pyspark.sql import Row
    from route81_spark.ops.corpus import kmv_overlap_sketch

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"document body number {i}") for i in range(40)]
    )
    same = kmv_overlap_sketch(docs, docs, k=16).collect()[0]
    assert same["jaccard_est"] == 1.0 and same["shared"] == same["k_used"] == 16
    other = spark.createDataFrame(
        [Row(doc_id=i, text=f"totally different corpus {i}") for i in range(40)]
    )
    disj = kmv_overlap_sketch(docs, other, k=16).collect()[0]
    assert disj["jaccard_est"] == 0.0 and disj["shared"] == 0
    # unsaturated sketch (k > distinct union): union_est is the EXACT count
    small_a = spark.createDataFrame([Row(doc_id=1, text="alpha"), Row(doc_id=2, text="beta")])
    small_b = spark.createDataFrame([Row(doc_id=3, text="beta"), Row(doc_id=4, text="gamma")])
    ex = kmv_overlap_sketch(small_a, small_b, k=16).collect()[0]
    assert ex["union_est"] == 3.0 and ex["k_used"] == 3 and ex["shared"] == 1
    # scale pin: the sketch is a TakeOrdered per side, never a global
    # Sort. Each sketch is a <= k-row bounded artifact fed to three
    # branches, so it is pinned (materialize.pin): (a) the consumer
    # plan must read the pinned rows, and (b) the TakeOrdered pin is
    # asserted on the unpinned lineage, with the pin patched out.
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        kmv_overlap_sketch(docs, other, k=16).explain(mode="simple")
    assert "Scan ExistingRDD" in buf.getvalue()  # sketches pinned
    from unittest import mock

    with mock.patch("route81_spark.ops.corpus.pin", lambda df: df):
        buf = io.StringIO()
        with redirect_stdout(buf):
            kmv_overlap_sketch(docs, other, k=16).explain(mode="simple")
    plan = buf.getvalue()
    assert "TakeOrderedAndProject" in plan
    assert "GlobalSort" not in plan and "Sort [h" not in plan


def test_ivfpq_recall_vs_brute_force(spark, sf_dir):
    """Composed IVFPQ must stay a faithful approximation: with refine
    and nprobe=4 over the 16-cell index, recall@5 vs exact brute force
    should be high (the probed fraction is ~1/4 of the corpus)."""
    from pyspark.sql import functions as F
    from route81_spark.io import load_table
    from route81_spark.ops import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid_vec")
    )
    queries = emb.filter(F.col("vec_id") % 200 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    books = S.pq_train_codebook(
        emb, m=16, ksub=16, sample=16, iters=0, init="prefix", det_quantize=9
    )
    got = S.ivfpq_topk(
        emb, queries, centroids, books, k=5, nprobe=4, refine=10, det_quantize=9
    ).collect()
    exact = S.brute_force_topk(emb, queries, k=5).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = []
    for qid in {r["query_id"] for r in exact}:
        truth = {r["vec_id"] for r in exact if r["query_id"] == qid}
        recalls.append(len(by_q.get(qid, set()) & truth) / len(truth))
    assert sum(recalls) / len(recalls) >= 0.5, f"ivfpq recall@5 too low: {recalls}"


def test_knn_graph_auto_bucket_width(spark):
    """n_dims=None derives the bucket width from the corpus count
    (clamp(ceil(log2(n/target)), 2, 24)) and records it in the output;
    an explicit n_dims is respected verbatim."""
    import math

    from pyspark.sql import Row

    from route81_spark.ops.similarity import knn_graph

    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float((i * 7 + j * 3) % 11 - 5) for j in range(64)])
         for i in range(96)]
    )
    auto = knn_graph(emb, k=2, target_bucket_pop=4)
    want = max(2, min(24, math.ceil(math.log2(96 / 4.0))))  # = 5
    dims = {r["n_dims"] for r in auto.select("n_dims").distinct().collect()}
    assert dims == {want}, dims
    fixed = knn_graph(emb, k=2, n_dims=3)
    assert {r["n_dims"] for r in fixed.select("n_dims").distinct().collect()} == {3}


def test_knn_graph_band_recall_floor(spark, sf_dir):
    """OR-amplification recall pin: on the real harness embeddings the
    8-band graph's recall@5 vs exact brute force clears a floor a
    single sign band cannot (single band measured ~0.05-0.2 — a true
    neighbour must agree on ALL n_dims sign bits; 8 disjoint-slice
    bands lift that to 1-(1-p^r)^8). The 20x side of this pin lives in
    scale_probe knn_recall (recall stays ~1.0 on dup-structure
    neighbours at Kx; time ratio ~1.5x at 20x)."""
    from pyspark.sql import Window

    from route81_spark.io import load_table
    from route81_spark.ops.similarity import brute_force_topk, knn_graph

    emb = load_table(spark, sf_dir, "embeddings").persist()
    emb.count()
    qs = emb.filter(F.col("vec_id") % 3 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = brute_force_topk(emb, qs, k=6).filter(
        F.col("vec_id") != F.col("query_id")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("vec_id").asc()
    )
    truth = (
        exact.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= 5)
        .select("query_id", "vec_id")
        .persist()
    )
    nt = truth.count()

    def recall(bands: int) -> float:
        g = knn_graph(emb, k=5, n_bands=bands)
        hits = truth.join(
            g.select(F.col("src").alias("query_id"), F.col("nbr").alias("vec_id")),
            ["query_id", "vec_id"],
            "inner",
        ).count()
        return hits / nt

    r8, r1 = recall(8), recall(1)
    emb.unpersist()
    truth.unpersist()
    assert r8 >= 0.35, f"8-band recall@5 below floor: {r8:.3f}"
    assert r8 > r1, f"bands did not improve recall: 8-band {r8:.3f} vs 1-band {r1:.3f}"


def test_new_sim_and_sketch_stages(spark):
    """$knnGraph / $randomProject over the embedding table and
    $overlapSketch through the collection hook match their op-level
    twins."""
    from pyspark.sql import Row

    from route81_spark.ops.corpus import kmv_overlap_sketch
    from route81_spark.ops.similarity import knn_graph, random_project
    from route81_spark.pipeline import apply_pipeline, compiler

    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float((i * 7 + j * 3) % 11 - 5) for j in range(64)])
         for i in range(12)]
    )
    got = apply_pipeline(emb, [{"$knnGraph": {"k": 2}}]).collect()
    want = knn_graph(emb, k=2).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want)) and len(want) > 0
    gb = apply_pipeline(emb, [{"$knnGraph": {"k": 2, "nBands": 4}}]).collect()
    wb = knn_graph(emb, k=2, n_bands=4).collect()
    assert sorted(map(tuple, gb)) == sorted(map(tuple, wb)) and len(wb) > 0

    gp = apply_pipeline(emb, [{"$randomProject": {"outDim": 4}}]).collect()
    wp = random_project(emb, out_dim=4).collect()
    assert sorted(map(tuple, gp)) == sorted(map(tuple, wp)) and len(wp) == 48

    a = spark.createDataFrame([Row(doc_id=i, text=f"doc {i}") for i in range(10)])
    b = spark.createDataFrame([Row(doc_id=i, text=f"doc {i + 5}") for i in range(10)])
    compiler.set_collection_resolver(lambda n: {"other_snap": b}[n])
    try:
        gs = apply_pipeline(a, [{"$overlapSketch": {"other": "other_snap", "k": 8}}]).collect()
    finally:
        compiler.set_collection_resolver(None)
    ws = kmv_overlap_sketch(a, b, k=8).collect()
    assert [tuple(r) for r in gs] == [tuple(r) for r in ws]


def test_preference_pairs_semantics_and_plan(spark):
    """chosen = best score (ties -> lowest id), rejected = worst (ties
    -> highest id), zero-margin groups and singletons dropped; the plan
    is ONE map-side-combined aggregate — no window, and the text column
    never crosses a hash Exchange."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from route81_spark.ops.corpus import preference_pairs
    from route81_spark.pipeline import apply_pipeline

    rows = [
        # group 0: clear winner/loser
        Row(doc_id=1, prompt_id=0, text="The quick brown fox jumps over the lazy dog near the river bank today"),
        Row(doc_id=2, prompt_id=0, text="a a a a a a !!!"),
        # group 1: all-tie (identical text) -> dropped (no margin)
        Row(doc_id=3, prompt_id=1, text="same body here"),
        Row(doc_id=4, prompt_id=1, text="same body here"),
        # group 2: singleton -> dropped
        Row(doc_id=5, prompt_id=2, text="only candidate in this group"),
    ]
    df = spark.createDataFrame(rows)
    got = preference_pairs(df).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["prompt_id"], r["chosen_id"], r["rejected_id"]) == (0, 1, 2)
    assert r["margin"] > 0
    # tie-break direction: duplicate best scores -> lowest id chosen
    tie = spark.createDataFrame([
        Row(doc_id=10, prompt_id=0, text="alpha beta gamma delta epsilon zeta"),
        Row(doc_id=11, prompt_id=0, text="alpha beta gamma delta epsilon zeta"),
        Row(doc_id=12, prompt_id=0, text="x!"),
    ])
    t = preference_pairs(tie).collect()[0]
    assert t["chosen_id"] == 10 and t["rejected_id"] == 12
    # stage parity
    staged = apply_pipeline(df, [{"$preferencePairs": {}}]).collect()
    assert sorted(map(tuple, staged)) == sorted(map(tuple, got + []))
    # plan: one aggregate pair (partial+final), no Window, text not shuffled
    buf = io.StringIO()
    with redirect_stdout(buf):
        preference_pairs(df).explain(mode="simple")
    plan = buf.getvalue()
    assert "Window" not in plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text#" not in line, f"text shuffled: {line}"


def test_audio_segments_boundaries_and_stage(spark):
    """Hand-built waveforms through the REAL WAV codec: runs split on
    gaps, min_frames filters short runs, seg_idx counts only kept
    segments, silence yields no rows."""
    import numpy as np
    from pyspark.sql import Row

    from route81_spark.ops.multimodal import audio_segments, encode_wav_pcm16
    from route81_spark.pipeline import apply_pipeline

    frame = 4
    loud, quiet = 2000, 1  # frame energies 4*4e6 vs 4
    def clip(pattern):  # one amplitude per frame
        s = np.repeat(np.array(pattern, dtype=np.int64), frame).astype(np.int16)
        return bytearray(encode_wav_pcm16(s, 8000))

    df = spark.createDataFrame([
        # frames: LL.LLL. -> runs [0,1] and [3,5]; the lone frame 7 run
        # is dropped by min_frames=2; seg_idx stays dense (0, 1)
        Row(media_id=1, payload=clip([loud, loud, quiet, loud, loud, loud, quiet, loud])),
        Row(media_id=2, payload=clip([quiet] * 6)),      # silence: no rows
        Row(media_id=3, payload=clip([loud] * 3)),       # one full-clip run
    ])
    thr = frame * loud * loud  # = energy of a loud frame
    got = {(r["media_id"], r["seg_idx"]): (r["start_frame"], r["end_frame"], r["n_frames"], r["energy"])
           for r in audio_segments(df, threshold=thr, frame=frame, min_frames=2).collect()}
    e1 = frame * loud * loud
    assert got == {
        (1, 0): (0, 1, 2, 2 * e1),
        (1, 1): (3, 5, 3, 3 * e1),
        (3, 0): (0, 2, 3, 3 * e1),
    }
    staged = apply_pipeline(
        df, [{"$audioSegments": {"threshold": thr, "frame": frame, "minFrames": 2}}]
    ).collect()
    assert {(r["media_id"], r["seg_idx"]) for r in staged} == set(got)


def test_bloom_semi_join_identity_and_prune(spark):
    """Result must equal the plain join exactly (no false negatives);
    the big side's physical plan must carry the Bloom probe as a
    Filter BELOW the join (prune before shuffle); outer joins refuse."""
    import io
    from contextlib import redirect_stdout

    import pytest as _pytest
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from route81_spark.ops.util import bloom_semi_join

    big = spark.createDataFrame(
        [Row(k=i % 500, payload=i) for i in range(5000)]
    )
    small = spark.createDataFrame([Row(k=i * 7, tag=f"t{i}") for i in range(20)])
    got = bloom_semi_join(big, small, on="k").collect()
    want = big.join(small, "k").collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want)) and len(want) > 0
    # the probe is a pre-join Filter over the bitmap literal
    buf = io.StringIO()
    with redirect_stdout(buf):
        bloom_semi_join(big, small, on="k").explain(mode="simple")
    plan = buf.getvalue()
    assert "forall" in plan and "Filter" in plan
    with _pytest.raises(ValueError, match="left_semi"):
        bloom_semi_join(big, small, on="k", how="left")
    # left_semi passes through
    n = bloom_semi_join(big, small, on="k", how="left_semi").count()
    assert n == big.join(small, "k", "left_semi").count()


def test_int8_topk_recall_vs_exact(spark, sf_dir):
    """int8 quantization perturbs cosine by <1%: recall@5 vs exact
    brute force should be near-perfect, and every query's own vector
    must rank first."""
    from pyspark.sql import functions as F

    from route81_spark.io import load_table
    from route81_spark.ops import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 200 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = S.int8_topk(emb, queries, k=5).collect()
    exact = S.brute_force_topk(emb, queries, k=5).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], set()).add(r["vec_id"])
        if r["rank"] == 1:
            assert r["vec_id"] == r["query_id"]  # self-match survives int8
    recalls = []
    for qid in {r["query_id"] for r in exact}:
        truth = {r["vec_id"] for r in exact if r["query_id"] == qid}
        recalls.append(len(by_q[qid] & truth) / len(truth))
    assert sum(recalls) / len(recalls) >= 0.8, f"int8 recall@5: {recalls}"


def test_image_tiles_stats_and_uniform_flag(spark):
    """Hand-built images through the REAL BMP codec: a flat image is
    all-uniform tiles with exact sums; a textured one isn't; partial
    edge tiles drop; the stage delegates."""
    import numpy as np
    from pyspark.sql import Row

    from route81_spark.ops.multimodal import encode_bmp24, image_tiles
    from route81_spark.pipeline import apply_pipeline

    flat = np.full((8, 10, 3), 7, dtype=np.uint8)        # 10 % 4 -> edge cols drop
    tex = np.arange(8 * 8 * 3, dtype=np.uint8).reshape(8, 8, 3)
    df = spark.createDataFrame([
        Row(media_id=1, payload=bytearray(encode_bmp24(flat)),
            meta={"mime": "image/bmp"}),
        Row(media_id=2, payload=bytearray(encode_bmp24(tex)),
            meta={"mime": "image/bmp"}),
    ])
    got = image_tiles(df, patch=4).collect()
    g1 = [r for r in got if r["media_id"] == 1]
    assert len(g1) == 4 and all(r["uniform"] for r in g1)  # 2x2 grid, cols 8-9 dropped
    assert all(r["luma_sum"] == 16 * (299 + 587 + 114) * 7 for r in g1)
    assert all(r["rgb_sum"] == 16 * 3 * 7 for r in g1)
    g2 = [r for r in got if r["media_id"] == 2]
    assert len(g2) == 4 and not any(r["uniform"] for r in g2)
    staged = apply_pipeline(df, [{"$imageTiles": {"patch": 4}}]).collect()
    assert sorted(map(tuple, staged)) == sorted(map(tuple, got))


def test_int8_topk_zero_vector_never_ranks(spark):
    """A zero embedding (encoder failure) must not abort the job under
    ANSI (127/amax guarded) and must never out-rank real vectors —
    null codes -> null score -> sorts last (cosine()'s contract)."""
    from pyspark.sql import Row

    from route81_spark.ops.similarity import int8_topk

    emb = spark.createDataFrame(
        [Row(vec_id=0, embedding=[0.0] * 64)]
        + [Row(vec_id=i, embedding=[float((i + j) % 5 + 1) for j in range(64)])
           for i in range(1, 5)]
    )
    q = spark.createDataFrame(
        [Row(query_id=1, query_vec=[float((1 + j) % 5 + 1) for j in range(64)])]
    )
    got = int8_topk(emb, q, k=5).collect()
    ranked = {r["vec_id"]: (r["rank"], r["score"]) for r in got}
    assert ranked[0][0] == 5 and ranked[0][1] is None  # zero vec last, null score
    assert ranked[1][0] == 1  # self-match first
    # zero-vector QUERY also survives (all-null scores, ranked by id)
    qz = spark.createDataFrame([Row(query_id=9, query_vec=[0.0] * 64)])
    gz = int8_topk(emb, qz, k=2).collect()
    assert len(gz) == 2 and all(r["score"] is None for r in gz)


def test_centroid_update_exact_means_and_plan(spark):
    """Recovered means from (sum_q, n) match the exact per-cluster
    averages; the component-sum aggregate is map-side combined and the
    assignment never hash-shuffles embeddings."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from route81_spark.ops.similarity import centroid_update

    # two obvious clusters in 64-d: axis-0-ish and axis-1-ish vectors
    def vec(axis, bump):
        v = [0.01] * 64
        v[axis] = 10.0 + bump
        return [float(x) for x in v]

    emb = spark.createDataFrame(
        [Row(vec_id=10 + i, embedding=vec(0, i)) for i in range(3)]
        + [Row(vec_id=20 + i, embedding=vec(1, i)) for i in range(2)]
    )
    cents = spark.createDataFrame([
        Row(centroid_id=0, centroid_vec=vec(0, 0)),
        Row(centroid_id=1, centroid_vec=vec(1, 0)),
    ])
    out = centroid_update(emb, cents)
    rows = {(r["centroid_id"], r["dim"]): (r["sum_q"], r["n"]) for r in out.collect()}
    # cluster 0: three vectors, dim 0 components 10.0, 11.0, 12.0
    assert rows[(0, 0)] == (33_000_000, 3)
    assert rows[(0, 1)] == (3 * 10_000, 3)       # 0.01 * 1e6 each
    # cluster 1: two vectors, dim 1 components 10.0 and 11.0
    assert rows[(1, 1)] == (21_000_000, 2)
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain(mode="simple")
    plan = buf.getvalue()
    assert "partial_" in plan  # map-side combine before the shuffle
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "embedding#" not in line, f"embedding shuffled: {line}"


def test_ood_and_centroid_update_stages(spark):
    from pyspark.sql import Row

    from route81_spark.ops.similarity import centroid_ood_scores, centroid_update
    from route81_spark.pipeline import apply_pipeline, compiler

    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float((i * 3 + j) % 7 - 3) for j in range(64)])
         for i in range(10)]
    )
    cents = emb.filter("vec_id < 2").selectExpr(
        "vec_id as centroid_id", "embedding as centroid_vec"
    )
    compiler.set_collection_resolver(lambda n: {"codebook": cents}[n])
    try:
        g1 = apply_pipeline(emb, [{"$oodFilter": {"centroids": "codebook"}}]).collect()
        g2 = apply_pipeline(emb, [{"$centroidUpdate": {"centroids": "codebook"}}]).collect()
    finally:
        compiler.set_collection_resolver(None)
    assert sorted(map(tuple, g1)) == sorted(
        map(tuple, centroid_ood_scores(emb, cents).collect()))
    assert sorted(map(tuple, g2)) == sorted(
        map(tuple, centroid_update(emb, cents).collect()))


def test_html_to_text_extraction(spark):
    """Script/style/head content vanishes, block tags become line
    breaks, entities decode (&amp; last), malformed markup degrades to
    whitespace — never an error; the stage delegates."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from route81_spark.ops.text import html_to_text
    from route81_spark.pipeline import apply_pipeline

    cases = [
        # full page: head+style+script with embedded tags/braces
        (1, '<html><head><title>T</title><style>p{a:1}</style></head>'
            '<body><script>if(1<2){x("</div>");}</script>'
            '<p>Hello <b>world</b></p><br><div>A &amp; B &lt;ok&gt;</div></body></html>',
         # </p> + <br> = 2 breaks -> paragraph gap
         'Hello world\n\nA & B <ok>'),
        # malformed: unclosed tag eats to the next '>', stray '<' stays
        # only the CLOSER breaks: </p><p> = one line break; the stray
        # '<' survives because closers became newlines BEFORE the
        # generic tag strip
        (2, '<p>first</p><p>second with 1 < 2 math</p>',
         'first\nsecond with 1 < 2 math'),
        # lists and headers become lines; nbsp folds
        (3, '<h1>Title</h1><ul><li>one</li><li>two&nbsp;x</li></ul>', 'Title\none\ntwo x'),
        # no markup at all: pass-through (trim only)
        (4, '  plain text  ', 'plain text'),
        # CRLF crawl data: \r\n folds to \n, blank CRLF lines collapse
        (5, '<p>a</p>\r\n\r\n\r\n<p>b has a\rlone cr</p>',
         'a\n\nb has a\nlone cr'),
    ]
    df = spark.createDataFrame([Row(doc_id=i, text=t) for i, t, _ in cases])
    got = {r["doc_id"]: r["clean"] for r in
           df.select("doc_id", html_to_text(F.col("text")).alias("clean")).collect()}
    for i, _, want in cases:
        assert got[i] == want, (i, got[i], want)
    staged = apply_pipeline(df, [{"$htmlExtract": {"as": "clean"}}]).collect()
    assert {r["doc_id"]: r["clean"] for r in staged} == got


def test_ann_recall_report_self_hit_and_bounds(spark, sf_dir):
    """Every query's own vector is in both exact and bucketed top-k
    (cosine 1.0 in its own bucket), so n_hit >= 1; 0 <= n_hit <=
    n_truth <= k for every row."""
    from pyspark.sql import functions as F

    from route81_spark.io import load_table
    from route81_spark.ops.similarity import ann_recall_report

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 200 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    rows = ann_recall_report(emb, queries, k=5).collect()
    assert len(rows) == queries.count()
    for r in rows:
        assert 1 <= r["n_hit"] <= r["n_truth"] <= 5

    # OR-amplification: candidates union across bands, so per-query
    # hits can only grow (a displacer in the top-k scores above the
    # displaced, hence is itself truth); in aggregate the lift is
    # strict at a corpus size where buckets actually populate —
    # measured 0.20 -> 0.31 @5 at sf0.1 (single band is barely above
    # the self-hit floor of 1/k on these near-random embeddings)
    emb01 = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    q01 = emb01.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    one = {r["query_id"]: r["n_hit"]
           for r in ann_recall_report(emb01, q01, k=5, n_bands=1).collect()}
    eight = {r["query_id"]: r["n_hit"]
             for r in ann_recall_report(emb01, q01, k=5, n_bands=8).collect()}
    assert all(eight[q] >= one[q] for q in one)
    assert sum(eight.values()) > sum(one.values())


def test_pii_luhn_cards_and_ssn(spark):
    """Checksum-gated card scrub: Luhn-valid numbers (any 13-19-digit
    grouping) redact to <CC>; the SAME digits failing Luhn survive
    untouched (measurement data is not PII); SSNs tag by shape; the
    existing email/phone classes are unaffected."""
    from route81_spark.ops.text import cc_matches, luhn_valid, pii_redact

    rows = [
        (1, "pay 4111 1111 1111 1111 now"),        # valid (test visa)
        (2, "pay 4111 1111 1111 1112 now"),        # Luhn-invalid
        (3, "card 5500-0000-0000-0004 used"),      # valid (test mc)
        (4, "sn 123-45-6789 leaked"),
        (5, "measurement 1234567890123 series"),   # 13 digits, invalid
        (6, "amex 378282246310005 ok"),            # valid (test amex)
        (7, "call 555-123-4567 or mail a@b.co"),
    ]
    df = spark.createDataFrame(rows, "i long, t string")
    got = {
        r["i"]: (list(r["cc"]), r["r"])
        for r in df.select(
            "i",
            cc_matches(F.col("t")).alias("cc"),
            pii_redact(F.col("t")).alias("r"),
        ).collect()
    }
    assert got[1] == (["4111 1111 1111 1111"], "pay <CC> now")
    assert got[2] == ([], "pay 4111 1111 1111 1112 now")
    assert got[3] == (["5500-0000-0000-0004"], "card <CC> used")
    assert got[4] == ([], "sn <SSN> leaked")
    assert got[5] == ([], "measurement 1234567890123 series")
    assert got[6] == (["378282246310005"], "amex <CC> ok")
    assert got[7] == ([], "call <PHONE> or mail <EMAIL>")
    # validator directly: every check-digit bump of a valid card fails
    base = "411111111111111"
    cands = [(d, base + str(d)) for d in range(10)]
    vdf = spark.createDataFrame(cands, "d long, c string")
    valid = {r["d"] for r in vdf.filter(luhn_valid(F.col("c"))).collect()}
    assert valid == {1}  # 4111111111111111 is the only valid completion


def test_pii_iban_mod97(spark):
    """ISO 7064 mod-97 IBAN class: valid IBANs redact to <IBAN>, a
    single-digit bump fails the checksum and survives, short or
    wrong-check candidates pass through; validator pins on the classic
    GB/DE test vectors."""
    from route81_spark.ops.text import iban_matches, iban_valid, pii_redact

    rows = [
        (1, "wire GB82WEST12345698765432 today"),   # classic valid
        (2, "wire GB82WEST12345698765433 today"),   # bumped -> invalid
        (3, "acct DE89370400440532013000 eur"),     # valid
        (4, "code AB12SHORT1234 x"),                # too short
        (5, "ID GB00WEST12345698765432 fake"),      # wrong check digits
        # mod-97 VALID but 20 chars where the DE registry says 22 —
        # the per-country length table must gate it out
        (6, "ref DE863704004405320130 noted"),
        # mod-97 valid shape with an unregistered country code
        (7, "tag ZZ68370400440532013000 x"),
    ]
    df = spark.createDataFrame(rows, "i long, t string")
    got = {
        r["i"]: (list(r["m"]), r["r"])
        for r in df.select(
            "i",
            iban_matches(F.col("t")).alias("m"),
            pii_redact(F.col("t")).alias("r"),
        ).collect()
    }
    assert got[1] == (["GB82WEST12345698765432"], "wire <IBAN> today")
    assert got[2] == ([], "wire GB82WEST12345698765433 today")
    assert got[3] == (["DE89370400440532013000"], "acct <IBAN> eur")
    assert got[4] == ([], "code AB12SHORT1234 x")
    assert got[5] == ([], "ID GB00WEST12345698765432 fake")
    assert got[6] == ([], "ref DE863704004405320130 noted")
    assert got[7] == ([], "tag ZZ68370400440532013000 x")
    # exactly ONE check-digit completion of a BBAN validates
    vdf = spark.createDataFrame(
        [(d, f"DE{d:02d}370400440532013000") for d in range(2, 100)],
        "d long, c string",
    )
    valid = {r["d"] for r in vdf.filter(iban_valid(F.col("c"))).collect()}
    assert valid == {89}


def test_pii_checksum_replace_is_boundary_anchored(spark):
    """A valid match that ALSO occurs as a substring of a longer
    digit/alnum run elsewhere in the row must not be rewritten inside
    that run (r8 ADVICE: raw substring replace half-ate it). The
    17-digit run is Luhn-invalid (not a candidate match), so it must
    survive byte-identical even though the valid 16-digit card is a
    substring of it."""
    from route81_spark.ops.text import pii_redact

    rows = [
        (1, "pay 4111111111111111 ref 94111111111111111 end"),
        (2, "acct DE89370400440532013000 log XDE89370400440532013000Y x"),
    ]
    df = spark.createDataFrame(rows, "i long, t string")
    got = {r["i"]: r["r"]
           for r in df.select("i", pii_redact(F.col("t")).alias("r")).collect()}
    assert got[1] == "pay <CC> ref 94111111111111111 end"
    assert got[2] == "acct <IBAN> log XDE89370400440532013000Y x"
