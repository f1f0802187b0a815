"""Regression tests for the round-1 code-review findings."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import Row, functions as F

from route81_spark.pipeline import apply_pipeline
from route81_spark.pipeline.exprs import PipelineCompileError


def test_project_id_only_exclusion(spark):
    df = spark.createDataFrame([Row(_id="a", x=1, y=2)], "_id string, x int, y int")
    out = apply_pipeline(df, [{"$project": {"_id": 0}}])
    assert out.columns == ["x", "y"]  # was: dropped everything


def test_cosine_zero_vector_yields_null_not_crash(spark):
    from route81_spark.ops.similarity import brute_force_topk

    emb = spark.createDataFrame(
        [Row(vec_id=1, embedding=[1.0, 0.0]), Row(vec_id=2, embedding=[0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    q = emb.filter("vec_id = 1").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    rows = brute_force_topk(emb, q, k=2).collect()
    # zero vector scores null -> sorts last, job does not abort (ANSI)
    assert rows[0]["vec_id"] == 1 and rows[0]["score"] == pytest.approx(1.0)


def test_quality_score_empty_text(spark):
    from route81_spark.ops.text import quality_score

    df = spark.createDataFrame([Row(t=""), Row(t="   "), Row(t="hi there")], "t string")
    vals = [r["q"] for r in df.select(quality_score(F.col("t")).alias("q")).collect()]
    assert vals[0] == 0.0 and vals[1] == 0.0 and vals[2] > 0


def test_plain_json_string_field_not_corrupted(spark):
    from route81_spark.codecs.plainjson import plain_json_string

    df = spark.createDataFrame(
        [Row(s="NaN", d=float("nan"), inf_note="Infinity")],
        "s string, d double, inf_note string",
    ).select(F.struct("s", "d", "inf_note").alias("v"))
    out = json.loads(
        df.select(plain_json_string(F.col("v"), df.schema["v"].dataType).alias("j"))
        .collect()[0]["j"]
    )
    assert out["s"] == "NaN" and out["inf_note"] == "Infinity"  # untouched strings
    assert out["d"] == "nan"  # double rewritten


def test_main_entry_compiles_extension_stages(spark):
    # extension stages must resolve even when route81_spark.ops was
    # never imported by the entry point (lazy registration)
    import sys

    for mod in [m for m in list(sys.modules) if m.startswith("route81_spark.ops")]:
        del sys.modules[mod]
    import route81_spark.pipeline.compiler as C

    C.EXTRA_STAGES.clear()
    fn = C.compile_pipeline([{"$dedupExact": {"textField": "t", "idField": "i"}}])
    df = spark.createDataFrame([Row(i=1, t="x"), Row(i=2, t="x")], "i long, t string")
    assert fn(df).count() == 1


def test_apply_changes_custom_keys(spark):
    from route81_spark.sinks.merge import apply_changes

    target = spark.createDataFrame([Row(k="1", v=1)], "k string, v int")
    changes = spark.createDataFrame(
        [Row(ck="1", is_delete=True, doc=None, seq=1)],
        "ck string, is_delete boolean, doc struct<k:string,v:int>, seq int",
    )
    out = apply_changes(target, changes, key="ck", target_key="k")
    assert out.count() == 0


def test_trim_chars(spark):
    df = spark.createDataFrame([Row(s="xxhixx")], "s string")
    out = apply_pipeline(
        df, [{"$project": {"t": {"$trim": {"input": "$s", "chars": "x"}}}}]
    ).collect()[0]
    assert out["t"] == "hi"
    with pytest.raises(PipelineCompileError):
        apply_pipeline(df, [{"$project": {"t": {"$ltrim": {"input": "$s", "chars": "x"}}}}])


def test_map_type_envelope_roundtrip(spark):
    from route81_spark.envelope import build_envelope, decode_envelope

    df = spark.createDataFrame(
        [Row(_id="m1", kv={"a": 1, "b": 2})],
        "_id string, kv map<string,int>",
    )
    env = build_envelope(df, "db.c", id_col="_id", data_cols=["_id", "kv"])
    decoded = env.select(decode_envelope(F.col("value"), df.schema).alias("m")).select(
        "m.data.*"
    )
    row = decoded.collect()[0]
    assert row["kv"] == {"a": 1, "b": 2}


def test_cluster_deep_chain_star_fallback(spark, monkeypatch):
    from route81_spark.ops import dedup as D

    # chain 0-1-2-...-9 (diameter 9) through the distributed path:
    # star contraction's round count does not grow with the diameter,
    # and every node ends labelled with the chain minimum
    monkeypatch.setattr(D, "SMALL_GRAPH_MAX_EDGES", 0)
    pairs = spark.createDataFrame(
        [Row(id_a=i, id_b=i + 1) for i in range(9)], "id_a long, id_b long"
    )
    fb = D.near_dup_clusters(pairs)
    assert {(r["doc_id"], r["cluster_id"]) for r in fb.collect()} == {
        (i, 0) for i in range(10)
    }


def test_blas_topk_zero_vector_never_ranks(spark):
    """r5-advice regression: brute_force_topk_np normalized without the
    zero-norm guard, so a zero embedding produced NaN scores whose fate
    was batch-size-dependent (dropped when the batch exceeded k, ranked
    FIRST under desc ordering when kk >= len). With the clamp it scores
    0.0 and never wins a cut."""
    from route81_spark.ops.similarity import brute_force_topk_np

    emb = spark.createDataFrame(
        [
            Row(vec_id=1, embedding=[1.0, 0.0]),
            Row(vec_id=2, embedding=[0.0, 0.0]),  # zero vector
            Row(vec_id=3, embedding=[0.9, 0.1]),
        ],
        "vec_id long, embedding array<float>",
    ).coalesce(1)  # one Arrow batch of 3 rows with k=2 -> kk >= len path
    q = emb.filter("vec_id = 1").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    rows = brute_force_topk_np(emb, q, k=2).orderBy("rank").collect()
    assert [r["vec_id"] for r in rows] == [1, 3]
    assert all(r["score"] == r["score"] for r in rows)  # no NaN survived


@pytest.mark.parametrize("sf", ["0.01", "0.1"])
def test_blas_topk_oracle_ulp_margin_invariant(sf):
    """r5-advice item 4, turned into a checked invariant: the
    sim_topk_blas oracle equality rests on BLAS and SQL-fold scores
    rounding to the SAME 1e-6 grid point on the pinned fixtures. A
    rounding flip requires a raw cosine within summation-ulp error of a
    0.5e-6 boundary (where floor(s*1e6 + 0.5) steps), AND it only
    changes the top-5 membership when the flipping row sits adjacent to
    that query's rank-5 cut (flips elsewhere are value noise the 1e-4
    re-round absorbs). Assert every cut-adjacent fixture score sits at
    least 1e-2 grid units (1e-8 absolute) from the nearest boundary —
    ~10^6 times the plausible 64-dim float64 reorder error (~1e-14) —
    so a future single-ulp flip cannot reorder rows at any rank-5 cut.
    (Measured: 0.053 at sf0.01, 0.025 at sf0.1.)"""
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(f"/root/testdata/sf{sf}/embeddings.parquet")
    ids = t["vec_id"].to_numpy()
    E = np.array(t["embedding"].combine_chunks().to_pylist(), dtype=np.float64)
    En = E / np.maximum(np.linalg.norm(E, axis=1, keepdims=True), 1e-12)
    Q = En[ids % 100 == 0]
    S = En @ Q.T
    worst = 1.0
    for qi in range(S.shape[1]):
        d = S[:, qi] * 1e6
        k6 = np.floor(d + 0.5)
        cut = np.sort(k6)[-5]  # the k=5 boundary value, descending order
        near = np.abs(k6 - cut) <= 1
        worst = min(worst, np.abs((d[near] - np.floor(d[near])) - 0.5).min())
    assert worst > 1e-2, (
        f"cut-adjacent fixture score within {worst:.2e} grid units of a "
        "rounding boundary — the blas-vs-fold oracle ordering is at risk"
    )


def test_span_excision_tolerates_empty_documents(spark):
    """r6 code-review finding: sequence(0, -1) is DESCENDING in Spark,
    so a zero-token doc (tokens('') = []) indexed element_at out of
    bounds and crashed span_dedup_global / decontaminate_excise."""
    from route81_spark.ops.corpus import decontaminate_excise, span_dedup_global

    df = spark.createDataFrame(
        [Row(doc_id=1, text=""), Row(doc_id=2, text="a b c d e"),
         Row(doc_id=3, text="a b c d x")]
    )
    out = {r["doc_id"]: r for r in span_dedup_global(df, min_tokens=4).collect()}
    assert (out[1]["n_tokens"], out[1]["n_dropped"], out[1]["clean_text"]) == (0, 0, "")
    assert out[3]["clean_text"] == "x"
    bench = spark.createDataFrame([Row(doc_id=9, text="a b c d")])
    exc = {r["doc_id"]: r for r in decontaminate_excise(df, bench, n=4).collect()}
    assert exc[1]["n_tokens"] == 0 and exc[2]["n_dropped"] == 4


def test_blas_topk_zero_vector_scores_null_like_fold_path(spark):
    """r6 code-review finding: the 1e-12 clamp gave zero vectors score
    0.0, which WINS a cut when real scores are negative; the fold path
    scores them null (ranks last). Both paths must agree — membership,
    order, and the null score."""
    from route81_spark.ops.similarity import brute_force_topk, brute_force_topk_np

    emb = spark.createDataFrame(
        [Row(vec_id=1, embedding=[-1.0, 0.1]), Row(vec_id=2, embedding=[0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    q = spark.createDataFrame(
        [Row(query_id=0, query_vec=[1.0, 0.0])],
        "query_id long, query_vec array<float>",
    )
    fold = [(r["vec_id"], r["score"]) for r in
            brute_force_topk(emb, q, k=2).orderBy("rank").collect()]
    npv = [(r["vec_id"], r["score"]) for r in
           brute_force_topk_np(emb, q, k=2).orderBy("rank").collect()]
    assert fold == npv
    assert npv[0][0] == 1 and npv[1] == (2, None)


def test_audio_fingerprint_short_clip_gates_not_crashes(spark):
    """r6 code-review finding: a valid WAV shorter than 130 samples
    cannot carry a 65-band fingerprint — it must gate to
    (afp NULL, decodable false), not abort the job."""
    import numpy as np

    from route81_spark.ops.multimodal import audio_fingerprint, encode_wav_pcm16

    short = encode_wav_pcm16(np.zeros(80, dtype=np.int16), 8000)
    df = spark.createDataFrame(
        [(1, "audio", bytearray(short),
          {"mime": "audio/wav", "width": None, "height": None, "duration_ms": 10})],
        "media_id long, kind string, payload binary, "
        "meta struct<mime:string,width:int,height:int,duration_ms:long>",
    )
    row = audio_fingerprint(df).collect()[0]
    assert row["afp"] is None and row["decodable"] is False
