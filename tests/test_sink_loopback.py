"""Classifier truth table (FIXTURES.md F4) + the README loopback
scenario (F6): insert 100 -> update all -> delete all, target tracks
source after each phase (/root/reference/README.md:89-100, 339-345)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F

from route81_spark.sinks.classify import ClassifierConfig, classify
from route81_spark.sinks.merge import KeyedParquetTable, apply_changes


def _msgs(spark):
    # {meta:{_id}, data:{...}} consumer messages, document-root-path=data
    schema = (
        "meta struct<_id:string>, "
        "data struct<_id:string, foo:int, bar:string>"
    )
    return spark.createDataFrame(
        [
            Row(meta=Row(_id="X"), data=Row(_id="X", foo=1, bar="b")),   # upsert
            Row(meta=Row(_id="Y"), data=None),                            # delete (no root)
            Row(meta=Row(_id="Z"), data=Row(_id="Z", foo=None, bar=None)),  # id-only root -> delete
        ],
        schema=schema,
    )


def test_classifier_truth_table(spark):
    out = classify(
        _msgs(spark),
        ClassifierConfig(document_root_path="data", delete_id_path="meta._id"),
    ).collect()
    got = {r["doc_id"]: r["is_delete"] for r in out}
    assert got == {"X": False, "Y": True, "Z": True}
    doc = next(r["doc"] for r in out if r["doc_id"] == "X")
    assert doc["foo"] == 1 and doc["bar"] == "b"


def test_classifier_whole_message_root(spark):
    df = spark.createDataFrame(
        [Row(_id="A", foo=2)], "_id string, foo int"
    )
    out = classify(df).collect()[0]
    assert out["doc_id"] == "A" and out["is_delete"] is False


def test_apply_changes_replace_semantics(spark):
    target = spark.createDataFrame(
        [Row(_id="1", a=1, b="old"), Row(_id="2", a=2, b="keep")],
        "_id string, a int, b string",
    )
    changes = spark.createDataFrame(
        [
            Row(doc_id="1", is_delete=False, doc=Row(_id="1", a=10, b=None), seq=1),
            Row(doc_id="1", is_delete=False, doc=Row(_id="1", a=11, b="new"), seq=2),
            Row(doc_id="3", is_delete=False, doc=Row(_id="3", a=3, b="ins"), seq=1),
            Row(doc_id="3", is_delete=True, doc=None, seq=2),
        ],
        "doc_id string, is_delete boolean, doc struct<_id:string,a:int,b:string>, seq int",
    )
    out = {r["_id"]: r for r in apply_changes(target, changes).collect()}
    # last writer wins per key; whole-doc replace; delete removes
    assert set(out) == {"1", "2"}
    assert out["1"]["a"] == 11 and out["1"]["b"] == "new"
    assert out["2"]["b"] == "keep"


def test_loopback_three_phases(spark, tmp_path):
    """README's canonical demo: test.test -> topic -> test.test2."""
    n = 100
    src = spark.range(n).select(
        F.col("id").cast("string").alias("_id"), F.col("id").cast("int").alias("i")
    )
    table = KeyedParquetTable(spark, str(tmp_path / "t2"))

    # phase 1: insert all
    inserts = src.select(
        F.col("_id").alias("doc_id"), F.lit(False).alias("is_delete"),
        F.struct("_id", "i").alias("doc"), F.lit(1).alias("seq"),
    )
    table.init(src.limit(0))
    table.merge(inserts)
    assert table.read().count() == n
    assert table.read().join(src, ["_id", "i"]).count() == n

    # phase 2: update all ($set j semantics modeled as whole-doc replace
    # with i doubled — replace, not patch, is the P15 contract)
    updates = src.select(
        F.col("_id").alias("doc_id"), F.lit(False).alias("is_delete"),
        F.struct("_id", (F.col("i") * 2).alias("i")).alias("doc"), F.lit(2).alias("seq"),
    )
    table.merge(updates)
    got = {r["_id"]: r["i"] for r in table.read().collect()}
    assert got["7"] == 14 and len(got) == n

    # phase 3: delete all
    deletes = src.select(
        F.col("_id").alias("doc_id"), F.lit(True).alias("is_delete"),
        F.lit(None).cast("struct<_id:string,i:int>").alias("doc"), F.lit(3).alias("seq"),
    )
    table.merge(deletes)
    assert table.read().count() == 0


def test_merge_writes_only_the_batch(spark, tmp_path):
    """A merge below the compaction rule appends its batch as one delta
    and never rewrites the base: the cost tracks the batch, not the
    table."""
    import os

    n = 200
    src = spark.range(n).select(
        F.col("id").cast("string").alias("_id"), F.col("id").cast("int").alias("i")
    )
    path = tmp_path / "t"
    table = KeyedParquetTable(spark, str(path))
    table.init(src)
    base = {p: os.path.getmtime(p) for p in path.glob("base-*/*.parquet")}
    assert base

    # change 3 keys: update "7", delete "8", insert "999"
    table.merge(
        _keyed_changes(spark, [("7", False, ("7", 700), 1), ("8", True, None, 1), ("999", False, ("999", 999), 1)])
    )

    got = {r["_id"]: r["i"] for r in table.read().collect()}
    assert len(got) == n  # -1 delete +1 insert
    assert got["7"] == 700 and "8" not in got and got["999"] == 999
    assert {p: os.path.getmtime(p) for p in path.glob("base-*/*.parquet")} == base
    deltas = sorted(path.glob("delta-*"))
    assert len(deltas) == 1
    assert spark.read.parquet(str(deltas[0])).count() == 3


def test_namespace_feedback_loop_filter(spark):
    """Consumer target namespaces are excluded from production
    (route81.go:163-179)."""
    ops = spark.createDataFrame(
        [("route81.resume",), ("test.test",), ("test.test2",)], "ns string"
    )
    metadata_db, consumer_targets = "route81", ["test.test2"]
    out = ops.filter(
        (F.split(F.col("ns"), r"\.")[0] != metadata_db)
        & ~F.col("ns").isin(consumer_targets)
    )
    assert [r["ns"] for r in out.collect()] == ["test.test"]


def test_classifier_array_index_paths(spark):
    """gval-style [n] indexing in document-root-path / delete-id-path
    (route81.go:323-336): re-root at data.items[0] and take the delete
    id from meta.ids[1]."""
    schema = (
        "meta struct<ids:array<string>>, "
        "data struct<items:array<struct<_id:string, v:int>>>"
    )
    df = spark.createDataFrame(
        [
            Row(meta=Row(ids=["x0", "x1"]), data=Row(items=[Row(_id="A", v=7)])),
            Row(meta=Row(ids=["y0", "y1"]), data=Row(items=[Row(_id="B", v=None)])),
            Row(meta=Row(ids=["z0", "z1"]), data=None),
        ],
        schema=schema,
    )
    out = classify(
        df,
        ClassifierConfig(
            document_root_path="data.items[0]", delete_id_path="meta.ids[1]"
        ),
    ).collect()
    got = {r["doc_id"]: (r["is_delete"], r["doc"]) for r in out}
    assert got["A"][0] is False and got["A"][1]["v"] == 7
    # id-only root -> delete, id from delete-id-path
    assert got["y1"][0] is True
    # missing root -> delete
    assert got["z1"][0] is True


def test_path_expression_contract_error():
    # unsupported gval syntax must fail at compile time with an error
    # naming the supported subset (README "Path expressions")
    import pytest

    from route81_spark.sinks.classify import _parse_path

    assert _parse_path("data.items[0]._id") == ["data", "items", 0, "_id"]
    # gval's quoted-key selector: names with dots/spaces/operators
    assert _parse_path('data["weird.key"]._id') == ["data", "weird.key", "_id"]
    assert _parse_path("data['a b'][3]") == ["data", "a b", 3]
    assert _parse_path('["top.level"]') == ["top.level"]
    assert _parse_path('a["q\\"uote"]') == ["a", 'q"uote']
    # r5-advice regression: backslashes can escape THEMSELVES, so a key
    # ending in a literal backslash parses, and '\\' unescapes to '\'
    assert _parse_path('a["back\\\\"]') == ["a", "back\\"]
    assert _parse_path('a["x\\\\\\"y"]') == ["a", 'x\\"y']
    # a lone backslash (not before quote/backslash) stays literal
    assert _parse_path('a["p\\q"]') == ["a", "p\\q"]
    for bad in (
        "a.b[x]", "a..b", "a + b", "fn(a)", "items[0", 'a["unterminated]',
        "a.", ".a", 'a.["k"]', "", "a[0]b",
    ):
        with pytest.raises(ValueError, match="dot-separated"):
            _parse_path(bad)


def test_scd2_history_versions_and_reinsert(spark):
    from route81_spark.sinks.merge import scd2_history

    # key "a": insert -> update -> delete -> re-insert (two validity eras)
    # key "b": single insert, still current
    changes = spark.createDataFrame(
        [
            ("a", 1, False, "v1"),
            ("a", 2, False, "v2"),
            ("a", 3, True, None),
            ("a", 4, False, "v3"),
            ("b", 1, False, "w1"),
        ],
        "doc_id string, seq long, is_delete boolean, payload string",
    )
    h = scd2_history(changes).orderBy("doc_id", "valid_from")
    rows = [
        (r["doc_id"], r["payload"], r["valid_from"], r["valid_to"], r["is_current"])
        for r in h.collect()
    ]
    assert rows == [
        ("a", "v1", 1, 2, False),
        ("a", "v2", 2, 3, False),   # closed by the delete, no version for it
        ("a", "v3", 4, None, True),  # re-insert opens a new era
        ("b", "w1", 1, None, True),
    ]
    # the deleted-state gap [3, 4) has no covering version
    assert h.count() == 4
    # scale pin: exactly one hash Exchange (the per-key lead window);
    # AQE's toString repeats the plan as Final + Initial, so inspect
    # only the final section
    plan = h._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") == 1


def _keyed_changes(spark, rows, doc="struct<_id:string,i:int>"):
    return spark.createDataFrame(
        rows, f"doc_id string, is_delete boolean, doc {doc}, seq int"
    )


def _jobs_during(spark, fn):
    """Spark jobs run by fn(), counted through a job group."""
    sc = spark.sparkContext
    group = f"probe-{id(fn)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_keyed_table_from_empty_frame(spark, tmp_path):
    """A table initialised from an empty frame has no data files to
    infer a schema from; its merges and reads use the schema the
    manifest recorded at init."""
    table = KeyedParquetTable(spark, str(tmp_path / "t"))
    table.init(spark.createDataFrame([], "_id string, i int"))
    assert table.read().count() == 0
    table.merge(_keyed_changes(spark, [("a", False, ("a", 1), 1), ("b", False, ("b", 2), 1)]))
    table.merge(_keyed_changes(spark, [("a", True, None, 2), ("c", False, ("c", 3), 2)]))
    assert sorted(tuple(r) for r in table.read().collect()) == [("b", 2), ("c", 3)]
    assert table.read().columns == ["_id", "i"]


_WIDE = "struct<_id:string,i:int,extra:string>"


@pytest.mark.parametrize("merges", [0, 4])
def test_keyed_table_reopened_over_existing_path(spark, tmp_path, merges):
    """A fresh object over a table another object wrote (a daemon
    restart) takes the schema from the manifest, so opening and reading
    it runs no inference job, and merges correctly. The first object
    widens the table and then commits `merges` narrow batches; on this
    2-row table 4 of them pass the compaction rule, so the drift has
    to survive a compaction and a reopen."""
    path = str(tmp_path / "t")
    first = KeyedParquetTable(spark, path)
    first.init(spark.createDataFrame([("a", 1), ("b", 2)], "_id string, i int"))
    first.merge(_keyed_changes(spark, [("b", False, ("b", 20, "x"), 1)], doc=_WIDE))
    for j in range(merges):
        first.merge(_keyed_changes(spark, [(f"n{j}", False, (f"n{j}", j), 10 + j)]))

    reopened = KeyedParquetTable(spark, path)
    assert _jobs_during(spark, lambda: reopened.read().columns) == 0
    reopened.merge(_keyed_changes(spark, [("a", True, None, 20), ("c", False, ("c", 3), 20)]))
    assert sorted(tuple(r) for r in reopened.read().collect()) == sorted(
        [("b", 20, "x"), ("c", 3, None)] + [(f"n{j}", j, None) for j in range(merges)]
    )


@pytest.mark.parametrize("merges", [0, 4])
def test_keyed_table_schema_drift_in_one_process(spark, tmp_path, merges):
    """A merge whose documents add a field widens the table, and the
    same object's next read returns that field (null for old rows).
    `merges` later batches without the field keep it: 4 of them pass
    the compaction rule on this 2-row table."""
    table = KeyedParquetTable(spark, str(tmp_path / "t"))
    table.init(spark.createDataFrame([("a", 1), ("b", 2)], "_id string, i int"))
    assert table.read().columns == ["_id", "i"]
    table.merge(_keyed_changes(spark, [("c", False, ("c", 3, "new"), 1)], doc=_WIDE))
    for j in range(merges):
        table.merge(_keyed_changes(spark, [(f"n{j}", False, (f"n{j}", j), 10 + j)]))
    got = table.read()
    assert got.columns == ["_id", "i", "extra"]
    assert sorted(tuple(r) for r in got.collect()) == sorted(
        [("a", 1, None), ("b", 2, None), ("c", 3, "new")] + [(f"n{j}", j, None) for j in range(merges)]
    )


def test_compaction_matches_apply_changes(spark, tmp_path):
    """Batches merged past the compaction rule resolve to the rows that
    folding apply_changes over the same batches gives: keys updated,
    deleted and re-inserted across batches and within one batch (by
    seq), with deltas on both sides of a compaction."""
    import json
    import random

    from route81_spark.sinks.merge import MANIFEST

    rng = random.Random(7)
    seed = [(f"k{j}", j) for j in range(40)]
    table = KeyedParquetTable(spark, str(tmp_path / "t"))
    table.init(spark.createDataFrame(seed, "_id string, i int"))
    model = spark.createDataFrame(seed, "_id string, i int")
    bases = set()
    for b in range(8):
        rows = []
        for j in range(6):
            k = f"k{rng.randrange(60)}"
            rows.append((k, True, None, j) if rng.random() < 0.3 else (k, False, (k, 100 * b + j), j))
        changes = _keyed_changes(spark, rows)
        table.merge(changes)
        model = spark.createDataFrame(apply_changes(model, changes).collect(), "_id string, i int")
        bases.add(json.loads((tmp_path / "t" / MANIFEST).read_text())["base"])
        assert sorted(tuple(r) for r in table.read().collect()) == sorted(tuple(r) for r in model.collect())
    assert len(bases) >= 3  # compacted at least twice


def test_legacy_current_table(spark, tmp_path):
    """A table directory holding a parquet snapshot in current/ and no
    manifest (the layout before the manifest) opens, reads and merges;
    its first compaction moves it to a manifest base."""
    path = tmp_path / "t"
    spark.createDataFrame([("a", 1), ("b", 2)], "_id string, i int").write.parquet(str(path / "current"))
    table = KeyedParquetTable(spark, str(path))
    assert table.exists()
    assert sorted(tuple(r) for r in table.read().collect()) == [("a", 1), ("b", 2)]
    table.merge(_keyed_changes(spark, [("a", True, None, 1), ("c", False, ("c", 3), 1)]))
    assert sorted(tuple(r) for r in table.read().collect()) == [("b", 2), ("c", 3)]
    assert (path / "current").is_dir()
    table.merge(_keyed_changes(spark, [("b", False, ("b", 20), 2)]))
    assert sorted(tuple(r) for r in table.read().collect()) == [("b", 20), ("c", 3)]
    assert not (path / "current").exists()
    reopened = KeyedParquetTable(spark, str(path))
    assert sorted(tuple(r) for r in reopened.read().collect()) == [("b", 20), ("c", 3)]


def test_delta_with_stored_version(spark, tmp_path):
    """A delta that also stores its commit version in a `__v` column
    (the layout before the version came from the directory name) opens
    and reads, and it orders by version against the deltas written
    after it: a later batch wins over it with a lower seq."""
    import json

    from route81_spark.sinks.merge import MANIFEST

    path = tmp_path / "t"
    table = KeyedParquetTable(spark, str(path))
    table.init(spark.createDataFrame([(f"k{j}", j) for j in range(10)], "_id string, i int"))
    spark.createDataFrame(
        [("k1", False, ("k1", 10), 5, 1), ("k2", True, None, 5, 1)],
        "doc_id string, is_delete boolean, doc struct<_id:string,i:int>, seq long, __v long",
    ).write.parquet(str(path / "delta-000001"))
    m = json.loads((path / MANIFEST).read_text())
    (path / MANIFEST).write_text(json.dumps({**m, "version": 1, "deltas": [["delta-000001", 2]]}))
    want = {f"k{j}": j for j in range(10) if j != 2}
    assert dict(tuple(r) for r in table.read().collect()) == {**want, "k1": 10}
    table.merge(_keyed_changes(spark, [("k1", False, ("k1", 11), 1), ("k2", False, ("k2", 12), 1)]))
    assert (path / "delta-000002").is_dir()
    assert dict(tuple(r) for r in table.read().collect()) == {**want, "k1": 11, "k2": 12}


def test_apply_changes_schema_drift(spark):
    """The reference sink is schemaless: a replace that ADDS a field
    widens the table (old rows read null); one that DROPS a field
    stores null — the merge must not reject either shape."""
    from pyspark.sql import functions as SF

    target = spark.createDataFrame(
        [("a", 1), ("b", 2)], "_id string, x int"
    )
    changes = spark.createDataFrame(
        [("b", False, ("b", 20, "new")), ("c", False, ("c", 30, "brand"))],
        "doc_id string, is_delete boolean, doc struct<_id:string,x:int,extra:string>",
    )
    out = apply_changes(target, changes, seq=None)
    got = {r["_id"]: (r["x"], r["extra"]) for r in out.collect()}
    assert got == {"a": (1, None), "b": (20, "new"), "c": (30, "brand")}

    # narrower doc than target: dropped field stores null
    narrow = spark.createDataFrame(
        [("a", False, ("a",))],
        "doc_id string, is_delete boolean, doc struct<_id:string>",
    )
    out2 = apply_changes(out, narrow, seq=None)
    row_a = out2.filter(SF.col("_id") == "a").collect()[0]
    assert row_a["x"] is None and row_a["extra"] is None


from hypothesis import given, settings, strategies as st  # noqa: E402

_changes = st.lists(
    st.tuples(
        st.integers(1, 3),      # key
        st.booleans(),          # is_delete
        st.integers(0, 99),     # payload token
    ),
    min_size=1,
    max_size=25,
)


@settings(max_examples=15, deadline=None)
@given(ch=_changes)
def test_scd2_matches_python_replay(spark, ch):
    """Fuzz scd2_history against a per-key python replay."""
    from route81_spark.sinks.merge import scd2_history

    rows = [
        (str(k), i + 1, d, None if d else f"p{v}") for i, (k, d, v) in enumerate(ch)
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, seq long, is_delete boolean, payload string"
    )
    got = sorted(
        (r["doc_id"], r["valid_from"], r["valid_to"], r["payload"], r["is_current"])
        for r in scd2_history(df).collect()
    )
    # reference: per key, ordered by seq; each non-delete opens a version
    # closed by the next change of the same key
    want = []
    bykey: dict = {}
    for doc_id, seq, dele, payload in rows:
        bykey.setdefault(doc_id, []).append((seq, dele, payload))
    for doc_id, evs in bykey.items():
        evs.sort()
        for i, (seq, dele, payload) in enumerate(evs):
            if dele:
                continue
            nxt = evs[i + 1][0] if i + 1 < len(evs) else None
            want.append((doc_id, seq, nxt, payload, nxt is None))
    assert got == sorted(want)


def test_classify_quoted_key_root_path(spark):
    """Quoted-key paths work end to end through classify — including a
    first segment containing dots (backtick-escaped, not nested)."""
    from route81_spark.sinks.classify import ClassifierConfig, classify

    df = spark.createDataFrame(
        [(({"x.y": {"_id": "k1", "v": 7}},))],
        "`weird.root` struct<`x.y`: struct<_id: string, v: int>>",
    )
    out = classify(df, ClassifierConfig(document_root_path='["weird.root"]["x.y"]'))
    r = out.first()
    assert r["doc_id"] == "k1" and not r["is_delete"] and r["doc"]["v"] == 7


def test_path_parser_rejects_root_index_and_empty_key():
    """A root-level [n] would silently compile to F.col('0'); an empty
    quoted key to field '' — both must fail loudly instead."""
    import pytest

    from route81_spark.sinks.classify import _parse_path

    for bad in ("[0].data", '[""]', 'a[""].b'):
        with pytest.raises(ValueError, match="dot-separated"):
            _parse_path(bad)
    # quoted key AFTER a field stays fine, including one with backticks
    assert _parse_path('a["b`c"]') == ["a", "b`c"]
