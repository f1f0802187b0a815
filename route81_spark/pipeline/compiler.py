"""Mongo aggregation pipeline *stages* -> DataFrame transform chain.

route81 parses pipelines as free-form JSON stage arrays
(/root/reference/route81.go:92-97, 268-282) and ships them to MongoDB;
here each stage becomes a declarative DataFrame operation so Catalyst
gets the whole plan (filter pushdown through $match, column pruning
through $project, partial aggregation through $group, ...).

Tier 1 (documented surface): $match $project $addFields $set $unset
$limit $count.  Tier 2 (standard core): $sort $skip $group $unwind
$replaceRoot/$replaceWith $sortByCount $sample.  Tier 3 (full-pipeline
parity — route81 forwards arbitrary stage JSON to the server, so real
configs may carry these): $lookup $bucket $bucketAuto $facet
$setWindowFields.  Extension stages (training-data ops — SURVEY §7 M5)
register via `register_stage`.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from route81_spark.materialize import checkpoint
from route81_spark.pipeline.exprs import PipelineCompileError, compile_expr
from route81_spark.pipeline.query import compile_match

# Extension-stage registry: name -> fn(df, arg) -> df
EXTRA_STAGES: dict[str, Callable[[DataFrame, Any], DataFrame]] = {}


def register_stage(name: str, fn: Callable[[DataFrame, Any], DataFrame]) -> None:
    EXTRA_STAGES[name] = fn


# $lookup resolves its `from` collection through this hook: callers
# (harness, CLI config) install a name -> DataFrame loader. route81
# itself never resolves collections — it ships the pipeline JSON to
# MongoDB (route81.go:181-197) — so the hook is the Spark-side stand-in
# for "the server knows the other collections".
_COLLECTION_RESOLVER: Callable[[str], DataFrame] | None = None

# $out/$merge persist through this hook when set; without it the stages
# stay pure (they return the would-be new collection state, which is
# what the correctness harness compares and what jobs hand to a sink).
_COLLECTION_WRITER: Callable[[str, DataFrame], None] | None = None


def set_collection_resolver(fn: Callable[[str], DataFrame] | None) -> None:
    global _COLLECTION_RESOLVER
    _COLLECTION_RESOLVER = fn


def set_collection_writer(fn: Callable[[str, DataFrame], None] | None) -> None:
    global _COLLECTION_WRITER
    _COLLECTION_WRITER = fn


def _resolve_collection(name: str) -> DataFrame:
    if _COLLECTION_RESOLVER is None:
        raise PipelineCompileError(
            "$lookup requires a collection resolver (set_collection_resolver)"
        )
    return _COLLECTION_RESOLVER(name)


# --- $group accumulators -------------------------------------------------

def _sort_key_col(sort_spec: dict | None, reverse: bool) -> Column | None:
    """Build the ordering column for sort-aware $first/$last. Supports a
    single sort key, or multiple keys sharing one direction (struct
    ordering is lexicographic)."""
    if not sort_spec:
        return None
    directions = set(sort_spec.values())
    if len(directions) != 1:
        return None  # mixed asc/desc not expressible via min_by/max_by
    cols = [F.col(k) for k in sort_spec]
    key = cols[0] if len(cols) == 1 else F.struct(*cols)
    return key


def _accumulator(spec: dict, df: DataFrame, sort_spec: dict | None = None) -> Column:
    if not (isinstance(spec, dict) and len(spec) == 1):
        raise PipelineCompileError(f"bad accumulator: {spec}")
    op, arg = next(iter(spec.items()))
    if op in ("$first", "$last") and sort_spec:
        # Mongo defines $first/$last by the pipeline's current document
        # order — after a $sort, that is min/max over the sort key.
        # Compile to min_by/max_by: deterministic under parallelism,
        # unlike Spark's order-dependent first()/last().
        key = _sort_key_col(sort_spec, reverse=False)
        if key is not None:
            direction = next(iter(sort_spec.values()))
            ascending = direction >= 0
            want_min = (op == "$first") == ascending
            fn = F.min_by if want_min else F.max_by
            return fn(compile_expr(arg, df), key)
    if op == "$sum":
        if isinstance(arg, (int, float)) and not isinstance(arg, bool):
            return F.count(F.lit(1)) * F.lit(arg) if arg != 1 else F.count(F.lit(1))
        # Mongo $sum ignores non-numeric/null and yields 0 for empty input.
        return F.coalesce(F.sum(compile_expr(arg, df)), F.lit(0))
    if op == "$avg":
        return F.avg(compile_expr(arg, df))
    if op == "$min":
        return F.min(compile_expr(arg, df))
    if op == "$max":
        return F.max(compile_expr(arg, df))
    if op == "$push":
        return F.collect_list(compile_expr(arg, df))
    if op == "$addToSet":
        # Mongo set order is undefined; sort for determinism.
        return F.array_sort(F.array_distinct(F.collect_list(compile_expr(arg, df))))
    if op == "$first":
        return F.first(compile_expr(arg, df))
    if op == "$last":
        return F.last(compile_expr(arg, df))
    if op == "$count":
        return F.count(F.lit(1))
    if op == "$stdDevPop":
        return F.stddev_pop(compile_expr(arg, df))
    if op == "$stdDevSamp":
        return F.stddev_samp(compile_expr(arg, df))
    if op in ("$top", "$bottom", "$topN", "$bottomN"):
        return _rank_accumulator(op, arg, df)
    if op in ("$minN", "$maxN"):
        vals = F.array_sort(F.collect_list(compile_expr(arg["input"], df)))
        n = int(arg["n"])
        if op == "$minN":
            return F.slice(vals, 1, n)
        # $maxN: last n, descending (Mongo's output order)
        return F.reverse(
            F.when(F.size(vals) > n, F.slice(vals, -n, n)).otherwise(vals)
        )
    if op in ("$firstN", "$lastN"):
        # document order = the pipeline's sort order; without a prior
        # $sort the result would be partition-order nondeterministic
        key = _sort_key_col(sort_spec, reverse=False)
        if key is None:
            raise PipelineCompileError(f"{op} requires a preceding single-direction $sort")
        ascending = next(iter(sort_spec.values())) >= 0
        pairs = F.array_sort(
            F.collect_list(F.struct(key.alias("k"), compile_expr(arg["input"], df).alias("v")))
        )
        if not ascending:
            pairs = F.reverse(pairs)
        n = int(arg["n"])
        take = (
            F.slice(pairs, 1, n)
            if op == "$firstN"
            else F.when(F.size(pairs) > n, F.slice(pairs, -n, n)).otherwise(pairs)
        )
        return F.transform(take, lambda s: s.getField("v"))
    if op == "$median":
        return F.percentile(compile_expr(arg["input"], df), F.lit(0.5))
    if op == "$percentile":
        ps = arg["p"]
        return F.percentile(
            compile_expr(arg["input"], df), F.array(*[F.lit(float(p)) for p in ps])
        )
    if op == "$mergeObjects":
        # later documents override per field (non-null wins); order =
        # the pipeline's sort order, so a single-direction $sort must
        # precede for a deterministic result
        key = _sort_key_col(sort_spec, reverse=False)
        if key is None:
            raise PipelineCompileError(
                "$mergeObjects accumulator requires a preceding single-direction $sort"
            )
        ascending = next(iter(sort_spec.values())) >= 0
        doc = compile_expr(arg, df)
        dtype = df.select(doc.alias("__d")).schema["__d"].dataType
        if not hasattr(dtype, "fields"):
            raise PipelineCompileError("$mergeObjects accumulator input must be a document")
        fields = [f.name for f in dtype.fields]
        picked = []
        for fname in fields:
            v = doc.getField(fname)
            order_key = F.when(v.isNotNull(), key)  # null keys are skipped
            fn = F.max_by if ascending else F.min_by
            picked.append(fn(v, order_key).alias(fname))
        return F.struct(*picked)
    raise PipelineCompileError(f"unsupported $group accumulator: {op}")


def _rank_accumulator(op: str, arg: dict, df: DataFrame | None) -> Column:
    """$top/$bottom/$topN/$bottomN: extrema by an accumulator-local
    sortBy. Single sort key or uniform direction (struct ordering)."""
    sort_by = arg["sortBy"]
    directions = set(sort_by.values())
    if len(directions) != 1:
        raise PipelineCompileError(f"{op}: mixed sort directions are not supported")
    ascending = next(iter(directions)) >= 0
    keys = [F.col(k) for k in sort_by]
    key = keys[0] if len(keys) == 1 else F.struct(*keys)
    out = compile_expr(arg["output"], df)
    if op in ("$top", "$bottom"):
        want_min = (op == "$top") == ascending
        return (F.min_by if want_min else F.max_by)(out, key)
    n = int(arg["n"])
    pairs = F.array_sort(F.collect_list(F.struct(key.alias("k"), out.alias("v"))))
    if not ascending:
        pairs = F.reverse(pairs)
    take = (
        F.slice(pairs, 1, n)
        if op == "$topN"
        else F.when(F.size(pairs) > n, F.slice(pairs, -n, n)).otherwise(pairs)
    )
    return F.transform(take, lambda s: s.getField("v"))


def _stage_group(df: DataFrame, arg: dict, sort_spec: dict | None = None) -> DataFrame:
    if "_id" not in arg:
        raise PipelineCompileError("$group requires _id")
    gid = arg["_id"]
    accs = [
        _accumulator(spec, df, sort_spec).alias(name)
        for name, spec in arg.items()
        if name != "_id"
    ]
    if gid is None:
        out = df.agg(*accs) if accs else df.agg(F.count(F.lit(1)).alias("__n")).drop("__n")
        return out.withColumn("_id", F.lit(None).cast("string")).select("_id", *[a for a in arg if a != "_id"])
    if isinstance(gid, dict) and not any(k.startswith("$") for k in gid):
        key = F.struct(*[compile_expr(v, df).alias(k) for k, v in gid.items()]).alias("_id")
    else:
        key = compile_expr(gid, df).alias("_id")
    return df.groupBy(key).agg(*accs)


# --- $project ------------------------------------------------------------

def _stage_project(df: DataFrame, arg: dict) -> DataFrame:
    if not arg:
        raise PipelineCompileError("$project requires at least one field")
    id_excluded = arg.get("_id") in (0, False)
    body = {k: v for k, v in arg.items() if k != "_id"}
    # {"_id": 0} alone is exclusion mode too (keep everything else)
    exclusion = (not body and id_excluded) or (
        bool(body) and all(v in (0, False) for v in body.values())
    )
    if exclusion:
        drops = list(body)
        if id_excluded:
            drops.append("_id")
        out = df
        for d in drops:
            if "." in d:
                top, rest = d.split(".", 1)
                out = out.withColumn(top, F.col(top).dropFields(rest))
            elif d in out.columns:
                out = out.drop(d)
        return out
    # inclusion / computed mode
    cols: list[Column] = []
    id_spec = arg.get("_id")
    if id_spec not in (None, 0, False, 1, True):
        cols.append(compile_expr(id_spec, df).alias("_id"))  # computed _id
    elif "_id" in df.columns and not id_excluded:
        cols.append(F.col("_id"))
    nested: dict[str, dict] = {}
    for name, spec in body.items():
        if spec in (0, False):
            raise PipelineCompileError("cannot mix exclusion with inclusion in $project")
        if "." in name:
            top, rest = name.split(".", 1)
            nested.setdefault(top, {})[rest] = spec
            continue
        if spec in (1, True):
            cols.append(F.col(name))
        else:
            cols.append(compile_expr(spec, df).alias(name))
    for top, subs in nested.items():
        def build(prefix: str, spec_map: dict) -> Column:
            # group this level's direct fields vs deeper paths, recurse
            direct: list[Column] = []
            deeper: dict[str, dict] = {}
            for rest, spec in spec_map.items():
                if "." in rest:
                    head, tail = rest.split(".", 1)
                    deeper.setdefault(head, {})[tail] = spec
                elif spec in (1, True):
                    direct.append(F.col(f"{prefix}.{rest}").alias(rest))
                else:
                    direct.append(compile_expr(spec, df).alias(rest))
            for head, sub in deeper.items():
                direct.append(build(f"{prefix}.{head}", sub).alias(head))
            return F.struct(*direct)

        cols.append(build(top, subs).alias(top))
    return df.select(*cols)


def _stage_add_fields(df: DataFrame, arg: dict) -> DataFrame:
    # All expressions in one $addFields/$set evaluate against the STAGE
    # INPUT document ({$addFields: {a: 5, b: "$a"}} -> b = original a),
    # so compile every spec against df and apply them in a single select.
    # MongoDB rejects a name appearing both bare and as a dotted prefix
    # in one stage ({"a": .., "a.b": ..} -> conflicting-path error);
    # silently merging would make the result depend on spec order.
    bare = {n for n in arg if "." not in n}
    dotted_tops = {n.split(".", 1)[0] for n in arg if "." in n}
    conflict = bare & dotted_tops
    if conflict:
        raise PipelineCompileError(
            f"conflicting paths in $addFields/$set: {sorted(conflict)}"
        )
    updates: dict[str, Column] = {}
    for name, spec in arg.items():
        if "." in name:
            top, rest = name.split(".", 1)
            if "." in rest:
                raise PipelineCompileError("max 2-level dotted paths in $addFields")
            base = updates.get(top, F.col(top))
            updates[top] = base.withField(rest, compile_expr(spec, df))
        else:
            updates[name] = compile_expr(spec, df)
    cols = [
        updates.pop(c).alias(c) if c in updates else F.col(c) for c in df.columns
    ]
    cols.extend(expr.alias(name) for name, expr in updates.items())
    return df.select(*cols)


# ---------------------------------------------------------------------
# $redact: per-level document pruning driven by $$PRUNE/$$KEEP/$$DESCEND
# (the reference forwards arbitrary stage JSON to the server; this is
# the server stage). Schema-driven recursion: the condition re-compiles
# at every struct level with bare field paths bound to that level's
# document, so depth is bounded by the static schema, and the whole
# stage stays a pure Column program (filter + nested struct rebuild —
# no shuffle, no Python). Mongo removes pruned fields; with a static
# schema they become null, matching this engine's missing≡null rule.

_REDACT_PRUNE = "__PRUNE__"
_REDACT_KEEP = "__KEEP__"
_REDACT_DESCEND = "__DESCEND__"


def _redact_mask_missing(expr: Any, dtype: T.StructType) -> Any:
    """Replace '$path' refs absent from this level's schema with null
    literals (Mongo: missing field; Spark: getField on an absent struct
    field is an analysis error)."""

    def present(path: str) -> bool:
        dt: T.DataType = dtype
        for part in path.split("."):
            if not isinstance(dt, T.StructType) or part not in dt.fieldNames():
                return False
            dt = dt[part].dataType
        return True

    def walk(e: Any) -> Any:
        if isinstance(e, str) and e.startswith("$") and not e.startswith("$$"):
            return e if present(e[1:]) else {"$literal": None}
        if isinstance(e, list):
            return [walk(x) for x in e]
        if isinstance(e, dict):
            if "$literal" in e:
                return e
            return {k: walk(v) for k, v in e.items()}
        return e

    return walk(expr)


def _redact_decision(arg: Any, doc: Column, dtype: T.StructType, df: DataFrame) -> Column:
    from route81_spark.pipeline.exprs import _env_walk

    env = {
        "CURRENT": doc,
        "PRUNE": F.lit(_REDACT_PRUNE),
        "KEEP": F.lit(_REDACT_KEEP),
        "DESCEND": F.lit(_REDACT_DESCEND),
    }
    return _env_walk(_redact_mask_missing(arg, dtype), env, df)


def _redact_apply(arg: Any, doc: Column, dtype: T.StructType, df: DataFrame) -> Column:
    """Redacted form of a struct value (KEEP -> as-is, DESCEND ->
    rebuilt with children redacted, PRUNE/invalid -> null)."""
    decision = _redact_decision(arg, doc, dtype, df)
    rebuilt = F.struct(
        *[
            _redact_child(arg, doc.getField(f.name), f.dataType, df).alias(f.name)
            for f in dtype.fields
        ]
    )
    return F.when(decision == _REDACT_KEEP, doc).when(
        decision == _REDACT_DESCEND, rebuilt
    )


def _redact_child(arg: Any, v: Column, dtype: T.DataType, df: DataFrame) -> Column:
    if isinstance(dtype, T.StructType):
        # a null value is not an embedded document: kept as-is
        return F.when(v.isNull(), v).otherwise(_redact_apply(arg, v, dtype, df))
    if isinstance(dtype, T.ArrayType):
        et = dtype.elementType
        if isinstance(et, T.StructType):
            # pruned elements are REMOVED from the array (not nulled)
            kept = F.filter(
                v,
                lambda x: _redact_decision(arg, x, et, df) != F.lit(_REDACT_PRUNE),
            )
            return F.transform(kept, lambda x: _redact_apply(arg, x, et, df))
        if isinstance(et, T.ArrayType):
            # Mongo descends through nested arrays
            return F.transform(v, lambda x: _redact_child(arg, x, et, df))
    return v


def _stage_redact(df: DataFrame, arg: Any) -> DataFrame:
    root = F.struct(*[F.col(c) for c in df.columns])
    kept = df.filter(
        _redact_decision(arg, root, df.schema, df) != F.lit(_REDACT_PRUNE)
    )
    red = _redact_apply(arg, root, df.schema, df)
    return kept.select(*[red.getField(c).alias(c) for c in df.columns])


def _stage_unwind(df: DataFrame, arg: Any) -> DataFrame:
    if isinstance(arg, str):
        path, include_idx, preserve = arg, None, False
    else:
        path = arg["path"]
        include_idx = arg.get("includeArrayIndex")
        preserve = bool(arg.get("preserveNullAndEmptyArrays", False))
    if not path.startswith("$"):
        raise PipelineCompileError("$unwind path must start with $")
    field = path[1:]
    others = [c for c in df.columns if c != field]
    if include_idx:
        gen = F.posexplode_outer(F.col(field)) if preserve else F.posexplode(F.col(field))
        out = df.select(*others, gen.alias(include_idx, field))
        # Mongo puts the index as a long; posexplode yields int pos
        return out.withColumn(include_idx, F.col(include_idx).cast("long"))
    gen = F.explode_outer(F.col(field)) if preserve else F.explode(F.col(field))
    return df.select(*others, gen.alias(field))


def _stage_replace_root(df: DataFrame, arg: Any) -> DataFrame:
    new_root = arg["newRoot"] if isinstance(arg, dict) and "newRoot" in arg else arg
    col = compile_expr(new_root, df)
    return df.select(col.alias("__root")).select("__root.*")


def _stage_sort(df: DataFrame, arg: dict) -> DataFrame:
    orders = []
    for field, direction in arg.items():
        if isinstance(direction, dict) and "$meta" in direction:
            # Mongo's relevance-sort idiom: {$sort: {f: {$meta:
            # "textScore"}}} sorts DESCENDING by the score expression
            from route81_spark.pipeline.exprs import compile_expr

            orders.append(compile_expr(direction, df).desc_nulls_last())
            continue
        c = F.col(field)
        # Mongo sorts missing/null lowest: nulls first asc, nulls last desc.
        orders.append(c.asc_nulls_first() if direction >= 0 else c.desc_nulls_last())
    return df.orderBy(*orders)


def _refs_vars(node: Any, names: set[str]) -> bool:
    if isinstance(node, str):
        return node.startswith("$$") and node[2:].split(".", 1)[0] in names
    if isinstance(node, list):
        return any(_refs_vars(x, names) for x in node)
    if isinstance(node, dict):
        return any(_refs_vars(v, names) for v in node.values())
    return False


def _stage_lookup_pipeline(df: DataFrame, arg: dict) -> DataFrame:
    """Concise/pipeline-form $lookup ({from, let, pipeline, as}).

    Compilable subset (fail loudly outside it): the first pipeline stage
    is the correlated {$match: {$expr: ...}} whose $expr is an $eq — or
    an $and of conjuncts — where each correlated conjunct equates a
    $$let-variable with a foreign field. Correlated equalities become
    the join keys (same pre-aggregated null-safe equi-join shape as the
    equality form — broadcast-able, one shuffle on distinct keys);
    uncorrelated conjuncts and any remaining row-local stages
    ($match/$project/$addFields/$set/$unset) filter/shape the foreign
    side BEFORE aggregation, so Catalyst pushes them into the foreign
    scan. A trailing $limit becomes a per-key array slice after the
    deterministic sort."""
    foreign = _resolve_collection(arg["from"])
    let = arg.get("let", {})
    var_names = set(let)
    pipe = list(arg["pipeline"])
    out_name = arg["as"]
    if not pipe or "$match" not in pipe[0] or "$expr" not in pipe[0]["$match"]:
        raise PipelineCompileError(
            "$lookup pipeline form requires a leading {$match: {$expr: ...}}"
        )
    expr = pipe[0]["$match"]["$expr"]
    conjuncts = expr["$and"] if isinstance(expr, dict) and "$and" in expr else [expr]
    local_keys: list[Column] = []
    foreign_keys: list[str] = []
    uncorrelated: list[Any] = []
    for c in conjuncts:
        if not (isinstance(c, dict) and len(c) == 1):
            raise PipelineCompileError(f"unsupported $lookup conjunct: {c}")
        op, operands = next(iter(c.items()))
        if not _refs_vars(c, var_names):
            uncorrelated.append(c)
            continue
        if op != "$eq" or len(operands) != 2:
            raise PipelineCompileError(
                f"correlated $lookup conjuncts must be $eq on a let variable: {c}"
            )
        a, b = operands
        if isinstance(a, str) and a.startswith("$$") and a[2:] in var_names:
            var, ffield = a[2:], b
        elif isinstance(b, str) and b.startswith("$$") and b[2:] in var_names:
            var, ffield = b[2:], a
        else:
            raise PipelineCompileError(f"cannot extract join key from: {c}")
        if not (isinstance(ffield, str) and ffield.startswith("$")):
            raise PipelineCompileError(f"foreign side of {c} must be a field path")
        local_keys.append(compile_expr(let[var], df))
        foreign_keys.append(ffield[1:])
    if not local_keys:
        raise PipelineCompileError("$lookup pipeline form needs >= 1 correlated equality")
    rest = pipe[1:]
    limit = None
    if rest and "$limit" in rest[-1]:
        limit = int(rest[-1]["$limit"])
        rest = rest[:-1]
    pre = foreign
    if uncorrelated:
        # compile WITHOUT the $expr coalesce(.., false) wrapper: in
        # filter context null drops the row either way, and the bare
        # comparison tree is what parquet pushdown can consume
        cond_expr = (
            {"$and": uncorrelated} if len(uncorrelated) > 1 else uncorrelated[0]
        )
        pre = pre.filter(compile_expr(cond_expr, pre).cast("boolean"))
    # Shaping stages fold into the collected-struct expression (not df
    # transforms) so the join-key columns stay available for grouping
    # even when the sub-pipeline projects them away.
    fields: dict[str, Column] = {c: F.col(c) for c in pre.columns}
    for stage in rest:
        name, sarg = next(iter(stage.items()))
        if _refs_vars(stage, var_names):
            raise PipelineCompileError("only the leading $match may reference let variables")
        if name == "$match":
            pre = pre.filter(compile_match(sarg, pre))
        elif name == "$project":
            specs = {k: v for k, v in sarg.items() if not (k == "_id" and v == 0)}
            if all(v == 0 for v in specs.values()):
                for k in specs:
                    fields.pop(k, None)
            else:
                new_fields: dict[str, Column] = {}
                for k, v in specs.items():
                    if v in (1, True):
                        if k not in fields:
                            raise PipelineCompileError(f"$lookup $project: unknown field {k}")
                        new_fields[k] = fields[k]
                    elif v in (0, False):
                        raise PipelineCompileError("cannot mix exclusion with inclusion in $project")
                    else:
                        new_fields[k] = compile_expr(v, pre)
                fields = new_fields
        elif name in ("$addFields", "$set"):
            for k, v in sarg.items():
                fields[k] = compile_expr(v, pre)
        elif name == "$unset":
            for k in sarg if isinstance(sarg, list) else [sarg]:
                fields.pop(k, None)
        else:
            raise PipelineCompileError(
                f"$lookup sub-pipeline stage {name} is not compilable (row-local only)"
            )
    fstruct = F.struct(*[v.alias(k) for k, v in fields.items()])
    grouped = pre.groupBy(
        *[F.col(k).alias(f"__lk{i}") for i, k in enumerate(foreign_keys)]
    ).agg(F.array_sort(F.collect_list(fstruct)).alias("__lookup_matches"))
    cond = local_keys[0].eqNullSafe(F.col("__lk0"))
    for i, lk in enumerate(local_keys[1:], 1):
        cond = cond & lk.eqNullSafe(F.col(f"__lk{i}"))
    joined = df.join(grouped, cond, "left")
    matches = F.col("__lookup_matches")
    if limit is not None:
        matches = F.slice(matches, 1, limit)
    empty = F.array().cast(grouped.schema["__lookup_matches"].dataType)
    return (
        joined.drop(*[f"__lk{i}" for i in range(len(foreign_keys))])
        .withColumn(out_name, F.coalesce(matches, empty))
        .drop("__lookup_matches")
    )


def _stage_lookup(df: DataFrame, arg: dict) -> DataFrame:
    """Equality-form $lookup: left outer array-join against another
    collection. Scale shape: the foreign side is pre-aggregated to one
    row per join key (map-side combine shrinks the shuffle to distinct
    keys), then a null-safe equi-join that Catalyst turns into a
    broadcast join when the aggregated side is small (dimension tables).
    Matches Mongo's null semantics: a null/missing localField matches
    foreign docs whose foreignField is null/missing."""
    if "pipeline" in arg:
        for k in ("from", "as"):
            if k not in arg:
                raise PipelineCompileError(f"$lookup requires {k}")
        return _stage_lookup_pipeline(df, arg)
    for k in ("from", "localField", "foreignField", "as"):
        if k not in arg:
            raise PipelineCompileError(f"$lookup requires {k} (equality form only)")
    foreign = _resolve_collection(arg["from"])
    out_name = arg["as"]
    fstruct = F.struct(*[F.col(c) for c in foreign.columns])
    grouped = foreign.groupBy(F.col(arg["foreignField"]).alias("__lookup_key")).agg(
        # Mongo's match order is natural (undefined for us); sort the
        # struct array so results are deterministic under parallelism
        F.array_sort(F.collect_list(fstruct)).alias("__lookup_matches")
    )
    joined = df.join(
        grouped,
        compile_expr("$" + arg["localField"], df).eqNullSafe(F.col("__lookup_key")),
        "left",
    )
    empty = F.array().cast(grouped.schema["__lookup_matches"].dataType)
    return (
        joined.drop("__lookup_key")
        .withColumn(out_name, F.coalesce(F.col("__lookup_matches"), empty))
        .drop("__lookup_matches")
    )


def _stage_graph_lookup(df: DataFrame, arg: dict) -> DataFrame:
    """$graphLookup: breadth-first closure over a self-referential
    collection. The traversal depends only on the start VALUE, so the
    BFS runs once per distinct start value and the closure array joins
    back to source rows on that value — never on synthetic row ids.
    Each round shuffles only the frontier (start, value) pairs plus the
    matched docs; visited/expanded sets bound work on cyclic graphs.
    Driver-side loop with a distributed emptiness check per round, like
    near_dup_clusters."""
    for k in ("from", "startWith", "connectFromField", "connectToField", "as"):
        if k not in arg:
            raise PipelineCompileError(f"$graphLookup requires {k}")
    raw_foreign = _resolve_collection(arg["from"])
    max_depth = int(arg.get("maxDepth", 20))
    depth_field = arg.get("depthField")
    conn_from, conn_to = arg["connectFromField"], arg["connectToField"]
    out_name = arg["as"]
    fcols = raw_foreign.columns
    # fresh attribute names: `from` may be the source collection itself
    # (org-chart pattern), which would make the joins ambiguous self-joins
    foreign = raw_foreign.select(
        *[F.col(c).alias(f"__f_{c}") for c in fcols]
    )

    start = df.select(compile_expr(arg["startWith"], df).alias("__start")).distinct()
    # checkpoint each round's frontier: the emptiness probe is a job
    # per round, and without lineage truncation round k would re-execute
    # rounds 1..k-1 (plan growth is exponential in depth). Frontiers are
    # (start, value) pairs — tiny relative to the corpus.
    frontier = checkpoint(start.select("__start", F.col("__start").alias("__val")))
    doc_struct = F.struct(*[F.col(f"__f_{c}").alias(c) for c in fcols])
    visited_parts: list[DataFrame] = []  # (__start, __doc, __depth) per round
    expanded = frontier  # (start, val) pairs already used as a frontier
    for depth in range(max_depth + 1):
        hits = frontier.join(
            foreign, F.col("__val").eqNullSafe(F.col(f"__f_{conn_to}"))
        ).select(
            F.col("__start"),
            doc_struct.alias("__doc"),
            F.lit(depth).cast("long").alias("__depth"),
            F.col(f"__f_{conn_from}").alias("__next"),
        )
        visited_parts.append(hits.select("__start", "__doc", "__depth"))
        if depth == max_depth:
            break
        nxt = hits.select("__start", F.col("__next").alias("__val")).distinct()
        frontier = checkpoint(nxt.join(expanded, ["__start", "__val"], "left_anti"))
        if frontier.limit(1).count() == 0:
            break
        expanded = expanded.unionByName(frontier)

    visited = visited_parts[0]
    for part in visited_parts[1:]:
        visited = visited.unionByName(part)
    # first-encounter (= minimum BFS) depth per (start, doc)
    per_doc = visited.groupBy("__start", "__doc").agg(F.min("__depth").alias("__depth"))
    if depth_field:
        # Mongo flattens depthField into the traversed document
        elem = F.struct(
            *[F.col("__doc").getField(c).alias(c) for c in fcols],
            F.col("__depth").alias(depth_field),
        )
    else:
        elem = F.col("__doc")
    closures = per_doc.groupBy("__start").agg(
        F.array_sort(F.collect_list(elem)).alias("__closure")
    )
    joined = df.join(
        closures, compile_expr(arg["startWith"], df).eqNullSafe(F.col("__start")), "left"
    )
    empty = F.array().cast(closures.schema["__closure"].dataType)
    return (
        joined.drop("__start")
        .withColumn(out_name, F.coalesce(F.col("__closure"), empty))
        .drop("__closure")
    )


def _stage_bucket(df: DataFrame, arg: dict) -> DataFrame:
    """$bucket: explicit-boundary histogram. Compiles to a when() chain
    (whole-stage codegen, no shuffle until the groupBy) + hash agg."""
    key = compile_expr(arg["groupBy"], df)
    bounds = arg.get("boundaries")
    if not isinstance(bounds, list) or len(bounds) < 2 or sorted(bounds) != bounds:
        raise PipelineCompileError("$bucket requires ascending `boundaries` (>= 2)")
    has_default = "default" in arg
    if not has_default:
        # Mongo errors at runtime on out-of-range docs; we require the
        # default at compile time so the plan can't silently drop rows
        raise PipelineCompileError("$bucket requires `default` in this engine")
    default = arg["default"]
    # Mongo allows heterogeneous _id values (numeric bounds + string
    # default); Spark's when() needs one type — stringify all branch
    # values when the types are mixed
    numeric = lambda v: isinstance(v, (int, float)) and not isinstance(v, bool)  # noqa: E731
    homogeneous = all(map(numeric, bounds)) and numeric(default)
    as_id = (lambda v: F.lit(v)) if homogeneous else (lambda v: F.lit(str(v)))
    bucket = F.when(key.isNull(), as_id(default))
    for lo, hi in zip(bounds, bounds[1:]):
        bucket = bucket.when((key >= F.lit(lo)) & (key < F.lit(hi)), as_id(lo))
    bucket = bucket.otherwise(as_id(default))
    output = arg.get("output", {"count": {"$sum": 1}})
    accs = [_accumulator(spec, df).alias(name) for name, spec in output.items()]
    return df.groupBy(bucket.alias("_id")).agg(*accs).orderBy(F.col("_id").asc_nulls_first())


def _stage_bucket_auto(df: DataFrame, arg: dict) -> DataFrame:
    """$bucketAuto: N equal-count buckets via ntile over the groupBy
    key. NOTE the total order: this stage is a global sort (single
    reduce task for the ntile window) — at cluster scale prefer $bucket
    with approx-quantile boundaries; kept exact here because Mongo's
    semantics are exact even-count distribution. _id = {min, max} where
    max is the next bucket's min (Mongo's boundary convention) and the
    last bucket's max is the global max."""
    key = compile_expr(arg["groupBy"], df)
    n = int(arg["buckets"])
    if n < 1:
        raise PipelineCompileError("$bucketAuto requires buckets >= 1")
    output = arg.get("output", {"count": {"$sum": 1}})
    w = Window.orderBy(key.asc_nulls_first())
    bucketed = df.withColumn("__bucket", F.ntile(n).over(w))
    accs = [_accumulator(spec, bucketed).alias(name) for name, spec in output.items()]
    per = bucketed.groupBy("__bucket").agg(
        F.min(key).alias("__min"), F.max(key).alias("__max"), *accs
    )
    wb = Window.orderBy("__bucket")
    return (
        per.withColumn(
            "_id",
            F.struct(
                F.col("__min").alias("min"),
                F.coalesce(F.lead("__min").over(wb), F.col("__max")).alias("max"),
            ),
        )
        .select("_id", *output.keys())
    )


def _stage_facet(df: DataFrame, arg: dict) -> DataFrame:
    """$facet: run each sub-pipeline over the same input; one output row
    whose fields are arrays of each facet's result docs. The input plan
    is shared (Spark recomputes or reuses the exchange per AQE); each
    facet collapses to a single row, so the final cross-join is trivial."""
    if not arg:
        raise PipelineCompileError("$facet requires at least one facet")
    parts: list[DataFrame] = []
    for name, stages in arg.items():
        if not isinstance(stages, list):
            raise PipelineCompileError(f"$facet field {name} must be a stage list")
        sub = apply_pipeline(df, stages)
        parts.append(
            sub.agg(
                F.array_sort(
                    F.collect_list(F.struct(*[F.col(c) for c in sub.columns]))
                ).alias(name)
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.crossJoin(p)
    return out


_WINDOW_RANKS = {
    "$rank": F.rank,
    "$denseRank": F.dense_rank,
    "$documentNumber": F.row_number,
}

_WINDOW_AGGS = {
    "$sum": F.sum, "$avg": F.avg, "$min": F.min, "$max": F.max,
    "$push": F.collect_list, "$count": None,
    "$stdDevPop": F.stddev_pop, "$stdDevSamp": F.stddev_samp,
    "$first": lambda c: F.first(c), "$last": lambda c: F.last(c),
}


def _window_bound(b: Any) -> int:
    if b == "unbounded":
        return Window.unboundedPreceding  # caller flips sign for the end
    if b == "current":
        return Window.currentRow
    if isinstance(b, int):
        return b
    raise PipelineCompileError(f"bad window bound: {b}")


def _calculus_window(op: str, op_arg: Any, df: DataFrame, sort_by: dict, w) -> Column:
    """$derivative: (last - first input) / (last - first sortBy key)
    over the window. $integral: trapezoidal sum over consecutive
    (key, value) samples collected from the (ordered) window frame."""
    if not sort_by:
        raise PipelineCompileError(f"{op} requires sortBy")
    axis = F.col(next(iter(sort_by)))
    val = compile_expr(op_arg["input"], df)
    if op == "$derivative":
        dv = F.last(val).over(w) - F.first(val).over(w)
        dk = F.last(axis).over(w) - F.first(axis).over(w)
        return F.when(dk != 0, dv / dk)
    samples = F.collect_list(F.struct(axis.alias("k"), val.alias("v"))).over(w)
    # trapezoid over consecutive frame samples (frame order = sortBy)
    return F.aggregate(
        F.zip_with(
            F.slice(samples, 1, F.greatest(F.size(samples) - 1, F.lit(0))),
            F.slice(samples, 2, F.greatest(F.size(samples) - 1, F.lit(0))),
            lambda a, b: (b.getField("v") + a.getField("v"))
            / 2
            * (b.getField("k") - a.getField("k")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _fill_window(op: str, op_arg: Any, df: DataFrame, sort_by: dict, base) -> Column:
    """$locf / $linearFill window operators — same semantics as the
    $fill stage methods, expressed per output field."""
    if not sort_by:
        raise PipelineCompileError(f"{op} requires sortBy")
    orders = [
        F.col(f).asc_nulls_first() if d >= 0 else F.col(f).desc_nulls_last()
        for f, d in sort_by.items()
    ]
    w = base.orderBy(*orders)
    col = compile_expr(op_arg, df)
    before = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    if op == "$locf":
        return F.last(col, ignorenulls=True).over(before)
    axis = F.col(next(iter(sort_by)))
    after = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    prev_v = F.last(col, ignorenulls=True).over(before)
    prev_k = F.last(F.when(col.isNotNull(), axis), ignorenulls=True).over(before)
    next_v = F.first(col, ignorenulls=True).over(after)
    next_k = F.first(F.when(col.isNotNull(), axis), ignorenulls=True).over(after)
    interp = prev_v + (next_v - prev_v) * (axis - prev_k) / (next_k - prev_k)
    return F.when(col.isNotNull(), col).when(
        prev_v.isNotNull() & next_v.isNotNull(), interp
    )


def _stage_set_window_fields(df: DataFrame, arg: dict) -> DataFrame:
    """$setWindowFields -> Spark window functions (rank/row_number/lead/
    lag/windowed aggregates over rowsBetween). partitionBy keeps this
    shuffle-parallel; an omitted partitionBy is a single global window
    (one task) exactly as in Mongo."""
    part = arg.get("partitionBy")
    sort_by = arg.get("sortBy")
    base = Window.partitionBy(compile_expr(part, df)) if part is not None else Window.partitionBy()
    if sort_by:
        orders = [
            F.col(f).asc_nulls_first() if d >= 0 else F.col(f).desc_nulls_last()
            for f, d in sort_by.items()
        ]
        base = base.orderBy(*orders)
    out = df
    for name, spec in arg.get("output", {}).items():
        spec = dict(spec)
        win = spec.pop("window", None)
        if len(spec) != 1:
            raise PipelineCompileError(f"bad $setWindowFields output: {name}")
        op, op_arg = next(iter(spec.items()))
        if op in _WINDOW_RANKS:
            if not sort_by:
                raise PipelineCompileError(f"{op} requires sortBy")
            col = _WINDOW_RANKS[op]().over(base)
        elif op == "$shift":
            if not sort_by:
                raise PipelineCompileError("$shift requires sortBy")
            by = int(op_arg.get("by", 1))
            default = op_arg.get("default")
            target = compile_expr(op_arg["output"], df)
            fn = F.lead if by >= 0 else F.lag
            col = fn(target, abs(by), default).over(base)
        elif op == "$expMovingAvg":
            if not sort_by:
                raise PipelineCompileError("$expMovingAvg requires sortBy")
            if "N" in op_arg:
                alpha = 2.0 / (int(op_arg["N"]) + 1)
            elif "alpha" in op_arg:
                alpha = float(op_arg["alpha"])
            else:
                raise PipelineCompileError("$expMovingAvg requires N or alpha")
            target = compile_expr(op_arg["input"], df).cast("double")
            # EMA is inherently recursive: fold the ordered prefix
            # (collect_list over unbounded-preceding..current) — the
            # prefix lists stay inside the partition's task
            prefix = F.collect_list(target).over(
                base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            col = F.when(
                F.size(prefix) > 0,
                F.aggregate(
                    F.slice(prefix, 2, F.greatest(F.size(prefix) - 1, F.lit(0))),
                    F.get(prefix, 0),
                    lambda acc, x: acc * (1.0 - alpha) + x * alpha,
                ),
            )
        elif op == "$addToSet":
            lo, hi = (win or {}).get("documents", ["unbounded", "unbounded"])
            w = base.rowsBetween(
                _window_bound(lo),
                Window.unboundedFollowing if hi == "unbounded" else _window_bound(hi),
            )
            col = F.array_sort(
                F.array_distinct(F.collect_list(compile_expr(op_arg, df)).over(w))
            )
        elif op in _WINDOW_AGGS or op in (
            "$covariancePop", "$covarianceSamp", "$derivative", "$integral",
            "$locf", "$linearFill", "$median", "$percentile",
        ):
            if win and "range" in win:
                # value-range window over the (single) sortBy key;
                # `unit` scales time bounds for timestamp keys
                if not sort_by or len(sort_by) != 1:
                    raise PipelineCompileError("range windows need exactly one sortBy key")
                sf_field, direction = next(iter(sort_by.items()))
                if direction < 0:
                    raise PipelineCompileError("range windows require ascending sortBy")
                lo, hi = win["range"]
                unit = win.get("unit")
                order = F.col(sf_field)
                scale = 1
                if unit is not None:
                    mult = {
                        "second": 1, "minute": 60, "hour": 3600, "day": 86400, "week": 604800,
                    }
                    if unit not in mult:
                        raise PipelineCompileError(f"unsupported range window unit: {unit}")
                    # timestamps order by epoch MICROseconds (full
                    # TimestampType precision) so boundary rows agree
                    # with an engine windowing on the timestamp itself
                    order = F.unix_micros(F.col(sf_field).cast("timestamp"))
                    scale = mult[unit] * 1_000_000

                def rb(b: Any, is_lo: bool) -> int:
                    if b == "unbounded":
                        return Window.unboundedPreceding if is_lo else Window.unboundedFollowing
                    if b == "current":
                        return Window.currentRow
                    return int(b) * scale

                part = arg.get("partitionBy")
                w = (
                    Window.partitionBy(compile_expr(part, df))
                    if part is not None
                    else Window.partitionBy()
                ).orderBy(order.asc()).rangeBetween(rb(lo, True), rb(hi, False))
            else:
                lo, hi = (win or {}).get("documents", ["unbounded", "unbounded"])
                lo_b = _window_bound(lo)
                hi_b = _window_bound(hi)
                if hi == "unbounded":
                    hi_b = Window.unboundedFollowing
                w = base.rowsBetween(lo_b, hi_b)
            if op == "$count":
                col = F.count(F.lit(1)).over(w)
            elif op == "$median":
                col = F.percentile(compile_expr(op_arg["input"], df), F.lit(0.5)).over(w)
            elif op == "$percentile":
                ps = op_arg["p"]
                col = F.percentile(
                    compile_expr(op_arg["input"], df),
                    F.array(*[F.lit(float(x)) for x in ps]),
                ).over(w)
            elif op in ("$covariancePop", "$covarianceSamp"):
                x = compile_expr(op_arg[0], df)
                y = compile_expr(op_arg[1], df)
                fn = F.covar_pop if op == "$covariancePop" else F.covar_samp
                col = fn(x, y).over(w)
            elif op in ("$derivative", "$integral"):
                col = _calculus_window(op, op_arg, df, sort_by, w)
            elif op in ("$locf", "$linearFill"):
                col = _fill_window(op, op_arg, df, sort_by, base)
            else:
                col = _WINDOW_AGGS[op](compile_expr(op_arg, df)).over(w)
        else:
            raise PipelineCompileError(f"unsupported $setWindowFields op: {op}")
        out = out.withColumn(name, col)
    return out


def _stage_geo_near(df: DataFrame, arg: dict) -> DataFrame:
    """$geoNear: distance from a fixed point, filter, sort. Planar
    (legacy-coordinates euclidean) and spherical (haversine on [lon,
    lat] degrees, unit sphere — multiply by earth radius client-side,
    as Mongo documents) modes. Pure per-row Column math + an optional
    filter; the only wide operation is the final distance sort, which
    Spark executes as range-partitioned sort (and as
    TakeOrderedAndProject when followed by $limit)."""
    for k in ("near", "distanceField", "key"):
        if k not in arg:
            raise PipelineCompileError(f"$geoNear requires {k} (key = [lonField, latField])")
    nx, ny = arg["near"]
    key = arg["key"]
    if isinstance(key, str):
        # Mongo form: one field holding a [lon, lat] legacy pair
        x = F.col(key).getItem(0).cast("double")
        y = F.col(key).getItem(1).cast("double")
    else:
        fx, fy = key
        x = F.col(fx).cast("double")
        y = F.col(fy).cast("double")
    if arg.get("spherical"):
        # haversine on the unit sphere; inputs in degrees
        lam1, phi1 = F.radians(F.lit(float(nx))), F.radians(F.lit(float(ny)))
        lam2, phi2 = F.radians(x), F.radians(y)
        a = (
            F.pow(F.sin((phi2 - phi1) / 2), 2)
            + F.cos(phi1) * F.cos(phi2) * F.pow(F.sin((lam2 - lam1) / 2), 2)
        )
        dist = 2 * F.asin(F.sqrt(a))
    else:
        dist = F.sqrt(F.pow(x - F.lit(float(nx)), 2) + F.pow(y - F.lit(float(ny)), 2))
    out = df
    if "query" in arg:
        out = out.filter(compile_match(arg["query"], out))
    out = out.withColumn(arg["distanceField"], dist * F.lit(float(arg.get("distanceMultiplier", 1.0))))
    dcol = F.col(arg["distanceField"])
    if "maxDistance" in arg:
        out = out.filter(dcol <= float(arg["maxDistance"]))
    if "minDistance" in arg:
        out = out.filter(dcol >= float(arg["minDistance"]))
    return out.orderBy(dcol.asc())


def _stage_union_with(df: DataFrame, arg: Any) -> DataFrame:
    """$unionWith: concatenate another collection (optionally through
    its own sub-pipeline). Schema union by name; columns missing on
    either side become null — Mongo's schemaless concatenation mapped
    onto fixed schemas."""
    if isinstance(arg, str):
        arg = {"coll": arg}
    other = _resolve_collection(arg["coll"])
    sub = arg.get("pipeline")
    if sub:
        other = apply_pipeline(other, sub)
    return df.unionByName(other, allowMissingColumns=True)


def _coll_name(arg: Any) -> str:
    if isinstance(arg, str):
        return arg
    if isinstance(arg, dict):
        return arg.get("coll") or arg.get("into") or ""
    raise PipelineCompileError(f"bad collection spec: {arg}")


def _stage_out(df: DataFrame, arg: Any) -> DataFrame:
    """$out: replace the target collection with the pipeline result.
    Pure by default (returns the new state); persists via the writer
    hook when one is installed."""
    name = _coll_name(arg)
    if _COLLECTION_WRITER is not None:
        _COLLECTION_WRITER(name, df)
    return df


def _stage_merge(df: DataFrame, arg: Any) -> DataFrame:
    """$merge: keyed merge of the pipeline result into an existing
    collection — the same replace-per-key shape as the consumer sink
    (route81.go:1086-1098), generalized to Mongo's whenMatched /
    whenNotMatched modes. One full-outer hash join on the `on` keys;
    target keys are unique per Mongo's requirement, so the join output
    is one row per key. fail modes are checked distributed (an
    aggregate, not a collect)."""
    if isinstance(arg, str):
        arg = {"into": arg}
    name = _coll_name(arg.get("into", arg))
    on = arg.get("on", "_id")
    keys = [on] if isinstance(on, str) else list(on)
    when_matched = arg.get("whenMatched", "merge")
    when_not_matched = arg.get("whenNotMatched", "insert")
    matched_pipeline = when_matched if isinstance(when_matched, list) else None
    if matched_pipeline is not None:
        when_matched = "__pipeline__"
    elif when_matched not in ("replace", "keepExisting", "merge", "fail"):
        raise PipelineCompileError(f"unsupported whenMatched: {when_matched}")
    if when_not_matched not in ("insert", "discard", "fail"):
        raise PipelineCompileError(f"unsupported whenNotMatched: {when_not_matched}")
    target = _resolve_collection(name)

    tcols = target.columns
    scols = df.columns
    # explicit presence markers: a null merge key on either side must
    # not read as "row absent" (the join itself is null-safe)
    t = target.select(
        *[F.col(c).alias(f"__t_{c}") for c in tcols], F.lit(True).alias("__t_present")
    )
    s = df.select(
        *[F.col(c).alias(f"__s_{c}") for c in scols], F.lit(True).alias("__s_present")
    )
    cond = None
    for k in keys:
        eq = F.col(f"__t_{k}").eqNullSafe(F.col(f"__s_{k}"))
        cond = eq if cond is None else (cond & eq)
    joined = t.join(s, cond, "full_outer")
    in_t = F.col("__t_present").isNotNull()
    in_s = F.col("__s_present").isNotNull()

    if when_matched == "fail":
        n = joined.filter(in_t & in_s).limit(1).count()
        if n:
            raise RuntimeError(f"$merge whenMatched=fail: matches exist in {name}")
    if when_not_matched == "fail":
        n = joined.filter(in_s & ~in_t).limit(1).count()
        if n:
            raise RuntimeError(f"$merge whenNotMatched=fail: unmatched source docs for {name}")

    matched_fields: dict[str, Column] = {}
    if matched_pipeline is not None:
        # whenMatched custom pipeline: bare "$field" paths read the
        # EXISTING target doc, "$$new.field" the incoming doc (Mongo's
        # update-pipeline binding) — evaluated per matched row via the
        # env-walker, no extra join or shuffle
        from route81_spark.pipeline.exprs import _env_walk

        t_struct = F.struct(*[F.col(f"__t_{c}").alias(c) for c in tcols])
        s_struct = F.struct(*[F.col(f"__s_{c}").alias(c) for c in scols])
        env = {"CURRENT": t_struct, "new": s_struct}
        matched_fields = {c: F.col(f"__t_{c}") for c in tcols}
        for stage in matched_pipeline:
            if not (isinstance(stage, dict) and len(stage) == 1):
                raise PipelineCompileError(f"bad whenMatched stage: {stage}")
            nm, sarg = next(iter(stage.items()))
            if nm in ("$set", "$addFields"):
                for k, v in sarg.items():
                    matched_fields[k] = _env_walk(v, env, None)
            elif nm == "$unset":
                for k in sarg if isinstance(sarg, list) else [sarg]:
                    matched_fields.pop(k, None)
            else:
                raise PipelineCompileError(
                    f"whenMatched pipeline supports $set/$addFields/$unset, not {nm}"
                )

    all_cols = list(dict.fromkeys(tcols + scols + list(matched_fields)))

    def pick(c: str) -> Column:
        tc = F.col(f"__t_{c}") if c in tcols else F.lit(None)
        sc = F.col(f"__s_{c}") if c in scols else F.lit(None)
        if when_matched == "replace":
            matched = sc
        elif when_matched == "merge":
            matched = F.coalesce(sc, tc)
        elif when_matched == "__pipeline__":
            matched = matched_fields.get(c, F.lit(None))
        else:  # keepExisting / fail (fail already raised on matches)
            matched = tc
        out = F.when(in_t & in_s, matched).when(in_t, tc)
        if when_not_matched == "insert":
            out = out.when(in_s, sc)
        return out.alias(c)

    keep = joined
    if when_not_matched == "discard":
        keep = joined.filter(in_t)
    new_state = keep.select(*[pick(c) for c in all_cols])
    if _COLLECTION_WRITER is not None:
        _COLLECTION_WRITER(name, new_state)
    return new_state


def _stage_fill(df: DataFrame, arg: dict) -> DataFrame:
    """$fill: null repair. value -> coalesce; locf -> last-non-null over
    the sort window; linear -> interpolation between the surrounding
    non-null points on the (numeric) sortBy axis. All window work, no
    extra shuffle beyond partitionBy."""
    part = arg.get("partitionBy")
    part_fields = arg.get("partitionByFields")
    sort_by = arg.get("sortBy")
    if part is not None and part_fields:
        raise PipelineCompileError("$fill: partitionBy and partitionByFields are exclusive")
    if part_fields:
        base = Window.partitionBy(*[F.col(f) for f in part_fields])
    elif part is not None:
        base = Window.partitionBy(compile_expr(part, df))
    else:
        base = Window.partitionBy()
    orders = None
    if sort_by:
        orders = [
            F.col(f).asc_nulls_first() if d >= 0 else F.col(f).desc_nulls_last()
            for f, d in sort_by.items()
        ]
    out = df
    for name, spec in arg.get("output", {}).items():
        col = F.col(name)
        if "value" in spec:
            out = out.withColumn(name, F.coalesce(col, compile_expr(spec["value"], out)))
            continue
        method = spec.get("method")
        if method not in ("locf", "linear"):
            raise PipelineCompileError(f"$fill method must be locf/linear/value: {spec}")
        if not sort_by:
            raise PipelineCompileError(f"$fill method {method} requires sortBy")
        w = base.orderBy(*orders)
        before = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        if method == "locf":
            out = out.withColumn(name, F.last(col, ignorenulls=True).over(before))
            continue
        # linear: interpolate on the first sortBy key's numeric axis
        axis = F.col(next(iter(sort_by)))
        after = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
        prev_v = F.last(col, ignorenulls=True).over(before)
        prev_k = F.last(F.when(col.isNotNull(), axis), ignorenulls=True).over(before)
        next_v = F.first(col, ignorenulls=True).over(after)
        next_k = F.first(F.when(col.isNotNull(), axis), ignorenulls=True).over(after)
        interp = prev_v + (next_v - prev_v) * (axis - prev_k) / (next_k - prev_k)
        out = out.withColumn(
            name,
            F.when(col.isNotNull(), col).when(
                prev_v.isNotNull() & next_v.isNotNull(), interp
            ),
        )
    return out


def _stage_densify(df: DataFrame, arg: dict) -> DataFrame:
    """$densify: materialize missing steps of a numeric/temporal axis.
    Bounds rows (per partition or global) are tiny aggregates; the
    generated sequence explodes from them and anti-joins the existing
    axis values; created rows carry only the field + partition fields
    (nulls elsewhere) exactly as in Mongo."""
    field = arg["field"]
    rng = arg.get("range") or {}
    if "step" not in rng or "bounds" not in rng:
        raise PipelineCompileError("$densify requires range.step and range.bounds")
    step, bounds, unit = rng["step"], rng["bounds"], rng.get("unit")
    parts = arg.get("partitionByFields", [])
    if not unit and not (isinstance(step, int) and not isinstance(step, bool)):
        raise PipelineCompileError("$densify numeric step must be an integer")

    pcols = [F.col(p) for p in parts]
    if isinstance(bounds, list):
        lo, hi = bounds
        distinct_parts = df.select(*pcols).distinct() if parts else df.limit(1).select(
            F.lit(1).alias("__one")
        )
        ranged = distinct_parts.withColumn("__lo", F.lit(lo)).withColumn("__hi", F.lit(hi))
        upper_exclusive = True
    else:
        if bounds == "partition" and parts:
            ranged = df.groupBy(*pcols).agg(
                F.min(field).alias("__lo"), F.max(field).alias("__hi")
            )
        elif bounds == "full":
            agg = df.agg(F.min(field).alias("__lo"), F.max(field).alias("__hi"))
            ranged = (
                df.select(*pcols).distinct().crossJoin(F.broadcast(agg)) if parts else agg
            )
        else:
            raise PipelineCompileError(f"$densify bounds must be full/partition/[lo,hi): {bounds}")
        upper_exclusive = False
    if unit:
        seq = F.expr(f"sequence(__lo, __hi, interval {int(step)} {unit})")
    else:
        seq = F.sequence(F.col("__lo"), F.col("__hi"), F.lit(step))
    gen = ranged.select(*parts, F.col("__hi"), F.explode(seq).alias(field))
    if upper_exclusive:
        gen = gen.filter(F.col(field) < F.col("__hi"))
    gen = gen.select(*parts, field)
    existing = df.select(*parts, field).distinct()
    missing = gen.join(existing, parts + [field], "left_anti")
    return df.unionByName(missing, allowMissingColumns=True)


def _stage_documents(df: DataFrame, arg: Any) -> DataFrame:
    """$documents: replace the input with a literal document array.
    Documents must be literal (possibly nested / ext-JSON-tagged) and
    schema-homogeneous; compiled as one array-of-structs expression and
    exploded — no RDD, no driver-side type inference."""
    if not isinstance(arg, list) or not arg:
        raise PipelineCompileError("$documents requires a non-empty array of documents")
    if not all(isinstance(d, dict) for d in arg):
        raise PipelineCompileError("$documents entries must be documents")
    structs = F.array(*[compile_expr(d, None) for d in arg])
    return df.sparkSession.range(1).select(F.explode(structs).alias("__doc")).select("__doc.*")


def _stage_vector_search(df: DataFrame, arg: dict) -> DataFrame:
    """$vectorSearch (Atlas syntax) over an array<float> column.

    Brute-force cosine: scores are pure map-side expressions; only the
    global top-`limit` rows move (TakeOrderedAndProject), the right plan
    at any scale when `limit` is small. `numCandidates` is accepted as a
    hint (exact scan always scores everything; the ANN scale path lives
    in ops.similarity.bucketed_topk / ivf_topk, reachable via the
    $similarityTopK extension stage).

    Score = Atlas cosine score (1 + cos) / 2, exposed to later stages as
    the `__vs_score` column and via {"$meta": "vectorSearchScore"}.
    `tieBreaker` (extension): field that breaks equal-score ties so
    results are deterministic; Mongo leaves tie order undefined."""
    from route81_spark.ops.similarity import cosine
    from route81_spark.ops.util import det_round

    path = arg["path"]
    qv = arg["queryVector"]
    limit = int(arg["limit"])
    if not isinstance(qv, list) or not qv:
        raise PipelineCompileError("$vectorSearch queryVector must be a non-empty array")
    out = df
    if "filter" in arg:
        out = out.filter(compile_match(arg["filter"], out))
    qcol = F.array(*[F.lit(float(x)) for x in qv])
    score = det_round((F.lit(1.0) + cosine(F.col(path), qcol)) / 2, 6)
    out = out.withColumn("__vs_score", score)
    order = [F.col("__vs_score").desc()]
    if "tieBreaker" in arg:
        order.append(F.col(arg["tieBreaker"]).asc())
    return out.orderBy(*order).limit(limit)


_KNOWN_STAGES = {
    "$match", "$project", "$addFields", "$set", "$unset", "$limit", "$skip",
    "$count", "$sort", "$group", "$unwind", "$replaceRoot", "$replaceWith",
    "$sortByCount", "$sample", "$lookup", "$bucket", "$bucketAuto", "$facet",
    "$setWindowFields", "$graphLookup", "$fill", "$densify", "$out", "$merge",
    "$unionWith", "$geoNear", "$documents", "$vectorSearch", "$__lookupUnwind",
    "$redact",
}


def compile_stage(stage: dict, sort_spec: dict | None = None) -> Callable[[DataFrame], DataFrame]:
    if not (isinstance(stage, dict) and len(stage) == 1):
        raise PipelineCompileError(f"each pipeline stage must be a single-key document: {stage}")
    name, arg = next(iter(stage.items()))
    if name not in _KNOWN_STAGES and name not in EXTRA_STAGES:
        # extension stages register when route81_spark.ops.stages is
        # imported; load it before declaring the stage unknown so
        # pipeline JSON works from any entry point (e.g. python -m
        # route81_spark.main). It is imported here, not from
        # route81_spark.ops, because it imports this module.
        import route81_spark.ops.stages  # noqa: F401

        if name not in EXTRA_STAGES:
            # fail at config time, mirroring route81's hard pipeline-JSON
            # validation (route81.go:273-277)
            raise PipelineCompileError(f"unsupported pipeline stage: {name}")

    def fn(df: DataFrame) -> DataFrame:
        if name == "$match":
            return df.filter(compile_match(arg, df))
        if name == "$project":
            return _stage_project(df, arg)
        if name in ("$addFields", "$set"):
            return _stage_add_fields(df, arg)
        if name == "$unset":
            fields = arg if isinstance(arg, list) else [arg]
            out = df
            for fname in fields:
                if "." in fname:
                    # nested unset: rebuild the top-level struct without
                    # the sub-field (Column.dropFields)
                    top, rest = fname.split(".", 1)
                    out = out.withColumn(top, F.col(top).dropFields(rest))
                else:
                    out = out.drop(fname)
            return out
        if name == "$limit":
            return df.limit(int(arg))
        if name == "$skip":
            return df.offset(int(arg))
        if name == "$count":
            return df.agg(F.count(F.lit(1)).alias(arg))
        if name == "$sort":
            return _stage_sort(df, arg)
        if name == "$group":
            return _stage_group(df, arg, sort_spec)
        if name == "$unwind":
            return _stage_unwind(df, arg)
        if name == "$redact":
            return _stage_redact(df, arg)
        if name in ("$replaceRoot", "$replaceWith"):
            return _stage_replace_root(df, arg if name == "$replaceRoot" else {"newRoot": arg})
        if name == "$sample":
            # Mongo $sample is random; with the `key` extension the
            # sample is a deterministic md5-ordering — reproducible
            # sampling, which training-data pipelines want anyway
            n = int(arg["size"])
            if "key" in arg:
                h = F.md5(F.concat(F.lit("s|"), compile_expr(arg["key"], df).cast("string")))
                return df.orderBy(h).limit(n)
            return df.orderBy(F.rand()).limit(n)
        if name == "$sortByCount":
            g = df.groupBy(compile_expr(arg, df).alias("_id")).agg(F.count(F.lit(1)).alias("count"))
            return g.orderBy(F.col("count").desc(), F.col("_id").asc_nulls_first())
        if name == "$lookup":
            return _stage_lookup(df, arg)
        if name == "$graphLookup":
            return _stage_graph_lookup(df, arg)
        if name == "$bucket":
            return _stage_bucket(df, arg)
        if name == "$bucketAuto":
            return _stage_bucket_auto(df, arg)
        if name == "$facet":
            return _stage_facet(df, arg)
        if name == "$setWindowFields":
            return _stage_set_window_fields(df, arg)
        if name == "$fill":
            return _stage_fill(df, arg)
        if name == "$densify":
            return _stage_densify(df, arg)
        if name == "$out":
            return _stage_out(df, arg)
        if name == "$merge":
            return _stage_merge(df, arg)
        if name == "$unionWith":
            return _stage_union_with(df, arg)
        if name == "$geoNear":
            return _stage_geo_near(df, arg)
        if name == "$documents":
            return _stage_documents(df, arg)
        if name == "$__lookupUnwind":
            return _stage_lookup_unwind_fused(df, arg)
        if name == "$vectorSearch":
            return _stage_vector_search(df, arg)
        if name in EXTRA_STAGES:
            return EXTRA_STAGES[name](df, arg)
        raise PipelineCompileError(f"unsupported pipeline stage: {name}")

    return fn


def _stage_lookup_unwind_fused(df: DataFrame, arg: dict) -> DataFrame:
    """Fused $lookup+$unwind (equality form): compiles to a direct join.

    The naive composition builds per-key struct arrays (groupBy +
    collect_list) only to explode them one stage later — two wide ops
    and a buffered array per key that a plain join never materializes.
    The fusion is what makes Mongo-style 'relational join spelled as
    $lookup→$unwind' run at Spark-native join speed (broadcast or
    sort-merge, chosen by Catalyst/AQE on the real sizes).
    preserveNullAndEmptyArrays ≡ left outer; default ≡ inner."""
    foreign = _resolve_collection(arg["from"])
    out_name = arg["as"]
    f2 = foreign.select(
        F.struct(*[F.col(c) for c in foreign.columns]).alias(out_name),
        F.col(arg["foreignField"]).alias("__lk"),
    )
    how = "left" if arg.get("__preserve") else "inner"
    local = compile_expr("$" + arg["localField"], df)
    return df.join(f2, local.eqNullSafe(F.col("__lk")), how).drop("__lk")


def _fuse_lookup_unwind(stages: list[dict]) -> list[dict]:
    """Pipeline rewrite: [$lookup(eq-form, as=X), $unwind($X)] -> one
    fused join stage. Skipped when the $unwind needs the array form
    (includeArrayIndex) or the $lookup is the pipeline/let form."""
    out: list[dict] = []
    i = 0
    while i < len(stages):
        s = stages[i]
        if (
            "$lookup" in s
            and "pipeline" not in s["$lookup"]
            and all(k in s["$lookup"] for k in ("from", "localField", "foreignField", "as"))
            and i + 1 < len(stages)
            and "$unwind" in stages[i + 1]
        ):
            u = stages[i + 1]["$unwind"]
            path = u if isinstance(u, str) else u.get("path")
            include_idx = isinstance(u, dict) and u.get("includeArrayIndex")
            preserve = isinstance(u, dict) and u.get("preserveNullAndEmptyArrays")
            if path == "$" + s["$lookup"]["as"] and not include_idx:
                fused = dict(s["$lookup"])
                if preserve:
                    fused["__preserve"] = True
                out.append({"$__lookupUnwind": fused})
                i += 2
                continue
        out.append(s)
        i += 1
    return out


def compile_pipeline(stages: list[dict]) -> Callable[[DataFrame], DataFrame]:
    """Compile a stage list into one DataFrame -> DataFrame transform.
    Tracks the most recent $sort so $first/$last accumulators in a later
    $group compile to deterministic min_by/max_by over the sort key."""
    fns = []
    sort_spec: dict | None = None
    stages = _fuse_lookup_unwind(stages)
    for s in stages:
        fns.append(compile_stage(s, sort_spec))
        key = next(iter(s))
        if key == "$sort":
            sort_spec = s["$sort"]
        elif key == "$group":
            sort_spec = None  # grouping discards document order

    def run(df: DataFrame) -> DataFrame:
        # one textScore scope per pipeline application: a $text inside
        # this run binds {$meta: "textScore"} for LATER stages of this
        # run only; on exit the enclosing scope (outer pipeline, or
        # none) is restored — no compile state leaks across pipelines.
        from route81_spark.pipeline import query as Q

        token = Q.open_text_scope()
        try:
            for f in fns:
                df = f(df)
            return df
        finally:
            Q.close_text_scope(token)

    return run


def apply_pipeline(df: DataFrame, stages: list[dict]) -> DataFrame:
    return compile_pipeline(stages)(df)
