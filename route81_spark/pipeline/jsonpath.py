"""Dynamic-document dialect (SURVEY §1.1-2 option b): run the $match
query dialect against documents carried as opaque JSON *strings* —
no declared schema required, matching the reference's schemaless model.

Fields resolve with get_json_object (JVM-side, codegen'd). Typing rule:
a predicate value's Python type picks the comparison domain (numbers
compare as double, strings as text, bools as boolean) — the pragmatic
equivalent of Mongo's type-bracketed comparisons for the JSON-scalar
subset. Supported: $eq $ne $gt $gte $lt $lte $in $nin $exists $regex
and bare equality, with the same missing-field null semantics as the
schema'd dialect."""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F

from route81_spark.pipeline.exprs import PipelineCompileError


def json_field(json_col: Column, path: str) -> Column:
    return F.get_json_object(json_col, f"$.{path}")


def _typed(raw: Column, exemplar: Any) -> Column:
    if isinstance(exemplar, bool):
        return raw.cast("boolean")
    if isinstance(exemplar, (int, float)):
        return raw.cast("double")
    return raw


def _field_pred(json_col: Column, field: str, spec: Any) -> Column:
    raw = json_field(json_col, field)
    if isinstance(spec, dict) and any(k.startswith("$") for k in spec):
        preds: list[Column] = []
        for op, val in spec.items():
            col = _typed(raw, val if not isinstance(val, list) else (val[0] if val else ""))
            lit = F.lit(float(val)) if isinstance(val, (int, float)) and not isinstance(val, bool) else F.lit(val)
            if op == "$eq":
                preds.append(raw.isNull() if val is None else col == lit)
            elif op == "$ne":
                preds.append(~col.eqNullSafe(lit))
            elif op == "$gt":
                preds.append(col > lit)
            elif op == "$gte":
                preds.append(col >= lit)
            elif op == "$lt":
                preds.append(col < lit)
            elif op == "$lte":
                preds.append(col <= lit)
            elif op == "$in":
                vals = [float(v) if isinstance(v, (int, float)) and not isinstance(v, bool) else v for v in val if v is not None]
                clause = col.isin(vals) if vals else F.lit(False)
                if any(v is None for v in val):
                    clause = raw.isNull() | clause
                preds.append(clause)
            elif op == "$nin":
                inner = _field_pred(json_col, field, {"$in": val})
                preds.append(~F.coalesce(inner, F.lit(False)))
            elif op == "$exists":
                preds.append(raw.isNotNull() if val else raw.isNull())
            elif op == "$regex":
                preds.append(raw.rlike(val))
            else:
                raise PipelineCompileError(f"unsupported dynamic query operator: {op}")
        out = preds[0]
        for p in preds[1:]:
            out = out & p
        return out
    if spec is None:
        return raw.isNull()
    return _typed(raw, spec) == (
        F.lit(float(spec)) if isinstance(spec, (int, float)) and not isinstance(spec, bool) else F.lit(spec)
    )


def compile_match_json(query: dict, json_col: Column) -> Column:
    """$match over an opaque JSON document column."""
    preds: list[Column] = []
    for key, val in query.items():
        if key == "$and":
            sub = [compile_match_json(q, json_col) for q in val]
        elif key == "$or":
            sub = [compile_match_json(q, json_col) for q in val]
            out = sub[0]
            for s in sub[1:]:
                out = out | s
            preds.append(out)
            continue
        elif key == "$nor":
            out = F.coalesce(compile_match_json(val[0], json_col), F.lit(False))
            for q in val[1:]:
                out = out | F.coalesce(compile_match_json(q, json_col), F.lit(False))
            preds.append(~out)
            continue
        elif key.startswith("$"):
            raise PipelineCompileError(f"unsupported top-level operator: {key}")
        else:
            preds.append(_field_pred(json_col, key, val))
            continue
        p = sub[0]
        for s in sub[1:]:
            p = p & s
        preds.append(p)
    if not preds:
        return F.lit(True)
    out = preds[0]
    for p in preds[1:]:
        out = out & p
    return out


# --- dynamic pipeline ----------------------------------------------------

_CASTS = {
    "$toDouble": "double",
    "$toLong": "long",
    "$toInt": "int",
    "$toString": "string",
    "$toBool": "boolean",
}


def compile_expr_json(e: Any, json_col: Column) -> Column:
    """Micro expression dialect for dynamic documents: field paths
    (get_json_object), literals, casts, $ifNull, arithmetic (double
    domain), $concat. Anything richer needs a declared schema — fail
    loudly rather than guess types."""
    if isinstance(e, str):
        if e.startswith("$"):
            return json_field(json_col, e[1:])
        return F.lit(e)
    if isinstance(e, bool) or isinstance(e, (int, float)) or e is None:
        return F.lit(e)
    if isinstance(e, dict) and len(e) == 1:
        op, arg = next(iter(e.items()))
        if op in _CASTS:
            return compile_expr_json(arg, json_col).cast(_CASTS[op])
        if op == "$ifNull":
            return F.coalesce(*[compile_expr_json(a, json_col) for a in arg])
        if op in ("$add", "$subtract", "$multiply", "$divide"):
            cols = [compile_expr_json(a, json_col).cast("double") for a in arg]
            out = cols[0]
            for x in cols[1:]:
                out = {
                    "$add": out + x, "$subtract": out - x,
                    "$multiply": out * x, "$divide": out / x,
                }[op]
            return out
        if op == "$concat":
            return F.concat(*[compile_expr_json(a, json_col) for a in arg])
        if op == "$floor":
            return F.floor(compile_expr_json(arg, json_col).cast("double")).cast("double")
        if op == "$mod":
            a, b = (compile_expr_json(x, json_col).cast("double") for x in arg)
            return a % b
    raise PipelineCompileError(f"unsupported dynamic expression: {e!r}")


def _sort_json(df, json_col: Column, spec: dict):
    """Dynamic $sort: numeric values order before strings (Mongo type
    order for the scalar subset) — numeric cast primary, raw text
    secondary."""
    keys = []
    for path, direction in spec.items():
        raw = json_field(json_col, path)
        num = raw.cast("double")
        if direction == 1:
            keys += [num.asc_nulls_last(), raw.asc()]
        else:
            keys += [num.desc_nulls_first(), raw.desc()]
    return df.orderBy(*keys)


def apply_pipeline_json(df, json_col: str, stages: list[dict]):
    """Run a pipeline against documents carried as an opaque JSON string
    column — no declared schema (SURVEY §1.1-2 option b; route81 ships
    documents opaquely, so this is the passthrough-query surface).

    Row-preserving stages ($match/$sort/$limit/$skip) operate directly
    on JSON paths. The first materializing stage ($project/$group/
    $count) turns paths into real columns; any stages after it run on
    the schema'd compiler (`apply_pipeline`) over those columns, so the
    full dialect is available once the shape is declared."""
    from route81_spark.pipeline.compiler import apply_pipeline

    jc = F.col(json_col)
    for i, stage in enumerate(stages):
        if not (isinstance(stage, dict) and len(stage) == 1):
            raise PipelineCompileError(f"bad stage: {stage}")
        name, arg = next(iter(stage.items()))
        if name == "$match":
            df = df.filter(compile_match_json(arg, jc))
        elif name == "$sort":
            df = _sort_json(df, jc, arg)
        elif name == "$limit":
            df = df.limit(int(arg))
        elif name == "$skip":
            df = df.offset(int(arg))
        elif name == "$project":
            cols = []
            for out_name, spec in arg.items():
                if spec in (1, True):
                    cols.append(json_field(jc, out_name).alias(out_name))
                else:
                    cols.append(compile_expr_json(spec, jc).alias(out_name))
            return apply_pipeline(df.select(*cols), stages[i + 1 :])
        elif name == "$count":
            return apply_pipeline(df.agg(F.count(F.lit(1)).alias(arg)), stages[i + 1 :])
        elif name == "$group":
            gid = arg["_id"]
            key = (
                F.lit(None).alias("_id")
                if gid is None
                else compile_expr_json(gid, jc).alias("_id")
            )
            aggs = []
            for out_name, acc in arg.items():
                if out_name == "_id":
                    continue
                op, val = next(iter(acc.items()))
                if op == "$count":
                    aggs.append(F.count(F.lit(1)).alias(out_name))
                elif op == "$sum" and val in (1, True):
                    aggs.append(F.count(F.lit(1)).cast("double").alias(out_name))
                elif op in ("$sum", "$avg", "$min", "$max"):
                    v = compile_expr_json(val, jc).cast("double")
                    fn = {"$sum": F.sum, "$avg": F.avg, "$min": F.min, "$max": F.max}[op]
                    out = fn(v)
                    if op == "$sum":
                        out = F.coalesce(out, F.lit(0.0))
                    aggs.append(out.alias(out_name))
                else:
                    raise PipelineCompileError(f"unsupported dynamic accumulator: {op}")
            return apply_pipeline(df.groupBy(key).agg(*aggs), stages[i + 1 :])
        else:
            raise PipelineCompileError(f"unsupported dynamic stage: {name}")
    return df
