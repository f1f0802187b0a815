"""Mongo aggregation *expression* dialect -> pyspark Column.

Covers the operators reachable from route81 pipeline configs
(SURVEY §2.B expression table): used inside $project / $addFields /
$group accumulators / $expr. Everything compiles to built-in
pyspark.sql.functions (JVM-side, whole-stage-codegen'd) — no Python
UDFs in this module.

Dialect rules (MongoDB server semantics, mirrored because the reference
delegates execution to the server — /root/reference/route81.go:181-197):
  * a string starting with "$" is a field path ("$a.b" -> col("a.b"))
  * "$$ROOT" is the whole document (struct of all columns)
  * a dict with a single "$op" key is an operator application
  * a dict without "$" keys is a nested document constructor
  * lists compile element-wise to F.array unless the operator consumes
    them as an argument list
  * everything else is a literal
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


class PipelineCompileError(ValueError):
    """Unsupported or malformed pipeline construct — fail loudly, mirroring
    route81's hard config validation (/root/reference/route81.go:273-277)."""


def _field(path: str, df: DataFrame | None = None) -> Column:
    if path == "$ROOT" or path == "ROOT":  # via $$ROOT
        if df is not None:
            return F.struct(*[F.col(c) for c in df.columns])
        return F.struct("*")
    return F.col(path)


def extjson_literal(d: dict) -> Column | None:
    """Recognize canonical-ext-JSON *literals* inside pipeline JSON —
    `{"$date": ...}`, `{"$numberLong": "5"}`, `{"$oid": "..."}` — the
    forms a Mongo-shell-authored config (README.md:271-313) carries.
    Returns None when `d` is not a literal form."""
    if len(d) != 1:
        return None
    k, v = next(iter(d.items()))
    if k == "$numberInt":
        return F.lit(int(v))
    if k == "$numberLong":
        return F.lit(int(v)).cast("long")
    if k == "$numberDouble":
        return F.lit(float(v))
    if k == "$numberDecimal":
        return F.lit(v).cast("decimal(38,10)")
    if k == "$oid":
        return F.lit(v)
    if k == "$date":
        if isinstance(v, dict) and "$numberLong" in v:
            return F.timestamp_micros(F.lit(int(v["$numberLong"]) * 1000))
        return F.lit(v).cast("timestamp")
    return None


def compile_expr(expr: Any, df: DataFrame | None = None) -> Column:
    """Compile one Mongo aggregation expression to a Column."""
    if isinstance(expr, str):
        if expr.startswith("$$"):
            name = expr[2:]
            if name == "ROOT":
                return _field("$ROOT", df)
            # $$this / $$value appear only inside higher-order lambdas,
            # which we compile with real Spark lambda variables below.
            raise PipelineCompileError(f"unsupported system variable: {expr}")
        if expr.startswith("$"):
            return F.col(expr[1:])
        return F.lit(expr)
    if isinstance(expr, bool) or isinstance(expr, (int, float)) or expr is None:
        return F.lit(expr)
    if isinstance(expr, list):
        return F.array(*[compile_expr(e, df) for e in expr])
    if isinstance(expr, dict):
        lit = extjson_literal(expr)
        if lit is not None:
            return lit
        op_keys = [k for k in expr if k.startswith("$")]
        if not op_keys:
            # document constructor
            return F.struct(*[compile_expr(v, df).alias(k) for k, v in expr.items()])
        if len(expr) != 1:
            raise PipelineCompileError(f"expression must have a single operator key: {expr}")
        op, arg = next(iter(expr.items()))
        return _compile_op(op, arg, df)
    raise PipelineCompileError(f"cannot compile expression: {expr!r}")


def _args(arg: Any, df: DataFrame | None, n: int | None = None) -> list[Column]:
    """Compile an operator argument list. Mongo allows a bare value where a
    one-element list is meant."""
    items = arg if isinstance(arg, list) else [arg]
    if n is not None and len(items) != n:
        raise PipelineCompileError(f"expected {n} args, got {len(items)}: {arg}")
    return [compile_expr(a, df) for a in items]


def _require_utc(op: str, arg: dict) -> None:
    """Date operators run in the session's UTC zone; a non-UTC timezone
    argument would be silently wrong — reject it loudly instead."""
    tz = arg.get("timezone")
    if tz not in (None, "UTC", "+00", "+0000", "+00:00", "Z"):
        raise PipelineCompileError(f"{op}: only UTC timezone is supported, got {tz!r}")


def _compile_cond(arg: Any, df: DataFrame | None) -> Column:
    if isinstance(arg, dict):
        branches = [arg.get("if"), arg.get("then"), arg.get("else")]
    else:
        branches = arg
    i, t, e = (compile_expr(x, df) for x in branches)
    return F.when(i, t).otherwise(e)


def _compile_switch(arg: Any, df: DataFrame | None) -> Column:
    out = None
    for b in arg["branches"]:
        case = compile_expr(b["case"], df)
        then = compile_expr(b["then"], df)
        out = F.when(case, then) if out is None else out.when(case, then)
    if "default" in arg:
        out = out.otherwise(compile_expr(arg["default"], df))
    return out


def _env_walk(expr: Any, env: dict[str, Column], df: DataFrame | None) -> Column:
    """Compile an expression where $$<name> references resolve through
    `env` (lambda variables of $filter/$map/$reduce, $let bindings)."""

    def walk(e: Any) -> Any:
        if isinstance(e, str):
            if e.startswith("$$"):
                head, _, rest = e[2:].partition(".")
                if head in env:
                    c = env[head]
                    for part in rest.split(".") if rest else []:
                        c = c.getField(part)
                    return c
            elif e.startswith("$") and "CURRENT" in env:
                # a bound current document ($merge whenMatched pipeline):
                # bare field paths resolve against it, not the input df
                c = env["CURRENT"]
                for part in e[1:].split("."):
                    c = c.getField(part)
                return c
            return compile_expr(e, df)
        if isinstance(e, list):
            return F.array(*[walk(x) for x in e])
        if isinstance(e, dict):
            op_keys = [k for k in e if k.startswith("$")]
            if not op_keys:
                return F.struct(*[walk(v).alias(k) for k, v in e.items()])
            op, arg = next(iter(e.items()))
            if op == "$let":
                inner = dict(env)
                inner.update({k: walk(v) for k, v in arg["vars"].items()})
                return _env_walk(arg["in"], inner, df)
            if op == "$cond":
                branches = (
                    [arg.get("if"), arg.get("then"), arg.get("else")]
                    if isinstance(arg, dict)
                    else arg
                )
                i, t, el = (walk(x) for x in branches)
                return F.when(i, t).otherwise(el)
            if op == "$switch":
                out = None
                for b in arg["branches"]:
                    case, then = walk(b["case"]), walk(b["then"])
                    out = F.when(case, then) if out is None else out.when(case, then)
                if "default" in arg:
                    out = out.otherwise(walk(arg["default"]))
                return out
            if op == "$filter":
                arr = walk(arg["input"])
                var = arg.get("as", "this")
                return F.filter(arr, lambda x: _env_walk(arg["cond"], {**env, var: x}, df))
            if op == "$map":
                arr = walk(arg["input"])
                var = arg.get("as", "this")
                return F.transform(arr, lambda x: _env_walk(arg["in"], {**env, var: x}, df))
            if op == "$reduce":
                arr = walk(arg["input"])
                init = walk(arg["initialValue"])
                return F.aggregate(
                    arr,
                    init,
                    lambda a, x: _env_walk(arg["in"], {**env, "value": a, "this": x}, df),
                )
            if op == "$literal":
                return F.lit(arg)
            return _compile_op_cols(op, arg, walk, df)
        return compile_expr(e, df)

    return walk(expr)


def _lambda_body(expr: Any, var: str, var_col: Column, df: DataFrame | None) -> Column:
    return _env_walk(expr, {var: var_col}, df)


def _reduce_body(expr: Any, value_col: Column, this_col: Column, df: DataFrame | None) -> Column:
    return _env_walk(expr, {"value": value_col, "this": this_col}, df)


def _compile_op_cols(op: str, arg: Any, walk: Callable[[Any], Column], df: DataFrame | None) -> Column:
    """Apply operator `op` where arguments are compiled via `walk`
    (used inside lambda bodies so $$this/$$value survive)."""
    items = arg if isinstance(arg, list) else [arg]
    cols = [walk(a) for a in items]
    return _apply_simple(op, cols, arg, df)


_DATE_FMT = {
    "%Y": "yyyy",
    "%m": "MM",
    "%d": "dd",
    "%H": "HH",
    "%M": "mm",
    "%S": "ss",
    "%L": "SSS",
    "%j": "DDD",
    "%%": "%",
}


def mongo_date_format(fmt: str) -> str:
    out = ""
    i = 0
    while i < len(fmt):
        if fmt[i] == "%" and i + 1 < len(fmt):
            tok = fmt[i : i + 2]
            out += _DATE_FMT.get(tok, tok)
            i += 2
        else:
            # literal chars that are letters must be quoted for SimpleDateFormat
            c = fmt[i]
            out += f"'{c}'" if c.isalpha() else c
            i += 1
    return out


_TRIG = {
    "$sin": F.sin, "$cos": F.cos, "$tan": F.tan,
    "$asin": F.asin, "$acos": F.acos, "$atan": F.atan,
    "$sinh": F.sinh, "$cosh": F.cosh, "$tanh": F.tanh,
    "$asinh": F.asinh, "$acosh": F.acosh, "$atanh": F.atanh,
    "$degreesToRadians": F.radians, "$radiansToDegrees": F.degrees,
}


def _nonnull(arr: Column) -> Column:
    return F.filter(arr, lambda x: x.isNotNull())


def _field_dtype(expr: Any, df: DataFrame | None):
    """Resolve the Spark DataType of a "$dotted.path" expression against
    the input schema, or None when it can't be known statically."""
    if df is None or not (isinstance(expr, str) and expr.startswith("$") and not expr.startswith("$$")):
        return None
    dt = None
    fields = {f.name: f.dataType for f in df.schema.fields}
    for part in expr[1:].split("."):
        if fields is None or part not in fields:
            return None
        dt = fields[part]
        from pyspark.sql import types as _T

        fields = {f.name: f.dataType for f in dt.fields} if isinstance(dt, _T.StructType) else None
    return dt


def _is_array(expr: Any, df: DataFrame | None) -> bool:
    from pyspark.sql import types as _T

    dt = _field_dtype(expr, df)
    # computed single-arg inputs to $sum/$avg/... are overwhelmingly
    # array-producing in the project context; default to array semantics
    return True if dt is None else isinstance(dt, _T.ArrayType)


def _arr_sum(arr: Column) -> Column:
    # Mongo $sum over an array ignores nulls; empty → 0. Sequential
    # left fold = DuckDB list_reduce order (bit-exact for doubles).
    return F.aggregate(
        _nonnull(arr), F.lit(0.0), lambda a, x: a + x.cast("double")
    )


def _apply_simple(op: str, cols: list[Column], raw_arg: Any, df: DataFrame | None) -> Column:
    """Operators whose compiled form is a pure function of already-compiled
    argument columns."""
    c = cols
    if op == "$add":
        out = c[0]
        for x in c[1:]:
            out = out + x
        return out
    if op == "$subtract":
        return c[0] - c[1]
    if op == "$multiply":
        out = c[0]
        for x in c[1:]:
            out = out * x
        return out
    if op == "$divide":
        return c[0] / c[1]
    if op == "$mod":
        return c[0] % c[1]
    if op == "$abs":
        return F.abs(c[0])
    if op == "$ceil":
        return F.ceil(c[0])
    if op == "$floor":
        return F.floor(c[0])
    if op == "$sqrt":
        return F.sqrt(c[0])
    if op == "$pow":
        return F.pow(c[0], c[1])
    if op == "$ln":
        return F.log(c[0])
    if op == "$log10":
        return F.log10(c[0])
    if op == "$log2":
        return F.log2(c[0])
    if op == "$log":
        # Mongo: [number, base]; ln(x)/ln(base) keeps the base dynamic
        return F.log(c[0]) / F.log(c[1])
    if op == "$exp":
        return F.exp(c[0])
    if op in _TRIG:
        return _TRIG[op](c[0])
    if op == "$atan2":
        return F.atan2(c[0], c[1])
    if op == "$bitAnd":
        out = c[0]
        for x in c[1:]:
            out = out.bitwiseAND(x)
        return out
    if op == "$bitOr":
        out = c[0]
        for x in c[1:]:
            out = out.bitwiseOR(x)
        return out
    if op == "$bitXor":
        out = c[0]
        for x in c[1:]:
            out = out.bitwiseXOR(x)
        return out
    if op == "$bitNot":
        return F.bitwise_not(c[0])
    if op == "$round":
        return F.round(c[0], 0) if len(c) == 1 else F.round(c[0], raw_arg[1])
    if op == "$trunc":
        scale = 0 if len(c) == 1 else raw_arg[1]
        # Mongo truncates toward zero at the given decimal place.
        factor = float(10**scale)
        return F.when(c[0] >= 0, F.floor(c[0] * factor) / factor).otherwise(
            F.ceil(c[0] * factor) / factor
        )
    if op == "$concat":
        return F.concat(*c)
    if op == "$toUpper":
        return F.upper(c[0])
    if op == "$toLower":
        return F.lower(c[0])
    if op == "$strLenCP":
        return F.length(c[0])
    if op == "$substrCP" or op == "$substr":
        # Mongo is 0-based; Spark substring is 1-based.
        return F.substring(c[0], raw_arg[1] + 1, raw_arg[2])
    if op == "$split":
        # Mongo splits on a literal delimiter; Spark split() takes a regex.
        import re as _re

        delim = raw_arg[1] if isinstance(raw_arg, list) else None
        if isinstance(delim, str):
            return F.split(c[0], _re.escape(delim))
        return F.split(c[0], c[1])
    if op == "$trim":
        return F.trim(c[0])
    if op == "$ltrim":
        return F.ltrim(c[0])
    if op == "$rtrim":
        return F.rtrim(c[0])
    if op == "$toString":
        return c[0].cast("string")
    if op == "$toInt":
        return c[0].cast("int")
    if op == "$toLong":
        return c[0].cast("long")
    if op == "$toDouble":
        return c[0].cast("double")
    if op == "$toBool":
        return c[0].cast("boolean")
    if op == "$toDate":
        return c[0].cast("timestamp")
    if op == "$year":
        return F.year(c[0])
    if op == "$month":
        return F.month(c[0])
    if op == "$dayOfMonth":
        return F.dayofmonth(c[0])
    if op == "$hour":
        return F.hour(c[0])
    if op == "$minute":
        return F.minute(c[0])
    if op == "$second":
        return F.second(c[0])
    if op == "$dayOfWeek":
        return F.dayofweek(c[0])
    if op == "$dayOfYear":
        return F.dayofyear(c[0])
    if op == "$week":
        return F.weekofyear(c[0])
    if op == "$quarter":
        return F.quarter(c[0])
    if op == "$isoWeek":
        # Spark weekofyear IS the ISO week number
        return F.weekofyear(c[0])
    if op == "$isoDayOfWeek":
        # Mongo: Monday=1..Sunday=7; Spark dayofweek: Sunday=1..Saturday=7
        return ((F.dayofweek(c[0]) + 5) % 7) + 1
    if op == "$isoWeekYear":
        # the ISO week-year is the calendar year of that week's Thursday
        isodow = ((F.dayofweek(c[0]) + 5) % 7) + 1
        return F.year(F.date_add(F.to_date(c[0]), 4 - isodow)).cast("long")
    if op == "$tsSecond":
        return c[0].getField("t").cast("long")
    if op == "$tsIncrement":
        return c[0].getField("i").cast("long")
    if op == "$millisecond":
        return (F.unix_micros(c[0]) % 1_000_000 / 1000).cast("int")
    if op == "$eq":
        return c[0].eqNullSafe(c[1])
    if op == "$ne":
        return ~c[0].eqNullSafe(c[1])
    if op == "$gt":
        return c[0] > c[1]
    if op == "$gte":
        return c[0] >= c[1]
    if op == "$lt":
        return c[0] < c[1]
    if op == "$lte":
        return c[0] <= c[1]
    if op == "$cmp":
        return F.when(c[0] < c[1], -1).when(c[0] > c[1], 1).otherwise(0)
    if op == "$strcasecmp":
        a, b = F.upper(c[0]), F.upper(c[1])
        return F.when(a < b, -1).when(a > b, 1).otherwise(0)
    if op == "$toDecimal":
        return c[0].cast("decimal(38,10)")
    if op in ("$max", "$min"):
        if isinstance(raw_arg, list):
            fn = F.greatest if op == "$max" else F.least
            return fn(*c) if len(c) > 1 else c[0]
        if not _is_array(raw_arg, df):
            return c[0]
        return F.array_max(c[0]) if op == "$max" else F.array_min(c[0])
    if op == "$sum":
        if isinstance(raw_arg, list):
            out = F.coalesce(c[0].cast("double"), F.lit(0.0))
            for x in c[1:]:
                out = out + F.coalesce(x.cast("double"), F.lit(0.0))
            return out
        if not _is_array(raw_arg, df):
            return F.coalesce(c[0].cast("double"), F.lit(0.0))
        return _arr_sum(c[0])
    if op == "$avg":
        if isinstance(raw_arg, list):
            vals = F.array(*c)
        elif not _is_array(raw_arg, df):
            return c[0].cast("double")
        else:
            vals = c[0]
        nn = _nonnull(vals)
        return F.when(F.size(nn) > 0, _arr_sum(nn) / F.size(nn))
    if op in ("$stdDevPop", "$stdDevSamp"):
        # two-pass fold over non-null elements; mirrored verbatim in
        # oracle SQL so the fp operation order is identical
        nn = _nonnull(F.array(*c)) if isinstance(raw_arg, list) else _nonnull(c[0])
        n = F.size(nn)
        mean = _arr_sum(nn) / n
        ss = F.aggregate(
            nn, F.lit(0.0), lambda a, x: a + (x.cast("double") - mean) * (x.cast("double") - mean)
        )
        denom = n if op == "$stdDevPop" else n - 1
        return F.when(denom > 0, F.sqrt(ss / denom))
    if op == "$first":
        return F.get(c[0], 0)
    if op == "$last":
        return F.get(c[0], F.size(c[0]) - 1)
    if op == "$and":
        out = c[0]
        for x in c[1:]:
            out = out & x
        return out
    if op == "$or":
        out = c[0]
        for x in c[1:]:
            out = out | x
        return out
    if op == "$not":
        return ~F.coalesce(c[0], F.lit(False))
    if op == "$ifNull":
        return F.coalesce(*c)
    if op == "$arrayElemAt":
        # Mongo is 0-based, negative counts from the end, out-of-bounds
        # yields missing. F.get is the null-safe accessor (ANSI mode makes
        # element_at throw out-of-bounds).
        idx = c[1]
        return F.get(c[0], F.when(idx < 0, F.size(c[0]) + idx).otherwise(idx))
    if op == "$size":
        return F.size(c[0])
    if op == "$concatArrays":
        return F.concat(*c)
    if op == "$setUnion":
        out = c[0]
        for x in c[1:]:
            out = F.array_union(out, x)
        return F.array_sort(out)
    if op == "$setIntersection":
        out = c[0]
        for x in c[1:]:
            out = F.array_intersect(out, x)
        return F.array_sort(out)
    if op == "$setDifference":
        return F.array_sort(F.array_except(c[0], c[1]))
    if op == "$setEquals":
        out = None
        first = F.array_sort(F.array_distinct(c[0]))
        for x in c[1:]:
            p = first == F.array_sort(F.array_distinct(x))
            out = p if out is None else (out & p)
        return out
    if op == "$setIsSubset":
        return F.size(F.array_except(F.array_distinct(c[0]), c[1])) == 0
    if op == "$strLenBytes":
        return F.octet_length(c[0])
    if op == "$substrBytes":
        return F.substring(c[0].cast("binary"), raw_arg[1] + 1, raw_arg[2]).cast("string")
    if op == "$indexOfBytes":
        if not (isinstance(raw_arg, list) and isinstance(raw_arg[1], str)):
            raise PipelineCompileError("$indexOfBytes requires a literal search string")
        # byte offset = octet_length of the prefix before the match
        pos = F.instr(c[0], raw_arg[1])
        return F.when(pos > 0, F.octet_length(F.substring(c[0], 1, pos - 1))).otherwise(
            F.lit(-1)
        ).cast("int")
    if op == "$arrayToObject":
        # array of {k, v} structs (the $objectToArray output shape) -> map
        return F.map_from_entries(
            F.transform(
                c[0],
                lambda e: F.struct(e.getField("k").alias("key"), e.getField("v").alias("value")),
            )
        )
    if op == "$in":
        return F.array_contains(c[1], c[0])
    if op == "$slice":
        if len(raw_arg) == 2:
            n = raw_arg[1]
            if isinstance(n, int) and n < 0:
                return F.slice(c[0], F.greatest(F.size(c[0]) + n + 1, F.lit(1)), -n)
            return F.slice(c[0], 1, c[1])
        return F.slice(c[0], c[1] + F.lit(1), c[2])
    if op == "$range":
        step = c[2] if len(c) > 2 else F.lit(1)
        # Mongo $range excludes the end; Spark sequence includes it.
        return F.when(
            ((c[1] - c[0]) * step) > 0,
            F.sequence(c[0], c[1] - F.signum(step).cast("int"), step),
        ).otherwise(F.array().cast("array<int>"))
    if op == "$reverseArray":
        return F.reverse(c[0])
    if op == "$indexOfArray":
        # Mongo returns -1 when absent; array_position is 1-based, 0=absent
        return (F.array_position(c[0], c[1]) - 1).cast("int")
    if op == "$indexOfCP":
        if not (isinstance(raw_arg, list) and isinstance(raw_arg[1], str)):
            raise PipelineCompileError("$indexOfCP requires a literal search string")
        return (F.instr(c[0], raw_arg[1]) - 1).cast("int")
    if op == "$isArray":
        raise PipelineCompileError("$isArray requires schema introspection; not supported")
    if op == "$mergeObjects":
        raise PipelineCompileError("$mergeObjects outside $group is compiled per-stage")
    if op == "$literal":
        return F.lit(raw_arg)
    if op == "$type":
        raise PipelineCompileError("$type is schema-known; constant-fold at config time")
    if op == "$dateToString":
        raise PipelineCompileError("$dateToString handled in _compile_op")
    raise PipelineCompileError(f"unsupported expression operator: {op}")


def _compile_op(op: str, arg: Any, df: DataFrame | None) -> Column:
    # Operators with bespoke argument shapes first.
    if op == "$let":
        env = {k: compile_expr(v, df) for k, v in arg["vars"].items()}
        return _env_walk(arg["in"], env, df)
    if op == "$getField":
        if isinstance(arg, str):
            return F.col(arg)
        inp = compile_expr(arg["input"], df) if "input" in arg else None
        field = arg["field"]
        return inp.getField(field) if inp is not None else F.col(field)
    if op == "$setField":
        inp = compile_expr(arg["input"], df)
        return inp.withField(arg["field"], compile_expr(arg["value"], df))
    if op == "$unsetField":
        inp = compile_expr(arg["input"], df)
        return inp.dropFields(arg["field"])
    if op == "$sortArray":
        arr = compile_expr(arg["input"], df)
        by = arg["sortBy"]
        if by in (1, -1):
            # Mongo's sort order ranks null lowest: nulls first asc,
            # last desc — exactly sort_array's placement
            return F.sort_array(arr, asc=(by == 1))
        if isinstance(by, dict) and len(by) == 1:
            fname, direction = next(iter(by.items()))

            def cmp(a: Column, b: Column) -> Column:
                x, y = a.getField(fname), b.getField(fname)
                lt, gt = (-1, 1) if direction == 1 else (1, -1)
                return (
                    F.when(x.eqNullSafe(y), 0)
                    .when(x.isNull(), lt)
                    .when(y.isNull(), gt)
                    .when(x < y, lt)
                    .otherwise(gt)
                )

            return F.array_sort(arr, cmp)
        raise PipelineCompileError(f"unsupported $sortArray sortBy: {by}")
    if op == "$objectToArray":
        from pyspark.sql import types as _T

        if isinstance(arg, dict) and not any(k.startswith("$") for k in arg):
            # literal document constructor: keys are known statically
            vals = {k: compile_expr(v, df) for k, v in arg.items()}
            same = len({type(v) for v in arg.values()}) == 1
            return F.array(
                *[
                    F.struct(
                        F.lit(k).alias("k"),
                        (v if same else v.cast("string")).alias("v"),
                    )
                    for k, v in vals.items()
                ]
            )
        dt = _field_dtype(arg, df)
        if not isinstance(dt, _T.StructType):
            raise PipelineCompileError(
                "$objectToArray requires a schema-known struct field path"
            )
        src = compile_expr(arg, df)
        same = len({f.dataType.simpleString() for f in dt.fields}) == 1
        return F.array(
            *[
                F.struct(
                    F.lit(f.name).alias("k"),
                    (src.getField(f.name) if same else src.getField(f.name).cast("string")).alias("v"),
                )
                for f in dt.fields
            ]
        )
    if op in ("$firstN", "$lastN", "$minN", "$maxN") and isinstance(arg, dict):
        arr = compile_expr(arg["input"], df)
        n = compile_expr(arg["n"], df)
        if op == "$firstN":
            return F.slice(arr, F.lit(1), n)
        if op == "$lastN":
            start = F.greatest(F.size(arr) - n + 1, F.lit(1))
            return F.slice(arr, start, n)
        nn = _nonnull(arr)
        ordered = F.sort_array(nn) if op == "$minN" else F.sort_array(nn, asc=False)
        return F.slice(ordered, F.lit(1), n)
    if op == "$isNumber":
        from pyspark.sql import types as _T

        dt = _field_dtype(arg, df)
        if dt is not None:
            return F.lit(isinstance(dt, _T.NumericType))
        if isinstance(arg, (int, float)) and not isinstance(arg, bool):
            return F.lit(True)
        if isinstance(arg, (str, bool)) or arg is None:
            return F.lit(False)
        raise PipelineCompileError("$isNumber needs a schema-known field or literal")
    if op == "$dateTrunc":
        _require_utc(op, arg)
        unit = arg["unit"]
        bin_size = arg.get("binSize", 1)
        if bin_size != 1:
            raise PipelineCompileError("$dateTrunc binSize != 1 is not supported")
        if unit == "week" and arg.get("startOfWeek", "sunday").lower() != "monday":
            raise PipelineCompileError(
                "$dateTrunc week supports only startOfWeek=monday (Spark truncation)"
            )
        if unit not in ("year", "quarter", "month", "week", "day", "hour", "minute", "second"):
            raise PipelineCompileError(f"unsupported $dateTrunc unit: {unit}")
        return F.date_trunc(unit, compile_expr(arg["date"], df))
    if op == "$dateFromParts":
        def part(name: str, default: int) -> Column:
            return (
                compile_expr(arg[name], df).cast("int")
                if name in arg
                else F.lit(default)
            )

        return F.make_timestamp(
            part("year", 1970), part("month", 1), part("day", 1),
            part("hour", 0), part("minute", 0),
            part("second", 0).cast("double"),
        )
    if op == "$dateToParts":
        d = compile_expr(arg["date"], df)
        return F.struct(
            F.year(d).alias("year"),
            F.month(d).alias("month"),
            F.dayofmonth(d).alias("day"),
            F.hour(d).alias("hour"),
            F.minute(d).alias("minute"),
            F.second(d).alias("second"),
            # date_format works on both TIMESTAMP and TIMESTAMP_NTZ
            # (unix_micros rejects NTZ)
            F.date_format(d, "SSS").cast("int").alias("millisecond"),
        )
    if op == "$dateFromString":
        ds = compile_expr(arg["dateString"], df)
        if "format" in arg:
            return F.to_timestamp(ds, mongo_date_format(arg["format"]))
        return ds.cast("timestamp")
    if op == "$rand":
        return F.rand()
    if op == "$meta":
        if arg == "vectorSearchScore":
            return F.col("__vs_score")  # populated by the $vectorSearch stage
        if arg == "textScore":
            # compiles the engine-defined score expression against the
            # searched column, bound to the $text of the pipeline
            # application currently compiling (Mongo's implicit-index
            # context; scoped via a ContextVar, never a global)
            from route81_spark.pipeline import query as Q

            spec = Q.active_text_spec()
            if spec is None:
                raise PipelineCompileError(
                    '{$meta: "textScore"} requires a preceding $match with $text'
                )
            return Q.text_score(spec)
        raise PipelineCompileError(f"unsupported $meta: {arg}")
    if op == "$cond":
        return _compile_cond(arg, df)
    if op == "$switch":
        return _compile_switch(arg, df)
    if op == "$literal":
        return F.lit(arg)
    if op == "$dateToString":
        _require_utc(op, arg)
        fmt = mongo_date_format(arg.get("format", "%Y-%m-%dT%H:%M:%S.%LZ"))
        out = F.date_format(compile_expr(arg["date"], df), fmt)
        if "onNull" in arg:
            out = F.coalesce(out, compile_expr(arg["onNull"], df))
        return out
    if op in ("$regexFind", "$regexFindAll"):
        import re as _re

        inp = compile_expr(arg["input"], df)
        pattern = arg["regex"]
        if not isinstance(pattern, str):
            raise PipelineCompileError(f"{op} requires a literal regex")
        if "i" in arg.get("options", ""):
            pattern = f"(?i){pattern}"
        n_groups = _re.compile(pattern).groups
        if op == "$regexFindAll":
            return F.regexp_extract_all(inp, F.lit(pattern), 0)
        captures = F.array(
            *[F.regexp_extract(inp, pattern, g + 1) for g in range(n_groups)]
        ) if n_groups else F.array().cast("array<string>")
        return F.when(
            inp.rlike(pattern),
            F.struct(
                F.regexp_extract(inp, pattern, 0).alias("match"),
                (F.regexp_instr(inp, F.lit(pattern)) - 1).cast("int").alias("idx"),
                captures.alias("captures"),
            ),
        )
    if op == "$regexMatch":
        inp = compile_expr(arg["input"], df)
        pattern = arg["regex"]
        if "i" in arg.get("options", ""):
            pattern = f"(?i){pattern}"
        return inp.rlike(pattern)
    if op == "$replaceAll":
        import re as _re

        inp = compile_expr(arg["input"], df)
        return F.regexp_replace(
            inp, _re.escape(arg["find"]), arg["replacement"].replace("$", r"\$")
        )
    if op == "$replaceOne":
        inp = compile_expr(arg["input"], df)
        find, repl = arg["find"], arg["replacement"]
        pos = F.instr(inp, find)
        return F.when(
            pos > 0,
            F.concat(
                F.substring(inp, 1, pos - 1).cast("string"),
                F.lit(repl),
                inp.substr(pos + len(find), F.length(inp)),
            ),
        ).otherwise(inp)
    if op == "$convert":
        inp = compile_expr(arg["input"], df)
        to = arg["to"]
        mapping = {
            "int": "int", "long": "long", "double": "double", "bool": "boolean",
            "string": "string", "date": "timestamp", "decimal": "decimal(38,10)",
        }
        if to not in mapping:
            raise PipelineCompileError(f"unsupported $convert target: {to}")
        if "onError" in arg:
            # try_cast yields null on conversion failure (instead of the
            # ANSI error Mongo would also raise), onError fills it — but
            # only for values that were present: a null input stays null
            # (or takes onNull), matching Mongo's precedence
            out = inp.try_cast(mapping[to])
            on_err = compile_expr(arg["onError"], df)
            out = F.when(inp.isNotNull() & out.isNull(), on_err).otherwise(out)
        else:
            out = inp.cast(mapping[to])
        if "onNull" in arg:
            out = F.when(inp.isNull(), compile_expr(arg["onNull"], df)).otherwise(out)
        return out
    if op == "$dateAdd":
        _require_utc(op, arg)
        start = compile_expr(arg["startDate"], df)
        unit = arg["unit"]
        if unit.lower() not in ("year", "quarter", "month", "week", "day", "hour", "minute", "second"):
            raise PipelineCompileError(f"unsupported $dateAdd unit: {unit}")
        amount = compile_expr(arg["amount"], df)
        return F.timestamp_add(unit.upper(), amount, start)
    if op == "$dateSubtract":
        _require_utc(op, arg)
        start = compile_expr(arg["startDate"], df)
        unit = arg["unit"]
        if unit.lower() not in ("year", "quarter", "month", "week", "day", "hour", "minute", "second"):
            raise PipelineCompileError(f"unsupported $dateSubtract unit: {unit}")
        amount = compile_expr(arg["amount"], df)
        return F.timestamp_add(unit.upper(), -amount, start)
    if op == "$binarySize":
        inp = compile_expr(arg, df)
        return F.octet_length(inp)
    if op == "$dateDiff":
        # Mongo counts *boundary crossings* (like DuckDB date_diff), not
        # elapsed full units (like Spark timestampdiff) — compile
        # accordingly per unit
        start = compile_expr(arg["startDate"], df)
        end = compile_expr(arg["endDate"], df)
        unit = arg["unit"]
        if unit == "day":
            return F.datediff(F.to_date(end), F.to_date(start)).cast("long")
        if unit == "year":
            return (F.year(end) - F.year(start)).cast("long")
        if unit == "month":
            return (
                (F.year(end) * 12 + F.month(end)) - (F.year(start) * 12 + F.month(start))
            ).cast("long")
        if unit == "quarter":
            return (
                (F.year(end) * 4 + F.quarter(end)) - (F.year(start) * 4 + F.quarter(start))
            ).cast("long")
        if unit == "week":
            # boundary crossings of week starts; Mongo's default
            # startOfWeek is sunday, Spark/ISO truncation is monday —
            # honor the argument, reject silent divergence
            start_of_week = arg.get("startOfWeek", "sunday").lower()
            if start_of_week != "monday":
                raise PipelineCompileError(
                    "$dateDiff week supports only startOfWeek=monday"
                )
            return (
                F.datediff(
                    F.to_date(F.date_trunc("week", end)),
                    F.to_date(F.date_trunc("week", start)),
                )
                / 7
            ).cast("long")
        if unit in ("hour", "minute", "second"):
            secs = {"hour": 3600, "minute": 60, "second": 1}[unit]
            return (
                (F.unix_seconds(F.date_trunc(unit, end))
                 - F.unix_seconds(F.date_trunc(unit, start))) / secs
            ).cast("long")
        if unit == "millisecond":
            return (F.unix_millis(end) - F.unix_millis(start)).cast("long")
        raise PipelineCompileError(f"unsupported $dateDiff unit: {unit}")
    if op == "$filter":
        arr = compile_expr(arg["input"], df)
        var = arg.get("as", "this")
        return F.filter(arr, lambda x: _lambda_body(arg["cond"], var, x, df))
    if op == "$map":
        arr = compile_expr(arg["input"], df)
        var = arg.get("as", "this")
        return F.transform(arr, lambda x: _lambda_body(arg["in"], var, x, df))
    if op == "$reduce":
        arr = compile_expr(arg["input"], df)
        init = compile_expr(arg["initialValue"], df)
        return F.aggregate(arr, init, lambda acc, x: _reduce_body(arg["in"], acc, x, df))
    if op == "$zip":
        arrs = [compile_expr(a, df) for a in arg["inputs"]]
        if len(arrs) == 2:
            return F.zip_with(arrs[0], arrs[1], lambda a, b: F.array(a, b))
        raise PipelineCompileError("$zip supports exactly 2 inputs")
    if op == "$anyElementTrue":
        arr = _args(arg, df, 1)[0]
        return F.exists(arr, lambda x: F.coalesce(x.cast("boolean"), F.lit(False)))
    if op == "$allElementsTrue":
        arr = _args(arg, df, 1)[0]
        return F.forall(arr, lambda x: F.coalesce(x.cast("boolean"), F.lit(False)))
    if op == "$mergeObjects":
        # expression form: merge documents left-to-right, later non-null
        # values win per field (Mongo semantics). Field sets must be
        # statically known: literal doc constructors or schema-known
        # struct field paths.
        from pyspark.sql import types as _T

        items = arg if isinstance(arg, list) else [arg]
        sources: list[tuple[dict[str, Column], list[str]]] = []
        for it in items:
            if isinstance(it, dict) and not any(k.startswith("$") for k in it):
                sources.append(({k: compile_expr(v, df) for k, v in it.items()}, list(it)))
            else:
                dt = _field_dtype(it, df)
                if not isinstance(dt, _T.StructType):
                    raise PipelineCompileError(
                        "$mergeObjects args must be literal documents or "
                        "schema-known struct paths"
                    )
                src = compile_expr(it, df)
                sources.append(
                    ({f.name: src.getField(f.name) for f in dt.fields},
                     [f.name for f in dt.fields])
                )
        order: list[str] = []
        for _, names in sources:
            for n in names:
                if n not in order:
                    order.append(n)
        merged = []
        for n in order:
            cands = [vals[n] for vals, _ in reversed(sources) if n in vals]
            merged.append(F.coalesce(*cands).alias(n) if len(cands) > 1 else cands[0].alias(n))
        return F.struct(*merged)
    if op in ("$trim", "$ltrim", "$rtrim") and isinstance(arg, dict):
        inp = compile_expr(arg["input"], df)
        if "chars" in arg:
            if op == "$trim":
                return F.btrim(inp, F.lit(arg["chars"]))
            # Spark has no char-set ltrim/rtrim Column function; fail
            # loudly rather than silently whitespace-trimming
            raise PipelineCompileError(f"{op} with chars is not supported")
        fn = {"$trim": F.trim, "$ltrim": F.ltrim, "$rtrim": F.rtrim}[op]
        return fn(inp)
    # everything else: compile args generically
    cols = _args(arg, df)
    return _apply_simple(op, cols, arg, df)
