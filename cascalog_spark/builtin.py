"""Built-in operation library — the analog of ``cascalog.logic.ops`` (the
``c/`` namespace, cascalog-core/src/clj/cascalog/logic/ops.clj) plus the
JCascalog op classes (src/java/jcascalog/op/*.java) and cascalog-math stats
(cascalog-math/src/cascalog/math/stats.clj:7-48).

Every op here carries a SQL expression template (``expr_op`` /
``expr_filter`` / ``expr_agg``) with the exact semantics of the matching
Spark function, so Catalyst sees through it (predicate pushdown, codegen,
partial aggregation all apply) — the single most important perf decision
vs the reference's opaque-JVM-closure ops (SURVEY §4).  The compiler
splices templates into one string step per planner node, so a built-in
costs no PySpark ``Column`` construction on the driver.  ``py_fn`` mirrors
run the same ops on the in-memory platform.
"""

from __future__ import annotations

import operator as _pyop

from pyspark.sql import functions as F

from .ops import (BufferOp, FilterOp, LimitAgg, MapcatOp, MapOp, ParallelAgg,
                  column_filter, column_op, expr_agg, expr_filter, expr_op,
                  lit_col, render_sql, sql_lit, with_sql)

# ---------------------------------------------------------------------------
# scalar map ops (JCascalog Plus/Minus/Multiply/Div + api.clj `div`)

def _ng(fn):
    """Python mirror with Spark NULL propagation: any NULL input -> NULL
    output (for filters, NULL is falsy so the row drops — same as a NULL
    boolean in a WHERE clause)."""
    def wrapped(*vals):
        if any(v is None for v in vals):
            return None
        return fn(*vals)
    return wrapped


def _jmod(a, b):
    """Java/Spark ``%``: remainder keeps the DIVIDEND's sign (Python ``%``
    follows the divisor)."""
    import math

    r = math.fmod(a, b)
    return int(r) if isinstance(a, int) and isinstance(b, int) else r


def _infix(sym):
    """Left-associative variadic infix template: ``(a + b + c)``; one
    input passes through unchanged."""
    return lambda *fs: fs[0] if len(fs) == 1 \
        else "(" + f" {sym} ".join(fs) + ")"


def _div_sql(*fs):
    # each step divides a double (api.clj:237-242 Ratio-safe division)
    acc = fs[0]
    for f in fs[1:]:
        acc = f"(CAST({acc} AS DOUBLE) / {f})"
    return acc


def _call(fn):
    """Template for a variadic SQL function call: ``fn(a, b, ...)``."""
    return lambda *fs: f"{fn}({', '.join(fs)})"


add = expr_op("add", _infix("+"),
              py_fn=_ng(lambda *vs: _reduce_bin(lambda a, b: a + b, vs)))
sub = expr_op("sub", lambda *fs: _infix("-")(*fs) if len(fs) > 1
              else f"(- {fs[0]})",
              py_fn=_ng(lambda *vs: _reduce_bin(lambda a, b: a - b, vs)
                        if len(vs) > 1 else -vs[0]))
mult = expr_op("mult", _infix("*"),
               py_fn=_ng(lambda *vs: _reduce_bin(lambda a, b: a * b, vs)))
div = expr_op("div", _div_sql,
              py_fn=_ng(lambda *vs: _reduce_bin(lambda a, b: float(a) / b,
                                                vs)))
mod = expr_op("mod", "({0} % {1})", py_fn=_ng(_jmod))
negate_num = expr_op("neg", "(- {0})", py_fn=_ng(lambda v: -v))


def _reduce_bin(f, cols):
    acc = cols[0]
    for c in cols[1:]:
        acc = f(acc, c)
    return acc


# comparison filters (JCascalog LT/GT/LTE/GTE/Equals)
lt = expr_filter("lt", "({0} < {1})", py_fn=_ng(_pyop.lt))
gt = expr_filter("gt", "({0} > {1})", py_fn=_ng(_pyop.gt))
lte = expr_filter("lte", "({0} <= {1})", py_fn=_ng(_pyop.le))
gte = expr_filter("gte", "({0} >= {1})", py_fn=_ng(_pyop.ge))
# null-safe <=>: Clojure (= nil nil) is true, and the engine's implicit
# dup-var equality uses null-safe compare — keep !var semantics
# consistent (ADVICE r1)
eq = expr_filter("eq", lambda *fs: "(" + " AND ".join(
                     f"{fs[0]} <=> {f}" for f in fs[1:]) + ")",
                 py_fn=lambda *vs: all(_null_eq(vs[0], v) for v in vs[1:]))
# null-safe negation: Clojure (not= nil nil) is false; plain != drops
# rows where either side is null (ADVICE r1)
ne = expr_filter("ne", "(NOT ({0} <=> {1}))",
                 py_fn=lambda a, b: not _null_eq(a, b))
odd = expr_filter("odd", "({0} % 2 != 0)",
                  py_fn=_ng(lambda v: _jmod(v, 2) != 0))
even = expr_filter("even", "({0} % 2 = 0)",
                   py_fn=_ng(lambda v: _jmod(v, 2) == 0))
is_null = expr_filter("is_null", "({0} IS NULL)", py_fn=lambda v: v is None)
not_null = expr_filter("not_null", "({0} IS NOT NULL)",
                       py_fn=lambda v: v is not None)


def _null_eq(a, b) -> bool:
    if a is None and b is None:
        return True
    if a is None or b is None:
        return False
    return a == b


# string ops
def _concat_sql(*fs):
    return "concat(" + ", ".join(f"CAST({f} AS STRING)" for f in fs) + ")"


str_concat = expr_op(
    "str", _concat_sql,
    py_fn=_ng(lambda *vs: "".join(_spark_str(v) for v in vs)))
lower = expr_op("lower", "lower({0})", py_fn=_ng(str.lower))
upper = expr_op("upper", "upper({0})", py_fn=_ng(str.upper))
trim = expr_op("trim", "trim({0})", py_fn=_ng(lambda s: s.strip(" ")))
length = expr_op("length", "length({0})", py_fn=_ng(len))
substring = expr_op(
    "substring", "substring({0}, {1}, {2})",
    py_fn=_ng(lambda s, start, ln: _substr(s, start, ln)))


def _spark_str(v) -> str:
    """CAST(x AS STRING) spelling — booleans lowercase, doubles via repr."""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return repr(v)
    return str(v)


def _substr(s: str, start: int, ln: int) -> str:
    """Spark ``substring``: 1-based, negative start counts from the end."""
    if start > 0:
        i = start - 1
    elif start < 0:
        i = max(len(s) + start, 0)
    else:
        i = 0
    return s[i:i + max(ln, 0)]

# c/re-parse (ops.clj:154-158): regex groups from string.
def re_parse(pattern: str) -> MapcatOp:
    """All regex matches of ``pattern`` in the input string, one row each
    (reference: ops.clj:154-158 uses re-seq = find-all)."""
    import re as _re

    return MapcatOp(name="re-parse",
                    sql_template=lambda f, _p=sql_lit(pattern):
                    f"regexp_extract_all({f}, {_p}, 0)",
                    py_fn=_ng(lambda s, _p=pattern:
                              [m.group(0) for m in _re.finditer(_p, s)]))


def re_extract(pattern: str, group: int = 1) -> MapOp:
    import re as _re

    def _py(s, _p=pattern, _g=group):
        m = _re.search(_p, s)
        return m.group(_g) if m else ""  # Spark: no match -> empty string

    return expr_op("re-extract",
                   lambda f, _p=sql_lit(pattern), _g=int(group):
                   f"regexp_extract({f}, {_p}, {_g})",
                   py_fn=_ng(_py))


def split(pattern: str = r"\s+") -> MapcatOp:
    """Tokenize: 1 string row → n token rows.  Native split+explode, JVM-side."""
    import re as _re

    return MapcatOp(
        name="split",
        sql_template=lambda f, _p=sql_lit(pattern):
        f"filter(split({f}, {_p}), t -> t != '')",
        py_fn=_ng(lambda s, _p=pattern:
                  [t for t in _re.split(_p, s) if t != ""]))


def _py_to_ts(v):
    """Python mirror of ``F.to_timestamp`` for the common ISO spellings."""
    import datetime as _dt

    if isinstance(v, _dt.datetime):
        return v
    if isinstance(v, _dt.date):
        return _dt.datetime(v.year, v.month, v.day)
    try:
        return _dt.datetime.fromisoformat(str(v))
    except ValueError:
        return None  # Spark to_timestamp: unparseable -> NULL


# date ops (Cascading DateParser analog — cascading_api_test.clj:43-76)
date_parse = expr_op("date_parse", "to_timestamp({0})", py_fn=_ng(_py_to_ts))
year_of = expr_op("year", "year({0})", py_fn=_ng(lambda d: d.year))
month_of = expr_op("month", "month({0})", py_fn=_ng(lambda d: d.month))

identity_op = expr_op("identity",
                      lambda *fs: list(fs) if len(fs) > 1 else fs[0],
                      py_fn=lambda *vs: vs if len(vs) > 1 else vs[0])


def round_to(n: int) -> MapOp:
    """Factory: round to n decimals (HALF_UP, Spark ``round``).
    Python mirror uses HALF_UP Decimal quantize on the exact binary double
    (matching Spark's BigDecimal rounding, not Python's banker's round)."""
    import decimal as _dec

    def _py(v, _n=n):
        q = _dec.Decimal(1).scaleb(-_n)
        return float(_dec.Decimal(v).quantize(q, rounding=_dec.ROUND_HALF_UP))

    return expr_op(f"round{n}", f"round({{0}}, {int(n)})", py_fn=_ng(_py))


def _py_json_get(s: str, path: str):
    """Python mirror of ``F.get_json_object`` for the ``$.a.b[i]`` subset:
    returns the value as Spark spells it (strings bare, booleans lowercase,
    objects/arrays as compact JSON), None on invalid JSON / missing path."""
    import json as _json
    import re as _re

    if s is None or not path.startswith("$"):
        return None
    try:
        cur = _json.loads(s)
    except (ValueError, TypeError):
        return None
    for tok in _re.findall(r"\.([^.\[\]]+)|\[(\d+)\]", path[1:]):
        key, idx = tok
        try:
            cur = cur[int(idx)] if idx else cur[key]
        except (KeyError, IndexError, TypeError):
            return None
    if cur is None or isinstance(cur, str):
        return cur
    if isinstance(cur, bool):
        return "true" if cur else "false"
    if isinstance(cur, (dict, list)):
        return _json.dumps(cur, separators=(",", ":"))
    return repr(cur) if isinstance(cur, float) else str(cur)


def json_get(path: str) -> MapOp:
    """Extract a JSON field (``get_json_object``) — the reference has no
    JSON lib; this is the 'host-language fns' extension point (SURVEY
    §2.8)."""
    return expr_op("json_get", lambda f, _p=sql_lit(path):
                   f"get_json_object({f}, {_p})",
                   py_fn=_ng(lambda s: _py_json_get(s, path)))


# cast_to dtypes with faithful Python mirrors of Spark's ANSI CAST (the
# Spark 4 session default: malformed input RAISES, matching the Column
# behavior); anything else (timestamps, decimals, nested types) stays
# Spark-only
_PY_CASTS = {
    "int": lambda v: _py_int_cast(v, 32), "integer": lambda v: _py_int_cast(v, 32),
    "bigint": lambda v: _py_int_cast(v, 64), "long": lambda v: _py_int_cast(v, 64),
    "double": lambda v: float(v), "float": lambda v: float(v),
    "string": lambda v: _spark_str(v),
    "boolean": lambda v: _py_bool_cast(v),
}


def _py_int_cast(v, bits: int):
    if isinstance(v, bool):
        return int(v)
    # strings must be whole integers; numerics truncate toward zero
    n = int(v.strip()) if isinstance(v, str) else int(v)
    lo, hi = -(1 << (bits - 1)), (1 << (bits - 1)) - 1
    if not lo <= n <= hi:  # ANSI overflow errors like Spark's
        raise ValueError(f"cast overflow: {n} out of {bits}-bit range")
    return n


def _py_bool_cast(v):
    if isinstance(v, bool):
        return v
    if isinstance(v, str):
        t = v.strip().lower()
        if t in ("true", "t", "yes", "y", "1"):
            return True
        if t in ("false", "f", "no", "n", "0"):
            return False
        raise ValueError(f"cannot cast {v!r} to boolean")
    return bool(v)


def cast_to(dtype: str) -> MapOp:
    mirror = _PY_CASTS.get(dtype.lower())
    return expr_op(f"cast_{dtype}", lambda f: f"CAST({f} AS {dtype})",
                   py_fn=_ng(mirror) if mirror else None)


def sample(fraction: float, seed=None) -> FilterOp:
    """sample* (operations.clj:109-116): Bernoulli row sample, optional
    seed.  Zero-input filter: (c.sample(0.1, 42),)."""
    r = F.rand(seed) if seed is not None else F.rand()
    import random as _rnd

    rng = _rnd.Random(seed)
    return FilterOp(name="sample", column_fn=lambda *_: r < fraction,
                    py_fn=lambda *_: rng.random() < fraction)


def debug() -> FilterOp:
    """debug* (operations.clj:95-98): print tuples flowing through (executor
    stdout), pass everything."""

    def py_fn(*vals):
        print("DEBUG:", vals)
        return True

    return FilterOp(name="debug", py_fn=py_fn)


# ---------------------------------------------------------------------------
# aggregators (ops.clj:160-253; ops_impl.clj)

count = expr_agg("count", lambda *fs: "count(1)",
                 pandas_fn=lambda pdf: len(pdf), returns=("bigint",))
# c/!count — count of non-null values (ops.clj:170): count(col) is null-skipping
count_notnull = expr_agg("!count", "count({0})",
                         pandas_fn=lambda pdf: int(pdf.iloc[:, 0].count()),
                         returns=("bigint",))
sum_agg = expr_agg("sum", "sum({0})",
                   pandas_fn=lambda pdf: pdf.iloc[:, 0].sum())
min_agg = expr_agg("min", "min({0})",
                   pandas_fn=lambda pdf: pdf.iloc[:, 0].min())
max_agg = expr_agg("max", "max({0})",
                   pandas_fn=lambda pdf: pdf.iloc[:, 0].max())
avg = expr_agg("avg", "avg({0})",
               pandas_fn=lambda pdf: pdf.iloc[:, 0].mean())
distinct_count = expr_agg(
    "distinct-count", lambda *fs: f"count(DISTINCT {', '.join(fs)})",
    pandas_fn=lambda pdf: len(pdf.drop_duplicates()))
approx_distinct_count = expr_agg("approx-distinct-count",
                                 "approx_count_distinct({0})")
# Mergeable distinct-count sketches (Datasketches HLL): build per-batch/
# partition sketches, store them as binary columns, union across batches
# later — the incremental-analytics pattern where re-scanning history for
# each day's distinct-users number is a 100 TB non-starter.
hll_sketch = expr_agg("hll-sketch", "hll_sketch_agg({0})")
hll_union = expr_agg("hll-union", "hll_union_agg({0})")
hll_estimate = expr_op("hll-estimate", "hll_sketch_estimate({0})")
collect_list = expr_agg("collect-list", "collect_list({0})",
                        pandas_fn=lambda pdf:
                        [v for v in pdf.iloc[:, 0] if v is not None])
collect_set = expr_agg("collect-set", "collect_set({0})",
                       pandas_fn=lambda pdf: sorted(
                           {v for v in pdf.iloc[:, 0] if v is not None},
                           key=repr))
first_agg = expr_agg("first", "first({0}, false)",
                     pandas_fn=lambda pdf: pdf.iloc[0, 0])

def percentile(p: float) -> ParallelAgg:
    """Exact interpolated percentile aggregator (order statistics beyond
    the reference's monoid set; Spark ``percentile`` ↔ DuckDB
    ``quantile_cont`` ↔ pandas ``quantile(interpolation='linear')``)."""
    if not 0.0 <= p <= 1.0:
        raise ValueError(f"percentile: p must be in [0,1], got {p}")
    return expr_agg(
        f"percentile-{p}",
        lambda f, _p=sql_lit(float(p)): f"percentile({f}, {_p})",
        pandas_fn=lambda pdf: pdf.iloc[:, 0].quantile(p,
                                                      interpolation="linear"),
        returns=("double",))


def median() -> ParallelAgg:
    return percentile(0.5)


def approx_percentile(p: float, accuracy: int = 10_000) -> ParallelAgg:
    """Approximate percentile (Greenwald-Khanna sketch,
    ``percentile_approx``) — the 100 TB path: the sketch merges
    map-side in O(accuracy) memory per group, where the exact
    ``c.percentile`` must shuffle and sort every value.  Error is bounded
    by ``1/accuracy`` rank fraction.  Approximation is engine-specific, so
    queries using it get rows-only oracle checks (like
    ``c.approx_distinct``); tests bound it against the exact aggregator."""
    if not 0.0 <= p <= 1.0:
        raise ValueError(f"approx_percentile: p must be in [0,1], got {p}")
    return expr_agg(
        f"approx-percentile-{p}",
        lambda f, _p=sql_lit(float(p)), _a=int(accuracy):
        f"percentile_approx({f}, {_p}, {_a})",
        returns=("double",))


# cascalog-math stats.clj:24-48 (+ Welford 1-pass variance, stats.clj:7-22 —
# Spark's var_pop/var_samp are already single-pass numerically stable)
var_pop = expr_agg("variance", "var_pop({0})",
                   pandas_fn=lambda pdf: pdf.iloc[:, 0].var(ddof=0))
var_samp = expr_agg("sample-variance", "var_samp({0})",
                    pandas_fn=lambda pdf: pdf.iloc[:, 0].var(ddof=1))
stddev_pop = expr_agg("stddev", "stddev_pop({0})",
                      pandas_fn=lambda pdf: pdf.iloc[:, 0].std(ddof=0))
stddev_samp = expr_agg("sample-stddev", "stddev_samp({0})",
                       pandas_fn=lambda pdf: pdf.iloc[:, 0].std(ddof=1))


def limit(n: int) -> LimitAgg:
    """Per-group top-n by the query's sort option (ops.clj:172-206).

    Compiled to Window+row_number — fully streaming, no 2n combiner buffer.
    """
    return LimitAgg(name="limit", n=n)


def limit_rank(n: int) -> LimitAgg:
    """Like limit but appends the 1-based rank (ops.clj:208-226)."""
    return LimitAgg(name="limit-rank", n=n, with_rank=True)


def fixed_sample(n: int, seed=None) -> LimitAgg:
    """Uniform random n-sample per group via random sort key + limit
    (ops.clj:255-269 + src/java/cascalog/ops/RandLong.java).
    Spark: Window ordered by rand(seed) + row_number <= n."""
    return LimitAgg(name="fixed-sample", n=n, random=True, seed=seed)


def fixed_sample_deterministic(n: int, seed: int = 42) -> LimitAgg:
    """``c/fixed-sample`` with a content-derived sort key: order by
    ``md5(concat(values, seed))`` and keep the first n.

    Same uniform-sample shape as ``fixed_sample`` (md5 of distinct inputs
    is uniform), but the selected set is a pure function of (data, seed) —
    stable across engines, retries, and partitionings, so it is
    oracle-checkable and safe to use in pipelines that must be
    reproducible (the `rand()`-keyed variant re-draws per task attempt).
    Global form compiles to TakeOrderedAndProject (per-partition heaps),
    never a single-partition sort."""
    return LimitAgg(name="fixed-sample-det", n=n, random=True, seed=seed,
                    deterministic=True)


# ---------------------------------------------------------------------------
# operator combinators (ops.clj:14-150).  SQL-template members compose into
# one SQL template; Column-expression members (user ``column_op`` s, or a
# mix with built-ins) compose into one Column expression — both stay
# JVM-side; Python-fn members compose into one Python fn (ONE UDF instead
# of n).  Mixing JVM-expression and Python-fn ops in a single combinator is
# rejected — an expression can't run on Python values nor vice versa; use
# separate predicates instead.

def _combine_mode(ops, what: str) -> str:
    if all(getattr(o, "sql_template", None) is not None for o in ops):
        return "sql"
    if all(getattr(o, "sql_template", None) is not None
           or getattr(o, "column_fn", None) is not None for o in ops):
        return "column"
    if all(getattr(o, "py_fn", None) is not None for o in ops):
        return "py"
    raise ValueError(
        f"{what}: cannot combine JVM-expression ops with Python-fn ops in "
        "one combinator; compose same-kind ops or use separate predicates")


def _as_column_fn(op):
    """Column form of a combinator member.  A SQL-template op renders over
    its input Columns' SQL text, which the compiler attaches to every input
    Column it builds (``ops.with_sql``), and so does this to its outputs."""
    if getattr(op, "column_fn", None) is not None:
        return op.column_fn

    def column_fn(*cs):
        frags = []
        for c in cs:
            if getattr(c, "__cs_sql__", None) is None:
                raise ValueError(
                    f"{op.name}: a built-in op cannot take the output of a "
                    "Column-expression op inside a combinator; apply them "
                    "as separate predicates")
            frags.append(c.__cs_sql__)
        out = render_sql(op, frags)
        cols = [with_sql(F.expr(o), f"({o})")
                for o in (out if isinstance(out, list) else [out])]
        return cols if isinstance(out, list) else cols[0]

    return column_fn


def comp(*ops):
    """Compose map ops right-to-left (c/comp, ops.clj:34-44)."""
    ops = [o for o in ops]
    mode = _combine_mode(ops, "comp")
    if mode == "py":
        def py_fn(*vals):
            vals = list(vals)
            for op in reversed(ops):
                out = op.py_fn(*vals)
                vals = list(out) if op.n_out > 1 else [out]
            return tuple(vals) if len(vals) > 1 else vals[0]

        first = ops[0]
        return MapOp(name="comp", py_fn=py_fn,
                     returns=list(first.returns) or ["string"],
                     n_out=first.n_out)
    if mode == "sql":
        def sql_template(*fs):
            vals = list(fs)
            for op in reversed(ops):
                out = render_sql(op, vals)
                vals = out if isinstance(out, list) else [f"({out})"]
            return vals if len(vals) > 1 else vals[0]

        return MapOp(name="comp", sql_template=sql_template)
    fns = [_as_column_fn(o) for o in ops]

    def column_fn(*cs):
        vals = list(cs)
        for fn in reversed(fns):
            out = fn(*vals)
            vals = out if isinstance(out, list) else [out]
        return vals if len(vals) > 1 else vals[0]

    return MapOp(name="comp", column_fn=column_fn)


def juxt(*ops):
    """Apply n ops to same inputs producing n outputs (c/juxt, ops.clj:46-55)."""
    mode = _combine_mode(ops, "juxt")
    if mode == "py":
        return MapOp(name="juxt",
                     py_fn=lambda *vals: tuple(op.py_fn(*vals) for op in ops),
                     returns=[
                         (list(op.returns) or ["string"])[0] for op in ops],
                     n_out=len(ops))
    if mode == "sql":
        return MapOp(name="juxt", n_out=len(ops),
                     sql_template=lambda *fs: [render_sql(op, fs)
                                               for op in ops])
    fns = [_as_column_fn(o) for o in ops]
    return MapOp(name="juxt", column_fn=lambda *cs: [fn(*cs) for fn in fns],
                 n_out=len(ops))


def each(op):
    """Apply a 1-in/1-out op to every input var (c/each, ops.clj:57-70).
    JVM-expression ops only (output arity is the input arity, which a
    Python UDF's fixed return schema can't express)."""
    if getattr(op, "sql_template", None) is not None:
        m = MapOp(name=f"each-{op.name}",
                  sql_template=lambda *fs: [render_sql(op, [f]) for f in fs])
    elif getattr(op, "column_fn", None) is not None:
        m = MapOp(name=f"each-{op.name}",
                  column_fn=lambda *cs: [op.column_fn(c) for c in cs])
    else:
        raise ValueError(f"each({op.name}): requires a Column-expression op")
    m.dynamic_n_out = True  # type: ignore[attr-defined]
    return m


def partial(op, *consts):
    """Partially apply leading args with constants (c/partial, ops.clj:72-84).
    Preserves the op's kind, return types and arity.  A built-in (SQL
    template) op takes only constants with an exact SQL spelling (None,
    bool, int, float, str)."""
    import dataclasses

    def bound_sql():
        lits = [sql_lit(k) for k in consts]
        return lambda *fs: render_sql(op, [*lits, *fs])

    if isinstance(op, ParallelAgg):
        if op.sql_template is not None:
            return ParallelAgg(name=f"partial-{op.name}",
                               sql_template=bound_sql(), n_out=op.n_out,
                               returns=op.returns)
        return ParallelAgg(
            name=f"partial-{op.name}",
            expr_fn=lambda *cs: op.expr_fn(*[F.lit(k) for k in consts], *cs),
            n_out=op.n_out, returns=op.returns)
    kwargs = {}
    if getattr(op, "sql_template", None) is not None:
        kwargs["sql_template"] = bound_sql()
    if op.column_fn is not None:
        cfn = op.column_fn
        kwargs["column_fn"] = \
            lambda *cs: cfn(*[lit_col(k) for k in consts], *cs)
    if op.py_fn is not None:
        pfn = op.py_fn
        kwargs["py_fn"] = lambda *vals: pfn(*consts, *vals)
    return dataclasses.replace(op, name=f"partial-{op.name}", **kwargs)


def negate(filter_op: FilterOp) -> FilterOp:
    """c/negate (ops.clj:98-107)."""
    if getattr(filter_op, "sql_template", None) is not None:
        return FilterOp(
            name=f"not-{filter_op.name}",
            sql_template=lambda *fs: f"(NOT {render_sql(filter_op, fs)})")
    if filter_op.column_fn is not None:
        return FilterOp(name=f"not-{filter_op.name}",
                        column_fn=lambda *cs: ~filter_op.column_fn(*cs))
    return FilterOp(name=f"not-{filter_op.name}",
                    py_fn=lambda *vals: not filter_op.py_fn(*vals))


def _bool_combine(fops, what: str, name: str, sql_op: str, col_op, py_all):
    mode = _combine_mode(fops, what)
    if mode == "py":
        return FilterOp(name=name,
                        py_fn=lambda *v: py_all(f.py_fn(*v) for f in fops))
    if mode == "sql":
        return FilterOp(name=name, sql_template=lambda *fs: "(" + f" {sql_op} "
                        .join(render_sql(f, fs) for f in fops) + ")")
    fns = [_as_column_fn(f) for f in fops]

    def column_fn(*cs):
        acc = fns[0](*cs)
        for fn in fns[1:]:
            acc = col_op(acc, fn(*cs))
        return acc

    return FilterOp(name=name, column_fn=column_fn)


def all_filters(*fops) -> FilterOp:
    """c/all — conjunction of filters (ops.clj:109-129)."""
    return _bool_combine(fops, "all_filters", "all", "AND",
                         lambda a, b: a & b, all)


def any_filters(*fops) -> FilterOp:
    """c/any — disjunction of filters (ops.clj:131-150)."""
    return _bool_combine(fops, "any_filters", "any", "OR",
                         lambda a, b: a | b, any)


# ---------------------------------------------------------------------------
# auto-lift table for common Python callables used directly as predicates
# (reference: any Clojure fn is a predicate — predicate.clj:87-98; tests use
# str, +, *, <, odd? directly.  The Python analogs map to native SQL ops.)

KNOWN_CALLABLES = {
    _pyop.add: add,
    _pyop.sub: sub,
    _pyop.mul: mult,
    _pyop.truediv: div,
    _pyop.mod: mod,
    _pyop.lt: lt,
    _pyop.gt: gt,
    _pyop.le: lte,
    _pyop.ge: gte,
    _pyop.eq: eq,
    _pyop.ne: ne,
    str: expr_op("str", _concat_sql,
                 py_fn=_ng(lambda *vs: "".join(_spark_str(v) for v in vs))),
    len: expr_op("len", "length({0})", py_fn=_ng(len)),
    abs: expr_op("abs", "abs({0})", py_fn=_ng(abs)),
    # Spark greatest/least skip NULL args (NULL only when ALL are NULL).
    # _pymax/_pymin bind the BUILTINS: the module later rebinds max/min to
    # the c/max / c/min aggregator aliases, which a late global lookup
    # inside the lambda would pick up instead
    max: expr_op("greatest", _call("greatest"),
                 py_fn=lambda *vs, _pymax=max: _pymax(
                     (v for v in vs if v is not None), default=None)),
    min: expr_op("least", _call("least"),
                 py_fn=lambda *vs, _pymin=min: _pymin(
                     (v for v in vs if v is not None), default=None)),
}


# Reference-name aliases, LAST so they can't shadow Python builtins anywhere
# above: Cascalog spells the aggregators c/sum, c/min, c/max (ops.clj
# def-aggregateops), while the Python builtins max/min passed directly as
# predicates keep their scalar greatest/least lifting via PY_FN_MAP.
sum = sum_agg
min = min_agg
max = max_agg
