"""Operation types — the predicate-operation taxonomy of the reference engine.

Reference: cascalog-core/src/clj/cascalog/logic/def.clj:19-41 attaches
``::map``/``::mapcat``/``::filter``/``::aggregate``/``::combiner``/``::buffer``
type metadata to ops; predicate.clj:160-217 lifts arbitrary host-language
callables into predicates.

Spark-first design decision (SURVEY.md §4): every op the engine can express
natively stays a Catalyst expression, so predicate pushdown, codegen and
pruning apply; only user Python functions fall back to Arrow UDFs.  Native
ops come in two forms:

- ``sql_template``: a SQL expression over the inputs' SQL fragments (quoted
  column names, literals).  Every built-in op in ``builtin.py`` is one.  The
  compiler splices templates into one ``filter``/``selectExpr``/``agg`` step
  per planner node, with no PySpark ``Column`` built on the driver.
- ``column_fn``: a user function from input ``Column`` s to a ``Column``
  (``column_op``/``column_filter``/``defparallelagg``).  Each PySpark
  ``Column`` call pays the session's call-site capture, a few py4j round
  trips per call, so these cost more to compile than templates.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable, Optional, Sequence

from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# type helpers


class PyObjectType(T.BinaryType):
    """Marker type: the column carries PICKLED arbitrary Python objects —
    the engine's analog of the reference's Kryo-serialized untyped tuple
    values (conf.clj:86-94).  Physically a BinaryType; the compiler
    pickles op outputs declared ``returns="object"`` and transparently
    unpickles at every Python-op boundary and in ``run()``."""


_SIMPLE_TYPES = {
    "string": T.StringType, "str": T.StringType,
    "int": T.IntegerType, "integer": T.IntegerType,
    "bigint": T.LongType, "long": T.LongType,
    "smallint": T.ShortType, "short": T.ShortType,
    "tinyint": T.ByteType, "byte": T.ByteType,
    "double": T.DoubleType, "float": T.FloatType, "real": T.FloatType,
    "boolean": T.BooleanType, "bool": T.BooleanType,
    "binary": T.BinaryType, "date": T.DateType,
    "timestamp": T.TimestampType,
    "timestamp_ntz": T.TimestampNTZType,
}


def parse_type(t) -> T.DataType:
    if isinstance(t, T.DataType):
        return t
    if isinstance(t, str):
        s = t.strip().lower()
        if s == "object":
            return PyObjectType()
        # common spellings parse WITHOUT a SparkContext (fromDDL needs a
        # live JVM, which would make merely DEFINING a @defbufferfn op
        # require Spark — the in-memory platform must work without one)
        if s in _SIMPLE_TYPES:
            return _SIMPLE_TYPES[s]()
        if s.startswith("array<") and s.endswith(">"):
            return T.ArrayType(parse_type(s[6:-1]))
        if s.startswith("decimal(") and s.endswith(")"):
            p, sc = s[8:-1].split(",")
            return T.DecimalType(int(p), int(sc))
        return T.StructType.fromDDL(f"x {t}")[0].dataType
    raise TypeError(f"cannot parse Spark type from {t!r}")


# ---------------------------------------------------------------------------
# SQL fragments


def sql_quote(name: str) -> str:
    """Backtick-quote one identifier."""
    return "`" + name.replace("`", "``") + "`"


def sql_lit(v) -> str:
    """SQL spelling of a constant with the type ``F.lit`` gives it.

    Raises TypeError for a constant it cannot spell exactly (dates,
    timestamps, Decimals, bytes, NumPy integers, ints beyond 64 bits): the
    compiler binds those through ``F.lit`` instead."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if type(v) is int and -(1 << 63) <= v < (1 << 63):
        return f"({v})" if v < 0 else str(v)
    if isinstance(v, float):
        v = float(v)  # NumPy float64 subclasses float but reprs differently
        if v != v:
            return "CAST('NaN' AS DOUBLE)"
        if v in (float("inf"), float("-inf")):
            return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
        # a bare 0.1 parses as DECIMAL(1,1); the D suffix makes it a double
        r = repr(v)
        return f"({r}D)" if r.startswith("-") else f"{r}D"
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    raise TypeError(f"no exact SQL literal for {v!r}")


def with_sql(col, sql: str):
    """Attach a Column's SQL text as ``__cs_sql__``: a built-in op inside a
    combinator with user Column ops renders over it
    (``builtin._as_column_fn``)."""
    col.__cs_sql__ = sql
    return col


def lit_col(v):
    """``F.lit(v)``, with its SQL spelling attached when it has one."""
    try:
        return with_sql(F.lit(v), sql_lit(v))
    except TypeError:
        return F.lit(v)


def render_sql(op, frags):
    """Apply an op's ``sql_template`` to its inputs' SQL fragments: a
    format string (``{0}``, ``{1}`` …) or a callable over the fragments.
    Returns one SQL string, or a list of them for multi-output ops."""
    t = op.sql_template
    return t(*frags) if callable(t) else t.format(*frags)


# ---------------------------------------------------------------------------
# op base classes


class Op:
    """Base for everything usable in predicate-operator position."""

    name: str = "<op>"

    def __repr__(self) -> str:  # pragma: no cover
        return f"<{type(self).__name__} {self.name}>"


@dataclass(repr=False)
class MapOp(Op):
    """1 row → 1 row, appends output fields.

    Reference: ``defmapfn`` (logic/def.clj:28,36,66-68), ``map*``
    (cascading/operations.clj:131-134).
    Spark: native expression when ``sql_template`` or ``column_fn`` is
    given, else an Arrow UDF over ``py_fn``.
    """

    name: str
    column_fn: Optional[Callable[..., Any]] = None  # (*Column) -> Column|[Column]
    py_fn: Optional[Callable[..., Any]] = None  # (*scalar) -> scalar|tuple
    returns: Sequence[Any] = ()  # Spark types of outputs (for py_fn path)
    n_out: int = 1
    vectorized: bool = False  # py_fn takes/returns pandas Series
    sql_template: Any = None  # str | (*sql frags) -> str | [str]

    def __call__(self, *args, **kwargs):
        if self.py_fn is not None:
            return self.py_fn(*args, **kwargs)
        raise TypeError(f"{self.name} is Column-expression-only")


@dataclass(repr=False)
class MapcatOp(Op):
    """1 row → n rows (UDTF).  Reference: ``defmapcatfn`` (def.clj:29,37,70-72).

    Spark: ``column_fn`` must return an ArrayType Column (exploded by the
    compiler — stays fully JVM-side); ``py_fn`` returns an iterable of output
    tuples (or scalars for single-output) via a UDF returning array<struct>.
    """

    name: str
    column_fn: Optional[Callable[..., Any]] = None  # (*Column) -> array Column
    py_fn: Optional[Callable[..., Any]] = None
    returns: Sequence[Any] = ()
    n_out: int = 1
    sql_template: Any = None  # SQL array expression, exploded like column_fn

    def __call__(self, *args, **kwargs):
        if self.py_fn is not None:
            return self.py_fn(*args, **kwargs)
        raise TypeError(f"{self.name} is Column-expression-only")


@dataclass(repr=False)
class FilterOp(Op):
    """Boolean predicate over input fields.

    Reference: ``deffilterfn`` (def.clj:30,38,74-76), ClojureFilter.java.
    A filter used with ``:>`` captures its boolean instead of filtering
    (predicate.clj:170-187) — the planner handles that, both paths work.
    """

    name: str
    column_fn: Optional[Callable[..., Any]] = None  # (*Column) -> bool Column
    py_fn: Optional[Callable[..., Any]] = None
    sql_template: Any = None  # boolean SQL expression

    def __call__(self, *args, **kwargs):
        if self.py_fn is not None:
            return self.py_fn(*args, **kwargs)
        raise TypeError(f"{self.name} is Column-expression-only")


@dataclass(repr=False)
class ParallelAgg(Op):
    """Monoid-style aggregator compiled to a native Spark agg expression.

    Reference: ``defparallelagg`` (logic/def.clj:107,137-164) — map-side
    partial aggregation.  Spark's HashAggregate does partial/final split
    automatically for native exprs, so the combiner machinery
    (ClojureCombinerBase.java) costs us nothing.
    """

    name: str
    expr_fn: Callable[..., Any] = None  # (*Column) -> Column (single out)
    n_out: int = 1
    # pandas fallback so this agg can participate in a mixed pandas grouping:
    pandas_fn: Optional[Callable[..., Any]] = None  # (pdf cols) -> scalar
    returns: Sequence[Any] = ("double",)  # types for the pandas fallback path
    sql_template: Any = None  # SQL aggregate expression (built-ins)


@dataclass(repr=False)
class SequentialAgg(Op):
    """Classic init/step/final fold over a (secondarily sorted) group stream.

    Reference: ``defaggregatefn`` (logic/def.clj:78-80, ClojureAggregator.java).
    Spark: computed inside ``applyInPandas`` (Arrow-batched grouped map).
    """

    name: str
    init_fn: Callable[[], Any] = None
    step_fn: Callable[..., Any] = None  # (acc, *invals) -> acc
    final_fn: Optional[Callable[[Any], Any]] = None  # acc -> scalar|tuple
    returns: Sequence[Any] = ()
    n_out: int = 1


@dataclass(repr=False)
class BufferOp:
    """Whole-group function: group's rows → seq of result rows.

    Reference: ``defbufferfn`` (logic/def.clj:82-84, ClojureBuffer.java).
    Spark: ``applyInPandas`` grouped-map; the group arrives secondarily
    sorted when the query carries ``sort=``/``reverse=`` options
    (operations.clj:251-264).
    """

    name: str
    pandas_fn: Callable[..., Any] = None  # (pandas.DataFrame) -> pandas.DataFrame
    returns: Sequence[Any] = ()
    n_out: int = 1


@dataclass(repr=False)
class BufferIterOp:
    """Whole-group function receiving a lazy ITERATOR over the group's rows.

    Reference: ``defbufferiterfn`` (logic/def.clj:86-88, ClojureBufferIter.
    java; api_test.clj:453-468 is the iterator-semantics regression spec) —
    unlike ``defbufferfn``, the group is never materialized: the op pulls
    rows one at a time, so groups larger than memory work.

    Spark: ``repartition(keys)`` + ``sortWithinPartitions(keys, sort)`` +
    ``mapInPandas`` — rows arrive key-contiguous, ``itertools.groupby``
    hands the op a true lazy iterator spanning Arrow batch boundaries.
    Peak memory is one Arrow batch + whatever the op itself retains,
    independent of group size (vs BufferOp's whole-group pandas frame).

    ``iter_fn(rows)``: rows is an iterator of input-value tuples; returns
    an iterable (may itself be lazy) of output tuples (scalars allowed for
    single-output ops).

    ``prefix_assoc``: opt-in parallel-prefix escape hatch for MEGAGROUPS
    (few giant groups → parallelism bounded by #groups on the exact
    path).  Declares the op an ADDITIVE PREFIX SCAN: for any split of the
    sorted group into prefix P and suffix S,
    ``iter_fn(P + S) == iter_fn(P) ++ [shift(o) for o in iter_fn(S)]``
    where ``shift`` adds the LAST output row of ``iter_fn(P)``'s final
    column to the final column and leaves every other column unchanged
    (i.e. the last output column is a running monoid sum; the rest are
    prefix-independent row echoes).  The compiler then blocks each group
    by range on the first sort column and runs the classic two-pass
    parallel prefix-sum (per-block fold + carry-in join) — parallelism =
    #groups × blocks.  The exact streaming path stays the default.
    """

    name: str
    iter_fn: Callable[..., Any] = None
    returns: Sequence[Any] = ()
    n_out: int = 1
    prefix_assoc: bool = False


@dataclass(repr=False)
class ParallelBufOp:
    """General ParallelBuffer: map-side init/combine partial aggregation
    feeding a reduce-side whole-group buffer.

    Reference: ``defparallelbuf`` (logic/def.clj:109-135) compiled by
    cascading/platform.clj:252-278 — ClojureBufferCombiner folds each map
    task's tuples per group key (init + combine), emits one intermediate
    tuple per (task, key), and the reduce-side buffer runs over the
    collected intermediates.

    Spark: stage 1 is ``mapInPandas`` (NO shuffle — per-partition dict
    combine, the analog of the map-side LRU combiner), so the shuffle
    carries one intermediate row per (partition, key) instead of every
    input row; stage 2 is ``applyInPandas`` over the intermediates.

    Contract::

        init(*invals)            -> intermediate tuple (len n_inter)
        combine(a, b)            -> intermediate tuple
        present(a)               -> intermediate tuple (optional, applied
                                    map-side after the partition fold)
        buffer([intermediates])  -> iterable of output tuples (len n_out)
    """

    name: str
    init_fn: Callable[..., Any] = None
    combine_fn: Callable[[Any, Any], Any] = None
    buffer_fn: Callable[[list], Any] = None
    present_fn: Optional[Callable[[Any], Any]] = None
    inter_returns: Sequence[Any] = ()  # Spark types of intermediate fields
    returns: Sequence[Any] = ()  # Spark types of output fields
    n_inter: int = 1
    n_out: int = 1

    def __repr__(self) -> str:  # pragma: no cover
        return f"<ParallelBufOp {self.name}>"


@dataclass(repr=False)
class LimitAgg:
    """Per-group top-k (reference: ``c/limit`` / ``c/limit-rank``,
    logic/ops.clj:172-226, backed by ParallelBuffer + RandLong).

    Spark: compiled to ``Window.partitionBy(groups).orderBy(sort)`` +
    ``row_number() <= n`` — no group materialization, scales to huge groups
    where the reference's 2n-buffered combiner would too.
    """

    name: str
    n: int = 0
    with_rank: bool = False
    n_out: int = 1
    random: bool = False  # c/fixed-sample: order by rand(seed) instead of sort
    seed: Optional[int] = None
    # c/fixed-sample-deterministic: order by md5(values, seed) — same
    # uniform-sample semantics but reproducible across engines/retries
    deterministic: bool = False


# ---------------------------------------------------------------------------
# user-facing decorators (the UDF surface, SURVEY.md §2.10)


def defmapfn(returns="string", n_out: int = 1, name: Optional[str] = None):
    """Lift a Python scalar function to a map op (reference ``defmapfn``)."""

    def deco(fn):
        rts = returns if isinstance(returns, (list, tuple)) else [returns] * n_out
        op = MapOp(name=name or fn.__name__, py_fn=fn,
                   returns=[parse_type(t) for t in rts], n_out=n_out)
        return op

    return deco


def defmapcatfn(returns="string", n_out: int = 1, name: Optional[str] = None):
    def deco(fn):
        rts = returns if isinstance(returns, (list, tuple)) else [returns] * n_out
        return MapcatOp(name=name or fn.__name__, py_fn=fn,
                        returns=[parse_type(t) for t in rts], n_out=n_out)

    return deco


def deffilterfn(fn=None, *, name: Optional[str] = None):
    def deco(f):
        return FilterOp(name=name or f.__name__, py_fn=f)

    return deco(fn) if fn is not None else deco


def defparallelagg(expr_fn=None, *, name: Optional[str] = None, pandas_fn=None):
    def deco(f):
        return ParallelAgg(name=name or getattr(f, "__name__", "agg"),
                           expr_fn=f, pandas_fn=pandas_fn)

    return deco(expr_fn) if expr_fn is not None else deco


def defaggregatefn(init, step, final=None, returns="double", n_out: int = 1,
                   name: str = "aggfn"):
    rts = returns if isinstance(returns, (list, tuple)) else [returns] * n_out
    return SequentialAgg(name=name, init_fn=init, step_fn=step, final_fn=final,
                         returns=[parse_type(t) for t in rts], n_out=n_out)


def defbufferiterfn(returns="string", n_out: int = 1,
                    name: Optional[str] = None,
                    prefix_assoc: bool = False):
    """Lift a Python iterator-consuming group fn to a streaming buffer
    (reference ``defbufferiterfn``, logic/def.clj:86-88).

    ``prefix_assoc=True`` declares the op an additive prefix scan and
    unlocks the two-pass parallel-prefix compilation for megagroups —
    see BufferIterOp for the exact contract."""

    def deco(fn):
        rts = returns if isinstance(returns, (list, tuple)) \
            else [returns] * n_out
        return BufferIterOp(name=name or fn.__name__, iter_fn=fn,
                            returns=[parse_type(t) for t in rts],
                            n_out=len(rts), prefix_assoc=prefix_assoc)

    return deco


def defparallelbuf(init, combine, buffer, present=None,
                   inter_returns="double", n_inter: int = 1,
                   returns="double", n_out: int = 1,
                   name: str = "pbuf") -> ParallelBufOp:
    """Construct a general ParallelBuffer (reference ``defparallelbuf``,
    logic/def.clj:109-135).  See ParallelBufOp for the fn contract."""
    irts = inter_returns if isinstance(inter_returns, (list, tuple)) \
        else [inter_returns] * n_inter
    orts = returns if isinstance(returns, (list, tuple)) \
        else [returns] * n_out
    return ParallelBufOp(name=name, init_fn=init, combine_fn=combine,
                         buffer_fn=buffer, present_fn=present,
                         inter_returns=[parse_type(t) for t in irts],
                         returns=[parse_type(t) for t in orts],
                         n_inter=len(irts), n_out=len(orts))


def defprepfn(returns="string", n_out: int = 1, name: Optional[str] = None):
    """Lifecycle-aware op — the prepfn analog (cascading/def.clj:6-33,
    test cascading_api_test.clj:330-343): ``prep()`` runs ONCE per Python
    worker (when the serialized closure is first invoked on that worker,
    i.e. the prepare phase), returning either ``apply_fn`` or
    ``(apply_fn, cleanup_fn)``; cleanup registers for worker exit::

        @defprepfn(returns="double")
        def scored():
            model = load_model()              # expensive, once per worker
            return lambda x: model(x), model.close
    """

    def deco(prep):
        state: dict = {}

        def py_fn(*vals):
            if "fn" not in state:
                r = prep()
                if isinstance(r, tuple):
                    state["fn"], cleanup = r
                    import atexit
                    atexit.register(cleanup)
                else:
                    state["fn"] = r
            return state["fn"](*vals)

        rts = returns if isinstance(returns, (list, tuple)) \
            else [returns] * n_out
        return MapOp(name=name or prep.__name__, py_fn=py_fn,
                     returns=[parse_type(t) for t in rts], n_out=n_out)

    return deco


def defbufferfn(returns="string", n_out: int = 1, name: Optional[str] = None):
    """Whole-group pandas fn: receives a pandas.DataFrame of the group's input
    columns (sorted per query options), returns a pandas.DataFrame with
    ``n_out`` columns."""

    def deco(fn):
        rts = returns if isinstance(returns, (list, tuple)) else [returns] * n_out
        return BufferOp(name=name or fn.__name__, pandas_fn=fn,
                        returns=[parse_type(t) for t in rts], n_out=n_out)

    return deco


def mapfn(fn, returns="string", n_out=1, name=None):
    return defmapfn(returns, n_out, name or getattr(fn, "__name__", "mapfn"))(fn)


def filterfn(fn, name=None):
    return deffilterfn(fn, name=name)


def mapcatfn(fn, returns="string", n_out=1, name=None):
    return defmapcatfn(returns, n_out, name or getattr(fn, "__name__", "mapcatfn"))(fn)


def column_op(name: str, column_fn, n_out: int = 1, py_fn=None) -> MapOp:
    """Wrap a Column-expression builder as a map op (native, Catalyst-visible).

    The compiler calls ``column_fn`` on PySpark ``Column`` s, and every
    ``Column`` call pays PySpark's per-call call-site capture (a few py4j
    round trips); ``expr_op`` compiles cheaper.  ``py_fn`` is an optional
    scalar Python MIRROR of the same semantics for the in-memory platform
    (exec_local) — the Spark compiler always prefers ``column_fn``, so the
    mirror never affects cluster plans."""
    return MapOp(name=name, column_fn=column_fn, n_out=n_out, py_fn=py_fn)


def column_filter(name: str, column_fn, py_fn=None) -> FilterOp:
    return FilterOp(name=name, column_fn=column_fn, py_fn=py_fn)


def expr_op(name: str, template, n_out: int = 1, py_fn=None) -> MapOp:
    """Op from a SQL expression template: ``{0}``, ``{1}`` … are the inputs'
    SQL fragments (quoted column names or literals).  ``template`` may also
    be a callable over the fragments returning one SQL string, or a list of
    ``n_out`` strings.  This is how the built-in ops are written: the
    compiler splices the text into the node's one ``selectExpr``/``filter``
    step, with no PySpark ``Column`` built per call.

    Example: ``expr_op("tax", "{0} * (1 + {1})")``.
    """
    return MapOp(name=name, sql_template=template, n_out=n_out, py_fn=py_fn)


def expr_filter(name: str, template, py_fn=None) -> FilterOp:
    """Filter from a boolean SQL expression template (see ``expr_op``)."""
    return FilterOp(name=name, sql_template=template, py_fn=py_fn)


def expr_agg(name: str, template, pandas_fn=None,
             returns=("double",)) -> ParallelAgg:
    """Aggregator from a SQL aggregate template, e.g. ``"sum({0})"``."""
    return ParallelAgg(name=name, sql_template=template, pandas_fn=pandas_fn,
                       returns=returns)


# ---------------------------------------------------------------------------
# auto-lifting (reference: predicate.clj:87-98,160-191 ``to-predicate``)


def lift(op, has_output: bool):
    """Lift an arbitrary value in operator position to an Op.

    - Op instances pass through.
    - Python ``set``/``frozenset`` → membership filter (reference lifts
      Clojure sets to filters).
    - Plain callables → FilterOp when used without output vars (the reference's
      default for filter-ish ops, parse.clj:86-92); with outputs the user must
      declare a return type via ``defmapfn``/``mapfn`` because Spark needs a
      schema — raise a clear error.
    """
    from .builtin import KNOWN_CALLABLES

    if isinstance(op, (MapOp, MapcatOp, FilterOp, ParallelAgg, SequentialAgg,
                       BufferOp, BufferIterOp, LimitAgg, ParallelBufOp)):
        return op
    if isinstance(op, (set, frozenset)):
        vals = sorted(op, key=repr)
        return FilterOp(name="in-set",
                        column_fn=lambda c, _v=vals: c.isin(*_v),
                        py_fn=lambda x, _s=op: x in _s)
    if callable(op):
        if op in KNOWN_CALLABLES:
            return KNOWN_CALLABLES[op]
        if not has_output:
            return FilterOp(name=getattr(op, "__name__", "pyfilter"), py_fn=op)
        raise TypeError(
            f"plain callable {op!r} used with output vars — wrap it with "
            f"mapfn(fn, returns=...) / @defmapfn(returns=...) so the engine "
            f"knows its Spark return type")
    raise TypeError(f"cannot use {op!r} as a predicate operation")
