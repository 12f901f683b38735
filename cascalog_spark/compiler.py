"""Spark compiler — Stages 3+4 of the query lifecycle (SURVEY.md §3).

A memoized post-order walk over the logical plan emitting PySpark DataFrame
transformations (the analog of cascading/platform.clj:220-307's
``to-generator`` dispatch, with Catalyst replacing Cascading's physical
planner entirely).

Each planner node becomes one DataFrame step built from SQL expression
*strings* — ``filter("…")``, ``selectExpr(…)``, ``join(on=[names])``,
``groupBy(names).agg(F.expr(…))`` — never a chain of PySpark ``Column``
calls.  Under PySpark 4 every ``Column`` call (``F.col``, ``alias``,
``eqNullSafe``, ``F.lit``) captures its call site through several py4j round
trips, which made compiling a small interactive query cost as much as
running it.  Built-in ops carry SQL templates (``ops.render_sql``); user
``column_op``/``column_filter``/``defparallelagg`` ops, Python UDFs, traps,
pickled columns, fan-out persists and pandas/buffer groupings keep their
``Column`` code and pay that per-call cost.

Physical-design notes for 100 TB scale:
- Generator constant bindings and ``?``-var ``IS NOT NULL`` guards are one
  filter on the raw scan, so they reach parquet as PushedFilters.
- Native expressions → whole-stage codegen applies; only user Python fns
  become (Arrow) UDFs.
- Joins use ``on=[names]`` equi-join form → Catalyst/AQE picks
  broadcast/sort-merge/shuffle-hash and handles skew; join-key coalescing on
  outer joins (operations.clj:477-484 ``join-fields-selector``) is native to
  Spark's USING-join.
- Aggregations emit native ``groupBy().agg()`` → map-side partial aggregation
  (the reference's ClojureCombinerBase LRU combiner) is automatic.
- Per-group top-k (c/limit) compiles to ``row_number() OVER (…)`` —
  streaming, no group materialization.
"""

from __future__ import annotations

from contextlib import contextmanager
from contextvars import ContextVar
from typing import Any

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

import pickle

from . import vars as V
from .ops import (BufferIterOp, BufferOp, FilterOp, LimitAgg, MapcatOp,
                  MapOp, ParallelAgg, ParallelBufOp, PyObjectType,
                  SequentialAgg, lit_col, render_sql, sql_lit,
                  sql_quote, with_sql)
from .planner import (ApplicationNode, EqualityFilterNode, ExistenceJoinNode,
                      FilterNode, GeneratorNode, GroupingNode, JoinNode,
                      MergeNode, Node, ProjectionNode, UniqueNode)


def _norm_t(t):
    if isinstance(t, PyObjectType):
        return T.BinaryType()
    if isinstance(t, T.ArrayType):
        return T.ArrayType(_norm_t(t.elementType), t.containsNull)
    if isinstance(t, T.StructType):
        return T.StructType([T.StructField(f.name, _norm_t(f.dataType),
                                           f.nullable) for f in t.fields])
    return t


def _batched_udf(fn, returns, n_out: int, n_in: int):
    """Arrow-serialized UDF for a scalar Python fn (SURVEY §4: UDFs are the
    slow path; make the unavoidable ones Arrow-batched).  Spark's
    ``useArrow=True`` row UDF measures ~1.4-2× over pickle serialization
    and beats a hand-rolled pandas_udf elementwise loop (whose per-value
    NaN/np-scalar normalization costs more than it saves)."""
    del n_in
    # PyObjectType is an engine-side marker; Spark's Arrow type checker
    # dispatches on the exact class, so hand it the plain BinaryType
    returns = [_norm_t(t) for t in returns]
    if n_out == 1:
        return F.udf(fn, returns[0], useArrow=True)
    struct_t = T.StructType([
        T.StructField(f"_{i}", t) for i, t in enumerate(returns)])
    return F.udf(lambda *v: tuple(fn(*v)), struct_t, useArrow=True)


_ACTIVE: ContextVar["_Flow | None"] = ContextVar("cascalog_flow",
                                                 default=None)


class _Flow:
    """Everything compiling one or more queries creates — the analog of
    Cascalog's ``ClojureFlow`` (cascading/types.clj:49), which ``?-`` sums
    over several sinks (flow.clj:96-112):

    - ``sources``: the source memo, id(generator) → (frame, column
      layout, pickled columns), so a subquery compiles once per flow;
    - ``occs``: the fan-out census, id(generator) → its consumer
      occurrences, each a GeneratorNode with the unbroken chain of row
      filters right above it (the pushdown below a fan-out persist);
    - ``handles``: every frame the compile persisted (fan-out, trap
      split, ``prefix_assoc`` scan);
    - ``traps``: (trap sink, diverted rows) pairs.

    The caller that opens a flow flushes its traps and releases its
    handles.  While a flow compiles, it is the active flow: a query
    reached through a wrapper generator (``first_n``, ``combine``, …)
    compiles into it instead of leaving handles of its own."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.sources: dict[int, tuple] = {}
        self.occs: dict[int, list] = {}
        self.seen: set[str] = set()  # plan nodes the census has walked
        self.handles: list[DataFrame] = []
        self.traps: list[tuple[Any, DataFrame]] = []

    def census(self, node: Node, chain: tuple = ()) -> None:
        """Record every subquery-source occurrence under ``node``.  The
        walk enters a subquery's own plan once, so a generator shared
        between nesting levels (TPC-H Q11/Q15's view, used per group and
        under a scalar aggregate of itself) counts as fan-out too."""
        if node.node_id in self.seen:
            return
        self.seen.add(node.node_id)
        if isinstance(node, GeneratorNode):
            src = node.source
            if hasattr(src, "__cascalog_generator__"):
                occ = self.occs.setdefault(id(src), [])
                occ.append((node, chain))
                if len(occ) == 1 and hasattr(src, "plan"):
                    self.census(src.plan())
            return
        if isinstance(node, EqualityFilterNode) or (
                isinstance(node, FilterNode)
                and (node.op.sql_template is not None
                     or node.op.column_fn is not None)):
            self.census(node.source, chain + (node,))
            return
        for child in (getattr(node, "source", None),
                      getattr(node, "left", None),
                      getattr(node, "right", None),
                      getattr(node, "sub", None),
                      *getattr(node, "sources", [])):
            if isinstance(child, Node):
                self.census(child)

    def compile(self, plan: Node, names: list[str], trap=None):
        """Compile a query plan into this flow; see
        ``Compiler.compile_output``.  A plan the census never walked (one
        reached through a wrapper generator) gets a census and source
        memo of its own, as a separate compile would, while its handles
        and traps still land here."""
        flow = self
        if self.seen and plan.node_id not in self.seen:
            flow = _Flow(self.spark)
            flow.handles, flow.traps = self.handles, self.traps
        flow.census(plan)
        with flow.active():
            return Compiler(flow, trap).compile_output(plan, names)

    @contextmanager
    def active(self):
        """Make this the flow that nested queries join."""
        token = _ACTIVE.set(self)
        try:
            yield self
        finally:
            _ACTIVE.reset(token)

    def persist(self, df: DataFrame) -> DataFrame:
        # MEMORY_AND_DISK: spills, never OOMs
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        self.handles.append(df)
        return df

    def flush_traps(self) -> None:
        """Write each query's diverted rows to that query's own trap sink
        (operations.clj:617-644; multi-trap scoping,
        cascading_api_test.clj:209-225), once."""
        for sink, tdf in self.traps:
            if hasattr(sink, "save_df"):
                sink.save_df(tdf)
            elif callable(sink):
                sink(tdf)
        self.traps.clear()

    def release(self) -> None:
        for df in self.handles:
            df.unpersist()
        self.handles.clear()


def active_flow() -> _Flow | None:
    """The flow being compiled or run right now, if any."""
    return _ACTIVE.get()


def load_source(spark: SparkSession, source: Any):
    """A DataFrame, tap or literal-rows generator as ``(frame, pickled
    column names)``."""
    if isinstance(source, DataFrame):
        return source, set()
    if hasattr(source, "load_df"):  # Tap protocol
        return source.load_df(spark), set()
    if not isinstance(source, (list, tuple)):
        raise TypeError(f"not a generator: {source!r}")
    if len(source) == 0:
        # reference rejects empty generators (api.clj:167-176)
        raise ValueError("can't use an empty collection as a generator")
    rows = [r if isinstance(r, (tuple, list)) else (r,) for r in source]
    rows = [tuple(r) for r in rows]
    # dynamic typing: a column mixing value TYPES (the reference's
    # Kryo-serialized heterogeneous tuples, api_test.clj:617-628) would be
    # silently string-coerced by createDataFrame — pickle it instead and
    # record the column for transparent decode
    n_cols = len(rows[0])
    mixed, widened = set(), set()
    for i in range(n_cols):
        ts = {type(r[i]) for r in rows if r[i] is not None}
        if len(ts) > 1:
            # pure numeric mixes widen to double (the reference's own
            # testing semantics normalizes numbers to doubles)
            if ts <= {int, float}:
                widened.add(i)
            else:
                mixed.add(i)
    if mixed or widened:
        # None stays a SQL NULL (never pickled) so `?`-var non-nullable
        # semantics still drop it downstream
        rows = [tuple(pickle.dumps(v) if i in mixed and v is not None
                      else float(v) if i in widened and v is not None
                      else v
                      for i, v in enumerate(r)) for r in rows]
    df = spark.createDataFrame(rows)
    return df, ({df.columns[i] for i in mixed} if mixed else set())


class Compiler:
    """One query's walk, compiling into a ``_Flow``."""

    def __init__(self, flow: _Flow, trap=None):
        self.flow = flow
        self.spark = flow.spark
        self.namer = V.ColumnNamer()
        self._memo: dict[str, DataFrame] = {}
        # :trap option (options.clj:56, operations.clj:617-644): rows whose
        # Python op throws are diverted to the trap instead of failing the job
        self.trap = trap
        # dynamic typing (SURVEY §1.2 / conf.clj:86-94 Kryo analog):
        # physical column names currently holding PICKLED Python objects —
        # heterogeneous raw-collection columns and ``returns="object"`` op
        # outputs.  Python-op inputs on these are transparently unpickled.
        self.pickled_cols: set[str] = set()
        self._n_lits = 0  # temporary F.lit columns (see _sql_args)

    @staticmethod
    def _col_deterministic(df: DataFrame, col) -> bool:
        """True only if the Column's RESOLVED expression tree is provably
        deterministic — a nondeterministic predicate (rand-based sample)
        pushed below the persist would be re-evaluated by the consumer's
        own filter and compound the sampling.  Resolution matters: the
        unresolved node reports rand(seed) deterministic because only the
        literal children are visible."""
        try:
            jdf = df.select(col.alias("__pushdown_probe"))._jdf
            it = jdf.queryExecution().analyzed().expressions().iterator()
            while it.hasNext():
                if not it.next().deterministic():
                    return False
            return True
        except Exception:  # analysis failure / API drift: assume the worst
            return False

    def _pushdown_pred(self, df: DataFrame, src_cols: list[str],
                       pickled: set[str], occ_list: list):
        """Disjunction of per-consumer filter conjunctions over a shared
        source's output columns.  Returns None (no pushdown) unless EVERY
        consumer occurrence contributes at least one deterministic filter
        — pushing only some consumers' predicates would starve the
        unfiltered ones.  Skipping an individual component only WEAKENS
        the pushed predicate (consumers re-apply their own filters on
        top), so partial expressibility stays correct."""

        def phys(colref):
            if isinstance(colref, int):
                return src_cols[colref] if colref < len(src_cols) else None
            return colref if colref in src_cols else None

        def usable(*colrefs):
            return all(phys(c) is not None and phys(c) not in pickled
                       for c in colrefs)

        def ref(colref):
            return with_sql(F.col(phys(colref)), _src_ref(phys(colref)))

        disj = None
        for gen, chain in occ_list:
            cb = gen.col_bindings
            conj = []
            for colref, const in gen.const_filters:
                if usable(colref):
                    c = ref(colref)
                    conj.append(c.isNull() if const is None
                                else c.eqNullSafe(F.lit(const)))
            for kept, extra in gen.dup_filters:
                if kept in cb and extra in cb and usable(cb[kept], cb[extra]):
                    conj.append(ref(cb[kept]).eqNullSafe(ref(cb[extra])))
            for v in gen.fields:
                if V.is_non_nullable(v) and v in cb and usable(cb[v]):
                    conj.append(ref(cb[v]).isNotNull())
            for fnode in chain:
                if isinstance(fnode, EqualityFilterNode):
                    if (fnode.left in cb and fnode.right in cb
                            and usable(cb[fnode.left], cb[fnode.right])):
                        conj.append(ref(cb[fnode.left])
                                    .eqNullSafe(ref(cb[fnode.right])))
                    continue
                infs = fnode.infields
                if not all((not V.is_var(f)) or
                           (f in cb and usable(cb[f])) for f in infs):
                    continue
                if fnode.op.sql_template is not None:
                    try:
                        pred = F.expr(render_sql(fnode.op, [
                            _src_ref(phys(cb[f])) if V.is_var(f)
                            else sql_lit(f) for f in infs]))
                    except TypeError:  # constant with no SQL spelling
                        continue
                else:
                    pred = fnode.op.column_fn(*[
                        ref(cb[f]) if V.is_var(f) else lit_col(f)
                        for f in infs])
                if self._col_deterministic(df, pred):
                    conj.append(pred)
            if not conj:
                return None  # an effectively-unfiltered consumer
            c = conj[0]
            for x in conj[1:]:
                c = c & x
            disj = c if disj is None else (disj | c)
        return disj

    @staticmethod
    def _pushdown_keep(src_cols: list[str], occ_list: list):
        """Column pruning below the fan-out persist: cache only the
        UNION of source columns any consumer binds (col_bindings +
        const_filters).  Unlike the filter pushdown this needs no
        per-consumer opt-in — an unused column is unused, period.
        Returns the kept columns, or None to keep them all; positional
        bindings still resolve against ``src_cols`` by name."""
        used: set[str] = set()
        for gen, _chain in occ_list:
            for colref in list(gen.col_bindings.values()) + \
                    [c for c, _ in gen.const_filters]:
                if isinstance(colref, int):
                    if colref >= len(src_cols):
                        return None  # unknown ref: never prune
                    used.add(src_cols[colref])
                elif colref in src_cols:
                    used.add(colref)
                else:
                    return None
        keep = [c for c in src_cols if c in used]
        if not keep or len(keep) == len(src_cols):
            return None
        return keep

    def compile_output(self, node: Node, names: list[str]):
        """Compile a query plan with its output columns named ``names``.
        The root projection and the rename are one ``selectExpr``.
        Returns ``(frame, names, output positions holding pickled
        objects)``."""
        if isinstance(node, ProjectionNode):
            df = self._compile_ProjectionNode(node, names)
            cols = [self.namer.col(f) for f in node.fields]
        else:
            df = self.compile(node)
            cols = df.columns
            df = df.toDF(*names)
        return df, names, [i for i, c in enumerate(cols)
                           if c in self.pickled_cols]

    def compile(self, node: Node) -> DataFrame:
        """Memoized walk (reference: zip.clj:47-59 visited-map keyed on node
        identifier — a subquery referenced twice compiles once)."""
        df = self._memo.get(node.node_id)
        if df is None:
            df = self._dispatch(node)
            self._memo[node.node_id] = df
        return df

    def _dispatch(self, node: Node) -> DataFrame:
        m = getattr(self, f"_compile_{type(node).__name__}", None)
        if m is None:
            raise TypeError(f"no compile rule for {type(node).__name__}")
        return m(node)

    # -- helpers -------------------------------------------------------------

    def _q(self, var: str) -> str:
        """A var's physical column, quoted for SQL text."""
        return sql_quote(self.namer.col(var))

    def _arg_cols(self, infields):
        """vars → Columns; constants → literals (operations.clj:684-707
        ``with-constants``), for user Column ops."""
        return [with_sql(F.col(self.namer.col(f)), self._q(f))
                if V.is_var(f) else lit_col(f) for f in infields]

    def _sql_args(self, df: DataFrame, infields):
        """vars → quoted columns; constants → SQL literals.  A constant with
        no exact SQL spelling (date, Decimal, …) is bound as a temporary
        ``F.lit`` column so it keeps ``F.lit``'s type.  Returns
        ``(df, fragments, temporary column names)``."""
        frags, tmps = [], []
        for f in infields:
            if V.is_var(f):
                frags.append(self._q(f))
                continue
            try:
                frags.append(sql_lit(f))
            except TypeError:
                name = f"__lit{self._n_lits}"
                self._n_lits += 1
                df = df.withColumn(name, F.lit(f))
                tmps.append(name)
                frags.append(sql_quote(name))
        return df, frags, tmps

    def _py_io_wrap(self, fn, op, infields):
        """Pickled-object boundary for a Python op: unpickle flagged input
        positions, pickle outputs declared ``returns="object"``.  Returns
        (wrapped_fn, object_out_flags)."""
        in_flags = [V.is_var(f) and self.namer.col(f) in self.pickled_cols
                    for f in infields]
        out_flags = [isinstance(t, PyObjectType)
                     for t in getattr(op, "returns", []) or []]
        if not any(in_flags) and not any(out_flags):
            return fn, out_flags
        n_out = getattr(op, "n_out", 1)

        def dec(args):
            return [pickle.loads(a) if flg and a is not None else a
                    for flg, a in zip(in_flags, args)]

        def enc_row(res):
            if n_out == 1:
                return pickle.dumps(res) \
                    if out_flags and out_flags[0] and res is not None \
                    else res
            return tuple(pickle.dumps(v) if flg and v is not None else v
                         for flg, v in zip(out_flags, res))

        if isinstance(op, MapcatOp):
            def wrapped(*args):
                return [enc_row(r) for r in (fn(*dec(args)) or [])]
        elif isinstance(op, FilterOp):
            def wrapped(*args):
                return fn(*dec(args))
        else:
            def wrapped(*args):
                return enc_row(fn(*dec(args)))
        return wrapped, out_flags

    def _mark_object_outs(self, out_cols, out_flags):
        for name, flg in zip(out_cols, out_flags):
            if flg:
                self.pickled_cols.add(name)

    def _null_filter(self, df: DataFrame, fields) -> DataFrame:
        """FilterNull of non-nullable ``?``-vars (operations.clj:716-722):
        one ``IS NOT NULL`` conjunct per var, which Catalyst pushes into
        scans and join inputs (``na.drop`` compiles to an opaque
        ``atleastnnonnulls``)."""
        conds = [f"{self._q(f)} IS NOT NULL" for f in fields
                 if V.is_non_nullable(f)]
        return df.filter(" AND ".join(conds)) if conds else df

    def _source(self, source: Any):
        """A generator as ``(frame, column layout, pickled columns)``; the
        layout is None where only the frame knows it.

        A subquery generator compiles once per flow.  One the census
        counted more than once is persisted, so the action computes it
        once instead of once per branch (SURVEY §4: memoized zipper walk
        → persist on fan-out; Catalyst's ReuseExchange dedupes only
        identical exchanges).  Its consumers' filters and columns are
        pushed below the persist first (reference README.md:63-66), so
        the cache holds only rows and columns some consumer needs."""
        if not hasattr(source, "__cascalog_generator__"):
            df, pickled = load_source(self.spark, source)
            return df, None, pickled
        flow = self.flow
        rec = flow.sources.get(id(source))
        if rec is not None:
            return rec
        if hasattr(source, "compile_into"):  # a Query joins this flow
            df, cols, pidx = source.compile_into(flow)
            pickled = {cols[i] for i in pidx}
        else:  # a wrapper: queries inside it find the active flow
            df, cols, pickled = source.to_df(self.spark), None, set()
        occ = flow.occs.get(id(source), [])
        if len(occ) > 1:
            cols = cols or df.columns
            pred = self._pushdown_pred(df, cols, pickled, occ)
            if pred is not None:
                df = df.filter(pred)
            keep = self._pushdown_keep(cols, occ)
            if keep is not None:
                df = df.select(*keep)
            df = flow.persist(df)
        rec = flow.sources[id(source)] = (df, cols, pickled)
        return rec

    # -- node rules ----------------------------------------------------------

    def _compile_GeneratorNode(self, node: GeneratorNode) -> DataFrame:
        df, src_cols, src_pickled = self._source(node.source)

        def phys(colref):
            # positional bindings resolve against the source's layout (a
            # column-pruned fan-out persist keeps its pre-prune one), by name
            nonlocal src_cols
            if not isinstance(colref, int):
                return colref
            if src_cols is None:
                src_cols = df.columns
            return src_cols[colref]

        cb = {v: phys(colref) for v, colref in node.col_bindings.items()}
        for v, p in cb.items():
            if p in src_pickled:
                self.pickled_cols.add(self.namer.col(v))

        # constant bindings, implicit equalities from duplicate vars
        # (parse.clj:308-336) and ?-var guards: one filter on the raw scan
        # → parquet PushedFilters
        conds = []
        for colref, const in node.const_filters:
            p = phys(colref)
            try:
                conds.append(f"{_src_ref(p)} IS NULL" if const is None
                             else f"{_src_ref(p)} <=> {sql_lit(const)}")
            except TypeError:  # no exact SQL spelling: keep F.lit typing
                df = df.filter(F.col(p).eqNullSafe(F.lit(const)))
        conds += [f"{_src_ref(cb[kept])} <=> {_src_ref(cb[extra])}"
                  for kept, extra in node.dup_filters]
        conds += [f"{_src_ref(cb[v])} IS NOT NULL" for v in node.fields
                  if V.is_non_nullable(v)]
        if conds:
            df = df.filter(" AND ".join(conds))
        out = [self.namer.col(v) for v in node.fields]
        # a pruned persist never matches: its layout holds a column that
        # no consumer binds
        if src_cols == out == [cb[v] for v in node.fields]:
            return df  # already these columns, in this order
        return df.selectExpr(*[f"{_src_ref(cb[v])} AS {sql_quote(c)}"
                               for v, c in zip(node.fields, out)])

    def _compile_ApplicationNode(self, node: ApplicationNode) -> DataFrame:
        df = self.compile(node.source)
        op, outs = node.op, node.outfields
        out_cols = [self.namer.col(o) for o in outs]

        if isinstance(op, MapOp) and op.sql_template is not None:
            # SQL template over the physical column names / SQL literals:
            # one selectExpr, zero Python at runtime
            df, frags, tmps = self._sql_args(df, node.infields)
            res = render_sql(op, frags)
            res = res if isinstance(res, list) else [res]
            if len(res) != len(outs):
                raise ValueError(
                    f"op {op.name} produced {len(res)} columns for "
                    f"{len(outs)} output vars")
            df = df.selectExpr("*", *[f"{e} AS {sql_quote(c)}"
                                      for e, c in zip(res, out_cols)])
            if tmps:
                df = df.drop(*tmps)
            return self._null_filter(df, outs)
        args = [] if getattr(op, "sql_template", None) is not None \
            else self._arg_cols(node.infields)
        if isinstance(op, MapOp):
            if op.column_fn is not None:
                res = op.column_fn(*args)
                res = res if isinstance(res, list) else [res]
                if len(res) != len(outs):
                    raise ValueError(
                        f"op {op.name} produced {len(res)} columns for "
                        f"{len(outs)} output vars")
                for c, name in zip(res, out_cols):
                    df = df.withColumn(name, c)
            else:
                df = self._apply_py_map(df, op, args, out_cols,
                                        node.infields)
        elif isinstance(op, MapcatOp):
            df = self._apply_mapcat(df, op, args, out_cols, node.infields)
        else:
            raise TypeError(f"cannot apply {op!r} as a map operation")
        return self._null_filter(df, outs)

    def _apply_py_map(self, df, op: MapOp, args, out_cols,
                      infields=()) -> DataFrame:
        if self.trap is not None:
            return self._apply_py_map_trapped(df, op, args, out_cols,
                                              infields)
        fn, out_flags = self._py_io_wrap(op.py_fn, op, infields)
        self._mark_object_outs(out_cols, out_flags)
        if op.n_out == 1:
            udf = _batched_udf(fn, op.returns, 1, len(args))
            return df.withColumn(out_cols[0], udf(*args))
        udf = _batched_udf(fn, op.returns, op.n_out, len(args))
        tmp = "__mapout"
        df = df.withColumn(tmp, udf(*args))
        for i, name in enumerate(out_cols):
            df = df.withColumn(name, F.col(tmp).getField(f"_{i}"))
        return df.drop(tmp)

    def _apply_py_map_trapped(self, df, op: MapOp, args, out_cols,
                              infields=()) -> DataFrame:
        """Trap wrapper: op exceptions produce an __error column; errored
        rows are split off to the trap sink, clean rows continue
        (operations.clj:617-644; Spark badRecordsPath pattern)."""
        struct_t = T.StructType(
            [T.StructField(f"_{i}", _norm_t(t))
             for i, t in enumerate(op.returns)]
            + [T.StructField("__error", T.StringType())])
        fn, out_flags = self._py_io_wrap(op.py_fn, op, infields)
        self._mark_object_outs(out_cols, out_flags)
        n_out = op.n_out

        def wrapped(*vals):
            try:
                r = fn(*vals)
                r = tuple(r) if n_out > 1 else (r,)
                return r + (None,)
            except Exception as e:  # diverted, not fatal
                return tuple([None] * n_out) + (f"{type(e).__name__}: {e}",)

        # asNondeterministic: Catalyst must not re-evaluate or reorder the
        # trapped fn (a flaky fn evaluated once per branch could land a row
        # in both the trap and the output); persist computes the split
        # point once for the main action AND the later trap flush
        udf = F.udf(wrapped, struct_t).asNondeterministic()
        tmp = "__mapout"
        # MEMORY_AND_DISK: an unbounded error fraction (every row could
        # divert) must spill, never OOM — the trap split point caches the
        # FULL input width until the flow flushes its traps
        df = self.flow.persist(df.withColumn(tmp, udf(*args)))
        err = F.col(tmp).getField("__error")
        orig_cols = [c for c in df.columns if c != tmp]
        self.flow.traps.append((self.trap, df.filter(err.isNotNull())
                                .select(*orig_cols, err.alias("__error"))))
        df = df.filter(err.isNull())
        for i, name in enumerate(out_cols):
            df = df.withColumn(name, F.col(tmp).getField(f"_{i}"))
        return df.drop(tmp)

    def _apply_mapcat(self, df, op: MapcatOp, args, out_cols,
                      infields=()) -> DataFrame:
        # explode_fast, not F.explode: InferFiltersFromGenerate would
        # otherwise duplicate the array expression (or the Python UDF call!)
        # into a pushed-down size() filter — see functions/util.py
        from .functions.util import explode_fast

        tmp = "__mc"
        if op.column_fn is not None or op.sql_template is not None:
            tmps = []
            if op.sql_template is not None:
                df, frags, tmps = self._sql_args(df, infields)
                arr = F.expr(render_sql(op, frags))
            else:
                arr = op.column_fn(*args)
            if len(out_cols) == 1:
                df = explode_fast(df, arr, out_cols[0])
            else:
                df = explode_fast(df, arr, tmp)
                for i, name in enumerate(out_cols):
                    df = df.withColumn(name, F.col(tmp).getField(f"_{i}"))
                tmps.append(tmp)
            return df.drop(*tmps) if tmps else df
        # python fn → Arrow-batched array<...> UDF + explode
        fn, out_flags = self._py_io_wrap(op.py_fn, op, infields)
        self._mark_object_outs(out_cols, out_flags)
        if op.n_out == 1:
            udf = _batched_udf(lambda *v: list(fn(*v) or []),
                               [T.ArrayType(op.returns[0])], 1, len(args))
            return explode_fast(df, udf(*args), out_cols[0])
        struct_t = T.StructType([
            T.StructField(f"_{i}", t) for i, t in enumerate(op.returns)])
        udf = _batched_udf(lambda *v: [tuple(r) for r in (fn(*v) or [])],
                           [T.ArrayType(struct_t)], 1, len(args))
        df = explode_fast(df, udf(*args), tmp)
        for i, name in enumerate(out_cols):
            df = df.withColumn(name, F.col(tmp).getField(f"_{i}"))
        return df.drop(tmp)

    def _compile_FilterNode(self, node: FilterNode) -> DataFrame:
        df = self.compile(node.source)
        op: FilterOp = node.op
        if getattr(op, "sql_template", None) is not None:
            df, frags, tmps = self._sql_args(df, node.infields)
            df = df.filter(render_sql(op, frags))
            return df.drop(*tmps) if tmps else df
        args = self._arg_cols(node.infields)
        if op.column_fn is not None:
            return df.filter(op.column_fn(*args))
        if self.trap is not None:
            # same pickled-object decode as the non-trap path — a raw
            # op.py_fn here would see pickle bytes for heterogeneous cols
            fn, _ = self._py_io_wrap(op.py_fn, op, node.infields)

            def safe(*v):
                try:
                    return (bool(fn(*v)), None)
                except Exception as e:
                    return (False, f"{type(e).__name__}: {e}")

            struct_t = T.StructType([T.StructField("keep", T.BooleanType()),
                                     T.StructField("__error", T.StringType())])
            udf = F.udf(safe, struct_t).asNondeterministic()
            tmp = "__filt"
            df2 = self.flow.persist(df.withColumn(tmp, udf(*args)))
            err = F.col(tmp).getField("__error")
            self.flow.traps.append((self.trap, df2.filter(err.isNotNull())
                                    .select(*df.columns,
                                            err.alias("__error"))))
            return df2.filter(err.isNull() & F.col(tmp).getField("keep")) \
                      .drop(tmp)
        pfn, _ = self._py_io_wrap(op.py_fn, op, node.infields)
        udf = _batched_udf(lambda *v: bool(pfn(*v)),
                           [T.BooleanType()], 1, len(args))
        return df.filter(udf(*args))

    def _compile_EqualityFilterNode(self, node: EqualityFilterNode) -> DataFrame:
        df = self.compile(node.source)
        return df.filter(f"{self._q(node.left)} <=> {self._q(node.right)}") \
                 .drop(self.namer.col(node.right))

    def _compile_JoinNode(self, node: JoinNode) -> DataFrame:
        left = self.compile(node.left)
        right = self.compile(node.right)
        if not node.join_fields:
            # cross-join (api.clj:63-64 idiom)
            return left.crossJoin(right)
        on = [self.namer.col(f) for f in node.join_fields]
        # USING-join: join keys deduped & coalesced across branches — the
        # analog of operations.clj:477-484 join-fields-selector
        return left.join(right, on=on, how=node.how)

    def _compile_ExistenceJoinNode(self, node: ExistenceJoinNode) -> DataFrame:
        df = self.compile(node.source)
        sub = self.compile(node.sub)
        # the subquery's columns are exactly its join fields
        on = [self.namer.col(f) for f in node.join_fields]
        if node.mode in ("semi", "anti"):
            # a left-semi/anti join never multiplies left rows, so the
            # subquery keys need no dedup (it cost a shuffle and a job)
            return df.join(sub, on=on, how=f"left_{node.mode}")
        flag = sql_quote(self.namer.col(node.flag_var))
        flagged = sub.selectExpr("*", f"true AS {flag}").dropDuplicates()
        out = df.join(flagged, on=on, how="left")
        return out.withColumn(self.namer.col(node.flag_var),
                              F.expr(f"coalesce({flag}, false)"))

    def _compile_UniqueNode(self, node: UniqueNode) -> DataFrame:
        df = self.compile(node.source)
        # distinct via groupBy-all ≈ FastFirst.java:30-41; Spark's
        # dropDuplicates is the same plan with partial aggregation
        return df.selectExpr(*[self._q(f) for f in node.fields]) \
                 .dropDuplicates()

    def _compile_ProjectionNode(self, node: ProjectionNode,
                                names: list[str] | None = None) -> DataFrame:
        src = node.source
        # a distinct over the same fields folds into this step
        unique = isinstance(src, UniqueNode) and src.fields == node.fields
        df = self._guarded(src.source if unique else src, node.fields)
        cols = [self.namer.col(f) for f in node.fields]
        if (names is None or names == cols) and \
                isinstance(src, GroupingNode) and \
                node.fields == src.group_fields + [
                    o for a in src.aggs for o in a.outfields] and \
                not _hybrid(src.aggs):
            return df  # the grouping already emits exactly these columns
        df = df.selectExpr(*[
            sql_quote(c) if n is None or n == c
            else f"{sql_quote(c)} AS {sql_quote(n)}"
            for c, n in zip(cols, names or [None] * len(cols))])
        return df.dropDuplicates() if unique else df

    def _guarded(self, node: Node, fields) -> DataFrame:
        """The node's frame with ``fields``' ``?``-var guard, which is left
        out where the vars' own guards still hold."""
        df = self.compile(node)
        return df if _guards_hold(node) else self._null_filter(df, fields)

    def _compile_MergeNode(self, node: MergeNode) -> DataFrame:
        dfs = [self.compile(s) for s in node.sources]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    # -- grouping ------------------------------------------------------------

    def _compile_GroupingNode(self, node: GroupingNode) -> DataFrame:
        group_cols = [self.namer.col(f) for f in node.group_fields]
        aggs = node.aggs
        expr_aggs = [a for a in aggs if _expr_agg(a.op)]
        src = node.source
        if isinstance(src, ProjectionNode) and not node.reducers and (
                len(expr_aggs) == len(aggs) or (
                    group_cols and len(aggs) == 1
                    and isinstance(aggs[0].op, LimitAgg))):
            # a native aggregate or per-group window step selects its own
            # columns: the pre-grouping projection reduces to its guard
            df = self._guarded(src.source, src.fields)
        else:
            df = self.compile(src)

        # :reducers (operations.clj:220-233): hash-partition on the group
        # keys at the requested width before aggregating; native partial
        # aggregation still runs map-side first
        if node.reducers and group_cols:
            df = df.repartition(int(node.reducers), *group_cols)

        if len(aggs) == 1 and isinstance(aggs[0].op, LimitAgg):
            return self._compile_limit(df, node, aggs[0])
        if len(aggs) == 1 and isinstance(aggs[0].op, ParallelBufOp):
            return self._compile_parallel_buf(df, node, aggs[0])
        if len(aggs) == 1 and isinstance(aggs[0].op, BufferIterOp):
            return self._compile_buffer_iter(df, node, aggs[0])
        py_aggs = [a for a in aggs if a not in expr_aggs]
        if not py_aggs:
            return self._native_agg(df, group_cols, expr_aggs)
        if not expr_aggs:
            return self._compile_pandas_grouping(df, node, py_aggs)
        # HYBRID grouping: native exprs keep map-side partial aggregation
        # (and need no pandas fallback per agg); only the Python aggs pay
        # the applyInPandas shuffle.  Results joined back on the group keys
        # (null-safe: a null group key is a legal group for !x vars).
        native = self._native_agg(df, group_cols, expr_aggs)
        pand = self._compile_pandas_grouping(df, node, py_aggs)
        if not group_cols:
            # both sides emit ≤1 row; on empty input the pandas side (and
            # so the whole grouping, reference reduce-side semantics) is empty
            return native.crossJoin(pand)
        cond = None
        for k in group_cols:
            c = native[k].eqNullSafe(pand[k])
            cond = c if cond is None else (cond & c)
        out_cols = [native[k] for k in group_cols]
        out_cols += [native[self.namer.col(o)]
                     for a in expr_aggs for o in a.outfields]
        out_cols += [pand[self.namer.col(o)]
                     for a in py_aggs for o in a.outfields]
        return native.join(pand, cond, "inner").select(*out_cols)

    def _native_agg(self, df, group_cols, aggs) -> DataFrame:
        exprs = []  # SQL text for built-ins, Columns for user expr_fns
        for a in aggs:
            outs = [self.namer.col(o) for o in a.outfields]
            if a.op.sql_template is not None:
                df, frags, _tmps = self._sql_args(df, a.infields)
                res = render_sql(a.op, frags)
                res = res if isinstance(res, list) else [res]
                exprs += [f"{e} AS {sql_quote(o)}" for e, o in zip(res, outs)]
                continue
            res = a.op.expr_fn(*self._arg_cols(a.infields))
            res = res if isinstance(res, list) else [res]
            exprs += [c.alias(o) for c, o in zip(res, outs)]
        if not group_cols and all(isinstance(e, str) for e in exprs):
            return df.selectExpr(*exprs)  # a global aggregate
        exprs = [F.expr(e) if isinstance(e, str) else e for e in exprs]
        if group_cols:
            return df.groupBy(*group_cols).agg(*exprs)
        return df.agg(*exprs)

    def _compile_limit(self, df, node: GroupingNode, rp) -> DataFrame:
        """c/limit & c/limit-rank & c/fixed-sample → ``row_number()``
        window (ops.clj:172-269).  Streaming top-k: survives huge groups."""
        op: LimitAgg = rp.op
        groups = [self._q(f) for f in node.group_fields]
        if op.random and op.deterministic:
            # content-derived uniform key: md5(values ++ seed).  Reproducible
            # across engines/retries (DuckDB spells it identically), unlike
            # rand(), which re-draws per task attempt.
            key = [f"CAST({self._q(i)} AS STRING)" for i in rp.infields]
            order = [(f"md5(concat_ws('_', {', '.join(key)}, "
                      f"{sql_lit(str(op.seed))}))", False)]
        elif op.random:
            order = [("rand()" if op.seed is None
                      else f"rand({int(op.seed)})", False)]
        elif node.sort:
            order = [(self._q(s), node.reverse) for s in node.sort]
        else:
            order = [("monotonically_increasing_id()", False)]
        invars = rp.infields
        outs = list(rp.outfields)
        rank_var = None
        if op.with_rank:
            rank_var, outs = outs[-1], outs[:-1]
        if len(invars) != len(outs):
            raise ValueError(f"{op.name}: {len(invars)} inputs vs {len(outs)} outputs")
        sel = groups + [f"{self._q(i)} AS {self._q(o)}"
                        for i, o in zip(invars, outs)]
        rn = self._q(rank_var) if rank_var else "`__rn`"
        if groups:
            order_sql = ", ".join(f"{e} {'DESC' if desc else 'ASC'}"
                                  for e, desc in order)
            df = df.selectExpr(*sel, f"row_number() OVER (PARTITION BY "
                                     f"{', '.join(groups)} ORDER BY "
                                     f"{order_sql}) AS {rn}") \
                   .filter(f"{rn} <= {int(op.n)}")
            return df if rank_var else df.drop("__rn")
        # GLOBAL top-k: orderBy+limit → TakeOrderedAndProject
        # (per-partition heaps) — a partitionBy(lit(1)) window would
        # funnel the whole dataset through ONE task at scale
        cols = [F.expr(e).desc() if desc else F.expr(e).asc()
                for e, desc in order]
        df = df.orderBy(*cols).limit(op.n)
        if rank_var:
            # rank over ≤ n rows only — the single-partition window
            # is now bounded by k, not by the data
            df = df.withColumn("__rn",
                               F.row_number().over(Window.orderBy(*cols)))
            sel.append(f"`__rn` AS {rn}")
        return df.selectExpr(*sel)

    def _compile_parallel_buf(self, df, node: GroupingNode, rp) -> DataFrame:
        """General ParallelBuffer (defparallelbuf, logic/def.clj:109-135;
        cascading/platform.clj:252-278 ClojureBufferCombiner).

        Stage 1 (``mapInPandas``, NO shuffle) folds each partition's rows
        per group key with init/combine — the map-side combiner — so the
        shuffle carries one intermediate row per (partition, key).
        Stage 2 (``applyInPandas``) runs the user buffer over the collected
        intermediates.  At scale the shuffle volume is O(partitions ×
        distinct-keys), independent of input row count."""
        import pandas as pd

        op: ParallelBufOp = rp.op
        namer = self.namer
        group_cols = [namer.col(f) for f in node.group_fields]
        # constants in agg input position → literal columns
        in_cols = []
        for i, f in enumerate(rp.infields):
            if V.is_var(f):
                in_cols.append(namer.col(f))
            else:
                cname = f"__pbconst_{i}"
                df = df.withColumn(cname, F.lit(f))
                in_cols.append(cname)
        out_cols = [namer.col(o) for o in rp.outfields]
        if len(out_cols) != op.n_out:
            raise ValueError(f"{op.name}: declares {op.n_out} outputs, "
                             f"bound to {len(out_cols)} vars")

        global_agg = not group_cols
        gkey = "__g"
        if global_agg:
            df = df.withColumn(gkey, F.lit(1))
            group_cols_eff = [gkey]
        else:
            group_cols_eff = group_cols

        src_schema = {f.name: f for f in df.schema.fields}
        inter_cols = [f"__pb_{i}" for i in range(op.n_inter)]
        stage1_fields = [src_schema[c] for c in group_cols_eff]
        stage1_fields += [T.StructField(c, t)
                          for c, t in zip(inter_cols, op.inter_returns)]
        stage1_schema = T.StructType(stage1_fields)
        init_fn, combine_fn, present_fn = \
            op.init_fn, op.combine_fn, op.present_fn
        buffer_fn = op.buffer_fn
        n_keys = len(group_cols_eff)
        sel_cols = group_cols_eff + in_cols
        stage1_names = group_cols_eff + inter_cols

        def partial(batches):
            acc: dict = {}
            for pdf in batches:
                for row in pdf[sel_cols].itertuples(index=False, name=None):
                    key, invals = row[:n_keys], row[n_keys:]
                    inter = tuple(init_fn(*invals))
                    prev = acc.get(key)
                    acc[key] = inter if prev is None \
                        else tuple(combine_fn(prev, inter))
            if acc:
                rows = []
                for key, inter in acc.items():
                    if present_fn is not None:
                        inter = tuple(present_fn(inter))
                    rows.append(key + inter)
                yield pd.DataFrame(rows, columns=stage1_names)

        partials = df.select(*sel_cols).mapInPandas(partial, stage1_schema)

        out_fields = [src_schema[c] for c in group_cols_eff]
        out_fields += [T.StructField(c, t)
                       for c, t in zip(out_cols, op.returns)]
        out_schema = T.StructType(out_fields)
        out_names = group_cols_eff + out_cols

        def present_group(pdf):
            keyvals = tuple(pdf[c].iloc[0] for c in group_cols_eff)
            inters = [tuple(r) for r in
                      pdf[inter_cols].itertuples(index=False, name=None)]
            out_rows = [keyvals + tuple(t) for t in buffer_fn(inters)]
            return pd.DataFrame(out_rows, columns=out_names)

        out = partials.groupBy(*group_cols_eff) \
                      .applyInPandas(present_group, out_schema)
        return out.drop(gkey) if global_agg else out

    def _compile_buffer_iter(self, df, node: GroupingNode, rp) -> DataFrame:
        """defbufferiterfn (logic/def.clj:86-88; api_test.clj:453-468):
        the op gets a LAZY iterator over the group's rows.

        ``repartition(keys)`` + ``sortWithinPartitions(keys, sort)`` makes
        each group key-contiguous within one partition; ``mapInPandas``
        then walks Arrow batches with ``itertools.groupby``, so the op's
        iterator spans batch boundaries without materializing the group —
        a group bigger than executor memory streams through (the reference
        iterator-leak regression is exactly this property)."""
        import itertools

        import pandas as pd

        op: BufferIterOp = rp.op
        if op.prefix_assoc:
            return self._compile_buffer_iter_prefix(df, node, rp)
        namer = self.namer
        group_cols = [namer.col(f) for f in node.group_fields]
        in_cols = []
        for i, f in enumerate(rp.infields):
            if V.is_var(f):
                in_cols.append(namer.col(f))
            else:
                cname = f"__biconst_{i}"
                df = df.withColumn(cname, F.lit(f))
                in_cols.append(cname)
        out_cols = [namer.col(o) for o in rp.outfields]

        global_agg = not group_cols
        gkey = "__g"
        if global_agg:
            df = df.withColumn(gkey, F.lit(1))
            group_cols_eff = [gkey]
        else:
            group_cols_eff = group_cols

        sort_cols = [namer.col(s) for s in node.sort]
        sel_cols = list(dict.fromkeys(group_cols_eff + sort_cols + in_cols))
        df = df.select(*sel_cols)
        n_shuffle = node.reducers or int(
            self.spark.conf.get("spark.sql.shuffle.partitions", "200"))
        df = df.repartition(n_shuffle, *group_cols_eff)
        sort_exprs = [F.col(c) for c in group_cols_eff]
        sort_exprs += [F.col(c).desc() if node.reverse else F.col(c).asc()
                       for c in sort_cols]
        df = df.sortWithinPartitions(*sort_exprs)

        src_schema = {f.name: f for f in df.schema.fields}
        out_fields = [src_schema[c] for c in group_cols_eff]
        out_fields += [T.StructField(c, t)
                       for c, t in zip(out_cols, op.returns)]
        out_schema = T.StructType(out_fields)
        out_names = group_cols_eff + out_cols
        n_keys = len(group_cols_eff)
        iter_cols = group_cols_eff + in_cols
        iter_fn = op.iter_fn
        CHUNK = 10_000

        def norm_key(r):
            # None/NaN group keys must compare equal to themselves or
            # groupby would split a null-key group into per-row groups
            return tuple(
                (True, None) if v is None
                or (isinstance(v, float) and v != v) else (False, v)
                for v in r[:n_keys])

        def stream(batches):
            def rows():
                for pdf in batches:
                    yield from pdf[iter_cols].itertuples(index=False,
                                                         name=None)

            out_buf = []
            for _nk, group in itertools.groupby(rows(), key=norm_key):
                first = next(group)
                key = first[:n_keys]
                chained = itertools.chain([first], group)
                for t in iter_fn(r[n_keys:] for r in chained):
                    t = tuple(t) if isinstance(t, (list, tuple)) else (t,)
                    out_buf.append(key + t)
                    if len(out_buf) >= CHUNK:
                        yield pd.DataFrame(out_buf, columns=out_names)
                        out_buf = []
            if out_buf:
                yield pd.DataFrame(out_buf, columns=out_names)

        out = df.mapInPandas(stream, out_schema)
        return out.drop(gkey) if global_agg else out

    def _compile_buffer_iter_prefix(self, df, node: GroupingNode,
                                    rp) -> DataFrame:
        """Two-pass parallel prefix scan for ``prefix_assoc`` bufferiter
        ops — the MEGAGROUP escape hatch (a handful of giant groups bounds
        the exact path's parallelism at #groups).

        Classic decomposition, fully declarative (no driver collect, no
        partition-index coupling):

        1. BLOCK each group by range on the first sort column —
           per-group ``percentile_approx`` boundaries (one agg, O(groups)
           rows, broadcast back), block id = #boundaries strictly below
           the key (native ``aggregate`` over the boundary array; equal
           keys never split across blocks).
        2. SCAN pass (ONE Python pass): run ``iter_fn`` per (group,
           block) segment streaming, tagging outputs with an emission
           sequence number; persist the result (MEMORY_AND_DISK — it
           feeds two consumers and Python is the expensive pass).
        3. CARRY: block finals = ``max_by(scan, seq)`` per (group,
           block) — a native agg over the persisted scan — then the
           exclusive prefix sum within each group is a window over that
           O(groups x blocks) table.
        4. STITCH: one broadcast join adds each block's carry-in to the
           scan column.

        Parallelism is #groups x blocks instead of #groups.  Requires
        ``:sort`` — an additive scan without an order is meaningless.
        The persisted scan is a handle of the compiling flow, released
        with the flow's other persists (``run``/``execute`` on return,
        ``Query.unpersist()`` after ``to_df``).  Spark's LRU eviction
        would only drop cached blocks, never the persist itself.
        """
        import itertools

        import pandas as pd

        op: BufferIterOp = rp.op
        namer = self.namer
        if not node.sort:
            raise ValueError(
                f"prefix_assoc bufferiter '{op.name}' requires :sort — an "
                "additive prefix scan is only defined over an ordering")
        group_cols = [namer.col(f) for f in node.group_fields]
        in_cols = []
        for i, f in enumerate(rp.infields):
            if V.is_var(f):
                in_cols.append(namer.col(f))
            else:
                cname = f"__biconst_{i}"
                df = df.withColumn(cname, F.lit(f))
                in_cols.append(cname)
        out_cols = [namer.col(o) for o in rp.outfields]

        global_agg = not group_cols
        gkey = "__g"
        if global_agg:
            df = df.withColumn(gkey, F.lit(1))
            group_cols_eff = [gkey]
        else:
            group_cols_eff = group_cols

        sort_cols = [namer.col(s) for s in node.sort]
        key1 = sort_cols[0]
        sel_cols = list(dict.fromkeys(group_cols_eff + sort_cols + in_cols))
        df = df.select(*sel_cols)
        n_shuffle = node.reducers or int(
            self.spark.conf.get("spark.sql.shuffle.partitions", "200"))
        n_blocks = max(2, n_shuffle)

        # -- 1. range-block each group on the first sort column.  The
        # boundary table is O(groups x blocks) — broadcast-sized by
        # construction (prefix_assoc targets FEW giant groups; many small
        # groups already parallelize on the exact path).
        fracs = [i / n_blocks for i in range(1, n_blocks)]
        bnds = (df.groupBy(*group_cols_eff)
                .agg(F.percentile_approx(key1, fracs, 10_000)
                     .alias("__bnds")))
        key1c = F.col(key1)
        df = df.join(F.broadcast(bnds), group_cols_eff, "left")
        blk = F.aggregate(
            F.col("__bnds"), F.lit(0),
            lambda acc, b: acc
            + F.when(key1c > b, 1).otherwise(0))
        # null-key groups miss the (non-null-safe) boundary join: they
        # collapse into block 0 — correct, just unsplit
        df = df.withColumn("__blk", F.coalesce(blk, F.lit(0)).cast("int")) \
               .drop("__bnds")

        keys2 = group_cols_eff + ["__blk"]
        df = df.repartition(n_shuffle, *keys2)
        sort_exprs = [F.col(c) for c in keys2]
        sort_exprs += [F.col(c).desc() if node.reverse else F.col(c).asc()
                       for c in sort_cols]
        df = df.sortWithinPartitions(*sort_exprs)

        src_schema = {f.name: f for f in df.schema.fields}
        key_fields = [src_schema[c] for c in keys2]
        scan_col = out_cols[-1]
        scan_type = op.returns[-1]
        n_keys = len(keys2)
        iter_cols = keys2 + in_cols
        iter_fn = op.iter_fn
        CHUNK = 10_000

        def norm_key(r):
            return tuple(
                (True, None) if v is None
                or (isinstance(v, float) and v != v) else (False, v)
                for v in r[:n_keys])

        def seg_rows(batches):
            def rows():
                for pdf in batches:
                    yield from pdf[iter_cols].itertuples(index=False,
                                                         name=None)
            for _nk, group in itertools.groupby(rows(), key=norm_key):
                first = next(group)
                yield first[:n_keys], itertools.chain([first], group)

        # -- 2. ONE Python pass: per-block scan outputs + emission seq
        out_schema = T.StructType(
            key_fields + [T.StructField(c, t)
                          for c, t in zip(out_cols, op.returns)]
            + [T.StructField("__seq", T.LongType())])
        out_names = keys2 + out_cols + ["__seq"]

        def scan(batches):
            out_buf = []
            for key, seg in seg_rows(batches):
                for seq, t in enumerate(
                        iter_fn(r[n_keys:] for r in seg)):
                    t = tuple(t) if isinstance(t, (list, tuple)) else (t,)
                    out_buf.append(key + t + (seq,))
                    if len(out_buf) >= CHUNK:
                        yield pd.DataFrame(out_buf, columns=out_names)
                        out_buf = []
            if out_buf:
                yield pd.DataFrame(out_buf, columns=out_names)

        scanned = self.flow.persist(df.mapInPandas(scan, out_schema))

        # -- 3. block finals -> exclusive per-group prefix (tiny table)
        w = (Window.partitionBy(*group_cols_eff).orderBy("__blk")
             .rowsBetween(Window.unboundedPreceding, -1))
        carries = (scanned.groupBy(*keys2)
                   .agg(F.max_by(F.col(scan_col), F.col("__seq"))
                        .alias("__fin"))
                   .select(*keys2,
                           F.coalesce(F.sum("__fin").over(w), F.lit(0))
                           .alias("__carry")))

        # -- 4. stitch: broadcast carry-in join, fix the scan column
        out = (scanned.join(F.broadcast(carries), keys2, "left")
               .withColumn(scan_col,
                           (F.col(scan_col)
                            + F.coalesce(F.col("__carry"), F.lit(0)))
                           .cast(scan_type))
               .drop("__blk", "__carry", "__seq"))
        return out.drop(gkey) if global_agg else out

    def _compile_pandas_grouping(self, df, node: GroupingNode,
                                 aggs=None) -> DataFrame:
        """Sequential aggs / buffers via applyInPandas (Arrow grouped-map) —
        the analog of reduce-side Every/ClojureBuffer with secondary sort
        (operations.clj:251-264)."""
        import pandas as pd

        namer = self.namer
        aggs = node.aggs if aggs is None else aggs
        group_cols = [namer.col(f) for f in node.group_fields]
        sort_cols = [namer.col(s) for s in node.sort]
        ascending = not node.reverse

        # constant infields (operations.clj:684-707 with-constants): become
        # literal columns so every agg flavor sees them positionally
        n_const = 0
        const_bound: dict[tuple, str] = {}
        for a in aggs:
            for f in a.infields:
                if not V.is_var(f) and (id(a), f) not in const_bound:
                    cname = f"__aconst_{n_const}"
                    n_const += 1
                    df = df.withColumn(cname, F.lit(f))
                    const_bound[(id(a), f)] = cname
        src_schema = {f.name: f for f in df.schema.fields}

        global_agg = not group_cols
        gkey = "__g"
        if global_agg:
            df = df.withColumn(gkey, F.lit(1))
            group_cols_eff = [gkey]
        else:
            group_cols_eff = group_cols

        out_fields: list[T.StructField] = []
        for c in group_cols_eff:
            out_fields.append(src_schema[c] if c in src_schema
                              else T.StructField(c, T.IntegerType()))
        specs = []  # (op, in_cols, out_cols)
        buffer_spec = None
        for a in aggs:
            in_cols = [namer.col(f) if V.is_var(f)
                       else const_bound[(id(a), f)] for f in a.infields]
            out_cols = [namer.col(o) for o in a.outfields]
            op = a.op
            rts = [t if isinstance(t, T.DataType) else _ddl(t)
                   for t in getattr(op, "returns", ["double"])]
            for o, t in zip(out_cols, rts):
                out_fields.append(T.StructField(o, t))
            if isinstance(op, BufferOp):
                buffer_spec = (op, in_cols, out_cols)
            else:
                specs.append((op, in_cols, out_cols))
        schema = T.StructType(out_fields)

        def run_group(pdf):
            if sort_cols:
                pdf = pdf.sort_values(sort_cols, ascending=ascending,
                                      kind="mergesort")
            keyvals = {c: pdf[c].iloc[0] for c in group_cols_eff}
            if buffer_spec is not None:
                op, in_cols, out_cols = buffer_spec
                out = op.pandas_fn(pdf[in_cols].reset_index(drop=True))
                out = out.copy()
                out.columns = out_cols[:len(out.columns)]
                for c in group_cols_eff:
                    out[c] = keyvals[c]
                return out[[f.name for f in out_fields]]
            row = dict(keyvals)
            for op, in_cols, out_cols in specs:
                if isinstance(op, SequentialAgg):
                    acc = op.init_fn()
                    sub = pdf[in_cols]
                    for vals in sub.itertuples(index=False, name=None):
                        acc = op.step_fn(acc, *vals)
                    res = op.final_fn(acc) if op.final_fn else acc
                else:  # ParallelAgg pandas fallback
                    res = op.pandas_fn(pdf[in_cols])
                res = res if isinstance(res, tuple) else (res,)
                for o, v in zip(out_cols, res):
                    row[o] = v
            return pd.DataFrame([row])[[f.name for f in out_fields]]

        out = df.groupBy(*group_cols_eff).applyInPandas(run_group, schema)
        return out.drop(gkey) if global_agg else out


def _ddl(t: str) -> T.DataType:
    return T.StructType.fromDDL(f"x {t}")[0].dataType


def _expr_agg(op) -> bool:
    """A ParallelAgg with a native aggregate expression."""
    return isinstance(op, ParallelAgg) and (
        op.expr_fn is not None or op.sql_template is not None)


def _guards_hold(node: Node) -> bool:
    """Every ``?``-var column of the node's output is non-null already: its
    generator or op filtered it, and no outer join or aggregate since could
    have nulled it."""
    if isinstance(node, (GeneratorNode, ProjectionNode)):
        return True
    if isinstance(node, GroupingNode):
        return False
    if isinstance(node, JoinNode):
        return node.how == "inner" and _guards_hold(node.left) \
            and _guards_hold(node.right)
    if isinstance(node, MergeNode):
        return all(_guards_hold(s) for s in node.sources)
    return _guards_hold(node.source)


def _hybrid(aggs) -> bool:
    """Native and Python aggs mixed: the grouping emits the native
    outputs first (see ``_compile_GroupingNode``)."""
    return 0 < sum(_expr_agg(a.op) for a in aggs) < len(aggs)


def _src_ref(name: str) -> str:
    """SQL reference to a source column, read the way ``F.col`` reads it:
    dots select struct fields, backticks quote."""
    if "`" in name:
        return name
    return ".".join(sql_quote(p) for p in name.split("."))


