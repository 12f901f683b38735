"""Public API — the analog of cascalog.api (cascalog-core/src/clj/cascalog/api.clj).

Entry points (api.clj:100-140):
- ``Query`` / ``q``        ≈ ``<-``  (define a query; composable as a generator)
- ``Query.to_df(spark)``   ≈ compile (the ClojureFlow analog is the DataFrame)
- ``Query.run(spark)``     ≈ ``??-`` (execute, tuples back to driver)
- ``execute(spark, q, sink)`` ≈ ``?-`` (execute into sink taps)
- ``combine`` / ``union``  ≈ api.clj:178-192
"""

from __future__ import annotations

from typing import Any, Optional

from pyspark.sql import DataFrame, SparkSession

from . import vars as V
from .compiler import Compiler
from .planner import MergeNode, Node, ProjectionNode, build_plan
from .predicates import is_generator, normalize_query


class Query:
    """A composed query: output fields + predicates (+ options).

    Usable anywhere a generator is accepted (subquery-as-generator,
    SURVEY.md §1.4) — composability is free because the compiled form is a
    DataFrame.
    """

    __cascalog_generator__ = True

    def __init__(self, outfields, *predicates, **options):
        self.outfields = list(outfields)
        self.predicates = list(predicates)
        self.options = {k.lstrip(":"): v for k, v in options.items()}
        # normalize+validate+plan eagerly so planner errors surface at define
        # time, matching the reference's macro-time validation
        # (parse.clj:104-154)
        self._nq = normalize_query(self.outfields, self.predicates, self.options)
        self._plan = build_plan(self._nq)

    # -- planning ------------------------------------------------------------

    def plan(self) -> Node:
        return self._plan

    def to_df(self, spark: SparkSession) -> DataFrame:
        """Compile to a DataFrame with user-facing column names."""
        compiler = Compiler(spark, trap=self.options.get("trap"))
        df = self._to_df_with(compiler)
        self._persisted = compiler.persisted
        return df

    def _to_df_with(self, compiler: Compiler) -> DataFrame:
        """Compile with a caller-supplied Compiler (multi-sink ``execute``
        shares one fan-out memo across queries this way; flow.clj:96-112
        Semigroup-summed flows)."""
        # dynamic typing: remember which OUTPUT positions hold pickled
        # Python objects so run() can decode them (to_df leaves binary)
        df, self._pickled_idx = compiler.compile_output(
            self.plan(), out_names(self.outfields))
        self._trap_dfs = compiler.trap_dfs
        self._nested_trapped = compiler.nested_trapped
        limit = self.options.get("limit")
        if limit is not None:
            # extension option (no reference analog): cap rows after the
            # final projection; compiles to GlobalLimit/CollectLimit
            df = df.limit(int(limit))
        if compiler.prefix_caches:
            # surface the prefix_assoc scan persist on the FINAL frame
            # (projection wrapping drops python attrs) so callers can
            # unpersist after their action
            df._prefix_scan_cache = (
                compiler.prefix_caches[0] if len(compiler.prefix_caches) == 1
                else compiler.prefix_caches)
        return df

    def flush_traps(self) -> None:
        """Write diverted error rows to the trap sink (:trap option,
        operations.clj:617-644).  Runs on execute()/run(); each trapped op
        contributes its own row shape."""
        trap = self.options.get("trap")
        for tdf in getattr(self, "_trap_dfs", []):
            if hasattr(trap, "save_df"):
                trap.save_df(tdf)
            elif callable(trap):
                trap(tdf)
        # multi-trap scoping (cascading_api_test.clj:209-225): inner
        # subqueries flush to their OWN trap sinks
        for sub in getattr(self, "_nested_trapped", []):
            sub.flush_traps()

    def run(self, spark: SparkSession | None = None, *,
            platform: str | None = None) -> list[tuple]:
        """??- : execute and return tuples to driver memory (api.clj:113-140).

        Dual-platform like the reference (api.clj:142-149 ``with-platform``;
        in_memory/platform.clj): ``platform='spark'`` (default when a
        session is given) compiles to DataFrames; ``platform='local'`` (the
        default when ``spark`` is omitted) interprets the same logical plan
        in pure Python — no JVM — for in-memory generators and Python ops
        (exec_local.py documents the supported surface)."""
        if platform is None:
            platform = "spark" if spark is not None else "local"
        if platform == "local":
            from .exec_local import run_local

            return run_local(self)
        if platform != "spark":
            raise ValueError(f"unknown platform {platform!r} "
                             "(expected 'spark' or 'local')")
        if spark is None:
            raise ValueError("platform='spark' needs a SparkSession")
        rows = [tuple(r) for r in self.to_df(spark).collect()]
        pidx = set(getattr(self, "_pickled_idx", []))
        if pidx:
            import pickle as _pkl
            rows = [tuple(_pkl.loads(v) if i in pidx and v is not None
                          else v for i, v in enumerate(r)) for r in rows]
        self.flush_traps()
        self.unpersist()
        return rows

    def unpersist(self) -> None:
        """Release fan-out caches created by compile (persist-on-fan-out);
        called automatically after run()/execute() actions.  No-op if the
        plan had no shared subqueries."""
        for df in getattr(self, "_persisted", []):
            df.unpersist()
        self._persisted = []

    def describe(self) -> str:
        """Pretty-print the LOGICAL plan (planner IR) — expand-query analog
        (api.clj:88-98); no Spark session needed."""
        return describe_plan(self.plan())

    def explain(self, spark: SparkSession, mode: str = "formatted") -> None:
        """api.clj:71-86 ``explain`` — Catalyst plan instead of a DOT file."""
        self.to_df(spark).explain(mode=mode)

    def describe_dot(self, path: str | None = None) -> str:
        """Logical plan as Graphviz DOT (api.clj:71-86 writes the flow DOT
        via Cascading ``writeDOT``; here the planner IR).  Returns the DOT
        text; writes it to ``path`` when given.  No Spark session needed."""
        dot = plan_dot(self.plan())
        if path is not None:
            with open(path, "w") as fh:
                fh.write(dot + "\n")
        return dot

    def __repr__(self) -> str:  # pragma: no cover
        return f"<Query {self.outfields}>"


def q(outfields, *predicates, **options) -> Query:
    """Shorthand constructor (the ``<-`` macro analog)."""
    return Query(outfields, *predicates, **options)


def construct(outfields, predicates, **options) -> Query:
    """Dynamic query construction from predicates-as-data (api.clj
    ``construct``; api_secondary_test.clj:53-70): identical to ``q`` but
    takes the predicate LIST built at runtime as one argument — the form
    you reach for when assembling predicates programmatically."""
    return Query(outfields, *predicates, **options)


def out_names(outfields) -> list[str]:
    """User-facing column names: sigils stripped, uniquified."""
    names, used = [], set()
    for f in outfields:
        base = V.sanitize_name(f) if isinstance(f, str) else str(f)
        name, i = base, 0
        while name in used:
            i += 1
            name = f"{base}__{i}"
        names.append(name)
        used.add(name)
    return names


class _MergedGen:
    """combine/union result — a generator merging several generators
    positionally (api.clj:178-192; Merge node parse.clj:166-171)."""

    __cascalog_generator__ = True

    def __init__(self, gens, distinct: bool):
        if not gens:
            raise ValueError("combine needs at least one generator")
        self.gens = list(gens)
        self.distinct = distinct

    def to_df(self, spark: SparkSession) -> DataFrame:
        dfs = []
        for g in self.gens:
            df = g.to_df(spark) if hasattr(g, "to_df") else g
            if not isinstance(df, DataFrame):
                comp = Compiler(spark)
                df = comp._source_df(g)
            dfs.append(df)
        base = dfs[0]
        out = base
        for d in dfs[1:]:
            if len(d.columns) != len(base.columns):
                raise ValueError("combine: generators have different arities")
            if (set(d.columns) == set(base.columns)
                    and len(set(d.columns)) == len(d.columns)
                    and d.columns != base.columns):
                # same field names, different order: align by NAME like the
                # reference Merge (algebra.clj sum over tails selects by
                # field), not positionally — positional rename would silently
                # cross columns
                out = out.union(d.select(*base.columns))
            else:
                out = out.union(d.toDF(*base.columns))
        return out.distinct() if self.distinct else out


def combine(*gens) -> _MergedGen:
    """Bag union, no dedupe (api.clj:178-186)."""
    return _MergedGen(gens, distinct=False)


def union(*gens) -> _MergedGen:
    """Set union, dedupes (api.clj:188-192)."""
    return _MergedGen(gens, distinct=True)


class _BoundGen:
    """select-fields/name-vars product: a generator with fields projected or
    renamed (api.clj:154-194, parse.clj:768-817)."""

    __cascalog_generator__ = True

    def __init__(self, gen, cols: Optional[list] = None,
                 names: Optional[list] = None):
        self.gen = gen
        self.cols = cols
        self.names = names

    def to_df(self, spark: SparkSession) -> DataFrame:
        g = self.gen
        df = g.to_df(spark) if hasattr(g, "to_df") else (
            g if isinstance(g, DataFrame) else Compiler(spark)._source_df(g))
        if self.cols is not None:
            # subquery columns carry sanitized names (?f6 → f6) — accept
            # the logic-var spelling too (api_test.clj:711-719 selects
            # "!f1" off a subquery)
            df = df.select(*[c if c in df.columns else V.sanitize_name(c)
                             for c in self.cols])
        if self.names is not None:
            df = df.toDF(*[V.sanitize_name(n) for n in self.names])
        return df

    def run(self, spark: SparkSession) -> list[tuple]:
        """test?- convenience: select-fields/name-vars results run
        directly as queries in the reference tests."""
        return [tuple(r) for r in self.to_df(spark).collect()]


def select_fields(gen, fields) -> _BoundGen:
    """Project a generator to named source columns (api.clj:154-163).
    Accepts a single field name or a sequence (api_test.clj:715)."""
    if isinstance(fields, str):
        fields = [fields]
    return _BoundGen(gen, cols=list(fields))


def name_vars(gen, names) -> _BoundGen:
    """Rename a generator's fields (api.clj:165-170)."""
    return _BoundGen(gen, names=list(names))


def get_out_fields(gen) -> list[str]:
    """Declared output fields of a generator (parse.clj IOutputFields /
    platform.clj:353-361).

    Queries and subqueries answer with their out-vars; taps answer with
    their DECLARED field list. A tap without declared fields is the
    Fields/ALL case — the reference asserts ("Cannot get specific
    out-fields from tap") rather than guessing, because the concrete
    columns aren't knowable without reading the source. CascalogTap
    delegates to its source side."""
    if isinstance(gen, Query):
        return list(gen.outfields)
    if isinstance(gen, Subquery):
        return list(gen.outfields)
    if isinstance(gen, DataFrame):
        # DataFrames are accepted generators everywhere else (is_generator,
        # execute); their schema IS the declared field list
        return list(gen.columns)
    if isinstance(gen, _BoundGen):
        if gen.names is not None:
            return list(gen.names)
        if gen.cols is not None:
            return list(gen.cols)
        return get_out_fields(gen.gen)
    # CascalogTap pairs a source generator with a sink — delegate to source
    if hasattr(gen, "source") and hasattr(gen, "sink"):
        return get_out_fields(gen.source)
    fields = getattr(gen, "fields", None)
    if fields:
        return list(fields)
    if hasattr(gen, "load_df") or hasattr(gen, "__cascalog_generator__"):
        raise ValueError(
            f"Cannot get specific out-fields from tap {gen!r}: no declared "
            "field list (Fields/ALL source)")
    raise TypeError(f"not a generator: {gen!r}")


def num_out_fields(gen) -> int:
    """Arity of a generator (parse.clj INumOutFields): the count of its
    declared out-fields; same throw behavior for field-less taps."""
    return len(get_out_fields(gen))


def _sink_df(df: DataFrame, sink, fields=None) -> None:
    if isinstance(sink, list):
        # atom-sink analog (in-memory platform, in_memory_api_test.clj
        # test-atom-sink): collect into the caller's mutable list as
        # var-name-keyed dicts.  Only an EMPTY list is a sink — a
        # non-empty list is a literal-rows generator, so this is the
        # same disambiguation the reference gets from the atom type.
        keys = list(fields) if fields else list(df.columns)
        sink.extend(dict(zip(keys, row)) for row in df.collect())
    elif hasattr(sink, "save_df"):
        sink.save_df(df)
    elif callable(sink):
        sink(df)
    else:
        raise TypeError(f"not a sink: {sink!r}")


def execute(spark: SparkSession, *args) -> None:
    """?- : run one or more queries into sink taps.

    Forms (reference ``?-`` takes repeated sink/query pairs and sums the
    flows into ONE flow — flow.clj:96-112 ``Semigroup`` over ClojureFlow;
    api.clj:100-111):

    - ``execute(spark, query, sink)``            (single)
    - ``execute(spark, (q1, s1), (q2, s2), ...)`` (multi-sink, one action set)
    - ``execute(spark, [(q1, s1), (q2, s2)])``    (same, as a list)

    Multi-sink queries share subplans: any subquery generator referenced by
    more than one sink's query compiles once and is persisted for the span
    of the run (the same persist-on-fan-out machinery that dedupes a
    subquery referenced twice WITHIN a query), so a shared scan/join feeds
    every sink without recomputation.
    """
    def _is_sink(s):
        if isinstance(s, list):
            return len(s) == 0      # empty list = atom-sink collector
        return hasattr(s, "save_df") or (callable(s) and not is_generator(s))

    def _is_pair(p):
        return isinstance(p, (tuple, list)) and len(p) == 2 and _is_sink(p[1])

    if len(args) == 2:
        # ambiguous zone: the query itself may be a tuple/list (in-memory
        # rows are valid generators) — decide by whether the SECOND arg is
        # a sink (single form) or both args are (query, sink) pairs
        if _is_sink(args[1]):
            pairs = [(args[0], args[1])]
        elif _is_pair(args[0]) and _is_pair(args[1]):
            pairs = list(args)
        else:
            raise TypeError(
                "execute: 2-arg form must be (query, sink) or two "
                f"(query, sink) pairs; second arg {args[1]!r} is neither "
                "a sink (save_df/callable) nor a pair")
    elif len(args) == 1 and isinstance(args[0], list):
        pairs = list(args[0])
    else:
        pairs = list(args)
    if not pairs:
        raise ValueError("execute: no (query, sink) pairs given")
    for p in pairs:
        if not (isinstance(p, (tuple, list)) and len(p) == 2):
            raise TypeError(f"execute: expected (query, sink) pair, got {p!r}")

    # cross-query fan-out census: a generator used by several sinks' plans
    # persists exactly like one used twice within a plan
    counts: dict[int, int] = {}
    seen: set[str] = set()
    census = Compiler(spark)
    for qy, _ in pairs:
        if isinstance(qy, Query):
            census._count_subquery_sources(qy.plan(), counts, seen)
    # cross-QUERY filter pushdown below the fan-out persist (reference
    # README.md:63-66): collect every consumer occurrence's filter chain
    # so the shared cache materializes only rows some sink needs
    occs: dict[int, list] = {}
    if any(n > 1 for n in counts.values()):
        occ_nodes: set[str] = set()
        occ_srcs: set[int] = set()
        for qy, _ in pairs:
            if isinstance(qy, Query):
                census._collect_pushdown_occs(qy.plan(), occs, occ_nodes,
                                              occ_srcs, [])
    shared_memo: dict[int, DataFrame] = {}
    persisted: list[DataFrame] = []

    try:
        for qy, sink in pairs:
            if isinstance(qy, Query):
                comp = Compiler(spark, trap=qy.options.get("trap"))
                comp._src_counts = counts
                comp._src_memo = shared_memo
                comp._pushdown_occs = occs
                comp.persisted = persisted
                df = qy._to_df_with(comp)
            elif isinstance(qy, DataFrame):
                df = qy
            elif hasattr(qy, "to_df"):
                df = qy.to_df(spark)
            elif is_generator(qy):
                # taps and literal-rows collections are runnable directly
                df = Compiler(spark)._source_df(qy)
            else:
                raise TypeError(f"not a query/generator: {qy!r}")
            _sink_df(df, sink, getattr(qy, "outfields", None))
            if hasattr(qy, "flush_traps"):
                qy.flush_traps()
    finally:
        for df in persisted:
            df.unpersist()
        for qy, _ in pairs:
            if hasattr(qy, "unpersist"):
                qy.unpersist()


def run_many(spark: SparkSession, *queries) -> list[list[tuple]]:
    """??- with several queries (api.clj:113-140 ``run-to-memory!`` /
    flow.clj all-to-memory): execute them as ONE action set — shared
    subquery generators compile once (same fan-out machinery as multi-sink
    ``execute``) — and return each query's tuples in order."""
    results: list[list[tuple]] = [[] for _ in queries]

    def _mem_sink(i, qy):
        def sink(df):
            rows = [tuple(r) for r in df.collect()]
            pidx = set(getattr(qy, "_pickled_idx", []))
            if pidx:  # decode pickled-object outputs, like Query.run()
                import pickle as _pkl
                rows = [tuple(_pkl.loads(v) if j in pidx and v is not None
                              else v for j, v in enumerate(r))
                        for r in rows]
            results[i] = rows
        return sink

    execute(spark, [(qy, _mem_sink(i, qy)) for i, qy in enumerate(queries)])
    return results


class _BroadcastGen:
    """hash-join-with-tiny analog (operations.clj:412-454): explicit
    broadcast opt-in for a generator.  Spark already auto-broadcasts below
    the threshold; this forces it for dims the optimizer can't size."""

    __cascalog_generator__ = True

    def __init__(self, gen):
        self.gen = gen

    def to_df(self, spark: SparkSession) -> DataFrame:
        from pyspark.sql import functions as F

        g = self.gen
        df = g.to_df(spark) if hasattr(g, "to_df") else (
            g if isinstance(g, DataFrame) else Compiler(spark)._source_df(g))
        return F.broadcast(df)

    def local_rows(self, source_rows):
        # broadcast is a physical hint — a no-op in memory
        return source_rows(self.gen)


def broadcast_gen(gen) -> _BroadcastGen:
    return _BroadcastGen(gen)


class _SetOpGen:
    """intersect / except — not in the reference (expressible via negation
    idioms there, SURVEY §2.7); exposed natively here."""

    __cascalog_generator__ = True

    def __init__(self, left, right, op: str):
        self.left, self.right, self.op = left, right, op

    def to_df(self, spark: SparkSession) -> DataFrame:
        def _df(g):
            return g.to_df(spark) if hasattr(g, "to_df") else (
                g if isinstance(g, DataFrame) else Compiler(spark)._source_df(g))

        l, r = _df(self.left), _df(self.right)
        r = r.toDF(*l.columns)
        return l.intersect(r) if self.op == "intersect" else l.exceptAll(r)

    def local_rows(self, source_rows):
        """exec_local mirror: INTERSECT is distinct (Spark semantics),
        EXCEPT ALL is multiset difference."""
        fields, lrows = source_rows(self.left)
        _, rrows = source_rows(self.right)
        if self.op == "intersect":
            rset = set(rrows)
            return fields, [t for t in dict.fromkeys(lrows) if t in rset]
        from collections import Counter

        take = Counter(rrows)
        out = []
        for t in lrows:
            if take[t] > 0:
                take[t] -= 1
            else:
                out.append(t)
        return fields, out


def intersect_gens(left, right) -> _SetOpGen:
    """Set intersection (dedupes, like SQL INTERSECT)."""
    return _SetOpGen(left, right, "intersect")


def except_gens(left, right) -> _SetOpGen:
    """Bag difference (like SQL EXCEPT ALL)."""
    return _SetOpGen(left, right, "except")


class Subquery:
    """Fluent query builder — the JCascalog facade analog
    (src/java/jcascalog/Subquery.java, Api.java:39-240): the same planner
    through a method-chaining surface for callers who prefer builders over
    predicate tuples::

        res = (Subquery("?person", "?count")
               .predicate(follows, "?person", "?other")
               .predicate(c.count, "?count")
               .option(distinct=False)
               .to_df(spark))
    """

    __cascalog_generator__ = True

    def __init__(self, *outfields):
        self.outfields = list(outfields)
        self._preds: list[tuple] = []
        self._options: dict = {}

    def predicate(self, op, *fields) -> "Subquery":
        self._preds.append((op, *fields))
        return self

    def out(self, *fields) -> "Subquery":
        """Append an output selector to the LAST predicate (JCascalog
        ``.out(...)`` chaining)."""
        if not self._preds:
            raise ValueError(".out() requires a preceding predicate")
        self._preds[-1] = (*self._preds[-1], ":>", *fields)
        return self

    def option(self, **options) -> "Subquery":
        self._options.update(options)
        return self

    def build(self) -> Query:
        return Query(self.outfields, *self._preds, **self._options)

    def to_df(self, spark: SparkSession) -> DataFrame:
        return self.build().to_df(spark)

    def run(self, spark: SparkSession) -> list[tuple]:
        return self.build().run(spark)


class _CheckpointGen:
    """checkpoint* analog (operations.clj:626-632): force materialization /
    a job boundary at this point in the dataflow.  localCheckpoint truncates
    the lineage and caches the partitions — downstream consumers (including
    a query that fans out from this generator) reuse the materialized data
    instead of recomputing the upstream plan."""

    __cascalog_generator__ = True
    _df = None

    def __init__(self, gen):
        self.gen = gen

    def to_df(self, spark: SparkSession) -> DataFrame:
        if self._df is None:
            g = self.gen
            df = g.to_df(spark) if hasattr(g, "to_df") else (
                g if isinstance(g, DataFrame) else Compiler(spark)._source_df(g))
            self._df = df.localCheckpoint(eager=True)
        return self._df

    _local = None

    def local_rows(self, source_rows):
        """exec_local mirror: materialize once, reuse on fan-out (the
        in-memory analog of the eager localCheckpoint)."""
        if self._local is None:
            fields, rows = source_rows(self.gen)
            self._local = (fields, list(rows))
        return self._local


def checkpoint_gen(gen) -> _CheckpointGen:
    return _CheckpointGen(gen)


def defmain(fn):
    """spark-submit entry-point decorator — the defmain analog (api.clj:246,
    which generates a Hadoop main class).  ``fn(spark, *argv)`` gains a
    ``.main()`` that builds/gets the session, runs, and stops it::

        @defmain
        def my_job(spark, in_path, out_path): ...

        if __name__ == "__main__":
            my_job.main()          # argv from sys.argv[1:]
    """
    import sys

    def main(argv=None):
        spark = SparkSession.builder.getOrCreate()
        try:
            return fn(spark, *(sys.argv[1:] if argv is None else argv))
        finally:
            spark.stop()

    fn.main = main
    return fn


def describe_plan(node, indent: int = 0) -> str:
    """Logical-plan pretty printer — the ``expand-query``/DOT-explain analog
    (api.clj:71-98): renders the planner IR tree before Spark compilation
    (Query.explain shows the physical side)."""
    import dataclasses

    from .planner import Node

    pad = "  " * indent
    if not dataclasses.is_dataclass(node):
        return f"{pad}{node!r}"
    scalars, children = [], []
    for f in dataclasses.fields(node):
        if f.name in ("identifier",):
            continue
        v = getattr(node, f.name)
        if isinstance(v, Node):
            children.append((f.name, [v]))
        elif isinstance(v, list) and v and all(isinstance(x, Node) for x in v):
            children.append((f.name, v))
        elif f.name == "aggs" and isinstance(v, list):
            scalars.append(f"aggs=[{', '.join(getattr(a.op, 'name', str(a.op)) + ':' + str(a.outfields) for a in v)}]")
        elif v not in (None, [], False) and not callable(v):
            scalars.append(f"{f.name}={v!r}")
    lines = [f"{pad}{type(node).__name__}({', '.join(scalars)})"]
    for _name, kids in children:
        for k in kids:
            lines.append(describe_plan(k, indent + 1))
    return "\n".join(lines)


def plan_dot(node) -> str:
    """Logical plan as Graphviz DOT — the reference's ``explain`` writes the
    compiled flow to a DOT file (api.clj:71-86 via Cascading's
    ``Flow#writeDOT``); this renders the planner IR the same way.  Pure
    string build, no Spark session and no graphviz dependency needed."""
    import dataclasses

    from .planner import Node

    lines = ["digraph cascalog_plan {",
             '  rankdir="BT";',
             '  node [shape=box, fontname="Helvetica"];']
    counter = [0]

    def _label(n) -> str:
        scalars = []
        for f in dataclasses.fields(n):
            v = getattr(n, f.name)
            if f.name == "identifier" or isinstance(v, Node):
                continue
            if isinstance(v, list) and v and all(isinstance(x, Node) for x in v):
                continue
            if f.name == "aggs" and isinstance(v, list):
                scalars.append("aggs=[" + ", ".join(
                    getattr(a.op, "name", str(a.op)) for a in v) + "]")
            elif v not in (None, [], False) and not callable(v):
                scalars.append(f"{f.name}={v!r}")
        body = "\\n".join([type(n).__name__] + scalars)
        return body.replace('"', '\\"')

    def _walk(n) -> str:
        nid = f"n{counter[0]}"
        counter[0] += 1
        lines.append(f'  {nid} [label="{_label(n)}"];')
        for f in dataclasses.fields(n):
            v = getattr(n, f.name)
            kids = ([v] if isinstance(v, Node)
                    else v if (isinstance(v, list) and v
                               and all(isinstance(x, Node) for x in v))
                    else [])
            for k in kids:
                lines.append(f"  {_walk(k)} -> {nid};")
        return nid

    _walk(node)
    lines.append("}")
    return "\n".join(lines)


class _CrossGen:
    """cross-join generator (api.clj:63-64 ``cross-join`` — constant-key join
    in the reference; native ``crossJoin`` here).  At scale Spark executes it
    as BroadcastNestedLoopJoin when one side is small — broadcast the small
    side explicitly via ``broadcast_gen`` for a guaranteed plan."""

    __cascalog_generator__ = True

    def __init__(self, left, right):
        self.left, self.right = left, right

    def to_df(self, spark: SparkSession) -> DataFrame:
        def _df(g):
            return g.to_df(spark) if hasattr(g, "to_df") else (
                g if isinstance(g, DataFrame) else Compiler(spark)._source_df(g))

        return _df(self.left).crossJoin(_df(self.right))

    def local_rows(self, source_rows):
        lf, lrows = source_rows(self.left)
        rf, rrows = source_rows(self.right)
        fields = (lf + rf) if (lf is not None and rf is not None) else None
        return fields, [lt + rt for lt in lrows for rt in rrows]


def cross_join(left, right) -> _CrossGen:
    return _CrossGen(left, right)


def lazy_generator(rows, fields, spark: SparkSession = None,
                   chunk_size: int = 100_000):
    """lazy-generator analog (operations.clj:575-595): materialize a lazy
    iterable of tuples into a distributed relation without holding it all
    in driver memory at once — chunks become unioned DataFrames (the
    reference spills to a temp seqfile; parquet-backed DataFrames are the
    Spark-native equivalent and distribute for free)."""

    class _LazyGen:
        __cascalog_generator__ = True
        _df = None

        def to_df(self, sp: SparkSession) -> DataFrame:
            # materialize once — the source iterable is single-shot, like
            # the reference's one-time spill to a temp seqfile
            if self._df is not None:
                return self._df
            names = [V.sanitize_name(f) for f in fields]
            out = None
            buf = []
            for row in rows:
                buf.append(tuple(row))
                if len(buf) >= chunk_size:
                    part = sp.createDataFrame(buf, names)
                    out = part if out is None else out.unionByName(part)
                    buf = []
            if buf or out is None:
                part = sp.createDataFrame(buf, names) if buf else \
                    sp.createDataFrame([], ", ".join(f"{n} string" for n in names))
                out = part if out is None else out.unionByName(part)
            self._df = out
            return out

    gen = _LazyGen()
    return gen.to_df(spark) if spark is not None else gen


def first_n(gen, n: int, sort=None, reverse: bool = False):
    """c/first-n (ops.clj:273-304): global top-n of a generator.

    ``sort`` entries are either var names (direction from ``reverse``) or
    ``(var, "asc"|"desc")`` pairs for mixed-direction ordering (e.g. the
    TPC-H Q3 ``revenue DESC, orderdate ASC`` shape).  orderBy+limit →
    TakeOrderedAndProject: per-partition heaps, never a global sort."""

    class _FirstN:
        __cascalog_generator__ = True

        def to_df(self, spark: SparkSession) -> DataFrame:
            df = gen.to_df(spark) if hasattr(gen, "to_df") else gen
            if sort:
                cols = sort if isinstance(sort, (list, tuple)) else [sort]
                from pyspark.sql import functions as F
                order = []
                for entry in cols:
                    if (isinstance(entry, (list, tuple))
                            and len(entry) == 2
                            and str(entry[1]).lower() in ("asc", "desc")):
                        name, direction = entry
                        desc = str(direction).lower() == "desc"
                    else:
                        name, desc = entry, reverse
                    col = F.col(V.sanitize_name(name))
                    order.append(col.desc() if desc else col.asc())
                df = df.orderBy(*order)
            return df.limit(n)

        def local_rows(self, source_rows):
            """In-memory mirror (exec_local): Spark ORDER BY null placement
            (nulls first asc / last desc), stable multi-key via successive
            sorts from the minor key up."""
            fields, rows = source_rows(gen)
            if sort:
                cols = sort if isinstance(sort, (list, tuple)) else [sort]
                order = []
                for entry in cols:
                    if (isinstance(entry, (list, tuple))
                            and len(entry) == 2
                            and str(entry[1]).lower() in ("asc", "desc")):
                        order.append((entry[0],
                                      str(entry[1]).lower() == "desc"))
                    else:
                        order.append((entry, reverse))
                rows = list(rows)
                for name, desc in reversed(order):
                    sname = V.sanitize_name(name)
                    if fields is None:
                        from .exec_local import LocalPlatformUnsupported
                        raise LocalPlatformUnsupported(
                            "first_n sort on a positional generator "
                            "needs Spark")
                    i = fields.index(sname)
                    nonnull = sorted((r for r in rows if r[i] is not None),
                                     key=lambda r: r[i], reverse=desc)
                    null = [r for r in rows if r[i] is None]
                    rows = null + nonnull if not desc else nonnull + null
            return fields, list(rows)[:n]

    return _FirstN()
