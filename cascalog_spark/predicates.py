"""Predicate normalization — Stage 1 of the query lifecycle (SURVEY.md §3).

Mirrors the reference's parse layer (cascalog-core/src/clj/cascalog/logic/
parse.clj:30-102 ``normalize``/selector parsing, 565-612 ``expand-outvars``,
predicate.clj:35-42 ``RawPredicate``) as pure Python — no Spark imports.

A raw predicate is a Python tuple; its head decides the kind:

- option:      ``(":sort", "?x")``, ``(":distinct", True)`` …
- generator:   head is a DataFrame / list-of-tuples / Tap / Query; rest are
  field bindings (vars or constants); a ``":>"`` selector makes it a
  GeneratorSet (existence/semi-join filter, predicate.clj:130-131)
- operation:   head is an Op / lifted callable / set; args split at ``":>"``
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Optional

from . import vars as V
from .ops import (BufferIterOp, BufferOp, FilterOp, LimitAgg, MapcatOp,
                  MapOp, ParallelAgg, ParallelBufOp, SequentialAgg, lift,
                  render_sql)

OUT = ":>"
IN = ":<"
VARARG_OUT = ":>>"
VARARG_IN = ":<<"
POSITIONAL = ":#>"
SELECTORS = {IN, OUT, VARARG_IN, VARARG_OUT, POSITIONAL}

OPTION_KEYS = {":distinct", ":sort", ":reverse", ":trap", ":name",
               ":reducers", ":spill-threshold", ":limit"}

AGG_TYPES = (ParallelAgg, SequentialAgg, BufferOp, BufferIterOp, LimitAgg,
             ParallelBufOp)


@dataclass
class RawPredicate:
    """predicate.clj:35-42 — op + infields + outfields."""

    kind: str  # generator | generator_set | op | filter | agg
    op: Any
    infields: list = field(default_factory=list)
    outfields: list = field(default_factory=list)
    # generator extras:
    source: Any = None
    bindings: list = field(default_factory=list)  # field position -> var/const
    flag: Any = None  # GeneratorSet: True/False/flag-var


@dataclass
class NormalizedQuery:
    outfields: list
    generators: list  # RawPredicate kind=generator
    gensets: list  # kind=generator_set
    operations: list  # kind=op / filter
    aggregators: list  # kind=agg
    options: dict


def is_generator(x: object) -> bool:
    """Anything with a platform generator method (logic/platform.clj:50-60):
    DataFrames, literal tuple collections, Taps, subqueries."""
    from pyspark.sql import DataFrame

    if isinstance(x, DataFrame):
        return True
    if isinstance(x, (list, tuple)) and not isinstance(x, str):
        return True  # literal rows (cascading/types.clj:62-73)
    if hasattr(x, "load_df") or hasattr(x, "__cascalog_generator__"):
        return True
    return False


def _is_selector(a) -> bool:
    return isinstance(a, str) and a in SELECTORS


def _seq_payload(sel: str, payload: list) -> list:
    """``:<<``/``:>>`` take ONE nested var sequence (parse.clj:30-52
    desugar-selectors: ``{:>> (["?a"])} => {:>> ["?a"]}``) — the point is a
    dynamically-built arg vector.  Tolerate the flat spelling too."""
    if len(payload) == 1 and isinstance(payload[0], (list, tuple)) \
            and not isinstance(payload[0], str):
        return list(payload[0])
    return list(payload)


def _split_selector(args: list) -> tuple[list, list]:
    """Tokenize the arg vector at selector keywords (parse.clj:30-102
    ``parse-variables``/``desugar-selectors``/``expand-positional-selector``).

    Supported: ``:<`` input, ``:>`` output, ``:<<`` vararg input (next arg is
    a var sequence), ``:>>`` vararg output, ``:#> n {pos: var}`` positional
    output destructuring (unnamed positions get fresh nullable vars)."""
    args = [a for a in args]
    if not args:
        return [], []
    if not _is_selector(args[0]):
        if not any(_is_selector(a) for a in args):
            return args, []  # no selector: caller applies the op's default
        args = [IN] + args  # parse.clj:76-78: implicit leading :<
    groups: dict[str, list] = {}
    cur = None
    for a in args:
        if _is_selector(a):
            if a in groups:
                raise ValueError(f"duplicate selector {a} in {args!r}")
            cur = a
            groups[a] = []
        else:
            groups[cur].append(a)
    if IN in groups and VARARG_IN in groups:
        raise ValueError(f"both ':<' and ':<<' in {args!r}")
    if sum(k in groups for k in (OUT, VARARG_OUT, POSITIONAL)) > 1:
        raise ValueError(
            f"only one of ':>', ':>>', ':#>' is allowed; got {args!r}")
    ins = _seq_payload(VARARG_IN, groups[VARARG_IN]) \
        if VARARG_IN in groups else groups.get(IN, [])
    if POSITIONAL in groups:
        payload = groups[POSITIONAL]
        if len(payload) != 2 or not isinstance(payload[0], int) \
                or not isinstance(payload[1], dict):
            raise ValueError(
                f"':#>' takes (field-count, {{position: var}}); got {payload!r}")
        n, mapping = payload
        outs = [V.gen_nullable_var() for _ in range(n)]
        for pos, var in mapping.items():
            if not isinstance(pos, int) or not 0 <= pos < n:
                raise ValueError(
                    f"':#>' position {pos!r} out of range for {n} fields")
            outs[pos] = var
    elif VARARG_OUT in groups:
        outs = _seq_payload(VARARG_OUT, groups[VARARG_OUT])
    else:
        outs = groups.get(OUT, [])
    return ins, outs


def predmacro(fn):
    """Decorator marking ``fn(invars, outvars) -> [predicate tuples]`` as a
    predicate macro (predmacro.clj:19-128 ``def-predmacro``)."""
    fn.__predmacro__ = True
    return fn


def predmacro_template(invars, outvars, predicates):
    """Declarative predicate-macro TEMPLATE (the JCascalog
    ``PredicateMacroTemplate.build`` analog,
    src/java/jcascalog/PredicateMacroTemplate.java; exercised by
    jcascalog_test.clj:57-68): a macro declared as a predicate LIST over
    fixed interface vars.  On every expansion the interface vars map to
    the caller's vars and every OTHER var appearing in the template is
    renamed to a fresh var of the same kind — so a caller var that
    happens to share a template-internal name (the reference test feeds
    ``?sum`` into a template that uses ``?sum`` internally) can never
    capture it."""
    iface = list(invars) + list(outvars)

    def _prefix(v: str) -> str:
        if v.startswith("!!"):
            return "!!"
        return v[0]

    @predmacro
    def expand(actual_in, actual_out):
        if len(actual_in) != len(invars) or len(actual_out) != len(outvars):
            raise ValueError(
                f"predmacro_template: expected {len(invars)} inputs / "
                f"{len(outvars)} outputs, got {len(actual_in)}/"
                f"{len(actual_out)}")
        from . import vars as V

        mapping = dict(zip(iface, list(actual_in) + list(actual_out)))

        def sub(x):
            if isinstance(x, str) and V.is_var(x) and x != "_":
                if x not in mapping:
                    mapping[x] = V.gen_var(_prefix(x))
                return mapping[x]
            return x

        return [tuple(sub(x) for x in p) for p in predicates]

    return expand


def is_predmacro(x) -> bool:
    return callable(x) and getattr(x, "__predmacro__", False)


def expand_predmacro(pred) -> list:
    """Predicate macro: a Python fn (invars, outvars) -> list of predicate
    tuples, expanded before planning (predmacro.clj:19-128; the reference
    substitutes unique vars — here macros mint their own via gen_var)."""
    head, *args = pred
    infields, outfields = _split_selector(args)
    return head(infields, outfields)


def normalize_predicate(pred, fresh_filters: list) -> RawPredicate:
    """Normalize one predicate tuple.  ``fresh_filters`` collects equality
    filters synthesized for output-position constants (parse.clj:565-589)."""
    if not isinstance(pred, (tuple, list)) or len(pred) == 0:
        raise ValueError(f"predicate must be a non-empty tuple: {pred!r}")
    head, *args = pred

    if isinstance(head, str) and head.startswith(":"):
        raise ValueError(f"option {head} must be passed via query options")

    if is_generator(head):
        infields, outfields = _split_selector(args)
        if not infields and outfields and \
                not any(o is True or o is False for o in outfields):
            # generator fields ARE outputs in the reference grammar —
            # ``(sentence :>> [?line])`` (api_test.clj:428-439) binds via
            # an out-selector.  A genset always has in-position bindings
            # before its :> flag, so no-bindings + out-payload means
            # "these are the bindings".
            infields, outfields = outfields, []
        if outfields:
            # GeneratorSet: existence filter (predicate.clj:130-131;
            # parse.clj:591-612).  Out must be True/False or a flag var.
            if len(outfields) != 1:
                raise ValueError("generator-set takes exactly one output")
            # "No ungrounding vars allowed in generators-as-sets"
            # (api_test.clj:343-351; parse.clj:113-129)
            bound = (list(infields[0].values())
                     if len(infields) == 1 and isinstance(infields[0], dict)
                     else list(infields))
            bad = [v for v in bound + [outfields[0]]
                   if isinstance(v, str) and V.is_ungrounding(v)]
            if bad:
                raise ValueError(
                    f"ungrounding vars are not allowed in "
                    f"generators-as-sets: {bad}")
            return RawPredicate(kind="generator_set", op=None, source=head,
                                bindings=list(infields), flag=outfields[0])
        # fn GUARD in a binding position (api_test.clj:577-591
        # ``(pairs odd? ?b)``): bind a fresh var and filter it — the
        # same split-outvar-constants rewrite, generator-side.  Sets and
        # other non-callable values stay equality constants.
        rewritten = []
        for b in infields:
            if not isinstance(b, dict) and (callable(b) or
                                            isinstance(b, FilterOp)):
                fv = V.gen_var("?")
                guard = lift(b, has_output=False)
                fresh_filters.append(
                    RawPredicate(kind="filter", op=guard, infields=[fv]))
                rewritten.append(fv)
            else:
                rewritten.append(b)
        return RawPredicate(kind="generator", op=None, source=head,
                            bindings=rewritten)

    infields, outfields = _split_selector(args)
    op = lift(head, has_output=bool(outfields))

    if isinstance(op, AGG_TYPES):
        if not outfields:
            # aggregators default their args to output position
            # (parse.clj:86-92: non-filter ops default output)
            infields, outfields = [], infields
        return _expand_outvars(
            RawPredicate(kind="agg", op=op, infields=infields,
                         outfields=outfields), fresh_filters)

    if isinstance(op, FilterOp) and not outfields:
        return RawPredicate(kind="filter", op=op, infields=infields)

    if isinstance(op, FilterOp) and outfields:
        # filter-as-value capture (predicate.clj:170-187): boolean becomes a
        # column instead of filtering
        from .ops import parse_type
        bool_op = MapOp(name=f"{op.name}-value", column_fn=op.column_fn,
                        sql_template=op.sql_template,
                        py_fn=op.py_fn, returns=[parse_type("boolean")],
                        n_out=1)
        op = bool_op

    if isinstance(op, MapOp) and not outfields and op.n_out == 1:
        # "mapops can be used as filters if there are no output
        # variables" (api_test.clj:690-693): keep rows whose single
        # output is truthy
        py_mirror = (None if op.py_fn is None
                     else lambda *vs, _f=op.py_fn: bool(_f(*vs)))
        if op.sql_template is not None:
            return RawPredicate(
                kind="filter",
                op=FilterOp(name=f"{op.name}-as-filter",
                            sql_template=lambda *fs, _op=op:
                            f"CAST({render_sql(_op, fs)} AS BOOLEAN)",
                            py_fn=py_mirror),
                infields=infields)
        if op.column_fn is not None:
            # the py_fn mirror rides along for the in-memory platform;
            # the Spark compiler always takes the column path
            return RawPredicate(
                kind="filter",
                op=FilterOp(name=f"{op.name}-as-filter",
                            column_fn=lambda *cs, _f=op.column_fn:
                            _f(*cs).cast("boolean"),
                            py_fn=py_mirror),
                infields=infields)
        return RawPredicate(
            kind="filter",
            op=FilterOp(name=f"{op.name}-as-filter", py_fn=py_mirror),
            infields=infields)

    if isinstance(op, (MapOp, MapcatOp)) and not outfields:
        raise ValueError(
            f"map op {op.name} needs ':>' output vars (e.g. (op, '?in', ':>', '?out'))")

    return _expand_outvars(
        RawPredicate(kind="op", op=op, infields=infields, outfields=outfields),
        fresh_filters)


def _expand_outvars(rp: RawPredicate, fresh_filters: list) -> RawPredicate:
    """Rewrite output-position constants/callables into equality/guard filter
    predicates (parse.clj:565-589 ``split-outvar-constants``)."""
    new_out = []
    for o in rp.outfields:
        if V.is_wildcard(o):
            # `_` in output position: ignore it (vars.clj:81-83) — a fresh
            # NULLABLE var, no filter (a ?-var would drop null-output rows)
            new_out.append(V.gen_nullable_var())
            continue
        if V.is_var(o):
            new_out.append(o)
            continue
        if callable(o) or isinstance(o, FilterOp):
            fv = V.gen_var("?")
            new_out.append(fv)
            guard = lift(o, has_output=False)
            fresh_filters.append(
                RawPredicate(kind="filter", op=guard, infields=[fv]))
            continue
        # constant in output position → equality filter; for None the fresh
        # var must be nullable, else the ?-null-filter drops the very rows
        # the isNull filter keeps
        fv = V.gen_nullable_var() if o is None else V.gen_var("?")
        new_out.append(fv)
        fresh_filters.append(
            RawPredicate(kind="filter",
                         op=FilterOp(name="const-eq",
                                     column_fn=lambda c, _k=o: c.eqNullSafe(_k) if _k is not None else c.isNull(),
                                     py_fn=lambda x, _k=o: x == _k),
                         infields=[fv]))
    rp.outfields = new_out
    return rp


def _expand_symmetric_agg(pred) -> list:
    """Symmetric aggregator expansion (ops.clj def-aggregateops: ``c/sum
    ?a ?b ?c :> ?s1 ?s2 ?s3`` means one independent sum PER COLUMN —
    api_secondary_test.clj:73-80).  A single-column ParallelAgg called
    with n inputs and n matching outputs splits into n per-column agg
    predicates; everything else passes through untouched."""
    if not (isinstance(pred, (tuple, list)) and pred):
        return [pred]
    head, *args = pred
    if not isinstance(head, ParallelAgg) or head.n_out != 1:
        return [pred]
    infields, outfields = _split_selector(args)
    if len(infields) <= 1 or len(infields) != len(outfields):
        return [pred]
    return [(head, i, ":>", o) for i, o in zip(infields, outfields)]


def normalize_query(outfields, predicates, options: Optional[dict] = None
                    ) -> NormalizedQuery:
    """parse.clj:725-758 ``build-query``/``parse-subquery`` analog."""
    options = dict(options or {})
    outfields = list(outfields)
    gens, gensets, ops_, aggs = [], [], [], []
    fresh: list[RawPredicate] = []
    flat = []
    for p in predicates:
        # allow inline option tuples for the Datalog-ish feel
        if isinstance(p, (tuple, list)) and p and isinstance(p[0], str) \
                and p[0].startswith(":"):
            key = p[0].lstrip(":")
            val = list(p[1:])
            if key in ("sort",):
                options["sort"] = [v for v in val]
            elif key in ("distinct", "reverse"):
                options[key] = val[0] if val else True
            else:
                options[key] = val[0] if len(val) == 1 else val
            continue
        flat.append(p)

    expanded = []
    def _expand(p):
        if isinstance(p, (tuple, list)) and p and is_predmacro(p[0]):
            for sub in expand_predmacro(p):
                _expand(sub)
        else:
            expanded.append(p)
    for p in flat:
        _expand(p)

    for p in expanded:
        for sp in _expand_symmetric_agg(p):
            rp = normalize_predicate(sp, fresh)
            {"generator": gens, "generator_set": gensets, "op": ops_,
             "filter": ops_, "agg": aggs}[rp.kind].append(rp)
    ops_.extend(fresh)

    _validate(outfields, gens, gensets, ops_, aggs, options)
    return NormalizedQuery(outfields=outfields, generators=gens,
                           gensets=gensets, operations=ops_,
                           aggregators=aggs, options=options)


ALLOWED_OPTIONS = {"distinct", "sort", "reverse", "trap", "name",
                   "reducers", "spill-threshold", "spill_threshold",
                   "stats-fn", "stats_fn", "limit"}


def _validate(outfields, gens, gensets, ops_, aggs, options) -> None:
    """parse.clj:104-154 ``validate-predicates!``."""
    unknown = sorted(k for k in options if k not in ALLOWED_OPTIONS)
    if unknown:
        raise ValueError(f"unknown query option(s) {unknown}; "
                         f"allowed: {sorted(ALLOWED_OPTIONS)}")
    if not gens:
        raise ValueError("query needs at least one generator")
    _buf_types = (BufferOp, BufferIterOp, LimitAgg, ParallelBufOp)
    buffers = [a for a in aggs if isinstance(a.op, _buf_types)]
    non_buffers = [a for a in aggs if not isinstance(a.op, _buf_types)]
    if len(buffers) > 1:
        raise ValueError("Multiple buffers aren't allowed in the same query")
    if buffers and non_buffers:
        raise ValueError("Cannot use both aggregators and buffers in same grouping")
    # ungrounding vars may only originate in generators (parse.clj:113-129)
    gen_vars = {v for g in gens for v in g.bindings if V.is_var(v)}
    for coll, what in ((ops_, "operation"), (aggs, "aggregator")):
        for rp in coll:
            for v in rp.outfields:
                if V.is_ungrounding(v):
                    raise ValueError(
                        f"ungrounding var {v} may only originate in a "
                        f"generator, not in {what} {rp.op!r}")
    ug = [v for v in gen_vars if V.is_ungrounding(v)]
    # each !!var appears in exactly one generator
    seen = set()
    for g in gens:
        for v in g.bindings:
            if V.is_ungrounding(v):
                if v in seen:
                    raise ValueError(f"ungrounding var {v} used in >1 generator")
                seen.add(v)
