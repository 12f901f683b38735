"""Taps matrix, :trap error diversion, predicate macros, combinators —
mirrors cascading_api_test.clj:112-224 (traps), pred_macro_test.clj, and
the tap behaviors of tap.clj / more_taps.clj."""

import os

import pytest

from cascalog_spark import Subquery, c, execute, gen_var, q
from cascalog_spark.sources import (CascalogTap, CsvTap, MemoryTap,
                                    ParquetTap, TextLineTap, hfs_tap)
from cascalog_spark.testing import assert_produces
from cascalog_spark.ops import column_filter, deffilterfn, defmapfn

AGE = [("alice", 28), ("bob", 33), ("chris", 40), ("david", 25)]


# -- taps --------------------------------------------------------------------


def test_memory_tap(spark):
    tap = MemoryTap(["person", "age"], AGE)
    query = q(["?p", "?a"], (tap, "?p", "?a"), (c.lt, "?a", 30))
    assert_produces(query, spark, [("alice", 28), ("david", 25)])


def test_parquet_tap_roundtrip(spark, tmp_path):
    path = str(tmp_path / "ages.parquet")
    sink = ParquetTap(path=path)
    query = q(["?p", "?a"], (MemoryTap(["p", "a"], AGE), "?p", "?a"))
    execute(spark, query, sink)
    back = q(["?p"], (ParquetTap(path=path), "?p", "?a"), (c.gt, "?a", 30))
    assert_produces(back, spark, [("bob",), ("chris",)])


def test_parquet_sinkmode_keep(spark, tmp_path):
    # :sinkmode :keep → ignore if exists (tap.clj:28-36)
    path = str(tmp_path / "keep.parquet")
    q1 = q(["?p", "?a"], (MemoryTap(["p", "a"], AGE), "?p", "?a"))
    execute(spark, q1, ParquetTap(path=path, sinkmode="replace"))
    q2 = q(["?p", "?a"], (MemoryTap(["p", "a"], [("zed", 1)]), "?p", "?a"))
    execute(spark, q2, ParquetTap(path=path, sinkmode="keep"))
    assert spark.read.parquet(path).count() == 4  # unchanged


def test_csv_tap_roundtrip(spark, tmp_path):
    path = str(tmp_path / "ages_csv")
    tap = CsvTap(path=path, delimiter="|", header=True)
    df = spark.createDataFrame(AGE, ["person", "age"])
    tap.save_df(df)
    back = tap.load_df(spark)
    assert sorted(tuple(r) for r in back.collect()) == sorted(AGE)


def test_textline_tap(spark, tmp_path):
    path = str(tmp_path / "lines")
    df = spark.createDataFrame([("hello world",), ("foo bar",)], ["value"])
    TextLineTap(path=path).save_df(df)
    tap = TextLineTap(path=path)
    query = q(["?w", "?n"],
              (tap, "?line"),
              (c.split(), "?line", ":>", "?w"),
              (c.count, "?n"))
    assert_produces(query, spark,
                    [("hello", 1), ("world", 1), ("foo", 1), ("bar", 1)])


def test_template_tap_partitioned_sink(spark, tmp_path):
    # :sink-template → df.write.partitionBy (tap.clj:80-86)
    path = str(tmp_path / "by_age")
    sink = ParquetTap(path=path, partition_by=["a"])
    execute(spark, q(["?p", "?a"], (MemoryTap(["p", "a"], AGE), "?p", "?a")),
            sink)
    assert os.path.isdir(f"{path}/a=28")
    assert spark.read.parquet(path).count() == 4


def test_update_partitions_sinkmode(spark, tmp_path):
    """sinkmode='update_partitions' = dynamic partition overwrite: the
    re-written day replaces in place, untouched days survive, new days
    append — the idempotent incremental writer."""
    import pytest

    path = str(tmp_path / "daily")
    tap = ParquetTap(path=path, partition_by=["day"],
                     sinkmode="update_partitions")
    tap.save_df(spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c")], "day int, v string"))
    # rewrite day=2 (fewer rows: overwrite, not append) + brand-new day=3
    tap.save_df(spark.createDataFrame(
        [(2, "C"), (3, "d")], "day int, v string"))
    got = {(r.day, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {(1, "a"), (1, "b"), (2, "C"), (3, "d")}
    # re-running the same batch is idempotent
    tap.save_df(spark.createDataFrame([(2, "C"), (3, "d")],
                                      "day int, v string"))
    assert spark.read.parquet(path).count() == 4
    # the session conf is restored, and partition_by is mandatory
    assert spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode") != "dynamic"
    with pytest.raises(ValueError, match="partition_by"):
        ParquetTap(path=path, sinkmode="update_partitions").save_df(
            spark.createDataFrame([(1, "x")], "day int, v string"))


def test_cascalog_tap_fn_sink(spark):
    # fn-sink receives the DataFrame (cascading/platform.clj:320-324)
    captured = []
    tap = CascalogTap(source=MemoryTap(["p", "a"], AGE),
                      sink=lambda df: captured.extend(
                          tuple(r) for r in df.collect()))
    query = q(["?p", "?a"], (tap, "?p", "?a"), (c.lt, "?a", 30))
    execute(spark, query, tap)
    assert sorted(captured) == [("alice", 28), ("david", 25)]


def test_glob_source_pattern(spark, tmp_path):
    d1 = str(tmp_path / "part_a")
    d2 = str(tmp_path / "part_b")
    spark.createDataFrame(AGE[:2], ["p", "a"]).write.parquet(d1)
    spark.createDataFrame(AGE[2:], ["p", "a"]).write.parquet(d2)
    tap = hfs_tap(str(tmp_path), fmt="parquet", source_pattern="part_*")
    query = q(["?p"], (tap, "?p", "_"))
    assert len(query.run(spark)) == 4


# -- traps -------------------------------------------------------------------


def test_trap_diverts_map_errors(spark):
    @defmapfn(returns="bigint")
    def reciprocal_int(n):
        return int(100 / (n - 33))  # throws for bob (33)

    trapped = []
    query = q(["?p", "?r"],
              (AGE, "?p", "?a"),
              (reciprocal_int, "?a", ":>", "?r"),
              trap=lambda df: trapped.extend(tuple(r) for r in df.collect()))
    rows = query.run(spark)
    assert len(rows) == 3 and all(p != "bob" for p, _ in rows)
    assert len(trapped) == 1
    assert trapped[0][:2][0] == "bob" or "bob" in trapped[0]
    assert "ZeroDivisionError" in trapped[0][-1]


def test_trap_with_self_join(spark):
    """Self-join + trap regression (cascading_api_test.clj:147-161): the
    trap wrapper must survive the planner's branch renaming."""
    follows = [("a", "b"), ("b", "a"), ("a", "c")]

    @defmapfn(returns="string")
    def boom_on_c(p):
        if p == "c":
            raise RuntimeError("bad node")
        return p.upper()

    trapped = []
    query = q(["?x", "?y", "?u"],
              (follows, "?x", "?y"),
              (follows, "?y", "?x"),   # self-join: mutual pairs
              (boom_on_c, "?y", ":>", "?u"),
              trap=lambda df: trapped.extend(tuple(r) for r in df.collect()))
    rows = query.run(spark)
    assert sorted(rows) == [("a", "b", "B"), ("b", "a", "A")]
    # op pushdown applies boom_on_c on the tail BEFORE the join (inputs
    # available, parse.clj:523-533), so the (a, c) row errors pre-join and
    # diverts — exactly the reference's trap-in-branch behavior
    assert len(trapped) == 1 and "RuntimeError" in trapped[0][-1]

    trapped2 = []
    q2 = q(["?x", "?u"],
           (follows, "?x", "?y"),
           (boom_on_c, "?y", ":>", "?u"),
           trap=lambda df: trapped2.extend(tuple(r) for r in df.collect()))
    rows2 = q2.run(spark)
    assert sorted(r[1] for r in rows2) == ["A", "B"]
    assert len(trapped2) == 1 and "RuntimeError" in trapped2[0][-1]


def test_trap_diverts_filter_errors(spark):
    @deffilterfn
    def throws_on_chris(p):
        if p == "chris":
            raise ValueError("boom")
        return True

    trapped = []
    query = q(["?p"],
              (AGE, "?p", "_"),
              (throws_on_chris, "?p"),
              trap=lambda df: trapped.extend(tuple(r) for r in df.collect()))
    rows = query.run(spark)
    assert sorted(r[0] for r in rows) == ["alice", "bob", "david"]
    assert len(trapped) == 1 and trapped[0][0] == "chris"
    assert "ValueError: boom" in trapped[0][-1]


def test_no_trap_means_failure(spark):
    @defmapfn(returns="bigint")
    def boom(n):
        raise RuntimeError("no trap")

    query = q(["?r"], (AGE, "?p", "?a"), (boom, "?a", ":>", "?r"))
    with pytest.raises(Exception):
        query.run(spark)


# -- predicate macros --------------------------------------------------------


def test_predmacro_expansion(spark):
    # predmacro.clj:19-128: fn (invars, outvars) -> predicate list
    def mean_of(invars, outvars):
        s, cnt = gen_var("?"), gen_var("?")
        return [(c.sum_agg, invars[0], ":>", s),
                (c.count, cnt),
                (c.div, s, cnt, ":>", outvars[0])]

    mean_of.__predmacro__ = True

    PAIR = [("a", 1), ("a", 3), ("b", 10)]
    query = q(["?label", "?mean"],
              (PAIR, "?label", "?n"),
              (mean_of, "?n", ":>", "?mean"))
    assert_produces(query, spark, [("a", 2.0), ("b", 10.0)])


def test_combinators(spark):
    NUM = [(1,), (2,), (3,), (4,)]
    # comp: square then negate; juxt: min+max of (n, 2n); negate filter
    sq = c.column_op("sq", lambda x: x * x)
    neg = c.column_op("neg2", lambda x: -x)
    query = q(["?n", "?negsq"],
              (NUM, "?n"),
              (c.comp(neg, sq), "?n", ":>", "?negsq"))
    assert_produces(query, spark, [(n[0], -n[0] * n[0]) for n in NUM])

    query2 = q(["?n"], (NUM, "?n"), (c.negate(c.odd), "?n"))
    assert_produces(query2, spark, [(2,), (4,)])

    query3 = q(["?n"],
               (NUM, "?n"),
               (c.all_filters(c.gt, c.lt), "?n", 0))
    # gt(n,0) AND lt(n,0) → empty... use any instead
    assert query3.run(spark) == []
    query4 = q(["?n"],
               (NUM, "?n"),
               (c.any_filters(c.partial(c.lt, 2), c.partial(c.gt, 4)), "?n"))
    # lt(2,n) or gt(4,n) → n>2 or n<4 → all
    assert len(query4.run(spark)) == 4


def test_sample_op(spark):
    NUM = [(i,) for i in range(100)]
    query = q(["?n"], (NUM, "?n"), (c.sample(0.3, seed=42),))
    rows = query.run(spark)
    assert 5 < len(rows) < 70  # Bernoulli around 30


def test_juxt_and_each(spark):
    NUM = [(3, 7), (10, 2)]
    query = q(["?mn", "?mx"],
              (NUM, "?a", "?b"),
              (c.juxt(c.column_op("l", lambda a, b: __import__("pyspark.sql.functions", fromlist=["F"]).least(a, b)),
                      c.column_op("g", lambda a, b: __import__("pyspark.sql.functions", fromlist=["F"]).greatest(a, b))),
               "?a", "?b", ":>", "?mn", "?mx"))
    assert_produces(query, spark, [(3, 7), (2, 10)])


def test_sequence_file_tap_roundtrip(spark, tmp_path):
    """hfs-wrtseqfile analog (more_taps.clj:83-112): Writable (key, value)
    SequenceFile write + read via the RDD codecs."""
    from cascalog_spark.sources import SequenceFileTap

    path = str(tmp_path / "seq")
    tap = SequenceFileTap(path=path, key_field="word", value_field="n")
    src = spark.createDataFrame([("a", 1), ("b", 2), ("c", 3)], ["word", "n"])
    tap.save_df(src)
    back = tap.load_df(spark)
    assert sorted(tuple(r) for r in back.collect()) == \
        [("a", 1), ("b", 2), ("c", 3)]


def test_decoded_tap_base64_records(spark, tmp_path):
    """lzo-thrift/protobuf family analog (lzo.clj:17-36): text lines of
    base64-encoded serialized records decoded by a pluggable codec; corrupt
    records are dropped (codec-level trap)."""
    import base64
    import json

    from cascalog_spark.sources import DecodedTap, TextLineTap

    path = str(tmp_path / "recs")
    recs = [{"id": 1, "name": "ann"}, {"id": 2, "name": "bo"}]
    lines = [base64.b64encode(json.dumps(r).encode()).decode() for r in recs]
    lines.append("%%%not-base64%%%")
    spark.createDataFrame([(l,) for l in lines], ["value"]) \
         .write.mode("overwrite").text(path)

    def decode(line):
        r = json.loads(base64.b64decode(line))
        return (r["id"], r["name"])

    tap = DecodedTap(inner=TextLineTap(path=path), decoder=decode,
                     schema="id bigint, name string")
    rows = sorted(tuple(r) for r in tap.load_df(spark).collect())
    assert rows == [(1, "ann"), (2, "bo")]


def test_combinators_compose_python_ops(spark):
    """c/negate, c/all, c/partial, c/juxt over PYTHON-fn ops — the reference
    composes arbitrary ops (ops.clj:14-150), not just expression ops."""
    from cascalog_spark.builtin import partial as c_partial
    from cascalog_spark.ops import column_filter, deffilterfn, defmapfn

    @deffilterfn
    def is_small(v):
        return v < 3

    @deffilterfn
    def is_odd(v):
        return v % 2 == 1

    assert sorted(q(["?x"], ([(1,), (5,)], "?x"),
                    (c.negate(is_small), "?x")).run(spark)) == [(5,)]
    assert sorted(q(["?x"], ([(1,), (2,), (5,)], "?x"),
                    (c.all_filters(is_small, is_odd), "?x")
                    ).run(spark)) == [(1,)]
    assert sorted(q(["?x"], ([(1,), (2,), (5,)], "?x"),
                    (c.any_filters(is_small, is_odd), "?x")
                    ).run(spark)) == [(1,), (2,), (5,)]
    dbl = defmapfn(returns="bigint")(lambda k, v: k * v)
    assert sorted(q(["?d"], ([(3,), (4,)], "?x"),
                    (c_partial(dbl, 10), "?x", ":>", "?d")
                    ).run(spark)) == [(30,), (40,)]
    # builtins now carry Python mirrors, so c.odd composes with a Python
    # op on the py path (falls out of the dual-platform work)
    assert sorted(q(["?x"], ([(1,), (2,), (5,)], "?x"),
                    (c.all_filters(is_small, c.odd), "?x")
                    ).run(spark)) == [(1,)]
    # a genuinely Column-ONLY op still cannot compose with a Python op
    col_only = column_filter("col_only", lambda a: a > 0)
    with pytest.raises(ValueError, match="cannot combine"):
        c.all_filters(is_small, col_only)
    # a built-in (SQL template) cannot take a user Column op's output
    inc = c.column_op("inc", lambda a: a + 1)
    with pytest.raises(ValueError, match="cannot take the output"):
        q(["?y"], ([(1,)], "?x"),
          (c.comp(c.odd, inc), "?x", ":>", "?y")).to_df(spark)


def test_expr_op_sql_template(spark):
    """expr_op: SQL template resolved against physical columns/literals —
    stays fully JVM-side (WholeStageCodegen)."""
    from cascalog_spark.ops import expr_op

    tax = expr_op("tax", "{0} * 2 + {1}")
    res = q(["?t"], ([(1, 2), (3, 4)], "?x", "?y"),
            (tax, "?x", "?y", ":>", "?t")).run(spark)
    assert sorted(res) == [(4,), (10,)]
    lit = expr_op("with_lit", "concat({0}, {1})")
    res = q(["?s"], ([("a",), ("b",)], "?x"),
            (lit, "?x", "~z", ":>", "?s")).run(spark)
    assert sorted(res) == [("a~z",), ("b~z",)]


def test_sql_lit_spells_constants_as_f_lit_types():
    from cascalog_spark.ops import sql_lit

    assert sql_lit(0.1) == "0.1D"  # a bare 0.1 parses as DECIMAL(1,1)
    assert sql_lit(-2.5) == "(-2.5D)"
    assert sql_lit(1e-05) == "1e-05D"
    assert sql_lit(float("nan")) == "CAST('NaN' AS DOUBLE)"
    assert sql_lit(float("inf")) == "CAST('Infinity' AS DOUBLE)"
    assert sql_lit(float("-inf")) == "CAST('-Infinity' AS DOUBLE)"
    assert sql_lit(7) == "7" and sql_lit(-7) == "(-7)"
    assert sql_lit(True) == "true" and sql_lit(None) == "NULL"
    assert sql_lit("it's") == "'it\\'s'"
    import datetime
    import decimal

    for v in (datetime.date(2020, 1, 1), datetime.datetime(2020, 1, 1),
              decimal.Decimal("1.5"), b"x", 1 << 70):
        with pytest.raises(TypeError):
            sql_lit(v)


def test_sql_op_constants_keep_f_lit_types(spark):
    """Constants in SQL-template ops type like ``F.lit``: a float is a
    double (not a DECIMAL), ±inf/NaN are doubles, and a date (no exact SQL
    spelling) is bound through ``F.lit`` and stays a date."""
    import datetime
    import math

    from pyspark.sql import types as T

    from cascalog_spark.ops import expr_op

    scale = expr_op("scale", "{0} * {1}")
    df = q(["?s"], ([(1,), (2,)], "?x"),
           (scale, "?x", 0.1, ":>", "?s")).to_df(spark)
    assert df.schema["s"].dataType == T.DoubleType()
    assert sorted(r[0] for r in df.collect()) == [0.1, 0.2]

    vals = [(1.0,), (float("inf"),), (float("-inf"),), (float("nan"),)]

    def run(*preds):
        # Spark orders NaN above +inf and NaN = NaN
        return sorted("nan" if math.isnan(r[0]) else r[0]
                      for r in q(["?x"], (vals, "?x"), *preds).run(spark))

    assert run((c.lt, "?x", float("inf"))) == [float("-inf"), 1.0]
    assert run((c.gt, "?x", float("-inf")), (c.lt, "?x", float("nan"))) \
        == [1.0, float("inf")]
    assert run((c.eq, "?x", float("nan"))) == ["nan"]

    d1, d2 = datetime.date(2020, 1, 1), datetime.date(2021, 6, 1)
    rows = [(d1, "a"), (d2, "b")]
    assert q(["?s"], (rows, d2, "?s")).run(spark) == [("b",)]
    got = q(["?d"], (rows, "?d", "_"),
            (c.gte, "?d", datetime.date(2021, 1, 1))).to_df(spark)
    assert got.schema["d"].dataType == T.DateType()
    assert got.collect() == [(d2,)]


def test_python_filter_as_value_with_trap(spark):
    """Filter-as-value capture of a PYTHON filter under :trap — the boolean
    return type must be a parsed DataType for the trapped UDF schema."""
    from cascalog_spark.ops import deffilterfn

    @deffilterfn
    def odd(v):
        return v % 2 == 1

    trapped = []
    res = q(["?x", "?o"], ([(1,), (2,)], "?x"), (odd, "?x", ":>", "?o"),
            trap=lambda df: trapped.append(df)).run(spark)
    assert sorted(res) == [(1, True), (2, False)]


def test_csv_tap_mode_mapping_and_jdbc_bounds():
    """Cascading semantics: strict or safe=False -> FAILFAST, default
    PERMISSIVE; JDBC partitioned reads demand explicit bounds."""
    from cascalog_spark.sources import CsvTap, JdbcTap

    assert CsvTap(path="/tmp/x.csv").read_options["mode"] == "PERMISSIVE"
    assert CsvTap(path="/tmp/x.csv", safe=False).read_options["mode"] == \
        "FAILFAST"
    assert CsvTap(path="/tmp/x.csv", strict=True).read_options["mode"] == \
        "FAILFAST"
    with pytest.raises(ValueError, match="requires lower_bound"):
        JdbcTap(url="jdbc:x", table="t", partition_column="id")._opts()


# -- multi-sink execute ------------------------------------------------------


def test_execute_multi_sink_shares_subplan(spark):
    """?- with several sink/query pairs runs as one action set sharing
    common subplans (flow.clj:96-112 Semigroup-summed flows): a subquery
    referenced by BOTH sinks' queries compiles once, is persisted, and both
    sink plans read the persisted subtree (InMemoryTableScan)."""
    sub = q(["?p", "?a"], (MemoryTap(["p", "a"], AGE), "?p", "?a"),
            (c.lt, "?a", 40))
    q1 = q(["?p"], (sub, "?p", "?a"), (c.lt, "?a", 30))
    q2 = q(["?p", "?b"], (sub, "?p", "?a"), (c.add, "?a", 1, ":>", "?b"))
    got1, got2, plans = [], [], []

    def sink1(df):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        got1.extend(tuple(r) for r in df.collect())

    def sink2(df):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        got2.extend(tuple(r) for r in df.collect())

    execute(spark, (q1, sink1), (q2, sink2))
    assert sorted(got1) == [("alice",), ("david",)]
    assert sorted(got2) == [("alice", 29), ("bob", 34), ("david", 26)]
    # both sinks' physical plans read the shared persisted subquery
    assert all("InMemoryTableScan" in p for p in plans)


def _persistent_rdds(spark) -> dict:
    """The JVM's persistent RDDs by id (``SparkContext.getPersistentRDDs``)."""
    rdds = spark.sparkContext._jsc.sc().getPersistentRDDs()
    it = rdds.keys().iterator()
    out = {}
    while it.hasNext():
        i = it.next()
        out[i] = rdds.apply(i)
    return out


def _fanout_query():
    sub = q(["?p", "?a"], (AGE, "?p", "?a"))
    return q(["?p1", "?p2"], (sub, "?p1", "?a"), (sub, "?p2", "?a"))


def _trap_query():
    @defmapfn(returns="bigint")
    def inv(a):
        return 100 // (a - 25)  # david diverts

    return q(["?p", "?b"], (AGE, "?p", "?a"), (inv, "?a", ":>", "?b"),
             trap=lambda tdf: tdf.count())


def _prefix_query():
    from cascalog_spark.ops import defbufferiterfn

    @defbufferiterfn(returns=["bigint", "bigint"], n_out=2, name="rs",
                     prefix_assoc=True)
    def rs(rows):
        acc = 0
        for i, v in rows:
            acc += v
            yield (i, acc)

    rows = [(i % 2, i, 1) for i in range(40)]
    return q(["?k", "?i2", "?s"], (rows, "?k", "?i", "?v"),
             (rs, "?i", "?v", ":>", "?i2", "?s"), sort=["?i"])


def _subquery_fanout():
    sub = q(["?p", "?a"], (AGE, "?p", "?a"))
    return (Subquery("?p1", "?p2").predicate(sub, "?p1", "?a")
            .predicate(sub, "?p2", "?a"))


def _to_df_then_release(spark, query):
    query.to_df(spark).collect()
    query.flush_traps()
    query.unpersist()


@pytest.mark.parametrize("call", ["run", "execute", "run_many", "to_df"])
@pytest.mark.parametrize("make", [_fanout_query, _trap_query, _prefix_query,
                                  _subquery_fanout],
                         ids=["fanout", "trap", "prefix_scan", "subquery"])
def test_every_persist_released(spark, make, call):
    """Each handle a compile makes (fan-out subquery, trap split,
    prefix_assoc scan, and a fan-out built through ``Subquery``) is
    released by the call that owns its flow, or by ``unpersist()`` after
    ``to_df``: the persistent-RDD set is back to its baseline."""
    from cascalog_spark import run_many

    query = make()
    before = set(_persistent_rdds(spark))
    {"run": lambda: query.run(spark),
     "execute": lambda: execute(spark, query, lambda df: df.count()),
     "run_many": lambda: run_many(spark, query),
     "to_df": lambda: _to_df_then_release(spark, query)}[call]()
    assert set(_persistent_rdds(spark)) == before


def test_wrapped_fanout_released_by_outer_run(spark):
    """A fan-out query reached through ``first_n`` compiles into the
    outer run's flow, which releases its persist."""
    from cascalog_spark import first_n

    before = set(_persistent_rdds(spark))
    rows = q(["?p1", "?p2"],
             (first_n(_fanout_query(), 2), "?p1", "?p2")).run(spark)
    assert len(rows) == 2
    assert set(_persistent_rdds(spark)) == before


def test_execute_multi_sink_list_form_and_unpersist(spark):
    """List form; shared persists are released after the run."""

    def persistent_ids():
        # earlier tests in the shared session may have left caches; only
        # assert that THIS run's persists are released
        it = spark.sparkContext._jsc.sc().getPersistentRDDs().keys().iterator()
        ids = set()
        while it.hasNext():
            ids.add(it.next())
        return ids

    before = persistent_ids()
    sub = q(["?p", "?a"], (MemoryTap(["p", "a"], AGE), "?p", "?a"))
    q1 = q(["?p"], (sub, "?p", "?a"), (c.gte, "?a", 33))
    q2 = q(["?a"], (sub, "?p", "?a"), (c.lt, "?a", 30))
    got = {}
    execute(spark, [(q1, lambda df: got.setdefault("a", df.count())),
                    (q2, lambda df: got.setdefault("b", df.count()))])
    assert got == {"a": 2, "b": 2}
    # nothing NEW left cached once the action set completes
    assert persistent_ids() <= before


def test_trap_large_error_fraction_spills(spark):
    """VERDICT r1 #10: the trap split persist is unbounded (every row could
    divert), so it must use a spill-capable storage level.  80% of 100k
    rows error; both sides stay exact and the cached split point is
    MEMORY_AND_DISK (disk=true), never memory-only."""
    from cascalog_spark import q as Q

    @defmapfn(returns="bigint")
    def fussy(v):
        if v % 5 != 0:  # 80% divert
            raise ValueError("bad row")
        return v * 2

    n = 100_000
    df = spark.range(n).selectExpr("CAST(id AS BIGINT) AS v")
    trapped = []
    query = Q(["?v", "?o"], (df, "?v"), (fussy, "?v", ":>", "?o"),
              trap=lambda tdf: trapped.append(tdf.count()))
    before = _persistent_rdds(spark)
    out = query.to_df(spark)
    assert out.count() == n // 5
    # the split-point cache must be allowed to spill
    levels = [rdd.getStorageLevel()
              for i, rdd in _persistent_rdds(spark).items()
              if i not in before]
    assert levels and all(l.useDisk() and l.useMemory() for l in levels)
    query.flush_traps()
    query.unpersist()
    assert trapped == [n - n // 5]


def test_orc_tap_roundtrip_with_pushdown(spark, tmp_path):
    """ORC tap: write via execute, read back through a query; the filter
    must reach the ORC reader (same pushdown story as parquet)."""
    from cascalog_spark.sources import OrcTap

    path = str(tmp_path / "ages.orc")
    execute(spark,
            q(["?p", "?a"], (MemoryTap(["p", "a"], AGE), "?p", "?a")),
            OrcTap(path=path))
    back = q(["?p"], (OrcTap(path=path), {"p": "?p", "a": "?a"}),
             (c.lt, "?a", 30))
    assert sorted(back.run(spark)) == [("alice",), ("david",)]
    plan = back.to_df(spark)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "LessThan(a,30)" in plan


def test_run_many_shares_one_action_set(spark):
    """??- with several queries (run-to-memory!): results in order, shared
    subquery compiled once."""
    from cascalog_spark import run_many

    sub = q(["?p", "?a"], (MemoryTap(["p", "a"], AGE), "?p", "?a"))
    r1, r2 = run_many(spark,
                      q(["?p"], (sub, "?p", "?a"), (c.lt, "?a", 30)),
                      q(["?a"], (sub, "?p", "?a"), (c.gte, "?a", 40)))
    assert sorted(r1) == [("alice",), ("david",)]
    assert r2 == [(40,)]


def test_range_partitioned_tap_disjoint_file_ranges(spark, tmp_path):
    """RangePartitionedTap: every output file covers a disjoint key range
    (the property parquet min/max pruning needs), and a range predicate
    reaches the scan as a pushed filter."""
    from pyspark.sql import functions as F

    from cascalog_spark.sources import RangePartitionedTap

    df = spark.range(0, 10_000).selectExpr("id AS k", "id * 2 AS v")
    tap = RangePartitionedTap(path=str(tmp_path / "ranged"),
                              range_by=["k"], n_ranges=8)
    tap.save_df(df)

    back = spark.read.parquet(tap.path)
    per_file = (back.groupBy(F.input_file_name().alias("f"))
                .agg(F.min("k").alias("lo"), F.max("k").alias("hi"))
                .collect())
    spans = sorted((r.lo, r.hi) for r in per_file)
    assert len(spans) > 1
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 < lo2  # disjoint: min/max stats can prune range scans
    assert back.count() == 10_000

    plan = (back.where("k BETWEEN 100 AND 200")
            ._jdf.queryExecution().executedPlan().toString())
    assert "GreaterThanOrEqual(k,100)" in plan and \
        "LessThanOrEqual(k,200)" in plan


def test_glob_tap_schema_disagreement_contract(spark, tmp_path):
    """Schema-on-read glob taps (reference tap.clj Fields/ALL +
    platform.clj:353-361): when globbed files disagree on schema, the
    default parquet read resolves fields from a subset of footers (extra
    columns silently absent), mergeSchema=true unions the schemas with
    NULLs for missing fields, and a mismatched declared schema surfaces
    as NULL columns rather than silent coercion."""
    from cascalog_spark.sources.taps import ParquetTap

    a, b = str(tmp_path / "part_a"), str(tmp_path / "part_b")
    spark.createDataFrame([(1, "x")], "k long, v string") \
        .write.parquet(a)
    spark.createDataFrame([(2, "y", 9.5)], "k long, v string, w double") \
        .write.parquet(b)
    glob = f"{tmp_path}/part_*"

    # mergeSchema on: field union, missing fields -> NULL
    merged = ParquetTap(path=glob,
                        read_options={"mergeSchema": "true"}) \
        .load_df(spark)
    assert set(merged.columns) == {"k", "v", "w"}
    rows = {r.k: r.w for r in merged.collect()}
    assert rows[1] is None and rows[2] == 9.5

    # mergeSchema off (default): schema comes from sampled footers —
    # selecting a column that exists only in some files is either absent
    # (planner AnalysisException) or NULL-filled, never silently wrong
    plain = ParquetTap(path=glob).load_df(spark)
    assert {"k", "v"} <= set(plain.columns)
    if "w" not in plain.columns:
        import pytest
        from pyspark.errors import AnalysisException
        with pytest.raises(AnalysisException):
            plain.select("w").collect()

    # declared-fields subset still projects cleanly over the union
    sub = ParquetTap(path=glob, read_options={"mergeSchema": "true"},
                     fields=["k"]).load_df(spark)
    assert sub.columns == ["k"]
    assert {r.k for r in sub.collect()} == {1, 2}


def test_pred_macro_reference_cases(spark):
    """pred_macro_test.clj:17-43,218-226 ported: multi-predicate macros
    with internal temp vars, wildcard output capture, filter-macros via
    in/out var unification, and NESTED predicate macros."""
    from pyspark.sql import functions as F

    from cascalog_spark.predicates import predmacro
    from cascalog_spark.vars import gen_var

    num1 = [(0,), (1,), (2,), (3,)]

    @predmacro
    def mac1(invars, outvars):
        t = gen_var("?")
        return [(c.add, invars[0], 1, ":>", t),
                (c.mult, t, 2, ":>", outvars[0]),
                (c.add, invars[0], t, ":>", outvars[1])]

    dec = c.column_op("dec", lambda x: x - 1)
    qr = q(["?t", "?o"],
           (num1, "?n"),
           (mac1, "?n", ":>", "_", "?o"),
           (dec, "?n", ":>", "?t"))
    assert_produces(qr, spark, [(-1, 1), (0, 3), (1, 5), (2, 7)])

    # mac2 (pred_macro_test.clj:17-19): out var unifies with the input →
    # keeps fixpoints of x*x (0 and 1)
    @predmacro
    def mac2(invars, outvars):
        return [(c.mult, invars[0], invars[0], ":>", invars[0])]

    qr2 = q(["?n"], (num1, "?n"), (mac2, "?n"))
    assert_produces(qr2, spark, [(0,), (1,)])

    # mac3 (clj:26-28,40-43): same var as input AND output at the CALL
    # site — n+n == n only for 0
    @predmacro
    def mac3(invars, outvars):
        return [(c.add, invars[0], invars[0], ":>", outvars[0])]

    qr3 = q(["?n"], (num1, "?n"), (mac3, "?n", ":>", "?n"))
    assert_produces(qr3, spark, [(0,)])

    # nested predmacro (clj:206-226): pm2 invokes pm1 via vararg
    # selectors plus its own filter
    bang = c.column_op("append-bang",
                       lambda x: F.concat(x.cast("string"), F.lit("!")))
    small = c.column_filter("small-op", lambda x: x < 4)

    @predmacro
    def pm1(invars, outvars):
        return [(bang, i, ":>", v) for i, v in zip(invars, outvars)]

    @predmacro
    def pm2(invars, outvars):
        return [(pm1, ":<<", list(invars), ":>>", list(outvars)),
                (small, invars[0])]

    integers = [(1,), (4,)]
    qr4 = q(["?v"], (integers, "?i"), (pm2, "?i", ":>", "?v"))
    assert_produces(qr4, spark, [("1!",)])


def test_composites_reference_cases(spark):
    """pred_macro_test.clj:46-128 test-composites ported: any/all over
    vararg predicates (incl. repeated input vars and :> False capture),
    negate, comp chains (map∘map and filter∘map), juxt with mixed
    map/filter ops, and c/each."""
    from functools import reduce

    from pyspark.sql import functions as F

    def _sum(*cs):
        return reduce(lambda a, b: a + b, cs)

    odd_sum = c.column_filter("odd-sum", lambda *cs: _sum(*cs) % 2 != 0)
    mult3_sum = c.column_filter("mult3-sum", lambda *cs: _sum(*cs) % 3 == 0)
    large_total = c.column_filter("large-total", lambda *cs: _sum(*cs) > 10)
    nums = [(1, 2), (3, 3), (4, 6)]

    qr = q(["!a", "!b"], (nums, "!a", "!b"),
           (c.any_filters(odd_sum, mult3_sum, large_total), "!a", "!b"))
    assert_produces(qr, spark, [(1, 2), (3, 3)])

    qr = q(["!a", "!b"], (nums, "!a", "!b"),
           (c.any_filters(odd_sum, large_total), "!a", "!b", "!a"))
    assert_produces(qr, spark, [(3, 3), (4, 6)])

    # filter-as-value negation: capture the composite's boolean as False
    qr = q(["!a", "!b"], (nums, "!a", "!b"),
           (c.any_filters(odd_sum, large_total), "!a", "!b", "!a",
            ":>", False))
    assert_produces(qr, spark, [(1, 2)])

    qr = q(["!a", "!b"], (nums, "!a", "!b"),
           (c.all_filters(odd_sum, large_total, mult3_sum),
            "!a", "!b", "!b", "!b", "!b", "!b", "!b", "!b"))
    assert_produces(qr, spark, [(1, 2)])

    qr = q(["!a", "!b"], (nums, "!a", "!b"),
           (c.all_filters(odd_sum, mult3_sum), "!a"))
    assert_produces(qr, spark, [(3, 3)])

    qr = q(["!a"], (nums, "_", "!a"), (c.negate(c.odd), "!a"))
    assert_produces(qr, spark, [(2,), (6,)])

    qr = q(["!a"], (nums, "!a", "!b"), (c.negate(c.lt), "!a", "!b"))
    assert_produces(qr, spark, [(3,)])

    # comp: filter∘map captures a boolean; negate flips it
    qr = q(["!c"], (nums, "!a", "!b"),
           (c.comp(c.odd, c.add), "!a", "!b", ":>", "!c"))
    assert_produces(qr, spark, [(True,), (False,), (False,)])
    qr = q(["!c"], (nums, "!a", "!b"),
           (c.comp(c.negate(c.odd), c.add), "!a", "!b", ":>", "!c"))
    assert_produces(qr, spark, [(False,), (True,), (True,)])

    inc = c.column_op("inc", lambda x: x + 1)
    dbl = c.column_op("double-num", lambda x: x * 2)
    qr = q(["!c"], (nums, "!a", "_"),
           (c.comp(inc, dbl, inc), "!a", ":>", "!c"))
    assert_produces(qr, spark, [(5,), (9,), (11,)])
    qr = q(["!c"], (nums, "!a", "_"), (c.comp(inc), "!a", ":>", "!c"))
    assert_produces(qr, spark, [(2,), (4,), (5,)])

    qr = q(["!v1", "!v2"], (nums, "!a", "!b"),
           (c.juxt(inc, dbl), "!a", ":>", "!v1", "!v2"))
    assert_produces(qr, spark, [(2, 2), (4, 6), (5, 8)])

    qr = q(["!v1", "!v2", "!v3"], (nums, "!a", "!b"),
           (c.juxt(c.add, c.sub, c.lt), "!a", "!b",
            ":>", "!v1", "!v2", "!v3"))
    assert_produces(qr, spark, [(3, -1, True), (6, 0, False),
                                (10, -2, True)])

    # c/each (clj:190-204): op applied var-wise; filter variant too
    bang = c.column_op("append-bang",
                       lambda x: F.concat(x.cast("string"), F.lit("!")))
    triples = [(1, 2, 3), (3, 4, 1)]
    qr = q(["!v1", "!v2"], (triples, "!a", "!b", "!c"),
           (c.each(bang), "!a", "!b", ":>", "!v1", "!v2"))
    assert_produces(qr, spark, [("1!", "2!"), ("3!", "4!")])
    qr = q(["!v"], (triples, "!a", "!b", "!c"),
           (c.each(bang), "!b", ":>", "!v"))
    assert_produces(qr, spark, [("2!",), ("4!",)])

    # composite composites (clj:228-241)
    nums5 = [(1, 2), (3, 3), (4, 6), (6, 8), (-2, -1)]
    qr = q(["!a"], (nums5, "!a", "_"),
           (c.negate(c.any_filters(c.odd, mult3_sum)), "!a"))
    assert_produces(qr, spark, [(4,), (-2,)])
    pos = c.column_filter("pos", lambda x: x > 0)
    small = c.column_filter("small", lambda x: x < 10)
    qr = q(["!a"], (nums5, "!a", "_"),
           (c.any_filters(c.all_filters(c.odd, mult3_sum),
                          c.all_filters(c.even, pos, small)), "!a"))
    assert_produces(qr, spark, [(3,), (4,), (6,)])


def test_trap_joins_and_multi_trap(spark):
    """cascading_api_test.clj:190-225 ported: a trap AFTER a join diverts
    the joined row (with join-produced fields available to the failing
    op), and NESTED traps scope per subquery — the inner query's
    failures hit the inner trap, the outer query's failures hit the
    outer trap."""

    def odd_fail_fn(n):
        if n % 2 == 1:
            raise RuntimeError("odd!")
        return True

    @deffilterfn
    def odd_fail(n):
        return odd_fail_fn(n)

    @deffilterfn
    def odd_fail2(n, g):
        return odd_fail_fn(n)

    age = [("A", 20), ("B", 21)]
    gender = [("A", "m"), ("B", "f")]
    # trap after the join, single input var
    trap1 = []
    qr = q(["?p", "?a", "?g"],
           (age, "?p", "?a"), (gender, "?p", "?g"),
           (odd_fail, "?a"),
           trap=lambda df: trap1.extend(tuple(r) for r in df.collect()))
    assert qr.run(spark) == [("A", 20, "m")]
    assert len(trap1) == 1 and 21 in trap1[0]
    # trap after the join, the failing op SEES a join-produced field
    trap2 = []
    qr = q(["?p", "?a", "?g"],
           (age, "?p", "?a"), (gender, "?p", "?g"),
           (odd_fail2, "?a", "?g"),
           trap=lambda df: trap2.extend(tuple(r) for r in df.collect()))
    assert qr.run(spark) == [("A", 20, "m")]
    assert len(trap2) == 1 and 21 in trap2[0] and "f" in trap2[0]

    # multi-trap (clj:209-225): inner subquery trap vs outer query trap
    @deffilterfn
    def odd_fail3(w, p, a):
        return odd_fail_fn(w)

    weight = [("A", 191), ("B", 192)]
    inner_trap, outer_trap = [], []
    sq = q(["?p", "?a"], (age, "?p", "?a"), (odd_fail, "?a"),
           trap=lambda df: inner_trap.extend(
               tuple(r) for r in df.collect()))
    outer = q(["?p", "?a", "?w"],
              (sq, "?p", "?a"), (weight, "?p", "?w"),
              (odd_fail3, "?w", "?p", "?a"),
              trap=lambda df: outer_trap.extend(
                  tuple(r) for r in df.collect()))
    assert outer.run(spark) == []
    assert len(inner_trap) == 1 and 21 in inner_trap[0]  # B's odd age
    assert len(outer_trap) == 1  # A's odd weight, post-join tuple
    assert 191 in outer_trap[0] and "A" in outer_trap[0]


def test_atom_sink_collects_var_named_dicts(spark):
    """in_memory_api_test.clj test-atom-sink: executing into a mutable
    collector yields var-name-keyed dicts in order; an EMPTY list is the
    atom analog (a non-empty list stays a literal-rows generator)."""
    results = []
    query = q(["?n"], ([[1], [2], [3]], "?n"))
    execute(spark, query, results)
    assert sorted(results, key=lambda d: d["?n"]) == [
        {"?n": 1}, {"?n": 2}, {"?n": 3}]


def test_trap_isolation_outer_trap_does_not_catch_inner(spark):
    """cascading_api_test.clj:112-128 test-trap-isolation: an OUTER
    :trap must not swallow errors from an un-trapped inner subquery
    (they propagate); giving the SUBQUERY its own trap diverts them."""
    import pytest as _pytest

    @deffilterfn
    def _odd_fail(n):
        if n % 2 == 1:
            raise RuntimeError("odd!")
        return True

    sq = q(["?n"], ([[1], [2]], "?n"), (_odd_fail, "?n"))
    outer = q(["?n"], (sq, "?n"), trap=lambda df: df.collect())
    with _pytest.raises(Exception):
        outer.run(spark)

    inner_trapped = []
    sq2 = q(["?n"], ([[1], [2]], "?n"), (_odd_fail, "?n"),
            trap=lambda df: inner_trapped.extend(
                tuple(r) for r in df.collect()))
    assert q(["?n"], (sq2, "?n")).run(spark) == [(2,)]
    assert len(inner_trapped) == 1 and 1 in inner_trapped[0]


def test_fixed_width_tap_roundtrip(spark, tmp_path):
    from pyspark.sql import Row

    from cascalog_spark.sources import FixedWidthTap

    cols = {"id": (0, 6), "name": (6, 10), "qty": (16, 4)}
    tap = FixedWidthTap(path=str(tmp_path / "fw"), columns=cols,
                        types={"id": "long", "qty": "int"})
    df = spark.createDataFrame([
        Row(id=1, name="widget", qty=12),
        Row(id=23456, name="gadgetron", qty=7),
        Row(id=9, name=None, qty=None),
    ])
    tap.save_df(df)
    # the raw lines really are fixed-width
    lines = [r["value"] for r in
             spark.read.text(str(tmp_path / "fw")).collect()]
    assert all(len(ln) == 20 for ln in lines)
    back = {r["id"]: (r["name"], r["qty"])
            for r in tap.load_df(spark).collect()}
    assert back[1] == ("widget", 12)
    assert back[23456] == ("gadgetron", 7)
    assert back[9] == (None, None)  # blanks -> NULL
    # short lines read as NULL tails, and the read is pure native
    (tmp_path / "short").mkdir()
    (tmp_path / "short" / "data.txt").write_text("42\n")
    short = FixedWidthTap(path=str(tmp_path / "short"), columns=cols,
                          types={"id": "long"})
    r = short.load_df(spark).first()
    assert r["id"] == 42 and r["name"] is None and r["qty"] is None
    plan = tap.load_df(spark)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "EvalPython" not in plan
    import pytest as _p
    with _p.raises(ValueError, match="columns"):
        FixedWidthTap(path="x").load_df(spark)

def test_fixed_width_tap_gap_and_overlap(spark, tmp_path):
    """Filler-field layouts (gaps between declared offsets) must write
    every field at its DECLARED offset — the advisor repro had
    qty=(8,4) after id=(0,4) silently landing at offset 4 and
    round-tripping to NULL; overlapping fields must raise instead of
    silently corrupting."""
    import pytest as _p
    from pyspark.sql import Row

    from cascalog_spark.sources import FixedWidthTap

    gap = FixedWidthTap(path=str(tmp_path / "gap"),
                        columns={"id": (0, 4), "qty": (8, 4)},
                        types={"id": "long", "qty": "int"})
    gap.save_df(spark.createDataFrame([Row(id=7, qty=34)]))
    lines = [r["value"] for r in
             spark.read.text(str(tmp_path / "gap")).collect()]
    assert lines == ["7       34  "]  # filler spaces at [4, 8)
    back = gap.load_df(spark).first()
    assert back["id"] == 7 and back["qty"] == 34
    # leading gap (record starts with a filler) also lands on-offset
    lead = FixedWidthTap(path=str(tmp_path / "lead"),
                         columns={"qty": (3, 4)}, types={"qty": "int"})
    lead.save_df(spark.createDataFrame([Row(qty=5)]))
    raw = spark.read.text(str(tmp_path / "lead")).first()["value"]
    assert raw == "   5   "
    assert lead.load_df(spark).first()["qty"] == 5
    # overlap: no single serialization exists -> loud error, names both
    bad = FixedWidthTap(path=str(tmp_path / "bad"),
                        columns={"a": (0, 4), "b": (2, 4)})
    with _p.raises(ValueError, match="overlaps 'a'"):
        bad.save_df(spark.createDataFrame([Row(a="x", b="y")]))
    # overlapping READS stay legal (composite + parts)
    (tmp_path / "ov").mkdir()
    (tmp_path / "ov" / "d.txt").write_text("abcdef\n")
    ov = FixedWidthTap(path=str(tmp_path / "ov"),
                       columns={"all": (0, 6), "mid": (2, 2)})
    r = ov.load_df(spark).first()
    assert r["all"] == "abcdef" and r["mid"] == "cd"
    with _p.raises(ValueError, match="length > 0"):
        FixedWidthTap(path="x", columns={"z": (0, 0)}).load_df(spark)
