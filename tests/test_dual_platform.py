"""In-memory execution platform (exec_local) — the analog of the
reference's dual-platform setup (cascalog-core/src/clj/cascalog/api.clj:
142-149 ``with-platform`` + in_memory/platform.clj:100-260; the API test
suite runs on both platforms via api_test.clj:11-16).

Three layers:
- pure-local semantics pins (NO spark fixture — these run without a JVM)
- a subprocess proof that ``q(...).run(platform='local')`` works with the
  JVM entirely absent
- Spark-vs-local equivalence on value-sensitive surfaces (deterministic
  sample ordering, outer-join padding, buffer secondary sort)

The broader equivalence net is tests/test_basic.py / test_joins_outer.py /
test_aggs_buffers.py, whose ``assert_produces`` executes every assertion
on BOTH platforms — since r8 under a STRICT autouse fixture
(CASCALOG_DUAL_STRICT: the silent local-leg skip is a failure, so all
84/84 legs really run locally) — plus the hypothesis differential suite
(test_property_differential.py).
"""

import os
import subprocess
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cascalog_spark import (LocalPlatformUnsupported, c, combine, first_n,
                            defaggregatefn, defbufferfn, defbufferiterfn,
                            defparallelbuf, q, run_local, union)

DATA = [("a", 3), ("a", 1), ("a", 2), ("b", 9), ("b", 7)]


def test_local_filter_map_agg():
    rows = q(["?k", "?n", "?s"], (DATA, "?k", "?v"),
             (c.count, "?n"), (c.sum_agg, "?v", ":>", "?s")).run()
    assert sorted(rows) == [("a", 3, 6), ("b", 2, 16)]


def test_local_null_semantics():
    data = [("a", 1), ("b", None), (None, 3)]
    # ?-vars drop nulls; !vars keep them
    assert sorted(q(["?k", "?v"], (data, "?k", "?v")).run()) == [("a", 1)]
    got = q(["?k", "!v"], (data, "?k", "!v")).run()
    assert sorted(got, key=repr) == [("a", 1), ("b", None)]


def test_local_outer_join_padding():
    left = [("a", 1), ("z", 9)]
    right = [("a", "x")]
    got = q(["?k", "?v", "!!r"],
            (left, "?k", "?v"), (right, "?k", "!!r")).run()
    assert sorted(got, key=repr) == [("a", 1, "x"), ("z", 9, None)]


def test_local_join_nulls_never_match():
    left = [("a", 1), (None, 2)]
    right = [("a", "x"), (None, "y")]
    got = q(["!k", "!v", "!r"],
            (left, "!k", "!v"), (right, "!k", "!r")).run()
    assert sorted(got, key=repr) == [("a", 1, "x")]


def test_local_existence_modes():
    L = [("a", 1), ("b", 2), ("c", 3)]
    R = [("a",), ("c",)]
    assert sorted(q(["?k"], (L, "?k", "_"), (R, "?k", ":>", True)).run()) \
        == [("a",), ("c",)]
    assert sorted(q(["?k"], (L, "?k", "_"), (R, "?k", ":>", False)).run()) \
        == [("b",)]
    assert sorted(q(["?k", "?f"], (L, "?k", "_"),
                    (R, "?k", ":>", "?f")).run()) \
        == [("a", True), ("b", False), ("c", True)]


def test_local_buffer_secondary_sort():
    @defbufferfn(returns=["string"])
    def concat_vals(pdf):
        return pd.DataFrame({"o": [",".join(map(str, pdf.iloc[:, 0]))]})

    got = q(["?k", "?cat"], (DATA, "?k", "?v"),
            (concat_vals, "?v", ":>", "?cat"), sort=["?v"]).run()
    assert sorted(got) == [("a", "1,2,3"), ("b", "7,9")]


def test_local_bufferiter_and_parallelbuf():
    @defbufferiterfn(returns=["bigint"])
    def running(rows):
        acc = 0
        for (v,) in rows:
            acc += v
            yield acc

    got = q(["?k", "?rt"], (DATA, "?k", "?v"),
            (running, "?v", ":>", "?rt"), sort=["?v"]).run()
    assert sorted(got) == [("a", 1), ("a", 3), ("a", 6), ("b", 7), ("b", 16)]

    spread = defparallelbuf(
        init=lambda v: (v, v),
        combine=lambda x, y: (min(x[0], y[0]), max(x[1], y[1])),
        buffer=lambda inters: [(inters[0][1] - inters[0][0],)],
        inter_returns=["bigint", "bigint"], returns=["bigint"])
    got = q(["?k", "?sp"], (DATA, "?k", "?v"),
            (spread, "?v", ":>", "?sp")).run()
    assert sorted(got) == [("a", 2), ("b", 2)]


def test_local_limit_and_rank():
    got = q(["?k", "?top"], (DATA, "?k", "?v"),
            (c.limit(1), "?v", ":>", "?top"), sort=["?v"], reverse=True).run()
    assert sorted(got) == [("a", 3), ("b", 9)]
    got = q(["?k", "?top", "?r"], (DATA, "?k", "?v"),
            (c.limit_rank(2), "?v", ":>", "?top", "?r"), sort=["?v"]).run()
    assert sorted(got) == [("a", 1, 1), ("a", 2, 2), ("b", 7, 1), ("b", 9, 2)]


def test_local_global_agg_empty_input():
    # Spark agg-on-empty: count -> 0 / sum -> NULL in ONE row (the NULL
    # survives only through a nullable !-var output; a ?-var output
    # null-filters the row at the final projection on both platforms)
    got = q(["?n", "!s"], ([(1,)], "?v"), (c.lt, "?v", 0),
            (c.count, "?n"), (c.sum_agg, "?v", ":>", "!s")).run()
    assert got == [(0, None)]
    got = q(["?n", "?s"], ([(1,)], "?v"), (c.lt, "?v", 0),
            (c.count, "?n"), (c.sum_agg, "?v", ":>", "?s")).run()
    assert got == []


def test_local_merged_generators():
    q1 = q(["?x"], ([(1,), (2,)], "?x"))
    q2 = q(["?x"], ([(2,), (3,)], "?x"))
    assert sorted(run_local(union(q1, q2))) == [(1,), (2,), (3,)]
    assert sorted(run_local(combine(q1, q2))) == [(1,), (2,), (2,), (3,)]


def test_local_subquery_generator():
    sub = q(["?k", "?n"], (DATA, "?k", "?v"), (c.count, "?n"))
    got = q(["?k2"], (sub, "?k2", "?n"), (c.gt, "?n", 2)).run()
    assert got == [("a",)]


def test_local_unsupported_is_loud():
    agg = defaggregatefn(init=lambda: 0, step=lambda a, v: a + v,
                         returns=["bigint"])
    del agg
    with pytest.raises(LocalPlatformUnsupported):
        # hll sketch has no Python fallback
        q(["?h"], (DATA, "_", "?v"), (c.hll_sketch, "?v", ":>", "?h")).run()


def test_local_runs_without_jvm():
    """The whole local path must work with NO JVM available."""
    code = (
        "import os; os.environ['JAVA_HOME'] = '/nonexistent'\n"
        "from cascalog_spark import q, c\n"
        "r = q(['?k', '?n'], ([('a', 1), ('a', 2), ('b', 3)], '?k', '?v'),\n"
        "      (c.count, '?n')).run(platform='local')\n"
        "assert sorted(r) == [('a', 2), ('b', 1)], r\n"
        "print('OK')\n")
    env = dict(os.environ, JAVA_HOME="/nonexistent")
    proc = subprocess.run([sys.executable, "-c", code], env=env,
                          capture_output=True, text=True,
                          cwd=os.path.dirname(os.path.dirname(
                              os.path.abspath(__file__))))
    assert proc.returncode == 0 and "OK" in proc.stdout, proc.stderr[-2000:]


# -- Spark-vs-local equivalence on value-sensitive surfaces -----------------

def test_det_sample_matches_spark(spark):
    query = q(["?k", "?v2"], (DATA, "?k", "?v"),
              (c.fixed_sample_deterministic(2, seed=7), "?v", ":>", "?v2"))
    assert sorted(query.run(spark)) == sorted(query.run(platform="local"))


def test_global_det_sample_matches_spark(spark):
    rows = [(i, f"s{i % 5}") for i in range(40)]
    query = q(["?i2", "?s2"], (rows, "?i", "?s"),
              (c.fixed_sample_deterministic(9, seed=3), "?i", "?s",
               ":>", "?i2", "?s2"))
    assert sorted(query.run(spark)) == sorted(query.run(platform="local"))


def test_mod_and_round_match_spark(spark):
    rows = [(-7, 3), (7, -3), (-7, -3), (7, 3)]
    query = q(["?a", "?b", "?m"], (rows, "?a", "?b"),
              (c.mod, "?a", "?b", ":>", "?m"))
    assert sorted(query.run(spark)) == sorted(query.run(platform="local"))
    vals = [(0.5,), (1.5,), (2.5,), (1.2345675,), (-0.5,)]
    query = q(["?x", "?r"], (vals, "?x"),
              (c.round_to(6), "?x", ":>", "?r"))
    assert sorted(query.run(spark)) == sorted(query.run(platform="local"))


def test_local_parquet_tap_no_jvm(sf_dir):
    """File taps read through pyarrow on the local platform — no Spark."""
    from cascalog_spark.sources import ParquetTap

    tap = ParquetTap(path=f"{sf_dir}/region.parquet")
    got = q(["?n"], (tap, {"r_name": "?n"})).run(platform="local")
    assert sorted(got) == [("AFRICA",), ("AMERICA",), ("ASIA",),
                           ("EUROPE",), ("MIDDLE EAST",)]


def test_tap_query_matches_spark(spark, sf_dir):
    from cascalog_spark.sources import ParquetTap

    tap = ParquetTap(path=f"{sf_dir}/nation.parquet")
    query = q(["?rk", "?n"],
              (tap, {"n_regionkey": "?rk", "n_name": "?nm"}),
              (c.count, "?n"))
    assert sorted(query.run(spark)) == sorted(query.run(platform="local"))


def test_local_csv_and_text_taps(tmp_path):
    from cascalog_spark.sources import CsvTap, TextLineTap

    p = tmp_path / "t.csv"
    p.write_text("a|1\nb|2\nb|3\n")
    tap = CsvTap(path=str(p), delimiter="|", header=False)
    names, rows = tap.load_rows()
    assert len(rows) == 3 and rows[0][0] == "a"

    t = tmp_path / "lines.txt"
    t.write_text("hello world\nfoo\n")
    tap2 = TextLineTap(path=str(t))
    got = q(["?w", "?n"], (tap2, "?line"),
            (c.split(), "?line", ":>", "?w"),
            (c.count, "?n")).run(platform="local")
    assert sorted(got) == [("foo", 1), ("hello", 1), ("world", 1)]


def test_local_mirrors_json_cast_greatest_stddev(spark):
    """r8 mirror sweep: the §2.8 helpers that were Column-expression-only
    (json_get, cast_to, the greatest/least lifting of Python max/min,
    stddev_samp) now carry Python mirrors — Spark and local must agree
    value-for-value, including the null/invalid edges."""
    from cascalog_spark.testing import assert_produces

    js = [('{"a": {"b": [1, 2]}, "s": "x", "f": true}',),
          ('not json',), ('{"a": 1}',)]
    query = q(["?j", "!b", "!s", "!f"],
              (js, "?j"),
              (c.json_get("$.a.b[1]"), "?j", ":>", "!b"),
              (c.json_get("$.s"), "?j", ":>", "!s"),
              (c.json_get("$.f"), "?j", ":>", "!f"))
    assert_produces(query, spark,
                    [('{"a": {"b": [1, 2]}, "s": "x", "f": true}',
                      "2", "x", "true"),
                     ("not json", None, None, None),
                     ('{"a": 1}', None, None, None)])

    # ANSI session default: only defined inputs (malformed input raises
    # identically on both platforms — not a value surface to pin here)
    vals = [("3", 2.7, "true"), ("-8", -1.5, "false"), ("12", 9.0, "y")]
    query = q(["?s", "?i", "?d2s", "?b"],
              (vals, "?s", "?d", "?bs"),
              (c.cast_to("int"), "?s", ":>", "?i"),
              (c.cast_to("string"), "?d", ":>", "?d2s"),
              (c.cast_to("boolean"), "?bs", ":>", "?b"))
    assert_produces(query, spark,
                    [("3", 3, "2.7", True), ("-8", -8, "-1.5", False),
                     ("12", 12, "9.0", True)])

    nums = [(1, None, 5), (None, None, 2), (7, 3, None)]
    query = q(["!g", "!l"],
              (nums, "!a", "!b", "!c"),
              (max, "!a", "!b", "!c", ":>", "!g"),
              (min, "!a", "!b", "!c", ":>", "!l"))
    assert_produces(query, spark, [(5, 1), (2, 2), (7, 3)])

    data = [(1.0,), (2.0,), (4.0,)]
    query = q(["?sd"], (data, "?n"),
              (c.stddev_samp, "?n", ":>", "?sd"))
    assert_produces(query, spark, [(1.5275252316519468,)], approx=True)


def test_local_first_n_mirror():
    """first_n runs locally: sort direction, per-entry directions, Spark
    null placement (nulls last on desc), and plain limit without sort."""
    data = [("a", 3), ("b", None), ("c", 9), ("d", 1)]
    src = q(["?k", "!n"], (data, "?k", "!n"))
    top = first_n(src, 2, sort="!n", reverse=True)
    got = q(["?k", "!n"], (top, "?k", "!n")).run(platform="local")
    assert got == [("c", 9), ("a", 3)]
    bot = first_n(src, 2, sort=[("!n", "asc")])
    got = q(["?k", "!n"], (bot, "?k", "!n")).run(platform="local")
    assert got == [("b", None), ("d", 1)]
    lim = first_n(src, 3)
    assert len(q(["?k", "!n"], (lim, "?k", "!n")).run(platform="local")) == 3


def test_local_generator_wrappers(spark):
    """r8 local_rows sweep: broadcast_gen / checkpoint_gen / cross_join
    / intersect_gens / except_gens all run on the local platform and
    agree with Spark (intersect = DISTINCT, except = multiset ALL)."""
    from cascalog_spark import (broadcast_gen, checkpoint_gen,
                                cross_join, except_gens, intersect_gens)
    from cascalog_spark.sources import MemoryTap
    from cascalog_spark.testing import assert_produces

    A = [(1,), (2,), (2,), (3,)]
    B = [(2,), (3,), (3,), (4,)]
    qa = q(["?n"], (A, "?n"), distinct=False)
    qb = q(["?n"], (B, "?n"), distinct=False)
    assert_produces(q(["?n"], (intersect_gens(qa, qb), "?n")), spark,
                    [(2,), (3,)])
    assert_produces(q(["?n"], (except_gens(qa, qb), "?n")), spark,
                    [(1,), (2,)])
    assert_produces(q(["?x", "?y"],
                      (cross_join(q(["?x"], ([(1,), (2,)], "?x")),
                                  q(["?y"], ([(9,), (8,)], "?y"))),
                       "?x", "?y")), spark,
                    [(1, 9), (1, 8), (2, 9), (2, 8)])
    assert_produces(q(["?n"], (broadcast_gen(qa), "?n")), spark,
                    [(1,), (2,), (2,), (3,)])
    ck = checkpoint_gen(qa)
    got = q(["?n", "?c"], (ck, "?n"), (c.count, "?c")).run(
        platform="local")
    assert sorted(got) == [(1, 1), (2, 2), (3, 1)]
    # first_n straight over a tap or literal rows, not only over a query
    top = first_n(MemoryTap(["n"], A), 2, sort="n")
    assert sorted(tuple(r) for r in top.to_df(spark).collect()) == \
        [(1,), (2,)]
    assert_produces(q(["?n"], (top, "?n")), spark, [(1,), (2,)])
    assert_produces(q(["?n"], (first_n(B, 4), "?n")), spark, B)
