"""Physical-plan quality gates — the 100 TB design assertions.

Correctness tests prove the answers are right at small SF; these prove the
PLANS are the ones that survive scale: filters reach the parquet scan,
projections prune columns at the reader, small dims broadcast, global top-k
avoids a full sort, and pipelines stay inside whole-stage codegen instead of
falling out to row-at-a-time Python.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _full_plan(df) -> str:
    """``_plan`` with every scan's PushedFilters list in full: the scan
    metadata is otherwise cut at ``spark.sql.maxMetadataStringLength``
    characters, and ``?``-var guards put one ``IsNotNull`` per bound
    column at its head."""
    conf = df.sparkSession.conf
    old = conf.get("spark.sql.maxMetadataStringLength")
    conf.set("spark.sql.maxMetadataStringLength", "100000")
    try:
        return _plan(df)
    finally:
        conf.set("spark.sql.maxMetadataStringLength", old)


def test_join_broadcasts_small_dims(spark, sf_dir):
    """nation (25 rows) must come in as a broadcast side, never shuffled."""
    df = entry_mod.revenue_per_nation(spark, sf_dir)
    assert "BroadcastHashJoin" in _plan(df)


def test_scan_prunes_columns(spark, sf_dir):
    """A 3-column query over 11-column lineitem must read only 3 columns."""
    df = entry_mod.revenue_per_nation(spark, sf_dir)
    plan = _plan(df)
    scan = next(l for l in plan.splitlines()
                if "lineitem" in l and "Scan" in l)
    assert "l_orderkey" in scan and "l_extendedprice" in scan
    for unused in ("l_shipdate", "l_comment", "l_partkey"):
        assert unused not in scan


def test_filter_pushed_to_scan(spark, sf_dir):
    """The q1 shipdate filter must reach the parquet reader."""
    df = entry_mod.q1_pricing_summary(spark, sf_dir)
    plan = _full_plan(df)
    assert "PushedFilters: [" in plan
    scan = plan[plan.index("lineitem"):]
    assert "LessThanOrEqual(l_shipdate" in scan


def test_global_topk_no_full_sort(spark, sf_dir):
    """brute-force ANN top-k must be TakeOrderedAndProject (per-partition
    heaps), not a global Sort + Limit."""
    df = entry_mod.embedding_topk(spark, sf_dir)
    assert "TakeOrderedAndProject" in _plan(df)


def test_first_n_no_full_sort(spark, sf_dir):
    df = entry_mod.global_top5_orders(spark, sf_dir)
    assert "TakeOrderedAndProject" in _plan(df)


def _semi_anti_subqueries(df) -> list:
    """The subquery (right) side of every left-semi/anti join in the
    optimized plan, as JVM plan nodes."""
    sides, stack = [], [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        if node.nodeName() == "Join" and \
                node.joinType().toString() in ("LeftSemi", "LeftAnti"):
            sides.append(node.right())
        kids = node.children()
        stack += [kids.apply(i) for i in range(kids.size())]
    return sides


def test_semi_and_anti_joins_not_inner(spark, sf_dir):
    """Existence gensets must compile to semi/anti joins, not join+distinct."""
    semi = entry_mod.segments_with_big_orders(spark, sf_dir)
    anti = entry_mod.customers_without_orders(spark, sf_dir)
    assert "LeftSemi" in _optimized(semi)
    assert "LeftAnti" in _optimized(anti)
    # a left-semi/anti join never multiplies rows, so the subquery keys are
    # not deduplicated first (that was one more shuffle and Spark job)
    from cascalog_spark import q

    cust = entry_mod._t(spark, sf_dir, "customer")
    orders = entry_mod._t(spark, sf_dir, "orders")
    plain_semi = q(["?ck"], (cust, {"c_custkey": "?ck"}),
                   (orders, {"o_custkey": "?ck"}, ":>", True)).to_df(spark)
    for df in (plain_semi, anti):
        sides = _semi_anti_subqueries(df)
        assert sides
        assert all("Aggregate" not in side.toString() for side in sides)


def test_native_agg_partial_aggregation(spark, sf_dir):
    """ParallelAgg queries must show map-side partial aggregation
    (HashAggregate before the exchange) — no pandas fallback."""
    df = entry_mod.events_by_type(spark, sf_dir)
    plan = _plan(df)
    assert "partial_" in plan  # partial_count/partial_sum pre-shuffle
    assert "FlatMapGroupsInPandas" not in plan
    assert "BatchEvalPython" not in plan


def test_wordcount_stays_jvm_side(spark, sf_dir):
    """split+explode+count must be native (Generate/explode), zero Python."""
    df = entry_mod.wordcount_docs(spark, sf_dir)
    plan = _plan(df)
    # explode_fast emits posexplode with outer=true
    # (InferFiltersFromGenerate-proof)
    assert "Generate explode" in plan or "Generate posexplode" in plan
    assert "EvalPython" not in plan


def test_global_limit_no_single_partition_window(spark, sf_dir):
    """A GLOBAL c/limit (no grouping keys) must compile to
    TakeOrderedAndProject, never a partitionBy(lit(1)) window over the
    whole dataset."""
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    from cascalog_spark import c, q

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    qr = q(["?ok", "?tp", "?rank"],
           (orders, {"o_orderkey": "?k", "o_totalprice": "?p"}),
           (c.limit_rank(5), "?k", "?p", ":>", "?ok", "?tp", "?rank"),
           sort=["?p", "?k"], reverse=True)
    df = qr.to_df(spark)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan
    rows = [tuple(r) for r in df.collect()]
    assert len(rows) == 5
    assert [r[2] for r in rows] == [1, 2, 3, 4, 5]
    prices = [r[1] for r in rows]
    assert prices == sorted(prices, reverse=True)


def test_limit_rank_single_window_pass(spark, sf_dir):
    """Per-group top-k compiles to one Window + filter, not a self-join."""
    df = entry_mod.top3_orders_per_customer(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("Window") >= 1
    assert "Join" not in plan


def test_minhash_pipeline_native(spark, sf_dir):
    """MinHash signatures are md5+integer Column exprs — no Python eval."""
    df = entry_mod.minhash_near_dup_candidates(spark, sf_dir)
    assert "EvalPython" not in _plan(df)


def test_cross_join_only_where_declared(spark, sf_dir):
    """The implicit-join planner must never emit a cartesian product for
    var-joined queries (only the explicit cross_join generator may)."""
    for name in ("revenue_per_nation", "local_supplier_volume",
                 "mutual_followers_events"):
        plan = _plan(entry_mod.queries()[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_hybrid_grouping_keeps_partial_agg(spark, sf_dir):
    """The native half of a hybrid (expr + Python) grouping must still do
    map-side partial aggregation; the Python half is one Arrow grouped-map;
    the two meet in a join — no cartesian, no extra Python stages."""
    plan = _plan(entry_mod.queries()["orders_bigticket_hybrid"](spark, sf_dir))
    assert "partial_count" in plan or "partial" in plan
    assert plan.count("FlatMapGroupsInPandas") == 1
    assert "CartesianProduct" not in plan


def test_explode_fast_no_inferred_size_filter(spark):
    """InferFiltersFromGenerate duplicates the generator's array expression
    into a pushed-down size() filter (measured 48x on the shingle pipeline
    — the whole token/shingle chain re-evaluated per element in interpreted
    form).  explode_fast (posexplode with outer=true + position filter)
    must keep the optimized plan free of any size(...)>0 refilter while
    preserving exact explode semantics incl. null ELEMENTS."""
    from pyspark.sql import functions as F

    from cascalog_spark.functions.util import explode_fast

    df = spark.createDataFrame([("a b c",), ("",)], ["text"])
    arr = F.filter(F.split(F.col("text"), " "), lambda x: x != F.lit(""))
    out = explode_fast(df, arr, "tok")
    optimized = out._jdf.queryExecution().optimizedPlan().toString()
    # the pathological shape is size(<full array expr>) > 0 pushed below
    # the Generate; assert no size() call survives anywhere in the plan
    assert "size(" not in optimized
    assert [r.tok for r in out.collect()] == ["a", "b", "c"]

    # null elements survive; empty arrays drop the row (explode parity)
    df2 = spark.createDataFrame([(1, ["x", None, "y"]), (2, []), (3, None)],
                                "id int, arr array<string>")
    rows = [(r.id, r.tok) for r in
            explode_fast(df2, F.col("arr"), "tok").collect()]
    assert rows == [(1, "x"), (1, None), (1, "y")]


def test_stratified_sample_stays_map_side(spark):
    """80%-skewed stratum: the sample is a pure filter — no Exchange may
    appear in the plan for either the scalar or the dict form."""
    from cascalog_spark.functions import stratified_sample

    rows = [(i, "hot" if i % 10 < 8 else f"cold{i % 10}") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    for fr in (0.25, {"hot": 0.1, "cold8": 0.9}):
        out = stratified_sample(df, fr, "source")
        assert "Exchange" not in _plan(out), f"shuffle in {fr!r} form"
    # broadcast mixture-table form may exchange ONLY for the broadcast
    w = spark.createDataFrame([("hot", 0.1)], "source string, fraction double")
    plan = _plan(stratified_sample(df, w, "source"))
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan


def test_pack_sequences_n_shards_bounds_hot_key(spark):
    """One part value holds 80% of docs: n_shards must split its window
    partition so no single window sees the whole hot key."""
    from collections import Counter

    from cascalog_spark.functions import pack_sequences

    n = 500
    rows = [(i, "hot" if i < int(n * 0.8) else "cold", "tok " * (i % 7 + 1))
            for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = pack_sequences(df, max_tokens=16, n_shards=8)
    got = out.collect()
    assert len(got) == n  # nothing dropped
    assert "shard" in out.columns
    per_window = Counter((r.source, r.shard) for r in got)
    hot_total = int(n * 0.8)
    assert len({s for (src, s) in per_window if src == "hot"}) == 8
    assert max(per_window.values()) < hot_total * 0.3, \
        "a single window partition still holds most of the hot key"
    # the physical window partition spec must include the shard column
    plan = _plan(out)
    assert "shard" in plan.split("Window")[1][:400]


def test_pack_sequences_plan_no_global_sort(spark):
    """Packing must never compile to a global (single-partition) sort."""
    from cascalog_spark.functions import pack_sequences

    df = spark.createDataFrame([(i, "s", "a b c") for i in range(50)],
                               "doc_id long, source string, text string")
    for kw in ({}, {"n_shards": 4}):
        plan = _plan(pack_sequences(df, max_tokens=8, **kw))
        assert "Exchange SinglePartition" not in plan
        assert "Sort [" in plan and "global=true" not in plan.lower()


def test_q3_pushed_filters_and_topk(spark, sf_dir):
    """Q3 shape: date/segment predicates reach the scans; global top-10 is
    TakeOrderedAndProject; nothing single-partition except the final take."""
    df = entry_mod.q3_shipping_priority(spark, sf_dir)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan
    assert plan.count("PushedFilters: [I") >= 2 or \
        plan.count("PushedFilters: [") >= 3  # cust seg + orders date + li date
    assert "BroadcastHashJoin" in plan  # AQE/CBO broadcasts the small side


def test_q10_broadcast_nation(spark, sf_dir):
    df = entry_mod.q10_returned_items(spark, sf_dir)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "l_returnflag" in plan.split("PushedFilters")[1] if \
        "PushedFilters" in plan else True


def test_minhash_bucketed_index_join_zero_index_exchange(spark, tmp_path):
    """The incremental-index scale contract (dedup.py minhash_index):
    the index written via BucketedTap bucketed on (band, bh) must join a
    daily batch WITHOUT shuffling the index — only the (small) batch side
    pays an Exchange.  Gate: the bucketed read shows up in the scan and
    the candidates plan carries exactly one fewer Exchange than the same
    plan over an unbucketed index; results are identical either way."""
    from cascalog_spark.functions.dedup import (
        minhash_index, minhash_lsh_candidates_incremental)
    from cascalog_spark.sources import BucketedTap

    rows = [(i, "the quick brown fox jumps over the lazy dog num "
             + str(i % 3)) for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    old = df.where("doc_id % 2 = 0")
    batch = df.where("doc_id % 2 = 1")
    idx = minhash_index(old, "doc_id", num_perm=8, bands=4)

    tap = BucketedTap(table="mh_idx_gate", path=str(tmp_path / "idx"),
                      bucket_by=["band", "bh"], n_buckets=4)
    tap.save_df(idx)
    plain_path = str(tmp_path / "idx_plain")
    idx.write.parquet(plain_path)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bucketed_pairs, _ = minhash_lsh_candidates_incremental(
            batch, tap.load_df(spark), "doc_id", num_perm=8, bands=4)
        plain_pairs, _ = minhash_lsh_candidates_incremental(
            batch, spark.read.parquet(plain_path), "doc_id",
            num_perm=8, bands=4)
        bplan = bucketed_pairs._jdf.queryExecution().executedPlan() \
                                   .toString()
        pplan = plain_pairs._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in bplan  # index read IS bucket-aware
        # bucketing removed the index-side shuffle and nothing else
        assert bplan.count("Exchange") == pplan.count("Exchange") - 1
        got_b = sorted((r.id_a, r.id_b) for r in bucketed_pairs.collect())
        got_p = sorted((r.id_a, r.id_b) for r in plain_pairs.collect())
        assert got_b == got_p and got_b  # same candidates, non-empty
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS mh_idx_gate")


def test_q8_broadcast_star(spark, sf_dir):
    """Q8's 7-generator join: every dim broadcasts around ONE fact-fact
    SortMergeJoin; the part-type filter reaches the scan."""
    df = entry_mod.q8_market_share(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 5
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ECONOMY" in plan  # p_type pushed to the part scan


def test_q19_disjunction_keeps_equi_join(spark, sf_dir):
    """Q19's OR-of-conjunctions must stay a RESIDUAL filter on an
    equi-join (partkey extracted), never degrade to a nested-loop."""
    df = entry_mod.q19_discounted_revenue(spark, sf_dir)
    plan = _plan(df)
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q22_scalar_subquery_one_row_bnlj_only(spark, sf_dir):
    """Q22's group-less scalar subquery joins via a single-row
    BroadcastNestedLoopJoin — the ONLY nested-loop in the plan; the
    anti-join and the customer scan stay hash-based."""
    df = entry_mod.q22_global_sales_opportunity(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "CartesianProduct" not in plan


def test_bucketed_fact_fact_join_zero_exchange(spark, sf_dir, tmp_path):
    """Co-located fact-fact join: lineitem and orders each written once via
    BucketedTap hashed+sorted on the join key, then equi-joined THROUGH THE
    DSL — the plan must be a SortMergeJoin with ZERO Exchange and both
    scans bucket-aware.  This is the recurring-fact-join pattern at 100 TB
    (pay the layout shuffle once at write, never again per query); the
    compiler's var-rename projections must stay alias-aware so the scan's
    HashPartitioning survives to the join (CoGroup-with-pre-partitioned-
    inputs analog, SURVEY §2.3 join-with-smaller family)."""
    from cascalog_spark import q
    from cascalog_spark.sources import BucketedTap

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet") \
        .select("l_orderkey", "l_quantity")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet") \
        .select("o_orderkey", "o_totalprice")
    t1 = BucketedTap(table="li_bkt_gate", path=str(tmp_path / "li"),
                     bucket_by=["l_orderkey"], n_buckets=8,
                     sinkmode="replace")
    t2 = BucketedTap(table="ord_bkt_gate", path=str(tmp_path / "ord"),
                     bucket_by=["o_orderkey"], n_buckets=8,
                     sinkmode="replace")
    t1.save_df(li)
    t2.save_df(orders)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = q(["?ok", "?qty", "?tp"],
                   (t1.load_df(spark), {"l_orderkey": "?ok",
                                        "l_quantity": "?qty"}),
                   (t2.load_df(spark), {"o_orderkey": "?ok",
                                        "o_totalprice": "?tp"}),
                   ).to_df(spark)
        n = joined.count()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert plan.count("Exchange") == 0  # neither fact shuffles
        assert plan.count("Bucketed: true") == 2  # both reads bucket-aware
        assert n == li.count()  # every lineitem finds its order
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS li_bkt_gate")
        spark.sql("DROP TABLE IF EXISTS ord_bkt_gate")


def test_exact_substring_index_bucketed_zero_exchange(spark, tmp_path):
    """exact_substring_index persisted via BucketedTap on gram joins a
    new batch WITHOUT shuffling the index (one fewer Exchange than the
    plain-parquet index, identical results) — the same zero-Exchange
    incremental contract gated for minhash_index."""
    from cascalog_spark.functions import (exact_substring_dedup_incremental,
                                          exact_substring_index)
    from cascalog_spark.sources import BucketedTap

    span = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [(i, f"{span} corpus doc {i} filler words")
            for i in range(0, 8, 2)] + \
           [(i, f"{span} batch doc {i} other filler")
            for i in range(1, 8, 2)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    idx = exact_substring_index(df.where("doc_id % 2 = 0"), k=8)
    batch = df.where("doc_id % 2 = 1")
    tap = BucketedTap(table="ess_idx_gate", path=str(tmp_path / "idx"),
                      bucket_by=["gram"], n_buckets=4, sinkmode="replace")
    tap.save_df(idx)
    plain = str(tmp_path / "idx_plain")
    idx.write.parquet(plain)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        b_clean, _ = exact_substring_dedup_incremental(
            batch, tap.load_df(spark), k=8)
        p_clean, _ = exact_substring_dedup_incremental(
            batch, spark.read.parquet(plain), k=8)
        bplan = b_clean._jdf.queryExecution().executedPlan().toString()
        pplan = p_clean._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in bplan
        assert bplan.count("Exchange") == pplan.count("Exchange") - 1
        got_b = sorted((r.doc_id, r.clean_text) for r in b_clean.collect())
        got_p = sorted((r.doc_id, r.clean_text) for r in p_clean.collect())
        assert got_b == got_p and got_b
        # the shared span is corpus-owned: every batch doc lost it
        assert all("alpha beta" not in t for _, t in got_b)
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS ess_idx_gate")


def test_prefix_assoc_plan_single_python_pass(spark, sf_dir):
    """prefix_assoc bufferiter: ONE MapInPandas (the persisted scan feeds
    both the finals agg and the stitch join via InMemoryTableScan), the
    carry-in comes back as a broadcast join, and nothing cartesian."""
    # other tests may leave persisted frames that add InMemoryRelations
    # to this plan's input side — the counts below assume a clean cache
    spark.catalog.clearCache()
    df = entry_mod.lineitem_flag_running_qty_par(spark, sf_dir)
    plan = _plan(df)
    # every MapInPandas occurrence is the cached subtree printed under an
    # InMemoryRelation — i.e. NO uncached Python pass exists; the toString
    # repeats the relation once per scan, so equality is the invariant
    assert plan.count("MapInPandas") == plan.count("InMemoryRelation")
    assert plan.count("InMemoryTableScan") == 2    # both consumers reuse it
    assert "BroadcastHashJoin" in plan             # carry-in join
    assert "CartesianProduct" not in plan
    cache = getattr(df, "_prefix_scan_cache", None)
    assert cache is not None
    cache.unpersist()


def test_scan_report_surface(spark, sf_dir):
    """scan_report: pushdown + column pruning + join/exchange counts as a
    dict — the pre-flight a pipeline author runs before a 100x scale-up."""
    from cascalog_spark.plans import scan_report

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    import pyspark.sql.functions as F
    df = (li.where(F.col("l_quantity") > 30)
          .select("l_orderkey", "l_quantity"))
    rep = scan_report(df)
    assert rep["scans"] and rep["scans"][0]["format"] == "parquet"
    assert rep["scans"][0]["n_columns"] == 2          # pruned to projection
    assert any("l_quantity" in f for f in
               rep["scans"][0]["pushed_filters"])     # predicate at the scan
    assert rep["cartesian"] is False
    assert rep["n_python"] == 0

    crossed = li.limit(1).crossJoin(li.limit(1).select(
        F.col("l_orderkey").alias("ok2")))
    assert scan_report(crossed)["cartesian"] is True


def test_cross_level_subquery_fanout_persists(spark, sf_dir):
    """A view reused at two NESTING LEVELS (TPC-H Q11/Q15 idiom: grouped
    subquery + a scalar aggregate OF that subquery) must compile once and
    persist — the plan shows InMemoryTableScan on both consumers instead
    of recomputing the whole upstream (a second full fact scan at 100 TB)."""
    df = entry_mod.q15_top_supplier(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("InMemoryTableScan") >= 2
    df11 = entry_mod.q11_important_stock(spark, sf_dir)
    assert _plan(df11).count("InMemoryTableScan") >= 2


def test_q9_broadcast_star_single_fact_shuffle(spark, sf_dir):
    """Adapted Q9: all four dims broadcast around the lineitem-orders
    fact join; the LIKE residual must not break the part broadcast."""
    df = entry_mod.q9_product_type_profit(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_q20_semi_join_chain_no_cartesian(spark, sf_dir):
    """Adapted Q20: the nested qualifying-supplier chain reaches the
    supplier scan as a LeftSemi join; no cartesian anywhere."""
    df = entry_mod.q20_part_promotion(spark, sf_dir)
    plan = _plan(df)
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_dsir_weights_broadcast_lr_no_python(spark, sf_dir):
    """DSIR scoring: the log-ratio table must come back as a broadcast
    hash join (never a shuffled join against the corpus-sized per-doc
    counts) and the whole pipeline stays JVM-native; the only
    nested-loop is the 1-row totals broadcast."""
    df = entry_mod.doc_dsir_weights(spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "Python" not in plan and "ArrowEval" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "CartesianProduct" not in plan


def test_url_dedup_single_shuffle_no_python(spark, sf_dir):
    """URL dedup is exact_dedup on a computed key: exactly one
    Exchange (the canonical-key groupBy, map-side combined), no joins,
    no Python."""
    df = entry_mod.doc_url_dedup(spark, sf_dir)
    plan = _plan(df)
    # exactly one hash shuffle (the canonical-key groupBy); the input
    # loader's round-robin repartition is not the operator's doing
    assert plan.count("Exchange hashpartitioning") == 1
    for j in ("HashJoin", "SortMergeJoin", "NestedLoopJoin",
              "CartesianProduct"):
        assert j not in plan
    assert "Python" not in plan


def test_frequent_items_recount_broadcasts_candidates(spark, sf_dir):
    """The heavy-hitter recount pass must broadcast the (<= 1/phi-row)
    candidate set — never sort-merge the data side — and its exact
    groupBy must partially aggregate map-side (HashAggregate below the
    Exchange, so the shuffle carries <= partitions/phi rows, not one row
    per heavy-token occurrence)."""
    from cascalog_spark.functions import frequent_items

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    out = frequent_items(li, "l_returnflag", 0.2)
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # partial_count below the final exchange = map-side combine
    assert "partial_count" in plan or "partial count" in plan


def test_balanced_shards_no_global_sort(spark, sf_dir):
    """The exact running total must run as per-bucket windows behind a
    HASH exchange on the bucket — never a rangepartitioning /
    single-partition global sort."""
    df = entry_mod.doc_balanced_shards(spark, sf_dir)
    plan = _plan(df)
    assert "Exchange hashpartitioning(__grt_b" in plan
    assert "rangepartitioning" not in plan
    assert "SinglePartition" not in plan
    assert "Python" not in plan


def test_incremental_rollup_delta_only_one_exchange(spark, sf_dir):
    """incremental_rollup must (a) never rescan history — only the
    checkpointed old aggregate and the delta appear in the plan — and
    (b) shuffle exactly once on the keys with map-side partial
    aggregation on both the delta and old-agg sides."""
    from pyspark.sql import functions as F

    from cascalog_spark.functions import (aggregate_rollup,
                                          incremental_rollup)

    spec = {"n": ("count",), "sv": ("sum", "value")}
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    keys = ["event_type"]
    old = aggregate_rollup(ev.where(F.col("ts") < "2024-01-25"),
                           keys, spec).localCheckpoint()
    out = incremental_rollup(old, ev.where(F.col("ts") >= "2024-01-25"),
                             keys, spec)
    plan = _plan(out)
    # one parquet scan (the delta); history rides in via the checkpoint
    assert plan.count("FileScan parquet") == 1
    # both Exchanges (delta agg + merge) carry AGGREGATE rows — bounded
    # by key cardinality x partitions, never data-sized — and each has
    # a map-side partial below it
    assert plan.count("Exchange hashpartitioning") <= 2
    assert plan.count("partial_") >= 2
    assert "EvalPython" not in plan


def test_rollup_join_merge_bucketed_zero_old_exchange(spark, sf_dir,
                                                      tmp_path):
    """incremental_rollup(via='join') against a BucketedTap-stored
    standing aggregate: the bucketed old side joins with ZERO Exchange
    and the delta aggregate's own groupBy partitioning is reused, so
    the whole fold plans exactly ONE Exchange (the delta's
    partial→final agg).  The union+groupBy spelling cannot do this —
    Union erases output partitioning — which is why via='join'
    exists."""
    from pyspark.sql import functions as F

    from cascalog_spark.functions import (aggregate_rollup,
                                          incremental_rollup)
    from cascalog_spark.sources import BucketedTap

    spec = {"n": ("count",), "sv": ("sum", "value")}
    keys = ["event_type"]
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    old = aggregate_rollup(ev.where(F.col("ts") < "2024-01-25"),
                           keys, spec)
    tap = BucketedTap(table="rollup_bkt_gate",
                      path=str(tmp_path / "agg"),
                      bucket_by=keys, n_buckets=8, sinkmode="replace")
    tap.save_df(old)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = incremental_rollup(
            tap.load_df(spark), ev.where(F.col("ts") >= "2024-01-25"),
            keys, spec, via="join")
        n = out.count()
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning") == 1
        assert "Bucketed: true" in plan  # old side read bucket-aware
        assert n == ev.select("event_type").distinct().count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS rollup_bkt_gate")

def test_ann_recall_report_plan_bounded(spark, sf_dir):
    """The tuning report may nested-loop ONLY against broadcast-bounded
    sides (the q-row query batch inside knn_join's ground truth and the
    |configs|-row spine) — never a data x data cartesian; candidate
    generation must be equi-joins (sig / cell), and the whole report is
    a single plan (all IVF probe settings share one cell join, so the
    cell-assignment expression appears once, not per config)."""
    df = entry_mod.queries()["embedding_ann_recall"](spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    # permissible nested loops, all broadcast-bounded: the config
    # spine, the knn_join query batch, and (r8) the 1-ROW scan_frac
    # denominator aggregate that rides the plan instead of a driver
    # .count() job
    assert plan.count("BroadcastNestedLoopJoin") <= 3
    # the IVF assignment argmax is one shared subtree, not one per probe
    # config: count the cell-assignment marker once in the final plan
    assert plan.count("FlatMapGroupsInPandas") == 0
    assert "EvalPython" not in plan  # fully native end to end


# -- cross-query filter pushdown below the fan-out persist -------------------
# (reference README.md:63-66 — its own declared unfinished priority: "push
# the union of downstream constants/filters below the shared persist point")

_PD_AGE = [("alice", 28), ("bob", 33), ("carol", 51), ("david", 25),
           ("emil", 25)]


def _pd_sub(spark):
    from cascalog_spark import q
    from cascalog_spark.sources.taps import MemoryTap
    return q(["?p", "?a"], (MemoryTap(["p", "a"], _PD_AGE), "?p", "?a"))


def _cached_relation(plan: str) -> str:
    return plan[plan.index("InMemoryRelation"):]


def test_multi_sink_pushdown_disjunction_below_persist(spark):
    """When EVERY sink filters the shared subquery, the persist point
    materializes only the union of the filtered rows: the cached relation
    carries the OR of the consumers' predicates — at 100 TB the cache
    holds the filtered slice, not the whole fan-out input."""
    from cascalog_spark import c, execute, q
    sub = _pd_sub(spark)
    q1 = q(["?p"], (sub, "?p", "?a"), (c.lt, "?a", 30))
    q2 = q(["?p"], (sub, "?p", "?a"), (c.gt, "?a", 40))
    got1, got2, plans = [], [], []

    def sink(acc):
        def s(df):
            plans.append(_optimized(df))
            acc.extend(tuple(r) for r in df.collect())
        return s

    execute(spark, (q1, sink(got1)), (q2, sink(got2)))
    assert sorted(got1) == [("alice",), ("david",), ("emil",)]
    assert sorted(got2) == [("carol",)]
    cached = _cached_relation(plans[0])
    assert " OR " in cached.splitlines()[1]  # the pushed disjunction
    assert "< 30" in cached and "> 40" in cached


def test_multi_sink_no_pushdown_when_a_consumer_is_unfiltered(spark):
    """One unfiltered sink → the cache must stay complete (pushing only
    SOME consumers' predicates would starve the unfiltered one)."""
    from cascalog_spark import c, execute, q
    sub = _pd_sub(spark)
    q1 = q(["?p"], (sub, "?p", "?a"), (c.lt, "?a", 30))
    q3 = q(["?p", "?b"], (sub, "?p", "?a"), (c.add, "?a", 1, ":>", "?b"))
    got1, got3, plans = [], [], []

    def sink(acc):
        def s(df):
            plans.append(_optimized(df))
            acc.extend(tuple(r) for r in df.collect())
        return s

    execute(spark, (q1, sink(got1)), (q3, sink(got3)))
    assert len(got3) == len(_PD_AGE)  # every row survived to the map sink
    assert " OR " not in _cached_relation(plans[1]).splitlines()[1]


def test_multi_sink_pushdown_skips_nondeterministic_sample(spark):
    """A rand()-based sample filter must NOT be pushed below the persist:
    re-evaluating it in the consumer would compound the sampling.  The
    deterministic sibling's predicate alone can't be pushed either (the
    sampled consumer counts as unfiltered), so the cache stays complete."""
    from cascalog_spark import c, execute, q
    sub = _pd_sub(spark)
    q1 = q(["?p"], (sub, "?p", "?a"), (c.lt, "?a", 30))
    q2 = q(["?p"], (sub, "?p", "?a"), (c.sample(0.5, 42),))
    got1, plans = [], []

    def sink(acc):
        def s(df):
            plans.append(_optimized(df))
            acc.extend(tuple(r) for r in df.collect())
        return s

    execute(spark, (q1, sink(got1)), (q2, sink([])))
    assert sorted(got1) == [("alice",), ("david",), ("emil",)]
    cached = _cached_relation(plans[0]).splitlines()[1]
    assert "rand(" not in cached and " OR " not in cached


def test_single_query_fanout_pushdown_const_filters(spark):
    """Fan-out WITHIN one query: a self-join of two constant-filtered
    views of the same subquery pushes the constants' disjunction below
    the shared persist (GeneratorNode const_filters, no explicit filter
    predicate needed)."""
    from cascalog_spark import q
    sub = _pd_sub(spark)
    outer = q(["?p1", "?p2"],
              (sub, "?p1", 25),
              (sub, "?p2", 33))
    df = outer.to_df(spark)
    rows = sorted(tuple(r) for r in df.collect())
    assert rows == [("david", "bob"), ("emil", "bob")]
    cached = _cached_relation(_optimized(df))
    line = cached.splitlines()[1]
    assert " OR " in line and "25" in line and "33" in line


def test_fanout_persist_prunes_unused_columns(spark):
    """Column pushdown below the fan-out persist: when every consumer
    binds only a subset of a shared subquery's output, the cache holds
    the UNION of bound columns — at 100 TB the persist materializes the
    2-column slice, not the wide row.  Positional bindings stay correct
    via the recorded pre-prune layout."""
    from cascalog_spark import c, execute, q
    from cascalog_spark.sources.taps import MemoryTap
    data = [("a", 1, "x", 10.0), ("b", 2, "y", 20.0), ("c", 3, "z", 30.0)]
    sub = q(["?p", "?n", "?s", "?v"],
            (MemoryTap(["p", "n", "s", "v"], data),
             "?p", "?n", "?s", "?v"))
    q1 = q(["?p"], (sub, "?p", "?n", "_", "_"), (c.lt, "?n", 3))
    q2 = q(["?p"], (sub, "?p", "?n", "_", "_"), (c.gt, "?n", 2))
    got1, got2, plans = [], [], []

    def sink(acc):
        def s(df):
            plans.append(_optimized(df))
            acc.extend(tuple(r) for r in df.collect())
        return s

    execute(spark, (q1, sink(got1)), (q2, sink(got2)))
    assert sorted(got1) == [("a",), ("b",)]
    assert sorted(got2) == [("c",)]
    header = _cached_relation(plans[0]).splitlines()[0]
    assert "p#" in header and "n#" in header
    assert "s#" not in header and "v#" not in header


def _interactive_queries(spark, sf_dir) -> dict:
    """One seeded ``q(...)`` per interactive benchmark template, over the
    test tables."""
    from perfbench import templates

    src = {n: entry_mod._t(spark, sf_dir, n)
           for n in ("customer", "orders", "lineitem", "part", "supplier")}
    return {name: templates.TEMPLATES[name](src, k)
            for name, k, _rep in next(templates.rounds(0))}


def test_var_guards_are_pushable_isnotnull(spark, sf_dir):
    """``?``-var guards compile to ``isnotnull`` conjuncts, which reach the
    scan as PushedFilters; ``na.drop`` compiled to ``atleastnnonnulls``,
    which cannot be pushed down and which Catalyst copied into join
    conditions."""
    queries = _interactive_queries(spark, sf_dir)
    for name, qy in queries.items():
        opt = _optimized(qy.to_df(spark))
        assert "atleastnnonnulls" not in opt, name
        assert "isnotnull(" in opt, name
    plan = _full_plan(queries["filter_range"].to_df(spark))
    scan = next(line for line in plan.splitlines()
                if "orders" in line and "PushedFilters" in line)
    assert "IsNotNull(o_orderkey)" in scan
    assert "IsNotNull(o_totalprice)" in scan


def test_to_df_round_trip_budget(spark, sf_dir, monkeypatch):
    """``to_df`` builds each planner node from SQL expression strings, not
    from per-``Column`` PySpark calls, each of which costs several py4j
    round trips for its call-site capture.  Built from Columns, the eight
    interactive templates took 161-510 round trips per ``to_df``; the
    budget is half the smallest.  Only this thread's commands count: py4j
    sends the detach messages of collected proxies from a finalizer
    thread."""
    import threading

    from py4j.clientserver import ClientServerConnection
    from py4j.java_gateway import GatewayConnection

    queries = _interactive_queries(spark, sf_dir)
    me, calls = threading.get_ident(), [0]
    for cls in (ClientServerConnection, GatewayConnection):
        def counting(self, command, _send=cls.send_command):
            calls[0] += threading.get_ident() == me
            return _send(self, command)
        monkeypatch.setattr(cls, "send_command", counting)
    for name, qy in queries.items():
        qy.to_df(spark)  # first use loads classes on the JVM side
        calls[0] = 0
        qy.to_df(spark)
        assert 0 < calls[0] <= 80, (name, calls[0])
