"""Streaming extension tier, checkpoint workflow, multigroup, stats,
dead-op pruning."""

import time

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cascalog_spark import c, q
from cascalog_spark.operators import multigroup
from cascalog_spark.plans import Workflow, counter, execute_with_stats
from cascalog_spark.streaming import (session_windows, stream_tap,
                                      stream_to_memory, tumbling_agg)


def test_streaming_tumbling_window(spark, tmp_path):
    src = str(tmp_path / "stream_src")
    rows = [(f"2024-01-01 00:0{m}:{s:02d}", "click", 1.0)
            for m in range(3) for s in (5, 35)]
    df = spark.createDataFrame(rows, ["ts_str", "etype", "v"]) \
        .withColumn("ts", F.to_timestamp("ts_str")).drop("ts_str")
    df.write.parquet(src)

    sdf = stream_tap(spark, "parquet", src, schema=df.schema)
    agg = tumbling_agg(sdf, "ts", "1 minute",
                       [F.count(F.lit(1)).alias("n")],
                       keys=["etype"], watermark="10 minutes")
    qy = stream_to_memory(agg, "tumb", output_mode="append")
    try:
        out = spark.sql("SELECT window.start, etype, n FROM tumb").collect()
        # append-mode memory sink only emits closed windows; availableNow
        # may emit none if watermark hasn't advanced — assert via complete run
    finally:
        qy.stop()
    agg2 = tumbling_agg(stream_tap(spark, "parquet", src, schema=df.schema),
                        "ts", "1 minute", [F.count(F.lit(1)).alias("n")],
                        keys=["etype"])
    qy2 = stream_to_memory(agg2, "tumb2", output_mode="complete")
    try:
        out = spark.sql("SELECT n FROM tumb2").collect()
        assert sorted(r.n for r in out) == [2, 2, 2]
    finally:
        qy2.stop()


def test_streaming_session_windows(spark, tmp_path):
    src = str(tmp_path / "sess_src")
    rows = [("2024-01-01 00:00:00", 1), ("2024-01-01 00:00:30", 1),
            ("2024-01-01 01:00:00", 1), ("2024-01-01 00:00:10", 2)]
    df = spark.createDataFrame(rows, ["ts_str", "uid"]) \
        .withColumn("ts", F.to_timestamp("ts_str")).drop("ts_str")
    df.write.parquet(src)
    sdf = stream_tap(spark, "parquet", src, schema=df.schema)
    sess = session_windows(sdf, "ts", "5 minutes", ["uid"])
    qy = stream_to_memory(sess, "sess", output_mode="complete")
    try:
        out = spark.sql("SELECT uid, n_events FROM sess").collect()
        got = sorted((r.uid, r.n_events) for r in out)
        assert got == [(1, 1), (1, 2), (2, 1)]
    finally:
        qy.stop()


def test_checkpoint_workflow_skips_done(tmp_path):
    marker = str(tmp_path / "markers")
    runs = []
    wf = Workflow(marker)
    wf.step("a", lambda: runs.append("a"))
    wf.step("b", lambda: runs.append("b"), deps="last")
    wf.step("c", lambda: (_ for _ in ()).throw(RuntimeError("boom")),
            deps="all")
    with pytest.raises(RuntimeError, match="step 'c' failed"):
        wf.run()
    assert runs == ["a", "b"]

    # restart: a,b skipped via markers; fixed c runs
    runs2 = []
    wf2 = Workflow(marker)
    wf2.step("a", lambda: runs2.append("a"))
    wf2.step("b", lambda: runs2.append("b"), deps="last")
    wf2.step("c", lambda: runs2.append("c"), deps="all")
    status = wf2.run()
    assert runs2 == ["c"]
    assert status == {"a": "skipped", "b": "skipped", "c": "done"}


def test_checkpoint_parallel_steps(tmp_path):
    marker = str(tmp_path / "m2")
    order = []
    wf = Workflow(marker)
    wf.step("s1", lambda: (time.sleep(0.3), order.append("s1")), deps=None)
    wf.step("s2", lambda: order.append("s2"), deps=None)
    wf.step("join", lambda: order.append("join"), deps=["s1", "s2"])
    wf.run(max_parallel=2)
    assert order[-1] == "join" and set(order) == {"s1", "s2", "join"}


def test_multigroup(spark):
    qa = q(["?k", "?v"], ([("a", 1), ("a", 2), ("b", 5)], "?k", "?v"))
    qb = q(["?k", "?w"], ([("a", 10), ("c", 7)], "?k", "?w"))

    def mb(key, lpdf, rpdf):
        return pd.DataFrame({
            "k": [key[0]],
            "lsum": [int(lpdf["v"].sum()) if len(lpdf) else 0],
            "rsum": [int(rpdf["w"].sum()) if len(rpdf) else 0]})

    out = multigroup(spark, qa, qb, ["k"], mb,
                     "k string, lsum bigint, rsum bigint")
    got = sorted(tuple(r) for r in out.collect())
    assert got == [("a", 3, 10), ("b", 5, 0), ("c", 0, 7)]


def test_stateful_running_counts(spark, tmp_path):
    """applyInPandasWithState custom stateful operator: per-key cumulative
    counts across micro-batches match the batch groupBy count."""
    from cascalog_spark.streaming import running_counts

    src = str(tmp_path / "stateful_src")
    rows = [(i % 4, float(i)) for i in range(40)]
    df = spark.createDataFrame(rows, ["user_id", "v"])
    df.write.parquet(src)

    sdf = stream_tap(spark, "parquet", src, schema="user_id long, v double")
    counts = running_counts(sdf, "user_id")
    qy = (counts.writeStream.format("memory").queryName("run_counts")
          .outputMode("update").trigger(availableNow=True).start())
    try:
        qy.awaitTermination(120)
        got = {r.user_id: r.n_total
               for r in spark.sql("SELECT * FROM run_counts").collect()}
        assert got == {0: 10, 1: 10, 2: 10, 3: 10}
    finally:
        qy.stop()


def test_stream_frequent_items_superset_and_exactify(spark, tmp_path):
    """Bucketed Misra-Gries stream sketch: (a) the final summary is a
    SUPERSET of the true >= phi*N heavy hitters across multiple
    micro-batches, (b) the batch recount over the candidates reproduces
    the exact batch frequent_items result, (c) mg_count underestimates
    by at most n_seen/k."""
    import math

    from pyspark.sql import functions as F

    from cascalog_spark.functions import frequent_items
    from cascalog_spark.streaming.stateful import stream_frequent_items

    src = str(tmp_path / "hh_src")
    # zipf-ish corpus split across 3 files = 3 micro-batches, with the
    # heavy values spread across all batches (the merge-reduction path)
    for part in range(3):
        vals = []
        for v in range(1, 40):
            vals += [f"w{v}"] * (600 // v)
        df = spark.createDataFrame([(x,) for x in vals], "w string")
        df.coalesce(1).write.mode("append").parquet(src)

    phi = 0.02
    sdf = (spark.readStream.schema("w string")
           .option("maxFilesPerTrigger", "1").parquet(src))
    summ = stream_frequent_items(sdf, "w", phi, n_buckets=8)
    qy = (summ.writeStream.format("memory").queryName("hh_stream")
          .outputMode("update").trigger(availableNow=True).start())
    try:
        qy.awaitTermination(180)
        from cascalog_spark.streaming import latest_bucket_summary

        final = latest_bucket_summary(spark.table("hh_stream"))
        cand = final.select("item", "mg_count", "n_seen").collect()
    finally:
        qy.stop()

    batch = spark.read.parquet(src)
    truth = {(r["item"], r["n"])
             for r in frequent_items(batch, "w", phi).collect()}
    cand_items = {r["item"] for r in cand}
    assert {t[0] for t in truth} <= cand_items          # (a) superset
    exact = {(r[0], r[1]) for r in
             batch.join(F.broadcast(
                 spark.createDataFrame([(i,) for i in cand_items],
                                       "w string")), on="w")
             .groupBy("w").count()
             .where(F.col("count") >= math.ceil(
                 phi * batch.count())).collect()}
    assert exact == truth                               # (b) exactify
    k = math.ceil(1 / phi) + 1
    true_counts = {r["w"]: r["count"] for r in
                   batch.groupBy("w").count().collect()}
    for r in cand:                                      # (c) error bound
        assert r["mg_count"] <= true_counts[r["item"]]
        assert true_counts[r["item"]] - r["mg_count"] <= r["n_seen"] / k


def test_stream_near_dedup_ingest_end_to_end(spark, tmp_path):
    """Continuous-ingest near-dedup: 3 micro-batches with within-batch
    and cross-batch duplicates — the streaming foreachBatch pipeline
    must (a) keep first-seen representatives only, (b) drop cross-batch
    copies via the standing index, (c) index exactly the survivors,
    (d) equal a batch-land replay of ingest_batch_near_dedup."""
    from pyspark.sql import functions as F

    from cascalog_spark.streaming import (ingest_batch_near_dedup,
                                          read_ingest_corpus,
                                          read_ingest_index,
                                          stream_near_dedup_ingest)

    t = {
        "a": "the quick brown fox jumps over the lazy dog today",
        "b": "pack my box with five dozen liquor jugs right now",
        "c": "how vexingly quick daft zebras jump around the park",
        "d": "sphinx of black quartz judge my vow said the king",
    }
    batches = [
        [(0, t["a"]), (1, t["b"]), (2, t["a"])],   # 2 dups 0 in-batch
        [(3, t["a"]), (4, t["c"])],                # 3 dups indexed 0
        [(5, t["b"]), (6, t["d"]), (7, t["c"])],   # 5,7 dup indexed
    ]
    src = str(tmp_path / "ingest_src")
    for i, rows in enumerate(batches):
        (spark.createDataFrame(rows, "doc_id long, text string")
         .coalesce(1).write.mode("append").parquet(src))

    out_dir = str(tmp_path / "ingest_out")
    idx_dir = str(tmp_path / "ingest_idx")
    sdf = (spark.readStream.schema("doc_id long, text string")
           .option("maxFilesPerTrigger", "1").parquet(src))
    qy = stream_near_dedup_ingest(
        sdf, out_dir, idx_dir, id_col="doc_id",
        checkpoint_dir=str(tmp_path / "ingest_ckpt"))
    try:
        assert qy.awaitTermination(240)
    finally:
        qy.stop()

    kept = {r["doc_id"]
            for r in read_ingest_corpus(spark, out_dir).collect()}
    assert kept == {0, 1, 4, 6}
    idx_ids = {r["doc_id"]
               for r in read_ingest_index(spark, idx_dir).collect()}
    assert idx_ids == kept                         # (c) survivors only

    # (d) batch-land replay equivalence — same per-batch contract
    index = None
    replay_kept = set()
    for rows in batches:
        b = spark.createDataFrame(rows, "doc_id long, text string")
        surv, new_rows = ingest_batch_near_dedup(b, index, "doc_id")
        replay_kept |= {r["doc_id"] for r in surv.collect()}
        index = (new_rows if index is None
                 else index.unionByName(new_rows))
    assert replay_kept == kept


def test_multigroup_n_three_way(spark):
    from cascalog_spark.operators import multigroup_n

    qa = q(["?k", "?v"], ([("a", 1), ("a", 2), ("b", 5)], "?k", "?v"))
    qb = q(["?k", "?w"], ([("a", 10), ("c", 7)], "?k", "?w"))
    qc = q(["?k", "?u"], ([("b", 100), ("c", 200), ("c", 300)], "?k", "?u"))

    def mb(key, apdf, bpdf, cpdf):
        return pd.DataFrame({
            "k": [key[0]],
            "total": [int(apdf["v"].sum() + bpdf["w"].sum()
                          + cpdf["u"].sum())],
            "branches": [sum(1 for p in (apdf, bpdf, cpdf) if len(p))]})

    out = multigroup_n(spark, [qa, qb, qc], ["k"], mb,
                       "k string, total bigint, branches bigint")
    got = sorted(tuple(r) for r in out.collect())
    assert got == [("a", 13, 2), ("b", 105, 2), ("c", 507, 2)]


def test_stats_and_counters(spark):
    errs = counter(spark, "evens")

    from cascalog_spark.ops import deffilterfn

    @deffilterfn
    def count_evens(n):
        if n % 2 == 0:
            errs.add(1)
        return True

    query = q(["?n"], ([(1,), (2,), (3,), (4,)], "?n"),
              (count_evens, "?n"))
    captured = {}
    stats = execute_with_stats(
        spark, query, lambda df: df.collect(), name="test-flow",
        stats_fn=lambda s: captured.update(s), counters={"evens": errs})
    assert stats["successful"] and captured["name"] == "test-flow"
    assert captured["counters"]["evens"] == 2


def test_write_stream_to_tap_update_partitions(spark, tmp_path):
    """Streaming upsert into a partitioned lake: each micro-batch
    overwrites exactly the day-partitions it carries (idempotent
    re-delivery), earlier days survive; replace/keep sinkmodes loudly
    rejected."""
    import pytest

    from cascalog_spark.sources import ParquetTap
    from cascalog_spark.streaming import (stage_file_batches,
                                          write_stream_to_tap)

    b0 = spark.createDataFrame([(1, "a"), (2, "b")], "day int, v string")
    b1 = spark.createDataFrame([(2, "B2"), (3, "c")], "day int, v string")
    src = stage_file_batches([b0, b1], path=str(tmp_path / "src"))
    raw = (spark.readStream.schema("day int, v string")
           .option("maxFilesPerTrigger", "1")
           .option("pathGlobFilter", "batch*.parquet").parquet(src))
    tap = ParquetTap(path=str(tmp_path / "lake"), partition_by=["day"],
                     sinkmode="update_partitions")
    sq = write_stream_to_tap(raw, tap,
                             checkpoint=str(tmp_path / "ckpt"),
                             query_name="to_tap_test")
    assert sq.awaitTermination(120)
    got = {(r.day, r.v) for r in spark.read.parquet(tap.path).collect()}
    # day 1 from batch 0 survives; day 2 was REWRITTEN by batch 1
    assert got == {(1, "a"), (2, "B2"), (3, "c")}
    with pytest.raises(ValueError, match="clobber"):
        write_stream_to_tap(raw, ParquetTap(path="x", sinkmode="replace"))


def test_observed_stats_native_metrics(spark):
    """observed_stats: metrics computed during the action itself — the
    native stats path for flows with no Python op to tick a counter."""
    import pytest
    from pyspark.sql import functions as F

    from cascalog_spark.plans import observed_stats

    df = spark.createDataFrame(
        [(1, "x"), (2, None), (3, "y"), (4, None)], "id long, v string")
    out, obs = observed_stats(
        df, name="gate",
        rows=F.count(F.lit(1)),
        null_v=F.count(F.when(F.col("v").isNull(), 1)),
        max_id=F.max("id"))
    assert out.count() == 4  # the action that materializes the metrics
    assert obs.get == {"rows": 4, "null_v": 2, "max_id": 4}
    with pytest.raises(ValueError, match="at least one metric"):
        observed_stats(df)


def test_dead_op_pruning():
    from cascalog_spark.ops import defmapfn
    from cascalog_spark.predicates import normalize_query
    from cascalog_spark.planner import prune_operations

    @defmapfn(returns="bigint")
    def expensive(n):
        raise AssertionError("should never be planned")

    nq = normalize_query(
        ["?n"],
        [([(1,), (2,)], "?n"),
         (expensive, "?n", ":>", "?unused")])
    assert len(prune_operations(nq)) == 0

    # consumed output is NOT pruned
    nq2 = normalize_query(
        ["?m"],
        [([(1,), (2,)], "?n"),
         (expensive, "?n", ":>", "?m")])
    assert len(prune_operations(nq2)) == 1


def test_parse_variables_selector_cases():
    """parse_test.clj:9-25 ported: selectors expand to unsugared
    input/output splits; an explicit selector overrides the default."""
    from cascalog_spark.predicates import _split_selector

    # explicit :> wins regardless of the op's default direction
    assert _split_selector(["?a", "?b", ":>", 4]) == (["?a", "?b"], [4])
    # no selector → everything lands on one side; the CALLER applies the
    # op default (map ops: trailing outputs; filters: all inputs)
    assert _split_selector(["?a", "?b"]) == (["?a", "?b"], [])
    # malformed selector combos are loud
    import pytest
    with pytest.raises(ValueError, match="duplicate"):
        _split_selector([":>", "?a", ":>", "?b"])
    with pytest.raises(ValueError, match="only one of"):
        _split_selector(["?a", ":>", "?b", ":>>", ["?c"]])


def test_prune_operations_reference_cases():
    """parse_test.clj:50-129 test-prune-operations ported verbatim: the
    seven keep/prune decisions over gen/minus/plus/count/even?/inc/sort."""
    from cascalog_spark.builtin import add, even, mult, sub
    from cascalog_spark.planner import prune_operations
    from cascalog_spark.predicates import normalize_query

    gen = [(1, 2), (3, 4)]

    def names(ops):
        return sorted(rp.op.name for rp in ops
                      if rp.kind in ("op", "filter"))

    # 1. prune plus (output unused in out-fields)
    nq = normalize_query(["?minus"], [
        (gen, "?a", "?b"),
        (sub, "?b", "?a", ":>", "?minus"),
        (add, "?b", "?a", ":>", "?plus")])
    assert names(prune_operations(nq)) == ["sub"]
    # 2. prune CHAINED dead ops (plus and inc-plus both go)
    nq = normalize_query(["?minus"], [
        (gen, "?a", "?b"),
        (sub, "?b", "?a", ":>", "?minus"),
        (add, "?b", "?a", ":>", "?plus"),
        (mult, "?plus", 2, ":>", "?inc_plus")])
    assert names(prune_operations(nq)) == ["sub"]
    # 3. do NOT prune when the outvar feeds another predicate (even?)
    nq = normalize_query(["?minus"], [
        (gen, "?a", "?b"),
        (sub, "?b", "?a", ":>", "?minus"),
        (add, "?b", "?a", ":>", "?plus"),
        (even, "?plus")])
    kept = prune_operations(nq)
    assert names(kept) == ["add", "even", "sub"]
    # 4. do NOT prune filter predicates themselves
    nq = normalize_query(["?plus"], [
        (gen, "?a", "?b"),
        (add, "?b", "?a", ":>", "?plus"),
        (even, "?plus")])
    assert names(prune_operations(nq)) == ["add", "even"]
    # 5. no-input predicate (count) disables pruning entirely
    from cascalog_spark import c
    nq = normalize_query(["?minus", "?count"], [
        (gen, "?a", "?b"),
        (sub, "?b", "?a", ":>", "?minus"),
        (add, "?b", "?a", ":>", "?plus"),
        (c.count, "?count")])
    assert names(prune_operations(nq)) == ["add", "sub"]
    # 6. outvar used in the :sort option survives
    nq = normalize_query(["?minus"], [
        (gen, "?a", "?b"),
        (sub, "?b", "?a", ":>", "?minus"),
        (add, "?b", "?a", ":>", "?plus")], options={"sort": ["?plus"]})
    assert names(prune_operations(nq)) == ["add", "sub"]
    # 7. outvar bound by ANOTHER generator (a join key) survives
    nq = normalize_query(["?minus", "!!alpha"], [
        (gen, "?a", "?b"),
        ([(3, "a"), (7, "b")], "?plus", "!!alpha"),
        (sub, "?b", "?a", ":>", "?minus"),
        (add, "?b", "?a", ":>", "?plus")])
    assert names(prune_operations(nq)) == ["add", "sub"]


def test_dead_op_pruned_end_to_end(spark):
    # the pruned UDF would throw if executed — proves it's not planned
    from cascalog_spark.ops import defmapfn

    @defmapfn(returns="bigint")
    def boom(n):
        raise RuntimeError("executed a dead op")

    query = q(["?n"],
              ([(1,), (2,)], "?n"),
              (boom, "?n", ":>", "?dead"))
    assert sorted(query.run(spark)) == [(1,), (2,)]


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Streaming exact dedup: duplicate keys within the watermark are
    dropped; state is watermark-bounded (dropDuplicatesWithinWatermark)."""
    import datetime as dt

    from cascalog_spark.streaming import stream_dedup

    src = str(tmp_path / "in")
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [("a", base), ("a", base + dt.timedelta(seconds=10)),
            ("b", base + dt.timedelta(seconds=20)),
            ("b", base + dt.timedelta(seconds=25)),
            ("c", base + dt.timedelta(seconds=30))]
    spark.createDataFrame(rows, "k string, ts timestamp") \
         .write.mode("overwrite").parquet(src)
    stream = stream_tap(spark, "parquet", src,
                        schema="k string, ts timestamp")
    deduped = stream_dedup(stream, ["k"], ts_col="ts", watermark="1 hour")
    stream_to_memory(deduped, "dedup_out")
    got = sorted(r["k"] for r in spark.sql("SELECT k FROM dedup_out").collect())
    assert got == ["a", "b", "c"]


def test_running_counts_string_key(spark, tmp_path):
    """Stateful running counts must derive the key column's type from the
    stream schema (not assume long)."""
    from cascalog_spark.streaming import running_counts

    src = str(tmp_path / "rc_in")
    spark.createDataFrame([("a",), ("a",), ("b",)], "user string") \
         .write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema("user string").parquet(src)
    sq = (running_counts(stream, "user").writeStream.format("memory")
          .queryName("rc_str_t").outputMode("update")
          .trigger(availableNow=True).start())
    sq.awaitTermination()
    rows = sorted(tuple(r) for r in spark.sql("SELECT * FROM rc_str_t").collect())
    assert rows == [("a", 2), ("b", 1)]


def test_workflow_dependency_cycle_raises(tmp_path):
    from cascalog_spark.plans import Workflow

    wf = Workflow(str(tmp_path))
    wf.step("a", lambda: None, deps=["b"])
    wf.step("b", lambda: None, deps=["a"])
    with pytest.raises(RuntimeError, match="never became runnable"):
        wf.run()


def test_multigroup_n_preserves_integer_dtypes(spark):
    """Branch columns padded by the union must come back as exact integers
    (nullable Int64), not float64."""
    import pandas as pd

    from cascalog_spark.operators.multigroup import multigroup_n

    left = spark.createDataFrame([(1, 10), (1, 20)], "k int, v int")
    right = spark.createDataFrame([(1, "x")], "k int, s string")

    def buf(key, f0, f1):
        return pd.DataFrame({"k": [key[0]], "total": [int(f0["v"].sum())],
                             "dt": [str(f0["v"].dtype)]})

    res = [tuple(r) for r in multigroup_n(
        spark, [left, right], ["k"], buf,
        "k int, total bigint, dt string").collect()]
    assert res == [(1, 30, "Int64")]


def test_execute_with_stats_multi_sink(spark):
    """Stats wrapper over the multi-sink flow form: one timed action set,
    both sinks written."""
    from cascalog_spark import q as Q, c

    data = [("a", 1), ("b", 2)]
    sub = Q(["?k", "?v"], (data, "?k", "?v"))
    got = {}
    seen = []
    stats = execute_with_stats(
        spark,
        [(Q(["?k"], (sub, "?k", "?v"), (c.gt, "?v", 1)),
          lambda df: got.setdefault("a", df.collect())),
         (Q(["?v"], (sub, "?k", "?v")),
          lambda df: got.setdefault("b", df.count()))],
        name="multi", stats_fn=seen.append)
    assert [tuple(r) for r in got["a"]] == [("b",)]
    assert got["b"] == 2
    assert stats["successful"] and seen[0]["name"] == "multi"


def test_streaming_trap_poison_record(spark, tmp_path):
    """:trap for streams: a poison record is diverted to the trap sink
    with its error; the query survives and clean rows reach the main sink."""
    from pyspark.sql import types as T

    from cascalog_spark.streaming import (stream_tap, trapped_stream_map,
                                          write_stream_trapped)

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, "10"), (2, "poison"), (3, "30"), (4, "40")],
        "id long, raw string").write.parquet(src)

    sdf = stream_tap(spark, "parquet", src, schema="id long, raw string")
    mapped = trapped_stream_map(
        sdf, lambda raw: int(raw) * 2, ["raw"], ["doubled"],
        [T.LongType()])

    good, bad = [], []
    qy = write_stream_trapped(
        mapped, lambda df: good.extend(df.collect()),
        lambda df: bad.extend(df.collect()),
        checkpoint=str(tmp_path / "ckpt"))
    qy.awaitTermination()
    assert qy.exception() is None, "poison record must not kill the stream"
    assert sorted((r.id, r.doubled) for r in good) == \
        [(1, 20), (3, 60), (4, 80)]
    assert [(r.id, r.raw) for r in bad] == [(2, "poison")]
    assert "ValueError" in bad[0]["__error"]
    # restart with same checkpoint: availableNow re-drain sees no new data
    good2 = []
    qy2 = write_stream_trapped(
        trapped_stream_map(stream_tap(spark, "parquet", src,
                                      schema="id long, raw string"),
                           lambda raw: int(raw) * 2, ["raw"], ["doubled"],
                           [T.LongType()]),
        lambda df: good2.extend(df.collect()), lambda df: None,
        checkpoint=str(tmp_path / "ckpt"))
    qy2.awaitTermination()
    assert good2 == [], "checkpoint must dedupe the drained batch"


def test_stream_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream interval join (native event-time range join with
    watermark state eviction) produces the same pairs as the batch
    inequality join."""
    from cascalog_spark.streaming import stream_interval_join, stream_tap

    csrc = str(tmp_path / "clicks")
    psrc = str(tmp_path / "purch")
    clicks = spark.createDataFrame(
        [(1, "u1", "2024-01-01 10:05:00"), (2, "u1", "2024-01-01 10:20:00"),
         (3, "u2", "2024-01-01 10:05:00"), (4, "u1", "2024-01-01 12:00:00")],
        ["click_id", "user_id", "ts_str"]) \
        .withColumn("cts", F.to_timestamp("ts_str")).drop("ts_str")
    purch = spark.createDataFrame(
        [(10, "u1", "2024-01-01 10:00:00"), (11, "u2", "2024-01-01 10:00:00")],
        ["purchase_id", "user_id", "ts_str"]) \
        .withColumn("pts", F.to_timestamp("ts_str")).drop("ts_str")
    clicks.write.parquet(csrc)
    purch.write.parquet(psrc)

    sj = stream_interval_join(
        stream_tap(spark, "parquet", csrc, schema=clicks.schema),
        stream_tap(spark, "parquet", psrc, schema=purch.schema),
        on="user_id", left_ts="cts", right_ts="pts",
        lower="10 minutes", upper="0 seconds",
        left_watermark="1 hour", right_watermark="1 hour") \
        .select("click_id", "purchase_id")
    qy = (sj.writeStream.format("memory").queryName("ivj")
          .outputMode("append").trigger(availableNow=True).start())
    try:
        qy.awaitTermination(120)
        got = {(r.click_id, r.purchase_id)
               for r in spark.sql("SELECT * FROM ivj").collect()}
    finally:
        qy.stop()
    # batch oracle: purchase within [click-10min, click]
    batch = {(r.click_id, r.purchase_id) for r in clicks.join(
        purch, (clicks.user_id == purch.user_id)
        & (purch.pts >= F.expr("cts - INTERVAL 10 minutes"))
        & (purch.pts <= F.col("cts"))).collect()}
    assert batch == {(1, 10), (3, 11)}
    assert got == batch


def test_streaming_pipeline_ops_batch_equivalence(spark, tmp_path):
    """The text pipeline ops are per-row Column expressions and a scalar
    Arrow UDF, so they compose with readStream unchanged: quality_score
    + lang_id over a stream must emit exactly the batch result."""
    from cascalog_spark.functions import lang_id, quality_score
    from cascalog_spark.streaming import stream_tap, stream_to_memory

    src = str(tmp_path / "docs_src")
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog."),
         (2, "der schnelle braune fuchs und so weiter und weiter"),
         (3, "!!!! ???? ....")], ["doc_id", "text"])
    docs.write.parquet(src)

    sdf = stream_tap(spark, "parquet", src, schema=docs.schema)
    scored = lang_id(quality_score(sdf))
    qy = stream_to_memory(scored.select("doc_id", "quality", "lang_pred"),
                          "doc_quality_stream", output_mode="append")
    try:
        got = sorted(tuple(r) for r in
                     spark.sql("SELECT * FROM doc_quality_stream").collect())
    finally:
        qy.stop()
    want = sorted(tuple(r) for r in
                  lang_id(quality_score(docs))
                  .select("doc_id", "quality", "lang_pred").collect())
    assert got == want and len(got) == 3


def test_stream_rollup_maintenance_equals_batch(spark, sf_dir, tmp_path):
    """Two micro-batches of rollup partials, merged at read and after
    compaction, must equal the one-shot batch GROUP BY exactly —
    including the HLL sketch estimates."""
    from pyspark.sql import functions as F

    from cascalog_spark.streaming import (compact_rollup, read_rollup,
                                          stream_rollup_maintenance)
    from cascalog_spark.streaming.stream import stage_file_batches

    spec = {"n": ("count",), "sv": ("sum", "value"),
            "users": ("hll", "user_id"), "vtd": ("tdigest", "value")}
    keys = ["event_type"]
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "event_type", "user_id", "value")
    src = stage_file_batches([ev.where(F.col("event_id") % 2 == 0),
                              ev.where(F.col("event_id") % 2 == 1)])
    raw = (spark.readStream.schema(ev.schema)
           .option("maxFilesPerTrigger", "1")
           .option("pathGlobFilter", "batch*.parquet").parquet(src))
    agg_dir = str(tmp_path / "agg")
    sq = stream_rollup_maintenance(
        raw, agg_dir, keys, spec,
        checkpoint_dir=str(tmp_path / "ckpt"),
        query_name="test_stream_rollup")
    assert sq.awaitTermination(300)

    from cascalog_spark.functions.stats import tdigest_quantile_col

    def canon(df, p50_tol=None):
        return {r["event_type"]: (r["n"], round(r["sv"], 6), r["du"])
                for r in df.select(
                    "event_type", "n", "sv",
                    F.hll_sketch_estimate("users").alias("du")).collect()}

    expected = canon(
        ev.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"), F.sum("value").alias("sv"),
            F.hll_sketch_agg("user_id").alias("users")))
    exact_p50 = dict(ev.groupBy("event_type")
                     .agg(F.expr("percentile(value, 0.5)")).collect())
    merged = read_rollup(spark, agg_dir, keys, spec)
    assert canon(merged) == expected
    # the t-digest sketch survives the parquet round-trip and the merge:
    # per-key median estimates stay within sketch tolerance of exact
    for r in merged.select("event_type",
                           tdigest_quantile_col(F.col("vtd"), 0.5)
                           .alias("p50")).collect():
        assert r["p50"] == pytest.approx(
            exact_p50[r["event_type"]], rel=0.05), r
    # two batch partials on disk before compaction, one after; the
    # merged result is unchanged
    import os
    n_parts = len([e for e in os.listdir(agg_dir)
                   if e.startswith("batch=")])
    assert n_parts == 2
    compact_rollup(spark, agg_dir, keys, spec)
    n_parts = len([e for e in os.listdir(agg_dir)
                   if e.startswith("batch=")])
    assert n_parts == 1
    assert canon(read_rollup(spark, agg_dir, keys, spec)) == expected
    # empty dir contract
    assert read_rollup(spark, str(tmp_path / "missing"), keys, spec) \
        is None


def test_stream_drift_monitor_matches_batch_psi(spark, sf_dir, tmp_path):
    """Per-batch PSI rows from the streaming monitor must equal
    psi_report computed batch-side with the same fixed bins."""
    from pyspark.sql import functions as F

    from cascalog_spark.functions import histogram, psi_report
    from cascalog_spark.streaming import stream_drift_monitor
    from cascalog_spark.streaming.stream import stage_file_batches

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "ts", "value")
    hist = ev.where(F.col("ts") < "2024-01-25")
    lo, hi, bins = 0.0, 400.0, 20
    ref = {r["bucket"]: r["n"]
           for r in histogram(hist, "value", bins, lo, hi).collect()}
    ref_counts = [int(ref.get(i, 0)) for i in range(bins)]
    delta = ev.where(F.col("ts") >= "2024-01-25").select("event_id",
                                                         "value")
    b0 = delta.where("event_id % 2 = 0")
    b1 = delta.where("event_id % 2 = 1")
    src = stage_file_batches([b0, b1])
    raw = (spark.readStream.schema(b0.schema)
           .option("maxFilesPerTrigger", "1")
           .option("pathGlobFilter", "batch*.parquet").parquet(src))
    sq = stream_drift_monitor(raw, "value", ref_counts, lo, hi,
                              str(tmp_path / "drift"),
                              checkpoint_dir=str(tmp_path / "ckpt"),
                              query_name="test_drift_monitor")
    assert sq.awaitTermination(300)
    got = spark.read.parquet(str(tmp_path / "drift"))
    for bid, batch in ((0, b0), (1, b1)):
        stream_psi = (got.where(F.col("batch") == bid)
                      .agg(F.sum("psi_term")).first()[0])
        batch_psi = (psi_report(hist, batch, "value", bins, lo, hi)
                     .agg(F.sum("psi_term")).first()[0])
        assert stream_psi == pytest.approx(batch_psi, abs=2e-5), bid
        assert got.where(F.col("batch") == bid).count() == bins
    with pytest.raises(ValueError, match="ref bin"):
        stream_drift_monitor(raw, "value", [], lo, hi, str(tmp_path))


def test_stream_expectation_gate_routes_batches(spark, sf_dir, tmp_path):
    """Passing batches land in out/, failing batches in quarantine/
    (whole-batch), and the per-batch reports match check_expectations
    run batch-side."""
    import os

    from pyspark.sql import functions as F

    from cascalog_spark.functions import check_expectations
    from cascalog_spark.streaming import stream_expectation_gate
    from cascalog_spark.streaming.stream import stage_file_batches

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "value")
    good = ev.where((F.col("value") > 0) & (F.col("value") <= 300))
    bad = ev.where(F.col("value") > 300)
    assert bad.count() > 0
    src = stage_file_batches([good, bad])
    raw = (spark.readStream.schema(good.schema)
           .option("maxFilesPerTrigger", "1")
           .option("pathGlobFilter", "batch*.parquet").parquet(src))
    rules = {"cap": "value <= 300", "pos": F.col("value") > 0}
    sq = stream_expectation_gate(
        raw, rules, out_dir=str(tmp_path / "out"),
        report_dir=str(tmp_path / "rep"),
        quarantine_dir=str(tmp_path / "bad"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        query_name="test_gate")
    assert sq.awaitTermination(300)
    # routing: batch 0 (good) in out/, batch 1 (bad) quarantined
    assert os.path.isdir(str(tmp_path / "out" / "batch=0"))
    assert not os.path.isdir(str(tmp_path / "out" / "batch=1"))
    assert os.path.isdir(str(tmp_path / "bad" / "batch=1"))
    assert (spark.read.parquet(str(tmp_path / "out")).count()
            == good.count())
    assert (spark.read.parquet(str(tmp_path / "bad")).count()
            == bad.count())
    # reports equal the batch-side spelling
    rep = spark.read.parquet(str(tmp_path / "rep"))
    got0 = {(r["rule"], r["n_rows"], r["n_fail"], r["passed"])
            for r in rep.where("batch = 0").collect()}
    want0 = {(r["rule"], r["n_rows"], r["n_fail"], r["passed"])
             for r in check_expectations(good, rules).collect()}
    assert got0 == want0
    with pytest.raises(ValueError, match="non-empty"):
        stream_expectation_gate(raw, {}, "x", "y")

def test_compact_rollup_crash_recovery(spark, sf_dir, tmp_path):
    """A compaction crash between the two directory renames leaves no
    agg_dir — read_rollup must refuse to read that as 'no batches yet'
    (silent empty aggregate), and re-running compact_rollup must
    auto-recover to the exact pre-crash merged result."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from cascalog_spark.functions.rollup import aggregate_rollup
    from cascalog_spark.streaming import compact_rollup, read_rollup

    spec = {"n": ("count",), "sv": ("sum", "value")}
    keys = ["event_type"]
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "event_type", "value")
    agg_dir = str(tmp_path / "agg")
    for bid, half in enumerate([ev.where("event_id % 2 = 0"),
                                ev.where("event_id % 2 = 1")]):
        (aggregate_rollup(half, keys, spec).write
         .mode("overwrite").parquet(f"{agg_dir}/batch={bid}"))

    def canon(df):
        return {r["event_type"]: (r["n"], round(r["sv"], 6))
                for r in df.collect()}

    expected = canon(ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("sv")))
    assert canon(read_rollup(spark, agg_dir, keys, spec)) == expected

    # simulate the crash window: merged tmp written, agg_dir moved
    # aside, process dies before tmp -> agg_dir
    tmp, old = agg_dir + ".compact.tmp", agg_dir + ".compact.old"
    (read_rollup(spark, agg_dir, keys, spec).write
     .mode("overwrite").parquet(f"{tmp}/batch=0"))
    os.rename(agg_dir, old)
    with pytest.raises(RuntimeError, match="compact_rollup crashed"):
        read_rollup(spark, agg_dir, keys, spec)
    compact_rollup(spark, agg_dir, keys, spec)  # auto-recovers
    assert os.path.isdir(agg_dir) and not os.path.isdir(old)
    assert not os.path.isdir(tmp)
    assert len([e for e in os.listdir(agg_dir)
                if e.startswith("batch=")]) == 1
    assert canon(read_rollup(spark, agg_dir, keys, spec)) == expected

    # crash AFTER the second rename (old left behind): stale old is
    # swept, the standing aggregate is untouched
    shutil.copytree(agg_dir, old)
    compact_rollup(spark, agg_dir, keys, spec)
    assert not os.path.isdir(old)
    assert canon(read_rollup(spark, agg_dir, keys, spec)) == expected


def test_stream_expectation_gate_reroute_idempotent(spark, sf_dir,
                                                    tmp_path):
    """Replaying a batch id after a rules change must MOVE the batch,
    not fork it: the copy under the previously-chosen destination is
    deleted, so readers unioning out/ and quarantine/ never
    double-count."""
    import os

    from pyspark.sql import functions as F

    from cascalog_spark.streaming import stream_expectation_gate
    from cascalog_spark.streaming.stream import stage_file_batches

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "value").where(F.col("value") > 0)
    src = stage_file_batches([ev])
    out, qdir, rep = (str(tmp_path / "out"), str(tmp_path / "bad"),
                      str(tmp_path / "rep"))

    def run(rules, ckpt):
        raw = (spark.readStream.schema(ev.schema)
               .option("maxFilesPerTrigger", "1")
               .option("pathGlobFilter", "batch*.parquet").parquet(src))
        sq = stream_expectation_gate(
            raw, rules, out_dir=out, report_dir=rep,
            quarantine_dir=qdir,
            checkpoint_dir=str(tmp_path / ckpt), query_name="regate")
        assert sq.awaitTermination(300)

    # strict rules: the batch fails -> quarantine
    run({"impossible": "value < 0"}, "ckpt1")
    assert os.path.isdir(f"{qdir}/batch=0")
    assert not os.path.isdir(f"{out}/batch=0")
    # rules relaxed, fresh checkpoint replays batch 0 -> out; the stale
    # quarantine copy must be gone
    run({"pos": "value > 0"}, "ckpt2")
    assert os.path.isdir(f"{out}/batch=0")
    assert not os.path.isdir(f"{qdir}/batch=0")
    assert (spark.read.parquet(out).count() == ev.count())

def test_compact_ingest_index_preserves_dedup(spark, sf_dir, tmp_path):
    """Folding the standing dedup index's batch partitions into one
    base must not change a single keep/drop decision on the next batch,
    and the crash windows recover exactly like compact_rollup's."""
    import os

    from pyspark.sql import functions as F

    from cascalog_spark.streaming import (compact_ingest_index,
                                          ingest_batch_near_dedup,
                                          read_ingest_index)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text")
    b0 = docs.where("doc_id % 3 = 0")
    b1 = docs.where("doc_id % 3 = 1")
    b2 = docs.where("doc_id % 3 = 2")
    idx_dir = str(tmp_path / "idx")
    index = None
    for bid, batch in enumerate([b0, b1]):
        _surv, new_rows = ingest_batch_near_dedup(batch, index, "doc_id")
        new_rows.write.mode("overwrite").parquet(f"{idx_dir}/batch={bid}")
        index = read_ingest_index(spark, idx_dir)

    def canon(df):
        return {tuple(r) for r in df.collect()}

    before_rows = canon(read_ingest_index(spark, idx_dir))
    surv_before = canon(
        ingest_batch_near_dedup(b2, read_ingest_index(spark, idx_dir),
                                "doc_id")[0].select("doc_id"))
    compact_ingest_index(spark, idx_dir)
    parts = [e for e in os.listdir(idx_dir) if e.startswith("batch=")]
    assert parts == ["batch=0"]
    assert canon(read_ingest_index(spark, idx_dir)) == before_rows
    surv_after = canon(
        ingest_batch_near_dedup(b2, read_ingest_index(spark, idx_dir),
                                "doc_id")[0].select("doc_id"))
    assert surv_after == surv_before
    # crash window: merged tmp written, index_dir moved aside
    (read_ingest_index(spark, idx_dir).write.mode("overwrite")
     .parquet(f"{idx_dir}.compact.tmp/batch=0"))
    os.rename(idx_dir, idx_dir + ".compact.old")
    with pytest.raises(RuntimeError, match="compact_ingest_index"):
        read_ingest_index(spark, idx_dir)
    compact_ingest_index(spark, idx_dir)   # auto-recovers
    assert canon(read_ingest_index(spark, idx_dir)) == before_rows
    assert not os.path.isdir(idx_dir + ".compact.old")
    # empty-dir contract unchanged
    assert read_ingest_index(spark, str(tmp_path / "none")) is None

def test_stream_semantic_dedup_ingest_matches_batch_replay(
        spark, sf_dir, tmp_path):
    """The streaming SemDeDup ingest must keep EXACTLY the ids the
    batch-side two-step replay keeps (reps-win then greedy-min-id,
    fixed cells), and compacting the representative set must not change
    a single decision on a third batch."""
    import os

    from pyspark.sql import functions as F

    from cascalog_spark.functions import semantic_dedup_incremental
    from cascalog_spark.functions.similarity import ivf_centroids
    from cascalog_spark.streaming import (compact_semantic_reps,
                                          read_ingest_corpus,
                                          read_semantic_reps,
                                          stream_semantic_dedup_ingest)
    from cascalog_spark.streaming.stream import stage_file_batches

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = ivf_centroids(emb, n_centroids=16)
    b0 = emb.where("vec_id % 2 = 0")
    b1 = emb.where("vec_id % 2 = 1")
    src = stage_file_batches([b0, b1])
    raw = (spark.readStream.schema(b0.schema)
           .option("maxFilesPerTrigger", "1")
           .option("pathGlobFilter", "batch*.parquet").parquet(src))
    out, reps_dir = str(tmp_path / "out"), str(tmp_path / "reps")
    sq = stream_semantic_dedup_ingest(
        raw, out, reps_dir, id_col="vec_id", threshold=0.35,
        centroids=cents, checkpoint_dir=str(tmp_path / "ckpt"),
        query_name="test_sem_ingest")
    assert sq.awaitTermination(300)

    k0, r0 = semantic_dedup_incremental(b0, None, "vec_id",
                                        threshold=0.35, centroids=cents)
    k1, _ = semantic_dedup_incremental(b1, r0, "vec_id",
                                       threshold=0.35, centroids=cents)
    want = {r["vec_id"] for r in k0.select("vec_id").collect()} \
        | {r["vec_id"] for r in k1.select("vec_id").collect()}
    got = {r["vec_id"]
           for r in read_ingest_corpus(spark, out).collect()}
    assert got == want
    # reps = survivors exactly
    assert {r["vec_id"] for r in
            read_semantic_reps(spark, reps_dir).collect()} == want

    # compaction: one base partition, zero decision drift on batch 3
    b2 = emb.select((F.col("vec_id") + 1_000_000).alias("vec_id"),
                    "embedding")
    reps = read_semantic_reps(spark, reps_dir)
    before = {r["vec_id"] for r in semantic_dedup_incremental(
        b2, reps, "vec_id", threshold=0.35,
        centroids=cents)[0].select("vec_id").collect()}
    compact_semantic_reps(spark, reps_dir)
    assert [e for e in os.listdir(reps_dir)
            if e.startswith("batch=")] == ["batch=0"]
    reps = read_semantic_reps(spark, reps_dir)
    after = {r["vec_id"] for r in semantic_dedup_incremental(
        b2, reps, "vec_id", threshold=0.35,
        centroids=cents)[0].select("vec_id").collect()}
    assert after == before


def test_stream_novelty_ingest_matches_batch_replay(spark, tmp_path):
    """Streaming novelty ingest == folding ngram_novelty_incremental
    over the same batches; the index holds each batch's NEW shingles
    only (no duplicates across partitions)."""
    from pyspark.sql import functions as F

    from cascalog_spark.functions import (ngram_novelty_incremental,
                                          novelty_index)
    from cascalog_spark.streaming import (read_ingest_corpus,
                                          read_ingest_index,
                                          stream_novelty_ingest)

    t = {
        "a": "the quick brown fox jumps over the lazy dog today",
        "b": "pack my box with five dozen liquor jugs right now",
        "c": "how vexingly quick daft zebras jump around the park",
    }
    batches = [
        [(0, t["a"]), (1, t["b"])],
        [(2, t["a"]), (3, t["c"])],   # 2 is a pure re-crawl
    ]
    src = str(tmp_path / "nov_src")
    for rows in batches:
        (spark.createDataFrame(rows, "doc_id long, text string")
         .coalesce(1).write.mode("append").parquet(src))

    out_dir = str(tmp_path / "nov_out")
    idx_dir = str(tmp_path / "nov_idx")
    sdf = (spark.readStream.schema("doc_id long, text string")
           .option("maxFilesPerTrigger", "1").parquet(src))
    qy = stream_novelty_ingest(sdf, out_dir, idx_dir, id_col="doc_id",
                               checkpoint_dir=str(tmp_path / "nov_ckpt"))
    try:
        assert qy.awaitTermination(240)
    finally:
        qy.stop()

    got = {r["doc_id"]: (r["n_shingles"], r["n_novel"], r["novelty"])
           for r in read_ingest_corpus(spark, out_dir).collect()}
    assert got[2] == (got[0][0], 0, 0.0)           # re-crawl scores 0

    # batch-land replay equivalence
    index, want = None, {}
    for rows in batches:
        b = spark.createDataFrame(rows, "doc_id long, text string")
        scored, index = ngram_novelty_incremental(b, index)
        index = index.localCheckpoint()
        for r in scored.collect():
            want[r["doc_id"]] = (r["n_shingles"], r["n_novel"],
                                 r["novelty"])
    assert got == want

    # index partitions hold disjoint new shingles; union == full set
    idx = read_ingest_index(spark, idx_dir)
    full = spark.createDataFrame(
        [x for rows in batches for x in rows], "doc_id long, text string")
    assert idx.count() == idx.distinct().count() \
        == novelty_index(full).count()
