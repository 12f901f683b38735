"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced to full materialization via the noop sink (no driver
collect of results; the two ANN queries do fetch their query vector via a
driver round-trip first — that lookup is part of the operation, no disk
write) so the measured time is the real plan execution.

ISOLATION (default since r6): each entry runs in its OWN driver JVM
(a subprocess re-invoking this script with --entry), warmed and timed
alone.  Two whole r5 verdict sections went to explaining why in-suite
numbers drifted from isolated ones — driver-JVM aging (ContextCleaner
frees shuffle state only on GC), cross-entry storage contention, and
cache interleaving; per-entry JVMs remove the entire mechanism class
instead of footnoting it.  ``--in-suite`` restores the shared-JVM
sweep (faster; useful while iterating on one entry's plan).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# headline set: the engine's relational path + every pipeline operator family
BENCH_QUERIES = [
    "q1_pricing_summary",
    "revenue_per_nation",
    "local_supplier_volume",
    "top3_orders_per_customer",
    "customer_order_counts",
    "customers_without_orders",
    "events_by_type",
    "wordcount_docs",
    "doc_token_counts",
    "doc_quality",
    "doc_lang_id",
    "doc_fingerprints",
    "exact_dedup_docs",
    "minhash_near_dup_candidates",
    "simhash_doc_hashes",
    "embedding_topk",
    "region_priority_rollup",
    "embedding_cosine_near_dup",
    "embedding_ivf_topk",
    # megagroup streaming-iterator buffer: ~3 groups x ~200k rows at sf0.1,
    # state carried across Arrow batches (defbufferiterfn path)
    "lineitem_flag_running_qty",
    # same scan through the prefix_assoc two-pass parallel prefix
    # compilation (r5): parallelism #groups x blocks instead of #groups
    "lineitem_flag_running_qty_par",
    # round-3 extension entries (no recorded-baseline counterpart — see
    # BASELINE.md round-3 notes): corpus TF-IDF, SemDeDup, interval join
    "doc_tfidf_terms",
    "embedding_semantic_dedup",
    "events_click_in_purchase_window",
    # round-5 entries: interval x interval overlap, duplicated-span dedup
    "events_session_overlap",
    "doc_exact_substring_dedup",
    # round-5 TPC-H pack representatives: 7-generator broadcast-star join
    # with post-agg share ratio; EXISTS/NOT-EXISTS aggregate rewrite
    # (3 lineitem branches)
    "q8_market_share",
    "q21_suppliers_kept_waiting",
    # round-5 third-wave entries: adapted Q9 LIKE-residual star; histogram
    # token-budget cut; distributed Gram (mapInPandas BLAS partials +
    # position-reduce)
    "q9_product_type_profit",
    "doc_budget_selection",
    "embedding_gram",
    # round-5 eighth-wave entry: DSIR importance scoring (two feature
    # explodes, bucket-capped aggregates, broadcast log-ratio join)
    "doc_dsir_weights",
    # round-5 ninth-wave entry: exact two-pass heavy hitters (candidate
    # pass shuffles <= batches/phi rows, broadcast recount)
    "doc_frequent_terms",
    # round-5 tenth/eleventh-wave entries: incremental rollup fold
    # (delta + standing agg only), native clustering profile, one-pass
    # exact table profile (Expand over 5 columns)
    "events_rollup_incremental",
    "embedding_cluster_profile",
    "orders_profile",
    # round-6 entry: ANN tuning report (exact knn_join ground truth +
    # LSH/IVF candidate joins + per-config recall aggregates)
    "embedding_ann_recall",
    # round-6 session-2 entry: product quantization — deterministic
    # codebook fetch + HOF encode expression + ADC literal-lookup top-k
    "embedding_pq_adc",
    # round-6 session-2 entries: Kneser-Ney bigram NLL (four count
    # rollups of one persisted (id,t1,t2,tf) aggregate); PageRank over
    # the minhash near-dup graph (2 superstep-materialized iterations)
    "doc_kn_bigram_nll",
    "doc_pagerank",
    # round-7 entries: weighted PageRank over the jaccard-sim graph;
    # IVF-PQ composite ANN (deterministic fit + residual encode + ADC
    # probe — the billion-scale index layout, measured end-to-end)
    "doc_pagerank_weighted",
    "embedding_ivfpq_topk",
    # round-7 session-2 entries: behavioral funnel (k chained window
    # minimums, one user exchange); first-seen shingle novelty (shingle
    # groupBy + key-reusing join); IVF-PQ batch retrieval (query-side
    # LUTs + cell equi-join over compressed codes)
    "events_funnel",
    "doc_ngram_novelty",
    "embedding_ivfpq_knn",
    # round-7 session-2: greedy farthest-point diversity sample (k
    # corpus scans, no shuffle) + argmax-cosine coverage assignment
    "embedding_kcenter_assign",
    # round-8: two-stage IVF-PQ retrieval (ADC shortlist -> exact
    # rescore of k*r rows per query) in the tuning report; the
    # vector-space drift gate (mean cosine/L2 + norm/cell PSI)
    "embedding_ivfpq_rerank",
    "embedding_drift",
    # r9: the streaming-ingest hot paths priced at last — each entry is
    # a full foreachBatch pipeline (stage 2 micro-batches -> drain ->
    # read standing state): near-dedup ingest and rollup maintenance
    # + compaction
    "doc_stream_dedup_ingest",
    "events_stream_rollup",
    # r9: the keyed-merge tap path (bootstrap + broadcast upsert +
    # crash-safe swap + read-back)
    "orders_merge_upsert",
    # r10: the PRUNED merge path (hive-partitioned bootstrap + a
    # single-partition update batch read/rewritten via dynamic
    # partition overwrite — the O(touched partitions) lever)
    "orders_merge_partitioned",
]


def _session():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder
        .master(f"local[{CPUS}]")
        .appName("cascalog_spark_bench")
        .config("spark.sql.shuffle.partitions", CPUS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE partition coalescing stays at Spark's default
        # parallelismFirst=TRUE for the bench: the flag only changes
        # behavior when shuffle bytes < advisory x cores — exactly the
        # local/small-shuffle regime, where byte-sizing collapses
        # CPU-heavy post-shuffle stages onto 1-2 tasks (measured r10:
        # embedding_ivf_topk 1.74s -> 3.28s with false, A/B'd).  At
        # 100 TB post-shuffle partitions are byte-bound regardless of
        # the flag, so 'false' buys nothing there either; production
        # byte-sizing is the advisory size, already scale-adaptive.
        # 'true' also keeps BENCH_r10 comparable with every recorded
        # baseline (all taken under the Spark default) and keeps the
        # driver's lower-core-count scaling runs meaningful (with
        # 'false' a small shuffle schedules the same 1-2 tasks at any
        # core count, flattening the scaling curve).  Env knob to
        # compare the byte-sized arm.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
                os.environ.get("SPARK_GRAFT_AQE_PARALLELISM_FIRST",
                               "true"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _run_once(spark, qs, name):
    """Build + materialize ONE entry; returns seconds for the
    build+action only.  The teardown below (cache release, clearCache,
    System.gc) is hygiene BETWEEN passes that keeps entries/passes
    independent — it is not part of the query's work, so r10 moved it
    OUTSIDE the timed window (guide §1.4: time the computation, not
    the teardown; the GC alone was 0.1-0.2s of wall charged to every
    pass of every entry).  Old-methodology numbers are preserved in
    BASELINE.md / BENCH_r09; the hygiene itself is unchanged, so every
    timed pass still computes from the parquet inputs with nothing
    cached across passes."""
    t0 = time.perf_counter()
    df = qs[name](spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    elapsed = round(time.perf_counter() - t0, 3)
    # release every advertised cache handle, then clear whatever a
    # query persisted without a handle: entries are independent, so
    # any frame still cached after the action is a cross-query
    # storage leak (see BASELINE.md round-5 bench-hygiene note)
    for handle in ("_cosine_sig_cache", "_tfidf_cache",
                   "_pagerank_cache"):
        cache = getattr(df, handle, None)
        if cache is None:
            continue
        for c in (cache if isinstance(cache, list) else [cache]):
            c.unpersist()
    spark.catalog.clearCache()
    # ContextCleaner only deletes dead shuffle files/broadcasts when
    # the DRIVER JVM garbage-collects; one explicit GC per entry keeps
    # even the in-suite JVM young.
    spark.sparkContext._jvm.System.gc()
    return elapsed


def _arg(flag: str, default: int) -> int:
    if flag in sys.argv:
        return int(sys.argv[sys.argv.index(flag) + 1])
    return default


def _bench_entry(name: str, n_pass: int, n_warm: int) -> float:
    """Warm + time ONE entry in this JVM; returns min-of-n seconds."""
    import __spark_entry__ as entry_mod

    spark = _session()
    qs = entry_mod.queries()
    # untimed warmup passes: JVM JIT / whole-stage-codegen compile /
    # Arrow spin-up are per-plan-shape costs and take 2-3 executions to
    # reach steady state (measured: q1 1.33s cold -> 0.47s by pass 3)
    for _ in range(n_warm):
        _run_once(spark, qs, name)
    best = None
    for _ in range(n_pass):
        el = _run_once(spark, qs, name)
        best = el if best is None else min(best, el)
    spark.stop()
    return best


def _sf_value():
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        return float(sf)
    except ValueError:
        return sf


def main() -> None:
    # min of N warm passes per query (default 2, --repeat N for more):
    # the host is multi-tenant and load spikes dominate single-shot wall
    # clock; min-of-n is the standard noise-robust estimator for short
    # benchmarks
    n_pass = _arg("--repeat", 2)
    n_warm = _arg("--warmup", 2)

    if "--entry" in sys.argv:  # child mode: one entry, this JVM
        name = sys.argv[sys.argv.index("--entry") + 1]
        sec = _bench_entry(name, n_pass, n_warm)
        print(json.dumps({"name": name, "sec": sec}))
        return

    timings: dict[str, float] = {}
    if "--in-suite" in sys.argv:  # legacy shared-JVM sweep
        import __spark_entry__ as entry_mod

        spark = _session()
        qs = entry_mod.queries()
        for _ in range(max(n_warm, 1)):  # full-suite warmup pass(es)
            for name in BENCH_QUERIES:
                _run_once(spark, qs, name)
        for _pass in range(n_pass):
            for name in BENCH_QUERIES:
                el = _run_once(spark, qs, name)
                timings[name] = min(timings.get(name, el), el)
        spark.stop()
    else:  # isolated mode (default): one fresh driver JVM per entry
        here = os.path.abspath(__file__)
        # untimed SETTLE loop before the first timed entry: the
        # per-JVM warmups cover JIT/codegen, but the suite's first child
        # additionally pays one-time host costs (parquet pages entering
        # the OS cache, .pyc compilation, JVM artifact reads) AND the
        # bench often starts while the host is still draining the
        # previous driver phase — r6 and r8 both graded q1 "weak" at
        # >2x purely because it ran first (its own isolated re-runs
        # read 0.8-0.95s).  One discarded priming child was not enough
        # in r8, so prime repeatedly until the first entry's wall clock
        # stops improving (consecutive runs within 20%), max 5 children
        # ~= 1 extra minute.  All settle results are discarded.
        prev = None
        for _ in range(5):
            p = subprocess.run(
                [sys.executable, here, "--entry", BENCH_QUERIES[0],
                 "--repeat", "1", "--warmup", "1"],
                capture_output=True, text=True)
            try:
                line = (p.stdout.strip().splitlines() or ["{}"])[-1]
                sec = float(json.loads(line)["sec"])
            except (ValueError, KeyError, json.JSONDecodeError):
                break  # child failed; the timed loop will report it
            if prev is not None and sec >= prev * 0.8:
                break  # quiet: no longer improving run-over-run
            prev = sec
        for name in BENCH_QUERIES:
            proc = subprocess.run(
                [sys.executable, here, "--entry", name,
                 "--repeat", str(n_pass), "--warmup", str(n_warm)],
                capture_output=True, text=True)
            line = (proc.stdout.strip().splitlines() or [""])[-1]
            try:
                timings[name] = float(json.loads(line)["sec"])
            except (ValueError, KeyError, json.JSONDecodeError):
                print(f"bench: entry {name} failed:\n{proc.stderr[-2000:]}",
                      file=sys.stderr)
                raise SystemExit(1)

    print(json.dumps({
        "metric": "headline_queries_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": _sf_value(),
        # timed-window version stamp (r11, verdict item 8): lets the
        # driver's prev/now comparison detect methodology drift.  v2 =
        # the r10 window (build + noop action timed; between-pass
        # hygiene excluded).  BENCH_r09 and older were taken under v1
        # (hygiene inside the window, ~+0.15-0.2s/entry).
        "methodology": "isolated-child-minofn-noop-v2",
    }))


if __name__ == "__main__":
    main()
