"""Scaling smoke for the round-5 operators — gated (exits nonzero on a
blown ratio):

1. prefix_assoc parallel prefix scan at 8x rows: wall ratio must stay
   well under 8 on fixed cores (the whole point is parallelism beyond
   #groups), AND the parallel path must beat the exact streaming path
   at 8x.
2. star-contraction connected components on PATH graphs (the
   adversarial chain topology): rounds must grow ~log n, not ~n —
   gate: rounds(8192-path) <= rounds(512-path) + 6 (log2 gap is 4).

Same protocol as the r3/r4 smokes: replicate sf0.1 8x with disjoint id
spaces, min-of-2 wall times, local[32].

Run: python tools/scaling_smoke_r5.py
"""
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import SparkSession, functions as F

SF = "/root/testdata/sf0.1"

spark = (SparkSession.builder.master("local[32]")
         .config("spark.sql.shuffle.partitions", "32")
         .config("spark.driver.memory", "48g")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

failures = []


def timeit(fn, n=2):
    """Best wall time of ``fn()``'s frame written to a noop sink.  When
    ``fn`` returns a query, its compile is timed too, and the query's
    persists are released after the write."""
    best = 1e9
    for _ in range(n):
        t0 = time.perf_counter()
        out = fn()
        df = out.to_df(spark) if isinstance(out, Query) else out
        df.write.format("noop").mode("overwrite").save()
        if isinstance(out, Query):
            out.unpersist()
        best = min(best, time.perf_counter() - t0)
    return round(best, 2)


# -- 1. prefix_assoc at 8x --------------------------------------------------
from cascalog_spark import Query, q  # noqa: E402
from cascalog_spark.ops import defbufferiterfn  # noqa: E402

li1 = spark.read.parquet(f"{SF}/lineitem.parquet") \
    .select("l_returnflag", "l_orderkey", "l_linenumber", "l_quantity") \
    .repartition(32).persist()
k = spark.range(8).select(F.col("id").alias("__k"))
li8 = (li1.crossJoin(F.broadcast(k))
       .withColumn("l_orderkey",
                   F.col("l_orderkey") + F.col("__k") * 10_000_000)
       .drop("__k").repartition(64).persist())
li1.count(), li8.count()


def mk(prefix):
    @defbufferiterfn(returns=["bigint", "bigint", "bigint"], n_out=3,
                     name="run-qty", prefix_assoc=prefix)
    def running_qty(rows):
        acc = 0
        for ok, ln, qty in rows:
            acc += int(round(qty * 100))
            yield (ok, ln, acc)
    return running_qty


def scan_query(df, prefix):
    return q(["?flag", "?ok2", "?ln2", "?rq"],
             (df, {"l_returnflag": "?flag", "l_orderkey": "?ok",
                   "l_linenumber": "?ln", "l_quantity": "?qty"}),
             (mk(prefix), "?ok", "?ln", "?qty",
              ":>", "?ok2", "?ln2", "?rq"),
             sort=["?ok", "?ln", "?qty"])


par1 = timeit(lambda: scan_query(li1, True))
par8 = timeit(lambda: scan_query(li8, True))
exact8 = timeit(lambda: scan_query(li8, False))
ratio = round(par8 / par1, 2)
print(f"prefix_assoc: 1x={par1}s 8x={par8}s ratio={ratio} "
      f"(exact at 8x: {exact8}s)")
if ratio > 6:
    failures.append(f"prefix_assoc 8x ratio {ratio} > 6")
# 10% noise margin: the claim is "parallel is never SLOWER on
# megagroups"; a strict < between back-to-back measurements that land
# within 1% of each other is a coin flip on a shared host
if par8 >= exact8 * 1.1:
    failures.append(f"prefix_assoc at 8x ({par8}s) is >10% slower than "
                    f"the exact path ({exact8}s) — megagroups grew 8x, "
                    "the parallel path must not lose there")

# -- 1b. interval_overlap_join at 8x -----------------------------------------
from cascalog_spark.operators import interval_overlap_join  # noqa: E402

ev1 = (spark.read.parquet(f"{SF}/events.parquet")
       .select("event_id", "user_id", "event_type", "ts")
       .repartition(32).persist())
ev8 = (ev1.crossJoin(F.broadcast(k))
       .withColumn("event_id", F.col("event_id") + F.col("__k") * 10_000_000)
       .withColumn("user_id", F.col("user_id") + F.col("__k") * 1_000_000)
       .drop("__k").repartition(64).persist())
ev1.count(), ev8.count()


def overlap(ev):
    clicks = (ev.where(F.col("event_type") == "click")
              .select(F.col("event_id").alias("cid"), "user_id",
                      F.col("ts").alias("lo"),
                      (F.col("ts") + F.expr("INTERVAL 30 MINUTES"))
                      .alias("hi")))
    purch = (ev.where(F.col("event_type") == "purchase")
             .select(F.col("event_id").alias("pid"), "user_id",
                     F.col("ts").alias("lo"),
                     (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("hi")))
    return interval_overlap_join(clicks, purch, "lo", "hi", "lo", "hi",
                                 on="user_id", bucket=1800.0) \
        .select("cid", "pid")


ov1 = timeit(lambda: overlap(ev1))
ov8 = timeit(lambda: overlap(ev8))
ratio_ov = round(ov8 / ov1, 2)
print(f"interval_overlap_join: 1x={ov1}s 8x={ov8}s ratio={ratio_ov}")
if ratio_ov > 6:
    failures.append(f"interval_overlap_join 8x ratio {ratio_ov} > 6")

# -- 1c. cross_doc_line_dedup at 8x ------------------------------------------
# NB: replication is the WORST case for this op — every line of a
# replicated doc is a cross-copy duplicate, so the owner table is 8x
# denser than any natural corpus.
from cascalog_spark.functions import cross_doc_line_dedup  # noqa: E402

docs1 = (spark.read.parquet(f"{SF}/documents.parquet")
         .select("doc_id", "text").repartition(32).persist())
docs8 = (docs1.crossJoin(F.broadcast(k))
         .withColumn("doc_id", F.col("doc_id") + F.col("__k") * 10_000_000)
         .drop("__k").repartition(64).persist())
docs1.count(), docs8.count()


def lined_dedup(d):
    toks = F.split(F.col("text"), r"\s+")
    n_lines = F.ceil(F.size(toks) / F.lit(8)).cast("int")
    lined = d.withColumn(
        "text",
        F.array_join(
            F.transform(F.sequence(F.lit(0), n_lines - 1),
                        lambda b: F.array_join(
                            F.slice(toks, b * 8 + 1, 8), " ")), "\n"))
    return cross_doc_line_dedup(lined).select(
        "doc_id", F.md5("dedup_text").alias("m"))


ld1 = timeit(lambda: lined_dedup(docs1))
ld8 = timeit(lambda: lined_dedup(docs8))
ratio_ld = round(ld8 / ld1, 2)
print(f"cross_doc_line_dedup: 1x={ld1}s 8x={ld8}s ratio={ratio_ld}")
if ratio_ld > 6:
    failures.append(f"cross_doc_line_dedup 8x ratio {ratio_ld} > 6")

# -- 1d. select_by_budget histogram path at 8x -------------------------------
# the scale claim: histogram two-pass stays flat-ish with data volume
# (no global sort) and must not blow past the usual 6x gate.
from cascalog_spark.functions import select_by_budget  # noqa: E402
from cascalog_spark.functions.text import token_count  # noqa: E402

# weight = n_tokens, order by n_tokens (dense ties are the realistic
# shape — many docs share a length; ties stress the boundary bucket)
t1 = token_count(docs1).select("doc_id", "n_tokens")
t8 = token_count(docs8).select("doc_id", "n_tokens")
tot1 = t1.agg(F.sum("n_tokens")).first()[0]
tot8 = t8.agg(F.sum("n_tokens")).first()[0]


def budget_cut(t, tot):
    return select_by_budget(t, tot * 2 // 5, "n_tokens", "n_tokens",
                            method="histogram", bins=256)


sb1 = timeit(lambda: budget_cut(t1, tot1))
sb8 = timeit(lambda: budget_cut(t8, tot8))
ratio_sb = round(sb8 / sb1, 2)
print(f"select_by_budget(histogram): 1x={sb1}s 8x={sb8}s ratio={ratio_sb}")
if ratio_sb > 6:
    failures.append(f"select_by_budget 8x ratio {ratio_sb} > 6")

# -- 1e. dsir_weights at 8x ---------------------------------------------------
# the scale claim: the only wide ops are bucket-capped aggregates + the
# per-doc count; the log-ratio table broadcasts.  8x corpus -> ~linear
# token work, well under the 6x gate.
from cascalog_spark.functions import dsir_weights  # noqa: E402
from cascalog_spark.functions.text import release_tfidf_cache  # noqa: E402


def dsir_run(d):
    out = dsir_weights(d, d.where(F.col("doc_id") % 5 == 0),
                       n_buckets=1 << 16)
    return out


def timeit_dsir(d, n=2):
    best = 1e9
    for _ in range(n):
        t0 = time.perf_counter()
        out = dsir_run(d)
        out.write.format("noop").mode("overwrite").save()
        release_tfidf_cache(out)
        best = min(best, time.perf_counter() - t0)
    return round(best, 2)


ds1 = timeit_dsir(docs1)
ds8 = timeit_dsir(docs8)
ratio_ds = round(ds8 / ds1, 2)
print(f"dsir_weights: 1x={ds1}s 8x={ds8}s ratio={ratio_ds}")
if ratio_ds > 6:
    failures.append(f"dsir_weights 8x ratio {ratio_ds} > 6")

# -- 1f. global_running_total at 8x ------------------------------------------
# the scale claim: the exact global cumsum is per-bucket windows, so 8x
# rows spread over the same bucket count ~ linear work, no global sort.
from cascalog_spark.functions import global_running_total  # noqa: E402


def grt_run(d):
    t = token_count(d).select("doc_id", "n_tokens")
    return global_running_total(t, "n_tokens", "doc_id", "doc_id",
                                bins=256, out_col="rt")


gr1 = timeit(lambda: grt_run(docs1))
gr8 = timeit(lambda: grt_run(docs8))
ratio_gr = round(gr8 / gr1, 2)
print(f"global_running_total: 1x={gr1}s 8x={gr8}s ratio={ratio_gr}")
if ratio_gr > 6:
    failures.append(f"global_running_total 8x ratio {ratio_gr} > 6")

# -- 2. star CC round growth on chain graphs ---------------------------------
from cascalog_spark.functions import dedup_clusters  # noqa: E402

rounds = {}
for n in (512, 8192):
    pairs = spark.range(n - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
    out = dedup_clusters(pairs, max_iter=40)
    t0 = time.perf_counter()
    bad = out.where(F.col("cluster") != 0).count()
    wall = round(time.perf_counter() - t0, 2)
    rounds[n] = out._cc_rounds
    print(f"star CC path n={n}: rounds={out._cc_rounds} wall={wall}s "
          f"wrong_labels={bad}")
    if bad:
        failures.append(f"star CC path n={n}: {bad} wrong labels")
if rounds[8192] > rounds[512] + 6:
    failures.append(f"star CC rounds grew {rounds[512]}->{rounds[8192]} "
                    "on 16x path length — not logarithmic")

if failures:
    print("SMOKE FAILURES:")
    for f in failures:
        print(" -", f)
    sys.exit(1)
print("scaling smoke r5: all gates passed")
