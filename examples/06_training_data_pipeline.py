"""End-to-end training-data pipeline over the documents table:

    clean → quality gate → exact + near dedup → boilerplate removal →
    benchmark decontamination → PII redaction → stratified mixture
    sampling → context-window chunking → sequence packing →
    token accounting

Every stage is partition-parallel DataFrame ops (no driver-side loops), so
the same script shape runs on a 1000-executor cluster — only the paths and
the session config change.

Run: python examples/06_training_data_pipeline.py [sf_dir]
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F
from pyspark.sql import SparkSession

from cascalog_spark.functions import (chunk_text, contamination_bloom,
                                      exact_substring_dedup,
                                      minhash_lsh_candidates, pack_sequences,
                                      redact_pii, remove_boilerplate,
                                      split_corpus, stratified_sample)
from cascalog_spark.functions.dedup import dedup_clusters, exact_dedup
from cascalog_spark.functions.text import (clean_text, gopher_rules,
                                           quality_score)

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
spark = (SparkSession.builder.master("local[*]")
         .config("spark.sql.shuffle.partitions", "16")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
n0 = docs.count()

# 1. normalize + quality gates: Gopher rule bundle (keep/drop with
#    per-rule reasons) then the scalar quality score — all native
#    regexp/array chains, no UDF
docs = clean_text(docs, out_col="text")
docs = gopher_rules(docs, min_tokens=20, min_stopword_distinct=1) \
    .where(F.col("keep")).drop("keep", "fail_reasons")
docs = quality_score(docs).where(F.col("quality") >= 0.5).drop("quality")

# 2. exact dedup: keep the lowest doc_id per normalized fingerprint
keep = exact_dedup(docs.withColumn("fp", F.md5("text")), ["fp"], "doc_id") \
    .select(F.col("keep_id").alias("doc_id"))
docs = docs.join(keep, "doc_id", "left_semi")

# 3. near dedup: MinHash-LSH candidates → connected components → keep the
#    cluster representative (min id); non-clustered docs pass through.
#    The components step is an O(log n)-round star contraction, safe for
#    chain-shaped transitive dup clusters (the web-scale topology)
pairs = minhash_lsh_candidates(docs, "doc_id", num_perm=8, bands=4)
clusters = dedup_clusters(pairs)
drop = clusters.where(F.col("node") != F.col("cluster")) \
               .select(F.col("node").alias("doc_id"))
docs = docs.join(drop, "doc_id", "left_anti")

# 3b. exact-substring (duplicated-span) dedup: later docs lose token
#     spans already owned by an earlier doc (Lee et al. 2022 shape)
docs = exact_substring_dedup(docs, k=8, out_col="text")

# 4. boilerplate removal (C4 hot-line rule; word-level on this corpus)
clean = remove_boilerplate(docs, min_docs=int(n0 * 0.8), sep=" ") \
    .select("doc_id", F.col("clean").alias("text"))
docs = docs.drop("text").join(clean, "doc_id")

# 5. benchmark decontamination: drop docs overlapping the eval slice —
#    bloom-prefiltered, so the corpus side tests a broadcast bitset in
#    codegen and only bloom-positive shingles reach the exact join
bench = docs.where(F.col("doc_id") % 97 == 0)
corpus = docs.where(F.col("doc_id") % 97 != 0)
hits = contamination_bloom(corpus, bench, k=8)
docs = corpus.join(hits.select("doc_id"), "doc_id", "left_anti")

# 6. PII scrubbing (RE2-safe masks)
docs = redact_pii(docs).drop("text") \
    .withColumnRenamed("redacted", "text")

# 7. deterministic mixture weighting per source, then a stable
#    train/val/test split (a doc keeps its split across reruns — the
#    leakage-audit property), then chunk + pack the TRAIN slice only
docs = stratified_sample(
    docs, {f"src{i}": (1.0 if i < 10 else 0.5) for i in range(20)}, "source")
docs = split_corpus(docs, {"train": 8, "val": 1, "test": 1})
train = docs.where(F.col("split") == "train").drop("split")
chunks = chunk_text(train, max_tokens=128, overlap=16)
packed = pack_sequences(train, max_tokens=512)

# 8. accounting
stats = chunks.agg(
    F.count(F.lit(1)).alias("n_chunks"),
    F.sum("n_tokens").alias("total_tokens"),
    F.round(F.avg("n_tokens"), 1).alias("avg_chunk_tokens")).collect()[0]
by_split = {r.split: r.n for r in
            docs.groupBy("split").agg(F.count(F.lit(1)).alias("n"))
            .collect()}
n_docs = sum(by_split.values())
n_seqs = packed.agg(F.count_distinct("source", "seq_id")).collect()[0][0]
print(f"{n0} raw docs -> {n_docs} kept after quality+dedup+decontam+sample "
      f"(splits: {by_split})")
print(f"train chunks: {stats['n_chunks']}, tokens: {stats['total_tokens']}, "
      f"avg chunk: {stats['avg_chunk_tokens']} tokens; "
      f"{n_seqs} packed 512-token sequences")
spark.stop()
