"""Continuous-ingest near-dedup as a streaming job — the composition a
100 TB corpus pipeline runs for ALWAYS-ON ingestion: each micro-batch is
near-deduplicated against itself (MinHash-LSH candidates → connected
components → keep cluster minima) and against the STANDING index of
previously kept documents, survivors append to the corpus, and their
band rows append to the index.

Scale shape: per micro-batch the work is the incremental batch contract
(``minhash_lsh_candidates_incremental``) — one signature pass over the
batch, a (band, bh) equi-join that touches only the index buckets the
batch lands in, and a CC pass over the batch's own candidate pairs
(micro-batch-sized, not corpus-sized).  The index is only ever APPENDED.
Writes are exactly-once: each batch overwrites its own ``batch=<id>``
partition directory, so Structured Streaming retries are idempotent.

Index membership = KEPT representatives only (dropped docs never enter
the index) — identical to replaying ``minhash_lsh_candidates_incremental``
batch-by-batch in batch-land (equivalence-tested), and the same
first-seen-wins contract as ``exact_dedup_incremental``.  A transitive
chain A~B~C where B arrived (and was dropped) between A and C therefore
keeps C unless C also matches A — the documented cost of a
representatives-only index.

No reference analog (the reference has no streaming); extension tier.
"""

from __future__ import annotations

import functools
import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def ingest_batch_near_dedup(batch: DataFrame, index: Optional[DataFrame],
                            id_col: str, text_col: str = "text",
                            num_perm: int = 16, bands: int = 4,
                            shingle_k: int = 3, max_iter: int = 20,
                            materialize: bool = False,
                            ) -> tuple[DataFrame, DataFrame]:
    """One ingest step, batch-land: returns ``(survivors, new_index_rows)``.

    Within-batch: candidate pairs → CC → keep each cluster's min id
    (exactly ``near_dedup``'s keep='min' contract).  Vs the standing
    index: any batch doc sharing a (band, bh) bucket with an indexed doc
    is dropped (the banded near-dup rule, first-seen wins).
    ``new_index_rows`` are the SURVIVORS' (id, band, bh) rows — append
    them to the index after writing the survivors.

    Within-batch candidates are the banded self-join, so a bucket of k
    batch docs yields k(k-1)/2 pairs."""
    from ..functions.dedup import (dedup_clusters,
                                   minhash_lsh_candidates_incremental)

    pairs, bidx = minhash_lsh_candidates_incremental(
        batch, index, id_col, text_col, num_perm, bands, shingle_k,
        materialize=materialize)
    # split: self pairs have both ids in the batch; cross pairs carry an
    # index id on the id_a side.  Membership test via the batch id set —
    # an equi-join on id (batch-sized, no collect).
    batch_ids = batch.select(F.col(id_col).alias("__bid")).distinct()
    self_pairs = (pairs
                  .join(batch_ids.withColumnRenamed("__bid", "id_a"),
                        on="id_a", how="left_semi")
                  .join(batch_ids.withColumnRenamed("__bid", "id_b"),
                        on="id_b", how="left_semi"))
    cross_hit = (pairs
                 .join(batch_ids.withColumnRenamed("__bid", "id_a"),
                       on="id_a", how="left_anti")
                 .select(F.col("id_b").alias(id_col)).distinct())
    clusters = dedup_clusters(self_pairs, max_iter=max_iter)
    self_losers = (clusters.where(F.col("node") != F.col("cluster"))
                   .select(F.col("node").alias(id_col)))
    survivors = (batch
                 .join(self_losers, on=id_col, how="left_anti")
                 .join(cross_hit, on=id_col, how="left_anti"))
    if materialize:
        # callers consuming BOTH outputs (the streaming step writes
        # survivors and the semi-joined index rows) would otherwise run
        # the whole dedup twice — checkpoint once, batch-sized
        survivors = survivors.localCheckpoint(eager=False)
    new_index_rows = bidx.join(
        survivors.select(id_col), on=id_col, how="left_semi")
    return survivors, new_index_rows


def stream_near_dedup_ingest(stream_df: DataFrame, out_dir: str,
                             index_dir: str, id_col: str,
                             text_col: str = "text",
                             num_perm: int = 16, bands: int = 4,
                             shingle_k: int = 3, max_iter: int = 20,
                             checkpoint_dir: Optional[str] = None,
                             query_name: str = "near_dedup_ingest"):
    """Run :func:`ingest_batch_near_dedup` as a ``foreachBatch`` streaming
    sink: survivors land under ``out_dir/batch=<id>/``, their index rows
    under ``index_dir/batch=<id>/`` (per-batch overwrite = idempotent
    under retries).  Returns the started ``StreamingQuery`` — drive with
    ``trigger(availableNow=True)`` upstream or ``awaitTermination``.

    The standing index is read fresh at each batch from ``index_dir``
    (parquet partition discovery over the ``batch=`` subdirs), so a
    restarted query resumes against everything already kept."""

    def _step(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        # exclude this batch's own partition: a RETRIED batch must not
        # read its failed attempt's index rows and cross-drop itself
        index = read_ingest_index(spark, index_dir,
                                  exclude_batch=batch_id)
        survivors, new_rows = ingest_batch_near_dedup(
            batch, index, id_col, text_col, num_perm, bands, shingle_k,
            max_iter, materialize=True)
        StateDir(out_dir).write(survivors, batch_id)
        StateDir(index_dir).write(new_rows, batch_id)

    writer = (stream_df.writeStream.foreachBatch(_step)
              .queryName(query_name)
              .trigger(availableNow=True))
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def _compact_recover(target_dir: str) -> None:
    """Recover leftover state from a crashed ``_compact_swap`` of
    ``target_dir`` (idempotent; see ``compact_rollup`` docstring)."""
    import shutil

    old = target_dir.rstrip("/") + ".compact.old"
    if os.path.isdir(old):
        if os.path.isdir(target_dir):
            # crashed after the tmp->target rename: target is the
            # compacted base; old is the superseded pre-compaction copy
            shutil.rmtree(old)
        else:
            # crashed between renames: restore the pre-compaction dir
            # (tmp holds the same merged content, but restoring the
            # original and re-merging is the conservative replay)
            os.rename(old, target_dir)


def _raise_if_crashed(target_dir: str, compactor: str) -> None:
    """A missing dir with a ``.compact.old`` sibling is NOT 'no batches
    yet' — it's a compaction that crashed mid-swap; say so instead of
    silently reading the standing state as empty."""
    if not os.path.isdir(target_dir) and os.path.isdir(
            target_dir.rstrip("/") + ".compact.old"):
        raise RuntimeError(
            f"{target_dir} is missing but a .compact.old sibling exists "
            f"— a {compactor} crashed between renames; re-run "
            f"{compactor} (it auto-recovers) before reading")


def _compact_swap(target_dir: str, write_tmp) -> None:
    """Crash-safe directory swap: ``write_tmp(tmp_dir)`` materializes
    the compacted content, then old-aside/tmp-in/old-removed renames —
    any crash leaves a recoverable directory, never a double-counting
    mix of compacted and uncompacted partitions."""
    import shutil

    tmp = target_dir.rstrip("/") + ".compact.tmp"
    old = target_dir.rstrip("/") + ".compact.old"
    shutil.rmtree(tmp, ignore_errors=True)
    write_tmp(tmp)
    os.rename(target_dir, old)
    os.rename(tmp, target_dir)
    shutil.rmtree(old)


class StateDir:
    """THE crash-safety contract of a standing ``batch=<id>`` parquet
    state directory — shared by every streaming maintenance sink
    (near-dedup / semantic / novelty indexes, rollup / transition /
    n-gram partials, funnel / retention / decayed snapshots) and by
    ``operators.merge.merge_into``:

    * ``write(df, batch_id)`` — per-batch OVERWRITE into
      ``path/batch=<id>``: a Structured Streaming RETRY of the same
      micro-batch is idempotent, and the maintenance fold excludes the
      in-flight id (``exclude_batch`` / ``before``) so a retried batch
      can never read its own failed attempt.
    * ``read_all(spark, exclude_batch=)`` — standing state across
      every partition (partials model); ``None`` before the first
      batch lands.  ``exclude_batch`` is partition-pruned, never
      scanned.
    * ``read_latest(spark, before=)`` — newest COMPLETE snapshot
      (snapshot-per-batch model): partitions without a ``_SUCCESS``
      marker are in-flight and skipped — unless NO partition carries
      one (a committer configured not to write markers), in which case
      all are accepted rather than silently reading the state as empty.
    * ``compact(df)`` / ``swap(write_tmp)`` — write-new-then-swap: the
      folded content is fully materialized to a ``.compact.tmp``
      sibling FIRST (lazy plans reading the live dir keep working),
      then dir→``.compact.old``, tmp→dir, old removed.  A crash at ANY
      point leaves a recoverable layout: ``recover()`` (run by every
      compactor before folding) restores it, and a reader that finds
      the dir missing beside an ``.old`` sibling raises loudly instead
      of treating the state as empty.  Single maintenance writer; run
      compaction with the stream STOPPED after its checkpoint
      committed past every written batch.
    * ``prune(keep_latest)`` — snapshot dirs only: older snapshots are
      retry fallbacks, the latest IS the state.
    """

    def __init__(self, path: str, compactor: Optional[str] = None):
        self.path = path.rstrip("/")
        self.compactor = compactor

    def write(self, df: DataFrame, batch_id: int) -> None:
        df.write.mode("overwrite").parquet(
            f"{self.path}/batch={batch_id}")

    def _check_crashed(self) -> None:
        if self.compactor is not None:
            _raise_if_crashed(self.path, self.compactor)

    def read_all(self, spark: SparkSession,
                 exclude_batch: Optional[int] = None
                 ) -> Optional[DataFrame]:
        if not os.path.isdir(self.path):
            self._check_crashed()
            return None
        parts = [e for e in os.listdir(self.path)
                 if e.startswith("batch=")]
        if exclude_batch is not None:
            parts = [e for e in parts if e != f"batch={exclude_batch}"]
        if not parts:
            return None
        df = spark.read.parquet(self.path)
        if exclude_batch is not None:
            df = df.where(F.col("batch") != exclude_batch)
        return df.drop("batch")

    def read_latest(self, spark: SparkSession,
                    before: Optional[int] = None
                    ) -> Optional[DataFrame]:
        if not os.path.isdir(self.path):
            self._check_crashed()
            return None
        all_ids = [int(e.split("=", 1)[1])
                   for e in os.listdir(self.path)
                   if e.startswith("batch=")]
        ids = [i for i in all_ids
               if os.path.exists(os.path.join(self.path, f"batch={i}",
                                              "_SUCCESS"))]
        if not ids and all_ids:
            ids = all_ids  # committer writes no markers: accept all
        if before is not None:
            ids = [i for i in ids if i < before]
        if not ids:
            return None
        return spark.read.parquet(f"{self.path}/batch={max(ids)}")

    def recover(self) -> None:
        _compact_recover(self.path)

    def swap(self, write_tmp) -> None:
        _compact_swap(self.path, write_tmp)

    def compact(self, df: Optional[DataFrame]) -> None:
        """Fold the standing state ``df`` (usually ``read_all``'s
        result, already excluding nothing) back to a single
        ``batch=0`` base partition.  No-op when ``df`` is None."""
        if df is None:
            return
        self.swap(lambda tmp: df.write.mode("overwrite")
                  .parquet(f"{tmp}/batch=0"))

    def prune(self, keep_latest: int = 1) -> int:
        import shutil

        if keep_latest < 1:
            raise ValueError("StateDir.prune: keep_latest must be "
                             ">= 1 (the latest snapshot IS the state)")
        if not os.path.isdir(self.path):
            return 0
        ids = sorted(int(e.split("=", 1)[1])
                     for e in os.listdir(self.path)
                     if e.startswith("batch="))
        drop = ids[:-keep_latest]
        for i in drop:
            shutil.rmtree(os.path.join(self.path, f"batch={i}"))
        return len(drop)


def read_ingest_index(spark: SparkSession, index_dir: str,
                      exclude_batch: Optional[int] = None,
                      ) -> Optional[DataFrame]:
    """The standing (id, band, bh) index across all ingested batches —
    ``None`` before the first batch lands.  ``exclude_batch`` drops one
    ``batch=`` partition (partition-pruned, never scanned) — the retry
    guard used inside the streaming step."""
    return StateDir(index_dir,
                    "compact_ingest_index").read_all(spark, exclude_batch)


def read_ingest_corpus(spark: SparkSession, out_dir: str) -> DataFrame:
    """All kept documents across ingested batches (the deduplicated
    corpus)."""
    return spark.read.parquet(out_dir).drop("batch")


def compact_ingest_index(spark: SparkSession, index_dir: str) -> None:
    """Fold the standing dedup index's ``batch=`` partitions into one
    ``batch=0`` base — a long-running ingest stream otherwise grows one
    partition (and one file listing entry) per micro-batch, and the
    per-batch index read slows with partition count.  Same crash-safe
    swap + auto-recovery as ``compact_rollup``.

    Run while the ingest stream is STOPPED and only after its
    checkpoint has committed past every written batch: the streaming
    step excludes its own ``batch=<id>`` partition on retry, and a
    compaction folds those rows into ``batch=0`` where a retried batch
    would cross-drop against itself."""
    sd = StateDir(index_dir, "compact_ingest_index")
    sd.recover()
    sd.compact(read_ingest_index(spark, index_dir))


def read_semantic_reps(spark: SparkSession, reps_dir: str,
                       exclude_batch: Optional[int] = None,
                       ) -> Optional[DataFrame]:
    """The standing (id, embedding) representative set across all
    semantically-ingested batches — ``None`` before the first batch
    lands; same retry-guard contract as ``read_ingest_index``."""
    return StateDir(reps_dir,
                    "compact_semantic_reps").read_all(spark, exclude_batch)


def compact_semantic_reps(spark: SparkSession, reps_dir: str) -> None:
    """Fold the semantic representative set's ``batch=`` partitions into
    one ``batch=0`` base — same crash-safe swap + auto-recovery and the
    same stopped-stream/committed-checkpoint caveat as
    ``compact_ingest_index``."""
    sd = StateDir(reps_dir, "compact_semantic_reps")
    sd.recover()
    sd.compact(read_semantic_reps(spark, reps_dir))


def stream_semantic_dedup_ingest(stream_df: DataFrame, out_dir: str,
                                 reps_dir: str, id_col: str,
                                 vec_col: str = "embedding",
                                 threshold: float = 0.95,
                                 centroids: Optional[list] = None,
                                 n_clusters: int = 16,
                                 checkpoint_dir: Optional[str] = None,
                                 query_name: str = "semantic_dedup_ingest"):
    """Continuous-ingest SemDeDup as a ``foreachBatch`` streaming sink —
    the embedding-space twin of :func:`stream_near_dedup_ingest`: each
    micro-batch is deduped against the STANDING representative set
    (reps always win — they arrived first), then within itself (greedy
    min-id), via :func:`functions.dedup.semantic_dedup_incremental`;
    survivors land under ``out_dir/batch=<id>/`` and their
    (id, embedding) rows under ``reps_dir/batch=<id>/`` (per-batch
    overwrite = idempotent under retries; a retried batch excludes its
    own reps partition so it never cross-drops against its failed
    attempt).

    Pass FIXED ``centroids`` (e.g. ``ivf_centroids_kmeans`` over a
    corpus sample) so cell ids are stable across batches — every
    comparison is then a per-cell equi-join: cost per batch is
    Σ|batch_cell|·|reps_cell| + Σ|batch_cell|², never corpus².  The
    representative set is the only standing state and is the SURVIVOR
    set — it grows with unique content, not with ingest volume."""

    def _step(batch: DataFrame, batch_id: int) -> None:
        from ..functions.dedup import semantic_dedup_incremental

        spark = batch.sparkSession
        reps = read_semantic_reps(spark, reps_dir,
                                  exclude_batch=batch_id)
        kept, _updated = semantic_dedup_incremental(
            batch, reps, id_col, vec_col, threshold, centroids,
            n_clusters)
        # survivors feed TWO writes — materialize once (batch-sized)
        # instead of re-running the reps read + cell joins per write
        kept = kept.localCheckpoint(eager=False)
        StateDir(out_dir).write(kept, batch_id)
        StateDir(reps_dir).write(kept.select(id_col, vec_col), batch_id)

    writer = (stream_df.writeStream.foreachBatch(_step)
              .queryName(query_name)
              .trigger(availableNow=True))
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


# ---------------------------------------------------------------------------
# Continuous rollup maintenance: the streaming face of functions/rollup.py
# ---------------------------------------------------------------------------

def stream_rollup_maintenance(stream_df: DataFrame, agg_dir: str,
                              keys: list[str], spec: dict[str, tuple],
                              checkpoint_dir: Optional[str] = None,
                              query_name: str = "rollup_maintenance"):
    """Maintain a standing materialized aggregate from a stream: each
    micro-batch writes ITS OWN rollup partial to
    ``agg_dir/batch=<id>/`` (per-batch overwrite = idempotent under
    Structured Streaming retries; no read-modify-write race against the
    standing state).  The merged aggregate is assembled at read time by
    :func:`read_rollup` — a groupBy over #batches x #keys partial rows,
    never over history — and :func:`compact_rollup` folds accumulated
    partials back to one when the partition list grows long.

    This is deliberately NOT update-mode stateful aggregation: sketch
    kinds (hll/tdigest) and the cross-job merge algebra live in plain
    parquet, so the standing aggregate outlives the streaming query,
    merges with batch-built rollups, and replays deterministically.
    Returns the started ``StreamingQuery``."""
    from ..functions.rollup import aggregate_rollup

    def _step(batch: DataFrame, batch_id: int) -> None:
        StateDir(agg_dir).write(aggregate_rollup(batch, keys, spec),
                                batch_id)

    writer = (stream_df.writeStream.foreachBatch(_step)
              .queryName(query_name)
              .trigger(availableNow=True))
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def read_rollup(spark: SparkSession, agg_dir: str, keys: list[str],
                spec: dict[str, tuple]) -> Optional[DataFrame]:
    """The standing merged aggregate across every batch partial under
    ``agg_dir`` — ``None`` before the first batch lands.  Cost: one
    groupBy over partial rows (#batches x #keys), independent of the
    event volume that produced them."""
    from ..functions.rollup import merge_rollups

    parts = StateDir(agg_dir, "compact_rollup").read_all(spark)
    if parts is None:
        return None
    return merge_rollups([parts], keys, spec)


def compact_rollup(spark: SparkSession, agg_dir: str, keys: list[str],
                   spec: dict[str, tuple]) -> None:
    """Fold all batch partials into a single ``batch=0`` base partition
    (run while the maintenance stream is paused — like
    ``compact_parquet`` this is a maintenance pass, not a concurrent
    one).  Crash-safe ordering: the merged base is written to a sibling
    tmp dir first, the old dir is moved aside, the tmp renamed in, and
    the old dir removed — any crash leaves a recoverable directory,
    never a double-counting mix of merged and unmerged partials — and
    re-running this function auto-recovers any leftover state (a crash
    between the two renames leaves no ``agg_dir``; the pre-compaction
    data is restored from ``.compact.old`` before compacting again)."""
    sd = StateDir(agg_dir, "compact_rollup")
    sd.recover()
    sd.compact(read_rollup(spark, agg_dir, keys, spec))


# ---------------------------------------------------------------------------
# Continuous drift monitoring: per-micro-batch PSI vs a reference histogram
# ---------------------------------------------------------------------------

def stream_drift_monitor(stream_df: DataFrame, col: str,
                         ref_counts: list, lo: float, hi: float,
                         out_dir: str, eps: float = 1e-6,
                         checkpoint_dir: Optional[str] = None,
                         query_name: str = "drift_monitor"):
    """Monitor a stream's value distribution against a FIXED reference
    histogram (``ref_counts`` = per-bin counts over ``[lo, hi)`` with
    ``len(ref_counts)`` fixed-width bins — e.g. from
    ``stats.histogram`` over last month's data): every micro-batch
    writes one row PER BIN to ``out_dir/batch=<id>/`` —
    ``(bucket, n_expected, n_actual, p_expected, p_actual, psi_term)``
    — so ``sum(psi_term)`` per batch is that batch's PSI against the
    reference.  Idempotent per-batch overwrite, same contract as the
    rollup/ingest sinks.

    Per batch the work is ONE bucket aggregate of the batch (≤ bins
    rows shuffle) joined onto a bins-row literal spine; empty bins
    still emit (they carry PSI mass when the reference is non-empty
    there).  The reference rides as a driver literal — bins-sized,
    never data-sized."""
    bins = len(ref_counts)
    if bins <= 0 or hi <= lo:
        raise ValueError("stream_drift_monitor: need >=1 ref bin and "
                         "hi > lo")
    te = float(sum(ref_counts)) or 1.0

    def _step(batch: DataFrame, batch_id: int) -> None:
        from ..functions.stats import histogram

        spark = batch.sparkSession
        h = (histogram(batch, col, bins=bins, lo=lo, hi=hi)
             .select("bucket", F.col("n").alias("n_actual")))
        spine = (spark.range(bins)
                 .select(F.col("id").cast("int").alias("bucket")))
        j = (spine.join(h, on="bucket", how="left")
             .withColumn("n_actual", F.coalesce("n_actual", F.lit(0)))
             .withColumn("n_expected",
                         F.element_at(F.lit([int(c) for c in ref_counts]),
                                      F.col("bucket") + 1)))
        from ..functions.stats import psi_term_cols

        tot = j.agg(F.sum("n_actual").alias("ta"))
        j = j.crossJoin(F.broadcast(tot))
        pe, pa, term = psi_term_cols(F.col("n_expected"),
                                     F.col("n_actual"), F.lit(te),
                                     F.col("ta"), eps)
        out = (j.withColumn("p_expected", F.round(pe, 6))
               .withColumn("p_actual", F.round(pa, 6))
               .withColumn("psi_term", F.round(term, 6))
               .select("bucket", "n_expected", "n_actual",
                       "p_expected", "p_actual", "psi_term"))
        StateDir(out_dir).write(out, batch_id)

    writer = (stream_df.writeStream.foreachBatch(_step)
              .queryName(query_name)
              .trigger(availableNow=True))
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def stream_embedding_drift_monitor(stream_df: DataFrame, ref_model: dict,
                                   out_dir: str,
                                   vec_col: str = "embedding",
                                   eps: float = 1e-6,
                                   checkpoint_dir: Optional[str] = None,
                                   query_name: str =
                                   "embedding_drift_monitor"):
    """Monitor a stream of embeddings against a FROZEN reference model
    (:func:`functions.stats.embedding_drift_reference` — mean vector,
    norm histogram, centroid cells; driver-sized, the reference corpus
    is never rescanned): every micro-batch writes its four drift rows
    ``(metric, value)`` to ``out_dir/batch=<id>`` via
    ``embedding_drift_report(ref_model=...)`` — the vector-space
    sibling of :func:`stream_drift_monitor`.  Idempotent per-batch
    overwrite; each batch's rows are exactly the one-shot report of
    that batch against the reference (same code path, pinned)."""
    from ..functions.stats import embedding_drift_report

    def _step(batch: DataFrame, batch_id: int) -> None:
        rep = embedding_drift_report(None, batch, vec_col=vec_col,
                                     eps=eps, ref_model=ref_model)
        StateDir(out_dir).write(rep, batch_id)

    writer = (stream_df.writeStream.foreachBatch(_step)
              .queryName(query_name)
              .trigger(availableNow=True))
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


# ---------------------------------------------------------------------------
# Continuous expectation gating: per-micro-batch rule reports + quarantine
# ---------------------------------------------------------------------------

def stream_expectation_gate(stream_df: DataFrame, rules: dict,
                            out_dir: str, report_dir: str,
                            quarantine_dir: Optional[str] = None,
                            checkpoint_dir: Optional[str] = None,
                            query_name: str = "expectation_gate"):
    """Gate a stream on data-quality expectations: every micro-batch
    runs ``functions.expectations.check_expectations`` (ONE aggregate
    pass however many rules), writes the per-rule report to
    ``report_dir/batch=<id>/``, and routes the batch — rows land under
    ``out_dir/batch=<id>/`` when every rule passes, else under
    ``quarantine_dir/batch=<id>/`` (whole-batch quarantine: a failing
    ingest batch is an upstream incident to inspect, not rows to
    silently drop).  All three writes are idempotent per-batch
    overwrites.  ``quarantine_dir`` defaults to ``out_dir + '.bad'``.

    This completes the streaming data-ops triad with
    :func:`stream_rollup_maintenance` and :func:`stream_drift_monitor`:
    gate → fold → watch, each micro-batch-idempotent and
    batch-replayable."""
    from ..functions.expectations import check_expectations

    if not rules:
        raise ValueError("stream_expectation_gate: rules must be "
                         "non-empty")
    qdir = quarantine_dir or (out_dir.rstrip("/") + ".bad")

    def _step(batch: DataFrame, batch_id: int) -> None:
        import shutil

        report = check_expectations(batch, rules).localCheckpoint(eager=False)
        StateDir(report_dir).write(report, batch_id)
        ok = report.agg(
            F.min(F.col("passed").cast("int"))).first()[0]
        dest, other = (out_dir, qdir) if ok == 1 else (qdir, out_dir)
        # ROUTING must be idempotent, not just the write: a batch
        # replayed after a rules change would otherwise leave its old
        # copy under the previously-chosen dest while the new copy lands
        # in the other dir — readers unioning both would double-count it
        shutil.rmtree(f"{other}/batch={batch_id}", ignore_errors=True)
        StateDir(dest).write(batch, batch_id)

    writer = (stream_df.writeStream.foreachBatch(_step)
              .queryName(query_name)
              .trigger(availableNow=True))
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def stream_novelty_ingest(stream_df: DataFrame, out_dir: str,
                          index_dir: str, id_col: str = "doc_id",
                          text_col: str = "text", k: int = 3,
                          checkpoint_dir: Optional[str] = None,
                          query_name: str = "novelty_ingest"):
    """Continuous-ingest novelty scoring as a ``foreachBatch`` streaming
    sink (the novelty twin of :func:`stream_near_dedup_ingest`): each
    micro-batch scores against the standing shingle index
    (``text.ngram_novelty_incremental`` semantics — novel = absent from
    the index AND first-in-batch by min id), scored rows land under
    ``out_dir/batch=<id>/`` and the batch's NEW shingles under
    ``index_dir/batch=<id>/`` (per-batch overwrite = idempotent under
    retries; a retried batch excludes its own failed partition so it
    cannot suppress itself).  Read results with
    :func:`read_ingest_corpus`; fold the index partitions with
    :func:`compact_ingest_index` while the stream is stopped.

    This is the crawl pipeline's per-snapshot gate: novelty ~0 flags a
    re-crawl batch before any near-dedup cost is paid."""
    from ..functions.text import ngram_novelty_incremental

    def _step(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        index = read_ingest_index(spark, index_dir,
                                  exclude_batch=batch_id)
        # new_rows_only: the scorer already derives the batch's NEW
        # shingles (owner row + not-in-index) on its one shingle-keyed
        # Exchange — re-deriving them via novelty_index + anti-join
        # used to pay a THIRD tokenize+shingle pass per micro-batch
        scored, new_rows = ngram_novelty_incremental(
            batch, index, text_col, id_col, k, new_rows_only=True)
        StateDir(out_dir).write(scored, batch_id)
        StateDir(index_dir).write(new_rows, batch_id)

    writer = (stream_df.writeStream.foreachBatch(_step)
              .queryName(query_name)
              .trigger(availableNow=True))
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def read_funnel_state(spark: SparkSession, state_dir: str,
                      before: Optional[int] = None
                      ) -> Optional[DataFrame]:
    """The LATEST standing funnel state snapshot under ``state_dir`` —
    each maintenance batch writes the COMPLETE updated state to its own
    ``batch=<id>`` partition, so the current state is the
    highest-numbered partition (``before`` restricts to partitions
    < that id — the retry guard: a retried batch folds from the state
    it originally saw, never its own failed attempt).  ``None`` before
    the first batch lands.

    External readers may call this while the maintenance stream is
    running: partitions whose parquet commit has not finished (no
    ``_SUCCESS`` marker yet) are skipped, so the newest COMPLETE
    snapshot is returned instead of a half-written one.  (The
    maintenance fold itself always reads strictly older, fully
    committed partitions via ``before``.)

    If NO partition carries a ``_SUCCESS`` marker the committer is
    not writing them at all (``mapreduce.fileoutputcommitter
    .marksuccessfuljobs=false`` — the common object-store setting),
    so every partition is accepted instead of silently treating the
    whole state as empty — wrong standing aggregates with no error
    would be far worse than the marginal half-write risk."""
    return StateDir(state_dir).read_latest(spark, before=before)


def stream_funnel_maintenance(stream_df: DataFrame, state_dir: str,
                              ts_col: str, user_col: str,
                              stage_col: str, stages: list,
                              horizon: Optional[float] = None,
                              checkpoint_dir: Optional[str] = None,
                              query_name: str = "funnel_maintenance"):
    """Maintain the standing per-user funnel state from a stream: each
    micro-batch folds into the previous snapshot via
    ``behavior.funnel_stages(prior=...)`` (already-reached stages are
    frozen; chaining conditions compare batch events to the coalesced
    reach times) and writes the COMPLETE updated state to
    ``state_dir/batch=<id>`` — snapshot-per-batch is idempotent under
    retries (a retried batch re-folds from the snapshot before it) and
    keeps the standing state in plain parquet, outliving the query.

    Contract: append-ordered ingestion (events arrive in time order
    across batches — the usual log case).  Under it the drained state
    equals the one-shot ``funnel_stages`` over all events (pinned by
    test AND by the driver oracle).  State size = one row per user who
    ever hit a funnel stage; old snapshots are prunable (keep the
    latest)."""
    from ..functions.behavior import funnel_stages

    def _step(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        old = read_funnel_state(spark, state_dir, before=batch_id)
        new = funnel_stages(batch, ts_col, user_col, stage_col,
                            list(stages), horizon=horizon, prior=old)
        StateDir(state_dir).write(new, batch_id)

    writer = (stream_df.writeStream.foreachBatch(_step)
              .queryName(query_name)
              .trigger(availableNow=True))
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def read_transition_counts(spark: SparkSession, agg_dir: str,
                           normalize: bool = True
                           ) -> Optional[DataFrame]:
    """The standing transition matrix across every batch partial under
    ``agg_dir``: one groupBy over #batches x |types|² partial rows
    (never the event volume), with the per-source probability recomputed
    at read time.  ``None`` before the first batch lands."""
    parts = StateDir(agg_dir).read_all(spark)
    if parts is None:
        return None
    out = (parts.groupBy("from_type", "to_type")
           .agg(F.sum("n").alias("n")))
    if not normalize:
        return out
    from pyspark.sql import Window as _W

    tot = _W.partitionBy("from_type")
    return out.withColumn(
        "p", F.round(F.col("n") / F.sum("n").over(tot), 6))


def stream_transition_maintenance(stream_df: DataFrame, agg_dir: str,
                                  state_dir: str, ts_col: str,
                                  user_col: str, type_col: str,
                                  tie_cols: Optional[list] = None,
                                  checkpoint_dir: Optional[str] = None,
                                  query_name: str =
                                  "transition_maintenance"):
    """Maintain the event-transition matrix from a stream: each
    micro-batch contributes (a) its WITHIN-batch consecutive
    ``(type → next type)`` counts, (b) the BOUNDARY transitions from
    each user's standing last event into their first batch event, and
    (c) a complete last-event-per-user snapshot to ``state_dir`` (same
    snapshot-per-batch retry contract as the funnel state).  Count
    partials land under ``agg_dir/batch=<id>`` and are MERGEABLE —
    :func:`read_transition_counts` assembles the standing matrix from
    |types|²-sized partials, never from history.

    Contract: batches split at time boundaries (append-ordered
    ingestion).  Under it the drained matrix equals the one-shot
    ``behavior.transition_matrix`` exactly — within-batch pairs plus
    boundary pairs ARE the global consecutive pairs (pinned by test
    AND the driver oracle)."""
    from pyspark.sql import Window as _W

    ties = list(tie_cols or [])

    def _step(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        old = read_funnel_state(spark, state_dir, before=batch_id)
        ocols = [F.col(ts_col)] + [F.col(c) for c in ties]
        w = _W.partitionBy(user_col).orderBy(*[c.asc() for c in ocols])
        ranked = (batch.withColumn("__next",
                                   F.lead(F.col(type_col)).over(w))
                  .withColumn("__rn", F.row_number().over(w))
                  .withColumn("__rnl", F.row_number().over(
                      _W.partitionBy(user_col).orderBy(
                          *[c.desc() for c in ocols]))))
        within = (ranked.where(F.col("__next").isNotNull())
                  .groupBy(F.col(type_col).alias("from_type"),
                           F.col("__next").alias("to_type"))
                  .agg(F.count(F.lit(1)).alias("n")))
        firsts = ranked.where(F.col("__rn") == 1)
        lasts = (ranked.where(F.col("__rnl") == 1)
                 .select(user_col, ts_col, *ties, type_col))
        if old is not None:
            boundary = (firsts
                        .join(old.select(F.col(user_col),
                                         F.col(type_col)
                                         .alias("__lt")),
                              on=user_col)
                        .groupBy(F.col("__lt").alias("from_type"),
                                 F.col(type_col).alias("to_type"))
                        .agg(F.count(F.lit(1)).alias("n")))
            within = (within.unionByName(boundary)
                      .groupBy("from_type", "to_type")
                      .agg(F.sum("n").alias("n")))
            keep = old.join(lasts.select(user_col), on=user_col,
                            how="left_anti")
            lasts = lasts.unionByName(keep)
        StateDir(agg_dir).write(within, batch_id)
        StateDir(state_dir).write(lasts, batch_id)

    writer = (stream_df.writeStream.foreachBatch(_step)
              .queryName(query_name)
              .trigger(availableNow=True))
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def read_ngram_counts(spark: SparkSession, agg_dir: str,
                      min_count: int = 1) -> Optional[DataFrame]:
    """The standing event-type n-gram table across every batch partial
    under ``agg_dir``: one groupBy over #batches x |types|^n partial
    rows (never the event volume).  ``min_count`` prunes at READ time
    — partials stay unpruned so the fold is exact.  ``None`` before
    the first batch lands."""
    parts = StateDir(agg_dir).read_all(spark)
    if parts is None:
        return None
    out = parts.groupBy("gram").agg(F.sum("n_events").alias("n_events"))
    if min_count > 1:
        out = out.where(F.col("n_events") >= min_count)
    return out


def stream_ngram_maintenance(stream_df: DataFrame, agg_dir: str,
                             state_dir: str, ts_col: str,
                             user_col: str, type_col: str,
                             n: int = 3,
                             tie_cols: Optional[list] = None,
                             sep: str = "->",
                             checkpoint_dir: Optional[str] = None,
                             query_name: str = "ngram_maintenance"):
    """Maintain the consecutive event-type n-gram counts from a stream
    — the k-order sibling of :func:`stream_transition_maintenance`
    (which is the ``n=2`` case).  Each micro-batch contributes:

    (a) its WITHIN-batch n-grams (``behavior.event_ngrams`` on the
        batch, unpruned),
    (b) the STRADDLING n-grams mixing the user's standing suffix (the
        last ≤ n−1 event types) with the batch's first ≤ n−1 events —
        every length-n window of ``suffix ++ first_batch`` that starts
        inside the suffix,
    (c) a complete suffix-per-user snapshot to ``state_dir`` (last
        n−1 types of ``suffix ++ batch``; same snapshot-per-batch
        retry contract as the funnel state).

    Count partials land under ``agg_dir/batch=<id>`` and are
    MERGEABLE — :func:`read_ngram_counts` assembles the standing table
    from |types|^n-sized partials, never from history.

    Contract: batches split at time boundaries (append-ordered
    ingestion).  Under it the drained table equals the one-shot
    ``behavior.event_ngrams`` exactly — within-batch windows plus
    straddling windows ARE the global consecutive windows (pinned by
    test AND the driver oracle).  NULL-type rows are dropped like the
    one-shot op; NULL user keys fold null-safely."""
    from ..functions.behavior import event_ngrams

    if n < 2:
        raise ValueError("stream_ngram_maintenance: n must be >= 2")
    ties = list(tie_cols or [])
    from pyspark.sql import Window as _W

    def _step(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        old = read_funnel_state(spark, state_dir, before=batch_id)
        batch = batch.where(F.col(type_col).isNotNull())
        within = event_ngrams(batch, ts_col, user_col, type_col, n=n,
                              tie_cols=ties, sep=sep)
        ocols = [F.col(ts_col)] + [F.col(c) for c in ties]
        wasc = _W.partitionBy(user_col).orderBy(
            *[c.asc() for c in ocols])
        wdesc = _W.partitionBy(user_col).orderBy(
            *[c.desc() for c in ocols])
        ranked = (batch.withColumn("__rn", F.row_number().over(wasc))
                  .withColumn("__rnl", F.row_number().over(wdesc)))
        m = n - 1

        def _edge(rank_col):
            # ordered array of the user's first/last <= n-1 types
            return F.transform(
                F.array_sort(F.collect_list(
                    F.when(F.col(rank_col) <= m,
                           F.struct(F.col(rank_col).alias("r"),
                                    F.col(type_col).alias("t"))))),
                lambda x: x["t"])

        per_user = (ranked.groupBy(user_col)
                    .agg(_edge("__rn").alias("__firstb"),
                         F.reverse(_edge("__rnl")).alias("__lastb")))
        if old is not None:
            osel = old.select(F.col(user_col).alias("__ou"),
                              F.col("suffix").alias("__suffix"))
            joined = per_user.join(
                osel, on=[per_user[user_col].eqNullSafe(
                    F.col("__ou"))], how="left").drop("__ou")
        else:
            joined = per_user.withColumn(
                "__suffix", F.lit(None).cast("array<string>"))
        sfx = F.coalesce(F.col("__suffix"),
                         F.expr("array()").cast("array<string>"))
        full = F.concat(sfx, F.col("__firstb"))
        ls, ltot = F.size(sfx), F.size(full)
        starts = F.when(
            ls >= 1,
            F.filter(F.sequence(F.greatest(F.lit(1), ls - F.lit(n - 2)),
                                ls),
                     lambda s: s + F.lit(n - 1) <= ltot)
        ).otherwise(F.expr("array()").cast("array<int>"))
        grams = F.transform(
            starts, lambda s: F.array_join(F.slice(full, s, n), sep))
        straddle = (joined.select(F.explode(grams).alias("gram"))
                    .groupBy("gram")
                    .agg(F.count(F.lit(1)).alias("n_events")))
        counts = (within.unionByName(straddle)
                  .groupBy("gram").agg(F.sum("n_events")
                                       .alias("n_events")))
        # new suffix: last n-1 of (old suffix ++ batch tail)
        newfull = F.concat(sfx, F.col("__lastb"))
        newsfx = F.when(
            F.size(newfull) > m,
            F.slice(newfull, F.size(newfull) - F.lit(m - 1), m)
        ).otherwise(newfull)
        state = joined.select(F.col(user_col),
                              newsfx.alias("suffix"))
        if old is not None:
            keys = state.select(F.col(user_col).alias("__su"))
            keep = old.join(keys, on=[old[user_col].eqNullSafe(
                F.col("__su"))], how="left_anti")
            state = state.unionByName(keep)
        StateDir(agg_dir).write(counts, batch_id)
        StateDir(state_dir).write(state, batch_id)

    writer = (stream_df.writeStream.foreachBatch(_step)
              .queryName(query_name)
              .trigger(availableNow=True))
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def read_retention(spark: SparkSession, pairs_dir: str
                   ) -> Optional[DataFrame]:
    """The standing retention triangle across every batch partial under
    ``pairs_dir``: distinct (cohort, offset, user) across partitions →
    one distinct-count aggregate.  Partial volume is bounded by
    users x touched periods, never the event count.  ``None`` before
    the first batch lands."""
    parts = StateDir(pairs_dir).read_all(spark)
    if parts is None:
        return None
    return (parts.groupBy("cohort", "period_offset")
            .agg(F.count_distinct(F.col("user")).alias("n_active")))


def stream_retention_maintenance(stream_df: DataFrame, pairs_dir: str,
                                 state_dir: str, ts_col: str,
                                 user_col: str, period: str = "day",
                                 checkpoint_dir: Optional[str] = None,
                                 query_name: str =
                                 "retention_maintenance"):
    """Maintain the cohort-retention triangle from a stream: the
    standing state is each user's FIRST-event timestamp (snapshot per
    batch, same retry contract as the funnel state); each micro-batch
    emits its distinct ``(cohort, period_offset, user)`` activity
    pairs to ``pairs_dir/batch=<id>`` and :func:`read_retention`
    assembles the triangle from pairs (bounded by users x periods,
    never event volume).

    Contract: append-ordered ingestion — a user's first-seen timestamp
    is frozen once recorded, so the drained triangle equals the
    one-shot ``behavior.retention_cohorts`` exactly (pinned by test
    AND the driver oracle)."""
    from ..functions.behavior import cohort_offset_cols

    def _step(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        old = read_funnel_state(spark, state_dir, before=batch_id)
        bf = (batch.groupBy(F.col(user_col).alias("user"))
              .agg(F.min(F.col(ts_col)).alias("__bf")))
        if old is not None:
            # eqNullSafe fold: a NULL-keyed user group must MERGE with
            # its standing state, not accumulate a duplicate row per
            # batch (plain equi-join keys never match NULL)
            merged = (bf.join(old, on=[bf["user"].eqNullSafe(old["user"])],
                              how="full")
                      .select(F.coalesce(bf["user"], old["user"])
                              .alias("user"),
                              F.coalesce(old["first_ts"], bf["__bf"])
                              .alias("first_ts")))
        else:
            merged = bf.select("user", F.col("__bf").alias("first_ts"))
        merged = merged.localCheckpoint(eager=False)  # consumed by pairs AND state
        cohort, off = cohort_offset_cols(F.col("first_ts"),
                                         F.col(ts_col), period)
        bsel = batch.select(F.col(user_col).alias("user"),
                            F.col(ts_col))
        pairs = (bsel.join(merged,
                           on=[bsel["user"].eqNullSafe(merged["user"])])
                 .select(bsel["user"].alias("user"),
                         cohort.alias("cohort"),
                         off.alias("period_offset"))
                 .distinct())
        StateDir(pairs_dir).write(pairs, batch_id)
        StateDir(state_dir).write(merged, batch_id)

    writer = (stream_df.writeStream.foreachBatch(_step)
              .queryName(query_name)
              .trigger(availableNow=True))
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def prune_state_snapshots(state_dir: str, keep_latest: int = 1) -> int:
    """Delete all but the newest ``keep_latest`` ``batch=`` snapshot
    partitions of a snapshot-per-batch state dir (funnel / retention /
    transition state) — each snapshot is COMPLETE, so only the latest
    is ever read and older ones exist purely as retry fallbacks.
    Returns the number of pruned partitions.

    Run while the maintenance stream is STOPPED and only after its
    checkpoint has committed past every written batch: a retried batch
    reads the snapshot BEFORE its own id, which pruning could remove."""
    return StateDir(state_dir).prune(keep_latest)


def read_decayed(spark: SparkSession, state_dir: str,
                 out_col: str = "decayed") -> Optional[DataFrame]:
    """The standing decayed aggregate (latest snapshot, rounded to 6 at
    read — partials are kept unrounded so folding stays exact)."""
    st = read_funnel_state(spark, state_dir)
    if st is None:
        return None
    return (st.drop("__t")
            .withColumn(out_col, F.round(F.col(out_col), 6)))


def stream_decayed_maintenance(stream_df: DataFrame, state_dir: str,
                               ts_col: str, keys: list,
                               value_col: Optional[str] = None,
                               half_life: float = 86400.0,
                               checkpoint_dir: Optional[str] = None,
                               query_name: str = "decayed_maintenance"):
    """Maintain exponentially time-decayed sums/counts from a stream:
    the decayed sum SCALES under time shift —
    ``S(T') = S(T) · 2^(−(T'−T)/half_life)`` — so each micro-batch
    folds into the standing state with ONE rescale + add, no history
    rescan: the standing (keys, decayed, T) snapshot is rescaled to the
    batch's evaluation instant T' = max(T, batch max ts) and the
    batch's own unrounded partial (``decayed_agg(round_out=False)``)
    adds in.  Snapshot-per-batch retry contract as the funnel state;
    read with :func:`read_decayed` (rounds at read).

    Drained state == the one-shot ``decayed_agg`` over all events up to
    float association (pinned by the driver oracle's 6dp hash)."""
    import math

    from ..functions.behavior import decayed_agg

    lam = math.log(2.0) / float(half_life)
    kl = list(keys)

    def _step(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        old = read_funnel_state(spark, state_dir, before=batch_id)
        row = batch.agg(
            (F.max(F.unix_micros(F.col(ts_col).cast("timestamp")))
             / F.lit(1_000_000.0)).alias("m")).first()
        bmax = row["m"]
        oldt = (old.select(F.max("__t").alias("t")).first()["t"]
                if old is not None else None)
        if bmax is None and old is None:
            return  # nothing to record yet
        tref = max(x for x in (bmax, oldt) if x is not None)
        if bmax is not None:
            part = decayed_agg(batch, ts_col, kl, value_col,
                               half_life, at=tref, round_out=False)
        else:
            part = None
        if old is not None:
            scaled = old.select(
                *kl, (F.col("decayed")
                      * F.exp(F.lit(-lam)
                              * (F.lit(tref) - F.col("__t"))))
                .alias("__old"))
            if part is not None:
                # eqNullSafe per key column: NULL-keyed groups merge
                # with their standing partial instead of duplicating
                cond = functools.reduce(
                    lambda a, b: a & b,
                    [part[k_].eqNullSafe(scaled[k_]) for k_ in kl])
                new = (part.join(scaled, on=cond, how="full")
                       .select(*[F.coalesce(part[k_], scaled[k_])
                                 .alias(k_) for k_ in kl],
                               (F.coalesce(F.col("decayed"), F.lit(0.0))
                                + F.coalesce(F.col("__old"), F.lit(0.0)))
                               .alias("decayed")))
            else:
                new = scaled.select(*kl,
                                    F.col("__old").alias("decayed"))
        else:
            new = part
        StateDir(state_dir).write(
            new.withColumn("__t", F.lit(float(tref))), batch_id)

    writer = (stream_df.writeStream.foreachBatch(_step)
              .queryName(query_name)
              .trigger(availableNow=True))
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def stream_cdc_apply(stream_df: DataFrame, target_dir: str, on,
                     op_col: str = "op",
                     seq_col: Optional[str] = None,
                     insert_ops: tuple = ("I", "U"),
                     delete_ops: tuple = ("D",),
                     strategy: str = "broadcast",
                     checkpoint_dir: Optional[str] = None,
                     query_name: str = "cdc_apply",
                     partition_by: Optional[str] = None,
                     validate: bool = True,
                     file_prune: bool = False):
    """Maintain a standing keyed parquet table from a CDC change
    STREAM: each micro-batch folds through
    ``operators.merge.apply_changes_into`` (latest-change-per-key by
    ``seq_col``, U/I upsert + D keyed delete, crash-safe swap).

    Retry contract: the swap is atomic per batch and the fold is
    value-ABSOLUTE, so a retried batch re-applies idempotently whether
    the crash landed before or after its swap — no ``before=`` guard
    needed (unlike the snapshot-per-batch folds, there is exactly one
    standing table, not a partition per batch).  Cross-batch
    correctness needs per-key sequence numbers NON-DECREASING across
    batches (the log case): under it the drained table equals the
    one-shot :func:`operators.merge.apply_changes` over the whole feed
    (pinned by test and the driver oracle).

    ``partition_by=`` is the 100 TB lever, same contract as
    ``merge_into``: the standing table is hive-partitioned on that
    column (which must ride in ``on``) and each micro-batch reads and
    rewrites ONLY the partitions its changes touch — per-batch cost is
    O(touched partitions), not O(table).  Without it every batch
    rewrites the whole table through the swap, which is fine for a
    compact dimension table and a scale-killer for a large fact table.
    Crash recovery is by REPLAY (value-absolute fold + per-partition
    dynamic overwrite), matching Structured Streaming's batch retry.

    ``validate=False`` skips the no-seq key-uniqueness probe (the
    unknown-op guard is free either way — folded into the batch job,
    zero extra driver actions per micro-batch).

    ``file_prune=True`` stacks FILE-level skipping (footer key ranges
    on the first non-partition key) on each micro-batch's fold, alone
    or on top of ``partition_by=`` — a key-local change batch then
    costs O(touched files)."""
    from ..operators.merge import apply_changes_into

    def _step(batch: DataFrame, batch_id: int) -> None:
        apply_changes_into(batch.sparkSession, target_dir, batch, on,
                           op_col, seq_col, insert_ops, delete_ops,
                           strategy=strategy, partition_by=partition_by,
                           validate=validate, file_prune=file_prune)

    writer = (stream_df.writeStream.foreachBatch(_step)
              .queryName(query_name)
              .trigger(availableNow=True))
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()
