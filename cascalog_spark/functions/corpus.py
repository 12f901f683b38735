"""Corpus-level training-data operators: benchmark decontamination,
boilerplate (hot-line) removal, deterministic stratified sampling, and
context-window sequence packing.

These are the pipeline stages between "raw filtered docs" and "training
batches".  All are native DataFrame compositions (no Python in the hot
path, apart from the lang_id Arrow UDF inside ``corpus_report``) with
exact ANSI-SQL twins for the DuckDB oracle, and each is shaped for 100 TB:

- decontamination broadcasts the BENCHMARK shingle set (benchmarks are
  MBs; the corpus is the big side and is never collected or shuffled
  beyond its own explode→semi-join),
- boilerplate removal broadcasts the hot-line set (by definition a tiny
  fraction of distinct lines),
- stratified sampling is a pure map-side filter (md5-hash thresholding —
  no sampling shuffle, deterministic across engines and retries),
- sequence packing windows within a partition column (never a global
  single-partition sort).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import with_shingles
from .util import explode_fast


# ---------------------------------------------------------------------------
# benchmark decontamination (n-gram overlap vs a holdout/eval set)


def contamination(corpus: DataFrame, benchmark: DataFrame, k: int = 8,
                  text_col: str = "text", id_col: str = "doc_id",
                  broadcast: bool = True) -> DataFrame:
    """Per-document contamination stats: corpus docs sharing at least one
    k-token shingle with any benchmark doc → ``(id_col, n_hits)`` where
    ``n_hits`` counts the doc's DISTINCT shingles seen in the benchmark.

    The standard train/test-overlap check for pretraining corpora
    (GPT-3/PaLM-style n-gram decontamination).  The benchmark's distinct
    shingle set is broadcast — eval sets are MBs while the corpus is the
    100 TB side, so the join is map-side with no corpus shuffle; the
    per-doc groupBy shuffles only the contaminated subset.  Pass
    ``broadcast=False`` when the "benchmark" is itself corpus-sized (e.g.
    cross-corpus overlap audits) — the join then falls back to a shuffle
    join on the uniform shingle key."""
    c = with_shingles(corpus, text_col, k, "__sh")
    b = with_shingles(benchmark, text_col, k, "__sh")
    bench_sh = (explode_fast(b, F.col("__sh"), "__s")
                .select("__s").distinct())
    if broadcast:
        bench_sh = F.broadcast(bench_sh)
    return (explode_fast(c, F.col("__sh"), "__s")
            .select(F.col(id_col), "__s")
            .join(bench_sh, "__s")
            .groupBy(id_col)
            # shingles are distinct per doc already (array_distinct)
            .agg(F.count(F.lit(1)).alias("n_hits")))


def contamination_score(corpus: DataFrame, benchmark: DataFrame,
                        k: int = 8, text_col: str = "text",
                        id_col: str = "doc_id", broadcast: bool = True,
                        out_col: str = "contamination") -> DataFrame:
    """Per-document contaminated-shingle FRACTION in [0, 1] — the
    measurement you sweep to pick a decontamination threshold (boolean
    membership tells you *that* a doc overlaps an eval set; the score
    tells you *how much*, separating incidental n-gram collisions from
    verbatim inclusions).  Every corpus doc gets a row: clean docs score
    0.0, docs shorter than one shingle score 0.0.

    Cost = ``contamination`` (broadcast bench set, no corpus shuffle)
    plus one map-side per-doc shingle count and a left join keyed on doc
    id — the denominator never re-tokenizes (``with_shingles`` is the
    same single pass the hit count uses)."""
    hits = contamination(corpus, benchmark, k, text_col, id_col, broadcast)
    totals = with_shingles(corpus, text_col, k, "__sh") \
        .select(F.col(id_col), F.size("__sh").alias("__n_sh"))
    frac = (F.coalesce(F.col("n_hits"), F.lit(0))
            / F.greatest(F.col("__n_sh"), F.lit(1)))
    return (totals.join(hits, on=id_col, how="left")
            .select(F.col(id_col), F.round(frac, 6).alias(out_col)))


def decontaminate(corpus: DataFrame, benchmark: DataFrame, k: int = 8,
                  text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Drop contaminated docs from the corpus (left-anti against the
    contaminated id set)."""
    hits = contamination(corpus, benchmark, k, text_col, id_col)
    return corpus.join(hits.select(id_col), on=id_col, how="left_anti")


def shingle_bloom(benchmark: DataFrame, k: int = 8,
                  text_col: str = "text", n_bits: int = 1 << 20,
                  n_hashes: int = 3) -> list:
    """Bloom filter of the benchmark's distinct k-token shingles as a
    dense ``n_bits/64``-long Python list of 64-bit words.

    Built with native expressions (``n_hashes`` seeded xxhash64 positions
    per shingle, ``bit_or`` per word) and collected ONCE to the driver —
    O(n_bits/8) bytes (default 128 KiB), the same bounded-driver-state
    pattern as IVF centroids.  Embed it with ``bloom_contains`` as a
    CONSTANT literal in the corpus filter: a constant folds into
    whole-stage codegen, whereas shipping the bitset as a joined 1-row
    array column materializes 128 KiB onto every corpus shingle row
    (measured 6x slower at sf0.1).

    Size the filter ~10 bits/element for ~1% FP at ``n_hashes=3``
    (default 2^20 bits ≈ 100k shingles)."""
    assert n_bits % 64 == 0, "n_bits must be a multiple of 64"
    n_words = n_bits // 64
    b = with_shingles(benchmark, text_col, k, "__sh")
    sh = (explode_fast(b, F.col("__sh"), "__s")
          .select("__s").distinct())
    pos = sh.select(F.explode(F.array(*[
        F.pmod(F.xxhash64("__s", F.lit(j)), F.lit(n_bits))
        for j in range(n_hashes)])).alias("p"))
    rows = (pos.select(
                (F.col("p") / 64).cast("long").alias("w"),
                F.call_function("shiftleft", F.lit(1).cast("bigint"),
                                (F.col("p") % 64).cast("int")).alias("b"))
            .groupBy("w").agg(F.expr("bit_or(b)").alias("bits"))
            .collect())
    words = [0] * n_words
    for r in rows:
        words[r["w"]] = r["bits"]
    return words


def bloom_contains(words: list, value_col, n_bits: int = 1 << 20,
                   n_hashes: int = 3):
    """Membership test Column against a ``shingle_bloom`` word list.

    The seeded hash POSITIONS are native expressions (``pmod(xxhash64(v,
    seed), n_bits)`` — bit-identical to the build side, stays in
    codegen); the bit probes run in ONE Arrow-vectorized numpy kernel
    that holds the bitset as a closure array.  A pure-expression variant
    was measured and rejected: a 128 KiB array LITERAL blows the
    generated-method size limit, silently dropping the whole stage
    (including the upstream shingle pipeline) out of whole-stage codegen
    to interpreted mode — 6-10x slower end to end.  The kernel ships the
    bitset once per executor (pickled closure) and does three uint64
    gathers per row."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    # words are signed bit_or outputs; negative int -> uint64 coercion is
    # deprecated in numpy (would raise after an upgrade) — go through an
    # int64 array and reinterpret the bits
    w = np.asarray(words, dtype=np.int64).view(np.uint64)

    def _probe(*pos_cols):
        out = np.ones(len(pos_cols[0]), dtype=bool)
        for p in pos_cols:
            pv = p.to_numpy(dtype=np.int64)
            bits = (w[pv >> 6] >> (pv & 63).astype(np.uint64)) & np.uint64(1)
            out &= bits.astype(bool)
        return pd.Series(out)

    # type-hint-style eval-type inference (the PandasUDFType form is
    # deprecated); live objects, not strings — this module's
    # `from __future__ import annotations` would stringify inline hints
    # beyond what the inference can resolve for a *args kernel
    _probe.__annotations__ = {"pos_cols": pd.Series, "return": pd.Series}
    probe = pandas_udf(_probe, T.BooleanType())
    positions = [F.pmod(F.xxhash64(value_col, F.lit(j)), F.lit(n_bits))
                 for j in range(n_hashes)]
    return probe(*positions)


def contamination_bloom(corpus: DataFrame, benchmark: DataFrame,
                        k: int = 8, text_col: str = "text",
                        id_col: str = "doc_id", n_bits: int = 1 << 20,
                        n_hashes: int = 3) -> DataFrame:
    """``contamination`` with a Bloom PREFILTER on the corpus side —
    bit-identical results (bloom false positives are removed by the
    exact verify join), different scale shape: the corpus scan tests
    each shingle against a CONSTANT bitset (``n_bits/8`` bytes, default
    128 KiB, folded into codegen), so at 100 TB the full corpus never
    enters a join — only bloom-positive shingles (true hits + ~1% FP)
    reach the exact broadcast semi-join.  vs plain ``contamination``,
    the per-executor benchmark state shrinks from a string hash set
    (~50+ B/entry) to ~10 bits/entry and the join input shrinks by the
    non-contaminated fraction.  Note the bloom build is one EAGER pass
    over the benchmark side (bounded O(n_bits) driver state).

    When it wins: benchmark shingle sets too large to broadcast as a
    string hash relation (tens of millions of shingles).  At small SF
    the exact broadcast join is FASTER (sf0.1: 1.0s exact vs 1.8s bloom
    — the eager build pass dominates); prebuild the bloom once with
    ``shingle_bloom`` and reuse it across batches to amortize."""
    words = shingle_bloom(benchmark, k, text_col, n_bits, n_hashes)
    c = with_shingles(corpus, text_col, k, "__sh")
    cand = (explode_fast(c, F.col("__sh"), "__s")
            .select(F.col(id_col), "__s")
            .where(bloom_contains(words, F.col("__s"),
                                  n_bits, n_hashes)))
    b = with_shingles(benchmark, text_col, k, "__sh")
    bench_sh = (explode_fast(b, F.col("__sh"), "__s")
                .select("__s").distinct())
    return (cand.join(F.broadcast(bench_sh), "__s")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_hits")))


# ---------------------------------------------------------------------------
# boilerplate / hot-line removal (C4-style line-level dedup)


def boilerplate_lines(df: DataFrame, min_docs: int = 3,
                      text_col: str = "text", id_col: str = "doc_id",
                      sep: str = "\n") -> DataFrame:
    """Lines appearing in ≥ ``min_docs`` DISTINCT documents — the C4
    "repeated line" boilerplate set (nav bars, cookie banners, license
    headers).  Returns ``(line, n_docs)``.  One shuffle on the line key;
    count-distinct is a partial-aggregating native agg."""
    lines = F.filter(F.split(F.col(text_col), re.escape(sep)),
                     lambda x: x != F.lit(""))
    return (explode_fast(df, lines, "line")
            .select(F.col(id_col), "line")
            .groupBy("line")
            .agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
            .where(F.col("n_docs") >= min_docs))


def remove_boilerplate(df: DataFrame, min_docs: int = 3,
                       text_col: str = "text", id_col: str = "doc_id",
                       sep: str = "\n", broadcast: bool = True) -> DataFrame:
    """Rebuild each document without its boilerplate lines →
    ``(id_col, clean, n_kept, n_removed)``.

    The hot-line set is broadcast by default (boilerplate is usually a
    small fraction of DISTINCT lines even on a 100 TB corpus); when that
    assumption fails — low ``min_docs`` or heavily templated corpora can
    push the hot set past Spark's 8 GB broadcast limit — pass
    ``broadcast=False`` to fall back to a shuffled anti-join (same escape
    hatch as ``contamination``'s).  The reassembly groups by doc id —
    order restored via the exploded line position, so the output text is
    byte-deterministic.  Docs whose every line is boilerplate survive with
    empty text (they are filter candidates, not silent drops)."""
    hot = boilerplate_lines(df, min_docs, text_col, id_col, sep)
    lines = F.filter(F.split(F.col(text_col), re.escape(sep)),
                     lambda x: x != F.lit(""))
    ex = (explode_fast(df, lines, "line", pos_name="__pos")
          .select(F.col(id_col), "__pos", "line"))
    hot_side = hot.select("line")
    if broadcast:
        hot_side = F.broadcast(hot_side)
    kept = ex.join(hot_side, on="line", how="left_anti")
    reassembled = (kept.groupBy(id_col)
                   .agg(F.concat_ws(
                        sep, F.transform(
                            F.array_sort(F.collect_list(
                                F.struct(F.col("__pos"), F.col("line")))),
                            lambda s: s["line"])).alias("clean"),
                        F.count(F.lit(1)).alias("n_kept")))
    totals = df.select(F.col(id_col), F.size(lines).alias("__total"))
    return (totals.join(reassembled, on=id_col, how="left")
            .select(F.col(id_col),
                    F.coalesce(F.col("clean"), F.lit("")).alias("clean"),
                    F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
                    (F.col("__total")
                     - F.coalesce(F.col("n_kept"), F.lit(0)))
                    .alias("n_removed")))


# ---------------------------------------------------------------------------
# deterministic stratified sampling


def _unit_hash(col, seed: int):
    """Uniform [0,1) from md5 — bit-identical in DuckDB via
    (CAST(('0x'||substr(md5(x||'_'||seed),1,15)) AS BIGINT) % 1000000)
    / 1000000.0; deterministic across retries/engines (a seeded
    ``sample()`` is neither)."""
    h = F.conv(F.substring(
        F.md5(F.concat_ws("_", col.cast("string"), F.lit(str(seed)))),
        1, 15), 16, 10).cast("bigint")
    return (h % 1000000) / F.lit(1000000.0)


def split_corpus(df: DataFrame, weights: dict, id_col: str = "doc_id",
                 out_col: str = "split", seed: int = 42,
                 group_col: str | None = None) -> DataFrame:
    """Deterministic train/val/test assignment: one ``out_col`` label per
    row, chosen by where ``hash01(id, seed)`` falls in the cumulative
    weight intervals (weights normalized; insertion order fixes the
    interval layout).  Pure map-side — no shuffle, no RNG state; a doc
    keeps its split across reruns, retries, and engines (the property
    leakage audits depend on — ``randomSplit`` re-rolls per run).

    ``group_col`` switches the hash to a GROUP key: every row sharing
    the group value lands in the same split (the unit of assignment
    becomes the group — see ``dedup.leakage_free_split`` for the
    near-dup-cluster instantiation).

    Filter on the label (``.where("split = 'train'")``) or write
    partitioned by it."""
    if not weights:
        raise ValueError("split_corpus: weights must be non-empty")
    total = float(sum(weights.values()))
    u = _unit_hash(F.col(group_col or id_col), seed)
    acc = 0.0
    expr = None
    items = list(weights.items())
    for name, w in items[:-1]:
        acc += float(w) / total
        cond = u < F.lit(acc)
        expr = F.when(cond, F.lit(name)) if expr is None \
            else expr.when(cond, F.lit(name))
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(F.lit(last))
    return df.withColumn(out_col, expr)


def temperature_mixture(df: DataFrame, strata_col: str, alpha: float,
                        id_col: str = "doc_id", seed: int = 42,
                        max_rate: float = 1.0) -> DataFrame:
    """Temperature-based mixture sampling (the multilingual-corpus
    rebalancing rule, p(stratum) ∝ count^alpha): per-stratum keep rate
    ``(count / min_count) ** (alpha - 1)`` — anchored at the SMALLEST
    stratum because a filter can only down-sample, so the smallest keeps
    ``max_rate`` and larger strata shrink toward it.  alpha=1 keeps the
    natural distribution; alpha→0 flattens every stratum to ~min_count
    rows.

    One tiny per-stratum count aggregate broadcast back; the keep
    decision is the same deterministic md5 threshold as
    ``stratified_sample`` — map-side, engine-portable, reproducible."""
    if not 0.0 <= alpha <= 1.0:
        raise ValueError("temperature_mixture: alpha must be in [0, 1]")
    counts = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("__n"))
    mn = counts.agg(F.min("__n").alias("__mn"))
    rates = (counts.crossJoin(F.broadcast(mn))
             .select(F.col(strata_col),
                     (F.lit(float(max_rate))
                      * F.pow(F.col("__n") / F.col("__mn"),
                              F.lit(float(alpha) - 1.0))).alias("__rate")))
    u = _unit_hash(F.col(id_col), seed)
    return (df.join(F.broadcast(rates), on=strata_col, how="left")
            .where(u < F.coalesce(F.col("__rate"), F.lit(0.0)))
            .drop("__rate"))


def stratified_sample(df: DataFrame, fractions, strata_col: str,
                      id_col: str = "doc_id", seed: int = 42) -> DataFrame:
    """Deterministic per-stratum sampling: keep a row iff
    ``hash01(id, seed) < fraction(stratum)``.

    ``fractions`` is a single float or a {stratum: fraction} dict (missing
    strata keep 0.0 — explicit is better than surprise inclusion).  This
    is a pure map-side filter: no shuffle, no RNG state, reproducible on
    retry and identical in any engine that has md5 — the properties a
    100 TB mixture-weighting pass actually needs (Spark's ``sampleBy``
    is per-partition-RNG and not portable).

    ``fractions`` may also be a DataFrame with columns
    ``(strata_col, "fraction")`` — the mixture-table form for thousands of
    strata, where a CASE chain would be unwieldy; it is broadcast-joined
    (weight tables are tiny) and missing strata still keep 0.0."""
    u = _unit_hash(F.col(id_col), seed)
    if isinstance(fractions, DataFrame):
        w = fractions.select(F.col(strata_col),
                             F.col("fraction").cast("double"))
        return (df.join(F.broadcast(w), on=strata_col, how="left")
                .where(u < F.coalesce(F.col("fraction"), F.lit(0.0)))
                .drop("fraction"))
    if isinstance(fractions, dict):
        frac = F.lit(0.0)
        for s, f in sorted(fractions.items()):
            frac = F.when(F.col(strata_col) == F.lit(s),
                          F.lit(float(f))).otherwise(frac)
    else:
        frac = F.lit(float(fractions))
    return df.where(u < frac)


def weighted_sample(df: DataFrame, n: int, weight_col: str,
                    id_col: str = "doc_id", seed: int = 42) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis-
    Spirakis A-ES): each row draws ``u = hash01(id, seed)`` and keeps the
    ``n`` largest ``u^(1/w)`` keys — inclusion probability proportional
    to ``weight_col`` (quality-weighted corpus subsetting without a
    shuffle-the-world pass).

    The md5 draw makes the selected set retry-stable and engine-
    reproducible (same property as ``stratified_sample``); the top-n is
    TakeOrderedAndProject (per-partition heaps).  Rows with weight <= 0
    are excluded (their key is 0)."""
    if n <= 0:
        raise ValueError("weighted_sample: n must be > 0")
    u = _unit_hash(F.col(id_col), seed)
    w = F.col(weight_col).cast("double")
    # ln-domain for numeric stability: key = exp(ln(u)/w); u in [0,1) so
    # ln(u) <= 0; w<=0 → key 0 (excluded before any real candidate)
    key = F.when(w > 0, F.exp(F.log(u + F.lit(1e-12)) / w)) \
           .otherwise(F.lit(0.0))
    return (df.withColumn("__wkey", key)
            .orderBy(F.col("__wkey").desc(), F.col(id_col).asc())
            .limit(n)
            .drop("__wkey"))


def mix_corpora(sources: dict[str, tuple[DataFrame, float]],
                id_col: str = "doc_id", seed: int = 42) -> DataFrame:
    """Weighted training mixture: union the ``sources`` with per-source
    sampling weights, tagged ``(mix_source, epoch)`` — the dataset-mixing
    step that turns N corpora + mixture weights into one training stream.

    Weight semantics (the LLM-mixing convention): weight w keeps each doc
    ``floor(w)`` full times (``epoch`` = 0..floor(w)-1) plus one extra
    copy with probability ``frac(w)`` — so 2.5 means "2 full epochs + a
    deterministic half-sample third epoch", 0.3 means "keep 30%".

    Scale shape: the fractional keep is the same md5-threshold map-side
    filter as ``stratified_sample`` (zero shuffle, retry-deterministic,
    engine-portable); integer upsampling is ``explode(sequence(...))`` —
    JVM-native, no data motion; the final union is a bag union (no
    distinct pass).  Schemas must match across sources (union by name).
    """
    if not sources:
        raise ValueError("mix_corpora: at least one source required")
    parts = []
    for name, (df, weight) in sorted(sources.items()):
        if weight < 0:
            raise ValueError(f"mix_corpora: negative weight for {name!r}")
        full, frac = int(weight), weight - int(weight)
        u = _unit_hash(F.col(id_col), seed)
        # epoch ids 0..full-1 unconditionally; epoch `full` iff the md5
        # draw keeps the doc for the fractional remainder
        n_epochs = (F.lit(full)
                    + F.when(u < F.lit(frac), 1).otherwise(0))
        part = (df.withColumn("__n_ep", n_epochs)
                .where(F.col("__n_ep") > 0)
                .withColumn("epoch", F.explode(
                    F.sequence(F.lit(0), F.col("__n_ep") - 1)))
                .drop("__n_ep")
                .withColumn("mix_source", F.lit(name)))
        parts.append(part)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# sequence packing (context-window batch assembly)


def pack_sequences(df: DataFrame, max_tokens: int = 512,
                   part_col: str = "source", id_col: str = "doc_id",
                   text_col: str = "text",
                   n_shards: int | None = None) -> DataFrame:
    """Assign documents to fixed-token-budget training sequences:
    ``(id_col, part_col, n_tokens, seq_id, seq_pos)``
    (+ ``shard`` when ``n_shards`` is set).

    Greedy contiguous fill in deterministic ``id_col`` order: a doc joins
    the sequence its running token offset falls into
    (``seq_id = floor(offset / max_tokens)``), ``seq_pos`` numbers docs
    within a sequence.  The window partitions by ``part_col`` — packing is
    per-shard by design (training shards don't pack across files), so
    there is never a global single-partition sort.

    ``n_shards`` is the skew guard: when one ``part_col`` value holds a
    disproportionate share of the corpus (or there is only one), packing
    additionally shards by ``pmod(md5-hash(id), n_shards)`` and the window
    runs per ``(part_col, shard)`` — each window partition is bounded at
    ~1/n_shards of the hot key.  Packing is an approximation by nature
    (greedy fill), so per-shard packing loses nothing."""
    toks = F.filter(F.split(F.col(text_col), r"\s+"),
                    lambda t: t != F.lit(""))
    out = df.select(F.col(id_col), F.col(part_col),
                    F.size(toks).alias("n_tokens"))
    part_keys = [part_col]
    if n_shards is not None:
        h = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 15),
                   16, 10).cast("bigint")
        out = out.withColumn("shard", F.pmod(h, F.lit(n_shards)))
        part_keys = [part_col, "shard"]
    w = Window.partitionBy(*part_keys).orderBy(id_col)
    out = (out.withColumn("__cum", F.sum("n_tokens").over(w))
           .withColumn("seq_id",
                       F.floor((F.col("__cum") - F.col("n_tokens"))
                               / F.lit(max_tokens)).cast("bigint")))
    w2 = Window.partitionBy(*part_keys, "seq_id").orderBy(id_col)
    return (out.withColumn("seq_pos",
                           (F.row_number().over(w2) - 1).cast("bigint"))
            .drop("__cum"))


def cap_per_stratum(df: DataFrame, n: int, strata_col: str,
                    id_col: str = "doc_id", seed: int = 42) -> DataFrame:
    """Domain/source quota capping: keep at most ``n`` rows per stratum,
    chosen by the deterministic md5(id, seed) key — the mixture-control
    step of a corpus pipeline (cap any one domain's share before packing).

    Window + row_number per stratum: partial shuffle on the stratum key
    only; the hash order makes the kept set a pure function of
    (data, seed) — reproducible on retry and oracle-checkable (same
    QUALIFY row_number() spelling in any engine).  A skewed hot stratum is
    bounded by the window's external sort (spills, never OOMs); when the
    cap is small relative to the hot key, AQE's skew-join handling does
    not apply to windows, so extremely hot strata pay one sorted pass —
    the price of an exact per-key quota."""
    u = _unit_hash(F.col(id_col), seed)
    w = Window.partitionBy(strata_col).orderBy(u.asc(), F.col(id_col).asc())
    return (df.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= n).drop("__rn"))


def select_by_budget(df: DataFrame, budget, weight_col: str,
                     order_col: str, id_col: str = "doc_id",
                     ascending: bool = False, method: str = "auto",
                     bins: int = 1024,
                     window_threshold: int = 200_000) -> DataFrame:
    """Token-budget corpus selection: keep the best rows — ordered by
    ``order_col`` (descending by default; ``id_col`` breaks ties) — while
    the RUNNING TOTAL of ``weight_col`` stays within ``budget``.  The
    "spend a fixed token budget on the highest-quality documents" step of
    a training-data pipeline.

    Semantically ``sum(weight) OVER (ORDER BY order, id) <= budget`` —
    but a global ordered window is a single-partition sort, dead at
    100 TB.  ``method='histogram'`` is the scale path, exact in two
    bounded passes (the same idea as the prefix_assoc bufferiter scan):

    1. one aggregate pass bins ``order_col`` into ``bins`` range buckets
       and sums weight per bucket (``bins`` rows to the driver — O(bins),
       never data-sized);
    2. the driver prefix-sums the bucket totals to find the BOUNDARY
       bucket where the budget is crossed: whole buckets before it are
       kept outright (map-side filter, no sort), buckets after it are
       dropped outright, and only the ~1/bins boundary slice pays an
       exact in-bucket cumulative window (partitioned BY BUCKET, so it
       never globally sorts).

    With integer weights every comparison is exact; the kept set is
    bit-identical to the window spelling.  Degenerate ``order_col``
    distributions (one massive tie) collapse the boundary bucket to the
    whole input — the documented worst case, equal to ``method='window'``.

    ``method='auto'`` routes by a cheap upper bound: window below
    ``window_threshold`` rows, histogram above.  NOTE: when the plan
    carries no row-count statistics, 'auto' pays one EAGER ``df.count()``
    to decide (same caveat as ``semantic_dedup(method='auto')``) — pass
    ``method=`` explicitly to stay lazy.  Returns the input rows
    (original columns) that fit the budget."""
    if method == "auto":
        method = "window" if _cheap_count(df) <= window_threshold \
            else "histogram"
    ocol = F.col(order_col).desc() if not ascending \
        else F.col(order_col).asc()
    if method == "window":
        w = Window.orderBy(ocol, F.col(id_col).asc())
        return (df.withColumn("__cum", F.sum(weight_col).over(w))
                .where(F.col("__cum") <= F.lit(budget)).drop("__cum"))
    if method != "histogram":
        raise ValueError(f"unknown method: {method!r}")

    stats = df.agg(F.min(order_col).alias("lo"),
                   F.max(order_col).alias("hi")).collect()[0]
    lo, hi = stats["lo"], stats["hi"]
    if lo is None or lo == hi:
        # empty input or one giant tie: no range to bin — exact window
        w = Window.orderBy(ocol, F.col(id_col).asc())
        return (df.withColumn("__cum", F.sum(weight_col).over(w))
                .where(F.col("__cum") <= F.lit(budget)).drop("__cum"))
    # bucket 0 = best order_col values (max end when descending)
    span = (F.col(order_col).cast("double") - F.lit(float(lo))) \
        / F.lit(float(hi) - float(lo))
    frac = (F.lit(1.0) - span) if not ascending else span
    b = F.least(F.floor(frac * F.lit(bins)).cast("bigint"),
                F.lit(bins - 1))
    binned = df.withColumn("__b", b)
    per_bucket = (binned.groupBy("__b")
                  .agg(F.sum(weight_col).alias("__w"))
                  .collect())
    totals = {r["__b"]: r["__w"] for r in per_bucket}
    cum, boundary, prefix = 0, None, 0
    for k in sorted(totals):
        if cum + totals[k] > budget:
            boundary, prefix = k, cum
            break
        cum += totals[k]
    if boundary is None:
        return df  # everything fits
    wb = Window.partitionBy("__b").orderBy(ocol, F.col(id_col).asc())
    in_boundary = (F.col("__b") == F.lit(boundary))
    kept = (binned
            .where(F.col("__b") <= F.lit(boundary))
            .withColumn("__cum", F.when(in_boundary,
                                        F.sum(weight_col).over(wb))
                        .otherwise(F.lit(0)))
            .where((~in_boundary)
                   | (F.col("__cum") + F.lit(prefix) <= F.lit(budget)))
            .drop("__b", "__cum"))
    return kept


def _cheap_count(df: DataFrame) -> int:
    """Upper-bound row estimate without a full count when possible."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        n = plan.stats().rowCount()
        if n.isDefined():
            return int(str(n.get()))
    except Exception:
        pass
    return df.count()


# ---------------------------------------------------------------------------
# DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
# arXiv:2302.03169): score raw docs by how target-like their hashed
# n-gram profile is, then Gumbel-top-k resample toward the target.


def _hashed_ngram_buckets(df: DataFrame, text_col: str, n_buckets: int,
                          seed: int, id_col: str | None = None,
                          carry: list[str] | None = None) -> DataFrame:
    """One row per unigram/bigram OCCURRENCE, md5-bucketed into
    ``n_buckets`` (DuckDB-bit-identical, same scheme as ``_unit_hash``).
    With ``id_col`` the doc id rides along for per-doc counting;
    ``carry`` names extra (already-present) columns to ride along too."""
    from .text import tokens_col

    toks = tokens_col(F.col(text_col))
    n = F.size(toks)
    bigrams = F.when(n >= 2, F.zip_with(
        F.slice(toks, 1, n - 1), F.slice(toks, 2, n - 1),
        lambda a, b: F.concat_ws(" ", a, b))).otherwise(
        F.array().cast("array<string>"))
    carry = carry or []
    cols = ([F.col(id_col).alias("__id")] if id_col else [])
    cols += [F.col(c) for c in carry]
    ex = explode_fast(
        df.select(*cols, F.concat(toks, bigrams).alias("__f")),
        F.col("__f"), "__feat")
    h = F.conv(F.substring(
        F.md5(F.concat_ws("_", F.col("__feat"), F.lit(str(seed)))),
        1, 15), 16, 10).cast("bigint")
    keep = (["__id"] if id_col else []) + list(carry)
    return ex.select(*keep, (h % n_buckets).alias("__b"))


def dsir_weights(raw: DataFrame, target, id_col: str = "doc_id",
                 text_col: str = "text", n_buckets: int = 1 << 16,
                 alpha: float = 0.5, seed: int = 7,
                 materialize: bool = True) -> DataFrame:
    """Per-doc DSIR importance log-weight ``ln p_target(doc)/p_raw(doc)``
    under add-alpha-smoothed hashed-n-gram (unigram + bigram) bag models
    — the scoring half of Data Selection via Importance Resampling.

    ``lr_b = ln((ct_b+a)/(Nt+aB)) - ln((cr_b+a)/(Nr+aB))`` per bucket;
    ``logw(doc) = sum_b cnt_{doc,b} * lr_b`` (rounded to 6 for
    engine-stable comparison).  Docs with zero tokens are absent (same
    contract as ``unigram_nll``).

    Shapes for 100 TB: the feature explode is O(tokens) map-side work;
    the wide ops are a groupBy on at most ``n_buckets`` keys per corpus
    plus the per-doc (id, bucket) count; the bucket log-ratio table is
    <= ``n_buckets`` rows (default 65k ~ 1 MB) and is BROADCAST back to
    the per-doc counts — the raw corpus is never collected and the raw
    side shuffles only its own token counts.  The raw-corpus bucket
    totals are a ROLLUP of the per-doc aggregate (one tokenization
    pass, same trick as ``bigram_nll``); that aggregate is persisted —
    release with ``text.release_tfidf_cache``.  md5 bucketing keeps the
    whole computation deterministic across engines and retries.

    ``target`` may also be a boolean **Column** over ``raw`` (e.g.
    ``F.col("source") == "wiki"``): the target bucket totals then roll
    up from the SAME per-doc aggregate — the target side costs no
    second tokenization/explode, bit-identical to passing
    ``raw.where(col)``."""
    from pyspark import StorageLevel
    from pyspark.sql import Column

    target_pred = target if isinstance(target, Column) else None
    if target_pred is not None:
        keyed = raw.select(F.col(id_col), F.col(text_col),
                           target_pred.alias("__tgt"))
        # __tgt rides the explode (one boolean per occurrence) and the
        # per-doc groupBy — it is functionally dependent on __id, so
        # adding it to the grouping key leaves the groups unchanged.
        # Both bucket totals then roll up in ONE pass over the cached
        # per-doc aggregate: cr = sum(cnt), ct = sum(cnt where tgt) —
        # this replaces two separate aggregate passes, a doc-keyed
        # left-semi join, AND the full-outer __b join (the target docs
        # are a subset of raw, so ct's bucket set ⊆ cr's and the outer
        # join was a left-outer in disguise).  Identical bigint sums →
        # bit-equal log-ratios (guide §2.3/§2.4: aggregate before you
        # shuffle; remove shuffles outright).
        doc_b = (_hashed_ngram_buckets(keyed, text_col, n_buckets, seed,
                                       id_col=id_col, carry=["__tgt"])
                 .groupBy("__id", "__tgt", "__b")
                 .agg(F.count(F.lit(1)).alias("__cnt")))
        if materialize:
            doc_b = doc_b.persist(StorageLevel.MEMORY_AND_DISK)
        lr0 = (doc_b.groupBy("__b")
               .agg(F.sum("__cnt").alias("__cr"),
                    F.coalesce(
                        F.sum(F.when(F.col("__tgt"), F.col("__cnt"))),
                        F.lit(0)).alias("__ct")))
    else:
        doc_b = (_hashed_ngram_buckets(raw, text_col, n_buckets, seed,
                                       id_col=id_col)
                 .groupBy("__id", "__b")
                 .agg(F.count(F.lit(1)).alias("__cnt")))
        if materialize:
            doc_b = doc_b.persist(StorageLevel.MEMORY_AND_DISK)
        cr = doc_b.groupBy("__b").agg(F.sum("__cnt").alias("__cr"))
        ct = (_hashed_ngram_buckets(target, text_col, n_buckets, seed)
              .groupBy("__b").agg(F.count(F.lit(1)).alias("__ct")))
        lr0 = (ct.join(cr, on="__b", how="full")
               .select("__b",
                       F.coalesce("__ct", F.lit(0)).alias("__ct"),
                       F.coalesce("__cr", F.lit(0)).alias("__cr")))
    tot = lr0.agg(F.sum("__ct").cast("double").alias("__nt"),
                  F.sum("__cr").cast("double").alias("__nr"))
    ab = F.lit(float(alpha) * n_buckets)
    lr = (lr0.crossJoin(F.broadcast(tot))
          .select("__b",
                  (F.log((F.col("__ct") + F.lit(float(alpha)))
                         / (F.col("__nt") + ab))
                   - F.log((F.col("__cr") + F.lit(float(alpha)))
                           / (F.col("__nr") + ab))).alias("__lr")))
    out = (doc_b.join(F.broadcast(lr), on="__b")
           .groupBy("__id")
           .agg(F.round(F.sum(F.col("__cnt") * F.col("__lr")), 6)
                .alias("dsir_logw"))
           .select(F.col("__id").alias(id_col), "dsir_logw"))
    if materialize:
        out._tfidf_cache = doc_b
    return out


def dsir_sample(raw: DataFrame, target, n: int,
                id_col: str = "doc_id", text_col: str = "text",
                temperature: float = 1.0, n_buckets: int = 1 << 16,
                alpha: float = 0.5, seed: int = 7,
                materialize: bool = True) -> DataFrame:
    """Gumbel-top-k resampling WITHOUT replacement by DSIR importance
    weight: ``key = logw/temperature + Gumbel(0,1)``, take the n largest
    — equivalent to sampling n docs without replacement with probability
    proportional to ``exp(logw/temperature)`` (Vieira 2014 gumbel-top-k).
    The uniform is a deterministic md5 hash of the doc id (strictly
    inside (0,1)), so the draw is reproducible across engines/retries.

    ``orderBy(key).limit(n)`` compiles to TakeOrderedAndProject — a
    per-partition heap + driver merge of n rows/partition, never a
    global sort shuffle.  Returns the selected raw rows + ``dsir_logw``."""
    w = dsir_weights(raw, target, id_col=id_col, text_col=text_col,
                     n_buckets=n_buckets, alpha=alpha, seed=seed,
                     materialize=materialize)
    h = F.conv(F.substring(
        F.md5(F.concat_ws("_", F.col(id_col).cast("string"),
                          F.lit("gum" + str(seed)))), 1, 15),
        16, 10).cast("bigint")
    u = (h % 1000000 + F.lit(0.5)) / F.lit(1000000.0)
    key = (F.col("dsir_logw") / F.lit(float(temperature))
           - F.log(-F.log(u)))
    out = (raw.join(w, on=id_col)
           .orderBy(key.desc(), F.col(id_col))
           .limit(n))
    if materialize:
        out._tfidf_cache = getattr(w, "_tfidf_cache", None)
    return out


# ---------------------------------------------------------------------------
# semantic (embedding-space) decontamination — the paraphrase-robust
# complement to the n-gram `decontaminate`/`contamination_score` family.


def semantic_contamination_score(corpus: DataFrame, benchmark: DataFrame,
                                 id_col: str = "doc_id",
                                 vec_col: str = "embedding",
                                 bench_vec_col: str | None = None
                                 ) -> DataFrame:
    """Per-corpus-row MAX cosine against ANY benchmark vector — the
    embedding-space analog of ``contamination_score``, for tuning a
    semantic-decontamination threshold (paraphrased eval leakage that
    n-gram overlap misses).

    Benchmarks are eval sets (KBs-MBs) and are BROADCAST; scoring is a
    nested-loop over each corpus partition with the native fold dot
    product (the ``knn_join`` pattern — zero corpus shuffle), and the
    per-id max reduces MAP-SIDE to one row per corpus id before the
    only exchange.  Returns ``(id_col, max_sim)``."""
    from .similarity import dot_col, norm_col

    bvc = bench_vec_col or vec_col
    bench = (benchmark.select(F.col(bvc).cast("array<double>")
                              .alias("__bv"))
             .withColumn("__bn", norm_col(F.col("__bv"))))
    c = (corpus.select(F.col(id_col),
                       F.col(vec_col).cast("array<double>").alias("__cv"))
         .withColumn("__cn", norm_col(F.col("__cv"))))
    sim = (dot_col(F.col("__cv"), F.col("__bv"))
           / (F.col("__cn") * F.col("__bn")))
    return (c.crossJoin(F.broadcast(bench))
            .groupBy(id_col)
            .agg(F.round(F.max(sim), 6).alias("max_sim")))


def semantic_decontaminate(corpus: DataFrame, benchmark: DataFrame,
                           threshold: float = 0.95,
                           id_col: str = "doc_id",
                           vec_col: str = "embedding",
                           bench_vec_col: str | None = None) -> DataFrame:
    """Drop corpus rows embedding-similar (cosine >= ``threshold``) to
    ANY benchmark vector.  The contaminated-id set is tiny by
    construction (it is bounded by what resembles the eval set), so it
    anti-joins back as a broadcast — corpus rows never reshuffle."""
    scores = semantic_contamination_score(corpus, benchmark,
                                          id_col=id_col, vec_col=vec_col,
                                          bench_vec_col=bench_vec_col)
    bad = scores.where(F.col("max_sim") >= F.lit(float(threshold))) \
                .select(id_col)
    return corpus.join(F.broadcast(bad), on=id_col, how="left_anti")


def balanced_shards(df: DataFrame, n_shards: int, weight_col: str,
                    id_col: str = "doc_id", seed: int = 7,
                    bins: int = 1024) -> DataFrame:
    """Assign rows to ``n_shards`` training shards of NEAR-EQUAL TOTAL
    WEIGHT (token mass, not row count) in a deterministic shuffled
    order — the export step where equal-sized shards keep every data
    loader busy for the same wall time.

    Rows are ordered by the md5(id, seed) permutation key, the exact
    global running total comes from ``global_running_total`` (range-bin
    + driver bin-offsets + per-bucket windows — no global sort; the md5
    key is uniform so the buckets are balanced by construction), and
    ``shard = (cum - w) // ceil(total/n_shards)`` — each shard's total
    overshoots the target by at most one row's weight.  Deterministic
    across engines/retries.  Returns the input + ``shard``."""
    from .window import global_running_total

    if n_shards <= 0:
        raise ValueError("balanced_shards: n_shards must be > 0")
    h = F.conv(F.substring(
        F.md5(F.concat_ws("_", F.col(id_col).cast("string"),
                          F.lit("shard" + str(seed)))), 1, 15),
        16, 10).cast("bigint")
    keyed = df.withColumn("__sk", h)
    cum = global_running_total(keyed, weight_col, "__sk", id_col,
                               bins=bins, out_col="__cum")
    total = df.agg(F.sum(weight_col)).first()[0] or 0
    target = max(1, -(-int(total) // int(n_shards)))  # ceil
    shard = F.floor((F.col("__cum") - F.col(weight_col))
                    / F.lit(float(target))).cast("int")
    return (cum.withColumn("shard",
                           F.least(F.lit(n_shards - 1),
                                   F.greatest(F.lit(0), shard)))
            .drop("__sk", "__cum"))


def corpus_report(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """ONE-ROW corpus profile — the know-your-data stage before any
    curation decision: doc/token counts, exact token-length quantiles,
    mean quality score, the dominant language and its share, and the
    exact duplicate-text rate.

    Cost model: one map pass computes per-doc tokens/quality/lang (native
    Column chains plus lang_id's Arrow UDF), then a handful of O(1)-output
    aggregates; the
    language top-1 is a groupBy on <= #langs keys; the dup rate is one
    count-distinct over md5(text).  Every statistic is deterministic
    (exact interpolated percentiles, md5 keys), so any engine reproduces
    the row bit-for-bit."""
    from .text import lang_id, quality_score, token_count

    base = lang_id(quality_score(token_count(df, text_col=text_col),
                                 text_col=text_col), text_col=text_col)
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.percentile("n_tokens", F.lit(0.5)), 4)
         .alias("p50_tokens"),
        F.round(F.percentile("n_tokens", F.lit(0.9)), 4)
         .alias("p90_tokens"),
        F.round(F.avg("quality"), 6).alias("mean_quality"),
        F.countDistinct(F.md5(F.col(text_col))).alias("n_distinct_texts"))
    top = (base.groupBy("lang_pred").agg(F.count(F.lit(1)).alias("n"))
           .orderBy(F.desc("n"), F.asc("lang_pred")).limit(1)
           .select(F.col("lang_pred").alias("top_lang"),
                   F.col("n").alias("top_lang_n")))
    return (stats.crossJoin(F.broadcast(top))
            .select("n_docs", "total_tokens", "p50_tokens", "p90_tokens",
                    "mean_quality", "top_lang",
                    F.round(F.col("top_lang_n")
                            / F.col("n_docs"), 6).alias("top_lang_frac"),
                    F.round(F.lit(1.0) - F.col("n_distinct_texts")
                            / F.col("n_docs"), 6).alias("dup_rate")))


def length_buckets(df: DataFrame, len_col: str = "n_tokens",
                   ceilings: list[int] | None = None,
                   min_ceiling: int = 16) -> DataFrame:
    """Padded-batch geometry report: bucket documents by sequence
    length into padding ceilings → one row per bucket
    ``(bucket, n_docs, total_tokens, padded_tokens, waste_frac)``.

    A training loader that pads every sequence in a batch to the batch
    max wastes ``padded - total`` tokens of compute; this report (the
    know-your-data pass behind length-grouped batching) prices that
    waste per bucket.  Default ceilings are powers of two (clamped at
    ``min_ceiling``); pass an explicit sorted ``ceilings`` list for a
    trainer's real bucket boundaries — lengths above the top ceiling
    land in a NULL bucket (overflow: sequences the loader would
    truncate or reject; their padded_tokens is NULL).

    One groupBy on the derived bucket — map-side combine collapses each
    partition to <= #buckets rows, nothing else shuffles.
    """
    n = F.greatest(F.col(len_col).cast("long"), F.lit(1))
    if ceilings is None:
        # Spark's log2 is ln(x)/ln(2) and rounds HIGH at exact powers
        # of two (log2(2^29) -> 29.000000000000004, ceil -> 30), unlike
        # libm log2 (exact there) — correct the candidate back down/up
        # so bucket(2^k) == 2^k at every k
        cand = (F.pow(F.lit(2.0), F.ceil(F.log2(n.cast("double"))))
                .cast("long"))
        cand = (F.when(cand / 2 >= n, (cand / 2).cast("long"))
                .when(cand < n, cand * 2)
                .otherwise(cand))
        bucket = F.greatest(cand, F.lit(int(min_ceiling)))
    else:
        if sorted(ceilings) != list(ceilings) or not ceilings:
            raise ValueError("length_buckets: ceilings must be a "
                             "non-empty ascending list")
        bucket = F.lit(None).cast("long")
        for b in sorted(ceilings, reverse=True):
            bucket = F.when(n <= int(b), F.lit(int(b))).otherwise(bucket)
    out = (df.groupBy(bucket.alias("bucket"))
           .agg(F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.col(len_col).cast("long")).alias("total_tokens")))
    padded = F.col("bucket") * F.col("n_docs")
    return (out.withColumn("padded_tokens", padded)
            .withColumn("waste_frac",
                        F.round(1.0 - F.col("total_tokens") / padded, 6))
            .select("bucket", "n_docs", "total_tokens", "padded_tokens",
                    "waste_frac"))


def rank_fusion(df: DataFrame, signals: dict, id_col: str = "doc_id",
                k: int = 60, out_col: str = "rrf_score",
                keep_ranks: bool = False) -> DataFrame:
    """Reciprocal-rank fusion of multiple quality signals:
    ``rrf = Σ_s w_s / (k + rank_s)`` — the standard way to combine
    incomparable scores (a classifier probability, an n-gram NLL, a
    centrality, a length prior) into ONE selection ordering without
    calibrating any of them; rank-space fusion is immune to each
    signal's scale and outliers, and ``k`` (Cormack's 60) damps the top
    ranks so no single signal dominates.

    ``signals`` maps column → ``"desc"`` (higher is better) or
    ``"asc"``, or ``(direction, weight)``.  Ranks are EXACT global
    ranks (ties broken by ``id_col``) via
    ``window.global_running_total`` — range-bin + driver offsets +
    per-bucket windows, parallelism #bins, never a single-partition
    sort; one pass per signal.  Rows with a NULL in any fused signal
    are dropped (a signal you cannot compute cannot rank — and a null
    rank would poison the fused sum).  ``keep_ranks=True`` appends
    ``<col>_rank`` columns for inspection.

    ``id_col`` must be UNIQUE (like every id-keyed op in this module):
    the tie-break rank comes from a RANGE-framed running count, so
    duplicate ids would become rank peers sharing one cumulative rank
    and double-count their rrf terms (ADVICE r6)."""
    from functools import reduce as _reduce

    from .window import global_running_total

    if not signals:
        raise ValueError("rank_fusion: signals must be non-empty")
    if k <= 0:
        raise ValueError("rank_fusion: k must be > 0")
    parsed = []
    for col, spec in signals.items():
        direction, weight = (spec if isinstance(spec, tuple)
                             else (spec, 1.0))
        if direction not in ("asc", "desc"):
            raise ValueError(f"rank_fusion: direction for {col!r} must "
                             f"be 'asc' or 'desc', got {direction!r}")
        parsed.append((col, direction, float(weight)))
    out = df
    for col, _, _ in parsed:
        out = out.where(F.col(col).isNotNull())
    out = out.withColumn("__rf_one", F.lit(1))
    for col, direction, _ in parsed:
        out = global_running_total(out, "__rf_one", col, id_col,
                                   ascending=(direction == "asc"),
                                   out_col=f"__rf_{col}")
    terms = [F.lit(w) / (F.lit(k) + F.col(f"__rf_{c}"))
             for c, _, w in parsed]
    out = out.withColumn(out_col,
                         _reduce(lambda a, b: a + b, terms))
    if keep_ranks:
        for col, _, _ in parsed:
            out = out.withColumn(f"{col}_rank", F.col(f"__rf_{col}"))
    return out.drop("__rf_one", *[f"__rf_{c}" for c, _, _ in parsed])


def curriculum_stages(df: DataFrame, score_col: str,
                      n_stages: int = 4, id_col: str = "doc_id",
                      ascending: bool = True,
                      out_col: str = "stage") -> DataFrame:
    """Curriculum staging: assign each document an equal-size training
    stage by exact global rank of ``score_col`` (ties broken by
    ``id_col``), stage 0 = the ``ascending`` end — easy-to-hard
    ordering for curriculum schedules, or hard-first with
    ``ascending=False``.

    Stages are EXACT rank quantiles (every stage holds floor/ceil(N/k)
    docs) computed WITHOUT a single-partition sort: the global rank is
    ``window.global_running_total`` of weight 1 (range-bin + driver
    offsets + per-bucket windows — parallelism #bins).  Export each
    stage with ``layout.write_shuffled`` for within-stage order
    randomization.  Eager-cost note: three driver actions total — the
    range probe and bucket totals inside ``global_running_total`` plus
    one ``df.count()`` for the quantile denominator (an export-time
    op; acceptable by design).
    """
    from .window import global_running_total  # noqa: F401  (sibling pkg)

    if n_stages <= 0:
        raise ValueError("curriculum_stages: n_stages must be > 0")
    ranked = global_running_total(df.withColumn("__one", F.lit(1)),
                                  "__one", score_col, id_col,
                                  ascending=ascending, out_col="__rank")
    n = df.count()
    stage = F.least(F.lit(n_stages - 1),
                    F.floor((F.col("__rank") - 1) * n_stages
                            / F.lit(max(n, 1))).cast("int"))
    return ranked.withColumn(out_col, stage).drop("__one", "__rank")


def mine_contrastive_pairs(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text", num_perm: int = 16,
                           bands: int = 4, shingle_k: int = 3,
                           seed: int = 42,
                           materialize: bool = True) -> DataFrame:
    """Contrastive training triplets from a raw corpus →
    ``(anchor_id, positive_id, negative_id)``: positives are MinHash-
    LSH near-dup pairs (the classic weak-supervision signal for
    embedding-model training), negatives are deterministic
    pseudo-random partners that are provably NOT LSH-neighbors of the
    anchor.

    Everything is deterministic under ``seed`` and partitioning:
    pairs and documents each get an exact global md5-hash rank
    (``window.global_running_total`` — no single-partition sort), the
    i-th pair takes the ``(i-1) mod n_docs + 1``-th ranked doc as its
    negative candidate, and candidates that collide with the anchor /
    positive or share an LSH bucket with the anchor are DROPPED (a
    bounded fraction; rejection keeps the op one pass instead of a
    retry loop).  Shuffle cost: the LSH candidate join + two
    rank-binned windows + one rank equi-join + one anti-join.

    ``materialize=True`` (default, the dsir_weights-style contract):
    the result is EAGERLY localCheckpoint'ed so the LSH candidate
    subtree (five consumers) and the id projection (four jobs) compute
    once and their caches release inside the call — the returned frame
    is then non-recomputable (executor loss after return cannot
    rebuild it; write it out promptly).  ``materialize=False`` keeps
    the full lazy lineage (safe under executor loss; explain() costs
    nothing) at the price of recomputing the LSH join per consumer.
    """
    from .dedup import minhash_lsh_candidates
    from .window import global_running_total

    def hrank(frame, cols, out):
        h = F.conv(F.substring(
            F.md5(F.concat_ws("|", F.lit(str(seed)),
                              *[F.col(c).cast("string") for c in cols])),
            1, 15), 16, 10).cast("long")
        ranked = global_running_total(
            frame.withColumn("__h", h).withColumn("__one", F.lit(1)),
            "__one", "__h", cols[0], out_col=out)
        return ranked.drop("__h", "__one")

    from pyspark import StorageLevel

    docs = df.select(F.col(id_col).alias("__nid"))
    empty = df.select(F.col(id_col).alias("anchor_id"),
                      F.col(id_col).alias("positive_id"),
                      F.col(id_col).alias("negative_id")).limit(0)
    pairs = minhash_lsh_candidates(df, id_col, text_col, num_perm,
                                   bands, shingle_k)
    if materialize:
        # the LSH candidate subtree (signatures + band explode +
        # self-join) feeds FIVE consumers (pr's two rank jobs, cand,
        # both sym orientations) and the id projection feeds four
        # (count + the rank pass's probe/totals/window) — persist both
        # for the call's duration; the eager localCheckpoint below
        # lets the caches release here
        pairs = pairs.persist(StorageLevel.MEMORY_AND_DISK)
        docs = docs.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        n_docs = docs.count()
        if n_docs == 0 or (materialize and pairs.count() == 0):
            return empty
        pr = hrank(pairs, ["id_a", "id_b"], "__pr")
        dr = hrank(docs, ["__nid"], "__dr")
        aligned = (pr.withColumn("__want",
                                 (F.col("__pr") - 1) % n_docs + 1)
                   .join(dr, F.col("__want") == F.col("__dr"), "inner"))
        cand = (aligned
                .where((F.col("__nid") != F.col("id_a"))
                       & (F.col("__nid") != F.col("id_b")))
                .select(F.col("id_a").alias("anchor_id"),
                        F.col("id_b").alias("positive_id"),
                        F.col("__nid").alias("negative_id")))
        # reject negatives that are LSH-neighbors of the anchor (either
        # orientation of the candidate pair set)
        sym = (pairs.select(F.col("id_a").alias("anchor_id"),
                            F.col("id_b").alias("negative_id"))
               .unionByName(pairs.select(
                   F.col("id_b").alias("anchor_id"),
                   F.col("id_a").alias("negative_id"))))
        out = (cand.join(sym, ["anchor_id", "negative_id"], "left_anti")
               .select("anchor_id", "positive_id", "negative_id"))
        return out.localCheckpoint(eager=True) if materialize else out
    finally:
        if materialize:
            pairs.unpersist()
            docs.unpersist()
