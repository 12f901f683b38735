"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (100 TB corpus):
- exact dedup = hash-groupBy on a fingerprint — one shuffle on the md5 key,
  uniform by construction (no skew).
- MinHash signatures are native Column expressions (md5-based hash family →
  bit-identical in any engine); LSH banding turns near-dup search into an
  equi-join on (band, band_hash) buckets — no O(n²) pass anywhere.
- SimHash is the one genuinely bit-twiddly op → Arrow-batched pandas UDF:
  each distinct token of a batch is md5-hashed once, its digest unpacked
  into a 64-bit row, and the rows summed per document with NumPy.
- n-gram Jaccard verify runs only within LSH candidate buckets at scale;
  the standalone pairs fn is for modest inputs / verification.
"""

from __future__ import annotations

import hashlib
import itertools

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from .text import tokens_col

# ---------------------------------------------------------------------------
# exact


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str,
                keep: str = "min") -> DataFrame:
    """Keep one representative row id per duplicate-key group.

    Returns (key_cols..., keep_id, n_dups).  One shuffle; map-side partial
    aggregation applies (native min/count).
    """
    if keep not in ("min", "max"):
        raise ValueError(f"exact_dedup: keep must be 'min' or 'max', got {keep!r}")
    agg_fn = F.min if keep == "min" else F.max
    return (df.groupBy(*key_cols)
              .agg(agg_fn(id_col).alias("keep_id"),
                   F.count(F.lit(1)).alias("n_dups")))


def exact_dedup_incremental(new_df: DataFrame, index_df: DataFrame | None,
                            key_cols: list[str],
                            id_col: str) -> tuple[DataFrame, DataFrame]:
    """Continuous-ingest dedup: drop rows of a NEW batch whose key already
    exists in the corpus index, then dedup the batch against itself.

    Returns ``(unique_new_rows, updated_index)`` where the index holds one
    ``(key_cols..., keep_id)`` row per distinct key ever seen.  At 100 TB
    the index is a parquet table partitioned/bucketed by key hash; the
    anti-join shuffles only the (small) incoming batch against it, and the
    returned updated index unions just the batch's novel keys — callers
    append those (``sinkmode="update"``) rather than rewriting the index.
    """
    batch_keep = exact_dedup(new_df, key_cols, id_col, keep="min")
    batch_unique = new_df.join(
        batch_keep.select(*key_cols,
                          F.col("keep_id").alias(id_col)),
        on=[*key_cols, id_col], how="left_semi")
    if index_df is not None:
        batch_unique = batch_unique.join(index_df.select(*key_cols),
                                         on=key_cols, how="left_anti")
    new_index_rows = batch_unique.select(*key_cols, F.col(id_col)
                                         .alias("keep_id"))
    updated = (new_index_rows if index_df is None
               else index_df.select(*key_cols, "keep_id")
               .unionByName(new_index_rows))
    return batch_unique, updated


# ---------------------------------------------------------------------------
# MinHash + LSH


def _hash64(col):
    """Portable 60-bit integer hash from md5 hex (same value in DuckDB via
    CAST(('0x' || substr(md5(x),1,15)) AS BIGINT))."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def word_shingles(text_col, k: int = 3):
    """Distinct k-token shingles of a text column (native).

    NB: prefer ``with_shingles`` for hot paths — when ``text_col`` is a raw
    expression, the tokenization is captured inside the transform lambda and
    re-evaluated per element (O(tokens²) per row)."""
    toks = tokens_col(text_col)
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k))))


def with_shingles(df: DataFrame, text_col: str, k: int,
                  out_col: str) -> DataFrame:
    """Materialize tokens into a column first so the shingle lambda captures
    a bound reference (evaluated once per row), then build distinct k-token
    shingles from it.  O(tokens) instead of O(tokens²) per row."""
    from .util import ensure_parallelism

    df = ensure_parallelism(df)
    df = df.withColumn("__toks", tokens_col(F.col(text_col)))
    toks = F.col("__toks")
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - k, F.lit(0)))
    return (df.withColumn(
        out_col, F.array_distinct(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)))))
        .drop("__toks"))


MINHASH_P = 2147483647  # 2^31-1; keeps a_i*h31 products < 2^62 (portable)


def minhash_coeffs(num_perm: int) -> list[tuple[int, int]]:
    """Deterministic universal-hash coefficients (a_i, b_i) — same simple
    LCG-derived family in the DuckDB oracle."""
    return [((1103515245 * i + 12345) % (MINHASH_P - 1) + 1,
             (2654435761 * i) % MINHASH_P) for i in range(num_perm)]


def minhash_signature(df: DataFrame, text_col: str = "text",
                      out_col: str = "minhash", num_perm: int = 16,
                      shingle_k: int = 3) -> DataFrame:
    """MinHash signature via universal hashing: each shingle is md5-hashed
    ONCE to a base 60-bit int; permutation i takes min over shingles of
    (a_i * (h mod p) + b_i) mod p.

    Fully native (transform + array_min) → codegen, no Python; one md5 per
    shingle regardless of num_perm; md5+integer arithmetic is bit-identical
    in any engine (oracle-checkable in DuckDB).
    """
    df = with_shingles(df, text_col, shingle_k, "__sh")
    df = df.withColumn(
        "__h31", F.transform(F.col("__sh"), lambda s: _hash64(s) % MINHASH_P)) \
           .drop("__sh")

    def perm_min(a: int, b: int):
        return F.array_min(F.transform(
            F.col("__h31"), lambda h: (F.lit(a) * h + F.lit(b)) % MINHASH_P))

    mins = [perm_min(a, b) for a, b in minhash_coeffs(num_perm)]
    return df.withColumn(out_col, F.array(*mins)).drop("__h31")


def minhash_lsh_candidates(df: DataFrame, id_col: str,
                           text_col: str = "text", num_perm: int = 16,
                           bands: int = 4, shingle_k: int = 3,
                           sig_col: str = "minhash",
                           materialize: bool = True) -> DataFrame:
    """LSH banding: signature → ``bands`` bands of num_perm/bands rows; docs
    sharing any band hash are candidate near-duplicates.

    Returns candidate pairs (id_a, id_b), id_a < id_b, deduped.  The
    candidate search is an equi-join on (band_idx, band_hash) — shuffle on a
    uniform hash key; no cross join.  Cross-band duplicates are suppressed
    by the first-matching-band rule (a pair is emitted only from the LOWEST
    band index whose hashes agree — a native filter over the carried band
    array), replacing the ``dropDuplicates`` that used to re-shuffle the
    full candidate set.  Verify candidates with ``ngram_jaccard_pairs`` or
    exact similarity downstream.
    """
    assert num_perm % bands == 0, "bands must divide num_perm"
    r = num_perm // bands
    sigs = minhash_signature(df.select(id_col, text_col), text_col,
                             sig_col, num_perm, shingle_k)
    bands_arr = F.array(*[
        F.md5(F.concat_ws(",", *[
            F.col(sig_col)[b * r + j].cast("string")
            for j in range(r)]))
        for b in range(bands)])
    from .util import explode_fast

    buckets = explode_fast(
        sigs.select(F.col(id_col), bands_arr.alias("__bhs")),
        F.col("__bhs"), "bh", pos_name="band")
    if materialize:
        # the bucket table feeds BOTH sides of the self-join; without
        # materialization each side re-tokenizes, re-shingles and
        # re-minhashes the whole corpus (ReuseExchange only kicks in
        # for identical shuffle subtrees, and a broadcast side never
        # qualifies — plan-verified: two full signature pipelines).
        # One corpus-sized localCheckpoint pays the signature CPU once
        # (guide §2.4/§5: don't recompute shared subtrees; lineage FT
        # of this intermediate is non-critical)
        buckets = buckets.localCheckpoint()
    a = buckets.alias("a")
    b = buckets.alias("b")
    joined = (a.join(b, on=["band", "bh"], how="inner")
              .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
    if bands > 1:
        earlier = F.zip_with(
            F.slice(F.col("a.__bhs"), F.lit(1), F.col("band")),
            F.slice(F.col("b.__bhs"), F.lit(1), F.col("band")),
            lambda x, y: x == y)
        joined = joined.where(~F.exists(earlier, lambda z: z))
    return joined.select(F.col(f"a.{id_col}").alias("id_a"),
                         F.col(f"b.{id_col}").alias("id_b"))


def minhash_index(df: DataFrame, id_col: str, text_col: str = "text",
                  num_perm: int = 16, bands: int = 4,
                  shingle_k: int = 3) -> DataFrame:
    """Persistable near-dup index: ``(id, band, bh)`` — one row per doc
    per band.  Write it through ``BucketedTap(bucket_by=["band", "bh"])``
    so daily incremental passes join the index WITHOUT shuffling it
    (only the batch side pays an Exchange — plan-gated in
    tests/test_plan_quality.py::
    test_minhash_bucketed_index_join_zero_index_exchange); append new
    batches' rows after each ingest."""
    assert num_perm % bands == 0, "bands must divide num_perm"
    r = num_perm // bands
    sigs = minhash_signature(df.select(id_col, text_col), text_col,
                             "minhash", num_perm, shingle_k)
    bands_arr = F.array(*[
        F.md5(F.concat_ws(",", *[
            F.col("minhash")[b * r + j].cast("string")
            for j in range(r)]))
        for b in range(bands)])
    from .util import explode_fast

    return explode_fast(
        sigs.select(F.col(id_col), bands_arr.alias("__bhs")),
        F.col("__bhs"), "bh", pos_name="band").drop("__bhs")


def minhash_lsh_candidates_incremental(
        batch: DataFrame, index: DataFrame | None, id_col: str,
        text_col: str = "text", num_perm: int = 16, bands: int = 4,
        shingle_k: int = 3,
        materialize: bool = False) -> tuple[DataFrame, DataFrame]:
    """Incremental near-dup detection for continuous ingest: candidate
    pairs of a NEW batch against (a) the existing ``minhash_index`` and
    (b) itself, plus the batch's own index rows to append.

    Returns ``(pairs, batch_index)``: ``pairs`` has ``(id_a, id_b)`` with
    id_a the EXISTING/batch-lower id.  The batch-vs-index join touches
    only buckets the batch lands in (equi-join on (band, bh) — with the
    index bucketed on that key, a daily batch never rescans the corpus);
    batch-vs-batch reuses the standard banded self-join.  Same parameters
    MUST be used across runs (signatures are parameter-dependent)."""
    assert num_perm % bands == 0, "bands must divide num_perm"
    r = num_perm // bands
    # ONE signature pass over the batch feeds both the appended index
    # rows and the self-join (a second minhash_lsh_candidates call would
    # re-tokenize and re-hash the whole batch)
    sigs = minhash_signature(batch.select(id_col, text_col), text_col,
                             "minhash", num_perm, shingle_k)
    bands_arr = F.array(*[
        F.md5(F.concat_ws(",", *[
            F.col("minhash")[b * r + j].cast("string")
            for j in range(r)]))
        for b in range(bands)])
    from .util import explode_fast

    buckets = explode_fast(
        sigs.select(F.col(id_col), bands_arr.alias("__bhs")),
        F.col("__bhs"), "bh", pos_name="band")
    if materialize:
        # batch-sized (rows x bands): the bucket table feeds THREE
        # consumers (the self-join, the batch index rows, and — via the
        # returned pairs — the caller's cross-drop), each of which would
        # otherwise re-tokenize and re-minhash the whole batch.  The
        # streaming ingest step passes materialize=True so every
        # micro-batch pays the signature pass exactly once (guide §2.4 /
        # §5: don't recompute shared subtrees; at scale this is 3x the
        # batch's CPU, at bench it is ~3 duplicate jobs per batch).
        # Deliberately EAGER: r11 A/B'd eager=False (save one driver job
        # per batch) at 11.6s vs 9.8s — the first consuming job's map
        # stages read the frame CONCURRENTLY, so lazy caching recomputes
        # the signature pass once per stage instead of once per batch.
        buckets = buckets.localCheckpoint()
    bidx = buckets.drop("__bhs")
    a, bb = buckets.alias("a"), buckets.alias("b")
    self_pairs = (a.join(bb, on=["band", "bh"], how="inner")
                  .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
    if bands > 1:
        earlier = F.zip_with(
            F.slice(F.col("a.__bhs"), F.lit(1), F.col("band")),
            F.slice(F.col("b.__bhs"), F.lit(1), F.col("band")),
            lambda x, y: x == y)
        self_pairs = self_pairs.where(~F.exists(earlier, lambda z: z))
    self_pairs = self_pairs.select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"))
    if index is None:
        return self_pairs, bidx
    cross = (index.alias("a")
             .join(bidx.alias("b"), on=["band", "bh"], how="inner")
             .select(F.col(f"a.{id_col}").alias("id_a"),
                     F.col(f"b.{id_col}").alias("id_b"))
             .where(F.col("id_a") != F.col("id_b"))
             .dropDuplicates(["id_a", "id_b"]))
    return cross.unionByName(self_pairs), bidx


# ---------------------------------------------------------------------------
# SimHash


#: tokens per gather in ``_simhash64``: bounds its (tokens, 64) temporaries
#: (the uint8 bits and the int32 copy ``reduceat`` sums in) to 2.5 MiB, or
#: to one document if that is longer, whatever the batch size; measured
#: faster than larger chunks too
SIMHASH_CHUNK_TOKENS = 1 << 13


@F.pandas_udf(T.LongType())
def _simhash64(texts: pd.Series) -> pd.Series:
    """64-bit SimHash over whitespace tokens (``str.lower().split()``) with
    md5-derived token hashes: bit i of a token's hash is bit i of the
    big-endian first 8 md5 bytes; a document's bit i is set when more of
    its tokens have it set than not.

    Per Arrow batch each distinct token is hashed once into a digest
    buffer (a ``bytearray``, so it grows amortised).  Documents are taken
    in chunks of about ``SIMHASH_CHUNK_TOKENS`` tokens: the chunk's
    digests are unpacked into a (tokens, 64) bit matrix, summed per
    document with ``add.reduceat`` and packed back into int64.  Null text
    gives null; text without tokens gives 0.
    """
    out = np.zeros(len(texts), np.int64)
    isnull = texts.isna().to_numpy()
    vocab: dict[str, int] = {}
    digests = bytearray()  # md5[:8] of each distinct token, in id order
    rows: list[int] = []
    lens: list[int] = []
    ids: list[int] = []

    def flush() -> None:
        table = np.frombuffer(digests, np.uint8).reshape(-1, 8)
        bits = np.unpackbits(table[ids], axis=1)  # bit 63 first
        starts = np.cumsum([0, *lens[:-1]])
        ones = np.add.reduceat(bits, starts, axis=0, dtype=np.int32)
        major = 2 * ones > np.array(lens)[:, None]
        out[rows] = np.packbits(major, axis=1).view(">i8").ravel()
        rows.clear()
        lens.clear()
        ids.clear()

    for r, text in enumerate(texts):
        if isnull[r]:
            continue
        toks = text.lower().split()
        if not toks:
            continue
        n_old = len(vocab)
        ids.extend([vocab.setdefault(t, len(vocab)) for t in toks])
        new = list(itertools.islice(reversed(vocab), len(vocab) - n_old))
        for t in reversed(new):
            digests += hashlib.md5(t.encode("utf-8")).digest()[:8]
        rows.append(r)
        lens.append(len(toks))
        if len(ids) >= SIMHASH_CHUNK_TOKENS:
            flush()
    if rows:
        flush()
    return pd.Series(pd.arrays.IntegerArray(out, isnull), index=texts.index)


def simhash(df: DataFrame, text_col: str = "text",
            out_col: str = "simhash") -> DataFrame:
    from .util import ensure_parallelism

    return ensure_parallelism(df).withColumn(out_col,
                                             _simhash64(F.col(text_col)))


def hamming_near_dups(df: DataFrame, id_col: str, hash_col: str,
                      max_hamming: int = 3) -> DataFrame:
    """Pairs whose 64-bit hashes are within hamming distance ≤ k,
    pigeonhole-blocked: split the 64 bits into k+1 chunks — two hashes
    within hamming k share at least one chunk exactly → equi-join per
    chunk, then verify ``bit_count`` of the XOR.  No cross join at any k.

    Works over ANY int64 fingerprint column — SimHash text signatures,
    perceptual image hashes (``media_phash``), rolling-hash doc prints."""
    n_chunks = min(max_hamming + 1, 32)
    bounds = [round(i * 64 / n_chunks) for i in range(n_chunks + 1)]
    h = df.select(id_col, F.col(hash_col).alias("sh"))

    def _chunk(i):
        width = bounds[i + 1] - bounds[i]
        if width >= 64:  # single-chunk case: the mask would overflow LongType
            return F.col("sh")
        return (F.shiftright(F.col("sh"), bounds[i])
                .bitwiseAND(F.lit((1 << width) - 1)))

    chunks = F.array(*[
        F.struct(F.lit(i).alias("chunk"), _chunk(i).alias("cv"))
        for i in range(n_chunks)])
    blocked = h.select(id_col, "sh", F.explode(chunks).alias("c")) \
               .select(id_col, "sh", F.col("c.chunk").alias("chunk"),
                       F.col("c.cv").alias("cv"))
    a, b = blocked.alias("a"), blocked.alias("b")
    hamming = F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh")))
    return (a.join(b, on=["chunk", "cv"], how="inner")
            .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .where(hamming <= max_hamming)
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"),
                    hamming.alias("hamming"))
            .dropDuplicates(["id_a", "id_b"]))


def simhash_near_dups(df: DataFrame, id_col: str, text_col: str = "text",
                      max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ k — SimHash the text,
    then the generic pigeonhole-blocked ``hamming_near_dups``."""
    h = simhash(df.select(id_col, text_col), text_col, "sh")
    return hamming_near_dups(h, id_col, "sh", max_hamming)


# ---------------------------------------------------------------------------
# n-gram Jaccard


def dedup_clusters(pairs: DataFrame, id_a: str = "id_a",
                   id_b: str = "id_b", max_iter: int = 20) -> DataFrame:
    """Connected components over near-dup candidate pairs →
    ``(node, cluster)`` with cluster = min id in the component — the step
    that turns pairwise candidates into keep/drop decisions (keep one doc
    per cluster).  The round count is left on the result as
    ``_cc_rounds``.

    Large-star/small-star contraction (Kiveris et al. 2014, "Connected
    Components in MapReduce and Beyond").  Each round rewires the edge
    set toward stars centered at component minima:

    - LARGE-STAR (per node u over its full neighborhood Γ(u)): connect
      every strictly-larger neighbor v > u to m = min(Γ(u) ∪ {u}).
    - SMALL-STAR (per node u over its smaller neighbors, edges oriented
      larger→smaller): connect u and all of Γ(u) to m = min(Γ(u) ∪ {u}).

    Both are one windowed min over the star's own src-keyed shuffle — no
    join, no per-node state, no driver collect; localCheckpoint per round
    cuts lineage.  Converges in O(log n) rounds on ANY topology (provably
    O(log² n), observed ~log n), so CHAIN-shaped dup clusters (A~B~C~...
    transitive near-dup chains in web-scale corpora) cannot blow the
    round count: a path of 2^k nodes finishes in ~k rounds where min-label
    propagation needs 2^k.  Convergence = edge multiset fixed point,
    detected by a (count, bit_xor of xxhash64) fingerprint — two scalars per
    round, collision-safe in practice and only ever terminates EARLY on a
    collision, never produces wrong labels on the final star set.

    A node's whole neighborhood lands in one window task, so a hub's
    degree bounds that task.
    """
    e = (pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
         .where(F.col("a").isNotNull() & F.col("b").isNotNull()))
    nodes = (e.select(F.col("a").alias("node"))
             .union(e.select(F.col("b").alias("node"))).distinct()
             .localCheckpoint(eager=False))
    # orient larger→smaller; self-loops carry no connectivity
    edges = (e.where(F.col("a") != F.col("b"))
             .select(F.greatest("a", "b").alias("src"),
                     F.least("a", "b").alias("dst"))
             .distinct().localCheckpoint(eager=False))
    from pyspark.sql import Window

    prev_fp = None
    rounds = 0
    # Each star's per-node minimum is a WINDOW over the edge table's own
    # pass — min(dst) OVER (PARTITION BY src) — not a groupBy-min joined
    # back (r10, guide §2.3/§2.4): the window computes the same minimum
    # in the one src-keyed shuffle the star needs anyway, where the
    # agg+join shape paid an extra aggregate Exchange plus a join (a
    # broadcast-build job per star at small scale, a second full shuffle
    # of the edge table at large scale).  The large-star's intermediate
    # .distinct() is dropped too: duplicates cannot change a min, and
    # the round's closing distinct restores the exact same edge SET, so
    # the per-round state (and the convergence fingerprint sequence) is
    # provably identical — AQE stage jobs per round drop ~2x.
    w_src = Window.partitionBy("src")
    for _ in range(max_iter):
        # -- large-star: full neighborhood (both directions)
        und = edges.union(edges.select(F.col("dst").alias("src"),
                                       F.col("src").alias("dst")))
        lg = und.withColumn(
            "m", F.least(F.min("dst").over(w_src), F.col("src")))
        edges = (lg.where(F.col("dst") > F.col("src"))
                 .select(F.col("dst").alias("src"), F.col("m").alias("dst")))
        # -- small-star: smaller neighbors only (edges stay larger→smaller)
        j = edges.withColumn("m", F.min("dst").over(w_src))
        # eager=False: the fingerprint action right below is the
        # materializing job (its aggregate scans every partition, and
        # LocalRDDCheckpointData caches the rest at job end) — one
        # driver job per round instead of two, same truncated lineage
        edges = (j.where(F.col("dst") != F.col("m"))
                 .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
                 .union(j.select("src", F.col("m").alias("dst")))
                 .distinct().localCheckpoint(eager=False))
        rounds += 1
        fp = edges.agg(
            F.count(F.lit(1)).alias("n"),
            # bit_xor: order-independent and overflow-free under ANSI
            # (edges are distinct, so no xor self-cancellation)
            F.expr("bit_xor(xxhash64(src, dst))").alias("h")).first()
        fp = (fp["n"], fp["h"])
        if fp == prev_fp:
            break
        prev_fp = fp
    # converged edge set is a star forest larger→component-min; isolated
    # nodes (self-loop-only inputs) label themselves
    label_map = edges.groupBy(F.col("src").alias("node")) \
                     .agg(F.min("dst").alias("__lbl"))
    out = (nodes.join(label_map, "node", "left")
           .select("node", F.coalesce("__lbl", F.col("node"))
                   .alias("cluster")))
    out._cc_rounds = rounds
    return out


def deletion_variants_col(s, max_len: int = 256):
    """Array Column of ``s`` plus every single-character-deletion variant
    — the FastSS d=1 neighborhood, built natively (``transform`` over a
    position ``sequence``; no UDF).  Strings longer than ``max_len`` are
    truncated for variant generation (guards the fan-out; callers match
    on the verify predicate anyway)."""
    t = F.substring(s, 1, max_len)
    n = F.length(t)
    dels = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.concat(F.substring(t, F.lit(1), (i - 1).cast("int")),
                           t.substr(i + 1, n)))
    return F.array_union(F.array(t), dels)


def fuzzy_dup_pairs(df: DataFrame, id_col: str, text_col: str,
                    max_len: int = 256) -> DataFrame:
    """EXACT edit-distance ≤ 1 pairs (typo-level dup detection for
    titles / URLs / names) — the FastSS deletion-neighborhood scheme:
    two strings within one edit share at least one single-deletion
    variant, so candidates come from an EQUI-JOIN on the exploded
    variant set (fan-out len+1 per row, shuffle keyed by variant hash —
    never all-pairs), then ``levenshtein ≤ 1`` verifies exactly.

    Returns ``(id_a, id_b, dist)`` with ``id_a < id_b``, one row per
    pair.  Exact for strings up to ``max_len`` chars (longer strings are
    compared on their ``max_len`` prefix for candidate generation but
    verified on the full value).  At corpus scale this is the cheap
    first pass before the shingle/MinHash machinery — a typo'd URL never
    survives it.

    Cost scales with variant-key collision rate, i.e. string ENTROPY:
    natural keys (URLs, titles) collide only for true near-matches;
    adversarially self-similar keys (fixed prefix + zero-padded serials,
    e.g. TPC-H customer names) put large candidate classes on shared
    variants and pay a superlinear verify pass — measured 8.7s for 15k
    such names vs sub-second for the same count of natural strings."""
    from .util import explode_fast

    base = df.select(F.col(id_col).alias("__id"),
                     F.col(text_col).alias("__t"))
    v = explode_fast(
        base.withColumn("__vs", deletion_variants_col(F.col("__t"),
                                                      max_len)),
        F.col("__vs"), "__v").select("__id", "__t", "__v")
    a, b = v.alias("a"), v.alias("b")
    dist = F.levenshtein(F.col("a.__t"), F.col("b.__t"))
    return (a.join(b, on=[F.col("a.__v") == F.col("b.__v"),
                          F.col("a.__id") < F.col("b.__id")])
            .where(dist <= 1)
            .select(F.col("a.__id").alias("id_a"),
                    F.col("b.__id").alias("id_b"),
                    dist.cast("int").alias("dist"))
            .dropDuplicates(["id_a", "id_b"]))


def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str = "text",
                        n: int = 3, threshold: float = 0.8,
                        prefilter: bool = True,
                        materialize: bool = True) -> DataFrame:
    """Pairwise n-gram (token shingle) Jaccard similarity ≥ threshold.

    Implementation: explode distinct shingles → self-equi-join on shingle →
    count common → |A∪B| = |A|+|B|-common.  The shingle join IS the
    candidate generation (docs sharing no shingle never meet) — no cross
    join.  At 100 TB, run it after LSH bucketing; here it is the exact
    verifier.  ``prefilter`` drops ubiquitous shingles (doc-freq > 1000) to
    bound skew, mirroring common-word salting.
    """
    from .util import explode_fast

    sh = (explode_fast(with_shingles(df, text_col, n, "__sh")
                       .select(F.col(id_col).alias("id"), "__sh"),
                       F.col("__sh"), "shingle")
          .select("id", "shingle"))
    if prefilter:
        hot = (sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_"))
               .where(F.col("df_") > 1000).select("shingle"))
        sh = sh.join(hot, on="shingle", how="left_anti")
    if materialize:
        # sh feeds THREE consumers (per-doc sizes + both self-join
        # sides; four with the prefilter's doc-freq pass upstream) —
        # unmaterialized, every consumer re-tokenizes and re-shingles
        # the corpus.  One exploded-shingle localCheckpoint pays that
        # CPU once (guide §2.4/§5).  Receipt at 8x docs
        # (tools/scaling_smoke_r11.py): the checkpoint arm reads 1.37x
        # at 1x (the r10 parity) but 0.86x at 8x — the win appears
        # with scale, so True stays the default; opt out where
        # executor-local disk is the scarcer resource.
        sh = sh.localCheckpoint()
    # sizes AFTER the prefilter: numerator and denominator must count the
    # same shingle universe or hot-shingle docs get a deflated Jaccard
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (a.join(b, on="shingle", how="inner")
              .where(F.col("a.id") < F.col("b.id"))
              .groupBy(F.col("a.id").alias("id_a"),
                       F.col("b.id").alias("id_b"))
              .agg(F.count(F.lit(1)).alias("common")))
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("nb"))
    jac = (common.join(sa, "id_a").join(sb, "id_b")
           .withColumn("jaccard",
                       F.col("common")
                       / (F.col("na") + F.col("nb") - F.col("common")))
           .where(F.col("jaccard") >= threshold)
           .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard")))
    return jac


def containment_pairs(df: DataFrame, id_col: str,
                      text_col: str = "text", n: int = 3,
                      threshold: float = 0.8) -> DataFrame:
    """DIRECTED near-dup by shingle containment ``C(A→B) =
    |S(A) ∩ S(B)| / |S(A)| >= threshold`` — catches what symmetric
    Jaccard structurally misses: a short document quoted/wrapped inside
    a long one has Jaccard ≈ |A|/|B| (tiny) but containment ≈ 1.  The
    asymmetric complement of ``ngram_jaccard_pairs`` for corpus dedup
    (drop the contained copy, keep the container).

    Returns ``(doc_id, container_id, containment)`` — one row per
    direction that clears the threshold (mutual containment = exact
    near-dup emits both directions).

    Candidate generation is a PREFIX-FILTERED set-containment join
    (PPJoin family, Xiao et al.): under a GLOBAL shingle rarity order
    (doc-frequency asc, shingle asc), if ``|S(A) ∩ S(B)| >=
    ceil(t·|S(A)|)`` then A's prefix of its ``|S(A)| - ceil(t·|S(A)|)
    + 1`` RAREST shingles must intersect S(B) — so candidates are ONE
    equi-join of A-prefix shingles against the (shingle → doc) table:
    exact recall (no missed pairs at the threshold), never all-pairs,
    and the rare-first prefix keeps the join fan-out per shingle small
    by construction.  Verification is one ``array_intersect`` per
    candidate pair.  At 100 TB: the doc-frequency pass and the prefix
    join shuffle on md5-uniform shingle keys; pair volume is bounded by
    Σ_prefix df(shingle), which the rarity order minimizes."""
    from .util import explode_fast

    from pyspark.sql import Window

    if not 0.0 < threshold <= 1.0:
        raise ValueError("containment_pairs: threshold must be in "
                         f"(0, 1], got {threshold}")
    arrs = (with_shingles(df, text_col, n, "__arr")
            .select(F.col(id_col).alias("__id"), "__arr")
            .where(F.size("__arr") > 0))
    sh = (explode_fast(arrs, F.col("__arr"), "shingle")
          .select("__id", "shingle"))
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    ranked = (sh.join(dfreq, on="shingle")
              .withColumn("__rn", F.row_number().over(
                  Window.partitionBy("__id")
                  .orderBy(F.asc("__df"), F.asc("shingle"))))
              .withColumn("__n", F.count(F.lit(1)).over(
                  Window.partitionBy("__id"))))
    pref = ranked.where(
        F.col("__rn") <= F.col("__n")
        - F.ceil(F.lit(float(threshold)) * F.col("__n")) + 1)
    cand = (pref.select(F.col("__id").alias("__a"), "shingle")
            .join(sh.select(F.col("__id").alias("__b"), "shingle"),
                  on="shingle")
            .where(F.col("__a") != F.col("__b"))
            .select("__a", "__b").distinct())
    out = (cand
           .join(arrs.select(F.col("__id").alias("__a"),
                             F.col("__arr").alias("__aa")), on="__a")
           .join(arrs.select(F.col("__id").alias("__b"),
                             F.col("__arr").alias("__ab")), on="__b")
           .withColumn("containment",
                       F.size(F.array_intersect("__aa", "__ab"))
                       / F.size("__aa"))
           .where(F.col("containment") >= threshold)
           .select(F.col("__a").alias(id_col),
                   F.col("__b").alias("container_id"),
                   F.round("containment", 6).alias("containment")))
    return out


def containment_dedup(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", n: int = 3,
                      threshold: float = 0.8) -> DataFrame:
    """Corpus minus contained copies: keep containers, drop the
    quotes/wrappers/fragments they contain.

    Deterministic single-pass winner rule: drop A iff A is contained in
    some B where the containment is NOT mutual, or it IS mutual
    (near-exact duplicates) and B has the smaller id — mutual groups
    keep their min id (exact_dedup's keep='min' convention),
    one-directional containment always drops the contained side.
    GREEDY like every single-pass dedup: in a containment CHAIN
    (A ⊂ B ⊂ C) the middle doc drops too, its content covered by its
    own container to ~t per hop — if transitive-closure semantics
    matter, feed ``containment_pairs`` into ``dedup_clusters`` the way
    ``near_dedup`` does for the symmetric relation.  One anti-join
    against the loser id set; the loser set is the duplicate fraction
    only."""
    # the pair table feeds FOUR join branches below (direct + reverse x
    # left/semi) — materialize it once (duplicate-fraction-sized, the
    # same bound the anti-join already relies on) instead of re-running
    # the prefix join per branch
    pairs = containment_pairs(df, id_col, text_col, n,
                              threshold).localCheckpoint()
    a = pairs.alias("a")
    # mutual containment = the reverse pair also cleared the threshold;
    # pair rows are unique per direction, so ONE 1:1 left join decides
    # both branches of the winner rule
    rev = (pairs.select(F.col(id_col).alias("__rb"),
                        F.col("container_id").alias("__ra"))
           .withColumn("__mutual", F.lit(True)).alias("r"))
    mutual = F.coalesce(F.col("__mutual"), F.lit(False))
    losers = (a.join(rev, on=[F.col(f"a.{id_col}") == F.col("r.__ra"),
                              F.col("a.container_id") == F.col("r.__rb")],
                     how="left")
              .where((~mutual)
                     | (F.col("a.container_id") < F.col(f"a.{id_col}")))
              .select(F.col(f"a.{id_col}").alias("__loser"))
              .distinct())
    return df.join(losers.withColumnRenamed("__loser", id_col),
                   on=id_col, how="left_anti")


def near_dedup(df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text", num_perm: int = 16, bands: int = 4,
               shingle_k: int = 3, max_iter: int = 20, keep: str = "min",
               score_col: str | None = None,
               pr_iters: int = 5) -> DataFrame:
    """End-to-end near-duplicate REMOVAL — the composition a corpus
    pipeline actually runs: MinHash-LSH candidate pairs → connected
    components → keep one representative per cluster, drop the rest.
    Returns the deduplicated corpus with all original columns.

    ``keep='min'`` (default) keeps each cluster's minimum-id row;
    ``keep='best'`` keeps the row maximising ``score_col`` (min id as the
    deterministic tiebreak) — what a training pipeline actually wants when
    a quality score exists: drop the low-quality copies, not the
    high-id ones.  ``keep='central'`` keeps each cluster's most CENTRAL
    member by PageRank over the candidate-pair graph (``pr_iters``
    damped rounds; graph.pagerank) — the copy similar to the most other
    copies, i.e. the template's median variant rather than an outlier
    edit; ranks are compared at 12 dp (symmetric members tie EXACTLY and
    fall to the id tiebreak; float sum-order noise is ~1e-17).

    Scale shape: inherits the bucketed candidate join (never all-pairs)
    and the O(log n)-round star-contraction component step (chain-shaped
    dup clusters can't blow the round count); the final keep/drop is one
    anti-join against the (small) non-representative id set — at 100 TB
    that set is the duplicate fraction only, not the corpus.
    ``keep='best'`` adds one equi-join of the cluster map against the
    corpus scores plus a per-cluster max-struct aggregate — both keyed on
    cluster members, so the extra cost also scales with the duplicate
    fraction, not the corpus."""
    if keep not in ("min", "best", "central"):
        raise ValueError(f"near_dedup: keep must be 'min', 'best' or "
                         f"'central', got {keep!r}")
    if keep == "best" and not score_col:
        raise ValueError("near_dedup: keep='best' requires score_col")
    pairs = minhash_lsh_candidates(df, id_col, text_col, num_perm, bands,
                                   shingle_k)
    clusters = dedup_clusters(pairs, max_iter=max_iter)
    if keep == "min":
        losers = (clusters.where(F.col("node") != F.col("cluster"))
                  .select(F.col("node").alias(id_col)))
    elif keep == "central":
        # centrality over the pair graph itself (node universe = edge
        # endpoints = exactly the non-trivial cluster members); both the
        # graph and the rank state are duplicate-fraction-sized
        from pyspark.sql import Window

        from .graph import pagerank, release_pagerank_cache

        # materialize=True: the LSH candidate join feeding `pairs` is
        # consumed 2x per PageRank round (contributions + dangling) plus
        # the CC pass — unpersisted it recomputes ~pr_iters+2 times
        # (ADVICE r6).  The cache is duplicate-fraction-sized; released
        # as soon as losers materialize below.
        pr = pagerank(pairs, src_col="id_a", dst_col="id_b",
                      undirected=True, iters=pr_iters,
                      materialize=True)
        member = clusters.select(F.col("node").alias(id_col), "cluster")
        ranked = member.join(
            pr.select(F.col("node").alias(id_col),
                      F.round("rank", 12).alias("_nd_pr")),
            on=id_col, how="inner")
        w = (Window.partitionBy("cluster")
             .orderBy(F.col("_nd_pr").desc(), F.col(id_col).asc()))
        losers = (ranked.withColumn("_nd_rn", F.row_number().over(w))
                  .where(F.col("_nd_rn") > 1).select(id_col)
                  .localCheckpoint())  # cut lineage; caches can release
        release_pagerank_cache(pr)
    else:
        # rank cluster members by score DESC (id ASC tiebreak, any id
        # type); everyone past rank 1 is a loser.  clusters has one row
        # per MEMBER of a non-trivial cluster only, so the score join and
        # the per-cluster window are both sized by the duplicate
        # fraction, not the corpus.
        from pyspark.sql import Window

        member = clusters.select(F.col("node").alias(id_col), "cluster")
        scored = member.join(
            df.select(id_col, F.col(score_col).alias("_nd_score")),
            on=id_col, how="inner")
        w = (Window.partitionBy("cluster")
             .orderBy(F.col("_nd_score").desc(), F.col(id_col).asc()))
        losers = (scored.withColumn("_nd_rn", F.row_number().over(w))
                  .where(F.col("_nd_rn") > 1).select(id_col))
    return df.join(losers, on=id_col, how="left_anti")


# ---------------------------------------------------------------------------
# semantic (embedding-space) dedup — SemDeDup shape


#: corpus size above which ``method='auto'`` switches from the exact
#: 'cells' blocking (Σ|cell|² pair cost — superlinear when k tracks n) to
#: the 'lsh' blocking whose assignment cost is independent of corpus size.
AUTO_LSH_THRESHOLD = 100_000


def semantic_dedup_losers(df: DataFrame, id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          threshold: float = 0.95,
                          n_clusters: int | None = None,
                          centroids: list[tuple[int, list[float]]]
                          | None = None,
                          method: str = "auto",
                          **lsh_opts) -> DataFrame:
    """Ids REMOVED by semantic dedup (SemDeDup, Abbas et al. 2023 shape):
    cluster the embedding space, then within each cluster drop any row
    whose cosine similarity to a LOWER-id row exceeds ``threshold``
    (greedy first-wins, matching exact_dedup's keep='min' convention).

    Scale shape: nearest-centroid assignment is a native Column expression
    (no UDF); the candidate pass is a self-equi-join ON THE CLUSTER ID —
    cost Σ|cellᵢ|², never corpus², and k is chosen ∝ corpus size to bound
    |cell|.  One shuffle per side keyed by cell; giant cells fall to AQE
    skew-join splitting.  Pass ``centroids`` from ``ivf_centroids_kmeans``
    for balanced cells at scale (the default first-k-ids seeding is
    deterministic for oracle checks).

    ``method``: 'auto' (default) = 'cells' below ``AUTO_LSH_THRESHOLD``
    rows (exact, deterministic — what the oracle checks), 'lsh' above it
    — the scale path is the DEFAULT once the corpus is big enough to need
    it.  Auto-routing only applies when NO cells-specific argument was
    given: passing ``centroids`` or ``n_clusters`` pins ``method='cells'``
    (they would be silently ignored on the lsh path otherwise).  Note
    'auto' runs one EAGER ``df.count()`` to pick the strategy — metadata-
    fast on parquet sources, a full scan for unpersisted in-memory plans;
    pass an explicit ``method`` to stay fully lazy.
    'cells' = SemDeDup's literal cluster blocking; cost is O(n·k)
    assignment + Σ|cell|² pair scoring, so k must track corpus size and
    both terms grow superlinearly (the 8× scaling smoke measured 12.9×
    wall).  'lsh' = banded hyperplane-LSH blocking via ``cosine_pairs``
    (assignment O(n·planes) INDEPENDENT of corpus size, bucket-bounded
    pair scoring, hot-bucket cap) — the 100 TB path; same keep-min-id
    semantics and the same ``sim >= threshold`` comparison, block
    boundary approximation differs.  Extra ``lsh_opts``
    (n_planes/bands/seed/bucket_cap/dim) pass through to
    ``cosine_pairs``.  'cells_vectorized' (r6) = the cells semantics
    through Arrow-batched BLAS kernels (matmul assignment + one
    |cell|² matmul per cell) — the throughput spelling when per-pair
    fold lambdas dominate; opt-in, cells stays the oracle surface.
    """
    from .similarity import cosine_pairs, dot_col, ivf_assign_col, \
        ivf_centroids, norm_col

    if method == "auto":
        if centroids is not None or n_clusters is not None:
            # cells-specific args pin the exact path — never silently
            # ignore an explicit centroid table by switching to lsh
            method = "cells"
        else:
            # one EAGER count decides the blocking strategy (parquet
            # counts are metadata-fast; unpersisted in-memory plans pay
            # a scan — pass method= explicitly to stay lazy)
            method = "lsh" if df.count() > AUTO_LSH_THRESHOLD else "cells"
    if method == "lsh":
        # cosine_pairs already guarantees id_a < id_b (keep-min-id)
        pairs = cosine_pairs(df, threshold=threshold, id_col=id_col,
                             vec_col=vec_col, **lsh_opts)
        out = pairs.select(F.col("id_b").alias(id_col)).distinct()
        # propagate the signature-cache handle; caller releases via
        # similarity.release_cosine_cache(out) after the consuming action
        out._cosine_sig_cache = getattr(pairs, "_cosine_sig_cache", None)
        return out
    if method == "cells_vectorized":
        # Arrow-batched BLAS spelling of the cells path: assignment via
        # one matmul per batch (assign_cells_vectorized), pair scoring
        # via one |cell| x |cell| matmul per cell (applyInPandas) — the
        # throughput option when per-pair fold lambdas dominate.  Same
        # greedy rule (y drops iff ANY lower-id x in the cell has
        # sim >= threshold); raw sims within one double ulp of the
        # threshold can differ from the fold arithmetic, so 'cells'
        # stays the oracle surface (equivalence pinned in tests).
        # Assumes a cell fits one executor's pandas frame — the same
        # |cell| ~ n/k premise the cells method already carries; the
        # lsh path remains the unbounded-corpus default.
        import numpy as np

        from pyspark.sql import types as T

        from .similarity import assign_cells_vectorized

        cents = centroids or ivf_centroids(df, id_col, vec_col,
                                           n_clusters or 16)
        if not cents:
            return df.select(F.col(id_col)).limit(0)
        thr = float(threshold)
        a = assign_cells_vectorized(
            df.where(F.col(vec_col).isNotNull())
            .select(F.col(id_col), F.col(vec_col).cast("array<double>")
                    .alias("__v")),
            cents, vec_col="__v", out_col="__cell")
        schema = T.StructType([df.schema[id_col]])

        def _losers(pdf):
            pdf = pdf.sort_values(id_col, ignore_index=True)
            M = np.stack([np.asarray(v, dtype=np.float64)
                          for v in pdf["__v"].to_numpy()])
            n = np.linalg.norm(M, axis=1)
            ok = n > 0.0  # zero-norm: no cosine — can't pair either way
            if not ok.all():
                pdf, M, n = (pdf.loc[ok].reset_index(drop=True),
                             M[ok], n[ok])
                if len(pdf) == 0:
                    return pdf[[id_col]]
            S = (M @ M.T) / (n[:, None] * n[None, :])
            # boolean upper-triangle mask, NOT np.triu(S) — a zeroed
            # lower triangle would count as a hit for threshold <= 0
            upper = np.triu(np.ones(S.shape, dtype=bool), k=1)
            mask = (upper & (S >= thr)).any(axis=0)
            return pdf.loc[mask, [id_col]]

        return a.groupBy("__cell").applyInPandas(_losers, schema)
    if method != "cells":
        raise ValueError(f"semantic_dedup: method must be auto|cells|"
                         f"lsh|cells_vectorized, got {method!r}")
    cents = centroids or ivf_centroids(df, id_col, vec_col,
                                       n_clusters or 16)
    if not cents:  # empty corpus → nothing to drop
        return df.select(F.col(id_col)).limit(0)
    vec = F.col(vec_col).cast("array<double>")
    # per-row norm precomputed ONCE — the pair predicate then costs one
    # dot product instead of three array aggregates per candidate
    a = (df.select(F.col(id_col).alias("__id"), vec.alias("__v"),
                   norm_col(vec).alias("__n"))
         # zero-norm vectors have no cosine: they can neither drop nor
         # be dropped (and ANSI mode makes the 0 divisor an error) —
         # same exclusion as the vectorized kernel
         .where(F.col("__n") > 0)
         .withColumn("__cell", ivf_assign_col(F.col("__v"), cents)))
    # both self-join sides re-derive decode + norm + the k-literal-
    # centroid assignment chain without this (broadcast sides never hit
    # ReuseExchange); one (id, vec, norm, cell) localCheckpoint pays the
    # assignment CPU once (guide §2.4/§5)
    a = a.localCheckpoint()
    x, y = a.alias("x"), a.alias("y")
    sim = (dot_col(F.col("x.__v"), F.col("y.__v"))
           / (F.col("x.__n") * F.col("y.__n")))
    return (x.join(y, on=[F.col("x.__cell") == F.col("y.__cell"),
                          F.col("x.__id") < F.col("y.__id")])
            .where(sim >= threshold)  # same inclusivity as the lsh path
            .select(F.col("y.__id").alias(id_col))
            .distinct())


def semantic_dedup(df: DataFrame, id_col: str = "vec_id",
                   vec_col: str = "embedding", threshold: float = 0.95,
                   n_clusters: int | None = None,
                   centroids: list[tuple[int, list[float]]] | None = None,
                   method: str = "auto", **lsh_opts) -> DataFrame:
    """Semantically deduplicated corpus: ``df`` minus
    ``semantic_dedup_losers`` (one anti-join; the loser set is the
    duplicate fraction only, not the corpus).  ``method='lsh'`` is the
    corpus-scale blocking path (see semantic_dedup_losers)."""
    losers = semantic_dedup_losers(df, id_col, vec_col, threshold,
                                   n_clusters, centroids, method,
                                   **lsh_opts)
    return df.join(losers, on=id_col, how="left_anti")


def semantic_dedup_incremental(
        batch: DataFrame, reps: DataFrame | None,
        id_col: str = "vec_id", vec_col: str = "embedding",
        threshold: float = 0.95,
        centroids: list[tuple[int, list[float]]] | None = None,
        n_clusters: int = 16) -> tuple[DataFrame, DataFrame]:
    """Continuous-ingest SemDeDup: a new embedding batch is deduped
    against the STANDING representative set, then within itself, without
    ever rescanning the corpus.  Returns ``(kept_batch, updated_reps)``
    — survivors join the representative set for the next batch.

    Both sides assign to the SAME fixed centroid cells (pass
    ``centroids`` — e.g. from ``ivf_centroids_kmeans`` on a corpus
    sample — so cell ids are stable across batches; defaults to
    first-k-ids seeding over ``reps``/``batch`` only for small runs),
    and the cross join is an equi-join ON THE CELL: cost
    Σ|batch_cell|·|reps_cell| + Σ|batch_cell|², never |corpus|².  A
    batch row is dropped if it matches any representative at
    ``>= threshold`` (reps always win — they arrived earlier) or a
    lower-id batch row (the greedy first-wins rule of the batch
    variant)."""
    from .similarity import dot_col, ivf_assign_col, ivf_centroids, norm_col

    cents = centroids or ivf_centroids(
        reps if reps is not None else batch, id_col, vec_col, n_clusters)
    if not cents:
        return batch, batch.select(id_col, vec_col)
    vec = F.col(vec_col).cast("array<double>")

    def prep(d, prefix):
        return (d.select(F.col(id_col).alias(f"{prefix}id"),
                         vec.alias(f"{prefix}v"),
                         norm_col(vec).alias(f"{prefix}n"))
                # zero-norm: no cosine — never pairs (ANSI guard)
                .where(F.col(f"{prefix}n") > 0)
                .withColumn(f"{prefix}cell",
                            ivf_assign_col(F.col(f"{prefix}v"), cents)))

    b = prep(batch, "__b")
    losers = None
    if reps is not None:
        r = prep(reps, "__r")
        sim_r = (dot_col(F.col("__bv"), F.col("__rv"))
                 / (F.col("__bn") * F.col("__rn")))
        vs_reps = (b.join(r, on=F.col("__bcell") == F.col("__rcell"))
                   .where(sim_r >= threshold)
                   .select(F.col("__bid").alias(id_col)))
        losers = vs_reps
    x, y = b.alias("x"), b.alias("y")
    sim_b = (dot_col(F.col("x.__bv"), F.col("y.__bv"))
             / (F.col("x.__bn") * F.col("y.__bn")))
    vs_batch = (x.join(y, on=[F.col("x.__bcell") == F.col("y.__bcell"),
                              F.col("x.__bid") < F.col("y.__bid")])
                .where(sim_b >= threshold)
                .select(F.col("y.__bid").alias(id_col)))
    losers = vs_batch if losers is None else \
        losers.unionByName(vs_batch)
    kept = batch.join(losers.distinct(), on=id_col, how="left_anti")
    new_reps = kept.select(id_col, vec_col)
    updated = (new_reps if reps is None
               else reps.select(id_col, vec_col).unionByName(new_reps))
    return kept, updated


# ---------------------------------------------------------------------------
# exact-substring (duplicated-span) dedup — Lee et al. 2022 shape
# ("Deduplicating Training Data Makes Language Models Better"): find and
# remove SPANS of text duplicated across documents, not whole near-dup
# docs.  Spark-first re-expression of the suffix-array approach:
# positional k-gram anchors + equi-join ownership + gap-and-island span
# merge — every stage a bounded shuffle, nothing all-pairs.

#: token joiner inside a gram hash — a unit separator, so token
#: boundaries can't alias ("ab","c" vs "a","bc")
_GRAM_SEP = "\x1f"


def kgram_anchors(df: DataFrame, k: int = 8, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """(id, pos, gram): one md5 anchor per k-token window of each doc.

    Native end to end: tokens materialized once, positions generated with
    ``sequence`` AFTER tokenization (map-side — no shuffle), the gram is
    md5 over the unit-separator-joined window (engine-portable: DuckDB's
    ``md5(array_to_string(..., chr(31)))`` is bit-identical).  Row count
    is Σ(n_tokens - k + 1) — linear in corpus tokens, the same cost class
    as the shingle pass of MinHash.
    """
    from .util import explode_fast

    toks = df.withColumn("__toks", tokens_col(F.col(text_col)))
    n = F.size("__toks")
    pos_seq = F.when(n >= k, F.sequence(F.lit(0), n - k)) \
               .otherwise(F.array().cast("array<int>"))
    out = explode_fast(toks.withColumn("__pos_seq", pos_seq),
                       F.col("__pos_seq"), "pos")
    gram = F.md5(F.concat_ws(
        _GRAM_SEP, F.slice("__toks", F.col("pos") + 1, F.lit(k))))
    return out.select(F.col(id_col), F.col("pos").cast("int").alias("pos"),
                      gram.alias("gram"))


def _gram_dup_anchors(anchors: DataFrame, id_col: str) -> DataFrame:
    """Anchor rows whose gram is owned by a LOWER-id doc (owner =
    min(id) per gram), computed in the anchors' own pass: ONE window over
    the gram key — the fewest-shuffle shape.  md5 grams hash uniformly
    ACROSS keys, but a single boilerplate gram present in a large
    fraction of documents still lands every occurrence in one task
    (windows get no AQE skew handling)."""
    from pyspark.sql import Window

    w_gram = Window.partitionBy("gram")
    return (anchors
            .withColumn("__owner", F.min(id_col).over(w_gram))
            .where(F.col("__owner") < F.col(id_col))
            .drop("__owner"))


def _dup_spans(dup: DataFrame, id_col: str, k: int) -> DataFrame:
    """Gap-and-island merge of each doc's duplicated anchor positions
    into maximal token spans ``(id, span_start, span_end)``: consecutive
    positions share ``pos - row_number()`` (one window by id, one
    groupBy)."""
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("pos")
    runs = (dup.withColumn("__rn", F.row_number().over(w))
            .withColumn("__grp", F.col("pos") - F.col("__rn")))
    return (runs.groupBy(id_col, "__grp")
            .agg(F.min("pos").alias("span_start"),
                 (F.max("pos") + k - 1).cast("int").alias("span_end"))
            .select(id_col, "span_start", "span_end"))


def exact_substring_spans(df: DataFrame, k: int = 8,
                          id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """Maximal duplicated spans per doc: (id, span_start, span_end,
    span_tokens) in TOKEN offsets, where every k-gram of the span also
    occurs in a LOWER-id document (keep-min-doc ownership, matching
    exact_dedup's keep='min' convention; same-doc internal repetition is
    not counted — see ``repetition_signals`` for that axis).

    Shape: (1) min(id) OVER (PARTITION BY gram) marks each anchor with
    its gram's owner in the anchors' own pass (one shuffle, md5-uniform
    keys — no aggregate+join, no second corpus scan); (2) per-doc
    gap-and-island merge of consecutive duplicated positions (window by
    id — one shuffle on doc id).  Runs of overlapping k-grams collapse
    into ONE span row, so output is bounded by distinct duplicated
    regions, not duplicated tokens.

    Fidelity bound vs the suffix-array method (Lee et al. 2022): in
    TOKEN space this is EXACT, not approximate — anchors sit at every
    position (stride 1), so a cross-doc shared substring [s, e] with
    e-s+1 >= k yields the consecutive anchor run s..e-k+1 and the
    island merge recovers exactly [s, e]; spans shorter than k tokens
    are invisible BY DESIGN (the same min-match-length threshold the
    suffix-array pipeline applies).  Pinned by the seeded differential
    against a pure-Python maximal-common-substring ground truth
    (tests/test_exact_substring_differential.py: missed = extra = 0).
    """
    # The min-owner-per-gram used to be a separate aggregate joined back
    # onto anchors — which re-ran the tokenize+explode+md5 chain for each
    # side (Spark re-executes branched subtrees) and paid a second
    # gram-keyed Exchange.  min(id) OVER (PARTITION BY gram) computes the
    # same owner in the anchors' own single pass: ONE corpus scan, ONE
    # shuffle, no join (guide §2.4 remove shuffles outright; §3 a window
    # keyed like the join replaces it).
    anchors = kgram_anchors(df, k, id_col, text_col)
    spans = _dup_spans(_gram_dup_anchors(anchors, id_col), id_col, k)
    return spans.withColumn(
        "span_tokens",
        (F.col("span_end") - F.col("span_start") + 1).cast("int"))


def exact_substring_dedup(df: DataFrame, k: int = 8,
                          id_col: str = "doc_id", text_col: str = "text",
                          out_col: str = "clean_text") -> DataFrame:
    """Documents with cross-doc duplicated spans REMOVED (the doc owning
    the span — smallest id — keeps it; later docs lose those tokens).

    Rebuild is a native higher-order filter: spans collected into one
    array struct per doc (bounded: distinct duplicated regions, not
    duplicated tokens), docs LEFT-join their span list (one shuffle on
    id), tokens dropped when their index falls inside any span.  Output
    text is token-normalized (lowercased, single-space joined) — the
    same normalization the anchors were computed over; all other columns
    pass through unchanged.

    The cleaned text lands in ``out_col`` (default ``clean_text``),
    PRESERVING the original ``text_col`` — the normalization is lossy
    (case/punctuation/whitespace), so destroying the source formatting
    must be opt-in: pass ``out_col=text_col`` for in-place rewrite.
    (Changed in r5: the default was previously in-place.)
    """
    spans = exact_substring_spans(df, k, id_col, text_col)
    return _strip_spans(df, spans, id_col, text_col, out_col)


def _strip_spans(df: DataFrame, spans: DataFrame, id_col: str,
                 text_col: str, out_col: str) -> DataFrame:
    """Drop each doc's tokens covered by any (span_start, span_end) row —
    the shared rebuild tail of the batch and incremental span dedups.
    One shuffle (spans collect_list keyed on id) + a left join; token
    filtering is a native higher-order filter."""
    spans = (spans.groupBy(id_col)
             .agg(F.collect_list(F.struct("span_start", "span_end"))
                  .alias("__spans")))
    toks = df.withColumn("__toks", tokens_col(F.col(text_col)))
    joined = toks.join(spans, on=id_col, how="left")

    def covered(i):
        return F.exists(F.col("__spans"),
                        lambda s: (i >= s["span_start"])
                        & (i <= s["span_end"]))

    kept = F.when(F.col("__spans").isNull(), F.col("__toks")) \
            .otherwise(F.filter("__toks", lambda t, i: ~covered(i)))
    joined = joined.withColumn("__clean", F.array_join(kept, " "))
    if out_col == text_col:
        sel = [F.col("__clean").alias(out_col) if c == text_col
               else F.col(c) for c in df.columns]
    else:  # keep the original text, append the cleaned column
        sel = [F.col(c) for c in df.columns] \
            + [F.col("__clean").alias(out_col)]
    return joined.select(*sel)


def exact_substring_index(df: DataFrame, k: int = 8,
                          id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """Standing k-gram anchor index for CONTINUOUS-INGEST span dedup:
    the distinct gram hashes of the corpus (ownership is simply "the
    index" — everything in it precedes any future batch).  Persist it
    bucketed on ``gram`` (BucketedTap) and the incremental join below
    never shuffles the index side — the same zero-Exchange contract as
    ``minhash_index``."""
    return kgram_anchors(df, k, id_col, text_col).select("gram").distinct()


def exact_substring_dedup_incremental(
        batch: DataFrame, index_df: DataFrame | None, k: int = 8,
        id_col: str = "doc_id", text_col: str = "text",
        out_col: str = "clean_text") -> tuple[DataFrame, DataFrame]:
    """Incremental exact-substring (duplicated-span) dedup: NEW docs lose
    token spans whose every k-gram already exists in the standing
    ``index_df`` OR is owned by a lower-id doc within the batch (the
    batch-internal rule matches ``exact_substring_dedup`` exactly).
    Returns ``(clean_batch, updated_index)``.

    Scale shape: the batch's anchors semi-join the index on md5-uniform
    gram keys (index side stays put when bucketed), the batch-internal
    owner pass aggregates ONLY the batch, and the index grows by the
    batch's distinct new grams — the corpus is never rescanned, the
    continuous-ingest contract shared with ``exact_dedup_incremental``
    and ``minhash_lsh_candidates_incremental``."""
    # The batch-internal owner pass is a window, not an aggregate+join —
    # min(id) OVER (PARTITION BY gram) folds owner computation into the
    # anchors' own pass (one tokenize, one shuffle, no self-join; guide
    # §2.4), cutting the anchor-subtree executions from 4 to 3 (the index
    # semi-join and the index update still branch, batch-sized both).
    anchors = kgram_anchors(batch, k, id_col, text_col)
    batch_dup = _gram_dup_anchors(anchors, id_col).select(id_col, "pos")
    if index_df is not None:
        idx_dup = (anchors.join(index_df.select("gram"), on="gram",
                                how="left_semi")
                   .select(id_col, "pos"))
        dup = batch_dup.unionByName(idx_dup).distinct()
        updated = (index_df.select("gram")
                   .unionByName(anchors.select("gram")).distinct())
    else:
        dup = batch_dup
        updated = anchors.select("gram").distinct()
    spans = _dup_spans(dup, id_col, k)
    return _strip_spans(batch, spans, id_col, text_col, out_col), updated


def cross_doc_line_dedup(df: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text", sep: str = "\n",
                         min_chars: int = 1,
                         out_col: str = "dedup_text") -> DataFrame:
    """Cross-document LINE dedup (MassiveText / C4 repeated-boilerplate
    rule at corpus granularity): a line that already appeared in an
    earlier document — ordered by (id, position) — is dropped from every
    later one; the first occurrence survives.  Lines shorter than
    ``min_chars`` after trimming are never deduped (empty/separator
    lines are not boilerplate evidence).

    All native: posexplode the lines, md5 the trimmed lowercased line as
    the dedup key, one min-struct WINDOW over the key picks the global
    first owner and marks survivors in the same pass (no aggregate+join,
    no second corpus scan), and per-doc reassembly is array_sort over
    collected (pos, line) structs — no Python.  Two shuffles total (owner
    window, doc reassembly); a boilerplate line sends all its occurrences
    to one owner-window task.

    Returns the input columns plus ``out_col`` (lines re-joined with
    ``sep``; original ``text_col`` preserved — pass ``out_col=text_col``
    to rewrite in place, same contract as exact_substring_dedup)."""
    import re as _re

    lines = (df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), _re.escape(sep)))
        .alias("__pos", "__line"))
        .withColumn("__key", F.md5(F.trim(F.lower(F.col("__line"))))))
    eligible = F.length(F.trim(F.col("__line"))) >= min_chars
    # The first-owner-per-key used to be a separate aggregate left-joined
    # back onto lines — re-running the split+md5 pass for each side and
    # paying a second __key Exchange.  min(struct) OVER (PARTITION BY
    # __key), null-masked to eligible rows (min ignores NULLs), computes
    # the same owner in the lines' own single pass: one corpus scan, one
    # shuffle, no join (guide §2.4).  Every eligible line's key group
    # contains at least itself, so the owner is never NULL where tested.
    from pyspark.sql import Window
    me = F.struct(F.col(id_col).alias("__oid"),
                  F.col("__pos").alias("__opos"))
    owner = F.min(F.when(eligible, me)).over(Window.partitionBy("__key"))
    kept = (lines.withColumn("__owner", owner)
            .where((~eligible)
                   | ((F.col("__owner.__oid") == F.col(id_col))
                      & (F.col("__owner.__opos") == F.col("__pos")))))
    rebuilt = (kept.groupBy(id_col)
               .agg(F.array_join(
                   F.transform(
                       F.array_sort(F.collect_list(
                           F.struct("__pos", "__line"))),
                       lambda s: s["__line"]),
                   sep).alias("__rebuilt")))
    joined = df.join(rebuilt, on=id_col, how="left")
    clean = F.coalesce(F.col("__rebuilt"), F.lit(""))
    if out_col == text_col:
        sel = [clean.alias(out_col) if c == text_col else F.col(c)
               for c in df.columns]
    else:
        sel = [F.col(c) for c in df.columns] + [clean.alias(out_col)]
    return joined.select(*sel)


def dedup_quality_report(df: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text", threshold: float = 0.8,
                         num_perm: int = 16, bands: int = 4,
                         shingle_k: int = 3,
                         prefilter: bool = True) -> DataFrame:
    """Measure, don't guess: candidate quality of the MinHash-LSH
    blocking against exact n-gram-Jaccard ground truth at ``threshold``
    → ONE row ``(n_candidates, n_truth, tp, fp, fn, precision,
    recall)``.

    ``fp`` here means "candidate whose true Jaccard is below the
    threshold" — the wasted-verification rate, NOT wrong output (a
    full pipeline always verifies candidates); ``fn`` is the genuinely
    dangerous number — true near-dup pairs the banding never surfaces.
    Tuning loop: more bands (same num_perm) → recall up, precision
    down.  Run on a corpus SAMPLE at scale: ground truth is the
    shingle self-join, which is the expensive exact path the LSH
    blocking exists to avoid.
    """
    cand = minhash_lsh_candidates(df, id_col, text_col, num_perm,
                                  bands, shingle_k)
    truth = (ngram_jaccard_pairs(df, id_col, text_col, n=shingle_k,
                                 threshold=threshold,
                                 prefilter=prefilter)
             .select("id_a", "id_b"))
    j = (cand.withColumn("__c", F.lit(1))
         .join(truth.withColumn("__t", F.lit(1)),
               on=["id_a", "id_b"], how="full"))
    agg = j.agg(
        F.coalesce(F.sum("__c"), F.lit(0)).alias("n_candidates"),
        F.coalesce(F.sum("__t"), F.lit(0)).alias("n_truth"),
        F.coalesce(F.sum(F.when(F.col("__c").isNotNull()
                                & F.col("__t").isNotNull(), 1)),
                   F.lit(0)).alias("tp"))
    return (agg.withColumn("fp", F.col("n_candidates") - F.col("tp"))
            .withColumn("fn", F.col("n_truth") - F.col("tp"))
            .withColumn("precision",
                        F.round(F.when(F.col("n_candidates") == 0,
                                       F.lit(1.0))
                                .otherwise(F.col("tp")
                                           / F.col("n_candidates")), 6))
            .withColumn("recall",
                        F.round(F.when(F.col("n_truth") == 0, F.lit(1.0))
                                .otherwise(F.col("tp")
                                           / F.col("n_truth")), 6)))


def leakage_free_split(df: DataFrame, pairs: DataFrame, weights: dict,
                       id_col: str = "doc_id", out_col: str = "split",
                       seed: int = 42, max_iter: int = 20) -> DataFrame:
    """Train/val/test assignment that near-duplicates CANNOT straddle:
    connected components over the candidate ``pairs`` give each doc its
    dup-cluster id, and the split hash is taken over
    ``coalesce(cluster, id)`` — so a whole near-dup cluster lands in ONE
    split and singletons hash on their own id.  This is the split you
    actually want before held-out evaluation: with a per-doc hash split
    (``corpus.split_corpus``), ~dup_rate of the test set has a
    near-verbatim twin in train and the eval leaks.

    Deterministic end-to-end (min-id cluster labels + the md5 interval
    hash), so assignments survive reruns, retries, and engines.

    Scale: the CC pass is the O(log n)-round star contraction over the
    pair table (duplicate-fraction-sized, NOT corpus-sized); the only
    corpus-wide work is one left join against the cluster labels and a
    map-side hash.  Weights follow ``split_corpus`` semantics."""
    from .corpus import split_corpus

    clusters = dedup_clusters(pairs, max_iter=max_iter)
    labeled = (df.join(clusters.select(F.col("node").alias(id_col),
                                       F.col("cluster").alias("__cl")),
                       on=id_col, how="left")
               .withColumn("__grp", F.coalesce(F.col("__cl"),
                                               F.col(id_col))))
    return (split_corpus(labeled, weights, id_col=id_col,
                         out_col=out_col, seed=seed, group_col="__grp")
            .drop("__cl", "__grp"))
