"""Text analysis operators for training-data pipelines.

Tokenization, quality scoring, token counting and shingle-based document
fingerprinting are native Column expressions (JVM-side, codegen'd).
Language-ID tokenizes the same way in the JVM, then scores the token
lists per Arrow batch in one vectorized UDF (``_lang_pred``).  Each
operator has an exact ANSI-SQL twin used as the DuckDB oracle (see
__spark_entry__.oracle_sql).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Small per-language stopword lists for the n-gram/stopword heuristic.
# Deliberately tiny + deterministic — the operator contract is the pipeline
# shape (tokenize → score per lang → argmax), not lexicon quality.
STOPWORDS = {
    "en": ["the", "and", "is", "of", "to", "a", "in", "that", "it", "was"],
    "de": ["der", "die", "das", "und", "ist", "von", "zu", "ein", "mit", "nicht"],
    "fr": ["le", "la", "les", "et", "est", "de", "un", "une", "dans", "pas"],
    "es": ["el", "la", "los", "y", "es", "de", "un", "una", "en", "no"],
    "zh": ["de5", "shi4", "le5", "zai4", "you3", "wo3", "ta1", "zhe4", "bu4", "ren2"],
}

TOKEN_SPLIT = r"\s+"


def tokens_col(text: Column) -> Column:
    """Whitespace tokenization of lowercased text, empty tokens dropped.

    ``array_remove`` is code-generated, where a ``filter`` lambda runs
    interpreted per element; ``split`` yields no null elements, so
    removing ``""`` drops exactly the empty tokens."""
    return F.array_remove(F.split(F.lower(text), TOKEN_SPLIT), "")


def tokenize(df: DataFrame, text_col: str = "text",
             out_col: str = "tokens") -> DataFrame:
    return df.withColumn(out_col, tokens_col(F.col(text_col)))


def token_count(df: DataFrame, text_col: str = "text",
                out_col: str = "n_tokens") -> DataFrame:
    """Whitespace token count — fully native (split+size)."""
    return df.withColumn(out_col, F.size(tokens_col(F.col(text_col))))


def bpe_ish_token_count(df: DataFrame, text_col: str = "text",
                        out_col: str = "n_bpe_tokens") -> DataFrame:
    """BPE-ish token estimate: count of word pieces + digit runs + punct,
    via a single regexp pass (the cl100k-style pre-tokenizer regex family)."""
    pattern = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
    return df.withColumn(
        out_col, F.size(F.regexp_extract_all(F.col(text_col),
                                             F.lit(pattern), 0)))


_LANGS = sorted(STOPWORDS)
_LANG_WORDS = [pa.array(STOPWORDS[lang]) for lang in _LANGS]
_LANG_NAMES = pa.array([*_LANGS, "und"])


@F.arrow_udf(T.StringType())
def _lang_pred(toks: pa.Array) -> pa.Array:
    """Per Arrow batch of token lists: stopword hits per language via one
    ``is_in`` over the flattened tokens, summed per document with
    ``bincount``; argmax picks the alphabetically first language of a tie
    and 'und' when nothing hit.  Null lists get no hits."""
    flat = pc.list_flatten(toks)
    parent = pc.list_parent_indices(toks).to_numpy()
    hits = np.stack([
        np.bincount(parent[pc.is_in(flat, value_set=words)
                           .to_numpy(zero_copy_only=False)],
                    minlength=len(toks))
        for words in _LANG_WORDS])
    best = np.where(hits.max(axis=0) > 0, hits.argmax(axis=0), len(_LANGS))
    return _LANG_NAMES.take(pa.array(best))


def lang_id(df: DataFrame, text_col: str = "text",
            out_col: str = "lang_pred") -> DataFrame:
    """Language ID: per-language stopword-hit counts → argmax, ties broken
    alphabetically then 'und' (undetermined) when no stopword hits at all.

    Scale note: the JVM tokenizes (``tokens_col``); one Arrow UDF per
    batch scores every language at once; no shuffle.
    """
    return df.withColumn(out_col, _lang_pred(tokens_col(F.col(text_col))))


def quality_score(df: DataFrame, text_col: str = "text",
                  out_col: str = "quality") -> DataFrame:
    """Document quality score in [0,1]:

    - 0.4 if char length in [100, 5000]
    - 0.3 if alphabetic-char ratio ≥ 0.6
    - 0.3 if mean token length in [3, 12]

    Exact rational arithmetic on counts (reproducible across engines).
    """
    text = F.col(text_col)
    n_chars = F.length(text)
    alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", ""))
    toks = tokens_col(text)
    n_toks = F.size(toks)
    tok_chars = F.length(F.regexp_replace(text, r"\s", ""))
    mean_tok = tok_chars / F.when(n_toks > 0, n_toks).otherwise(F.lit(1))
    score = (
        F.when((n_chars >= 100) & (n_chars <= 5000), 0.4).otherwise(0.0)
        + F.when(alpha / F.when(n_chars > 0, n_chars).otherwise(F.lit(1))
                 >= 0.6, 0.3).otherwise(0.0)
        + F.when((mean_tok >= 3) & (mean_tok <= 12), 0.3).otherwise(0.0))
    return df.withColumn(out_col, F.round(score, 1))


#: distinct-stopword rule lexicon (Gopher A1.1 uses a fixed tiny list)
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_rules(df: DataFrame, text_col: str = "text",
                 min_tokens: int = 50, max_tokens: int = 100_000,
                 min_mean_word_len: float = 3.0,
                 max_mean_word_len: float = 10.0,
                 max_hash_word_ratio: float = 0.1,
                 max_ellipsis_word_ratio: float = 0.1,
                 max_bullet_line_frac: float = 0.9,
                 max_ellipsis_line_frac: float = 0.3,
                 min_alpha_word_frac: float = 0.8,
                 min_stopword_distinct: int = 2,
                 keep_col: str = "keep",
                 reasons_col: str = "fail_reasons") -> DataFrame:
    """Gopher document-quality rule bundle (Rae et al. 2021, appendix
    A1.1) — the classic pre-training keep/drop filter, as ONE pass of
    native Column expressions (no UDF, no shuffle, no join):

    - ``n_tokens``: token count within [min_tokens, max_tokens]
    - ``mean_word_len``: mean token length within bounds
    - ``hash_ratio`` / ``ellipsis_ratio``: '#' count / '...' or '…'
      occurrences per word ≤ bound
    - ``bullet_lines`` / ``ellipsis_lines``: fraction of lines starting
      with a bullet (-, *, •) / ending with an ellipsis ≤ bound
    - ``alpha_words``: fraction of tokens containing ≥1 alphabetic
      char ≥ bound
    - ``stopwords``: ≥ ``min_stopword_distinct`` DISTINCT hits from
      :data:`GOPHER_STOPWORDS`

    Adds ``keep`` (bool) and ``fail_reasons`` (sorted array of the rule
    names above that failed — empty when kept).  All arithmetic is exact
    count ratios, so a SQL oracle reproduces it bit-for-bit; project
    ``concat_ws(',', fail_reasons)`` for hash surfaces that need scalars.
    At 100 TB this is a straight map over the corpus scan — it pipelines
    with the read and costs no exchange."""
    text = F.col(text_col)
    toks = tokens_col(text)
    n_toks = F.size(toks)
    safe_n = F.when(n_toks > 0, n_toks).otherwise(F.lit(1))
    tok_chars = F.length(F.regexp_replace(F.lower(text), r"\s", ""))
    mean_word = tok_chars / safe_n
    n_hash = F.length(text) - F.length(F.regexp_replace(text, "#", ""))
    n_ellipsis = (
        (F.length(text)
         - F.length(F.regexp_replace(text, r"\.\.\.", "")))
        / F.lit(3)
        + F.length(text) - F.length(F.regexp_replace(text, "…", "")))
    lines = F.filter(F.split(text, "\n"),
                     lambda ln: F.trim(ln) != F.lit(""))
    n_lines = F.size(lines)
    safe_lines = F.when(n_lines > 0, n_lines).otherwise(F.lit(1))
    bullet_frac = (
        F.size(F.filter(lines, lambda ln: F.substring(F.ltrim(ln), 1, 1)
                        .isin("-", "*", "•"))) / safe_lines)
    ell_line_frac = (
        F.size(F.filter(
            lines,
            lambda ln: F.rtrim(ln).endswith("...")
            | F.rtrim(ln).endswith("…"))) / safe_lines)
    alpha_frac = (F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
                  / safe_n)
    stop_arr = F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
    n_stop_distinct = F.size(F.array_intersect(toks, stop_arr))
    checks = [
        ("n_tokens", (n_toks >= min_tokens) & (n_toks <= max_tokens)),
        ("mean_word_len", (mean_word >= min_mean_word_len)
         & (mean_word <= max_mean_word_len)),
        ("hash_ratio", n_hash / safe_n <= max_hash_word_ratio),
        ("ellipsis_ratio", n_ellipsis / safe_n <= max_ellipsis_word_ratio),
        ("bullet_lines", bullet_frac <= max_bullet_line_frac),
        ("ellipsis_lines", ell_line_frac <= max_ellipsis_line_frac),
        ("alpha_words", alpha_frac >= min_alpha_word_frac),
        ("stopwords", n_stop_distinct >= min_stopword_distinct),
    ]
    reasons = F.array_sort(F.filter(
        F.array(*[F.when(~ok, F.lit(name)).otherwise(F.lit(None))
                  for name, ok in checks]),
        lambda x: x.isNotNull()))
    return (df.withColumn(reasons_col, reasons)
            .withColumn(keep_col, F.size(F.col(reasons_col)) == 0))


def doc_fingerprint(df: DataFrame, text_col: str = "text",
                    out_col: str = "fingerprint") -> DataFrame:
    """Exact-content fingerprint: md5 of whitespace-normalized lowercased
    text.  md5 is bit-identical across engines → oracle-checkable."""
    norm = F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " ")
    return df.withColumn(out_col, F.md5(norm))


def shingle_fingerprint(df: DataFrame, text_col: str = "text",
                        out_col: str = "shingle_fp", k: int = 5) -> DataFrame:
    """Winnowing-style fingerprint: minimum md5 over the document's k-token
    shingles (a 1-permutation MinHash).  Robust to local edits; native
    (transform + array_min), no Python."""
    from .dedup import with_shingles

    df = with_shingles(df, text_col, k, "__sh")
    return (df.withColumn(out_col,
                          F.array_min(F.transform(F.col("__sh"), F.md5)))
            .drop("__sh"))


def clean_text(df: DataFrame, text_col: str = "text",
               out_col: str = "clean_text",
               lowercase: bool = False) -> DataFrame:
    """Pretraining text normalization, fully native (one regexp_replace
    chain, JVM-side): strip control characters, collapse runs of
    whitespace, trim.  Optional lowercasing."""
    c = F.col(text_col)
    c = F.regexp_replace(c, r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]", "")
    c = F.regexp_replace(c, r"\s+", " ")
    c = F.trim(c)
    if lowercase:
        c = F.lower(c)
    return df.withColumn(out_col, c)


def line_dup_ratio(df: DataFrame, text_col: str = "text",
                   out_col: str = "line_dup_ratio",
                   sep: str = "\n") -> DataFrame:
    """Gopher-style repetition signal: fraction of a document's lines that
    are duplicates of an earlier line (0.0 = all unique).  Native
    split/array_distinct/size — no UDF."""
    import re as _re
    lines = F.filter(F.split(F.col(text_col), _re.escape(sep)),
                     lambda x: x != F.lit(""))
    n = F.size(lines)
    ratio = F.when(n > 0,
                   F.round(1.0 - F.size(F.array_distinct(lines))
                           / n.cast("double"), 6)).otherwise(0.0)
    return df.withColumn(out_col, ratio)


def chunk_text(df: DataFrame, max_tokens: int = 512, overlap: int = 64,
               text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Split documents into overlapping token-window chunks — the
    context-window preprocessing stage of an LLM training pipeline.

    Output: one row per chunk, ``(id_col, chunk_idx, chunk, n_tokens)``.
    Windows advance by ``max_tokens - overlap`` tokens; the last window may
    be short; empty docs yield no rows.  Fully native (split / sequence /
    slice / posexplode) — scales with the scan, no Python."""
    if not 0 <= overlap < max_tokens:
        raise ValueError("chunk_text: need 0 <= overlap < max_tokens")
    step = max_tokens - overlap
    toks = F.filter(F.split(F.col(text_col), r"\s+"),
                    lambda t: t != F.lit(""))
    n = F.size(toks)
    # number of windows = ceil(max(n - overlap, 0) / step), min 1 when n>0
    n_chunks = F.when(
        n > 0, F.ceil((F.greatest(n - F.lit(overlap), F.lit(0)))
                      / F.lit(step)).cast("int")).otherwise(F.lit(0))
    chunks = F.transform(
        F.sequence(F.lit(0), F.greatest(n_chunks - 1, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i * step + 1, max_tokens)))
    chunks = F.when(n > 0, chunks).otherwise(F.array().cast("array<string>"))
    from .util import explode_fast

    out = explode_fast(df, chunks, "chunk", pos_name="chunk_idx") \
        .select(id_col, "chunk_idx", "chunk")
    return out.withColumn(
        "n_tokens", F.size(F.filter(F.split(F.col("chunk"), r"\s+"),
                                    lambda t: t != F.lit(""))))


# RE2-safe patterns (no lookaround) — identical semantics in Spark's Java
# regex and DuckDB's RE2, so redaction is oracle-checkable cross-engine.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?[0-9][0-9()\-\s]{7,}[0-9]",
    "ipv4": r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",
}


def redact_pii(df: DataFrame, text_col: str = "text",
               out_col: str = "redacted",
               kinds: list[str] | None = None) -> DataFrame:
    """Mask PII spans with ``[KIND]`` tokens and count them per kind —
    the scrubbing stage of a training-data pipeline.

    Adds ``out_col`` plus one ``n_<kind>`` count column per pattern.
    Patterns are RE2-safe so the same regexes run in any engine.  Order
    matters: emails are masked before phones so digit runs inside an
    address aren't double-counted."""
    kinds = list(kinds or PII_PATTERNS)
    out = df
    red = F.col(text_col)
    for k in kinds:
        pat = PII_PATTERNS[k]
        out = out.withColumn(
            f"n_{k}", F.size(F.regexp_extract_all(red, F.lit(pat), 0)))
        red = F.regexp_replace(red, pat, f"[{k.upper()}]")
    return out.withColumn(out_col, red)


URL_PATTERN = r"https?://[A-Za-z0-9.-]+(?:/[^\s]*)?"


def url_domain_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Web-corpus source stats: extract URLs (RE2-safe pattern), reduce to
    registrable host, count per domain.  explode + groupBy — shuffles on
    the domain key only."""
    from .util import explode_fast

    urls = F.regexp_extract_all(F.col(text_col), F.lit(URL_PATTERN), 0)
    dom = F.lower(F.regexp_extract(F.col("url"),
                                   r"https?://([A-Za-z0-9.-]+)", 1))
    return (explode_fast(df, urls, "url")
            .select(dom.alias("domain"))
            .groupBy("domain")
            .agg(F.count(F.lit(1)).alias("n_urls")))


def char_ngrams_col(toks: Column, n: int) -> Column:
    """All token n-grams (space-joined, duplicates kept); empty array when
    the doc has fewer than n tokens.  Sequence is guarded — Spark's
    sequence(1, 0) would count DOWN, not produce an empty range."""
    return F.when(
        F.size(toks) >= n,
        F.transform(F.sequence(F.lit(1), F.size(toks) - n + 1),
                    lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    ).otherwise(F.array().cast("array<string>"))


def repetition_signals(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", n_top: int = 2,
                       n_dup: int = 3) -> DataFrame:
    """Gopher-style n-gram repetition signals (Rae et al. 2021, appendix
    A1.1 "repetitious text" filters) →
    ``(id_col, top_ngram_char_frac, dup_ngram_char_frac)``:

    - ``top_ngram_char_frac``: fraction of the doc's token characters
      covered by occurrences of its single most frequent ``n_top``-gram.
    - ``dup_ngram_char_frac``: fraction covered by ``n_dup``-grams that
      occur more than once.

    Shape at scale: explode → count keyed on (doc, gram) — ONE shuffle per
    signal with map-side partial aggregation (gram cardinality per doc is
    bounded by token count), then a per-doc rollup on the same key prefix
    and a join back to the per-doc char totals, all partitioned by doc id.
    No UDFs anywhere; char weight of a gram = its non-space length, so the
    DuckDB oracle can reproduce values bit-for-bit.
    """
    from .util import explode_fast

    toks = tokens_col(F.col(text_col))
    base = df.select(F.col(id_col), toks.alias("__t"))
    totals = base.select(
        F.col(id_col),
        F.length(F.concat_ws("", F.col("__t"))).alias("__chars"))

    def per_doc(n: int, dup_only: bool, out: str) -> DataFrame:
        ex = (explode_fast(base, char_ngrams_col(F.col("__t"), n), "__g")
              .select(F.col(id_col), "__g"))
        w = F.length(F.regexp_replace(F.col("__g"), " ", ""))
        cnt = (ex.groupBy(id_col, "__g")
               .agg(F.count(F.lit(1)).alias("__c"), F.first(w).alias("__w")))
        covered = F.col("__c") * F.col("__w")
        if dup_only:
            val = F.sum(F.when(F.col("__c") > 1, covered).otherwise(F.lit(0)))
        else:
            val = F.max(covered)
        return cnt.groupBy(id_col).agg(val.alias(out))

    top = per_doc(n_top, False, "__top")
    dup = per_doc(n_dup, True, "__dup")
    # overlapping occurrences can over-count chars (count*len > total for
    # "a a a a"): clamp so the signal stays a true fraction in [0, 1].
    # NB the chars>0 guard must be an explicit WHEN — least() SKIPS nulls
    # (least(1.0, null) = 1.0), so a null ratio would clamp UP, not out
    frac = (lambda c: F.when(
        F.col("__chars") > 0,
        F.round(F.least(F.lit(1.0),
                        F.coalesce(c, F.lit(0)).cast("double")
                        / F.col("__chars")), 6)).otherwise(F.lit(0.0)))
    return (totals.join(top, on=id_col, how="left")
            .join(dup, on=id_col, how="left")
            .select(F.col(id_col),
                    frac(F.col("__top")).alias("top_ngram_char_frac"),
                    frac(F.col("__dup")).alias("dup_ngram_char_frac")))


def top_ngrams(df: DataFrame, n: int = 2, k: int = 100,
               text_col: str = "text", id_col: str = "doc_id",
               by_doc_freq: bool = False) -> DataFrame:
    """Corpus-level heavy hitters: the ``k`` most frequent token n-grams →
    ``(ngram, n_occurrences)`` — the vocabulary/boilerplate audit step of
    a corpus pipeline.

    explode → count keyed on the gram (map-side partial aggregation
    collapses each partition's repeats before the shuffle) → global top-k
    as orderBy+limit = TakeOrderedAndProject per-partition heaps, never a
    full sort.  ``by_doc_freq=True`` counts distinct docs containing the
    gram instead of raw occurrences (array_distinct per doc before the
    explode — still one shuffle).  Ties broken by gram text ascending —
    deterministic, oracle-checkable."""
    from .util import explode_fast

    toks = tokens_col(F.col(text_col))
    grams = char_ngrams_col(toks, n)
    if by_doc_freq:
        grams = F.array_distinct(grams)
    ex = explode_fast(df.select(grams.alias("__gs")), F.col("__gs"), "ngram")
    return (ex.groupBy("ngram")
            .agg(F.count(F.lit(1)).alias("n_occurrences"))
            .orderBy(F.col("n_occurrences").desc(), F.col("ngram").asc())
            .limit(k))


def tf_idf(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
           top_k: int | None = None, materialize: bool = True) -> DataFrame:
    """Corpus TF-IDF → ``(id, term, tf, df, tfidf)``, optionally the
    ``top_k`` terms per doc (+``rank``) — the keyword/feature-weighting
    stage of a corpus pipeline.

    tf = raw term count in the doc; idf = ln((1+N)/(1+df)) + 1 (smoothed,
    sklearn convention, never divides by zero).

    Scale shape: the corpus is tokenized ONCE — the (id, term, tf)
    aggregate is persisted (``materialize=True``) because both the output
    rows and the per-term doc-frequency derive from it; without the
    persist Catalyst re-expands the whole explode for the df branch
    (tokenizing 100 TB twice).  df comes from a groupBy on the persisted
    aggregate (map-side partials absorb hot stopword terms) and joins
    back keyed on the term — AQE skew-split handles the Zipf head.  N is
    injected via a 1-row broadcast cross join.  ``top_k`` prunes with a
    per-doc Window row_number — partition-parallel over docs.

    Cache lifecycle: the persisted handle is attached as
    ``out._tfidf_cache``; call ``release_tfidf_cache(out)`` after the
    consuming action (or pass ``materialize=False`` to trade the double
    tokenization for zero cache footprint).
    """
    from pyspark import StorageLevel

    from .util import explode_fast

    terms = explode_fast(
        df.select(F.col(id_col).alias("__id"),
                  tokens_col(F.col(text_col)).alias("__toks")),
        F.col("__toks"), "term")
    # (id, term) counts — the single corpus-sized shuffle
    tf = (terms.groupBy("__id", "term")
          .agg(F.count(F.lit(1)).alias("tf")))
    if materialize:
        tf = tf.persist(StorageLevel.MEMORY_AND_DISK)
    # doc frequency reuses tf (already one row per (doc, term))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.select(
        F.count(F.lit(1)).cast("double").alias("__n"))
    scored = (tf.join(dfreq, on="term")
              .crossJoin(F.broadcast(n_docs))
              .withColumn(
                  "tfidf",
                  F.col("tf") * (F.log((F.lit(1.0) + F.col("__n"))
                                       / (F.lit(1.0) + F.col("df")))
                                 + F.lit(1.0)))
              .select(F.col("__id").alias(id_col), "term", "tf", "df",
                      F.round("tfidf", 6).alias("tfidf")))
    out = scored
    if top_k is not None:
        from pyspark.sql import Window
        w = (Window.partitionBy(id_col)
             .orderBy(F.col("tfidf").desc(), F.col("term").asc()))
        out = (scored.withColumn("rank", F.row_number().over(w))
               .where(F.col("rank") <= top_k))
    if materialize:
        out._tfidf_cache = tf
    return out


def unigram_nll(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text", alpha: float = 0.5,
                materialize: bool = True,
                ref: DataFrame | None = None,
                ref_text_col: str | None = None) -> DataFrame:
    """Per-doc mean negative log-likelihood under the corpus unigram
    model — the perplexity-proxy quality signal (the cheap stand-in for
    LM-perplexity filtering à la CCNet/Gopher): gibberish and
    boilerplate-free natural text separate on this score with no model
    artifact needed.

    ``p(t) = (count(t) + α) / (total + α·|V|)`` (add-α smoothing);
    ``nll(doc) = −Σ tf·ln p / Σ tf``.  Both the per-doc stream and the
    corpus counts derive from ONE (id, term, tf) aggregate (same persist
    contract as ``tf_idf`` — release with ``release_tfidf_cache``); the
    corpus-level totals are a 1-row broadcast.  Docs with zero tokens are
    absent from the output.

    ``ref`` switches to CROSS-CORPUS scoring — the model trains on the
    reference corpus (``ref_text_col`` defaults to ``text_col``) and
    ``df`` is scored against it: the CCNet-style quality filter, where
    perplexity under a CLEAN reference LM ranks candidate text (self-
    perplexity only measures in-corpus typicality).  Terms the
    reference never saw get the α smoothing mass (count 0); |V| and the
    total come from the reference.
    """
    from pyspark import StorageLevel

    from .util import explode_fast

    terms = explode_fast(
        df.select(F.col(id_col).alias("__id"),
                  tokens_col(F.col(text_col)).alias("__toks")),
        F.col("__toks"), "term")
    tf = (terms.groupBy("__id", "term")
          .agg(F.count(F.lit(1)).alias("tf")))
    if materialize:
        tf = tf.persist(StorageLevel.MEMORY_AND_DISK)
    if ref is None:
        counts = tf.groupBy("term").agg(F.sum("tf").alias("ct"))
    else:
        rterms = explode_fast(
            ref.select(tokens_col(F.col(ref_text_col or text_col))
                       .alias("__toks")),
            F.col("__toks"), "term")
        counts = rterms.groupBy("term").agg(
            F.count(F.lit(1)).alias("ct"))
    totals = counts.agg(
        F.sum("ct").cast("double").alias("__total"),
        F.count(F.lit(1)).cast("double").alias("__vocab"))
    logp = F.log((F.coalesce(F.col("ct"), F.lit(0)) + F.lit(alpha))
                 / (F.col("__total") + F.lit(alpha) * F.col("__vocab")))
    out = (tf.join(counts, on="term", how="left")
           .crossJoin(F.broadcast(totals))
           .groupBy("__id")
           .agg((-F.sum(F.col("tf") * logp) / F.sum("tf")).alias("__nll"))
           .select(F.col("__id").alias(id_col),
                   F.round("__nll", 6).alias("nll")))
    if materialize:
        out._tfidf_cache = tf
    return out


def bigram_nll(df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text", alpha: float = 0.5,
               materialize: bool = True,
               ref: DataFrame | None = None,
               ref_text_col: str | None = None) -> DataFrame:
    """Per-doc mean negative log-likelihood under the corpus BIGRAM
    model — one step up the n-gram ladder from ``unigram_nll``
    (repetitive templated text scores low on bigram surprise even when
    its unigram profile looks natural; the pair separates boilerplate
    from prose).

    ``p(t2|t1) = (count(t1,t2) + α) / (count(t1,·) + α·|V|)`` where
    ``count(t1,·)`` is t1's occurrences as a history and ``|V|`` the
    predicted-token vocabulary (both derived from the ONE (id, t1, t2,
    tf) aggregate — no second tokenization pass; history totals and the
    1-row vocab broadcast are rollups of it).  ``nll(doc) =
    −Σ tf·ln p / Σ tf`` over the doc's bigram occurrences; docs with
    fewer than 2 tokens are absent.  Same persist contract as
    ``tf_idf``/``unigram_nll`` — release with ``release_tfidf_cache``.

    ``ref`` trains the bigram model on a REFERENCE corpus and scores
    ``df`` against it (see ``unigram_nll``): unseen bigrams get the α
    mass over the reference's predicted-token vocabulary; an unseen
    history (c(t1,·)=0) degrades to the uniform 1/|V|."""
    from pyspark import StorageLevel

    from .util import explode_fast

    def _bigrams(frame, idcol, tcol):
        toks = tokens_col(F.col(tcol))
        n = F.size(toks)
        arr = F.zip_with(F.slice(toks, 1, n - 1),
                         F.slice(toks, 2, n - 1),
                         lambda a, b: F.struct(a.alias("t1"),
                                               b.alias("t2")))
        cols = ([F.col(idcol).alias("__id")] if idcol else []) \
            + [arr.alias("__bg")]
        ex = explode_fast(frame.where(n >= 2).select(*cols),
                          F.col("__bg"), "bg")
        keep = (["__id"] if idcol else []) \
            + [F.col("bg.t1").alias("t1"), F.col("bg.t2").alias("t2")]
        return ex.select(*keep)

    tf = (_bigrams(df, id_col, text_col)
          .groupBy("__id", "t1", "t2")
          .agg(F.count(F.lit(1)).alias("tf")))
    if materialize:
        tf = tf.persist(StorageLevel.MEMORY_AND_DISK)
    if ref is None:
        c12 = tf.groupBy("t1", "t2").agg(F.sum("tf").alias("c12"))
    else:
        c12 = (_bigrams(ref, None, ref_text_col or text_col)
               .groupBy("t1", "t2").agg(F.count(F.lit(1)).alias("c12")))
    c1 = c12.groupBy("t1").agg(F.sum("c12").alias("c1"))
    vocab = c12.agg(
        F.countDistinct("t2").cast("double").alias("__vocab"))
    logp = F.log((F.coalesce(F.col("c12"), F.lit(0)) + F.lit(alpha))
                 / (F.coalesce(F.col("c1"), F.lit(0))
                    + F.lit(alpha) * F.col("__vocab")))
    out = (tf.join(c12, on=["t1", "t2"], how="left")
           .join(c1, on="t1", how="left")
           .crossJoin(F.broadcast(vocab))
           .groupBy("__id")
           .agg((-F.sum(F.col("tf") * logp) / F.sum("tf")).alias("__nll"))
           .select(F.col("__id").alias(id_col),
                   F.round("__nll", 6).alias("bigram_nll")))
    if materialize:
        out._tfidf_cache = tf
    return out


def kn_bigram_nll(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", discount: float = 0.75,
                  materialize: bool = True) -> DataFrame:
    """Per-doc mean NLL under an interpolated KNESER-NEY bigram model —
    the standard n-gram LM smoothing (the one real perplexity filters
    use), one step up from ``bigram_nll``'s add-α: instead of giving
    every unseen continuation the same α mass, absolute discounting
    moves ``D`` from each seen bigram to a continuation prior
    ``P_cont(t2) = N1+(·,t2) / N1+(·,·)`` that scores how many DISTINCT
    histories a token follows (so "francisco" — frequent but only ever
    after "san" — stops looking like a plausible continuation
    everywhere, the failure add-α smoothing can't see).

    ``p(t2|t1) = (c(t1,t2) − D)/c(t1,·)
                 + D·N1+(t1,·)/c(t1,·) · P_cont(t2)``, which sums to
    exactly 1 over the vocabulary (pinned in tests).  Fit-on-self like
    the other ``*_nll`` ops, so every scored bigram has c ≥ 1 > D and
    the max(·−D, 0) clamp is vacuous.  All four count tables are
    rollups of the ONE (id, t1, t2, tf) aggregate — same single
    tokenization pass and persist contract as ``tf_idf`` (release with
    ``release_tfidf_cache``); N1+ tables are row counts of the distinct
    bigram table, never a second corpus scan.  Docs with fewer than 2
    tokens are absent.  0 < discount < 1 required (D ≥ 1 could zero or
    negate a singleton bigram's first term; D ≤ 0 stops reserving
    continuation mass)."""
    from pyspark import StorageLevel

    from .util import explode_fast

    if not 0.0 < discount < 1.0:
        raise ValueError(f"kn_bigram_nll: discount must be in (0, 1), "
                         f"got {discount}")
    toks = tokens_col(F.col(text_col))
    n = F.size(toks)
    pairs_arr = F.zip_with(F.slice(toks, 1, n - 1), F.slice(toks, 2, n - 1),
                           lambda a, b: F.struct(a.alias("t1"),
                                                 b.alias("t2")))
    pairs = explode_fast(
        df.where(n >= 2).select(F.col(id_col).alias("__id"),
                                pairs_arr.alias("__bg")),
        F.col("__bg"), "bg")
    tf = (pairs.select("__id", F.col("bg.t1").alias("t1"),
                       F.col("bg.t2").alias("t2"))
          .groupBy("__id", "t1", "t2")
          .agg(F.count(F.lit(1)).alias("tf")))
    if materialize:
        tf = tf.persist(StorageLevel.MEMORY_AND_DISK)
    c12 = tf.groupBy("t1", "t2").agg(F.sum("tf").alias("c12"))
    # history totals + forward continuation counts in ONE rollup of c12
    c1 = c12.groupBy("t1").agg(F.sum("c12").alias("c1"),
                               F.count(F.lit(1)).alias("n1f"))
    n1b = c12.groupBy("t2").agg(F.count(F.lit(1)).alias("n1b"))
    npairs = c12.agg(F.count(F.lit(1)).cast("double").alias("__np"))
    d = F.lit(float(discount))
    p = ((F.col("c12") - d) / F.col("c1")
         + d * F.col("n1f") / F.col("c1")
         * (F.col("n1b") / F.col("__np")))
    # assemble p at the (t1,t2) granularity FIRST: c12 is the bigram-TYPE
    # table (<= |tf| rows, typically far fewer), so the c1/n1b/npairs
    # attachments shuffle the small table, and the doc-sized tf joins the
    # finished per-bigram probability exactly once — at scale this
    # replaces two full re-shuffles of tf (by t1, then t2) with one
    # bigram-keyed join; per-term arithmetic is the identical expression
    # on identical values, so results are bit-equal (guide §2.3/§2.4)
    bg_p = (c12.join(c1, on="t1").join(n1b, on="t2")
            .crossJoin(F.broadcast(npairs))
            .select("t1", "t2", p.alias("__p")))
    out = (tf.join(bg_p, on=["t1", "t2"])
           .groupBy("__id")
           .agg((-F.sum(F.col("tf") * F.log("__p")) / F.sum("tf"))
                .alias("__nll"))
           .select(F.col("__id").alias(id_col),
                   F.round("__nll", 6).alias("kn_nll")))
    if materialize:
        out._tfidf_cache = tf
    return out


def linear_text_classifier(df: DataFrame, weights: list[float],
                           bias: float = 0.0, id_col: str = "doc_id",
                           text_col: str = "text",
                           out_col: str = "score") -> DataFrame:
    """fastText-shape linear classifier over hashed bag-of-words features:
    ``score = sigmoid(bias + Σ_tokens w[bucket(token)])`` — the
    quality-classifier scoring pass of a corpus pipeline (the weights come
    from an offline fit; this op is the 100 TB-scale INFERENCE side).

    Fully native: tokens hash to buckets via md5 (engine-portable, same
    trick as the minhash family), the weight table is a literal array
    indexed per token, the per-doc sum is an array aggregate — no UDF, no
    shuffle, no join; a pure map over docs.  ``len(weights)`` is the
    feature dimension (typical 2**18 at production scale — still just a
    broadcast literal).
    """
    dim = len(weights)
    if dim == 0:
        raise ValueError("linear_text_classifier: weights must be non-empty")
    # ONE array Literal, not dim CreateArray children — a 2**18-wide
    # F.array(*lits) blows up analysis/codegen (falls back to interpreted)
    w_arr = F.lit([float(w) for w in weights])
    toks = tokens_col(F.col(text_col))
    bucket = lambda t: (  # noqa: E731 — md5 → uniform bucket, portable
        F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("bigint")
        % F.lit(dim))
    z = F.aggregate(
        toks, F.lit(float(bias)),
        lambda acc, t: acc + F.element_at(w_arr,
                                          (bucket(t) + 1).cast("int")))
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return df.select(F.col(id_col), F.round(score, 6).alias(out_col))


def release_tfidf_cache(out_df: DataFrame) -> bool:
    """Unpersist the (id, term, tf) aggregate behind a ``tf_idf`` result.
    Returns True if a cache handle was found and released."""
    cached = getattr(out_df, "_tfidf_cache", None)
    if cached is None:
        return False
    cached.unpersist()
    out_df._tfidf_cache = None
    return True


TRACKING_PARAM = r"^(utm_[^=]*|fbclid|gclid|msclkid|mc_eid|ref)="


def canonical_url_col(url: Column) -> Column:
    """Dedup-key canonicalization of a URL (the prestep of web-corpus
    URL dedup, cf. C4/CCNet pipelines): http==https, host case-folded,
    ``www.`` and default ports stripped, fragment dropped, tracking
    params (utm_*/fbclid/gclid/msclkid/mc_eid/ref) removed, surviving
    query params SORTED, trailing slashes trimmed.  Pure regex/array
    Column chain with an exact DuckDB twin (regexp_replace/
    regexp_extract/list_sort are shared vocabulary)."""
    nofrag = F.regexp_replace(url, r"#.*$", "")
    base = F.regexp_extract(nofrag, r"^([^?]*)", 1)
    query = F.regexp_extract(nofrag, r"\?(.*)$", 1)
    # scheme is case-insensitive per RFC 3986 — (?i:) or HTTPS:// URLs
    # would fall through uncanonicalized (caught by the variant fuzz)
    sh = F.regexp_extract(base, r"^((?i:https?)://[^/]*)", 1)
    host = F.regexp_replace(
        F.regexp_replace(F.lower(sh), r"^https?://(www\.)?", ""),
        r":(80|443)$", "")
    path = F.regexp_replace(
        F.substring(base, F.length(sh) + F.lit(1), F.lit(1000000)),
        r"/+$", "")
    parts = F.filter(F.split(query, "&"),
                     lambda p: (p != F.lit(""))
                     & ~p.rlike(TRACKING_PARAM))
    params = F.array_join(F.array_sort(parts), "&")
    return F.concat(host, path,
                    F.when(params != F.lit(""),
                           F.concat(F.lit("?"), params))
                    .otherwise(F.lit("")))


def url_dedup(df: DataFrame, url_col: str = "url",
              id_col: str = "doc_id", keep: str = "min") -> DataFrame:
    """Exact dedup of a web corpus BY CANONICAL URL: one owner id per
    canonical key.  Returns (canonical_url, keep_id, n_dups) — the same
    contract (and the same single map-side-combined shuffle) as
    ``exact_dedup``; join ``keep_id`` back to recover full rows."""
    from .dedup import exact_dedup

    keyed = df.select(canonical_url_col(F.col(url_col))
                      .alias("canonical_url"), F.col(id_col))
    return exact_dedup(keyed, ["canonical_url"], id_col, keep=keep)


def fit_linear_classifier(df: DataFrame, label_col: str,
                          dim: int = 1 << 10, id_col: str = "doc_id",
                          text_col: str = "text", iters: int = 25,
                          lr: float = 0.5, l2: float = 0.0) -> dict:
    """Distributed logistic-regression FIT for the
    ``linear_text_classifier`` featurization (md5-hashed bag-of-words
    counts) — the offline-training half of the quality-classifier
    story; the returned weights plug straight into the inference op.

    Full-batch gradient descent: the (doc, bucket, count) aggregate is
    built ONCE and persisted; each iteration is one join + two
    aggregates over it — per-doc margin via a broadcast d-wide literal
    weight array, residual ``sigmoid(z) - y``, then the d-dim gradient
    reduces BY BUCKET and only d+2 scalars reach the driver.  Iteration
    count bounds the pass count; the corpus is never collected, driver
    state is O(dim).  Returns ``{"weights", "bias", "n_iter", "n_docs"}``.
    """
    import math

    from pyspark import StorageLevel

    from .util import explode_fast

    if dim <= 0 or iters <= 0:
        raise ValueError("fit_linear_classifier: dim and iters must be > 0")
    toks = tokens_col(F.col(text_col))
    ex = explode_fast(
        df.select(F.col(id_col).alias("__id"),
                  F.col(label_col).cast("double").alias("__y"),
                  toks.alias("__t")),
        F.col("__t"), "__tok")
    bucket = (F.conv(F.substring(F.md5(F.col("__tok")), 1, 15), 16, 10)
              .cast("bigint") % F.lit(dim))
    feats = (ex.select("__id", "__y", bucket.alias("__b"))
             .groupBy("__id", "__y", "__b")
             .agg(F.count(F.lit(1)).cast("double").alias("__cnt"))
             .persist(StorageLevel.MEMORY_AND_DISK))
    n_docs = feats.select("__id").distinct().count()
    if n_docs == 0:
        feats.unpersist()
        raise ValueError("fit_linear_classifier: no docs with tokens")
    w = [0.0] * dim
    b = 0.0
    for _ in range(iters):
        w_arr = F.lit(w)
        z = (F.lit(b)
             + F.sum(F.col("__cnt")
                     * F.element_at(w_arr, (F.col("__b") + 1).cast("int"))))
        docz = (feats.groupBy("__id", "__y").agg(z.alias("__z"))
                .select("__id",
                        (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("__z")))
                         - F.col("__y")).alias("__r")))
        grad_rows = (feats.join(docz, on="__id")
                     .groupBy("__b")
                     .agg(F.sum(F.col("__r") * F.col("__cnt"))
                          .alias("__g")).collect())
        gb = docz.agg(F.sum("__r")).first()[0]
        grad = [0.0] * dim
        for r in grad_rows:
            grad[int(r["__b"])] = r["__g"]
        w = [wi - lr / n_docs * (gi + l2 * wi)
             for wi, gi in zip(w, grad)]
        b -= lr / n_docs * gb
        if not all(math.isfinite(x) for x in w) or not math.isfinite(b):
            feats.unpersist()
            raise ValueError("fit_linear_classifier: diverged — lower lr")
    feats.unpersist()
    return {"weights": w, "bias": b, "n_iter": iters, "n_docs": n_docs}


def url_domain_col(url: Column) -> Column:
    """Registrable host of a URL, case-folded, ``www.`` and default
    ports stripped — the key both ``url_dedup`` and blocklist filtering
    group on."""
    sh = F.regexp_extract(url, r"^((?i:https?)://[^/?#]*)", 1)
    return F.regexp_replace(
        F.regexp_replace(F.lower(sh), r"^https?://(www\.)?", ""),
        r":(80|443)$", "")


def filter_by_domain(df: DataFrame, domains: list[str],
                     url_col: str = "url", keep: bool = False) -> DataFrame:
    """Domain blocklist/allowlist filtering: drop (default) or keep rows
    whose URL's host — or any parent domain — is listed.  Matching is
    suffix-aware (``example.com`` blocks ``sub.example.com``) and the
    domain set rides along as a literal array (blocklists are KBs-MBs;
    for corpus-sized lists join on ``url_domain_col`` instead)."""
    dl = F.lit(sorted({d.lower().lstrip(".") for d in domains}))
    host = url_domain_col(F.col(url_col))
    hit = F.exists(dl, lambda d: (host == d)
                   | host.endswith(F.concat(F.lit("."), d)))
    return df.where(hit if keep else ~hit)


def normalize_unicode(df: DataFrame, text_col: str = "text",
                      out_col: str = "norm_text",
                      form: str = "NFC") -> DataFrame:
    """Unicode normalization (NFC/NFKC/NFD/NFKD) — the canonical first
    step of any multilingual pretraining pipeline (é as one codepoint
    vs e+combining-accent must dedup/fingerprint/tokenize identically).
    Spark SQL has no normalization builtin, so this is an Arrow-batched
    pandas UDF (str.normalize is vectorized C under the hood); NULLs
    pass through.  Pure map — no shuffle, batch-bounded memory."""
    from pyspark.sql.functions import pandas_udf

    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"normalize_unicode: bad form {form!r}")

    @pandas_udf("string")
    def _norm(s: pd.Series) -> pd.Series:
        return s.str.normalize(form)

    return df.withColumn(out_col, _norm(F.col(text_col)))


def ngram_novelty(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", k: int = 3,
                  out_col: str = "novelty",
                  materialize: bool = True) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's
    DISTINCT k-token shingles whose FIRST corpus appearance (minimum
    ``id_col`` — ingestion order when ids are monotone) is this
    document.  The streaming-data view of near-duplication: a crawl
    snapshot's novelty distribution tells you how much of it is new
    text vs. re-crawl of what you already hold, per document — the
    selection signal dedup pipelines threshold on before paying for
    full near-dedup (a doc with novelty 0 is entirely made of already-
    seen phrasing).

    Output: ``(id_col, n_shingles, n_novel, out_col)`` — ratio rounded
    to 6; documents whose text yields no shingles (NULL text) are
    absent.

    Scale: ONE shingle-sized exchange — (shingle, id) pairs (already
    distinct per doc: ``with_shingles`` emits ``array_distinct``
    arrays) → groupBy on shingle for the global first-owner (min id),
    then ``n_novel(doc) = |{shingles whose owner == doc}|`` is a
    groupBy over that DOC-SIZED owner table, and ``n_shingles`` is
    just ``size(__sh)`` read off the un-exploded array (no exchange at
    all).  The final join is doc×doc.  The r1–r9 shape joined the full
    pair table back against the owner table (3 extra PAIR-sized
    exchanges: a redundant pre-distinct, the join probe side, and the
    pair-level re-group by id) — at 100 TB those dominate; removing
    them changes no value (pure min/count algebra, pinned by the SQL
    oracle).  Skew = the most duplicated shingle's pair count, same
    bound as the minhash band join.

    ``materialize=True`` (default) localCheckpoints the (id,
    shingle-array) frame: construction EAGERLY runs Spark jobs, and the
    frame is pinned to executor-local storage (not resilient to
    executor loss — rebuild on failure by re-calling).  The default is
    receipt-backed at scale-up, not just locally: the unmaterialized
    arm re-executes the tokenize+shingle chain per consumer and reads
    0.37x at 1x docs and 0.04x at 8x docs
    (tools/scaling_smoke_r11.py).  Opt out where executor-local disk is
    scarcer than the recompute CPU.
    """
    from .dedup import with_shingles

    docs = with_shingles(df.where(F.col(text_col).isNotNull()),
                         text_col, k, "__sh").select(id_col, "__sh")
    if materialize:
        # the (id, shingle-array) frame feeds TWO consumers (the
        # n_shingles base + the exploded pair side) and Spark re-executes
        # branched non-Exchange subtrees — without a cut the tokenize +
        # shingle-assembly chain runs twice per document.  Same pattern
        # as the minhash bucket / semantic cell feeds: checkpoint once,
        # doc-count rows (the payload is the corpus' token bytes —
        # opt out via materialize=False where local disk is scarcer
        # than the recompute CPU).
        docs = docs.localCheckpoint()
    # per-doc distinct-shingle count without touching the pair table:
    # __sh is array_distinct and never empty for non-null text (the
    # k-window index sequence always has >= 1 slot), so size() equals
    # the exploded-distinct count the old shape aggregated for
    base = docs.select(F.col(id_col),
                       F.size("__sh").cast("long").alias("n_shingles"))
    pairs = docs.select(F.col(id_col), F.explode("__sh").alias("__s"))
    firsts = pairs.groupBy("__s").agg(F.min(id_col).alias("__first"))
    novel = (firsts.groupBy("__first")
             .agg(F.count(F.lit(1)).alias("__nn")))
    return (base.join(novel, base[id_col] == novel["__first"], "left")
            .select(F.col(id_col), F.col("n_shingles"),
                    F.coalesce(F.col("__nn"), F.lit(0).cast("long"))
                    .alias("n_novel"))
            .withColumn(out_col, F.round(F.col("n_novel")
                                         / F.col("n_shingles"), 6)))


def novelty_index(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", k: int = 3) -> DataFrame:
    """Standing shingle set for CONTINUOUS-INGEST novelty scoring: the
    distinct k-token shingles ever seen (ownership is simply "the
    index" — everything in it precedes any future batch).  Persist it
    bucketed on ``shingle`` (BucketedTap) and the incremental join
    below never shuffles the index side — the same zero-Exchange
    contract as ``minhash_index``/``exact_substring_index``."""
    from .dedup import with_shingles

    return (with_shingles(df.where(F.col(text_col).isNotNull()),
                          text_col, k, "__sh")
            .select(F.explode("__sh").alias("shingle")).distinct())


def ngram_novelty_incremental(batch: DataFrame,
                              index_df: DataFrame | None,
                              text_col: str = "text",
                              id_col: str = "doc_id", k: int = 3,
                              out_col: str = "novelty",
                              new_rows_only: bool = False
                              ) -> tuple[DataFrame, DataFrame]:
    """Continuous-ingest novelty: score a NEW batch against the standing
    shingle index — a shingle is novel iff it is absent from the index
    AND its first batch appearance (min ``id_col`` within the batch) is
    this document; the batch-internal rule matches ``ngram_novelty``
    exactly, so folding ascending-id batches reproduces the one-shot
    scores (pinned by test).  Returns ``(scored_batch,
    updated_index)`` — the index grows by the batch's distinct
    shingles; callers append only the new rows (``sinkmode="update"``),
    the corpus is never rescanned.  ``new_rows_only=True`` returns the
    batch's NEW shingle rows as the second element instead of the full
    union — the shape a per-batch ``sinkmode="update"`` writer (the
    streaming face) actually persists, without re-deriving it.

    Shape (r10, guide §2.3/§2.4): the batch-internal first owner is
    ``min(id) OVER (PARTITION BY shingle)`` in the pair table's own
    pass, and index membership is ONE left join carried into the same
    per-doc aggregate — the old aggregate+join-back ran the
    tokenize+shingle chain once per consumer (owner groupBy, join
    probe, new-shingle distinct: 3 executions per batch); now every
    consumer hangs off the one shingle-keyed Exchange (ReuseExchange —
    the branches differ only above it).

    This is the op a crawl pipeline runs per snapshot: novelty ~0 means
    the batch re-crawled what the index already holds — the cheap gate
    before full near-dedup."""
    from pyspark.sql import Window

    from .dedup import with_shingles

    pairs = (with_shingles(batch.where(F.col(text_col).isNotNull()),
                           text_col, k, "__sh")
             .select(F.col(id_col), F.explode("__sh").alias("shingle"))
             .distinct())
    marked = pairs.withColumn(
        "__first", F.min(id_col).over(Window.partitionBy("shingle")))
    if index_df is not None:
        marked = marked.join(index_df.select("shingle")
                             .withColumn("__idx", F.lit(True)),
                             on="shingle", how="left")
        # novel = first-in-batch AND absent from the index (the old
        # anti-join + left-join-miss-as-0 in one predicate)
        novel = ((F.col("__first") == F.col(id_col))
                 & F.col("__idx").isNull())
    else:
        novel = F.col("__first") == F.col(id_col)
    scored = (marked.groupBy(id_col)
              .agg(F.count(F.lit(1)).alias("n_shingles"),
                   F.sum(F.when(novel, F.lit(1)).otherwise(F.lit(0))
                         .cast("long")).alias("n_novel"))
              .withColumn(out_col, F.round(F.col("n_novel")
                                           / F.col("n_shingles"), 6)))
    # the owner row (id == __first) is exactly one row per distinct
    # batch shingle — the old pairs.select("shingle").distinct() without
    # a second shuffle or a second shingle pass
    batch_shingles = (marked.where(F.col("__first") == F.col(id_col))
                      .select("shingle"))
    if index_df is None:
        return scored, batch_shingles
    # grow by the batch's NEW rows only (owner row + not-in-index — the
    # __idx flag from the SAME join replaces the old anti-join): a
    # distinct over index ∪ batch would reshuffle the ENTIRE standing
    # index every fold; this touches only the batch side
    new_only = (marked.where((F.col("__first") == F.col(id_col))
                             & F.col("__idx").isNull())
                .select("shingle"))
    if new_rows_only:
        return scored, new_only
    return scored, index_df.select("shingle").unionByName(new_only)
