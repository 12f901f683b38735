"""``pipeline``: full curation passes over one seeded document shard.

A pass scores quality and language, finds exact duplicates by
fingerprint and near-duplicates by MinHash-LSH, computes SimHash and
TF-IDF keywords, retrieves top-k neighbours for seeded query vectors,
and writes the curated documents once through a parquet tap.  Each stage
is its own Spark action, so its time is visible from outside.  Outputs
are checked against pure-Python mirrors of the stage definitions and
against the duplicates the generator injected.
"""

from __future__ import annotations

import glob
import math
import os
import re
from collections import Counter

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from cascalog_spark import c, q
from cascalog_spark.functions import (brute_force_topk, doc_fingerprint,
                                      exact_dedup, lang_id,
                                      minhash_lsh_candidates, quality_score,
                                      simhash, tf_idf)
from cascalog_spark.functions.text import release_tfidf_cache
from cascalog_spark.operators import MergeTap
from cascalog_spark.sources import ParquetTap

from . import gen
from .harness import OpResult, expect, start_spark, traced_tap

N_DOCS = 5000
N_VECS = 2000
TOP_TERMS = 5
TOP_K = 10
MIN_RECALL = 0.8   # injected near-duplicate pairs LSH must surface
GOOD = 0.7         # quality at or above which the report counts a doc
WARMUP_DOCS = 100  # the warm-up runs over this prefix of the shard


def _tokens(text: str) -> list[str]:
    return [t for t in re.split(r"\s+", text.lower()) if t]


def py_quality(text: str) -> float:
    """Mirror of ``functions.text.quality_score``."""
    n = len(text)
    alpha = len(re.sub(r"[^A-Za-z]", "", text))
    n_toks = len(_tokens(text))
    mean_tok = len(re.sub(r"\s", "", text)) / (n_toks or 1)
    score = ((0.4 if 100 <= n <= 5000 else 0.0)
             + (0.3 if alpha / (n or 1) >= 0.6 else 0.0)
             + (0.3 if 3 <= mean_tok <= 12 else 0.0))
    return round(score, 1)


def py_lang(text: str) -> str:
    """Mirror of ``functions.text.lang_id``."""
    toks = _tokens(text)
    best, lang = 0, "und"
    for name, words in sorted(gen.LANG_STOPWORDS.items()):
        hits = sum(1 for t in toks if t in words)
        if hits > best:
            best, lang = hits, name
    return lang


def table_files(path: str) -> dict[str, int]:
    """Data files of a MergeTap table and their sizes in bytes."""
    return {p: os.path.getsize(p)
            for p in glob.glob(os.path.join(path, "*.parquet"))}


def merge_metrics(path: str, written: list, n_rows: int) -> dict:
    """``written`` holds (bytes a merge wrote, bytes of user data)."""
    files = table_files(path)
    return {
        "merge.bytes_written_per_user_byte": (
            sum(w for w, _ in written) / max(1, sum(u for _, u in written)),
            "ratio"),
        "merge.table_bytes_per_row": (sum(files.values()) / n_rows, "B"),
        "merge.table_files": (len(files), "count"),
    }


def py_tfidf_top(texts: dict[int, str]) -> dict[int, list[float]]:
    """Per doc, the sorted top ``TOP_TERMS`` tf-idf values (smoothed idf,
    as ``functions.text.tf_idf`` defines it)."""
    tfs = {i: Counter(_tokens(t)) for i, t in texts.items()}
    dfreq = Counter(term for tf in tfs.values() for term in tf)
    n = len(texts)
    out = {}
    for i, tf in tfs.items():
        vals = sorted((c * (math.log((1 + n) / (1 + dfreq[t])) + 1)
                       for t, c in tf.items()), reverse=True)
        out[i] = vals[:TOP_TERMS]
    return out


class Pipeline:
    def __init__(self, run):
        self.run = run
        self.tr = run.tracer
        self.recall: list[float] = []
        self.precision: list[float] = []
        self.written: list[tuple[int, int]] = []  # (bytes written, user)

    def setup(self) -> None:
        seed = self.run.seed
        docs, self.truth = gen.documents(seed, N_DOCS)
        emb = gen.embeddings(seed, N_VECS)
        self.texts = dict(zip(docs.column("doc_id").to_pylist(),
                              docs.column("text").to_pylist()))
        self.vecs = np.array(emb.column("embedding").to_pylist(), float)
        self.n_rows = docs.num_rows + emb.num_rows
        paths = {"docs": self.run.path("docs.parquet"),
                 "warm": self.run.path("warm.parquet"),
                 "emb": self.run.path("emb.parquet")}
        pq.write_table(docs, paths["docs"])
        pq.write_table(docs.slice(0, WARMUP_DOCS), paths["warm"])
        pq.write_table(emb, paths["emb"])
        spark = start_spark(self.run)
        self.docs = spark.read.parquet(paths["docs"])
        self.emb = spark.read.parquet(paths["emb"])
        self.index = MergeTap(self.run.path("doc_index"), on="doc_id")
        # a pass over a 100-doc prefix costs most of what a full pass does
        # (per-stage planning and code generation dominate at this size)
        # and leaves the JVM compiled for the timed passes
        with self.tr.span("warmup"):
            self._pass(spark.read.parquet(paths["warm"]), "warmup",
                       self.vecs[:4].tolist())
            self._release()

    def cycles(self):
        n = 0
        while True:
            yield [self._op(n)]
            n += 1

    def _op(self, n: int):
        def op():
            check = self._pass(self.docs, f"pass-{n}",
                               gen.query_vectors(self.run.seed, n))
            self._release()
            return OpResult(self.n_rows, check=check)
        return op

    def _pass(self, docs, name: str, queries: list):
        tr = self.tr
        with tr.span("text.quality"):
            qual = dict(quality_score(docs).select("doc_id", "quality")
                        .collect())
        with tr.span("text.lang_id"):
            langs = dict(lang_id(docs).select("doc_id", "lang_pred")
                         .collect())
        with tr.span("dedup.exact"):
            exact = (exact_dedup(doc_fingerprint(docs), ["fingerprint"],
                                 "doc_id")
                     .where(F.col("n_dups") > 1)
                     .select("keep_id", "n_dups").collect())
        with tr.span("dedup.minhash"):
            cands = {(a, b) for a, b in minhash_lsh_candidates(
                docs, "doc_id").collect()}
        with tr.span("dedup.simhash"):
            sims = dict(simhash(docs).select("doc_id", "simhash").collect())
        with tr.span("text.tfidf"):
            tfidf = tf_idf(docs, top_k=TOP_TERMS)
            top_terms = tfidf.select("doc_id", "tfidf").collect()
            release_tfidf_cache(tfidf)
        with tr.span("similarity.topk"):
            hits = [brute_force_topk(self.emb, qv, k=TOP_K).collect()
                    for qv in queries]
        # candidate pairs include every exact duplicate pair too
        drop = sorted({b for _, b in cands})
        spark = self.run.spark
        dropped = spark.createDataFrame([(i,) for i in drop],
                                        "doc_id bigint")
        curated = (lang_id(quality_score(docs))
                   .join(dropped, "doc_id", "left_anti")
                   .select("doc_id", "text", "quality", "lang_pred",
                           "source"))
        out = self.run.path("curated", name)
        with tr.span("taps.save_df"):
            ParquetTap(path=out).save_df(curated)
        # the curation report is small, so it runs on the in-memory
        # platform straight from the written tap, with no Spark job
        with tr.span("exec_local.run"):
            report = q(["?lang", "?n"],
                       (traced_tap(tr)(path=out),
                        {"lang_pred": "?lang", "quality": "?qq"}),
                       (c.gte, "?qq", GOOD), (c.count, "?n")
                       ).run(platform="local")
        tr.count("exec_local.rows_out", len(report))
        # the standing per-doc index every pass upserts its labels into
        before = table_files(self.index.path)
        labels = spark.createDataFrame(
            [(i, qual[i], langs[i]) for i in qual],
            "doc_id bigint, quality double, lang_pred string")
        with tr.span("merge.merge"):
            self.index.merge(spark, labels)
        if tr.enabled and tr.op >= 0:
            after = table_files(self.index.path)
            self.written.append((
                sum(v for p, v in after.items() if p not in before),
                # id, quality and language code per doc
                sum(8 + 8 + len(v) for v in langs.values())))
        return lambda: self._check(qual, langs, exact, cands, sims,
                                   top_terms, queries, hits, drop, out,
                                   report)

    def _release(self) -> None:
        """Drop the cache handles ``materialize=True`` stages leave behind
        (tf_idf's persist, MinHash's local checkpoint), so passes stay
        independent."""
        jsc = self.run.spark.sparkContext._jsc
        for rdd in jsc.getPersistentRDDs().values():
            rdd.unpersist(True)

    def _check(self, qual, langs, exact, cands, sims, top_terms, queries,
               hits, drop, out, report) -> bool:
        texts = self.texts
        expect(qual == {i: py_quality(t) for i, t in texts.items()},
               "quality_score differs from its definition")
        expect(langs == {i: py_lang(t) for i, t in texts.items()},
               "lang_id differs from its definition")
        groups = self.truth["exact_groups"]
        expect(sorted(map(tuple, exact))
               == sorted((g[0], len(g)) for g in groups),
               "exact_dedup groups differ from the injected copies")
        near = set(self.truth["near_pairs"])
        same = {(g[0], x) for g in groups for x in g[1:]}
        recall = len(cands & near) / len(near)
        self.recall.append(recall)
        self.precision.append(len(cands & (near | same)) / len(cands))
        expect(same <= cands, "an exact copy is not a MinHash candidate")
        expect(recall >= MIN_RECALL, f"near-duplicate recall {recall}")
        expect(len(sims) == len(texts)
               and all(len({sims[i] for i in g}) == 1 for g in groups),
               "exact copies got different SimHashes")
        got = {}
        for i, v in top_terms:
            got.setdefault(i, []).append(v)
        want = py_tfidf_top(texts)
        expect(got.keys() == want.keys()
               and all(np.allclose(sorted(v, reverse=True), want[i],
                                   atol=2e-6) for i, v in got.items()),
               "tf_idf top terms differ from their definition")
        norms = np.linalg.norm(self.vecs, axis=1)
        for qv, rows in zip(queries, hits):
            qv = np.array(qv)
            cos = self.vecs @ qv / (norms * np.linalg.norm(qv))
            kth = np.sort(cos)[-TOP_K]
            expect(len(rows) == TOP_K and all(
                cos[i] >= kth - 1e-6 and abs(cos[i] - s) < 1e-5
                for i, s in rows), "top-k neighbours are not the nearest")
        written = pq.read_table(out, columns=["doc_id", "quality",
                                              "lang_pred"]).to_pylist()
        expect(sorted(r["doc_id"] for r in written)
               == sorted(set(texts) - set(drop)),
               "the curated output holds the wrong documents")
        expect(all(r["quality"] == qual[r["doc_id"]]
                   and r["lang_pred"] == langs[r["doc_id"]]
                   for r in written), "the curated output has wrong labels")
        kept = set(texts) - set(drop)
        expect(sorted(report) == sorted(Counter(
            langs[i] for i in kept if qual[i] >= GOOD).items()),
            "the local-platform report differs from the curated labels")
        index = pq.read_table(self.index.path, columns=[
            "doc_id", "quality", "lang_pred"]).to_pylist()
        expect({r["doc_id"]: (r["quality"], r["lang_pred"]) for r in index}
               == {i: (qual[i], langs[i]) for i in texts},
               "the merged doc index differs from the pass's labels")
        return True

    def layer_metrics(self) -> dict:
        return {
            **merge_metrics(self.index.path, self.written, len(self.texts)),
            "dedup.candidate_precision": (
                float(np.mean(self.precision)) if self.precision else 0.0,
                "frac"),
            "dedup.injected_recall": (
                float(np.mean(self.recall)) if self.recall else 0.0, "frac"),
        }

    def close(self) -> None:
        pass
