"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of ``seed`` (and an op index where a
stream is involved): the same seed gives byte-identical Arrow tables and
op sequences on every run, a different seed gives different ones.  No
Spark is needed to generate; the engine only ever sees the tables these
functions return (written to parquet by the workloads).

Money columns are integer cents and quantities are integers, so sums and
averages are exact in Spark, DuckDB and the in-memory platform alike and
the output checks can compare values with ``==``.
"""

from __future__ import annotations

import datetime
import zlib

import numpy as np
import pyarrow as pa

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = ["ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
           "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
           "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA",
           "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM",
           "UNITED STATES"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ANODIZED BRASS", "BURNISHED COPPER", "ECONOMY STEEL",
              "LARGE TIN", "POLISHED NICKEL", "STANDARD COPPER"]
RETURN_FLAGS = ["A", "N", "R"]
EPOCH = datetime.date(1992, 1, 1)
N_DAYS = 7 * 365


def rng(seed: int, stream: str, *more: int) -> np.random.Generator:
    """An independent generator per (seed, named stream, indices)."""
    return np.random.default_rng([seed, zlib.crc32(stream.encode()), *more])


def _names(prefix: str, keys: np.ndarray) -> pa.Array:
    return pa.array([f"{prefix}#{k:09d}" for k in keys.tolist()])


def dates(days: np.ndarray) -> pa.Array:
    return pa.array((np.datetime64(EPOCH) + days.astype("timedelta64[D]")),
                    pa.date32())


# -- TPC-H-style star schema -------------------------------------------------

def tpch(seed: int, sf: float) -> dict[str, pa.Table]:
    """region, nation, customer, supplier, part, orders, lineitem at scale
    factor ``sf`` (sf=0.01: 1,500 customers, 15,000 orders, ~60,000
    lineitems).  As in TPC-H, a third of customers (keys divisible by 3)
    place no orders, so anti-joins have work to do."""
    n_cust = int(150_000 * sf)
    n_supp = max(int(10_000 * sf), 10)
    n_part = int(200_000 * sf)
    r = rng(seed, "tpch")
    region = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                       "r_name": REGIONS})
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": NATIONS,
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    ck = np.arange(1, n_cust + 1, dtype=np.int64)
    customer = pa.table({
        "c_custkey": ck,
        "c_name": _names("Customer", ck),
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": r.integers(-99_999, 1_000_000, n_cust),
        "c_mktsegment": pa.array(
            np.array(SEGMENTS)[r.integers(0, 5, n_cust)])})
    sk = np.arange(1, n_supp + 1, dtype=np.int64)
    supplier = pa.table({
        "s_suppkey": sk,
        "s_name": _names("Supplier", sk),
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": r.integers(-99_999, 1_000_000, n_supp)})
    pk = np.arange(1, n_part + 1, dtype=np.int64)
    brands = np.array([f"Brand#{a}{b}" for a in range(1, 6)
                       for b in range(1, 6)])
    part = pa.table({
        "p_partkey": pk,
        "p_name": _names("Part", pk),
        "p_brand": pa.array(brands[r.integers(0, 25, n_part)]),
        "p_type": pa.array(np.array(PART_TYPES)[r.integers(0, 6, n_part)]),
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": r.integers(90_000, 210_000, n_part)})
    orders = orders_table(seed, int(1_500_000 * sf), n_cust)
    n_ord = orders.num_rows
    lines = r.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okeys = np.repeat(orders.column("o_orderkey").to_numpy(), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    qty = r.integers(1, 51, n_li)
    pkeys = r.integers(1, n_part + 1, n_li)
    lineitem = pa.table({
        "l_orderkey": okeys,
        "l_linenumber": (np.arange(n_li) - starts + 1).astype(np.int32),
        "l_partkey": pkeys,
        "l_suppkey": r.integers(1, n_supp + 1, n_li),
        "l_quantity": qty,
        "l_extendedprice": qty * r.integers(90_000, 210_000, n_li) // 100,
        "l_discount": r.integers(0, 11, n_li),
        "l_returnflag": pa.array(np.array(RETURN_FLAGS)[
            r.integers(0, 3, n_li)])})
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part, "orders": orders,
            "lineitem": lineitem}


def orders_table(seed: int, n: int, n_cust: int) -> pa.Table:
    r = rng(seed, "orders")
    ok = np.arange(1, n + 1, dtype=np.int64)
    cust = r.integers(1, n_cust + 1, n)
    cust = np.where(cust % 3 == 0, cust - 1, cust)
    cust = np.where(cust == 0, 1, cust)
    return pa.table({
        "o_orderkey": ok,
        "o_custkey": cust,
        "o_orderstatus": pa.array(np.array(STATUSES)[
            r.choice(3, n, p=[0.49, 0.49, 0.02])]),
        "o_totalprice": r.integers(100_000, 50_000_000, n),
        "o_orderdate": dates(r.integers(0, N_DAYS, n)),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[
            r.integers(0, 5, n)])})


# -- curation shard (documents + near-duplicates + embeddings) ---------------

LANG_STOPWORDS = {  # the lexicon functions.text.lang_id scores against
    "en": ["the", "and", "is", "of", "to", "a", "in", "that", "it", "was"],
    "de": ["der", "die", "das", "und", "ist", "von", "zu", "ein", "mit",
           "nicht"],
    "fr": ["le", "la", "les", "et", "est", "de", "un", "une", "dans", "pas"],
    "es": ["el", "la", "los", "y", "es", "de", "un", "una", "en", "no"],
    "zh": ["de5", "shi4", "le5", "zai4", "you3", "wo3", "ta1", "zhe4", "bu4",
           "ren2"],
}
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EXACT_DUP_RATE = 0.02    # share of base docs copied with case/space noise
NEAR_DUP_RATE = 0.05     # share of base docs copied with word substitutions
TOKENS_PER_EDIT = 60     # one substituted word per this many tokens


def _vocab() -> list[str]:
    r = rng(0, "vocab")
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    stop = {w for ws in LANG_STOPWORDS.values() for w in ws}
    out, seen = [], set(stop)
    while len(out) < 4000:
        w = "".join(letters[r.integers(0, 26, r.integers(4, 10))])
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


VOCAB = _vocab()


def documents(seed: int, n_base: int = 5000) -> tuple[pa.Table, dict]:
    """``n_base`` word-salad documents in five languages plus injected
    duplicates, and the ground truth the pipeline checks against:
    ``exact_groups`` (sorted id lists whose normalized text is equal) and
    ``near_pairs`` (sorted (a, b) id pairs of a doc and its edited copy).
    """
    r = rng(seed, "documents")
    zipf_p = 1.0 / np.arange(1, len(VOCAB) + 1) ** 1.1
    zipf_p /= zipf_p.sum()
    lang_idx = r.choice(len(LANGS), n_base, p=LANG_P)
    lens = r.integers(40, 200, n_base)
    total = int(lens.sum())
    stops = np.array([LANG_STOPWORDS[lang] for lang in LANGS])
    words = np.where(
        r.random(total) < 0.3,
        stops[np.repeat(lang_idx, lens), r.integers(0, 10, total)],
        np.array(VOCAB)[r.choice(len(VOCAB), total, p=zipf_p)]).tolist()
    ends = np.cumsum(lens).tolist()
    texts = [" ".join(words[e - n:e]) for e, n in zip(ends, lens.tolist())]
    langs = [LANGS[i] for i in lang_idx.tolist()]
    n_exact = int(n_base * EXACT_DUP_RATE)
    n_near = int(n_base * NEAR_DUP_RATE)
    srcs = r.choice(n_base, n_exact + n_near, replace=False)
    origin = list(range(n_base))
    for i, s in enumerate(srcs.tolist()):
        toks = texts[s].split(" ")
        if i < n_exact:
            # same normalized text: case and whitespace noise only
            toks = [t.upper() if r.random() < 0.1 else t for t in toks]
            text = "  ".join(toks) if r.random() < 0.5 else " ".join(toks)
        else:
            pos = r.choice(len(toks), max(1, len(toks) // TOKENS_PER_EDIT),
                           replace=False)
            for p in pos.tolist():
                w = toks[p]
                while w == toks[p]:
                    w = VOCAB[int(r.integers(0, len(VOCAB)))]
                toks[p] = w
            text = " ".join(toks)
        texts.append(text)
        langs.append(langs[s])
        origin.append(s)
    ids = r.permutation(len(texts)).astype(np.int64)
    exact, near = {}, []
    for i, s in enumerate(origin[n_base:], start=n_base):
        a, b = int(ids[s]), int(ids[i])
        if i < n_base + n_exact:
            exact.setdefault(a, [a]).append(b)
        else:
            near.append((min(a, b), max(a, b)))
    table = pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": langs,
        "source": [f"src{int(x)}" for x in r.integers(0, 20, len(texts))]})
    truth = {"exact_groups": sorted(sorted(g) for g in exact.values()),
             "near_pairs": sorted(near)}
    return table, truth


def embeddings(seed: int, n: int = 2000, dim: int = 64) -> pa.Table:
    """``n`` float32 vectors around 16 seeded cluster centres."""
    r = rng(seed, "embeddings")
    centres = r.normal(size=(16, dim))
    label = r.integers(0, 16, n)
    vecs = (centres[label] + 0.5 * r.normal(size=(n, dim))).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": label.astype(np.int32)})


def query_vectors(seed: int, op: int, n: int = 4,
                  dim: int = 64) -> list[list[float]]:
    """The pass-``op`` retrieval queries, float32-rounded like the index."""
    r = rng(seed, "queries", op)
    return r.normal(size=(n, dim)).astype(np.float32).astype(float).tolist()


def table_bytes(tables) -> bytes:
    """Canonical Arrow IPC bytes of tables, for input-identity checks."""
    sink = pa.BufferOutputStream()
    for t in tables:
        with pa.ipc.new_stream(sink, t.schema) as w:
            w.write_table(t)
    return sink.getvalue().to_pybytes()
