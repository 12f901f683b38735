"""Hot-key gates for the window-owner pattern
(`min(x) OVER (PARTITION BY key)`), which ships every occurrence of a
key to one task.  On a planted hot key (one span/line/hub in 50% of
docs) each owner-window operator must (a) give IDENTICAL results
whether its input arrives in one partition or is hash-spread over
eight, and (b) actually dedup the hot key, so the fixture bites."""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BOILER = ("all rights reserved click here to subscribe to our newsletter "
          "terms of service apply contact the webmaster for details")


def _layouts(df, key):
    """The same rows in one partition and hash-spread over eight."""
    return df.coalesce(1), df.repartition(8, F.col(key))


@pytest.fixture(scope="module")
def hot_docs(spark):
    rows = []
    for i in range(200):
        txt = " ".join(f"w{i}x{j} tok{(i * 7 + j) % 97}" for j in range(10))
        if i % 2 == 0:  # the planted hot span: 50% of docs share it
            txt = txt + " " + BOILER
        rows.append((i, txt))
    return spark.createDataFrame(rows, "doc_id int, text string") \
        .localCheckpoint()


def test_exact_substring_guard_identical(spark, hot_docs):
    from cascalog_spark.functions import exact_substring_dedup

    one, spread = (sorted(tuple(r) for r in
                          exact_substring_dedup(d, k=8).collect())
                   for d in _layouts(hot_docs, "doc_id"))
    assert one == spread
    # the hot span must actually have been deduped (the fixture bites):
    # 100 docs share it, the min-id owner keeps it, 99 lose it
    n_stripped = sum(1 for t in spread
                     if "webmaster" in t[1] and "webmaster" not in t[2])
    assert n_stripped == 99


def test_cc_star_hub_guard_identical(spark):
    """Planted hub: node 0 pairs with 50% of 400 nodes, plus a chain
    hanging off the hub and disjoint pairs.  Labels and round count must
    not depend on the input layout, and every node lands on the min id
    of its component."""
    from cascalog_spark.functions import dedup_clusters

    hub = [(0, i) for i in range(2, 400, 2)]            # the hub
    hub += [(i, i + 1) for i in range(100, 140)]        # a chain off it
    disjoint = [(500 + i, 600 + i) for i in range(50)]
    pdf = spark.createDataFrame(hub + disjoint, "id_a int, id_b int")
    outs = [dedup_clusters(d, max_iter=50) for d in _layouts(pdf, "id_a")]
    one, spread = (sorted(tuple(r) for r in o.collect()) for o in outs)
    assert one == spread
    assert outs[0]._cc_rounds == outs[1]._cc_rounds
    want = {n: 0 for e in hub for n in e}
    want.update({n: a for a, b in disjoint for n in (a, b)})
    assert dict(spread) == want


def test_cross_doc_line_guard_identical(spark):
    from cascalog_spark.functions import cross_doc_line_dedup

    rows = []
    for i in range(120):
        body = f"unique line {i} alpha\n" + (BOILER + "\n" if i % 2 == 0
                                             else "") + f"tail {i}"
        rows.append((i, body))
    df = spark.createDataFrame(rows, "doc_id int, text string")
    one, spread = (sorted(tuple(r) for r in cross_doc_line_dedup(d).collect())
                   for d in _layouts(df, "doc_id"))
    assert one == spread
    # the planted line survives exactly once across the corpus
    kept = sum(t[2].count(BOILER) for t in spread)
    assert kept == 1
