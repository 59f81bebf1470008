"""Substring-level dedup (operators/spans.py, round 7): exact
duplicated-span semantics on hand-computed corpora, the span-drop
transform, and keyed-kernel compatibility.

Every case runs on both sides of the driver gate — the fused one-pass
plan and, with ``_DRIVER_FREQ_MAX`` forced to 0, the distributed
posexplode/join/window plan — and asserts identical rows AND schema
(``both_sides``)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from cuckoofilter_spark.operators import spans
from cuckoofilter_spark.operators.spans import (
    drop_duplicated_spans,
    duplicated_span_stats,
    gram_table,
)

ROWS = [
    (1, "alpha beta gamma delta epsilon zeta"),
    (2, "alpha beta gamma delta unique words here"),
    (3, "totally different text with no repeats at all"),
    (4, ""),
    (5, "one two"),
]


@pytest.fixture()
def corpus(spark):
    return spark.createDataFrame(ROWS, "doc_id long, text string")


def both_sides(spark, monkeypatch, make):
    """Collect ``make()`` on the fused side and with the distributed
    fallback forced; assert both give the same schema and rows, and
    return the rows."""
    got = {}
    for side, cap in (("fused", None), ("fallback", 0)):
        with monkeypatch.context() as m:
            if cap is not None:
                m.setattr(spans, "_DRIVER_FREQ_MAX", cap)
            out = make()
            got[side] = (out.schema, sorted(out.collect()))
        spark.catalog.clearCache()  # the fallback persists its inputs
    assert got["fused"][0] == got["fallback"][0]
    assert got["fused"][1] == got["fallback"][1]
    return got["fused"][1]


def test_duplicated_span_stats_hand_computed(spark, monkeypatch, corpus):
    # docs 1 and 2 share 3-grams at positions 0 ('alpha beta gamma')
    # and 1 ('beta gamma delta'): covered = |[0,3) u [1,4)| = 4 each
    got = {
        r["doc"]: r
        for r in both_sides(spark, monkeypatch, lambda: duplicated_span_stats(
            corpus, "doc_id", "text", k=3, min_count=2
        ))
    }
    assert got[1]["n_words"] == 6 and got[1]["n_grams"] == 4
    assert got[1]["n_dup_grams"] == 2 and got[1]["covered"] == 4
    assert got[1]["dup_e4"] == 40000 // 6
    assert got[2]["covered"] == 4 and got[2]["dup_e4"] == 40000 // 7
    for d in (3, 4, 5):  # no dup spans; short/empty docs report zeros
        assert got[d]["covered"] == 0 and got[d]["dup_e4"] == 0
    assert got[4]["n_words"] == 0 and got[5]["n_grams"] == 0
    assert len(got) == len(ROWS)  # one row per input doc, always


def test_duplicated_span_window_merging(spark, monkeypatch):
    # one doc repeating its own 3-gram: 'a b c X a b c' has gram
    # 'a b c' at positions 0 and 4 (count 2 within ONE doc -> corpus
    # multiplicity counts); windows [0,3) and [4,7) do not overlap
    df = spark.createDataFrame(
        [(1, "a b c x a b c"), (2, "a b c d e f g")],
        "doc_id long, text string",
    )
    got = {
        r["doc"]: r
        for r in both_sides(spark, monkeypatch, lambda: duplicated_span_stats(
            df, "doc_id", "text", k=3, min_count=3
        ))
    }
    # 'a b c' occurs 3x corpus-wide -> frequent
    assert got[1]["covered"] == 6 and got[1]["n_dup_grams"] == 2
    assert got[2]["covered"] == 3 and got[2]["n_dup_grams"] == 1


def test_duplicated_span_stats_no_frequent_grams(spark, monkeypatch, corpus):
    # an empty frequent set never exceeds the cap: both sides run fused
    got = both_sides(spark, monkeypatch, lambda: duplicated_span_stats(
        corpus, "doc_id", "text", k=3, min_count=99
    ))
    assert len(got) == len(ROWS)
    assert all(r["covered"] == 0 and r["dup_e4"] == 0 for r in got)


def test_drop_duplicated_spans(spark, monkeypatch, corpus):
    got = {
        r["doc_id"]: r
        for r in both_sides(spark, monkeypatch, lambda: drop_duplicated_spans(
            corpus, "doc_id", "text", k=3, min_count=2
        ))
    }
    assert got[1]["text_dedup"] == "epsilon zeta"
    assert got[1]["n_dropped_words"] == 4
    assert got[2]["text_dedup"] == "unique words here"
    assert got[3]["text_dedup"] == ROWS[2][1]  # untouched
    assert got[3]["n_dropped_words"] == 0
    assert got[4]["text_dedup"] == "" and got[5]["text_dedup"] == "one two"
    # stats over the dropped corpus are clean at the same threshold:
    # every duplicated span was removed
    redone = both_sides(spark, monkeypatch, lambda: duplicated_span_stats(
        spark.createDataFrame(
            [(k, v["text_dedup"]) for k, v in got.items()],
            "doc_id long, text string",
        ),
        "doc_id", "text", k=3, min_count=2,
    ).agg(F.sum("covered").alias("c")))[0]["c"]
    assert redone == 0


def test_gram_table_positions_and_keyed_seed(spark, monkeypatch):
    from cuckoofilter_spark.operators.dedup import random_kernel_seed

    df = spark.createDataFrame(
        [(1, "w0 w1 w2 w3 w4")], "doc_id long, text string"
    )
    row = gram_table(df, "doc_id", "text", k=2).collect()[0]
    assert row["n_words"] == 5 and len(row["ghs"]) == 4
    # position order: gram p hashes the window [p, p+2) — check via a
    # doc that repeats a window
    df2 = spark.createDataFrame(
        [(1, "x y z x y")], "doc_id long, text string"
    )
    g = gram_table(df2, "doc_id", "text", k=2).collect()[0]["ghs"]
    assert g[0] == g[3] and g[0] != g[1]  # 'x y' at 0 and 3
    # keyed mode flows through
    s = random_kernel_seed()
    a = both_sides(spark, monkeypatch, lambda: duplicated_span_stats(
        spark.createDataFrame(ROWS, "doc_id long, text string"),
        "doc_id", "text", k=3, min_count=2, seed=s,
    ))
    b = both_sides(spark, monkeypatch, lambda: duplicated_span_stats(
        spark.createDataFrame(ROWS, "doc_id long, text string"),
        "doc_id", "text", k=3, min_count=2,
    ))
    assert a == b  # counts/coverage are seed-invariant (no collisions)


def test_drop_duplicated_spans_doc_named_id(spark, monkeypatch, corpus):
    """Regression (round-7 review): an input frame whose id column is
    literally 'doc' used to make the covered-join ambiguous — and
    only on corpora that HAVE duplicated spans (the clean-corpus
    early return skipped the join)."""
    renamed = corpus.withColumnRenamed("doc_id", "doc")
    got = {
        r["doc"]: r
        for r in both_sides(spark, monkeypatch, lambda: drop_duplicated_spans(
            renamed, "doc", "text", k=3, min_count=2
        ))
    }
    assert got[1]["text_dedup"] == "epsilon zeta"
    assert got[1]["n_dropped_words"] == 4
    assert "_span_doc" not in next(iter(got.values())).asDict()


def _planted_corpus(seed: int) -> list[tuple[int, str]]:
    """Random Zipf-ish docs with repeated spans planted across and
    within documents, plus an empty and a one-word doc."""
    rng = np.random.default_rng(seed)
    vocab = [f"w{i}" for i in range(300)]
    spans_ = [
        list(rng.choice(vocab, size=int(rng.integers(4, 12))))
        for _ in range(6)
    ]
    rows = []
    for d in range(80):
        words = list(rng.choice(vocab, size=int(rng.integers(5, 40))))
        for _ in range(int(rng.integers(0, 3))):
            at = int(rng.integers(0, len(words) + 1))
            words[at:at] = spans_[int(rng.integers(0, len(spans_)))]
        rows.append((d, " \t".join(words) if d % 7 == 0 else " ".join(words)))
    return rows + [(80, ""), (81, "lonely")]


def _stats_oracle(rows, k: int, min_count: int) -> dict:
    """Pure-Python duplicated-span stats over word tuples."""
    grams = {d: [tuple(t.split()[p:p + k])
                 for p in range(len(t.split()) - k + 1)] for d, t in rows}
    freq: dict = {}
    for gs in grams.values():
        for g in gs:
            freq[g] = freq.get(g, 0) + 1
    out = {}
    for d, t in rows:
        n = len(t.split())
        dup = [p for p, g in enumerate(grams[d]) if freq[g] >= min_count]
        cov = len({w for p in dup for w in range(p, p + k)})
        out[d] = (n, len(grams[d]), len(dup), cov,
                  cov * 10000 // n if n else 0)
    return out


@pytest.mark.parametrize("k", [3, 5])
@pytest.mark.parametrize("min_count", [2, 4])
def test_planted_spans_fork_equivalence(spark, monkeypatch, k, min_count):
    rows = _planted_corpus(1000 * k + min_count)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = both_sides(spark, monkeypatch, lambda: duplicated_span_stats(
        df, "doc_id", "text", k=k, min_count=min_count
    ))
    assert {r["doc"]: tuple(r)[1:] for r in got} == _stats_oracle(
        rows, k, min_count
    )
    assert sum(r["covered"] for r in got) > 0  # the planted spans show
    dropped = both_sides(spark, monkeypatch, lambda: drop_duplicated_spans(
        df, "doc_id", "text", k=k, min_count=min_count
    ))
    cov = {r["doc"]: r["covered"] for r in got}
    assert all(r["n_dropped_words"] == cov[r["doc_id"]] for r in dropped)


def test_fused_spans_persist_nothing(spark, corpus):
    """The fused plan leaves no cached RDD behind (the distributed
    fallback persists its inputs by design — see the docstrings)."""
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    duplicated_span_stats(corpus, "doc_id", "text", k=3, min_count=2).collect()
    drop_duplicated_spans(corpus, "doc_id", "text", k=3, min_count=2).collect()
    assert jsc.getPersistentRDDs().size() == before
