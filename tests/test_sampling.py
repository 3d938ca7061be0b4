"""Token-budget corpus sampling + benchmark decontamination (r5)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from rindex_spark.operators.dedup import benchmark_contamination, decontaminate
from rindex_spark.operators.sampling import sample_to_token_budget


def _corpus(spark, n=400, seed=3):
    rng = np.random.default_rng(seed)
    rows = [
        (
            int(i),
            int(rng.integers(1, 200)),
            # coarse grid of qualities -> plenty of exact TIES, which
            # must break by doc_id inside the boundary bucket
            float(rng.integers(0, 50)) / 50.0,
        )
        for i in range(n)
    ]
    return rows, spark.createDataFrame(
        rows, "doc_id long, n_tokens long, quality_score double"
    )


def _prefix_oracle(rows, budget):
    ordered = sorted(rows, key=lambda r: (-r[2], r[0]))
    keep, cum = set(), 0
    for i, t, _q in ordered:
        if cum + t > budget:
            break
        cum += t
        keep.add(i)
    return keep


def test_token_budget_matches_prefix_oracle(spark):
    rows, df = _corpus(spark)
    for budget in (0, 500, 7_000, 10**9):
        got = {
            r["doc_id"]
            for r in sample_to_token_budget(df, budget).collect()
        }
        assert got == _prefix_oracle(rows, budget), budget


def test_token_budget_empty_and_negative(spark):
    _rows, df = _corpus(spark, n=10)
    assert sample_to_token_budget(df, -1).count() == 0
    assert sample_to_token_budget(df.limit(0), 100).count() == 0


def test_token_budget_tie_heavy_single_bucket(spark):
    """Every doc shares ONE quality value (the documented pathological
    case): the whole corpus is the boundary bucket and the result must
    still be the exact (quality, doc_id) prefix."""
    rows = [(i, 10, 0.5) for i in range(50)]
    df = spark.createDataFrame(
        rows, "doc_id long, n_tokens long, quality_score double"
    )
    got = sorted(
        r["doc_id"] for r in sample_to_token_budget(df, 105).collect()
    )
    assert got == list(range(10))  # 10 docs x 10 tokens = 100 <= 105


def test_decontamination_flags_planted_overlap(spark):
    bench = spark.createDataFrame(
        [(0, "the capital of france is paris as everyone knows")],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            (1, "pretraining corpus text about unrelated topics entirely"),
            (2, "quiz answer the capital of france is paris obviously"),
            (3, "france is a country in europe with wine"),
        ],
        "doc_id long, text string",
    )
    hits = {
        r["doc_id"]: r["n_hits"]
        for r in benchmark_contamination(docs, bench, n=4, min_hits=1).collect()
    }
    assert 2 in hits and hits[2] >= 2  # shares two 4-gram windows
    assert 1 not in hits and 3 not in hits
    kept = {r["doc_id"] for r in decontaminate(docs, bench, n=4).collect()}
    assert kept == {1, 3}
    # min_hits raises the bar: requiring 10 distinct shared grams
    # clears doc 2
    assert benchmark_contamination(docs, bench, n=4, min_hits=10).count() == 0


def test_decontamination_string_doc_ids(spark):
    """Doc ids keep their type through the gram pass: string ids flag
    exactly as long ids do."""
    bench = spark.createDataFrame(
        [(0, "the capital of france is paris as everyone knows")],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            ("page-a", "pretraining corpus text about unrelated topics entirely"),
            ("page-b", "quiz answer the capital of france is paris obviously"),
        ],
        "doc_id string, text string",
    )
    hits = {
        r["doc_id"]: r["n_hits"]
        for r in benchmark_contamination(docs, bench, n=4).collect()
    }
    assert set(hits) == {"page-b"} and hits["page-b"] >= 2


def test_decontamination_shuffle_join_path_identical(spark):
    bench = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    docs = spark.createDataFrame(
        [(1, "noise alpha beta gamma delta tail"), (2, "clean words only here")],
        "doc_id long, text string",
    )
    a = sorted(
        (r["doc_id"], r["n_hits"])
        for r in benchmark_contamination(docs, bench, n=3).collect()
    )
    b = sorted(
        (r["doc_id"], r["n_hits"])
        for r in benchmark_contamination(
            docs, bench, n=3, broadcast_benchmark=False
        ).collect()
    )
    assert a == b and a and a[0][0] == 1
