"""Long-session cache lifecycle: an operator that caches intermediate
frames releases its previous call's frames on entry, so calling it again
and again in one session does not grow the JVM's persisted-RDD
population, and ``release_cached`` returns it to where it started.

Every call reads a different plan (a per-call literal in the input), so
Spark's CacheManager can never satisfy one call's persist with an
earlier call's blocks — each call really caches its own frames."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from rindex_spark import (
    connected_components,
    dedup_canonical,
    knn_for_queries,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    release_cached,
    reverse_knn,
    sample_to_token_budget,
)
from rindex_spark.config import GridSpec

from tests.conftest import brute_knn

K = 4


def _inputs(spark):
    rng = np.random.default_rng(43)
    coords = rng.uniform(-50.0, 50.0, size=(200, 2))
    pts = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(coords)],
        "id long, x double, y double",
    )
    graph = spark.createDataFrame(
        [
            (src, dst, d, r + 1)
            for src, nn in brute_knn(coords, np.arange(len(coords)), K).items()
            for r, (d, dst) in enumerate(nn)
        ],
        "src long, dst long, dist double, rank int",
    )
    qs = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(coords[::10])],
        "qid long, x double, y double",
    )
    words = [f"w{j}" for j in range(40)]
    texts = [
        " ".join(words[(i * 7 + j) % 40] for j in range(25)) for i in range(30)
    ]
    docs = spark.createDataFrame(
        [(i, texts[i % 15], i % 11 + 1, (i * 37 % 100) / 100.0) for i in range(30)],
        "doc_id long, text string, n_tokens long, quality_score double",
    )
    return pts, graph, qs, docs


def _call(op: str, inputs, i: int) -> int:
    """One call of ``op`` on call-``i``-specific plans; returns the
    consumed output's row count."""
    pts, graph, qs, docs = inputs
    d = docs.filter(F.col("doc_id") >= -i)  # keeps every row
    if op == "knn_for_queries":
        return knn_for_queries(pts.filter(F.col("id") >= -i), qs, K).count()
    if op == "reverse_knn":
        spec = GridSpec(cell_size=10.0, x0=-50.0, y0=-50.0)
        return reverse_knn(pts.filter(F.col("id") >= -i), graph, qs, K, spec).count()
    if op == "sample_to_token_budget":
        return sample_to_token_budget(d, budget=60).count()
    if op == "minhash_lsh_pairs":
        return minhash_lsh_pairs(d, threshold=0.5).count()
    return ngram_jaccard_pairs(d, threshold=0.5, max_df=20).count()


@pytest.mark.parametrize(
    "op",
    [
        "knn_for_queries",
        "reverse_knn",
        "sample_to_token_budget",
        "minhash_lsh_pairs",
        "ngram_jaccard_pairs",
    ],
)
def test_repeated_calls_hold_one_calls_frames(spark, op):
    # NOTE: the persisted-RDD count can only be asserted non-increasing:
    # Spark's ContextCleaner asynchronously drops earlier tests' garbage
    # at any moment, which only ever lowers it
    inputs = _inputs(spark)
    release_cached(blocking=True)
    jsc = spark.sparkContext._jsc

    def n_rdds() -> int:
        return jsc.getPersistentRDDs().size()

    baseline = n_rdds()
    counts, rows = [], []
    for i in range(3):
        rows.append(_call(op, inputs, i))
        counts.append(n_rdds())
    assert rows[0] > 0 and rows == [rows[0]] * 3, rows
    assert counts[0] > baseline, "the operator cached nothing"
    assert counts[2] <= counts[0], counts
    release_cached(blocking=True)
    assert n_rdds() <= baseline


def _components(pairs):
    """Plain-Python union-find oracle: node -> smallest reachable id."""
    parent = {}

    def find(v):
        while parent.setdefault(v, v) != v:
            v = parent[v]
        return v

    for a, b in pairs:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def test_connected_components_results_outlive_later_calls(spark):
    # each call frees its edge and superseded round checkpoints itself
    # and keeps only the one its lazily returned result reads (a
    # released local checkpoint cannot recompute), so results stay
    # readable across later calls until release_cached frees them
    from rindex_spark.operators import dedup

    release_cached(blocking=True)
    jsc = spark.sparkContext._jsc
    baseline = jsc.getPersistentRDDs().size()
    chains = [[(i, i + 1) for i in range(0, 40 - 10 * c) if i % 13 != c] for c in range(3)]
    results, rounds = [], []
    for c, chain in enumerate(chains):
        df = spark.createDataFrame(chain, "id_a long, id_b long")
        results.append(connected_components(df, local_contraction=False))
        rounds.append(dedup.last_cc_rounds)
        assert jsc.getPersistentRDDs().size() <= baseline + c + 1
    assert min(rounds) >= 2, rounds  # superseded round checkpoints existed
    docs = spark.createDataFrame([(i, "t") for i in range(50)], "doc_id long, text string")
    kept = [dedup_canonical(docs, spark.createDataFrame(ch, "id_a long, id_b long")) for ch in chains]
    for chain, res, kp in zip(chains, results, kept):
        comp = _components(chain)
        assert {r["id"]: r["component"] for r in res.collect()} == comp
        assert sorted(r["doc_id"] for r in kp.collect()) == [
            i for i in range(50) if comp.get(i, i) == i
        ]
    release_cached(blocking=True)
    assert jsc.getPersistentRDDs().size() <= baseline
