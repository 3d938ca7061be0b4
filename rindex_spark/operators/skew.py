"""Skew tooling: hot-cell detection and key skew profiles.

Urban-density / Zipf-host skew shows up as hot grid cells (the
reference never faces this — it is single-threaded; its analogue is
tree rebalancing via forced reinsert + max-variance splits,
rindex.rs:623-713).  The engine handles skew in three layers:

1. density-adaptive cell sizing (grid.shrink_to_density, applied by
   knn_for_queries when it infers its grid) — bounds per-cell
   occupancy by construction;
2. hot-supercell SALTING inside the kNN rounds (operators.knn) — no
   single Arrow task owns an oversized query group;
3. the helpers here for generic pipelines: detect hot cells and
   report a key's skew profile (useful before a groupBy/join on a key
   you don't control).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rindex_spark.config import EngineConfig, GridSpec
from rindex_spark.grid import with_cells


def key_skew_profile(df: DataFrame, *key_cols: str, top: int = 10) -> dict:
    """Occupancy profile of a grouping key: totals, mean, p99, max, and
    the heaviest keys.  One aggregate job; use before big joins."""
    counts = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("n"))
    stats = counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.avg("n").alias("mean"),
        F.expr("percentile(n, 0.99)").alias("p99"),
        F.max("n").alias("max"),
    ).collect()[0]
    heavy = counts.orderBy(F.col("n").desc()).limit(top).collect()
    return {
        "n_keys": stats["n_keys"],
        "mean": stats["mean"],
        "p99": stats["p99"],
        "max": stats["max"],
        "heaviest": [tuple(r) for r in heavy],
    }


def hot_cells(
    points: DataFrame, spec: GridSpec, cfg: EngineConfig | None = None
) -> DataFrame:
    """Cells whose occupancy exceeds hot_cell_factor x the mean —
    the broadcastable hot-cell map of the north_star."""
    cfg = cfg or EngineConfig()
    occ = (
        with_cells(points.select("x", "y"), spec)
        .groupBy("ix", "iy")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    mean = occ.agg(F.avg("n")).collect()[0][0] or 0.0
    return occ.filter(F.col("n") > cfg.hot_cell_factor * mean)
