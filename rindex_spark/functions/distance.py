"""Distance functions.

The reference's only metric is planar Euclidean
``sqrt(sum((a_i-b_i)^2))`` (distance.rs:1-7).  We keep the exact IEEE
op order — sub, mul, add, sqrt — as a pure column expression so results
are bit-identical to both the Rust reference and a DuckDB oracle
computing the same expression (all three are strict IEEE-754 double).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def euclidean_nd(ax: Column, ay: Column, bx: Column, by: Column, extra_pairs=()) -> Column:
    """Full-D Euclidean distance: (x, y) plus ``extra_pairs`` of
    (a_i, b_i) coordinate Columns (reference const-generic [f64; D],
    lib/src/rindex.rs:34).  Accumulation is strictly left-to-right —
    sqrt(((dx^2+dy^2)+dz^2)+...) — the same IEEE op order as the SQL
    oracles' left-associative ``+`` chain, so doubles stay
    bit-identical."""
    dx = ax - bx
    dy = ay - by
    acc = dx * dx + dy * dy
    for a, b in extra_pairs:
        d = a - b
        acc = acc + d * d
    return F.sqrt(acc)
