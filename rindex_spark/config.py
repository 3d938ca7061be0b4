"""Engine configuration.

The reference configures ``k`` and tree fanout (rindex.rs:45-82,
``max_fanout >= 4``, ``k >= 1``). Fanout is tree-physical and has no
Spark analogue; its role (data layout quality) is played by the grid
cell size + shuffle partitioning, so the config here carries ``k`` plus
grid/partitioning knobs.
"""

from __future__ import annotations

import math
from dataclasses import dataclass


@dataclass(frozen=True)
class GridSpec:
    """A flat integer cell grid over the plane.

    ``cell(p) = (floor((x - x0)/cs), floor((y - y0)/cs))``.  Plays the
    role of the reference's bounding-sphere tree placement
    (rindex.rs:439-451 choose_subtree): deterministic, order-independent
    point -> partition assignment.
    """

    cell_size: float
    x0: float = 0.0
    y0: float = 0.0

    def __post_init__(self) -> None:
        if not (self.cell_size > 0.0 and math.isfinite(self.cell_size)):
            raise ValueError(f"cell_size must be positive finite, got {self.cell_size}")


@dataclass(frozen=True)
class EngineConfig:
    """Engine-wide knobs.

    k:                neighbors maintained per point, INCLUDING the point
                      itself at distance 0.0 (reference semantics,
                      rindex.rs:481, usage.rs:16-17).
    target_per_cell:  desired mean points per grid cell when a grid is
                      inferred from data (drives cell_size).  None (the
                      default) derives it from k.  With the cogrouped
                      Arrow kNN rounds, per-cell occupancy costs numpy
                      FLOPS (cheap) while the group COUNT costs pandas
                      per-group overhead (expensive) — so cells should
                      be comfortably larger than k.
    max_rounds:       safety cap on ring-expansion iterations.
    hot_cell_factor:  a cell with more than hot_cell_factor * mean
                      points is "hot" (skew.hot_cells).
    """

    k: int = 10
    target_per_cell: int | None = None
    max_rounds: int = 64
    hot_cell_factor: float = 8.0

    def __post_init__(self) -> None:
        # Mirrors the reference's parameter validation (rindex.rs:59-66):
        # it rejects k < 1; fanout bounds have no analogue here.
        if self.k < 1:
            raise ValueError(f"k must be >= 1, got {self.k}")
        if self.target_per_cell is not None and self.target_per_cell < 1:
            raise ValueError("target_per_cell must be >= 1")

    @property
    def effective_target_per_cell(self) -> int:
        return self.target_per_cell if self.target_per_cell is not None else max(32, 3 * self.k)
