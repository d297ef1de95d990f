"""Hierarchical spatial cell index (S2/H3-style, quadtree variant).

A cell id is a 64-bit integer: ``(morton(ix, iy) << 5) | level`` where
``ix = floor((lon+180)/360 * 2^level)`` and ``iy = floor((lat+90)/180
* 2^level)``, level 0..26.  Z-order (Morton) interleaving gives the two
properties the distributed layer needs (BASELINE.json north_rule):

  * **hierarchy** — a child's morton prefixes its parent's, so
    ``parent = (morton >> 2*(L-L')) << 5 | L'`` and range predicates on
    cell prefixes prune partitions (the engine analog of the
    reference's Area bbox pruning, /root/reference/src/proj.rs:171-192);
  * **locality** — nearby points share long prefixes, so
    ``repartitionByRange`` on the cell column co-locates spatial
    neighborhoods.

Everything here is expressed TWICE with identical bit logic:

  * as Spark ``Column`` expressions (pure JVM, whole-stage codegen —
    the hot path; no Python worker involved), and
  * as numpy functions (used inside pandas UDFs for ring expansion and
    by the DuckDB oracle builder).

Tests assert the two agree bit-for-bit.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "MAX_LEVEL",
    "cell_col",
    "cell_block",
    "cell_parent_col",
    "np_cell",
    "np_cell_parent",
    "np_cell_ring",
    "np_cell_to_lonlat",
]

MAX_LEVEL = 26  # 2*26 morton bits + 5 level bits = 57 <= 63

_MASKS = [
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
]


# ---------------------------------------------------------------------------
# numpy side
# ---------------------------------------------------------------------------
def _np_spread(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.int64)
    for shift, mask in _MASKS:
        v = (v | (v << shift)) & mask
    return v


def _np_compact(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.int64) & _MASKS[-1][1]
    for shift, mask in [(1, 0x3333333333333333), (2, 0x0F0F0F0F0F0F0F0F),
                        (4, 0x00FF00FF00FF00FF), (8, 0x0000FFFF0000FFFF),
                        (16, 0x00000000FFFFFFFF)]:
        v = (v | (v >> shift)) & mask
    return v


def _np_ij(lon, lat, level):
    n = np.int64(1) << level
    ix = np.floor((np.asarray(lon, dtype=np.float64) + 180.0) / 360.0 * n).astype(np.int64)
    iy = np.floor((np.asarray(lat, dtype=np.float64) + 90.0) / 180.0 * n).astype(np.int64)
    ix = np.clip(ix, 0, n - 1)
    iy = np.clip(iy, 0, n - 1)
    return ix, iy


def np_cell(lon, lat, level: int) -> np.ndarray:
    """lon/lat degrees -> cell id at ``level``."""
    assert 0 <= level <= MAX_LEVEL
    ix, iy = _np_ij(lon, lat, level)
    morton = _np_spread(ix) | (_np_spread(iy) << 1)
    return (morton << 5) | np.int64(level)


def np_cell_decode(cell) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    cell = np.asarray(cell, dtype=np.int64)
    level = cell & 0x1F
    morton = cell >> 5
    return _np_compact(morton), _np_compact(morton >> 1), level


def np_cell_parent(cell, parent_level: int) -> np.ndarray:
    cell = np.asarray(cell, dtype=np.int64)
    level = cell & 0x1F
    morton = cell >> 5
    return ((morton >> (2 * (level - parent_level))) << 5) | np.int64(parent_level)


def np_cell_to_lonlat(cell) -> tuple[np.ndarray, np.ndarray]:
    """Cell center in degrees."""
    ix, iy, level = np_cell_decode(cell)
    n = (np.int64(1) << level).astype(np.float64)
    lon = (ix.astype(np.float64) + 0.5) / n * 360.0 - 180.0
    lat = (iy.astype(np.float64) + 0.5) / n * 180.0 - 90.0
    return lon, lat


def np_cell_ring(cell, r: int) -> np.ndarray:
    """All cells within Chebyshev distance ``r`` (the (2r+1)^2 block,
    ring-0 = the cell itself).  Longitude wraps; latitude clamps (rows
    outside the pole rows are dropped).  Returns shape (len, <= (2r+1)^2)
    with -1 padding for dropped cells."""
    ix, iy, level = np_cell_decode(np.atleast_1d(cell))
    n = np.int64(1) << level
    out = np.full((len(ix), (2 * r + 1) ** 2), -1, dtype=np.int64)
    k = 0
    for dx in range(-r, r + 1):
        for dy in range(-r, r + 1):
            jx = (ix + dx) % n
            jy = iy + dy
            ok = (jy >= 0) & (jy < n)
            m = _np_spread(jx) | (_np_spread(jy.clip(0)) << 1)
            c = (m << 5) | level
            out[:, k] = np.where(ok, c, -1)
            k += 1
    return out


# ---------------------------------------------------------------------------
# Spark Column side (pure JVM bit math — stays inside WholeStageCodegen)
# ---------------------------------------------------------------------------
def _col_spread(c: Column) -> Column:
    for shift, mask in _MASKS:
        c = (c.bitwiseOR(F.shiftleft(c, shift))).bitwiseAND(F.lit(mask))
    return c


def _col_compact(c: Column) -> Column:
    c = c.bitwiseAND(F.lit(0x5555555555555555))
    for shift, mask in [(1, 0x3333333333333333), (2, 0x0F0F0F0F0F0F0F0F),
                        (4, 0x00FF00FF00FF00FF), (8, 0x0000FFFF0000FFFF),
                        (16, 0x00000000FFFFFFFF)]:
        c = (c.bitwiseOR(F.shiftrightunsigned(c, shift))).bitwiseAND(F.lit(mask))
    return c


def _col_ij(lon: Column, lat: Column, level: int) -> tuple[Column, Column]:
    n = 1 << level
    ix = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(n)))
    iy = F.floor((lat + F.lit(90.0)) / F.lit(180.0) * F.lit(float(n)))
    ix = F.greatest(F.lit(0), F.least(F.lit(n - 1), ix)).cast("long")
    iy = F.greatest(F.lit(0), F.least(F.lit(n - 1), iy)).cast("long")
    return ix, iy


def _col_cell(ix: Column, iy: Column, level: int) -> Column:
    morton = _col_spread(ix).bitwiseOR(F.shiftleft(_col_spread(iy), 1))
    return F.shiftleft(morton, 5).bitwiseOR(F.lit(level))


def cell_col(lon: Column, lat: Column, level: int) -> Column:
    """Cell id Column from lon/lat degree Columns — JVM-side, no UDF."""
    assert 0 <= level <= MAX_LEVEL
    ix, iy = _col_ij(lon, lat, level)
    return _col_cell(ix, iy, level).alias("cell")


def cell_block(df, level: int, x0: Column, x1: Column, y0: Column,
               y1: Column, out: str = "cell"):
    """One row per cell of the index block ``[x0, x1] x [y0, y1]`` at
    ``level``, the cell id in column ``out`` — the candidate-cell
    explode behind every cell-indexed join (polygon covering cells,
    radius and kNN query rings).  Pure JVM: explode(x) x explode(y)
    then one Morton spread per row.

    Longitude wraps (``pmod``) and is capped at one full turn
    (``x0 .. x0 + 2^level - 1``); latitude is clamped to the grid rows.
    So no cell appears twice for a row and no dedup is needed.  Callers
    must pass ``x0 <= x1`` and a latitude range that is non-empty after
    clamping (Spark's ``sequence(a, b)`` counts DOWN when a > b)."""
    assert 0 <= level <= MAX_LEVEL
    n = 1 << level
    bx, by = f"__bx_{out}", f"__by_{out}"
    return (
        df.withColumn(bx, F.explode(F.sequence(
            x0, F.least(x1, x0 + F.lit(n - 1)))))
        .withColumn(by, F.explode(F.sequence(
            F.greatest(y0, F.lit(0)), F.least(y1, F.lit(n - 1)))))
        .withColumn(out, _col_cell(F.pmod(F.col(bx), F.lit(n)), F.col(by),
                                   level))
        .drop(bx, by)
    )


def cell_parent_col(cell: Column, level: int, parent_level: int) -> Column:
    """Parent cell at ``parent_level`` (hierarchy for rollups/pruning)."""
    morton = F.shiftrightunsigned(cell, 5)
    return F.shiftleft(
        F.shiftrightunsigned(morton, 2 * (level - parent_level)), 5
    ).bitwiseOR(F.lit(parent_level))
