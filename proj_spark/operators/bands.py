"""Banded candidate generation shared by the near-duplicate operators.

Every LSH-style dedup operator in the library has the same core: give
each row a few ``(band, key)`` bucket labels, self-equi-join on them so
only rows sharing a bucket meet, verify the candidates exactly, and
drop the pairs found in more than one band.  This module owns the first
two steps; each caller keeps its own verify and its own order of verify
and dedup (a cheap codegen'd verify filters before the pair-dedup
shuffle, an expensive one runs once per deduplicated pair).

Scale shape: the explode is a projection, the self-join is one shuffle
on ``(band, key)`` (AQE may broadcast a small side), so candidate work
grows with the per-bucket collision count and never with the all-pairs
product.
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["bit_band_keys", "band_candidates"]


def bit_band_keys(col: Column, widths: Sequence[int]) -> Column:
    """``array<struct<band:int, key:long>>`` of consecutive bit slices
    of the long ``col``, lowest bits first: band ``i`` is the
    ``widths[i]`` bits above the ones the earlier bands took."""
    parts = []
    lo = 0
    for i, width in enumerate(widths):
        key = F.shiftrightunsigned(col, lo)
        if lo + width < 64:
            key = key.bitwiseAND(F.lit((1 << width) - 1))
        parts.append(F.struct(F.lit(i).alias("band"), key.alias("key")))
        lo += width
    return F.array(*parts)


def band_candidates(df: DataFrame, id_col: str, keys: Column,
                    carry: Iterable[str] = ()) -> DataFrame:
    """Candidate pairs of ``df`` rows that share at least one bucket of
    ``keys`` (an ``array<struct<band, key>>`` over ``df``'s columns).

    Output: ``id_a, id_b`` with ``id_a < id_b`` plus ``<c>_a, <c>_b``
    for every ``c`` in ``carry``.  A pair appears once per shared band:
    the caller verifies and deduplicates."""
    carry = tuple(carry)
    ex = df.select(id_col, *carry, F.explode(keys).alias("__bk")).select(
        id_col, *carry, "__bk.band", "__bk.key")
    sel = [F.col(f"a.{id_col}").alias("id_a"),
           F.col(f"b.{id_col}").alias("id_b")]
    for c in carry:
        sel += [F.col(f"a.{c}").alias(f"{c}_a"), F.col(f"b.{c}").alias(f"{c}_b")]
    a, b = ex.alias("a"), ex.alias("b")
    return a.join(b, (F.col("a.band") == F.col("b.band"))
                  & (F.col("a.key") == F.col("b.key"))
                  & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))).select(*sel)
