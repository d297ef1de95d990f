"""Table IO: Iceberg-first with parquet fallback.

The north rule's payload lives in Iceberg tables (BASELINE.json:14).
This container has no Iceberg runtime jar, so the engine binds to
whichever is available at runtime:

  * with an Iceberg catalog configured (``spark.sql.catalog.*``),
    reads/writes go through ``format("iceberg")`` — giving snapshot
    isolation, partition pruning on the cell/tile columns via hidden
    partitioning, and ``RewriteDataFiles``-friendly file sizes;
  * otherwise plain parquet with explicit ``partitionBy`` approximates
    the same layout (pruning still works through Catalyst's
    PartitionFilters).

Both paths expose the same two calls, so pipeline code is identical in
either environment.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession

__all__ = ["iceberg_available", "write_table", "write_bucketed_table"]


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.org.apache.iceberg.Table  # type: ignore[attr-defined]
        return True
    except Exception:
        return False


def _is_table_identifier(location: str) -> bool:
    """A dotted ``catalog.db.table`` identifier, not a filesystem path.
    A bare relative path like ``out.parquet`` must NOT be routed to the
    Iceberg branch (round-1 advice finding), so paths (any ``/``, any
    URI scheme, a ``.parquet`` suffix) are excluded and at least one dot
    separator is required."""
    if "/" in location or "://" in location:
        return False
    if location.endswith(".parquet"):
        return False
    parts = location.split(".")
    return len(parts) >= 2 and all(p.isidentifier() for p in parts)


def write_table(
    df: DataFrame,
    location: str,
    mode: str = "append",
    partition_by: Optional[Sequence[str]] = None,
) -> None:
    """Write to Iceberg when available, else partitioned parquet.

    ``partition_by`` should be the cell-prefix / (zoom, tile_x) columns
    so downstream cell-range predicates prune files (the engine analog
    of the reference's Area-based pruning,
    /root/reference/src/proj.rs:171-192).  On the Iceberg branch the
    layout is applied via ``partitionedBy`` at table creation;
    ``append`` cannot change an existing table's partition spec (Iceberg
    semantics), so partition_by is only honored for overwrite/create."""
    if _is_table_identifier(location) and iceberg_available(df.sparkSession):
        writer = df.writeTo(location)
        if mode == "overwrite":
            if partition_by:
                from pyspark.sql.functions import col

                writer = writer.partitionedBy(*[col(c) for c in partition_by])
            writer.createOrReplace()
        else:
            writer.append()
        return
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(location)


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_cols: Sequence[str],
    num_buckets: int = 32,
    sort_cols: Optional[Sequence[str]] = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a BUCKETED managed table so repeated equi-joins /
    aggregations on ``bucket_cols`` (the cell column, typically) are
    co-located and need NO exchange: Spark records the hash-bucket
    layout in the catalog and both sides of a bucketed-by-cell join
    scan matching buckets directly.  This is the 'bucketing for
    co-located joins' knob of the scale plan — pay one shuffle at write
    time, skip it on every downstream join (plan-audit tested).

    ``sort_cols`` additionally sorts within buckets, letting sort-merge
    joins skip their sort."""
    w = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.format("parquet").saveAsTable(table_name)
