"""Table compaction & file layout: the small-files maintenance pass
every long-lived 100 TB table needs (streaming sinks and per-batch
appends leave thousands of KB-sized files; scans then pay one task +
one open per file).

Two layout modes:

- :func:`compact` — AQE REBALANCE: coalesces/splits partitions toward
  ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` at runtime from
  the *measured* shuffle sizes. No count() pre-pass, no guessed file
  number — the right mechanism when the input size is unknown, which
  at 100 TB is always.
- :func:`compact_clustered` — ``repartitionByRange`` + in-partition
  sort on the cluster keys: output files carry DISJOINT key ranges, so
  parquet footer min/max statistics prune file scans for range
  predicates (the poor man's clustering index; the range boundaries
  come from Spark's reservoir sampling of the keys, not a full pass).

Both cap rows per file (``maxRecordsPerFile``) so a skewed partition
cannot produce one giant file.

The reference has no table-maintenance story (its sink rewrites whole
JSON trees per run — index_align_to_firebase.py:499-500); this is part
of the engine's ops surface for the driver-contract extension.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame

from pac_spark.session import scoped_conf

__all__ = ["compact", "compact_clustered", "compact_zordered"]


def _write(df: DataFrame, dest: str, max_records_per_file: int | None) -> None:
    writer = df.write.mode("overwrite")
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    writer.parquet(dest)


def compact(
    df: DataFrame,
    dest: str,
    advisory_partition_mb: int | None = None,
    max_records_per_file: int | None = None,
) -> None:
    """Rewrite ``df`` to ``dest`` with size-targeted files via the AQE
    REBALANCE hint. Row content is preserved exactly; file boundaries
    are chosen by AQE from measured sizes."""
    advisory = None if advisory_partition_mb is None else f"{advisory_partition_mb}m"
    with scoped_conf(
        df.sparkSession, "spark.sql.adaptive.advisoryPartitionSizeInBytes", advisory
    ):
        _write(df.hint("rebalance"), dest, max_records_per_file)


def compact_clustered(
    df: DataFrame,
    dest: str,
    cluster_by: list[str],
    n_files: int,
    max_records_per_file: int | None = None,
) -> None:
    """Rewrite ``df`` to ``dest`` as ``n_files`` range-clustered,
    internally sorted parquet files: file k holds keys in a range
    disjoint from file k+1's, so footer min/max stats prune whole
    files for range predicates. ``n_files`` scales with the table
    (bytes / target file size) — at 100 TB pick it from table-level
    metadata, not a count pass."""
    clustered = df.repartitionByRange(n_files, *cluster_by).sortWithinPartitions(
        *cluster_by
    )
    _write(clustered, dest, max_records_per_file)


def compact_zordered(
    df: DataFrame,
    dest: str,
    col_a: str,
    col_b: str,
    n_files: int,
    bits: int = 4,
    max_records_per_file: int | None = None,
) -> None:
    """Rewrite ``df`` as ``n_files`` Z-order-clustered parquet files:
    rows are ordered along a Morton curve over (``col_a``, ``col_b``),
    so parquet footer min/max statistics prune files for predicates on
    EITHER column or a 2-D box — the multi-column locality a
    single-axis range clustering (:func:`compact_clustered`) cannot
    give (its secondary column spans every file).

    Buckets are EQUI-DEPTH (approx-quantile boundaries per column, one
    boundary pass — the rank-based bucketing production Z-order uses):
    range-linear scaling collapses under skew, packing most of the
    mass into a few Morton cells and destroying pruning exactly on the
    skewed column. Each row folds its value through the tiny boundary
    array (broadcast literal), bits interleave into the Z value, and
    the write is ``repartitionByRange + sortWithinPartitions`` on it.
    """
    from pyspark.sql import functions as F

    n_buckets = 1 << bits
    qs = [j / float(n_buckets) for j in range(1, n_buckets)]
    # ONE boundary pass for both columns (the list overload) — two
    # separate approxQuantile calls would scan the table twice
    bounds_a, bounds_b = df.approxQuantile([col_a, col_b], qs, 0.001)

    def bucket(col: str, bounds: list) -> object:
        # non-finite boundaries cannot be rendered as SQL literals
        # (repr(inf) -> unresolved identifier); a quantile boundary is
        # only non-finite when the column itself holds inf/nan, which
        # no meaningful Z-clustering can bucket anyway
        if not all(math.isfinite(float(b)) for b in bounds):
            raise ValueError(
                f"{col}: non-finite quantile boundary — Z-order "
                "clustering needs finite values"
            )
        arr = "array(" + ", ".join(repr(float(b)) for b in bounds) + ")"
        # bucket = number of boundaries <= x, a fold over the literal
        # boundary array (15 comparisons at the default 4 bits).
        # Lambda vars are __-prefixed and the column is backtick-quoted:
        # a column literally named `b`/`acc` would otherwise be
        # SHADOWED by the lambda parameter (comparison silently becomes
        # boundary >= boundary), and names needing quoting would throw
        # (code-review r8).
        ident = "`" + col.replace("`", "``") + "`"
        return F.expr(
            f"aggregate({arr}, 0L, (__acc, __b) -> "
            f"__acc + if(cast({ident} as double) >= __b, 1L, 0L))"
        )

    ba = bucket(col_a, bounds_a)
    bb = bucket(col_b, bounds_b)
    z = None
    for i in range(bits):
        bit_a = F.shiftleft(F.shiftright(ba, i).bitwiseAND(1), 2 * i)
        bit_b = F.shiftleft(F.shiftright(bb, i).bitwiseAND(1), 2 * i + 1)
        z = bit_a + bit_b if z is None else z + bit_a + bit_b
    zdf = df.withColumn("__z", z)
    clustered = zdf.repartitionByRange(n_files, "__z").sortWithinPartitions("__z")
    _write(clustered.drop("__z"), dest, max_records_per_file)
