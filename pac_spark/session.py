"""SparkSession construction tuned for both local testing and cluster scale.

The reference runs everything single-threaded on the driver
(index_align_to_firebase.py:141 pulls whole tables via pd.read_sql).
Here the session is configured so that every operator in the package is
planned by Catalyst and executed by executors:

- AQE on (runtime coalescing, skew-join splitting, dynamic broadcast),
- shuffle partitions sized to the local core count for tests — on a real
  cluster this should be ~2-3x total cores or left to AQE's coalescing,
- Arrow enabled for every pandas interop boundary (Pandas UDFs,
  ``applyInPandas``, ``toPandas``),
- UTC session timezone so timestamp semantics match the DuckDB oracle.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

__all__ = [
    "get_spark",
    "tune_runtime",
    "DEFAULT_SHUFFLE_PARTITIONS",
    "SHUFFLE_PARTITIONS",
    "scoped_conf",
    "loop_partitions",
    "fits_broadcast",
]

SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"

def _cpus() -> int:
    """SPARK_GRAFT_CPUS, parsed defensively: a non-numeric or empty
    value falls back to 32 instead of making the whole package (and
    the plans registry behind it) unimportable."""
    raw = os.environ.get("SPARK_GRAFT_CPUS", "32")
    try:
        return max(1, int(raw))
    except ValueError:
        return 32


DEFAULT_SHUFFLE_PARTITIONS = _cpus()


def tune_runtime(spark: SparkSession) -> SparkSession:
    """Apply dynamic SQL confs to an *externally created* session.

    The driver harness constructs its own SparkSession and hands it to
    ``entry()``/``queries()``; these runtime-settable confs make engine
    behavior independent of how that session was built. Notably
    ``spark.sql.icu.caseMappings.enabled=false``: Spark 4.x's ICU case
    mapping has a minutes-long static initializer on first upper/lower
    call, and JVM case mapping matches the DuckDB oracle for this
    engine's data.
    """
    dynamic = {
        "spark.sql.session.timeZone": "UTC",
        # stateful streaming creates one state store per shuffle
        # partition; the default 200 costs ~1 min per streaming query
        # on local testdata. Sized to local cores here; on a cluster
        # this should be ~2-3x total cores (AQE coalesces the rest).
        "spark.sql.shuffle.partitions": str(DEFAULT_SHUFFLE_PARTITIONS),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.icu.caseMappings.enabled": "false",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Spark cannot scan parquet TIMESTAMP(NANOS) columns (the events
        # table uses them); read as raw nanos and convert in the catalog.
        "spark.sql.legacy.parquet.nanosAsLong": "true",
    }
    for k, v in dynamic.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on this build — keep going
    return spark


def get_spark(
    app_name: str = "pac_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    On a 1000-executor cluster the same config block applies except
    ``master`` (resource-manager supplied) and memory sizing; shuffle
    partitioning is handled by AQE coalescing from an intentionally high
    initial number, so plans written here survive a 100x scale-up
    without retuning.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{_cpus()}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Spark 4.x routes upper/lower through ICU even for UTF8_BINARY;
        # the ICU case-mapping static init takes minutes on first use.
        # JVM case mapping is correct for this engine's data; DuckDB's
        # (the oracle) matches JVM semantics for ASCII/Latin text.
        .config("spark.sql.icu.caseMappings.enabled", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # dynamic partition overwrite == the reference sink's per-key
        # subtree overwrite semantics (index_align_to_firebase.py:499-500)
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# The loop scope: iterative operators (graph loops, connected
# components, Lloyd fits) and stream drains run their rounds inside
# ``scoped_conf(spark, SHUFFLE_PARTITIONS, loop_partitions(...))`` and
# gate explicit broadcasts with ``fits_broadcast``. Results never depend
# on either choice: every loop is integer/min/argmax arithmetic that is
# partition-count- and join-strategy-invariant.


@contextmanager
def scoped_conf(spark: SparkSession, key: str, value: object) -> Iterator[None]:
    """Set ``key`` to ``str(value)`` for the ``with`` body and restore the
    previous value on exit, including on an exception. ``value=None``
    leaves the conf alone. A key with no explicit value before is UNSET
    on exit: writing back the registered default would pin it for every
    later query on the session."""
    if value is None:
        yield
        return
    prev = spark.conf.get(key, None)
    spark.conf.set(key, str(value))
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def loop_partitions(spark: SparkSession, want: int) -> int:
    """Shuffle partitions for a loop whose per-round frames the caller
    has measured: ``want`` (the caller's ceil-divided size, e.g. ~250k
    nodes or ~1M edge rows per task), floored at 4 for a parallel head
    and capped at the session setting so big inputs keep full
    parallelism. A corpus-tuned session count would otherwise pay pure
    task-scheduling overhead on every small round."""
    return min(int(spark.conf.get(SHUFFLE_PARTITIONS)), max(4, want))


def fits_broadcast(spark: SparkSession, rows: int) -> bool:
    """Whether ``rows`` loop rows may take an explicit ``broadcast()``
    hint. The hint bypasses ``spark.sql.autoBroadcastJoinThreshold``, so
    the gate re-applies it: ~48 bytes per row (two longs plus UnsafeRow
    and hash-table overhead) against the threshold as Spark itself
    parsed it (-1 disables broadcasting). Past the gate a loop keeps the
    shuffle joins that scale to billion-row frames."""
    conf = spark._jsparkSession.sessionState().conf()
    return rows * 48 <= max(conf.autoBroadcastJoinThreshold(), 0)
