"""The loop scope helpers in pac_spark.session, on the real session.

``fits_broadcast`` reads the broadcast threshold as Spark itself parsed
it, and ``loop_partitions`` reads the shuffle-partition count as an
int. Both rely on Spark rejecting malformed values at ``conf.set``;
the rejection test pins that premise, so a Spark that starts accepting
them fails here instead of inside a loop.
"""

from __future__ import annotations

import pytest

from pac_spark.session import (
    SHUFFLE_PARTITIONS,
    fits_broadcast,
    loop_partitions,
    scoped_conf,
)

THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"
# a SQL conf the test session never sets explicitly
UNSET_KEY = "spark.sql.adaptive.advisoryPartitionSizeInBytes"


@pytest.mark.parametrize(
    "raw, nbytes",
    [
        ("10485760", 10485760),
        ("10m", 10 << 20),
        ("10MB", 10 << 20),
        (" 20k ", 20 << 10),
        ("7b", 7),
        ("1g", 1 << 30),
        ("-1", 0),
    ],
)
def test_fits_broadcast_decides_at_the_byte_boundary(spark, raw, nbytes):
    with scoped_conf(spark, THRESHOLD, raw):
        edge = nbytes // 48  # largest row count whose estimate fits
        assert fits_broadcast(spark, edge), raw
        assert not fits_broadcast(spark, edge + 1), raw


@pytest.mark.parametrize(
    "key, raw",
    [
        (THRESHOLD, "10 MB garbage"),
        (THRESHOLD, "1.5g"),
        (SHUFFLE_PARTITIONS, "auto"),
    ],
)
def test_spark_rejects_malformed_confs_at_set(spark, key, raw):
    from pyspark.errors import IllegalArgumentException

    before = spark.conf.get(key)
    with pytest.raises(IllegalArgumentException):
        spark.conf.set(key, raw)
    assert spark.conf.get(key) == before


def test_scoped_conf_restores_previous_value_after_exception(spark):
    before = spark.conf.get(SHUFFLE_PARTITIONS)
    with pytest.raises(RuntimeError, match="boom"):
        with scoped_conf(spark, SHUFFLE_PARTITIONS, 5):
            assert spark.conf.get(SHUFFLE_PARTITIONS) == "5"
            raise RuntimeError("boom")
    assert spark.conf.get(SHUFFLE_PARTITIONS) == before


def test_scoped_conf_unsets_a_key_without_explicit_value(spark):
    assert spark.conf.get(UNSET_KEY, None) is None
    with scoped_conf(spark, UNSET_KEY, "8m"):
        assert spark.conf.get(UNSET_KEY) == "8m"
    assert spark.conf.get(UNSET_KEY, None) is None


def test_scoped_conf_none_leaves_conf_alone(spark):
    before = spark.conf.get(SHUFFLE_PARTITIONS)
    with scoped_conf(spark, SHUFFLE_PARTITIONS, None):
        assert spark.conf.get(SHUFFLE_PARTITIONS) == before
    assert spark.conf.get(SHUFFLE_PARTITIONS) == before


def test_loop_partitions_floors_at_4_and_caps_at_session(spark):
    with scoped_conf(spark, SHUFFLE_PARTITIONS, 16):
        assert loop_partitions(spark, 0) == 4
        assert loop_partitions(spark, 1) == 4
        assert loop_partitions(spark, 5) == 5
        assert loop_partitions(spark, 17) == 16
    with scoped_conf(spark, SHUFFLE_PARTITIONS, 2):
        # a session below the floor keeps its own count
        assert loop_partitions(spark, 1) == 2
