"""streaming/scale.py: the scale-adaptive state-partition derivation."""

from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from obadiah_spark.streaming.scale import (  # noqa: E402
    scoped_shuffle_partitions, stream_shuffle_partitions)


@pytest.fixture(scope="module")
def spark():
    from obadiah_spark.session import get_spark

    return get_spark("test_stream_scale")


@pytest.fixture(autouse=True)
def _clean_densities(monkeypatch):
    # a developer's pinned density env vars must not skew the derivation
    # expectations (ADVICE r15)
    for var in ("OBADIAH_STREAM_SHUFFLE_PARTITIONS",
                "OBADIAH_STREAM_ROWS_PER_PARTITION",
                "OBADIAH_STREAM_GROUPS_PER_PARTITION"):
        monkeypatch.delenv(var, raising=False)


def test_row_bound_sizing(spark):
    par = spark.sparkContext.defaultParallelism
    assert stream_shuffle_partitions(spark, 100) == 1
    assert stream_shuffle_partitions(spark, 100_000) == min(par, 2)
    # clamps to the session's parallelism, never past it
    assert stream_shuffle_partitions(spark, 10**9) == par


def test_group_bound_sizing(spark):
    par = spark.sparkContext.defaultParallelism
    # 20k tiny groups at 1000/partition beats the row term (20k rows)
    assert stream_shuffle_partitions(
        spark, 20_000, n_groups=20_000) == min(par, 20)
    # explicit density override (compute-heavy per-row folds)
    assert stream_shuffle_partitions(
        spark, 64_000, rows_per_partition=2000) == min(par, 32)


def test_per_trigger_sizing(spark):
    par = spark.sparkContext.defaultParallelism
    # the fixed cost is per micro-batch: a 3-trigger replay sizes from
    # the per-trigger volume (ceil(100k/3)=33334 -> ceil(/4200)=8), so
    # the derived count no longer grows to the core cap with the replay
    # total (the r15 anti-scaling)
    assert stream_shuffle_partitions(
        spark, 100_000, rows_per_partition=4200,
        n_triggers=3) == min(par, 8)
    # groups divide by triggers too
    assert stream_shuffle_partitions(
        spark, 20_000, n_groups=20_000, n_triggers=4) == min(par, 5)
    # default n_triggers=1 is the old behavior
    assert stream_shuffle_partitions(
        spark, 100_000, rows_per_partition=4200) == min(par, 24)


def test_env_pin_wins(spark, monkeypatch):
    monkeypatch.setenv("OBADIAH_STREAM_SHUFFLE_PARTITIONS", "7")
    assert stream_shuffle_partitions(spark, 10**9, n_groups=10**9) == 7


def test_scoped_conf_restores(spark):
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    with scoped_shuffle_partitions(spark, 3):
        assert spark.conf.get(key) == "3"
    assert spark.conf.get(key) == before
    # restores on error too
    with pytest.raises(RuntimeError):
        with scoped_shuffle_partitions(spark, 5):
            raise RuntimeError("boom")
    assert spark.conf.get(key) == before


def test_scope_guard_sees_through_python_wrappers(spark):
    """Two Python wrappers of ONE JVM session share its conf, so a scope on
    the second wrapper nested in a scope on the first must be refused and
    leave the conf untouched; a ``newSession()`` (own conf) still gets its
    own scope."""
    from pyspark.sql import SparkSession

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    twin = SparkSession(spark.sparkContext, spark._jsparkSession)
    assert twin is not spark
    with scoped_shuffle_partitions(spark, 3):
        with pytest.raises(RuntimeError, match="already active"):
            with scoped_shuffle_partitions(twin, 5):
                pass
        assert spark.conf.get(key) == "3"
        other = spark.newSession()
        with scoped_shuffle_partitions(other, 5):
            assert other.conf.get(key) == "5"
            assert spark.conf.get(key) == "3"
    assert spark.conf.get(key) == before
