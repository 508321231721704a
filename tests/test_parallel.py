"""Focused tests for the round-15 driver-side branch overlap
(:mod:`map_reduce_framework_spark.parallel`)."""

from __future__ import annotations

import pytest

from map_reduce_framework_spark.parallel import (
    co_materialize,
    materialize_async,
    overlap_enabled,
)


def test_overlap_enabled_env_toggle(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_OVERLAP", raising=False)
    assert overlap_enabled()
    monkeypatch.setenv("SPARK_GRAFT_OVERLAP", "0")
    assert not overlap_enabled()
    monkeypatch.setenv("SPARK_GRAFT_OVERLAP", "1")
    assert overlap_enabled()


def test_materialize_async_populates_persist(spark):
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    df = spark.range(1000).select(
        "id", (F.col("id") * 2).alias("v")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        h = materialize_async(df, "test: background materialize")
        h.wait()
        # the background noop save populated the cache; a re-count must
        # agree with the data
        assert df.count() == 1000
        assert df.where("v = 2 * id").count() == 1000
    finally:
        df.unpersist()


def test_co_materialize_reraises_background_error(spark):
    from pyspark.sql import functions as F

    bad = spark.range(10).select(
        F.assert_true(F.col("id") < 5).alias("x")
    )
    with pytest.raises(Exception):
        with co_materialize(bad, "test: failing branch"):
            pass  # body succeeds; the background failure must surface


def test_co_materialize_body_error_wins(spark, caplog):
    """The body's error is raised whether the background action
    succeeds or fails; a failed background action is logged, with its
    exception attached."""
    import logging

    from pyspark.sql import functions as F

    caplog.set_level(logging.WARNING, logger="map_reduce_framework_spark.parallel")
    ok = spark.range(10)
    bad = spark.range(10).select(F.assert_true(F.col("id") < 5).alias("x"))
    for df, desc in ((ok, "test: ok branch"), (bad, "test: failing branch")):
        with pytest.raises(RuntimeError, match="body failure"):
            with co_materialize(df, desc):
                raise RuntimeError("body failure")
    (record,) = [r for r in caplog.records if r.name.endswith(".parallel")]
    assert "test: failing branch" in record.getMessage()
    assert record.exc_info is not None
    assert "id < 5" in str(record.exc_info[1])


def test_co_materialize_noop_when_disabled(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_OVERLAP", "0")
    df = spark.range(10)
    with co_materialize(df, "test: disabled") as h:
        assert h is None  # sequential shape: nothing scheduled


def test_overlap_results_identical_both_modes(spark, monkeypatch):
    """The overlap is scheduling-only: a composite that uses
    co_materialize must return bit-identical rows with the switch on
    and off (clean_corpus at the smallest SF exercises the real
    code path)."""
    from map_reduce_framework_spark import cache
    from map_reduce_framework_spark.operators.cleaning import clean_corpus

    from .conftest import SF_DIR

    def run():
        rows = clean_corpus(spark, SF_DIR).collect()
        cache.release()
        spark.catalog.clearCache()
        return rows

    monkeypatch.setenv("SPARK_GRAFT_OVERLAP", "1")
    on = run()
    monkeypatch.setenv("SPARK_GRAFT_OVERLAP", "0")
    off = run()
    assert on == off
