"""Focused tests for the r16 optimization-round internals: the
tracked-checkpoint registry (release must free checkpoint blocks),
the staged-write sizing guards (0-disables, sorted-plan skip), and
the shared local-rows helper."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from andb_spark import caching
from andb_spark.session import build_session

SF001 = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    return build_session("test_r16_opt")


def _persistent_rdd_ids(spark):
    return sorted(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_checkpoint_tracked_is_released(spark):
    caching.release_caches()
    before = _persistent_rdd_ids(spark)
    df = caching.checkpoint_tracked(
        spark.range(1000).selectExpr("id", "id * 2 as v")
    )
    assert df.count() == 1000  # usable while registered
    assert len(_persistent_rdd_ids(spark)) > len(before)
    caching.release_caches()
    # the checkpoint's RDD blocks are gone — this was r15 verdict #3:
    # localCheckpoint frames outlived release_caches() until GC
    assert _persistent_rdd_ids(spark) == before


def test_checkpoint_storage_does_not_accumulate(spark):
    """50 repeated incremental-dedup-style checkpoint+release cycles
    must leave executor storage flat (the long-lived-session leak)."""
    caching.release_caches()
    baseline = len(_persistent_rdd_ids(spark))
    for i in range(50):
        df = caching.checkpoint_tracked(spark.range(100 + i))
        df.count()
        caching.release_caches()
    assert len(_persistent_rdd_ids(spark)) == baseline


def test_cache_mark_scopes_checkpoints(spark):
    caching.release_caches()
    outer = caching.checkpoint_tracked(spark.range(10))
    mark = caching.cache_mark()
    caching.checkpoint_tracked(spark.range(20))
    caching.release_caches_since(mark)
    # the outer scope's checkpoint survives an inner scoped release
    assert outer.count() == 10
    caching.release_caches()


def test_stage_sizing_zero_target_disables(spark, tmp_path):
    """andb.stage_target_file_bytes = 0 must disable the sizing, not
    ZeroDivisionError every small write (ADVICE r15 #2)."""
    from andb_spark.api import AnalyticsEngine

    eng = AnalyticsEngine(str(tmp_path / "wh"), spark=spark)
    eng.execute("set andb.stage_target_file_bytes = 0")
    eng.execute("create table zt (k bigint, v double)")
    eng.execute("insert into zt values (1, 1.5), (2, 2.5)")
    assert eng.execute("select count(*) as n from zt").rows == [(2,)]
    eng.close()


def test_plan_is_sorted_detection(spark):
    from andb_spark.api import AnalyticsEngine

    df = spark.range(100).selectExpr("id", "id % 7 as k")
    assert not AnalyticsEngine._plan_is_sorted(df)
    assert AnalyticsEngine._plan_is_sorted(df.orderBy("k"))
    # project above the sort (column pruning shape) still detected
    assert AnalyticsEngine._plan_is_sorted(
        df.orderBy("k").select("id")
    )
    # sortWithinPartitions is not a GLOBAL order promise
    assert not AnalyticsEngine._plan_is_sorted(
        df.sortWithinPartitions("k")
    )


def test_sorted_insert_preserves_row_order(spark, tmp_path):
    """INSERT ... SELECT ... ORDER BY must land in the requested order
    (ADVICE r15 #1: the sizing repartition interleaved sorted rows)."""
    from andb_spark.api import AnalyticsEngine

    eng = AnalyticsEngine(str(tmp_path / "wh2"), spark=spark)
    eng.execute("create table st (k bigint, v double)")
    eng.execute(
        "insert into st select id, cast(id as double) from"
        " range(0, 5000) order by id desc"
    )
    got = [r[0] for r in eng.execute("select k from st").rows]
    assert got == sorted(got, reverse=True)
    eng.close()


def test_rows_df_delegates_to_local_df(spark):
    from andb_spark.workloads.engine_q import _rows_df

    df = _rows_df(spark, [(1, "a"), (2, "b")], "k int, s string")
    # small results take ONE slice (the shared sizing), same values
    assert df.rdd.getNumPartitions() == 1
    assert sorted(tuple(r) for r in df.collect()) == [(1, "a"), (2, "b")]
