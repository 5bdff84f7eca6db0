"""Focused tests for the r15 optimization-round internals: the
fixture attach memo (including the correctness-critical dir-change
rebind), the eager incremental-MinHash regime, staged-write sizing,
and the per-session function registration. The size-derived fan-out
width tests live with the dedup operators in test_operators.py."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from andb_spark.catalog import load_table, register_tables
from andb_spark.operators import dedup as DD
from andb_spark.session import build_session

SF001 = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def spark():
    return build_session("test_r15_opt")


def test_register_tables_rebinds_on_dir_change(spark):
    register_tables(spark, SF001)
    n_small = spark.table("orders").count()
    register_tables(spark, SF01)
    n_big = spark.table("orders").count()
    # the attach memo must never serve a stale dir's views
    assert n_big > n_small
    register_tables(spark, SF001)
    assert spark.table("orders").count() == n_small


def test_load_table_memo_is_per_dir(spark):
    a = load_table(spark, SF001, "orders")
    b = load_table(spark, SF001, "orders")
    c = load_table(spark, SF01, "orders")
    assert a is b  # plan handle reused within (session, dir, table)
    assert c is not a
    assert c.count() != a.count()


def test_incremental_minhash_eager_matches_lazy(spark):
    """The eager-localCheckpoint regime (plan truncation, r15) must
    return exactly the lazy-persist regime's pairs — the flag changes
    WHERE intermediates live, never what is computed."""
    d = load_table(spark, SF001, "documents")
    hist = d.filter(F.col("doc_id") < 40)
    new = d.filter(F.col("doc_id") >= 40)
    kw = dict(num_hashes=8, rows_per_band=2, threshold=0.5)
    lazy = sorted(
        tuple(r)
        for r in DD.incremental_minhash_pairs(
            hist, new, "text", "doc_id", materialize=True, **kw
        ).collect()
    )
    eager = sorted(
        tuple(r)
        for r in DD.incremental_minhash_pairs(
            hist, new, "text", "doc_id", materialize=True, eager=True, **kw
        ).collect()
    )
    assert lazy == eager


def test_staged_write_output_sizing(spark, tmp_path):
    """A small change set must land as ~one file regardless of how
    many near-empty partitions its plan tail produced (guide §6 —
    pre-r15, an INSERT OR IGNORE batch landed as 32 files / 25 KiB);
    the session var must disable the sizing for layouts that need
    raw partitioning."""
    import glob
    import os

    from andb_spark.api import AnalyticsEngine

    eng = AnalyticsEngine(str(tmp_path / "wh"), spark=spark)
    e = eng.execute
    e("create table sz (k bigint)")
    e("insert into sz select id from range(0, 3000)")

    def seg_file_counts():
        return sorted(
            len(glob.glob(os.path.join(d, "*.parquet")))
            for d in glob.glob(str(tmp_path / "wh" / "sz" / "v-*"))
        )

    # range(0,3000) plans at full parallelism; the sized write lands one file
    assert max(seg_file_counts()) == 1, seg_file_counts()
    eng.session_vars["andb.stage_sizing_max_bytes"] = 0
    e("insert into sz select id from range(3000, 6000)")
    assert max(seg_file_counts()) > 1, seg_file_counts()
    assert e("select count(*) as n from sz").rows == [(6000,)]
    eng.close()


def test_register_all_idempotent(spark):
    from andb_spark.functions.register import register_all

    register_all(spark)
    register_all(spark)  # second call is a no-op, function still works
    row = spark.sql(
        "select cosine_similarity(array(1.0, 0.0), array(1.0, 0.0)) as s"
    ).collect()[0]
    assert abs(row["s"] - 1.0) < 1e-9
