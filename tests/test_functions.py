"""Tests for the function library (vector + text column expressions and
the SQL-side registry — the analog of the reference's function catalog,
andb/catalog/function.py:14-136)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from andb_spark.functions import register_all
from andb_spark.functions import text as TX
from andb_spark.functions.vector import cosine_distance, cosine_similarity, dot, l2_norm


def test_vector_expressions(spark):
    df = spark.createDataFrame([([3.0, 4.0], [3.0, 4.0]), ([1.0, 0.0], [0.0, 1.0])], ["a", "b"])
    rows = df.select(
        dot("a", "b").alias("d"),
        l2_norm("a").alias("n"),
        cosine_similarity("a", "b").alias("cs"),
        cosine_distance("a", "b").alias("cd"),
    ).collect()
    assert rows[0]["d"] == 25.0
    assert rows[0]["n"] == 5.0
    assert rows[0]["cs"] == pytest.approx(1.0)
    assert rows[1]["cs"] == pytest.approx(0.0)
    assert rows[1]["cd"] == pytest.approx(1.0)


def test_sql_function_registry(spark):
    """cosine_distance callable from SQL — parity with the reference's
    only builtin (catalog/buitin_functions.py:3-12)."""
    register_all(spark)
    r = spark.sql(
        "SELECT cosine_distance(array(1.0F, 0.0F), array(0.0F, 1.0F)) AS d,"
        "       cosine_similarity(array(1.0F, 0.0F), array(1.0F, 0.0F)) AS s"
    ).collect()[0]
    assert r["d"] == pytest.approx(1.0)
    assert r["s"] == pytest.approx(1.0)


def test_tokens_and_counts(spark):
    df = spark.createDataFrame([("  a  b   c ",), ("",)], ["t"])
    out = df.select(
        TX.token_count("t").alias("n"), TX.tokens("t").alias("toks")
    ).collect()
    assert out[0]["n"] == 3 and out[0]["toks"] == ["a", "b", "c"]
    assert out[1]["n"] == 0


def test_tokens_matches_filter_lambda_form(spark):
    """tokens() is array_remove over the whitespace split; it must agree
    with the filter(x -> x != '') form it replaced on every edge:
    NULL stays NULL, blank and whitespace-only text yield no tokens."""
    texts = [
        None, "", " ", "\t\n", "a", "  a  b   c ", "\ta\nb\t\tc\n",
        " \n lead and trail \t", "mixed\t \n\r\fspaces\x0bhere",
        "naïve café — 東京 ümlaut", "ß\u00a0nbsp kept",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i int, t string")
    split = F.split(F.col("t"), r"\s+")
    rows = df.select(
        "i",
        TX.tokens("t").alias("new"),
        F.filter(split, lambda x: x != F.lit("")).alias("old"),
        TX.token_count("t").alias("n"),
    ).orderBy("i").collect()
    assert len(rows) == len(texts)
    for r in rows:
        assert r["new"] == r["old"], (texts[r["i"]], r["new"], r["old"])
        assert r["n"] == (None if r["old"] is None else len(r["old"]))
    assert rows[0]["new"] is None
    assert [r["new"] for r in rows[1:4]] == [[], [], []]


def test_text_scores_bounded(spark):
    df = spark.createDataFrame(
        [("the cat sat on the mat and it is fine",), ("zzz qqq xxx!!!",)], ["t"]
    )
    rows = df.select(
        TX.stopword_ratio("t").alias("sw"),
        TX.punct_ratio("t").alias("pr"),
        TX.quality_score("t").alias("q"),
        TX.lang_id("t").alias("lang"),
    ).collect()
    natural, junk = rows
    assert natural["sw"] > junk["sw"]
    assert natural["q"] > junk["q"]
    assert 0.0 <= junk["q"] <= 1.0
    assert natural["lang"] == "en" and junk["lang"] == "other"


def test_fingerprint_order_insensitive(spark):
    df = spark.createDataFrame([(1, "b a c"), (2, "c b a"), (3, "a b d")], ["i", "t"])
    fps = {r["i"]: r["fp"] for r in df.select("i", TX.fingerprint("t").alias("fp")).collect()}
    assert fps[1] == fps[2]
    assert fps[1] != fps[3]


def test_register_udf_vectorized_and_row(spark):
    import pandas as pd

    from andb_spark.functions.register import register_udf

    register_udf(
        spark, "t_double_it", lambda s: s * 2.0, "double", vectorized=True
    )
    register_udf(
        spark,
        "t_shout",
        lambda s: (s or "").upper() + "!",
        "string",
        vectorized=False,
    )
    row = spark.sql(
        "SELECT t_double_it(CAST(21 AS DOUBLE)) AS d, t_shout('hey') AS s"
    ).first()
    assert row["d"] == 42.0
    assert row["s"] == "HEY!"


def test_register_udaf_grouped(spark):
    from andb_spark.functions.register import register_udaf

    register_udaf(spark, "t_midrange", lambda s: (s.min() + s.max()) / 2.0)
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 5.0), ("b", 2.0), ("b", 10.0)], ["k", "v"]
    )
    df.createOrReplaceTempView("t_udaf_src")
    rows = spark.sql(
        "SELECT k, t_midrange(v) AS mid FROM t_udaf_src GROUP BY k ORDER BY k"
    ).collect()
    assert [(r.k, r.mid) for r in rows] == [("a", 3.0), ("b", 6.0)]


def test_register_udtf_from_position(spark):
    from andb_spark.functions.register import register_udtf

    class Squares:
        def eval(self, start: int, end: int):
            for n in range(start, end + 1):
                yield (n, n * n)

    register_udtf(spark, "t_squares", Squares, "num int, squared int")
    rows = spark.sql("SELECT * FROM t_squares(1, 3) ORDER BY num").collect()
    assert [(r.num, r.squared) for r in rows] == [(1, 1), (2, 4), (3, 9)]


def test_bigrams_and_repetition_measures(spark):
    df = spark.createDataFrame(
        [("a b a b a",), ("solo",), ("x x x x",)], ["t"]
    )
    rows = df.select(
        TX.bigrams(TX.tokens("t")).alias("bg"),
        TX.max_count_fraction(TX.tokens("t")).alias("ttf"),
        TX.max_count_fraction(TX.bigrams(TX.tokens("t"))).alias("tbf"),
    ).collect()
    rep, solo, degenerate = rows
    assert rep["bg"] == ["a b", "b a", "a b", "b a"]
    assert math.isclose(rep["ttf"], 3 / 5)  # 'a' appears 3 of 5
    assert math.isclose(rep["tbf"], 2 / 4)  # 'a b' twice of 4 bigrams
    assert solo["bg"] == [] and solo["tbf"] is None  # no bigram for 1 token
    assert math.isclose(degenerate["ttf"], 1.0)
