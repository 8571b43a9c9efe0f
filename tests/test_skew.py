"""Skew-mitigation operators: salted forms must be result-identical to
their unsalted equivalents (the salt is pure plan shape)."""

from __future__ import annotations

from pyspark.sql import functions as F

from sequencing_integration_pipeline1_0_spark.operators import skew

SF = "/root/testdata/sf0.001"


def _sorted(df):
    return sorted(tuple(r) for r in df.collect())


def test_salted_group_agg_matches_direct(spark):
    li = (spark.read.parquet(f"{SF}/lineitem.parquet")
          .withColumn("q", F.col("l_quantity").cast("decimal(18,2)")))
    salted = skew.salted_group_agg(
        li, ["l_returnflag"],
        {"sum_qty": ("sum", "q"), "n": ("count", "q")}, buckets=16)
    direct = li.groupBy("l_returnflag").agg(
        F.sum("q").alias("sum_qty"), F.count("q").alias("n"))
    assert _sorted(salted.select("l_returnflag", "sum_qty", "n")) \
        == _sorted(direct.select("l_returnflag", "sum_qty", "n"))


def test_salted_avg_matches_direct(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    salted = skew.salted_avg(li, ["l_returnflag"], "l_quantity",
                             out="avg_qty", buckets=16)
    direct = li.groupBy("l_returnflag").agg(
        F.avg("l_quantity").alias("avg_qty"))
    got = {r["l_returnflag"]: r["avg_qty"] for r in salted.collect()}
    want = {r["l_returnflag"]: r["avg_qty"] for r in direct.collect()}
    assert got.keys() == want.keys()
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9


def test_salted_join_matches_plain(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet") \
        .select("l_orderkey", "l_partkey", "l_quantity")
    part = spark.read.parquet(f"{SF}/part.parquet") \
        .select(F.col("p_partkey").alias("l_partkey"), "p_name")
    salted = skew.salted_join(li, part, "l_partkey", buckets=4)
    plain = li.join(part, "l_partkey")
    assert salted.count() == plain.count()
    cols = ["l_partkey", "l_orderkey", "l_quantity", "p_name"]
    assert _sorted(salted.select(*cols)) == _sorted(plain.select(*cols))


def test_salted_join_rejects_nothing_on_left_join(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet") \
        .select("l_orderkey", "l_partkey")
    empty_dim = spark.createDataFrame([], "l_partkey long, d string")
    out = skew.salted_join(li, empty_dim, "l_partkey", buckets=4, how="left")
    assert out.count() == li.count()
