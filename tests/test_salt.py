"""Skew-salting operators: salted aggregation and salted join must be
value-identical to their unsalted forms (the salt only changes the
physical distribution)."""

from __future__ import annotations

from pyspark.sql import functions as F

from trainingdata_spark.operators.salt import salted_agg, salted_join


def test_salted_agg_equals_plain_agg(spark):
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    plain = {
        (r["l_returnflag"], r["total"], r["n"])
        for r in li.groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("total"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    salted = {
        (r["l_returnflag"], r["total"], r["n"])
        for r in salted_agg(
            li,
            ["l_returnflag"],
            partial_aggs=[F.sum("l_quantity").alias("s"), F.count(F.lit(1)).alias("c")],
            merge_aggs=[F.sum("s").alias("total"), F.sum("c").alias("n")],
        ).collect()
    }
    # compare keys and counts exactly; sums are floats → compare rounded
    assert {(k, round(t, 6), n) for k, t, n in plain} == {
        (k, round(t, 6), n) for k, t, n in salted
    }


def test_salted_join_equals_plain_join(spark):
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    part = spark.read.parquet("/root/testdata/sf0.001/part.parquet").select(
        "p_partkey", "p_brand"
    )
    plain = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .count()
        .collect()
    )
    salted = (
        salted_join(
            li.withColumnRenamed("l_partkey", "p_partkey"), part, on=["p_partkey"]
        )
        .groupBy("p_brand")
        .count()
        .collect()
    )
    assert {(r["p_brand"], r["count"]) for r in plain} == {
        (r["p_brand"], r["count"]) for r in salted
    }
