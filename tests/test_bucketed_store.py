"""Bucketed conditions store: the one-time write-side shuffle must buy
Exchange-free subject aggregations afterwards (the Spark analogue of
the reference's subject indexes)."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from eventhub_to_timescale_spark.sinks.conditions import (
    write_conditions_bucketed,
)


@pytest.fixture()
def conditions(spark):
    return spark.createDataFrame(
        [
            (datetime(2024, 1, 1, h), f"s{i % 7}", "p", "value", float(i))
            for i, h in ((i, i % 24) for i in range(500))
        ],
        "timestamp timestamp, measurement_subject string, "
        "measurement_publisher string, measurement_of string, "
        "measurement_number double",
    )


def test_bucketed_aggregation_has_no_exchange(spark, conditions, tmp_path):
    write_conditions_bucketed(
        conditions, "cond_bucketed_test", buckets=8, path=str(tmp_path / "cb")
    )
    try:
        agg = (
            spark.table("cond_bucketed_test")
            .groupBy("measurement_subject")
            .agg(F.avg("measurement_number").alias("avg_value"))
        )
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan  # bucket distribution satisfies groupBy
        # and the numbers are right
        rows = {r.measurement_subject: r.avg_value for r in agg.collect()}
        assert len(rows) == 7

        # unbucketed baseline DOES shuffle
        base = (
            conditions.groupBy("measurement_subject")
            .agg(F.avg("measurement_number"))
        )
        assert "Exchange" in base._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.sql("DROP TABLE IF EXISTS cond_bucketed_test")


def test_bucketed_join_has_no_exchange(spark, conditions, tmp_path):
    write_conditions_bucketed(
        conditions, "cond_bkt_a", buckets=8, path=str(tmp_path / "a")
    )
    write_conditions_bucketed(
        conditions.withColumn("measurement_number", F.col("measurement_number") * 2),
        "cond_bkt_b",
        buckets=8,
        path=str(tmp_path / "b"),
    )
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("cond_bkt_a").join(
            spark.table("cond_bkt_b").select(
                "measurement_subject", F.col("measurement_number").alias("x")
            ),
            on="measurement_subject",
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan  # co-bucketed join needs no shuffle
        assert j.count() > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS cond_bkt_a")
        spark.sql("DROP TABLE IF EXISTS cond_bkt_b")
