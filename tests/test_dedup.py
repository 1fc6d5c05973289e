"""Deterministic dedup operators (operators/dedup.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from eligibility_etl_airflow_spark.operators import dedup


def test_keep_last_explicit_total_order(spark):
    df = spark.createDataFrame(
        [(1, "old", 1), (1, "new", 2), (2, "only", 1)], "k long, v string, ord long"
    )
    got = {r.k: r.v for r in dedup.keep_last(df, ["k"], [F.col("ord")]).collect()}
    assert got == {1: "new", 2: "only"}

    # the resubmission load's shape: request_date ties within a service, so
    # only the total order (request_date, request_id, sequence) fixes the
    # kept row — the same one at any partitioning
    rows = [
        (sid, "2024-01-02", rid, seq, f"{sid}/{rid}/{seq}")
        for sid in range(20)
        for rid in (7, 3, 9)
        for seq in (2, 1)
    ] + [(sid, "2024-01-01", 99, 9, "older") for sid in range(20)]
    claims = spark.createDataFrame(
        rows, "service_id long, request_date string, request_id long, sequence int, v string"
    )
    order = [F.col("request_date"), F.col("request_id"), F.col("sequence")]

    def kept(n_parts):
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(n_parts))
        try:
            out = dedup.keep_last(claims.repartition(n_parts), ["service_id"], order)
            return sorted((r.service_id, r.v) for r in out.collect())
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)

    assert kept(1) == kept(8) == [(sid, f"{sid}/9/2") for sid in range(20)]
