"""Medical-predictions pipeline plans (SURVEY.md §2.10, §3.3).

The reference's prediction flow per visit: auto-reject short-circuits
(missing diagnosis G2, duplicate services G3, predictions.py:209-253),
LLM call + JSON parse + validate (G4), merge-back with Approved fallback
(G6). Here: orders ≙ visits, lineitems ≙ claimed services.

The LLM transport is a deterministic mock (SURVEY.md §7.8 — external-call
determinism), which makes the *entire* applyInPandas pipeline oracle-
checkable: the DuckDB twin states the mock's business rule directly, so a
hash match proves the group assembly → LLM → repair ladder → validate →
merge plumbing end-to-end.
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from eligibility_etl_airflow_spark.catalog import Catalog
from eligibility_etl_airflow_spark.functions.json_repair import repair_json
from eligibility_etl_airflow_spark.operators.external import (
    RetryPolicy,
    llm_cost_totals,
    llm_per_group,
    rest_enrich,
)
from eligibility_etl_airflow_spark.operators.transports import ChatResult
from eligibility_etl_airflow_spark.registry import query

# --------------------------------------------------------------------------
# G2/G3 — auto-reject rewrites as pure column logic (no LLM call needed)
# --------------------------------------------------------------------------

AUTO_REJECT_ORACLE = """
SELECT order_id, part_id, line_no, auto_label FROM (
  SELECT l_orderkey AS order_id,
         l_partkey AS part_id,
         l_linenumber AS line_no,
         CASE
           WHEN max(CASE WHEN l_discount >= 0.10 THEN 1 ELSE 0 END)
                OVER (PARTITION BY l_orderkey) = 1
             THEN 'Diagnosis was not found'
           WHEN l_linestatus = 'O'
            AND ROW_NUMBER() OVER (PARTITION BY l_orderkey, l_partkey, l_quantity
                                   ORDER BY l_linenumber ASC, l_suppkey ASC) > 1
             THEN 'Duplicated Service'
           ELSE 'ok'
         END AS auto_label
  FROM lineitem
)
"""


@query("predictions_auto_reject", oracle=AUTO_REJECT_ORACLE)
def predictions_auto_reject(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2/G3: the reference's per-visit Python short-circuits
    (predictions.py:209-217, 244-253) as two window expressions —
    group-wide flag broadcast via max() over the visit window, duplicate
    detection via keep-first row_number. One shuffle, no driver loops."""
    l = Catalog(spark, sf_dir).lineitem
    visit_w = Window.partitionBy("l_orderkey")
    dup_w = Window.partitionBy("l_orderkey", "l_partkey", "l_quantity").orderBy(
        F.asc("l_linenumber"), F.asc("l_suppkey")
    )
    missing_diag = F.max(F.when(F.col("l_discount") >= 0.10, 1).otherwise(0)).over(visit_w)
    return l.select(
        F.col("l_orderkey").alias("order_id"),
        F.col("l_partkey").alias("part_id"),
        F.col("l_linenumber").cast("int").alias("line_no"),
        F.when(missing_diag == 1, "Diagnosis was not found")
        .when(
            (F.col("l_linestatus") == "O") & (F.row_number().over(dup_w) > 1),
            "Duplicated Service",
        )
        .otherwise("ok")
        .alias("auto_label"),
    )


# --------------------------------------------------------------------------
# G1+G4+G6 — the full per-visit LLM pipeline with a deterministic mock
# --------------------------------------------------------------------------

# Mock LLM business rule (what the "model" decides):
#   qty > 49  → reason contains "approved" → dropped by validate_outcome
#               (predictions.py:179-191) → row ends Approved
#   qty > 45  → "Quantity exceeds limit" → Rejected
# Response text format cycles by order key to exercise the repair ladder:
#   0: clean JSON   1: ```json fenced   2: chatty prefix/suffix garbage

_REASON_LIMIT = "Quantity exceeds limit"
_REASON_APPROVED = "pre-approved quantity"


def _mock_llm_respond(group: pd.DataFrame) -> ChatResult:
    rejected = {}
    n_flagged = 0
    for row in group.itertuples():
        if row.quantity > 49:
            rejected[row.service_uid] = _REASON_APPROVED
            n_flagged += 1
        elif row.quantity > 45:
            rejected[row.service_uid] = _REASON_LIMIT
            n_flagged += 1
    body = json.dumps({"Rejected": rejected})
    okey = int(group["order_id"].iloc[0])
    if okey % 3 == 1:
        text = f"```json\n{body}\n```"
    elif okey % 3 == 2:
        text = f"Sure! Here is the JSON you asked for: {body} — hope this helps."
    else:
        text = body
    # Deterministic token accounting (A9): the mock "charges" a fixed
    # per-service prompt cost and a per-rejected-entry response cost, so
    # the DuckDB oracle can state the counts with window expressions and
    # the hash match proves the token plumbing end-to-end.
    return ChatResult(
        text=text,
        input_tokens=3 + 7 * len(group),
        output_tokens=2 + 5 * n_flagged,
    )


def _parse_response(text: str) -> dict:
    obj = repair_json(text)
    rejected = obj.get("Rejected", {})
    # validate_outcome (predictions.py:179-191): drop entries whose reason
    # contains "approved" — the LLM saying approved inside Rejected is noise.
    return {k: v for k, v in rejected.items() if "approved" not in str(v).lower()}


_OUT_COLS = [
    "order_id", "service_uid", "part_id", "quantity",
    "prediction", "reason", "input_tokens", "output_tokens",
]


def _merge_batch(batch: pd.DataFrame, parsed: pd.Series) -> pd.DataFrame:
    # one vectorized merge per Arrow batch: each row looks its service_uid
    # up in its own group's rejected-map (G6 merge + Approved fallback).
    reasons = [
        None if (m is None or m.get("__failed__")) else m.get(uid)
        for uid, m in zip(batch["service_uid"], parsed)
    ]
    out = batch[["order_id", "service_uid", "part_id", "quantity"]].copy()
    out["reason"] = pd.Series(reasons, index=batch.index, dtype=object)
    out["prediction"] = ["Approved" if r is None else "Rejected" for r in reasons]
    # A9: the LLM is billed per CALL, not per row, so every row of a group
    # carries the same group-level counts; the rollup (llm_cost_metrics)
    # collapses to one row per group before summing.
    out["input_tokens"] = [
        0 if m is None or m.get("__failed__") else m.get("__input_tokens__", 0)
        for m in parsed
    ]
    out["output_tokens"] = [
        0 if m is None or m.get("__failed__") else m.get("__output_tokens__", 0)
        for m in parsed
    ]
    return out[_OUT_COLS]


LLM_PIPELINE_ORACLE = """
SELECT order_id, service_uid, part_id, quantity, prediction, reason,
       CAST(CASE WHEN needs_llm THEN 3 + 7 * n_services ELSE 0 END AS BIGINT)
         AS input_tokens,
       CAST(CASE WHEN needs_llm THEN 2 + 5 * n_flagged ELSE 0 END AS BIGINT)
         AS output_tokens
FROM (
  SELECT l_orderkey AS order_id,
         CAST(l_partkey AS VARCHAR) || ':' || CAST(l_suppkey AS VARCHAR)
           || ':' || CAST(l_linenumber AS VARCHAR) AS service_uid,
         l_partkey AS part_id,
         l_quantity AS quantity,
         CASE WHEN l_quantity > 45 AND l_quantity <= 49
              THEN 'Rejected' ELSE 'Approved' END AS prediction,
         CASE WHEN l_quantity > 45 AND l_quantity <= 49
              THEN 'Quantity exceeds limit' END AS reason,
         MAX(l_quantity) OVER (PARTITION BY l_orderkey) > 45 AS needs_llm,
         COUNT(*) OVER (PARTITION BY l_orderkey) AS n_services,
         SUM(CASE WHEN l_quantity > 45 THEN 1 ELSE 0 END)
           OVER (PARTITION BY l_orderkey) AS n_flagged
  FROM lineitem
)
"""


@query("llm_predictions_pipeline", oracle=LLM_PIPELINE_ORACLE)
def llm_predictions_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1/G4/G6: per-visit grouped LLM fan-out via applyInPandas with the
    mock transport + repair ladder + validate_outcome + merge-back.

    The oracle states the mock's rule in SQL, so parity proves the whole
    Python-boundary pipeline (grouping, response parsing across three
    malformed-text variants, approved-filter, Approved fallback). At scale
    this is one shuffle on the visit key; LLM latency is hidden by
    partition parallelism, not driver batching.

    Early pruning (the reference's own optimization, SURVEY.md §4): visits
    where no service can possibly be rejected skip the LLM entirely —
    predictions.py:209-253 short-circuits exactly this way. Only visits
    with max(quantity) > 45 take the Python path; the rest are labeled
    Approved in pure column expressions. At 100 TB this cuts the
    external-call fan-out to the fraction of visits that need it.
    """
    l = Catalog(spark, sf_dir).lineitem
    services = l.select(
        F.col("l_orderkey").alias("order_id"),
        F.concat_ws(
            ":",
            F.col("l_partkey").cast("string"),
            F.col("l_suppkey").cast("string"),
            F.col("l_linenumber").cast("string"),
        ).alias("service_uid"),
        F.col("l_partkey").alias("part_id"),
        F.col("l_quantity").alias("quantity"),
    )
    needs_llm = F.max("quantity").over(Window.partitionBy("order_id")) > 45
    services = services.withColumn("__needs_llm", needs_llm)
    llm_side = llm_per_group(
        services.filter(F.col("__needs_llm")).drop("__needs_llm"),
        group_col="order_id",
        respond=_mock_llm_respond,
        parse=_parse_response,
        result_schema=(
            "order_id long, service_uid string, part_id long, "
            "quantity double, prediction string, reason string, "
            "input_tokens long, output_tokens long"
        ),
        merge_batch=_merge_batch,
        retry=RetryPolicy(attempts=2, backoff_s=0.0),
    )
    approved_side = services.filter(~F.col("__needs_llm")).select(
        "order_id",
        "service_uid",
        "part_id",
        "quantity",
        F.lit("Approved").alias("prediction"),
        F.lit(None).cast("string").alias("reason"),
        F.lit(0).cast("long").alias("input_tokens"),
        F.lit(0).cast("long").alias("output_tokens"),
    )
    # no plan-level cache: the approved and LLM sides both read the
    # lineitem scan lazily, so AQE coalesces the Python fan-out's
    # shuffle partitions to a few tasks, and every run reads the current
    # file (a cached plan would also match a later run over a file
    # rewritten in place — same root path — and serve its stale rows)
    return llm_side.unionByName(approved_side)


# --------------------------------------------------------------------------
# A9 — token/cost rollup over the LLM pipeline (predictions.py:320-339)
# --------------------------------------------------------------------------

LLM_COST_ORACLE = """
SELECT CAST(SUM(input_tokens) AS BIGINT) AS total_input_tokens,
       CAST(SUM(output_tokens) AS BIGINT) AS total_output_tokens,
       CAST(SUM(input_tokens) + SUM(output_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(input_tokens) * 560 + SUM(output_tokens) * 1680 AS BIGINT)
         AS total_cost_nanousd
FROM (
  SELECT l_orderkey,
         CASE WHEN MAX(l_quantity) > 45 THEN 3 + 7 * COUNT(*) ELSE 0 END
           AS input_tokens,
         CASE WHEN MAX(l_quantity) > 45
              THEN 2 + 5 * SUM(CASE WHEN l_quantity > 45 THEN 1 ELSE 0 END)
              ELSE 0 END AS output_tokens
  FROM lineitem
  GROUP BY l_orderkey
)
"""


@query("llm_cost_metrics", oracle=LLM_COST_ORACLE)
def llm_cost_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 end-to-end: run the full LLM pipeline, collapse the per-row
    group-level token columns back to one row per CALL (the billing unit,
    reference predictions.py:320-339), then the exact nano-USD cost
    rollup. Partial-aggregatable throughout — two shuffles total (the
    pipeline's group key, then the rollup's), constant-size result.

    Registration note: this query RE-RUNS the pipeline, LLM fan-out
    included, because every registered query must be self-contained
    (the driver calls each in isolation) and the pipeline keeps no
    plan-level cache to share. Production callers should NOT do this:
    run the pipeline once, write its output relation (as
    ``pipelines.run_predictions_pipeline`` does), and roll costs up from
    the written relation with ``llm_cost_totals`` — two cheap
    partial-agg shuffles over already-written rows, with no duplicate
    LLM/transport work."""
    pipeline = llm_predictions_pipeline(spark, sf_dir)
    per_call = pipeline.groupBy("order_id").agg(
        F.max("input_tokens").alias("input_tokens"),
        F.max("output_tokens").alias("output_tokens"),
    )
    return llm_cost_totals(per_call)


# --------------------------------------------------------------------------
# S9/J5 — REST beneficiary enrichment with a deterministic mock transport
# --------------------------------------------------------------------------

REST_ENRICH_ORACLE = """
SELECT o.o_orderkey AS order_id,
       CAST(c.c_custkey AS BIGINT) AS customer_id,
       CASE WHEN c.c_custkey % 10 = 7 THEN 'Fail' ELSE 'Success' END AS api_status,
       CASE WHEN c.c_custkey % 10 = 7 THEN NULL
            ELSE 'INS-' || CAST(c.c_nationkey AS VARCHAR) END AS insurance_company,
       CASE WHEN c.c_custkey % 10 = 7 THEN NULL
            ELSE CAST(1990 + c.c_custkey % 30 AS BIGINT) END AS issue_year
FROM orders o
JOIN customer c ON c.c_custkey = o.o_custkey
"""


@query("rest_enrichment_pipeline", oracle=REST_ENRICH_ORACLE)
def rest_enrichment_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9/J5: the Beneficiary-API enrichment shape — dedup keys before the
    fan-out (unique iqamas, eligibility.py:217), mapInPandas enrichment
    with per-partition transport reuse, then the one-to-many merge back
    onto visits. The mock transport's rule is stated in the oracle."""
    cat = Catalog(spark, sf_dir)
    keys = cat.customer.select(
        F.col("c_custkey").cast("long").alias("customer_id"),
        F.col("c_nationkey").cast("long").alias("nation_id"),
    ).distinct()

    def transport_factory():
        def call(row: dict) -> dict:
            cid = row["customer_id"]
            if cid % 10 == 7:
                return {"customer_id": cid, "api_status": "Fail",
                        "insurance_company": None, "issue_year": None}
            return {
                "customer_id": cid,
                "api_status": "Success",
                "insurance_company": f"INS-{row['nation_id']}",
                "issue_year": 1990 + cid % 30,
            }

        return call

    enriched = rest_enrich(
        keys,
        transport_factory,
        output_schema=(
            "customer_id long, api_status string, "
            "insurance_company string, issue_year long"
        ),
    )
    orders = cat.orders.select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_custkey").cast("long").alias("customer_id"),
    )
    return orders.join(enriched, "customer_id", "inner").select(
        "order_id", "customer_id", "api_status", "insurance_company", "issue_year"
    )
