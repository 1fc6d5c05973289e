"""Benchmark harness — runs every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1), each from a cold start, and prints TWO
JSON lines:

  line 1: the full detail object (per-query times, anchor lines,
          methodology) — also written to BENCH_DETAIL.json next to this
          file.
  line 2 (FINAL): a compact metrics object (metric, value,
          anchor_subset_total, anchor ratio, reps, sf, 12 slowest
          queries) kept under 1.5 kB, so a reader that keeps only the
          tail of stdout still gets it whole.

Execution is forced with a noop datasource write (full pipeline runs on
executors, nothing collects to the driver), which is what a sink-bound
production job looks like.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from eligibility_etl_airflow_spark import registry
from eligibility_etl_airflow_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# best-of-N damps the single-machine contention noise documented in
# SCALING.md; min-of-reps is the standard steady-state estimator
REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2"))

# The 61 queries registered in round 1 (recovered from the registry at the
# round-1 snapshot commit, 5fa23a0~1; BENCH_r01 total 84.2918 s at sf0.1).
# The raw suite total grows with the registry, so it measures coverage,
# not engine speed. anchor_subset_total pins the SAME work across every
# round: the sum over exactly these 61 lines is the cross-round series.
ANCHOR_R1_QUERIES = (
    "age_birthday_corrected", "anti_join_resume", "approx_distinct_sketch",
    "asof_join_events", "beneficiary_enrichment", "business_rule_updates",
    "coalesce_key_join", "date_rollup_daily", "dedup_exact_hash",
    "dedup_minhash_lsh", "dedup_simhash", "distinct_key_set",
    "doc_fingerprint", "dropna_filters", "duplicate_detection_label",
    "eligibility_flagship", "eligibility_quality_gate",
    "embedding_neardup_pairs", "fhir_extract_bundle", "fhir_find_keys_udf",
    "global_topk_orders", "grouped_multi_agg", "json_field_extract",
    "keep_last_dedup", "kpi_scalar_aggs", "lang_id_heuristic",
    "latest_order_dense_rank", "latest_order_row_number",
    "llm_predictions_pipeline", "multi_format_date_parse",
    "multimodal_features", "ngram_jaccard_pairs", "percentile_stats",
    "pii_redaction", "predicates_in_like_window", "predictions_auto_reject",
    "pricing_summary_sql", "range_join_events", "regex_text_ops",
    "rest_enrichment_pipeline", "resubmission_flagship", "rollup_revenue",
    "running_total_window", "salted_join_skew", "semi_join_key_set",
    "similarity_topk_bruteforce", "similarity_topk_ivf",
    "similarity_topk_lsh", "split_explode_keys", "stratified_sample",
    "stream_dedup_overlap", "stream_session_windows",
    "stream_sliding_270_240", "stream_stateful_running_spend",
    "stream_tumbling_daily", "string_agg_per_group", "struct_expand",
    "text_quality_scores", "tfidf_top_terms", "topk_frequency",
    "winnow_fingerprint_pairs",
)
ANCHOR_R1_TOTAL_SEC = 84.2918  # BENCH_r01 value at sf0.1, local[32]


def run_query(fn, spark, sf_dir: str) -> float:
    start = time.perf_counter()
    df = fn(spark, sf_dir)
    df.write.mode("overwrite").format("noop").save()
    return time.perf_counter() - start


def main() -> None:
    registry.load_all()
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # JVM/codegen warmup so q1 doesn't pay session startup.
    warm = registry.QUERIES["eligibility_flagship"]
    run_query(warm, spark, SF_DIR)

    # Every query starts cold: no relation in Spark's cache manager and
    # no Python-side memo (trained models, centroids — registry.
    # reset_memos), so each line is that query's standalone cost and
    # min-of-reps compares like with like.
    times: dict[str, float] = {}
    for _ in range(max(1, REPS)):
        for name in sorted(registry.QUERIES):
            spark.catalog.clearCache()
            registry.reset_memos()
            t = round(run_query(registry.QUERIES[name], spark, SF_DIR), 4)
            times[name] = min(times.get(name, t), t)
    anchor_times = {name: times[name] for name in sorted(ANCHOR_R1_QUERIES)}

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    anchor_lines = list(anchor_times.values())
    detail = {
        "metric": "engine_query_suite_detail",
        "value": round(sum(times.values()), 4),
        "unit": "sec",
        "queries": times,
        "anchor_queries": anchor_times,
        # SAME-WORK cross-round series: the pinned 61 round-1 queries'
        # lines. Compare THIS field against anchor_r1_total_sec.
        "anchor_subset_total": round(sum(anchor_lines), 4),
        "anchor_subset_n": len(anchor_lines),
        "anchor_r1_total_sec": ANCHOR_R1_TOTAL_SEC,
        "anchor_subset_queries": list(ANCHOR_R1_QUERIES),
        "reps": max(1, REPS),
        "methodology": (
            "best-of-N reps; every query starts cold (clearCache + "
            "registry.reset_memos before each), so each line is a "
            "standalone cost and a query's trained models are rebuilt "
            "in every run. contrastive_triplets' cost is quadratic in "
            "the LSH bucket cap (cap=32 here; the knob is documented in "
            "operators/contrastive.py). lang_id_learned trains inside "
            "the query, so its line carries a driver GD solve + bounded "
            "sample collect that a production caller pays once per "
            "model (sample_size=512 is its cost knob)"
        ),
        "sf": sf_val,
    }
    # line 1: full detail (and a sidecar file, so the per-query numbers
    # survive any stdout capture window)
    detail_json = json.dumps(detail)
    print(detail_json)
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"),
            "w",
        ) as fh:
            fh.write(detail_json + "\n")
    except OSError:
        pass  # read-only checkout: stdout line 1 still carries the detail

    # FINAL line: compact metrics only; it must fit whole in a ~2 kB tail
    # of stdout, where a reader parses the last line.
    total = round(sum(times.values()), 4)
    anchor_total = round(sum(anchor_lines), 4)
    slowest = dict(sorted(times.items(), key=lambda kv: -kv[1])[:12])
    compact = {
        "metric": "engine_query_suite_total",
        "value": total,
        "unit": "sec",
        "sf": sf_val,
        "n_queries": len(times),
        "reps": max(1, REPS),
        "anchor_subset_total": anchor_total,
        "anchor_subset_n": len(anchor_lines),
        "anchor_r1_total_sec": ANCHOR_R1_TOTAL_SEC,
        "anchor_ratio": round(anchor_total / ANCHOR_R1_TOTAL_SEC, 4),
        "queries": slowest,
        "queries_note": "12 slowest of the full suite; all per-query "
        "times + methodology are on the preceding stdout line and in "
        "BENCH_DETAIL.json",
    }
    # keep the line under that ~2 kB tail: shed slowest-query entries
    # rather than aborting AFTER the whole suite already ran (an assert
    # here would lose the run's numbers — and vanish under python -O)
    out = json.dumps(compact)
    while len(out) >= 1500 and compact["queries"]:
        dropped = list(compact["queries"])[-1]
        del compact["queries"][dropped]
        compact["queries_note"] = (
            f"{len(compact['queries'])} slowest (truncated to fit the "
            "line cap); full detail in BENCH_DETAIL.json"
        )
        print(
            f"bench: compact line over 1500 B, dropping {dropped}",
            file=sys.stderr,
        )
        out = json.dumps(compact)
    print(out)


if __name__ == "__main__":
    main()
