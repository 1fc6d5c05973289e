"""Physical-plan regression tests: the properties that matter at 100 TB
(scan pushdown, column pruning, broadcast dims, map-side partial
aggregation, no driver collects) asserted on the executed plans so a
refactor can't silently regress them."""

from __future__ import annotations

from eligibility_etl_airflow_spark import registry
from eligibility_etl_airflow_spark.catalog import Catalog

registry.load_all()


def _plan(spark, sf_dir, name):
    return registry.QUERIES[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()


def test_flagship_pushdown_and_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "eligibility_flagship")
    # date-window predicate reaches the orders scan
    assert "PushedFilters: [IsNotNull(o_orderdate)" in plan or "GreaterThanOrEqual(o_orderdate" in plan
    # dims broadcast, no sort-merge for the star
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_flagship_column_pruning(spark, sf_dir):
    plan = _plan(spark, sf_dir, "eligibility_flagship")
    # customer scan must not read every column (c_acctbal etc. unused)
    for line in plan.splitlines():
        if "ReadSchema" in line and "c_custkey" in line:
            assert "c_acctbal" not in line and "c_address" not in line
            break
    else:
        raise AssertionError("customer ReadSchema not found")


def test_aggregation_is_partial(spark, sf_dir):
    plan = _plan(spark, sf_dir, "string_agg_per_group")
    # two HashAggregates around the exchange = map-side partial agg
    assert plan.count("HashAggregate") >= 2 or plan.count("ObjectHashAggregate") >= 2


def test_semi_join_stays_semi(spark, sf_dir):
    plan = _plan(spark, sf_dir, "semi_join_key_set")
    assert "LeftSemi" in plan


def test_lineitem_scan_prunes_for_pricing_sql(spark, sf_dir):
    plan = _plan(spark, sf_dir, "pricing_summary_sql")
    for line in plan.splitlines():
        if "ReadSchema" in line and "l_returnflag" in line:
            assert "l_comment" not in line and "l_shipinstruct" not in line
            break
    else:
        raise AssertionError("lineitem ReadSchema not found")


def test_catalog_scan_is_lazy_and_columnar(spark, sf_dir):
    df = Catalog(spark, sf_dir).lineitem.select("l_orderkey")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FileScan parquet" in plan
    assert "l_comment" not in plan  # pruned at the scan


def test_shingle_stage_normalizes_exactly_once(spark, sf_dir):
    """Regression guard for the lambda-inlining bug: a scalar expression
    referenced inside a higher-order lambda is evaluated PER ELEMENT, so
    the regex normalize must appear exactly once in the optimized plan
    (staged as its own projection), never inside the transform lambda."""
    from eligibility_etl_airflow_spark.operators import neardup

    # cached relations from earlier tests would be substituted into any
    # matching sub-plan, hiding the expressions under test
    spark.catalog.clearCache()
    d = Catalog(spark, sf_dir).documents
    st = neardup.shingle_table(d, "doc_id", "text")
    plan = st._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("regexp_replace") == 1, plan


def test_winnow_normalizes_and_hashes_once(spark, sf_dir):
    """r11 contract: the default-xxhash64 winnowing runs as ONE numpy
    stage over the staged normalization — the regex normalize appears
    once, gram hashing + window minima live inside the MapInPandas (no
    JVM xxhash64 transform, no per-window array_min rebuild). The md5
    oracle twin keeps the column path (its own pin below)."""
    from pyspark.sql import functions as F

    from eligibility_etl_airflow_spark.operators import neardup

    spark.catalog.clearCache()
    d = Catalog(spark, sf_dir).documents
    fp = neardup.winnow_fingerprints(d, "doc_id", "text")
    plan = fp._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("regexp_replace") == 1, plan
    assert "mapinpandas" in plan.lower(), plan
    assert plan.count("xxhash64") == 0, plan
    # custom-hash callers (the DuckDB-graded md5 twin) keep the staged
    # column form: normalize once, hash array staged once
    fp_md5 = neardup.winnow_fingerprints(d, "doc_id", "text", hash_fn=F.md5)
    plan_md5 = fp_md5._jdf.queryExecution().optimizedPlan().toString()
    assert plan_md5.count("regexp_replace") == 1, plan_md5
    assert plan_md5.count("md5") == 1, plan_md5


def test_minhash_signature_stage_has_no_shuffle(spark, sf_dir):
    """Signatures are per-row — the Arrow map must run directly over the
    shingle staging's partitioning (exactly the one repartition the
    staging itself introduces for narrow inputs; no groupBy exchange)."""
    from eligibility_etl_airflow_spark.operators import neardup

    spark.catalog.clearCache()
    d = Catalog(spark, sf_dir).documents
    sigs = neardup.minhash_signatures(d, "doc_id", "text")
    plan = sigs._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 1, plan
    assert "HashAggregate" not in plan, plan


def test_embedding_neardup_reuses_cached_buckets(spark, sf_dir):
    """The bucketed relation feeds three consumers; it is materialized
    before the pair plan is built, so the plan scans it and never
    re-runs the hyperplane projection."""
    from eligibility_etl_airflow_spark.operators import similarity

    e = Catalog(spark, sf_dir).embeddings
    pairs = similarity.embedding_neardup_pairs(e, cosine_threshold=0.8, dim=64)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan, plan
    assert "ArrowEvalPython" not in plan, plan


def test_blocked_components_shuffle_budget(spark):
    """The blocked union-find tier is one Exchange (groupBy block) with
    validate=False — its whole point vs the iterative tier — and the
    default validated form adds exactly one more (the node-level guard
    aggregate), never a third."""
    from eligibility_etl_airflow_spark.operators import components

    pairs = spark.createDataFrame(
        [("b1", 1, 2), ("b2", 3, 4)], "block string, id_a long, id_b long"
    )

    def n_exchanges(df):
        return df._jdf.queryExecution().executedPlan().toString().count("Exchange")

    assert n_exchanges(
        components.connected_components_blocked(pairs, "block", validate=False)
    ) == 1
    assert n_exchanges(
        components.connected_components_blocked(pairs, "block")
    ) == 2


def test_packing_single_shuffle(spark):
    from eligibility_etl_airflow_spark.operators import packing

    df = spark.createDataFrame([(i, 10) for i in range(20)], "doc_id long, n_tokens long")
    plan = (
        packing.pack_sequences(df, "doc_id", "n_tokens", 100)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1, plan


def test_scd2_single_shuffle_shared_window_sort(spark, sf_dir):
    """Both windows (lag-compare, lead-close) partition on the same key
    with the same ordering — one Exchange, no re-sort between them."""
    plan = _plan(spark, sf_dir, "scd2_user_status")
    assert plan.count("Exchange") == 1, plan


def test_snapshot_diff_is_one_outer_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "snapshot_diff_cdc")
    assert "FullOuter" in plan
    # no driver-side or nested-loop fallback
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_segment_dedup_uses_aggregate_not_window(spark, sf_dir):
    """First-occurrence selection must be the skew-resistant min-struct
    AGGREGATE (partial-aggregated map-side), never a row_number window
    sorting the hot segment's whole partition."""
    from eligibility_etl_airflow_spark.catalog import Catalog
    from eligibility_etl_airflow_spark.operators import dedup as dedup_ops

    d = Catalog(spark, sf_dir).documents
    plan = (
        dedup_ops.dedup_repeated_segments(d, segment_tokens=16)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan
    # partial aggregation on the segment key: HashAggregate pairs exist
    assert plan.count("HashAggregate") >= 4


def test_bloom_prefilter_runs_in_scan_stage(spark, sf_dir):
    """The Bloom probe must land in the fact scan's stage: no Exchange
    between the parquet scan and the Arrow bit-test filter."""
    from pyspark.sql import functions as F

    from eligibility_etl_airflow_spark.catalog import Catalog
    from eligibility_etl_airflow_spark.operators import bloom

    cat = Catalog(spark, sf_dir)
    keys = cat.orders.limit(100).select("o_orderkey")
    sk = bloom.bloom_build(keys, "o_orderkey", expected_items=100)
    plan = (
        bloom.bloom_prefilter(cat.lineitem, "l_orderkey", sk)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan  # prefilter is map-only over the scan


def test_session_gap_windows_share_one_sort(spark, sf_dir):
    """The lag-gap flag and the running-sum id use the same
    (user_id, ts, event_id) ordering — Catalyst must plan ONE
    Exchange+Sort feeding both window passes, not two."""
    from eligibility_etl_airflow_spark.plans import analytics

    plan = (
        analytics.session_gap_events(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # one hashpartitioning exchange on user_id for the windows + one for
    # the final session aggregate; the two window passes add no extra
    assert plan.count("Exchange hashpartitioning") <= 2
    assert plan.count("Window") == 2  # both passes present, stacked


def test_cube_and_pivot_single_aggregate_shuffle(spark, sf_dir):
    from eligibility_etl_airflow_spark import diagnostics
    from eligibility_etl_airflow_spark.plans import analytics

    cube = diagnostics.plan_summary(analytics.cube_revenue(spark, sf_dir))
    assert cube.exchanges == 1  # Expand + partial agg -> one shuffle
    # multi-aggregate pivot is two-phase: the (priority, status) agg,
    # then the pivot fold whose shuffle moves only the cell grid
    pivot = diagnostics.plan_summary(analytics.pivot_status_matrix(spark, sf_dir))
    assert pivot.exchanges == 2


def test_bm25_broadcasts_stats_and_filters_before_aggregate(spark, sf_dir):
    plan = _plan(spark, sf_dir, "bm25_search")
    # df/N/avgdl scalars broadcast; postings never sort-merge
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # the query-term filter runs scan-side, BEFORE the postings
    # aggregate: the exploded-term Filter must list the literal terms
    assert "vector" in plan and "merge" in plan and "stream" in plan
    # map-side partial aggregation on the postings build
    assert plan.count("HashAggregate") >= 2
    # the postings lineage is consumed ONCE: dfreq is a window over the
    # restricted postings, not a second aggregate joined back (which
    # re-executed the corpus explode — exchange reuse does not cover the
    # differing subtrees). Exactly 3 corpus scans: postings explode,
    # doc-lengths join side, corpus-stats aggregate.
    assert plan.count("Scan parquet") == 3, plan


def test_tfidf_single_corpus_explode(spark, sf_dir):
    """Same single-consumption guard for TF-IDF: document frequency is a
    count window over the tf relation, not an aggregate joined back —
    exactly 2 corpus scans (the tokenize/explode and the n_docs count)."""
    plan = _plan(spark, sf_dir, "tfidf_top_terms")
    assert plan.count("Scan parquet") == 2, plan


def test_verify_joins_never_broadcast_array_sides(spark, sf_dir):
    """Round-7 scale-probe regression: Catalyst sizes a relation from
    its (compressed, pruned) scan bytes, but shingle/docset ARRAYS
    occupy ~50x that on the heap — so a corpus whose parquet sits under
    autoBroadcastJoinThreshold used to get its whole shingle relation
    BROADCAST in the exact-verification joins, and the build OOM'd the
    8g driver at a mere 100k docs. The verify joins now carry merge
    hints; this pins that no BroadcastExchange in any of these plans
    carries an array column (the surviving broadcasts are scalar
    token/prefix relations, which are sized correctly)."""
    from pyspark.sql import functions as F

    from eligibility_etl_airflow_spark.operators import neardup

    d = Catalog(spark, sf_dir).documents
    bench = d.filter(F.col("doc_id") % 97 == 0)
    # forbidden array columns per plan; the bipartite BENCH side (sh_b)
    # broadcasts deliberately — small by definition — so only its
    # corpus side (sh_c) is forbidden there
    plans = {
        "lsh_self": (
            neardup.minhash_lsh_pairs(d, "doc_id", "text"),
            ("sh_a#", "sh_b#", "shingles#"),
        ),
        "lsh_bipartite": (
            neardup.minhash_lsh_pairs_bipartite(d, bench),
            ("sh_c#",),
        ),
        "set_similarity": (
            neardup.set_similarity_join(
                d, "doc_id", "text", threshold=0.5, shingle_k=5
            ),
            ("t_a#", "t_b#", "toks#"),
        ),
        "containment": (
            neardup.containment_join(
                d, "doc_id", "text", threshold=0.8, shingle_k=3
            ),
            ("t_a#", "t_b#", "toks#"),
        ),
    }
    for name, (df, forbidden) in plans.items():
        broadcast_inputs = _broadcast_exchange_inputs(df)
        # lsh_self legitimately has ZERO broadcasts post-fix (every join
        # is the hinted merge); the other three keep deliberate scalar/
        # bench-side broadcasts, so their absence would mean the check
        # went vacuous
        if name != "lsh_self":
            assert broadcast_inputs, f"{name}: no BroadcastExchange — check vacuous"
        for inp in broadcast_inputs:
            hit = _attr_names(inp) & set(forbidden)
            assert not hit, (name, sorted(hit), inp[:300])


def _attr_names(input_line: str) -> set[str]:
    """Exact attribute names ('name#') on a formatted-plan Input line —
    substring checks would false-positive on names that merely end with
    a forbidden fragment (and 'v#' would match the legitimate 'cv#')."""
    import re

    return {m + "#" for m in re.findall(r"([A-Za-z_][A-Za-z0-9_]*)#\d+", input_line)}


def _broadcast_exchange_inputs(df) -> list[str]:
    """The "Input [n]: [cols…]" line of every BroadcastExchange in the
    FORMATTED plan. Formatted mode is load-bearing: the simple tree
    string does not list an exchange's columns, so a substring check on
    it cannot catch an array column on a broadcast build side."""
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    lines = buf.getvalue().splitlines()
    out = []
    for i, line in enumerate(lines):
        if line.strip().endswith("BroadcastExchange"):
            for nxt in lines[i + 1 : i + 4]:
                if nxt.strip().startswith("Input"):
                    out.append(nxt)
                    break
    return out


def test_embedding_joins_never_broadcast_corpus_array_sides(spark, sf_dir):
    """Round-8 extension of the array-broadcast guard to the ANN /
    semantic-dedup tier (VERDICT r7 Missing #2): similarity.py's verify
    joins and semdedup's assignment joins carry fixed-width embedding
    ARRAYS on the corpus side — the same Catalyst estimate-vs-heap class
    the round-7 20x probe caught for shingles (scan-bytes estimate,
    ~an-order-larger heap footprint). Deliberate broadcasts stay: the
    QUERY side (qvec — small by call contract), chunked survivors in
    pq_topk, bucket-size/over-cap scalar relations, centroids."""
    from pyspark.sql import functions as F

    from eligibility_etl_airflow_spark.operators import semdedup, similarity

    e = Catalog(spark, sf_dir).embeddings
    q = e.filter(F.col("vec_id") < 4)
    cents = spark.createDataFrame(
        [(0, [1.0] * 64), (1, [-1.0] * 64)], "label int, centroid array<double>"
    )
    # forbidden = corpus-side array columns per plan; query-side qvec
    # broadcasts are the documented deliberate ones
    plans = {
        "lsh_topk": (
            similarity.lsh_topk(e, q, dim=64, k=3, n_planes=4, n_tables=2),
            ("cvec#",),
        ),
        "ivf_topk": (
            similarity.ivf_topk(e, q, k=3, n_cells=4, nprobe=2),
            ("cvec#",),
        ),
        "pq_topk": (
            similarity.pq_topk(e, q, k=3, m=4, codes_k=8, refine=10),
            ("cvec#",),
        ),
        "embedding_neardup": (
            similarity.embedding_neardup_pairs(e, cosine_threshold=0.5, dim=64),
            ("va#", "vb#", "vec#"),
        ),
        "semantic_dedup": (
            semdedup.semantic_dedup_drops(
                e, "vec_id", "embedding", centroids=cents, eps=0.9
            ),
            ("v#",),
        ),
        "brute_force": (
            similarity.brute_force_topk(e, q, k=3),
            ("cvec#",),
        ),
    }
    for name, (df, forbidden) in plans.items():
        broadcast_inputs = _broadcast_exchange_inputs(df)
        # every plan here keeps at least one deliberate broadcast (query
        # side / scalar relation) — zero would mean the check went vacuous
        assert broadcast_inputs, f"{name}: no BroadcastExchange — check vacuous"
        for inp in broadcast_inputs:
            hit = _attr_names(inp) & set(forbidden)
            assert not hit, (name, sorted(hit), inp[:300])


def test_set_similarity_normalizes_and_splits_once(spark, sf_dir, monkeypatch):
    from eligibility_etl_airflow_spark.operators import neardup

    # the shingle relation is materialized before the join plan is built;
    # keep it lazy here so the plan shows the stages that compute it
    monkeypatch.setattr(neardup, "_stable", lambda df: df)
    d = Catalog(spark, sf_dir).documents
    plan = (
        neardup.set_similarity_join(d, "doc_id", "text", threshold=0.5, shingle_k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # r10: the word-shingle construction moved to a byte-sliced
    # mapInPandas stage (OPTIMIZATION_r10.md entry 29), so the pin is
    # re-scoped: the normalize regexp must still be a STAGED projection
    # feeding the Python stage (never re-evaluated inside any HOF
    # lambda), and the shingle stage itself must be the MapInPandas.
    for line in plan.splitlines():
        if "lambdafunction" in line:
            assert "regexp_replace" not in line and "split(" not in line, line[:300]
    assert "MapInPandas" in plan, "byte-sliced shingle stage missing"
    staged = [
        line
        for line in plan.splitlines()
        if "regexp_replace" in line and "AS _norm#" in line
    ]
    assert staged, "staged normalized-text projection not found in plan"


def test_decontamination_stages_token_array(spark, sf_dir):
    plan = _plan(spark, sf_dir, "decontamination_overlap")
    # corpus side: one broadcast join, no shuffle before the per-doc agg
    assert "BroadcastHashJoin" in plan
    # token split happens in a staged projection, once per row — the
    # n-gram lambda must reference the attribute, not re-split; the
    # split expression shows up a bounded number of times (corpus side
    # + broadcast bench side), not once per n-gram construction step
    assert plan.count("split(lower") <= 4, plan.count("split(lower")


def test_semantic_dedup_assignment_is_map_only(spark, sf_dir):
    plan = _plan(spark, sf_dir, "semantic_dedup_label")
    # r9 E-step shape: assignment is an Arrow matmul map (centroid
    # matrix in the closure) — NO crossJoin row blow-up over the corpus
    # (the old BroadcastNestedLoopJoin form materialized and shuffled
    # n × k scored rows, which under auto-k is n²/target), and never a
    # CartesianProduct
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # TWO Arrow maps do the work — the assignment matmul + the
    # per-cluster compare. The assignment is materialized once before
    # the plan is built (it prints as a scan of the materialized rows),
    # so the plan itself holds only the compare; a second MapInPandas
    # would mean a new Python stage crept into the tier
    assert "ExistingRDD" in plan
    assert plan.count("MapInPandas") == 1
    assert "BatchEvalPython" not in plan


def test_quality_scoring_is_map_only_no_python(spark, sf_dir):
    plan = _plan(spark, sf_dir, "quality_classifier_scores")
    # r10 scoring shape: the weight vector ships as an array literal and
    # z folds per doc in one higher-order aggregate — the whole scoring
    # plan is Scan → Project: NO shuffle, NO join of any kind (the old
    # shape was explode → (id,bucket) agg shuffle → broadcast weight
    # join → per-doc sum shuffle → corpus-wide left join)
    for node in ("Exchange", "Join", "HashAggregate", "Generate"):
        assert node not in plan, node
    # and still pure JVM arithmetic — no Python islands at all
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas"):
        assert node not in plan, node


def test_dsir_topk_is_take_ordered_no_force_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "dsir_selection")
    # the k-row selection is per-partition heaps + a k-row merge,
    # never a global sort
    assert "TakeOrderedAndProject" in plan
    # vocabulary relations are joined under AQE's size decision — the
    # operator must not force-broadcast a corpus-dependent vocabulary
    # (the bigram-model lesson); pure JVM throughout
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, node


def test_token_shards_no_single_partition_window(spark, sf_dir):
    plan = _plan(spark, sf_dir, "balanced_token_shards")
    # the running sum is partition-local (partitionBy spark_partition_id);
    # a Window with an empty partition spec would collapse the corpus
    # into one task
    import re

    for m in re.finditer(r"Window \[[^\]]*\], \[([^\]]*)\]", plan):
        assert m.group(1).strip(), f"global (single-partition) window in plan: {m.group(0)}"
    assert "SinglePartition" not in plan


def test_semantic_decontam_is_map_only_matmul(spark, sf_dir):
    plan = _plan(spark, sf_dir, "semantic_decontam_flags")
    # r10 shape: delegates to nearest_centroid_assign — the benchmark
    # matrix ships in the task closure and each Arrow batch computes
    # one numpy matmul + argmax. NO pair-grain join of any kind and no
    # shuffle beyond the parallelism stage: the corpus is scanned,
    # spread, scored map-side.
    for node in ("BroadcastNestedLoopJoin", "CartesianProduct", "Join"):
        assert node not in plan, node
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan


def test_blocklist_is_map_only_no_exchange(spark, sf_dir):
    plan = _plan(spark, sf_dir, "blocklist_filter")
    # one compiled alternation, fused into the scan: no shuffle, no
    # explode, no Python worker anywhere in the plan
    assert "Exchange" not in plan
    assert "Generate" not in plan  # no explode
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_html_strip_is_map_only_no_exchange(spark, sf_dir):
    plan = _plan(spark, sf_dir, "html_text_extract")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_script_profile_is_map_only_no_exchange(spark, sf_dir):
    plan = _plan(spark, sf_dir, "script_profile_mixed")
    assert "Exchange" not in plan
    assert "Generate" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_url_parse_is_map_only_and_rollup_is_partial(spark, sf_dir):
    plan = _plan(spark, sf_dir, "url_components_parse")
    assert "Exchange" not in plan
    plan = _plan(spark, sf_dir, "url_domain_stats")
    # domain rollup: exactly the aggregate exchanges (partial-agg pairs),
    # never a join or Python boundary
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 2 or plan.count("ObjectHashAggregate") >= 2


def test_line_dedup_frequent_lines_stay_bounded(spark, sf_dir):
    plan = _plan(spark, sf_dir, "line_dedup_boilerplate")
    # the frequent-line relation (bounded by |lines|/threshold) must come
    # back as a broadcast probe, not a sort-merge of the full line table
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_robots_admission_has_no_window_and_partial_winner_agg(spark, sf_dir):
    """robots_url_filter resolves the winning rule with a
    partial-aggregatable max(struct), never a window over the page-sized
    side — a domain holding most of the frontier is not a hotspot."""
    plan = _plan(spark, sf_dir, "robots_url_filter")
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final winner agg
    assert "BroadcastHashJoin" in plan  # rules relation broadcast here


def test_frontier_schedule_window_is_domain_partitioned(spark, sf_dir):
    """The politeness window partitions by domain (the minimal grain) —
    never a global (empty-partition) window."""
    plan = _plan(spark, sf_dir, "frontier_schedule")
    assert "Window" in plan
    for line in plan.splitlines():
        if "Window" in line and "row_number" in line:
            # partition key is the computed domain (_dom); an empty
            # partitionBy would show 'windowspecdefinition(url' instead
            assert "_dom" in line, line
            break
    else:
        raise AssertionError("row_number window not found")


def test_pca_moment_aggregation_is_one_generic_aggregate(spark, sf_dir):
    """fit_pca aggregates the flat moment vector via posexplode + ONE
    generic sum — d²+d generated sum expressions would blow codegen
    (measured: 19 s -> 4 s at d=64). Pin: the moment plan carries a
    single Generate (posexplode) and partial aggregation."""
    from eligibility_etl_airflow_spark.operators import pca as pca_ops
    from pyspark.sql import functions as F

    e = Catalog(spark, sf_dir).embeddings
    import pandas as pd  # noqa: F401  (worker dep of the moment pass)

    # rebuild the internal moment relation the same way fit_pca does
    def moments(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            vecs = [v for v in pdf["embedding"] if v is not None and len(v) > 0]
            if not vecs:
                continue
            x = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
            m = np.concatenate(([float(x.shape[0])], x.sum(axis=0), (x.T @ x).ravel()))
            yield pd.DataFrame({"d": [int(x.shape[1])], "m": [m.tolist()]})

    rel = (
        e.select("embedding")
        .mapInPandas(moments, "d int, m array<double>")
        .select("d", F.posexplode("m").alias("i", "v"))
        .groupBy("d", "i")
        .agg(F.sum("v").alias("v"))
    )
    plan = rel._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Generate") == 1
    assert plan.count("HashAggregate") >= 2


def test_duplicate_spans_plan_no_resplit_and_partial_count(spark, sf_dir):
    """The occurrence count must be a partial-aggregatable groupBy on
    the window key (a hot window collapses map-side), the tokens array
    must be an attribute inside the HOF lambda (no per-element
    re-split), and the only Window is the per-doc gap-and-island
    chain."""
    from eligibility_etl_airflow_spark.operators import dedup as dedup_ops

    d = Catalog(spark, sf_dir).documents
    df = dedup_ops.duplicate_spans(d)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    for line in opt.split("\n"):
        if "lambdafunction" in line:
            lam = line.split("lambdafunction", 1)[1]
            assert "split(" not in lam and "regexp" not in lam, line
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert phys.count("Window") == 1          # the per-doc chain only
    assert phys.count("HashAggregate") >= 4   # partial+final count pairs


def test_softmax_lang_scoring_is_join_free_codegen(spark, sf_dir):
    """score_softmax (r10): the weight lookup is element_at on literal
    arrays inside a codegen aggregate — NO broadcast weight relation,
    NO K-row class expansion, NO Python; the only join left is the
    single left-attach of per-doc logits back to the id universe
    (gram-less docs must still score the bias softmax). The old shape
    carried a (bucket, class, weight) broadcast join plus a crossJoin
    class grid plus two more joins."""
    from eligibility_etl_airflow_spark.operators import quality_model as qm

    d = Catalog(spark, sf_dir).documents.limit(200)
    model = qm.train_softmax_classifier(
        d, "doc_id", "text", "lang", dim=256, sample_size=64, iters=10
    )
    plan = (
        qm.score_softmax(Catalog(spark, sf_dir).documents, "doc_id", "text", model)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for node in ("BatchEvalPython", "ArrowEvalPython", "CartesianProduct",
                 "BroadcastNestedLoopJoin"):
        assert node not in plan, f"score_softmax plan grew a {node}:\n{plan[:2000]}"
    # one attach join, not the old four-join ladder
    assert plan.count("Join") <= 1, plan[:2000]
    # gram count + per-doc dot sums stay partial-aggregated codegen pairs
    assert plan.count("HashAggregate") >= 4


def test_frequent_ngrams_topk_is_take_ordered_not_global_sort(spark, sf_dir):
    """The top-k must plan as TakeOrderedAndProject (bounded driver
    traffic), never a global Sort, and the occurrence count must be a
    partial-aggregate pair."""
    from eligibility_etl_airflow_spark.plans.training_prep import (
        frequent_ngrams_q,
    )

    plan = (
        frequent_ngrams_q(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert plan.count("HashAggregate") >= 2


def test_mojibake_metrics_is_map_only_no_exchange(spark, sf_dir):
    from eligibility_etl_airflow_spark.operators import text as text_ops

    d = Catalog(spark, sf_dir).documents
    plan = (
        text_ops.mojibake_metrics(d, "doc_id", "text")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan and "BatchEvalPython" not in plan


def test_no_registered_query_uses_row_python_except_the_honest_udf(spark, sf_dir):
    """Global scale-discipline sweep: the physical plan of EVERY
    registered query must be free of row-at-a-time Python
    (BatchEvalPython) — Arrow-batched islands are the only permitted
    Python boundary — except fhir_find_keys_udf, whose recursive
    find_keys is the engine's one documented scalar UDF (N7 parity).
    Catches any future query accidentally landing on the slow path."""
    from eligibility_etl_airflow_spark import registry
    from eligibility_etl_airflow_spark.diagnostics import plan_summary

    registry.load_all()
    allowed_row_python = {"fhir_find_keys_udf"}
    offenders = []
    for name in sorted(registry.QUERIES):
        df = registry.QUERIES[name](spark, sf_dir)
        s = plan_summary(df)
        if s.batch_eval_python > 0 and name not in allowed_row_python:
            offenders.append(name)
    assert not offenders, f"row-at-a-time Python in: {offenders}"


def test_python_signature_stages_are_parallelized(spark, sf_dir):
    """The r8 dedup_simhash watch item: a small single-file scan feeds
    the signature mapInPandas as ONE partition, so the whole Python
    stage ran as one single-threaded task (43.8 s cold vs 2.3 s at 32
    on identical sf0.1 data). ensure_parallelism (operators/parallel.py)
    must spread every raw-scan Python stage — pinned here on the plan:
    a round-robin exchange appears below the Python eval."""
    import re

    for name in ("dedup_simhash", "multimodal_features", "similarity_topk_pq"):
        plan = _plan(spark, sf_dir, name)
        assert re.search(r"Exchange RoundRobinPartitioning", plan), (
            f"{name}: no repartition before its Python stage — the "
            "signature/synth/encode work would run single-threaded on a "
            "narrow scan (ensure_parallelism dropped?)"
        )
