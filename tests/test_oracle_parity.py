"""Every registered query must match its DuckDB oracle (driver's t2 gate)
and leave Spark's cache manager as empty as it found it."""

from __future__ import annotations

import pytest

from eligibility_etl_airflow_spark import registry
from tests.oracle_utils import assert_parity, run_oracle

registry.load_all()


@pytest.mark.parametrize("name", sorted(registry.QUERIES))
def test_query_parity(spark, sf_dir, name):
    spark.catalog.clearCache()
    sdf = registry.QUERIES[name](spark, sf_dir).toPandas()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        f"{name} left a relation in the cache manager"
    )
    if name not in registry.ORACLES:
        # rows-only check (non-SQL-expressible operator)
        assert sdf is not None
        return
    odf = run_oracle(registry.ORACLES[name], sf_dir)
    assert_parity(sdf, odf, name)


@pytest.mark.parametrize(
    "name",
    [
        "ngram_jaccard_pairs",
        "dedup_connected_components",
        "hybrid_retrieval_rrf",
        "merge_corpora_priority",
        "ngram_novelty_scores",
    ],
)
def test_query_reads_a_source_rewritten_in_place(spark, sf_dir, tmp_path, name):
    """Rerun in the same session, with no clearCache, after
    documents.parquet is rewritten in place with fewer rows: the result
    matches the oracle on the new file, not the first run's rows."""
    import shutil

    import pyarrow.parquet as pq

    src = tmp_path / "sf"
    shutil.copytree(sf_dir, src)
    registry.QUERIES[name](spark, str(src)).toPandas()
    docs = pq.read_table(src / "documents.parquet")
    pq.write_table(docs.slice(0, docs.num_rows // 2), src / "documents.parquet")
    sdf = registry.QUERIES[name](spark, str(src)).toPandas()
    assert_parity(sdf, run_oracle(registry.ORACLES[name], str(src)), name)
