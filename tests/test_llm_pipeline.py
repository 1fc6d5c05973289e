

def test_source_dup_diagnostics_planted(spark):
    """Planted sources: A duplicates itself, B echoes A (cross-source),
    C is clean — counts and rates pin each distinction."""
    import unittest.mock as mock

    from eligibility_etl_airflow_spark.plans.llm_pipeline import (
        source_dup_diagnostics,
    )

    rows = [
        (1, "shared article body one", "A"),
        (2, "shared article body one", "A"),    # self-dup within A
        (3, "unique piece alpha", "A"),
        (4, "shared article body one", "B"),    # cross-source echo of A
        (5, "unique piece beta", "B"),
        (6, "unique piece gamma", "C"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    with mock.patch(
        "eligibility_etl_airflow_spark.plans.llm_pipeline.Catalog"
    ) as cat:
        cat.return_value.documents = df
        out = {r["source"]: r for r in source_dup_diagnostics(spark, "x").collect()}
    a, b, c = out["A"], out["B"], out["C"]
    assert (a["n_docs"], a["n_unique_contents"]) == (3, 2)
    assert a["n_duplicated_docs"] == 2 and a["n_cross_source_docs"] == 2
    assert abs(a["dup_rate"] - round(2 / 3, 6)) < 1e-9
    assert (b["n_docs"], b["n_duplicated_docs"], b["n_cross_source_docs"]) == (2, 1, 1)
    assert (c["n_duplicated_docs"], c["n_cross_source_docs"]) == (0, 0)
    assert c["dup_rate"] == 0.0


def test_parquet_stamp_counts_each_part_file_once(tmp_path):
    """``part-*.snappy.parquet`` matches both of the stamp's globs; its
    size must enter the stamp once, not twice."""
    from eligibility_etl_airflow_spark.plans.llm_pipeline import _parquet_stamp

    parts = {
        "part-00000-a.snappy.parquet": b"x" * 100,
        "part-00001-b.snappy.parquet": b"y" * 37,
        "part-00002-c.c000": b"z" * 11,
    }
    for name, body in parts.items():
        (tmp_path / name).write_bytes(body)
    (tmp_path / "_SUCCESS").write_bytes(b"")
    _, size = _parquet_stamp(str(tmp_path))
    assert size == sum(len(b) for b in parts.values())
