"""Schema-explicit source readers: FAILFAST drift detection and the
PERMISSIVE quarantine pattern."""

from __future__ import annotations

import pytest

from eligibility_etl_airflow_spark.sources import readers


@pytest.fixture
def csv_dir(tmp_path):
    p = tmp_path / "in.csv"
    p.write_text("k,v,amt\n1,a,10.5\n2,b,20.0\n3,c,oops\n")
    return str(p)


def test_read_csv_failfast_raises_on_drift(spark, csv_dir):
    df = readers.read_csv(spark, csv_dir, "k LONG, v STRING, amt DOUBLE")
    with pytest.raises(Exception):  # FAILFAST surfaces the bad record
        df.collect()


def test_read_csv_quarantine_captures_bad_rows(spark, csv_dir):
    df = readers.read_csv_quarantine(spark, csv_dir, "k LONG, v STRING, amt DOUBLE")
    rows = df.collect()
    good = [r for r in rows if r._corrupt_record is None]
    bad = [r for r in rows if r._corrupt_record is not None]
    assert len(good) == 2 and len(bad) == 1
    assert "oops" in bad[0]._corrupt_record


def test_read_json_schema_explicit(spark, tmp_path):
    p = tmp_path / "in.json"
    p.write_text('{"k": 1, "v": "x"}\n{"k": 2, "v": "y"}\n')
    df = readers.read_json(spark, str(p), "k LONG, v STRING")
    assert {(r.k, r.v) for r in df.collect()} == {(1, "x"), (2, "y")}


def test_read_jdbc_builds_partitioned_reader(spark):
    # no DB in this environment: assert the option plumbing only
    reader = readers.read_jdbc(
        spark,
        url="jdbc:sqlserver://example:1433;databaseName=dwh",
        query="SELECT 1 AS one",
        partition_column="one",
        lower_bound=0,
        upper_bound=100,
        num_partitions=4,
    )
    assert reader is not None


def test_jdbc_options_plain_query():
    opts = readers.jdbc_options(
        url="jdbc:sqlserver://example:1433;databaseName=dwh",
        query="SELECT a, b FROM t WHERE x > 5",
        driver="com.microsoft.sqlserver.jdbc.SQLServerDriver",
        fetch_size=5000,
    )
    assert opts == {
        "url": "jdbc:sqlserver://example:1433;databaseName=dwh",
        "query": "SELECT a, b FROM t WHERE x > 5",
        "driver": "com.microsoft.sqlserver.jdbc.SQLServerDriver",
        "fetchsize": "5000",
    }


def test_jdbc_options_partitioned_rewrites_query_to_dbtable():
    # Spark rejects query+partitionColumn together; the builder must
    # emit the dbtable-subquery form with all four partition options
    opts = readers.jdbc_options(
        url="jdbc:postgresql://h/db",
        query="SELECT id, v FROM t",
        partition_column="id",
        lower_bound=0,
        upper_bound=1000,
        num_partitions=16,
    )
    assert "query" not in opts
    assert opts["dbtable"] == "(SELECT id, v FROM t) spark_subq"
    assert opts["partitionColumn"] == "id"
    assert (opts["lowerBound"], opts["upperBound"]) == ("0", "1000")
    assert opts["numPartitions"] == "16"


def test_jdbc_options_partition_requires_bounds():
    with pytest.raises(ValueError, match="bound"):
        readers.jdbc_options(
            url="jdbc:postgresql://h/db",
            query="SELECT id FROM t",
            partition_column="id",
        )


def test_read_jdbc_roundtrip_against_embedded_derby(spark):
    """REAL JDBC integration: Spark ships Derby jars (metastore
    dependency), so the S1 path runs end-to-end against an in-memory
    database — write via the JDBC sink, read back via read_jdbc with
    query pushdown, then a bounds-partitioned parallel read. Derby
    uppercases unquoted identifiers, hence the quoted column names."""
    url = "jdbc:derby:memory:engine_test;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    df = spark.range(0, 100).selectExpr("id", "cast(id % 7 as double) as v")
    (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", "t_roundtrip")
        .option("driver", driver)
        .mode("overwrite")
        .save()
    )

    pushed = readers.read_jdbc(
        spark,
        url,
        'SELECT "id", "v" FROM t_roundtrip WHERE "id" < 10',
        driver=driver,
    ).load()
    assert pushed.count() == 10
    assert {r.id for r in pushed.collect()} == set(range(10))

    parallel = readers.read_jdbc(
        spark,
        url,
        'SELECT "id", "v" FROM t_roundtrip',
        driver=driver,
        partition_column='"id"',
        lower_bound=0,
        upper_bound=100,
        num_partitions=4,
    ).load()
    # the range-partitioned read really splits into num_partitions cursors
    assert parallel.rdd.getNumPartitions() == 4
    assert parallel.count() == 100
    got = {(r.id, r.v) for r in parallel.collect()}
    assert got == {(i, float(i % 7)) for i in range(100)}


def test_catalog_keeps_one_relation_per_rewritten_path(spark, sf_dir, tmp_path):
    """A table rewritten in place three times in one session leaves one
    relation-cache entry for its path, and every read sees the new rows."""
    import os

    import pyarrow.parquet as pq

    from eligibility_etl_airflow_spark import catalog

    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    path = tmp_path / "documents.parquet"
    for n in (10, 20, 30):
        pq.write_table(docs.slice(0, n), path)
        assert catalog.Catalog(spark, str(tmp_path)).documents.count() == n
    entries = catalog._RELATION_CACHE[spark]
    assert sum(str(path) in str(key) for key in entries) == 1
