"""Session table catalog contract (sources.resolve_table): a parquet
footer is resolved once per SparkContext and file identity, a rewritten
file is re-resolved, declared column types are enforced, and the
declared schemas match the footers Spark resolves."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from retail_sales_project_bigdata_spark.schemas import TESTDATA_SCHEMAS
from retail_sales_project_bigdata_spark.sources import read_table
from tests.conftest import SF_SMALL, TABLES

BENCH_SF = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "perfbench",
    "data",
    "sf0.01",
)


def _jobs_started(spark, fn, group: str) -> int:
    """Spark jobs ``fn`` starts on this thread, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_read_starts_no_job(spark, tmp_path):
    sf_dir = str(tmp_path)
    shutil.copy(os.path.join(SF_SMALL, "nation.parquet"), sf_dir)
    first = _jobs_started(
        spark, lambda: read_table(spark, sf_dir, "nation"), "catalog-first"
    )
    second = _jobs_started(
        spark, lambda: read_table(spark, sf_dir, "nation"), "catalog-second"
    )
    assert first >= 1  # the counter sees the footer-inference job
    assert second == 0
    # a fresh relation per call: a self-join still resolves both sides
    a = read_table(spark, sf_dir, "nation", broadcast_dims=False)
    b = read_table(spark, sf_dir, "nation", broadcast_dims=False)
    assert a.join(b, a["n_nationkey"] == b["n_regionkey"]).count() > 0


def test_rewritten_file_is_re_resolved(spark, tmp_path):
    sf_dir = str(tmp_path)
    path = os.path.join(sf_dir, "nation.parquet")
    cols = {
        "n_nationkey": pa.array([1, 2], type=pa.int32()),
        "n_name": pa.array(["A", "B"]),
        "n_regionkey": pa.array([0, 0], type=pa.int32()),
    }
    pq.write_table(pa.table(cols), path)
    assert read_table(spark, sf_dir, "nation").columns == list(cols)
    pq.write_table(pa.table({**cols, "n_comment": pa.array(["x", "y"])}), path)
    df = read_table(spark, sf_dir, "nation")
    assert df.columns == [*cols, "n_comment"]
    assert sorted(r.n_comment for r in df.collect()) == ["x", "y"]


def test_drifted_column_type_raises(spark, tmp_path):
    sf_dir = str(tmp_path)
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array([1], type=pa.int64()),
                "l_shipdate": pa.array(["1995-01-01"]),
            }
        ),
        os.path.join(sf_dir, "lineitem.parquet"),
    )
    with pytest.raises(ValueError, match="l_shipdate") as err:
        read_table(spark, sf_dir, "lineitem")
    assert "lineitem" in str(err.value)
    assert "string" in str(err.value) and "timestamp_ntz" in str(err.value)


def test_two_column_documents_corpus_reads(spark, tmp_path):
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        [(1, "a b"), (2, "c d")], "doc_id long, text string"
    ).write.parquet(os.path.join(sf_dir, "documents.parquet"))
    for _ in range(2):
        df = read_table(spark, sf_dir, "documents")
        assert df.columns == ["doc_id", "text"]
        assert df.count() == 2


@pytest.mark.parametrize("table", TABLES)
def test_declared_schema_equals_footer(spark, table):
    footer = spark.read.parquet(os.path.join(BENCH_SF, f"{table}.parquet"))
    assert footer.schema == TESTDATA_SCHEMAS[table]
