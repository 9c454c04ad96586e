"""Fixture table sources: ``load_table`` reads with a schema resolved
once per (application, path, listing, inference conf), and still reads
exactly what a bare ``spark.read.parquet`` reads."""

from __future__ import annotations

import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql.types import LongType

from conftest import SF_DIR

from reports_generator_spark.sources.tables import TABLES, load_table, table_schema


def _copy(tmp_path, name: str) -> str:
    shutil.copy(f"{SF_DIR}/{name}.parquet", tmp_path / f"{name}.parquet")
    return str(tmp_path)


def _jobs_of(spark, fn) -> list[int]:
    """Ids of the Spark jobs ``fn()`` submits from this thread."""
    sc = spark.sparkContext
    group = f"test-sources-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", TABLES)
def test_schema_matches_bare_read(spark, name):
    path = f"{SF_DIR}/{name}.parquet"
    bare = spark.read.parquet(path)
    assert table_schema(spark, path) == bare.schema
    if name != "events":  # load_table rescales the events nanos column
        assert load_table(spark, SF_DIR, name).schema == bare.schema


def test_second_load_submits_no_job(spark, tmp_path):
    d = _copy(tmp_path, "orders")
    assert _jobs_of(spark, lambda: load_table(spark, d, "orders"))
    assert _jobs_of(spark, lambda: load_table(spark, d, "orders")) == []


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    d = _copy(tmp_path, "nation")
    before = load_table(spark, d, "nation")
    assert "n_name" in before.columns
    pq.write_table(pa.table({"k": [1, 2, 3]}), f"{d}/nation.parquet")
    after = load_table(spark, d, "nation")
    assert after.columns == ["k"]
    assert after.count() == 3


def test_nanos_conf_change_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "nanos.parquet")
    pq.write_table(pa.table({"ts": pa.array([1_000], pa.timestamp("ns"))}), path)
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    old = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "true")
        assert isinstance(table_schema(spark, path)["ts"].dataType, LongType)
        spark.conf.set(conf, "false")
        # a cached LongType would be returned here; inference rejects nanos
        with pytest.raises(AnalysisException) as e:
            table_schema(spark, path)
        assert e.value.getCondition() == "PARQUET_TYPE_ILLEGAL"
    finally:
        spark.conf.set(conf, old)


def test_missing_path_raises_analysis_exception(spark, tmp_path):
    with pytest.raises(AnalysisException) as e:
        load_table(spark, str(tmp_path), "orders")
    assert e.value.getCondition() == "PATH_NOT_FOUND"


def test_self_join_of_two_loads_resolves(spark):
    a = load_table(spark, SF_DIR, "orders")
    b = load_table(spark, SF_DIR, "orders")
    joined = a.join(b, a.o_orderkey == b.o_orderkey).select(a.o_orderkey, b.o_custkey)
    assert joined.count() == a.count()
