"""The parquet schema cache behind ``load_table``: a warm read of an
unchanged table runs no Spark job and still returns what a bare
``spark.read.parquet`` returns; a rewrite or a type-mapping conf change
infers again."""

from __future__ import annotations

import os
import sys
import threading

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import types as T

from etl_extractor_spark.sources.parquet import load_table


def _jobs(spark, fn, group: str):
    """Run ``fn`` under a fresh job group; return (result, jobs run)."""
    sc = spark.sparkContext
    group = f"{group}-{os.getpid()}"
    sc.setJobGroup(group, "schema cache test")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_warm_load_runs_no_job_and_matches_bare_read(spark, tmp_path):
    df = spark.range(50).selectExpr("id", "id * 1.5 AS x", "cast(id as string) AS s")
    df.write.parquet(str(tmp_path / "t.parquet"))
    load_table(spark, str(tmp_path), "t")
    warm, jobs = _jobs(spark, lambda: load_table(spark, str(tmp_path), "t"), "warm-load")
    assert jobs == 0
    bare = spark.read.parquet(str(tmp_path / "t.parquet"))
    assert warm.schema == bare.schema
    assert _rows(warm) == _rows(bare)


def test_rewrite_with_changed_schema_is_seen(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(10).selectExpr("id", "cast(id as int) AS v").write.parquet(path)
    assert load_table(spark, str(tmp_path), "t").schema["v"].dataType == T.IntegerType()

    # same path: v retyped to string, a column added
    df = spark.range(20).selectExpr("id", "cast(id * 2 as string) AS v", "id % 3 AS extra")
    df.write.mode("overwrite").parquet(path)
    got = load_table(spark, str(tmp_path), "t")
    bare = spark.read.parquet(path)
    assert got.schema == bare.schema
    assert got.schema["v"].dataType == T.StringType()
    assert "extra" in got.columns
    assert _rows(got) == _rows(bare)


def test_binary_as_string_flip_reinfers(spark, tmp_path):
    # written by pyarrow: no Spark schema in the footer, so the conf
    # alone decides how the binary column is typed
    pq.write_table(
        pa.table({"k": pa.array([1, 2], pa.int64()), "b": pa.array([b"ab", b"cd"], pa.binary())}),
        str(tmp_path / "t.parquet"),
    )
    key = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert load_table(spark, str(tmp_path), "t").schema["b"].dataType == T.BinaryType()
        spark.conf.set(key, "true")
        got = load_table(spark, str(tmp_path), "t")
        assert got.schema["b"].dataType == T.StringType()
        assert _rows(got.select("b")) == [("ab",), ("cd",)]
    finally:
        spark.conf.set(key, before)


def test_events_ts_is_ntz_on_a_cache_hit(spark, sf_dir):
    cold = load_table(spark, sf_dir, "events")
    warm, jobs = _jobs(spark, lambda: load_table(spark, sf_dir, "events"), "events-hit")
    assert jobs == 0
    assert warm.schema["ts"].dataType == T.TimestampNTZType()
    assert warm.schema == cold.schema
    assert _rows(warm.select("event_id", "ts")) == _rows(cold.select("event_id", "ts"))


def test_concurrent_loads_of_one_table_agree(spark, tmp_path):
    """More loader threads than cores, switching often, all starting
    on a cold entry: each must get the table's inferred schema."""
    df = spark.range(30).selectExpr(
        "id", "cast(id as decimal(10,2)) AS d", "date_add(date'2020-01-01', cast(id as int)) AS dt"
    )
    df.write.parquet(str(tmp_path / "t.parquet"))
    expected = spark.read.parquet(str(tmp_path / "t.parquet")).schema
    n = 2 * len(os.sched_getaffinity(0))
    barrier = threading.Barrier(n)
    schemas: list = [[] for _ in range(n)]

    def load(i: int) -> None:
        barrier.wait()
        for _ in range(3):
            schemas[i].append(load_table(spark, str(tmp_path), "t").schema)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=load, args=(i,)) for i in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert schemas == [[expected] * 3] * n
