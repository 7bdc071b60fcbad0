"""End-to-end pipeline test (reference §5 log-based reconciliation,
re-expressed as assertions): run the full ETL on sf0.001 into a temp
lakehouse, check dimension/fact counts and FK invariants."""

from __future__ import annotations

import os
import tempfile
import threading

import pytest
from pyspark.sql import functions as F

from etl_extractor_spark import pipeline
from etl_extractor_spark.pipeline import run_pipeline
from etl_extractor_spark.sources.parquet import load_table

SOURCES = ("customer", "part", "supplier", "orders", "lineitem", "events")
DIMS = ("dim_cliente", "dim_producto", "dim_fuente", "dim_fecha")


def _sources(spark, sf_dir) -> dict:
    return {name: load_table(spark, sf_dir, name) for name in SOURCES}


@pytest.fixture(scope="module")
def lake(spark, sf_dir):
    with tempfile.TemporaryDirectory() as tmp:
        counts = run_pipeline(
            spark,
            _sources(spark, sf_dir),
            staging_dir=os.path.join(tmp, "staging"),
            gold_dir=os.path.join(tmp, "gold"),
        )
        yield spark, tmp, counts


def test_dimension_counts_match_sources(lake, spark, sf_dir):
    _, _, counts = lake
    assert counts["dim_cliente"] == load_table(spark, sf_dir, "customer").count()
    assert counts["dim_producto"] == load_table(spark, sf_dir, "part").count()
    assert counts["dim_fuente"] == load_table(spark, sf_dir, "supplier").count()


def test_fact_is_union_of_sources(lake, spark, sf_dir):
    _, _, counts = lake
    expected = (
        load_table(spark, sf_dir, "orders").count()
        + load_table(spark, sf_dir, "events").count()
    )
    assert counts["fact_opinion"] == expected  # never-drop-rows policy


def test_fk_invariants(lake):
    sp, tmp, counts = lake
    fact = sp.read.parquet(os.path.join(tmp, "gold", "fact_opinion"))
    dimc = sp.read.parquet(os.path.join(tmp, "gold", "dim_cliente"))
    max_c = dimc.agg(F.max("IdCliente")).first()[0]
    bad = fact.filter((F.col("IdCliente") < 1) | (F.col("IdCliente") > max_c)).count()
    assert bad == 0  # modulo fold keeps every FK in range
    assert fact.filter(F.col("IdFecha") == -1).count() == 0  # all dates resolved


def test_partition_pruning_on_gold_fact(lake):
    """K4 analog: the year-partitioned layout must prune at scan time."""
    sp, tmp, _ = lake
    fact = sp.read.parquet(os.path.join(tmp, "gold", "fact_opinion"))
    years = [r["anio"] for r in fact.select("anio").distinct().collect()]
    one_year = fact.filter(F.col("anio") == years[0])
    plan = one_year._jdf.queryExecution().executedPlan().toString()
    # a pruned scan reads fewer files than the full table
    assert one_year.count() < fact.count() or len(years) == 1


def test_pipeline_idempotent(lake, spark, sf_dir):
    """Re-running overwrites, never duplicates (fixes SURVEY §4.2.5)."""
    sp, tmp, counts = lake
    counts2 = run_pipeline(
        spark,
        _sources(spark, sf_dir),
        staging_dir=os.path.join(tmp, "staging"),
        gold_dir=os.path.join(tmp, "gold"),
    )
    assert counts2 == counts


def test_write_observed_metrics_ride_the_write(spark, sf_dir, tmp_path):
    """Observed metrics equal a separate recount — but came from the
    write job itself (no extra scan)."""
    from pyspark.sql import functions as F

    from etl_extractor_spark.sinks.writers import write_observed
    from etl_extractor_spark.sources.parquet import load_table

    orders = load_table(spark, sf_dir, "orders")
    out = str(tmp_path / "obs")
    got = write_observed(
        orders,
        out,
        metrics={
            "n_open": F.count_if(F.col("o_orderstatus") == "O"),
            "max_price": F.max("o_totalprice"),
        },
    )
    assert got["rows"] == orders.count()
    assert got["n_open"] == orders.filter("o_orderstatus = 'O'").count()
    assert got["max_price"] == orders.agg(F.max("o_totalprice")).first()[0]
    assert spark.read.parquet(out).count() == got["rows"]


def test_counts_equal_fresh_recounts(lake):
    """The reconciliation counts are observed on each table's write
    pass; they must equal a recount of what landed on disk."""
    sp, tmp, counts = lake
    assert set(counts) == {*DIMS, "fact_opinion"}
    for name in counts:
        assert counts[name] == sp.read.parquet(os.path.join(tmp, "gold", name)).count(), name


def test_fold_bounds_equal_written_dim_bounds(spark, sf_dir, tmp_path):
    """The key bounds load_gold folds by come from the dims' write-pass
    metrics; they must equal max/min over the written dims."""
    log = pipeline.get_logger()
    staged = pipeline.stage_sources(spark, _sources(spark, sf_dir), str(tmp_path / "staging"), log)
    dims = pipeline.build_dimensions(spark, staged, str(tmp_path / "gold"), log)

    def written(name, agg):
        return spark.read.parquet(str(tmp_path / "gold" / name)).agg(agg).first()[0]

    assert dims["dim_cliente"].metrics["max_id"] == written("dim_cliente", F.max("IdCliente"))
    assert dims["dim_producto"].metrics["max_id"] == written("dim_producto", F.max("IdProducto"))
    assert dims["dim_fuente"].metrics["min_id"] == written("dim_fuente", F.min("IdFuente"))
    for name in DIMS:
        assert dims[name].metrics["rows"] == dims[name].df.count(), name


def test_failing_source_is_skipped_while_others_stage_concurrently(
    lake, spark, sf_dir, tmp_path, monkeypatch, caplog
):
    """X2 under concurrent staging: a source whose write fails inside
    its tasks is logged and skipped, and the run completes with the
    same counts. Every staging write must be in flight at once: each
    waits on a barrier sized to the source count, which a one-at-a-time
    staging loop would never fill."""
    _, _, counts = lake
    sources = _sources(spark, sf_dir)
    sources["broken"] = spark.range(10).select(
        F.col("id"), F.raise_error(F.lit("broken source")).cast("string").alias("x")
    )
    barrier = threading.Barrier(len(sources))
    write = pipeline.write_overwrite

    def write_after_barrier(df, path, *a, **kw):
        if os.path.basename(path).startswith("stg_"):
            barrier.wait(timeout=60)
        return write(df, path, *a, **kw)

    monkeypatch.setattr(pipeline, "write_overwrite", write_after_barrier)
    with caplog.at_level("WARNING", logger="etl_extractor_spark.pipeline"):
        got = run_pipeline(spark, sources, str(tmp_path / "staging"), str(tmp_path / "gold"))
    assert got == counts
    assert "stg_broken failed" in caplog.text
    assert not (tmp_path / "staging" / "stg_broken" / "_SUCCESS").exists()
    for name in SOURCES:
        assert (tmp_path / "staging" / f"stg_{name}" / "_SUCCESS").exists(), name


def test_concurrent_writes_keep_their_own_job_groups(spark, sf_dir, tmp_path, monkeypatch):
    """A job group set inside one concurrent staging write tags that
    write's jobs only: the threads must not share one local-properties
    object (the benchmark's traced run sets a group per write)."""
    sc = spark.sparkContext
    write = pipeline.write_overwrite
    prefix = f"stage-write-{os.getpid()}-"

    def write_in_own_group(df, path, *a, **kw):
        sc.setJobGroup(prefix + os.path.basename(path), "staging write")
        return write(df, path, *a, **kw)

    monkeypatch.setattr(pipeline, "write_overwrite", write_in_own_group)
    pipeline.stage_sources(spark, _sources(spark, sf_dir), str(tmp_path), pipeline.get_logger())
    st = sc.statusTracker()
    for name in SOURCES:
        assert len(st.getJobIdsForGroup(f"{prefix}stg_{name}")) >= 1, name


# Spark jobs one run_pipeline launches on the sf0.001 test data: one per
# write, plus the shuffle and broadcast stages AQE runs as jobs of
# their own (measured: 19).
MAX_PIPELINE_JOBS = 19
WRITES = 6 + len(DIMS) + 1  # staging, dims, fact


def test_pipeline_job_count_stays_bounded(spark, sf_dir, tmp_path):
    """Regression guard on the jobs run_pipeline launches: 19 (34
    tasks) on the sf0.001 test data. Schema-inferring read-backs,
    scalar-aggregate fold bounds and a recount reconciliation made it
    50 jobs (86 tasks) before the counts and bounds rode the writes.
    The lower bound proves the jobs of the concurrent writes land in
    the caller's job group, so the count covers them."""
    sc = spark.sparkContext
    group = f"pipeline-job-guard-{os.getpid()}"
    sources = _sources(spark, sf_dir)
    sc.setJobGroup(group, "run_pipeline job-count guard")
    try:
        run_pipeline(spark, sources, str(tmp_path / "staging"), str(tmp_path / "gold"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert WRITES <= jobs <= MAX_PIPELINE_JOBS, jobs
