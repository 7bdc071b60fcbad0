"""The end-to-end ETL pipeline (X1/X2/X3 — reference pipeline.py:10-43,
main.py:417-431).

The reference runs extract → stage → dims → fact → DW-load as separate
OS processes handing data through a SQLite file. Spark-first, the whole
flow is ONE driver process and ONE SparkSession; stage boundaries are
durable parquet zones (staging / gold), and each stage is lazy
DataFrame composition with a single write action at its end — Catalyst
optimizes across each stage's full expression tree.

Stage map (reference → here):
  read_sources   main.py:29-76     source registry, per-source isolation
  stage          main.py:82-93     overwrite-mode staging parquet
  build_dims     main.py:97-190    dim_cliente/producto/fuente/fecha
  build_fact     main.py:196-306   conform + union + enrich + sentinel
  load_gold      main.py:323-411   surrogate FK resolve (modulo fold +
                                   broadcast date lookup), partitioned
                                   fact layout (K4 analog)

Only the writes launch Spark jobs:
- Independent writes run side by side on the one session: the staging
  writes (one per source) together, then the four dimension writes
  together, each stage on a thread pool sized to its write count.
  Threads run through ``inheritable_thread_target``, so the caller's
  job group, local properties and session tags carry over to every
  job they launch.
- Every table the pipeline wrote is read back with the schema of the
  frame just written (``spark.read.schema``): no schema-inference job.
- The row counts returned for reconciliation, and the key bounds the
  fact's FK fold needs (max ``IdCliente``, max ``IdProducto``, min
  ``IdFuente``), are ``DataFrame.observe`` metrics collected on the
  write pass itself: no count or scalar-aggregate job re-scans a table.

``stage_sources``, ``build_dimensions``, ``build_fact``, ``load_gold``,
``write_overwrite`` and ``write_partitioned`` stay module-level names,
called through this module's globals: the benchmark's traced run
(perfbench/workloads.py) wraps each one in a span by name.
"""

from __future__ import annotations

import logging
import os
from concurrent.futures import Future, ThreadPoolExecutor
from logging.handlers import RotatingFileHandler
from typing import Callable, NamedTuple

from pyspark import inheritable_thread_target
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_extractor_spark.functions.casts import to_double_or, to_string_or
from etl_extractor_spark.functions.dates import fecha_key
from etl_extractor_spark.functions.text import normalize_text, prefixed_key, truncate
from etl_extractor_spark.operators.dims import add_surrogate_key, build_dim_date
from etl_extractor_spark.operators.facts import (
    conform_block,
    enrich_lookup,
    modulo_fk_fold,
    union_blocks,
)
from etl_extractor_spark.sinks.writers import observed, write_overwrite, write_partitioned


class Loaded(NamedTuple):
    """A table the pipeline wrote: its read-back and the metrics
    observed on the write pass (always ``rows``)."""

    df: DataFrame
    metrics: dict


def get_logger(log_path: str | None = None) -> logging.Logger:
    """X3: rotating-file + console logging (reference core/logger.py)."""
    log = logging.getLogger("etl_extractor_spark.pipeline")
    if not log.handlers:
        log.setLevel(logging.INFO)
        fmt = logging.Formatter("%(asctime)s %(levelname)s %(message)s")
        sh = logging.StreamHandler()
        sh.setFormatter(fmt)
        log.addHandler(sh)
        if log_path:
            fh = RotatingFileHandler(log_path, maxBytes=2_000_000, backupCount=3)
            fh.setFormatter(fmt)
            log.addHandler(fh)
    return log


def _side_by_side(spark: SparkSession, fn: Callable, calls: list[tuple]) -> list[Future]:
    """Run ``fn(*args)`` for every ``args`` in ``calls``, all at once on
    one thread each, and return their futures in call order once all
    are done. Each call is wrapped here, in the caller's thread, so the
    jobs it launches carry the caller's job group, local properties and
    session tags. One wrap per call: a wrap snapshots the properties
    into one object that its calls share, so a job group one call sets
    would otherwise leak into the others."""
    with ThreadPoolExecutor(max_workers=max(1, len(calls))) as pool:
        return [pool.submit(inheritable_thread_target(spark)(fn), *args) for args in calls]


def stage_sources(
    spark: SparkSession, sources: dict[str, DataFrame], staging_dir: str, log: logging.Logger
) -> dict[str, DataFrame]:
    """K1: overwrite-write every source frame to the staging zone, all
    sources at once; returns each staged table read back. Idempotent by
    construction (fixes the reference's rerun-append duplication,
    SURVEY §4.2.5)."""

    def stage(name: str, df: DataFrame) -> DataFrame:
        path = os.path.join(staging_dir, f"stg_{name}")
        write_overwrite(df, path)
        log.info("STAGING: stg_%s written", name)
        return spark.read.schema(df.schema).parquet(path)

    staged: dict[str, DataFrame] = {}
    for name, fut in zip(sources, _side_by_side(spark, stage, list(sources.items()))):
        try:  # X2: per-source isolation — a bad source never kills the run
            staged[name] = fut.result()
        except Exception as exc:
            log.warning("STAGING: stg_%s failed: %s", name, exc)
    return staged


def build_dimensions(
    spark: SparkSession, staged: dict[str, DataFrame], gold_dir: str, log
) -> dict[str, Loaded]:
    """Dims from the staged star-schema sources (reference
    main.py:97-190; FIXTURES.md mapping customer/part/supplier/dates),
    all four written at once."""
    dim_cliente = (
        staged["customer"]
        .select(
            prefixed_key("c_custkey", "C", 9).alias("cliente_id"),
            normalize_text("c_name").alias("nombre"),
            F.col("c_mktsegment").alias("segmento"),
        )
        .dropDuplicates()
    )
    dim_producto = (
        staged["part"]
        .select(
            prefixed_key("p_partkey", "P", 9).alias("producto_id"),
            normalize_text("p_name").alias("nombre"),
            F.col("p_type").alias("categoria"),
        )
        .dropDuplicates()
    )
    dim_fuente = (
        staged["supplier"]
        .select(
            prefixed_key("s_suppkey", "F", 9).alias("fuente_id"),
            normalize_text("s_name").alias("nombre"),
        )
        .dropDuplicates()
    )
    # the reference unions the date columns of EVERY source feeding the
    # fact (main.py:164-190) — so the fact's date keys always resolve
    dim_fecha = build_dim_date(
        [
            staged["orders"].select("o_orderdate"),
            staged["lineitem"].select("l_shipdate"),
            staged["events"].select(F.to_date("ts").cast("timestamp").alias("ts")),
        ]
    )

    # name -> (frame, metrics observed on its write); the key bounds
    # are the ones load_gold folds the fact's business keys into
    dims = {
        "dim_cliente": (
            add_surrogate_key(dim_cliente, "cliente_id", "IdCliente"),
            {"max_id": F.max("IdCliente")},
        ),
        "dim_producto": (
            add_surrogate_key(dim_producto, "producto_id", "IdProducto"),
            {"max_id": F.max("IdProducto")},
        ),
        "dim_fuente": (
            add_surrogate_key(dim_fuente, "fuente_id", "IdFuente"),
            {"min_id": F.min("IdFuente")},
        ),
        "dim_fecha": (dim_fecha.withColumn("IdFecha", F.col("fecha_key")), {}),
    }

    def build(name: str, df: DataFrame, metrics: dict[str, Column]) -> Loaded:
        path = os.path.join(gold_dir, name)
        out, obs = observed(df, metrics)
        write_overwrite(out, path)
        log.info("DIM: %s built", name)
        return Loaded(spark.read.schema(df.schema).parquet(path), obs.get)

    futures = _side_by_side(spark, build, [(name, df, m) for name, (df, m) in dims.items()])
    return {name: fut.result() for name, fut in zip(dims, futures)}


def build_fact(spark: SparkSession, staged: dict[str, DataFrame], log) -> DataFrame:
    """Conform heterogeneous sources to the canonical opinion-like fact
    (reference add_block, main.py:208-269) and union them (U1)."""
    blocks = [
        conform_block(
            staged["orders"],
            {
                "src": F.lit("orders"),
                "cliente_key": F.col("o_custkey").cast("long"),
                "producto_key": F.lit(None).cast("long"),
                "fecha_key": fecha_key("o_orderdate"),
                "puntaje": to_double_or("o_totalprice", 0.0),
                "texto": truncate("o_orderpriority", 2000),
            },
        ),
        conform_block(
            staged["events"],
            {
                "src": F.lit("events"),
                "cliente_key": F.col("user_id").cast("long"),
                "producto_key": F.lit(None).cast("long"),
                "fecha_key": fecha_key("ts"),
                "puntaje": to_double_or("value", 0.0),
                "texto": truncate("props", 2000),
            },
        ),
    ]
    fact = union_blocks(blocks)
    log.info("FACT: conformed %d source blocks", len(blocks))
    return fact


def load_gold(
    spark: SparkSession, fact: DataFrame, dims: dict[str, Loaded], gold_dir: str, log
) -> Loaded:
    """FK resolution with the reference's never-drop-rows policy
    (main.py:323-411): modulo-fold out-of-range business keys into the
    dim key range (J5), resolve date keys via broadcast lookup (J3),
    sentinel-default what cannot match — then write the fact partitioned
    by year (K4: the Spark substitute for the reference's B-tree index
    on the date key is partition pruning). The key bounds come from the
    dims' write-pass metrics, not from a scalar aggregate job."""
    max_cliente = int(dims["dim_cliente"].metrics["max_id"])
    max_producto = int(dims["dim_producto"].metrics["max_id"])
    default_fuente = int(dims["dim_fuente"].metrics["min_id"])

    resolved = (
        fact.withColumn(
            "IdCliente",
            modulo_fk_fold(F.coalesce(F.col("cliente_key"), F.lit(1)), max_cliente),
        )
        .withColumn(
            "IdProducto",
            modulo_fk_fold(F.coalesce(F.col("producto_key"), F.lit(1)), max_producto),
        )
        .withColumn("IdFuente", F.lit(default_fuente).cast("long"))
    )
    resolved = enrich_lookup(
        resolved,
        dims["dim_fecha"].df.select("fecha_key", "IdFecha"),
        "fecha_key",
        "fecha_key",
        {"IdFecha": "IdFecha"},
        {"IdFecha": F.lit(-1)},
    )
    gold_fact = resolved.select(
        "src",
        "IdCliente",
        "IdProducto",
        "IdFuente",
        F.col("IdFecha").cast("long").alias("IdFecha"),
        F.round("puntaje", 4).alias("Calificacion"),
        F.lit("").alias("Sentimiento"),  # reserved, reference main.py:392
        F.col("texto").alias("Comentario"),
        (F.col("fecha_key") / 10000).cast("int").alias("anio"),
    )
    path = os.path.join(gold_dir, "fact_opinion")
    out, obs = observed(gold_fact)
    write_partitioned(out, path, ["anio"])
    gold = Loaded(spark.read.schema(gold_fact.schema).parquet(path), obs.get)
    log.info("GOLD: fact_opinion loaded (%d rows)", gold.metrics["rows"])
    return gold


def run_pipeline(
    spark: SparkSession,
    sources: dict[str, DataFrame],
    staging_dir: str,
    gold_dir: str,
    log_path: str | None = None,
) -> dict[str, int]:
    """X1: the orchestrator — sequential stages, fail-fast between
    stages, per-source isolation inside extraction/staging. Returns the
    row-count reconciliation the reference logs at every stage, as
    observed on each table's write."""
    log = get_logger(log_path)
    staged = stage_sources(spark, sources, staging_dir, log)
    dims = build_dimensions(spark, staged, gold_dir, log)
    fact = build_fact(spark, staged, log)
    gold = load_gold(spark, fact, dims, gold_dir, log)
    counts = {name: t.metrics["rows"] for name, t in dims.items()}
    counts["fact_opinion"] = gold.metrics["rows"]
    log.info("PIPELINE DONE: %s", counts)
    return counts
