"""Parquet table layer — the engine's staging/gold storage format.

The reference staged everything in a SQLite file (SURVEY §1.1,
reference load/load_to_staging.py:4-5); our staging zone is parquet:
columnar, splittable, predicate-pushdown-capable, the only sane choice
at 100 TB. Tables are referenced by directory + name.

Where a table's schema comes from: a bare ``spark.read.parquet`` runs a
Spark job to infer it from the file footers on every read, and the
analyst queries read the same few tables over and over. ``read_parquet``
infers once per table and SparkContext, remembers the schema next to
the table's listing signature — the sorted (relative path, size,
mtime_ns, inode) of every file Spark would read there, summary files
included — and afterwards reads with that schema, which runs no job.
The entry is keyed by application id, absolute path and the session
confs that decide the Spark type a parquet column is read as, so
flipping one of those confs infers again; any change to the listing (a
rewrite, an added or removed file) infers again and replaces the entry.
A path on another file system (a URI with a scheme other than ``file``,
or a bare path when ``fs.defaultFS`` is not local) is not listed from
the driver: it infers on every read, as a bare read does.
"""

from __future__ import annotations

import os
import stat
import threading
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_extractor_spark import TABLES

# Session confs that change the Spark type a parquet column (or a
# partition directory value) is read as; their values are part of the
# schema cache key.
_TYPE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)

# (app id, absolute path, conf values) -> (listing signature, schema)
_schemas: dict[tuple, tuple[tuple, T.StructType]] = {}
_schemas_lock = threading.Lock()


def _local_path(spark: SparkSession, path: str) -> str | None:
    """Absolute driver-local path, or None when ``path`` names another
    file system (a non-``file`` URI, or a bare path under a non-local
    ``fs.defaultFS``)."""
    url = urlparse(path)
    if url.scheme == "file":
        return os.path.abspath(unquote(url.path))
    if url.scheme:
        return None
    default_fs = spark.sparkContext._jsc.hadoopConfiguration().get("fs.defaultFS")
    return os.path.abspath(path) if default_fs.startswith("file:") else None


def _unread(name: str) -> bool:
    """Spark's listing filter: names it never reads as table data."""
    if name.startswith(("_metadata", "_common_metadata")):
        return False
    return (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def _listing(root: str) -> tuple | None:
    """Sorted (relative path, size, mtime_ns, inode) of every file
    Spark reads under ``root``; None if it cannot be listed."""
    try:
        st = os.stat(root)
    except OSError:
        return None
    if not stat.S_ISDIR(st.st_mode):
        return (("", st.st_size, st.st_mtime_ns, st.st_ino),)
    files = []
    for parent, dirs, names in os.walk(root):
        dirs[:] = [d for d in dirs if not _unread(d)]
        for name in names:
            if _unread(name):
                continue
            path = os.path.join(parent, name)
            try:
                st = os.stat(path)
            except OSError:
                return None  # removed while listing: a rewrite in flight
            rel = os.path.relpath(path, root)
            files.append((rel, st.st_size, st.st_mtime_ns, st.st_ino))
    return tuple(sorted(files))


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema only when the
    table is new to this session, was rewritten, or a type-mapping conf
    changed; otherwise it reads with the remembered schema and launches
    no Spark job (see the module docstring)."""
    local = _local_path(spark, path)
    if local is None:
        return spark.read.parquet(path)
    confs = tuple(spark.conf.get(k) for k in _TYPE_CONFS)
    key = (spark.sparkContext.applicationId, local, confs)
    listing = _listing(local)
    with _schemas_lock:
        cached = _schemas.get(key)
    if listing is not None and cached is not None and cached[0] == listing:
        return spark.read.schema(cached[1]).parquet(path)
    df = spark.read.parquet(path)
    if listing is not None:
        with _schemas_lock:
            _schemas[key] = (listing, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table; normalize nanosecond parquet timestamps.

    The schema comes from ``read_parquet``: inferred on the first read
    of the table in this SparkContext and again after any change to its
    files or to a type-mapping conf, remembered otherwise, so a warm
    read launches no Spark job. A path on a non-local file system infers
    on every read.

    Spark has no nanosecond timestamp type (SPARK-40819) — TIMESTAMP
    (NANOS) columns are read as raw long nanos via the
    ``nanosAsLong`` conf, then converted here to microsecond
    timestamps with floor division, matching how DuckDB (the oracle)
    truncates ns → µs on read.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        # TIMESTAMP_NTZ (wall clock), not TIMESTAMP (instant): parquet
        # ns timestamps are not-adjusted-to-UTC, and Spark reads the
        # other tables' ms timestamps as NTZ too — this keeps every
        # date derivation session-timezone-independent.
        df = df.withColumn(
            "ts",
            F.expr(
                "timestampadd(MICROSECOND, CAST(ts / 1000 AS BIGINT),"
                " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
            ),
        )
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> None:
    """Register each table as a temp view so spark.sql() plans over them."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
