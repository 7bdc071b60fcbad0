"""Correctness checks, each against DuckDB over the generated inputs.

Every check returns a list of human-readable mismatches; an empty list
means the output is correct. The benchmark runs them outside its timed
region and counts an operation with any mismatch as failed.
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd

ABS_TOL = 1e-6
REL_TOL = 1e-9

EVENTS_JSON_COLUMNS = (
    "{'event_id': 'BIGINT', 'ts': 'TIMESTAMP', 'user_id': 'BIGINT', "
    "'event_type': 'VARCHAR', 'value': 'DOUBLE', 'props': 'VARCHAR'}"
)
# Money columns carry two decimals, so their sums compare exactly in
# integer cents: one altered value moves the sum by at least one cent.
CENTS = "sum(CAST(round({} * 100) AS BIGINT))"
ORDER_COLUMNS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority", "o_year"]


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 2")
    return con


def _parquet_glob(table_dir: str) -> str:
    return os.path.join(table_dir, "**", "*.parquet")


def mixed_source_views(con: duckdb.DuckDBPyConnection, src: str) -> None:
    """Views over the ``mixed`` dataset in its own source formats."""
    for name in ("customer", "part", "supplier"):
        con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_csv('{src}/{name}.csv', header = true)")
    for name in ("orders", "lineitem"):
        con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{src}/{name}.parquet')")
    con.execute(
        "CREATE OR REPLACE VIEW events AS SELECT * FROM "
        f"read_json('{src}/events.jsonl', format = 'newline_delimited', columns = {EVENTS_JSON_COLUMNS})"
    )


def full_load_expected(src: str) -> dict:
    """Reconciliation counts and per-year (rows, Calificacion cents) that a
    correct load of the ``mixed`` dataset in ``src`` produces."""
    con = connect()
    try:
        mixed_source_views(con, src)
        one = lambda sql: con.execute(sql).fetchone()[0]  # noqa: E731
        counts = {
            "dim_cliente": one("SELECT count(DISTINCT c_custkey) FROM customer"),
            "dim_producto": one("SELECT count(DISTINCT p_partkey) FROM part"),
            "dim_fuente": one("SELECT count(DISTINCT s_suppkey) FROM supplier"),
            "dim_fecha": one(
                "SELECT count(DISTINCT d) FROM ("
                " SELECT CAST(o_orderdate AS DATE) d FROM orders"
                " UNION ALL SELECT CAST(l_shipdate AS DATE) FROM lineitem"
                " UNION ALL SELECT CAST(ts AS DATE) FROM events)"
            ),
            "fact_opinion": one("SELECT (SELECT count(*) FROM orders) + (SELECT count(*) FROM events)"),
        }
        years = con.execute(
            f"SELECT y, count(*), {CENTS.format('x')} FROM ("
            " SELECT year(o_orderdate) y, o_totalprice x FROM orders"
            " UNION ALL SELECT year(ts), value FROM events) GROUP BY y ORDER BY y"
        ).fetchall()
    finally:
        con.close()
    return {"counts": counts, "years": {int(y): (int(n), int(c)) for y, n, c in years}}


def check_full_load(expected: dict, counts: dict, gold_dir: str) -> list[str]:
    """``run_pipeline``'s reconciliation counts, plus per-year row
    counts and exact ``Calificacion`` sums (in cents) of the gold fact
    on disk."""
    errors = [
        f"count {name}: got {counts.get(name)}, want {want}"
        for name, want in expected["counts"].items()
        if counts.get(name) != want
    ]
    con = connect()
    try:
        got = con.execute(
            f"SELECT anio, count(*), {CENTS.format('Calificacion')} FROM read_parquet("
            f"'{_parquet_glob(os.path.join(gold_dir, 'fact_opinion'))}', hive_partitioning = true) GROUP BY anio"
        ).fetchall()
    finally:
        con.close()
    got_years = {int(y): (int(n), int(c)) for y, n, c in got}
    for year in sorted(set(got_years) | set(expected["years"])):
        g, w = got_years.get(year), expected["years"].get(year)
        if g != w:
            errors.append(f"fact_opinion year {year}: got (rows, cents) {g}, want {w}")
    return errors


def replay_cdc(base_path: str, batch_paths: list[str]) -> duckdb.DuckDBPyConnection:
    """DuckDB replay of ``merge_cdc_apply`` semantics: per key the
    highest ``seq`` wins, ``D`` deletes and ``I``/``U`` upsert. Leaves
    tables ``t`` (the merged orders) and ``state`` (per-day revenue of
    every inserted row) on the returned connection."""
    con = connect()
    cols = ", ".join(ORDER_COLUMNS)
    con.execute(f"CREATE TABLE t AS SELECT {cols} FROM read_parquet('{base_path}')")
    for path in batch_paths:
        con.execute(
            "CREATE OR REPLACE TEMP TABLE b AS SELECT * FROM ("
            " SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) rn"
            f" FROM read_parquet('{path}')) WHERE rn = 1"
        )
        con.execute("DELETE FROM t WHERE o_orderkey IN (SELECT o_orderkey FROM b)")
        con.execute(f"INSERT INTO t SELECT {cols} FROM b WHERE op <> 'D'")
    files = ", ".join(f"'{p}'" for p in batch_paths)
    con.execute(
        f"CREATE TABLE state AS SELECT o_orderdate, sum(o_totalprice) revenue, {CENTS.format('o_totalprice')} cents,"
        f" count(*) n FROM read_parquet([{files}]) WHERE op = 'I' GROUP BY o_orderdate"
    )
    return con


def check_delta(base_path: str, batch_paths: list[str], table_dir: str, state_dir: str) -> list[str]:
    """The merged table equals the DuckDB replay row for row, and the
    per-day revenue state equals the replayed inserts' aggregate."""
    con = replay_cdc(base_path, batch_paths)
    errors: list[str] = []
    try:
        con.execute(
            "CREATE TABLE got AS SELECT "
            + ", ".join(c if c != "o_year" else "CAST(o_year AS INTEGER) o_year" for c in ORDER_COLUMNS)
            + f" FROM read_parquet('{_parquet_glob(table_dir)}', hive_partitioning = true)"
        )
        for a, b in (("got", "t"), ("t", "got")):
            n = con.execute(f"SELECT count(*) FROM (SELECT * FROM {a} EXCEPT ALL SELECT * FROM {b})").fetchone()[0]
            if n:
                sample = con.execute(f"SELECT * FROM {a} EXCEPT ALL SELECT * FROM {b} LIMIT 3").fetchall()
                errors.append(f"table: {n} rows in {'merged' if a == 'got' else 'replay'} only, e.g. {sample}")
        rows = con.execute(
            "SELECT coalesce(s.o_orderdate, g.o_orderdate), s.cents, CAST(round(g.revenue * 100) AS BIGINT), s.n, g.n"
            f" FROM state s FULL JOIN read_parquet('{_parquet_glob(state_dir)}') g ON s.o_orderdate = g.o_orderdate"
        ).fetchall()
    finally:
        con.close()
    for day, want_cents, got_cents, want_n, got_n in rows:
        if (want_cents, want_n) != (got_cents, got_n):
            errors.append(f"state {day}: got (cents, n) ({got_cents}, {got_n}), want ({want_cents}, {want_n})")
    return errors


def star_views(con: duckdb.DuckDBPyConnection, src: str) -> None:
    for name in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem"):
        con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{src}/{name}.parquet')")


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare_frames(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Same columns, same rows in any order; floats within tolerance."""
    got, want = _normalize(got), _normalize(want)
    if list(got.columns) != list(want.columns):
        return [f"columns: got {list(got.columns)}, want {list(want.columns)}"]
    if len(got) != len(want):
        return [f"rows: got {len(got)}, want {len(want)}"]
    errors = []
    for c in got.columns:
        g, w = got[c], want[c]
        if pd.api.types.is_float_dtype(g) or pd.api.types.is_float_dtype(w):
            gf, wf = pd.to_numeric(g, errors="coerce"), pd.to_numeric(w, errors="coerce")
            ok = (gf.isna() & wf.isna()) | ((gf - wf).abs() <= ABS_TOL + REL_TOL * wf.abs())
        else:
            ok = (g == w) | (g.isna() & w.isna())
        if not ok.all():
            errors.append(f"column {c}: {int((~ok).sum())} mismatches, e.g. {g[~ok].head(2).tolist()} vs {w[~ok].head(2).tolist()}")
    return errors


def check_query(got: pd.DataFrame, con: duckdb.DuckDBPyConnection, oracle_sql: str) -> list[str]:
    return compare_frames(got, con.execute(oracle_sql).fetchdf())
