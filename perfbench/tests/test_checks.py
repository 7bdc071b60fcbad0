"""Each correctness check passes on a correct output and fails on one
dropped row and on one altered value."""

import os

import duckdb
import pytest

import checks
import gen


def _copy(con, sql: str, out: str, partition: str | None = None) -> None:
    opts = "FORMAT PARQUET" + (f", PARTITION_BY ({partition})" if partition else "")
    con.execute(f"COPY ({sql}) TO '{out}' ({opts})")


# ------------------------------------------------------------ full_load


@pytest.fixture(scope="module")
def load(tmp_path_factory):
    root = tmp_path_factory.mktemp("load")
    src = str(root / "src")
    gen.generate("mixed", 5, 0.002, src)
    return src, checks.full_load_expected(src)


def _gold(src: str, gold: str, edit: str = "") -> None:
    """A gold fact as run_pipeline writes it, optionally corrupted."""
    con = checks.connect()
    checks.mixed_source_views(con, src)
    con.execute(
        "CREATE TABLE f AS SELECT year(o_orderdate) anio, o_totalprice Calificacion FROM orders"
        " UNION ALL SELECT year(ts), value FROM events"
    )
    if edit:
        con.execute(edit)
    _copy(con, "SELECT * FROM f", os.path.join(gold, "fact_opinion"), "anio")
    con.close()


def test_full_load_check_passes_correct_output(load, tmp_path):
    src, expected = load
    _gold(src, str(tmp_path))
    assert checks.check_full_load(expected, dict(expected["counts"]), str(tmp_path)) == []


@pytest.mark.parametrize(
    "edit",
    [
        "DELETE FROM f WHERE rowid = (SELECT min(rowid) FROM f)",
        "UPDATE f SET Calificacion = Calificacion + 0.01 WHERE rowid = (SELECT min(rowid) FROM f)",
    ],
    ids=["dropped_row", "altered_value"],
)
def test_full_load_check_fails_corrupted_fact(load, tmp_path, edit):
    src, expected = load
    _gold(src, str(tmp_path), edit)
    assert checks.check_full_load(expected, dict(expected["counts"]), str(tmp_path))


def test_full_load_check_fails_wrong_count(load, tmp_path):
    src, expected = load
    _gold(src, str(tmp_path))
    counts = dict(expected["counts"], dim_cliente=expected["counts"]["dim_cliente"] - 1)
    assert checks.check_full_load(expected, counts, str(tmp_path))


# ---------------------------------------------------------- daily_delta


@pytest.fixture(scope="module")
def delta(tmp_path_factory):
    root = tmp_path_factory.mktemp("delta")
    m = gen.generate("delta", 6, 0.01, str(root / "in"), n_batches=3)
    base = str(root / "in" / "orders.parquet")
    batches = [str(root / "in" / f) for f in sorted(m["files"]) if f.startswith("cdc")]
    return base, batches


def _merged(base, batches, out, edit: str = "") -> tuple[str, str]:
    """The merged table and revenue state as the sinks write them."""
    con = checks.replay_cdc(base, batches)
    if edit:
        con.execute(edit)
    table, state = os.path.join(out, "orders"), os.path.join(out, "state")
    _copy(con, "SELECT * FROM t", table, "o_year")
    os.makedirs(os.path.join(state, "data"))
    _copy(con, "SELECT * FROM state", os.path.join(state, "data", "part-0.parquet"))
    con.close()
    return table, state


def test_delta_check_passes_correct_output(delta, tmp_path):
    base, batches = delta
    assert checks.check_delta(base, batches, *_merged(base, batches, str(tmp_path))) == []


@pytest.mark.parametrize(
    "edit",
    [
        "DELETE FROM t WHERE o_orderkey = (SELECT max(o_orderkey) FROM t)",
        "UPDATE t SET o_totalprice = o_totalprice + 0.01 WHERE o_orderkey = (SELECT min(o_orderkey) FROM t)",
        "DELETE FROM state WHERE o_orderdate = (SELECT min(o_orderdate) FROM state)",
        "UPDATE state SET revenue = revenue + 0.01 WHERE o_orderdate = (SELECT max(o_orderdate) FROM state)",
    ],
    ids=["table_dropped_row", "table_altered_value", "state_dropped_row", "state_altered_value"],
)
def test_delta_check_fails_corrupted_output(delta, tmp_path, edit):
    base, batches = delta
    assert checks.check_delta(base, batches, *_merged(base, batches, str(tmp_path), edit))


def test_delta_check_fails_unapplied_batch(delta, tmp_path):
    base, batches = delta
    assert checks.check_delta(base, batches, *_merged(base, batches[:-1], str(tmp_path)))


# --------------------------------------------------------- star_queries


@pytest.fixture(scope="module")
def star(tmp_path_factory):
    from etl_extractor_spark.plans.registry import all_oracles

    src = str(tmp_path_factory.mktemp("star"))
    gen.generate("star", 4, 0.002, src)
    con = checks.connect()
    checks.star_views(con, src)
    yield con, all_oracles()
    con.close()


@pytest.mark.parametrize("name", ["q1_pricing_summary", "star_join_detail", "q18_large_orders"])
def test_query_check(star, name):
    con, oracles = star
    sql = oracles[name]
    got = con.execute(sql).fetchdf()
    assert len(got) > 1
    assert checks.check_query(got, con, sql) == []
    assert checks.check_query(got.iloc[1:], con, sql)
    altered = got.copy()
    col = next(c for c in altered.columns if altered[c].dtype.kind in "fi")
    altered.loc[0, col] = altered.loc[0, col] + 1
    assert checks.check_query(altered, con, sql)


def test_compare_frames_ignores_row_order():
    a = duckdb.sql("SELECT * FROM (VALUES (1, 0.5), (2, 1.5)) v(k, x)").fetchdf()
    assert checks.compare_frames(a.iloc[::-1], a) == []
