"""The seeded generator is deterministic, and its CDC batches follow the
base table."""

import datetime

import pyarrow.parquet as pq

import gen


def _md5s(manifest: dict) -> dict:
    return {f: m["md5"] for f, m in manifest["files"].items()}


def test_same_seed_gives_identical_files(tmp_path):
    for kind in ("star", "mixed", "delta"):
        kw = {"n_batches": 3} if kind == "delta" else {}
        a = gen.generate(kind, 7, 0.002, str(tmp_path / f"{kind}-a"), **kw)
        b = gen.generate(kind, 7, 0.002, str(tmp_path / f"{kind}-b"), **kw)
        assert _md5s(a) == _md5s(b), kind
        c = gen.generate(kind, 8, 0.002, str(tmp_path / f"{kind}-c"), **kw)
        assert _md5s(a) != _md5s(c), kind


def test_cached_reuses_only_the_same_dataset(tmp_path):
    out = str(tmp_path / "star")
    first = gen.cached("star", 1, 0.002, out)
    assert gen.cached("star", 1, 0.002, out) == first
    assert _md5s(gen.cached("star", 2, 0.002, out)) != _md5s(first)


def test_cdc_batches_touch_each_key_at_most_once(tmp_path):
    m = gen.generate("delta", 3, 0.01, str(tmp_path / "d"), n_batches=4)
    keys, ops = [], set()
    for f in sorted(m["files"]):
        if f.startswith("cdc"):
            t = pq.read_table(tmp_path / "d" / f)
            keys += t.column("o_orderkey").to_pylist()
            ops |= set(t.column("op").to_pylist())
    assert len(keys) == len(set(keys)) == sum(m["files"][f]["rows"] for f in m["files"] if f.startswith("cdc"))
    assert ops == {"I", "U", "D"}


def test_cdc_inserts_follow_the_base_daily_rate(tmp_path):
    """Each batch inserts one day of orders at the base table's rate."""
    m = gen.generate("delta", 3, 0.01, str(tmp_path / "d"), n_batches=2)
    base = pq.read_table(tmp_path / "d" / "orders.parquet")
    newest = max(base.column("o_orderdate").to_pylist())
    per_day = base.num_rows / len({d.date() for d in base.column("o_orderdate").to_pylist()})
    for i, f in enumerate(f for f in sorted(m["files"]) if f.startswith("cdc")):
        t = pq.read_table(tmp_path / "d" / f).to_pylist()
        today = [r for r in t if r["op"] == "I" and r["o_orderdate"] > newest]
        assert {r["o_orderdate"] for r in today} == {newest + datetime.timedelta(days=i + 1)}
        assert abs(len(today) - per_day) <= 1
