"""Seeded input generator for the benchmark.

Writes the testdata schemas (TPC-H-like star tables plus the ``events``
stream) at a chosen scale factor, in the source formats of the
reference ETL job, from nothing but ``--seed`` and ``--sf``:

- ``star``   all tables as parquet (analyst reads, ``star_queries``);
- ``mixed``  customer/part/supplier as CSV, events as JSON lines,
             orders/lineitem as parquet (the nightly ``full_load``);
- ``delta``  orders as parquet plus a sequence of CDC batches
             (``daily_delta``), as many as a run of BENCHMARK.json's
             ``run_seconds`` applies.

Row counts follow the testdata at sf=1: 150k customers, 1.5M orders,
6M lineitem, 1M events. The same seed and size give byte-identical
files: ``generate`` returns and stores their md5 checksums.

    python3 perfbench/gen.py --kind star --seed 1 --sf 0.1 --out DIR
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

import plan
from metrics import RUN_SECONDS

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["red", "blue", "green", "hot", "large", "small", "dark", "light"]
PART_NOUN = ["ring", "bolt", "gear", "pipe", "valve", "screw", "plate", "spring"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "search", "view"]

ORDER_DAY0 = np.datetime64("1995-01-01", "D")
ORDER_DAYS = int((np.datetime64("2001-08-01", "D") - ORDER_DAY0).astype(np.int64)) + 1
SHIP_DAY0 = np.datetime64("1995-01-02", "D")
SHIP_DAYS = int((np.datetime64("2001-11-04", "D") - SHIP_DAY0).astype(np.int64)) + 1
EVENT_T0 = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_SPAN_US = 30 * 86_400 * 1_000_000

DONE = "_DONE.json"


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)], pa.string())


def _ids(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)], pa.string())


def _days(day0: np.datetime64, days: np.ndarray) -> pa.Array:
    return pa.array((day0 + days.astype("timedelta64[D]")).astype("datetime64[us]"), pa.timestamp("us"))


def sizes(sf: float) -> dict[str, int]:
    """Row count per table at scale factor ``sf``."""
    return {
        "region": 5,
        "nation": 25,
        "customer": int(150_000 * sf),
        "supplier": max(1, int(10_000 * sf)),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
    }


def _replace(t: pa.Table, name: str, values: pa.Array) -> pa.Table:
    return t.set_column(t.schema.get_field_index(name), name, values)


def orders_table(rng: np.random.Generator, n: int, n_customers: int, key0: int = 0) -> pa.Table:
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(key0, key0 + n, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_customers, n, dtype=np.int64)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
            "o_totalprice": pa.array(_money(rng, 900.0, 450_000.0, n)),
            "o_orderdate": _days(ORDER_DAY0, rng.integers(0, ORDER_DAYS, n)),
            "o_orderpriority": _pick(rng, PRIORITIES, n),
        }
    )


def star_tables(seed: int, sf: float, with_events: bool) -> dict[str, pa.Table]:
    """Every testdata table at scale ``sf``; one RNG stream per table so
    adding a table never shifts another table's contents."""
    n = sizes(sf)
    rngs = {t: np.random.default_rng([seed, i]) for i, t in enumerate(n)}
    nat = np.arange(25, dtype=np.int32)
    out = {
        "region": pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)), "r_name": pa.array(REGIONS)}),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(nat),
                "n_name": pa.array([f"NATION_{i}" for i in nat]),
                "n_regionkey": pa.array(nat % 5),
            }
        ),
    }
    r = rngs["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n["customer"], dtype=np.int64)),
            "c_name": _ids("Customer", n["customer"]),
            "c_nationkey": pa.array(r.integers(0, 25, n["customer"], dtype=np.int32)),
            "c_acctbal": pa.array(_money(r, -999.99, 9999.99, n["customer"])),
            "c_mktsegment": _pick(r, SEGMENTS, n["customer"]),
        }
    )
    r = rngs["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n["supplier"], dtype=np.int64)),
            "s_name": _ids("Supplier", n["supplier"]),
            "s_nationkey": pa.array(r.integers(0, 25, n["supplier"], dtype=np.int32)),
            "s_acctbal": pa.array(_money(r, -999.99, 9999.99, n["supplier"])),
        }
    )
    r = rngs["part"]
    adj = np.asarray(PART_ADJ, dtype=object)[r.integers(0, len(PART_ADJ), n["part"])]
    noun = np.asarray(PART_NOUN, dtype=object)[r.integers(0, len(PART_NOUN), n["part"])]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n["part"], dtype=np.int64)),
            "p_name": pa.array(adj + " " + noun, pa.string()),
            "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n["part"])], pa.string()),
            "p_type": _pick(r, PART_TYPES, n["part"]),
            "p_size": pa.array(r.integers(1, 51, n["part"], dtype=np.int32)),
            "p_retailprice": pa.array(_money(r, 900.0, 2100.0, n["part"])),
        }
    )
    out["orders"] = orders_table(rngs["orders"], n["orders"], n["customer"])
    r = rngs["lineitem"]
    m = n["lineitem"]
    qty = r.integers(1, 51, m).astype(np.float64)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(r.integers(0, n["orders"], m, dtype=np.int64)),
            "l_partkey": pa.array(r.integers(0, n["part"], m, dtype=np.int64)),
            "l_suppkey": pa.array(r.integers(0, n["supplier"], m, dtype=np.int64)),
            "l_linenumber": pa.array(r.integers(1, 8, m, dtype=np.int32)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * _money(r, 900.0, 2100.0, m), 2)),
            "l_discount": pa.array(r.integers(0, 11, m) / 100.0),
            "l_tax": pa.array(r.integers(0, 9, m) / 100.0),
            "l_returnflag": _pick(r, ["A", "N", "R"], m),
            "l_linestatus": _pick(r, ["F", "O"], m),
            "l_shipdate": _days(SHIP_DAY0, r.integers(0, SHIP_DAYS, m)),
        }
    )
    if with_events:
        r = rngs["events"]
        e = n["events"]
        ts = np.sort(r.integers(0, EVENT_SPAN_US, e))
        out["events"] = pa.table(
            {
                "event_id": pa.array(np.arange(e, dtype=np.int64)),
                "ts": pa.array(EVENT_T0 + ts.astype("timedelta64[us]"), pa.timestamp("us")),
                "user_id": pa.array(r.integers(0, n["customer"], e, dtype=np.int64)),
                "event_type": _pick(r, EVENT_TYPES, e),
                "value": pa.array(_money(r, 0.0, 500.0, e)),
                "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, e)], pa.string()),
            }
        )
    return out


def _write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _write_csv(table: pa.Table, path: str) -> None:
    pacsv.write_csv(table, path)


def _write_jsonl(table: pa.Table, path: str) -> None:
    table.to_pandas().to_json(path, orient="records", lines=True, date_format="iso", date_unit="us")


# CDC per batch. The inserts are one day of new orders at the base
# table's own daily rate (its rows over the days its order dates span:
# 62 at sf0.1), dated on the next day. Updates and deletes of orders in
# the newest year, and late inserts dated in ONE older year, ride along
# at these shares of the inserts, at least one each. No trace of this
# system's change traffic exists, so the shares are assumptions; what
# the merge rewrites barely depends on them, since any batch with one
# newest-year change and one late row rewrites the same two partitions.
CDC_UPDATE, CDC_DELETE, CDC_LATE = 0.08, 0.06, 0.04


def cdc_sizes(base: pa.Table) -> tuple[int, int, int, int]:
    """(inserts, updates, deletes, late inserts) per batch."""
    days = base.column("o_orderdate").to_numpy().astype("datetime64[D]")
    span = int((days.max() - days.min()).astype(np.int64)) + 1
    n_ins = max(1, round(len(days) / span))
    return (n_ins, *(max(1, round(n_ins * s)) for s in (CDC_UPDATE, CDC_DELETE, CDC_LATE)))


def cdc_batches(seed: int, base: pa.Table, n_batches: int) -> list[pa.Table]:
    """Seeded CDC batches against ``base`` (an orders table with an
    ``o_year`` column). Each key is updated or deleted at most once over
    the whole sequence, and batch ``i`` inserts new keys dated on day
    ``newest + i + 1``."""
    rng = np.random.default_rng([seed, 99])
    n_ins, n_upd, n_del, n_late = cdc_sizes(base)
    years = base.column("o_year").to_numpy()
    newest_year = int(years.max())
    recent = np.flatnonzero(years == newest_year)
    touched = rng.permutation(recent)[: n_batches * (n_upd + n_del)]
    if len(touched) < n_batches * (n_upd + n_del):
        raise ValueError("base table too small for the requested CDC sequence")
    newest = base.column("o_orderdate").to_numpy().max().astype("datetime64[D]")
    next_key = int(base.column("o_orderkey").to_numpy().max()) + 1
    n_customers = int(base.column("o_custkey").to_numpy().max()) + 1
    old_years = np.arange(int(years.min()), newest_year)
    batches = []
    for i in range(n_batches):
        ins = orders_table(rng, n_ins, n_customers, next_key)
        ins = _replace(ins, "o_orderdate", _days(newest, np.full(n_ins, i + 1)))
        next_key += n_ins
        late = orders_table(rng, n_late, n_customers, next_key)
        year = int(rng.choice(old_years))
        start = np.datetime64(f"{year}-01-01", "D")
        late = _replace(late, "o_orderdate", _days(start, rng.integers(0, 365, n_late)))
        next_key += n_late
        rows = touched[i * (n_upd + n_del) : (i + 1) * (n_upd + n_del)]
        old = base.take(pa.array(rows)).drop(["o_year"])
        upd = old.slice(0, n_upd)
        upd = _replace(upd, "o_totalprice", pa.array(_money(rng, 900.0, 450_000.0, n_upd)))
        upd = _replace(upd, "o_orderstatus", pa.array(["F"] * n_upd))
        dele = old.slice(n_upd)
        parts = [(ins, "I"), (late, "I"), (upd, "U"), (dele, "D")]
        t = pa.concat_tables([p for p, _ in parts])
        ops = np.concatenate([np.full(p.num_rows, op, dtype=object) for p, op in parts])
        order = rng.permutation(t.num_rows)
        t = with_year(t.take(pa.array(order)))
        t = t.append_column("op", pa.array(ops[order], pa.string()))
        seq = np.arange(t.num_rows, dtype=np.int64) + np.int64(i) * 1_000_000
        batches.append(t.append_column("seq", pa.array(seq)))
    return batches


def with_year(orders: pa.Table) -> pa.Table:
    years = orders.column("o_orderdate").to_numpy().astype("datetime64[Y]").astype(np.int64) + 1970
    return orders.append_column("o_year", pa.array(years.astype(np.int32)))


def generate(kind: str, seed: int, sf: float, out: str, n_batches: int = 0) -> dict:
    """Write one dataset into ``out`` (replacing it) and return its
    manifest: per-file row counts, bytes and md5 checksums."""
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)
    files: dict[str, pa.Table] = {}
    if kind == "star":
        for name, t in star_tables(seed, sf, with_events=False).items():
            _write_parquet(t, os.path.join(out, f"{name}.parquet"))
            files[f"{name}.parquet"] = t
    elif kind == "mixed":
        tables = star_tables(seed, sf, with_events=True)
        writers = {"customer": "csv", "part": "csv", "supplier": "csv", "events": "jsonl", "orders": "parquet", "lineitem": "parquet"}
        for name, fmt in writers.items():
            fname = f"{name}.{fmt}"
            {"csv": _write_csv, "jsonl": _write_jsonl, "parquet": _write_parquet}[fmt](tables[name], os.path.join(out, fname))
            files[fname] = tables[name]
    elif kind == "delta":
        base = with_year(star_tables(seed, sf, with_events=False)["orders"])
        _write_parquet(base, os.path.join(out, "orders.parquet"))
        files["orders.parquet"] = base
        os.makedirs(os.path.join(out, "cdc"))
        for i, b in enumerate(cdc_batches(seed, base, n_batches)):
            fname = os.path.join("cdc", f"batch_{i:03d}.parquet")
            _write_parquet(b, os.path.join(out, fname))
            files[fname] = b
    else:
        raise ValueError(f"unknown dataset kind {kind!r}")
    manifest = {
        "params": _params(kind, seed, sf, n_batches),
        "files": {
            f: {"rows": t.num_rows, "bytes": os.path.getsize(os.path.join(out, f)), "md5": _md5(os.path.join(out, f))}
            for f, t in sorted(files.items())
        },
    }
    with open(os.path.join(out, DONE), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    return manifest


def _md5(path: str) -> str:
    h = hashlib.md5()
    with open(path, "rb") as fh:
        for chunk in iter(lambda: fh.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def _params(kind: str, seed: int, sf: float, n_batches: int) -> dict:
    return {"kind": kind, "seed": seed, "sf": sf, "batches": n_batches}


def cached(kind: str, seed: int, sf: float, out: str, n_batches: int = 0) -> dict:
    """``generate`` unless ``out`` already holds this exact dataset."""
    done = os.path.join(out, DONE)
    if os.path.exists(done):
        with open(done) as fh:
            manifest = json.load(fh)
        if manifest["params"] == _params(kind, seed, sf, n_batches):
            return manifest
    return generate(kind, seed, sf, out, n_batches)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--kind", choices=["star", "mixed", "delta"], required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--sf", type=float, required=True)
    p.add_argument("--out", required=True)
    a = p.parse_args(argv)
    n_batches = plan.delta_batches(RUN_SECONDS) if a.kind == "delta" else 0
    m = generate(a.kind, a.seed, a.sf, a.out, n_batches)
    print(json.dumps(m["files"], indent=1, sort_keys=True))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
