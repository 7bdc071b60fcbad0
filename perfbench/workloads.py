"""One benchmark run in a fresh process: set up Spark, run a workload's
operations for the measured window, check every output, and write the
result JSON that ``run.py`` prints.

Started by ``run.py`` with the environment already set (cores, driver
memory, local and temp dirs); not meant to be run by hand.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import metrics as M  # noqa: E402
import plan  # noqa: E402
from tracing import Tracer  # noqa: E402

# The analyst mix: the reference test.py star join plus the registered
# star/aggregate plans with small results. The bulk exports
# (window_top_orders, fact_conformed) are left out on purpose.
STAR_MIX = (
    "star_join_detail",
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_regional_revenue",
    "q6_revenue_forecast",
    "q8_market_share",
    "q9_profit_by_nation",
    "q10_returned_items",
    "q18_large_orders",
)
STAR_CLIENTS = 2

CSV_SCHEMAS = {
    "customer": "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING",
    "part": "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, p_size INT, p_retailprice DOUBLE",
    "supplier": "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
}
EVENTS_SCHEMA = "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, value DOUBLE, props STRING"

REVENUE_MEASURES = {"revenue": ("sum", "o_totalprice"), "n": ("count", "*")}


class Run:
    """Per-run state shared by a workload's operations."""

    def __init__(self, args, tracer: Tracer):
        self.seed = args.seed
        self.seconds = args.seconds
        self.inputs = args.inputs
        self.run_dir = args.run_dir
        self.tracer = tracer
        with open(os.path.join(args.inputs, "_DONE.json")) as fh:
            self.manifest = json.load(fh)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.per_layer: dict[str, float] = {}

    def record(self, errors: list[str], n_ops: int = 1) -> None:
        self.attempted += n_ops
        if errors:
            self.failed += n_ops
            self.errors.extend(errors[:5])

    def op(self, fn, *args):
        """Run one operation; an exception counts as a failed op."""
        try:
            return fn(*args), []
        except Exception:
            return None, [traceback.format_exc(limit=6)]


def median_of(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tree_bytes(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under ``path``."""
    total, files = 0, 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += n.endswith(".parquet")
    return total, files


def snapshot(path: str) -> dict[str, tuple[int, int]]:
    out = {}
    for dirpath, _, names in os.walk(path):
        for n in names:
            st = os.stat(os.path.join(dirpath, n))
            out[os.path.join(dirpath, n)] = (st.st_ino, st.st_size)
    return out


def written_since(before: dict, after: dict) -> list[str]:
    """Files that are new or replaced between two snapshots."""
    return [p for p, sig in after.items() if before.get(p) != sig]


@contextlib.contextmanager
def patched(module, names: list[str], wrap):
    """Swap module attributes for ``wrap(name, original)`` for the
    duration; the benchmark's way to span a layer's internal stages
    without editing the program."""
    saved = {n: getattr(module, n) for n in names}
    try:
        for n, fn in saved.items():
            setattr(module, n, wrap(n, fn))
        yield
    finally:
        for n, fn in saved.items():
            setattr(module, n, fn)


# ------------------------------------------------------------ full_load


def full_load(spark, run: Run) -> dict:
    from etl_extractor_spark import pipeline
    from etl_extractor_spark.sources.csv import read_csv
    from etl_extractor_spark.sources.files import read_jsonl
    from etl_extractor_spark.sources.parquet import load_table

    tr = run.tracer
    src = run.inputs
    files = run.manifest["files"]
    rows_in = sum(f["rows"] for f in files.values())
    bytes_in = sum(f["bytes"] for f in files.values())
    expected = checks.full_load_expected(src)

    def sources():
        out = {n: read_csv(spark, os.path.join(src, f"{n}.csv"), schema=s) for n, s in CSV_SCHEMAS.items()}
        out["orders"] = load_table(spark, src, "orders")
        out["lineitem"] = load_table(spark, src, "lineitem")
        out["events"] = read_jsonl(spark, os.path.join(src, "events.jsonl"), schema=EVENTS_SCHEMA)
        return out

    # pipeline's stages and the writers it calls -> span name
    spans = {
        "stage_sources": "pipeline.stage",
        "build_dimensions": "pipeline.dims",
        "build_fact": "pipeline.fact",
        "load_gold": "pipeline.gold",
        "write_overwrite": "sinks.writers.write",
        "write_partitioned": "sinks.writers.write",
    }

    def wrap(name, fn):
        def spanned(*a, **kw):
            with tr.span(spans[name]):
                return fn(*a, **kw)
        return spanned

    def load(i: int):
        lake = os.path.join(run.run_dir, f"lake_{i}")
        with tr.span("op", workload="full_load", i=i):
            with tr.span("sources.open"):
                srcs = sources()
            with tr.span("pipeline.run_pipeline"):
                counts = pipeline.run_pipeline(spark, srcs, os.path.join(lake, "staging"), os.path.join(lake, "gold"))
        return lake, counts

    def checked_load(i: int) -> tuple[float, tuple[int, int] | None]:
        """(load seconds, (bytes, parquet files) under staging+gold).
        run_pipeline writes each output path once, so the lake holds
        exactly what the load wrote."""
        t0 = time.perf_counter()
        out, errors = run.op(load, i)
        dt = time.perf_counter() - t0
        lake = None
        if out is not None:
            errors = checks.check_full_load(expected, out[1], os.path.join(out[0], "gold"))
            lake = tree_bytes(out[0])
        run.record(errors)
        shutil.rmtree(os.path.join(run.run_dir, f"lake_{i}"), ignore_errors=True)
        return dt, lake

    # No warm-up: the nightly job runs in a fresh process, so the first
    # load pays JIT and codegen warm-up, as it does in production.
    times, lakes = [], []
    with patched(pipeline, list(spans), wrap) if tr.enabled else contextlib.nullcontext():
        for i in range(plan.ops(run.seconds, plan.LOADS_PER_10S)):
            dt, lake = checked_load(i)
            times.append(dt)
            if lake is not None:
                lakes.append(lake)
    timed = list(tr.spans)
    if tr.enabled:  # after the window, so the scans warm nothing it measures
        for name, df in sources().items():
            with tr.span("sources.scan", source=name):
                df.write.format("noop").mode("overwrite").save()
    run.per_layer.update(
        {
            "sources.rows_in": rows_in,
            "sources.bytes_in": bytes_in,
            "pipeline.load_rows_per_s": rows_in / median_of(durations(timed, "pipeline.run_pipeline") or times),
            "sinks.writers.write_amp": median_of([b for b, _ in lakes]) / bytes_in,
            "sinks.writers.bytes_written": median_of([b for b, _ in lakes]),
            "sinks.writers.files_written": median_of([f for _, f in lakes]),
        }
    )
    if tr.enabled:
        kids = tr.children()
        gold = [a + b for a, b in zip(durations(timed, "pipeline.fact"), durations(timed, "pipeline.gold"))]
        run.per_layer.update(
            {
                "sources.scan_s": sum(sp.duration for sp in tr.spans if sp.name == "sources.scan"),
                "sources.open_s": median_of(durations(timed, "sources.open")),
                "pipeline.run_pipeline_s": median_of(durations(timed, "pipeline.run_pipeline")),
                "pipeline.stage_s": median_of(durations(timed, "pipeline.stage")),
                "pipeline.dims_s": median_of(durations(timed, "pipeline.dims")),
                "pipeline.gold_s": median_of(gold),
                "pipeline.reconcile_s": median_of(
                    [tr.self_time(sp, kids) for sp in timed if sp.name == "pipeline.run_pipeline"]
                ),
            }
        )
    return {"op_times": times, "ops_per_s": len(times) / sum(times)}


def durations(spans, name: str) -> list[float]:
    return [sp.duration for sp in spans if sp.name == name]


# ---------------------------------------------------------- daily_delta


def daily_delta(spark, run: Run) -> dict:
    from pyspark.sql import functions as F

    from etl_extractor_spark.sinks.incremental import apply_batch
    from etl_extractor_spark.sinks.merge import merge_cdc_apply
    from etl_extractor_spark.sinks.writers import write_partitioned

    tr = run.tracer
    base = os.path.join(run.inputs, "orders.parquet")
    batches = sorted(
        os.path.join(run.inputs, f) for f in run.manifest["files"] if f.startswith("cdc")
    )
    lake = os.path.join(run.run_dir, "lake")
    table, state = os.path.join(lake, "orders"), os.path.join(lake, "revenue_state")
    write_partitioned(spark.read.parquet(base), table, ["o_year"])

    applied: list[str] = []
    times, merge_s, fold_s = [], [], []
    parts, rows_ratio, state_bytes, written, cdc_bytes = [], [], [], 0, 0

    def batch(i: int, path: str):
        cdc = spark.read.parquet(path)
        with tr.span("op", workload="daily_delta", i=i):
            t0 = time.perf_counter()
            with tr.span("sinks.merge.cdc_apply"):
                n = merge_cdc_apply(spark, table, cdc, ["o_orderkey"], "o_year")
            t1 = time.perf_counter()
            with tr.span("sinks.incremental.apply_batch"):
                apply_batch(spark, state, cdc.filter(F.col("op") == "I"), ["o_orderdate"], REVENUE_MEASURES, i)
            t2 = time.perf_counter()
        return n, t1 - t0, t2 - t1

    # Warm-up batches are applied and checked, not timed.
    n_batches = plan.delta_batches(run.seconds)
    if len(batches) < n_batches:
        raise ValueError(f"{len(batches)} CDC batches generated, {n_batches} needed")
    for i, path in enumerate(batches[:n_batches]):
        before_t, before_s = snapshot(table), snapshot(state)
        t0 = time.perf_counter()
        out, errors = run.op(batch, i, path)
        dt = time.perf_counter() - t0
        applied.append(path)
        if out is not None:
            want = expected_partitions(path)
            if out[0] != want:
                errors = [f"batch {i}: merge_cdc_apply rewrote {out[0]} partitions, want {want}"]
        run.record(errors)
        if i < plan.WARMUP_BATCHES:
            continue
        new_t = written_since(before_t, snapshot(table))
        new_s = written_since(before_s, snapshot(state))
        times.append(dt)
        if out is not None:
            parts.append(out[0])
            merge_s.append(out[1])
            fold_s.append(out[2])
        rows_ratio.append(parquet_rows([p for p in new_t if p.endswith(".parquet")]) / parquet_rows([path]))
        state_bytes.append(sum(os.path.getsize(p) for p in new_s))
        written += sum(os.path.getsize(p) for p in new_t) + state_bytes[-1]
        cdc_bytes += os.path.getsize(path)

    errors = checks.check_delta(base, applied, table, state)
    if errors:  # the replay covers every batch, so a mismatch fails them all
        run.failed = run.attempted
        run.errors.extend(errors[:5])
    run.per_layer.update(
        {
            "sinks.merge.cdc_apply_s": median_of(merge_s),
            "sinks.incremental.apply_batch_s": median_of(fold_s),
            "sinks.merge.partitions_rewritten": statistics.fmean(parts) if parts else 0.0,
            "sinks.merge.rows_rewritten_per_delta_row": statistics.fmean(rows_ratio),
            "sinks.incremental.state_bytes_rewritten": statistics.fmean(state_bytes),
            "sinks.merge.table_files": tree_bytes(table)[1],
            "sinks.merge.write_amp": written / cdc_bytes,
        }
    )
    return {"op_times": times, "ops_per_s": len(times) / sum(times)}


def parquet_rows(paths: list[str]) -> int:
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(p).num_rows for p in paths)


def expected_partitions(path: str) -> int:
    import pyarrow.parquet as pq

    return len(set(pq.read_table(path, columns=["o_year"]).column("o_year").to_pylist()))


# --------------------------------------------------------- star_queries


def star_queries(spark, run: Run) -> dict:
    from etl_extractor_spark.plans.registry import all_oracles, all_queries

    tr = run.tracer
    queries, oracles = all_queries(), all_oracles()
    rngs = [random.Random(run.seed * 1000 + c) for c in range(STAR_CLIENTS)]

    def client(cid: int, rounds: int, results: list) -> None:
        """Closed loop over whole rounds: each round runs every query of
        the mix once in a seeded order, so every run times the same mix.
        Appends (name, build_s, exec_s, frame or None, error)."""
        rng = rngs[cid]
        for _ in range(rounds):
            order = list(STAR_MIX)
            rng.shuffle(order)
            for name in order:
                try:
                    with tr.span("op", workload="star_queries", query=name):
                        t0 = time.perf_counter()
                        with tr.span("plans.build", query=name):
                            df = queries[name](spark, run.inputs)
                        t1 = time.perf_counter()
                        with tr.span("plans.exec", query=name):
                            pdf = df.toPandas()
                        t2 = time.perf_counter()
                    results.append((name, t1 - t0, t2 - t1, pdf, None))
                except Exception:
                    results.append((name, 0.0, 0.0, None, traceback.format_exc(limit=6)))

    # Warm-up, untimed: one round per client. The first result of each
    # query is checked against its oracle and becomes the reference that
    # every later result is compared with.
    warm: list[tuple] = []
    clients(client, [(c, 1, warm) for c in range(STAR_CLIENTS)])
    con = checks.connect()
    checks.star_views(con, run.inputs)
    reference, oracle_errors = {}, {}
    for name, _, _, pdf, err in warm:
        if name in reference:
            continue
        errors = checks.check_query(pdf, con, oracles[name]) if err is None else [err]
        if errors:
            oracle_errors[name] = errors
        else:
            reference[name] = pdf
    con.close()

    results: list[tuple] = []
    n0 = len(tr.spans)
    t_start = time.perf_counter()
    clients(client, [(c, plan.ops(run.seconds, plan.ROUNDS_PER_10S), results) for c in range(STAR_CLIENTS)])
    wall = time.perf_counter() - t_start

    for name, _, _, pdf, err in warm + results:
        if err is None and name in reference:
            run.record([f"{name}: {e}" for e in checks.compare_frames(pdf, reference[name])])
        else:
            run.record([f"{name}: {err or oracle_errors[name][0]}"])
    ok = [r for r in results if r[4] is None]
    totals = [b + e for _, b, e, _, _ in ok]
    run.per_layer.update(
        {
            "plans.build_ms": 1000 * median_of([b for _, b, _, _, _ in ok]),
            "plans.exec_ms": 1000 * median_of([e for _, _, e, _, _ in ok]),
            "plans.query_p90_ms": 1000 * statistics.quantiles(totals, n=10)[-1] if len(totals) > 1 else 0.0,
            "plans.queries": len(ok),
        }
    )
    for name in STAR_MIX:
        run.per_layer[f"plans.{name}.exec_ms"] = 1000 * median_of([e for n, _, e, _, _ in ok if n == name])
    if tr.enabled:
        tr.resolve_jobs()
        ops = [sp for sp in tr.spans[n0:] if sp.name == "op"]
        kids = tr.children()
        run.per_layer["plans.tasks_per_query"] = statistics.fmean(tr.inclusive(sp, kids)[1] for sp in ops) if ops else 0.0
    return {"op_times": totals, "ops_per_s": len(ok) / wall}


def clients(fn, arg_lists: list[tuple]) -> None:
    """Run ``fn`` once per argument tuple, each in its own thread, and
    wait for all. InheritableThread pins a JVM thread per Python thread,
    so each client's job group stays its own."""
    from pyspark import InheritableThread

    threads = [InheritableThread(target=fn, args=a) for a in arg_lists]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


WORKLOADS = {"full_load": full_load, "daily_delta": daily_delta, "star_queries": star_queries}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], required=True)
    p.add_argument("--inputs", required=True)
    p.add_argument("--run-dir", required=True)
    p.add_argument("--spawned-at", type=float, required=True, help="time.time() when run.py spawned this process")
    p.add_argument("--result", required=True)
    args = p.parse_args(argv)

    tracer = Tracer(run_id=f"{args.workload}-{args.seed}-{os.getpid()}", enabled=bool(args.trace))
    with tracer.span("session.start"):
        from etl_extractor_spark.session import get_spark

        spark = get_spark(app_name=f"perfbench-{args.workload}")
        tracer.attach(spark)
        spark.range(1).count()
    setup_s = time.time() - args.spawned_at
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(os.path.join(args.run_dir, "checkpoints"))

    run = Run(args, tracer)
    try:
        out = WORKLOADS[args.workload](spark, run)
    finally:
        tracer.resolve_jobs()
        spark.stop()

    if args.trace:
        names = tracer.per_name()
        layer = {name: 0.0 for name in M.PER_LAYER}
        layer.update(run.per_layer)
        layer["session.start_s"] = names["session.start"]["total_s"]
        for span in M.SPANS:
            r = names.get(span, {"jobs_per_call": 0.0, "tasks_per_call": 0.0})
            layer[f"{span}.jobs"] = r["jobs_per_call"]
            layer[f"{span}.tasks"] = r["tasks_per_call"]
        layer["trace.op_p50_ms"] = 1000 * median_of(out["op_times"])
        layer["trace.bookkeeping_ms"] = 1000 * tracer.bookkeeping_s
        layer["trace.overhead_pct"] = 100 * tracer.bookkeeping_s / (sum(out["op_times"]) or 1.0)
        unknown = set(layer) - set(M.PER_LAYER)
        if unknown:
            raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
        metrics = {k: layer[k] for k in M.PER_LAYER}
        tracer.dump(os.path.join(args.run_dir, "spans.jsonl"))
        with open(os.path.join(args.run_dir, "layers.txt"), "w") as fh:
            fh.write(tracer.table() + "\n")
    else:
        metrics = {
            "setup_s": setup_s,
            "op_p50_ms": 1000 * median_of(out["op_times"]),
            "ops_per_s": out["ops_per_s"],
        }
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
        "errors": run.errors,
        "op_times": out["op_times"],
    }
    with open(args.result, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
