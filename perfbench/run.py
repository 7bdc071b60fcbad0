"""Benchmark entry point: one workload, one seed, one measured window.

    python3 perfbench/run.py --workload full_load --seed 1 --seconds 10 --trace 0

Generates (or reuses) the seeded inputs, starts the workload in a fresh
process with its environment set from here, samples the process tree's
resident memory, and prints one JSON line as the last line of stdout:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones and prints the per-layer self-time table to stderr.
Exits non-zero when any output is wrong or the run cannot complete.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics as M  # noqa: E402
import plan  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench_work")
DEADLINE_S = 170  # the whole command must end within 180 s
KEEP_INPUTS = 12  # cached input sets kept, most recently used first


def fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    raise SystemExit(code)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem() -> str:
    """2 GiB, or a quarter of physical memory if that is less: the
    program's 24g default would exceed small machines, and a heap the
    workloads fill keeps peak_rss_mb from tracking GC timing."""
    with open("/proc/meminfo") as fh:
        total_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return f"{max(512, min(2048, total_kb // (4 * 1024)))}m"


def inputs_for(workload: str, seed: int, seconds: int) -> str:
    kind, sf = plan.DATASETS[workload]
    root = os.path.join(WORK, "inputs")
    out = os.path.join(root, f"{kind}-sf{sf}-seed{seed}")
    gen.cached(kind, seed, sf, out, n_batches=plan.delta_batches(seconds) if kind == "delta" else 0)
    os.utime(out)
    cached = sorted((os.path.join(root, d) for d in os.listdir(root)), key=os.path.getmtime, reverse=True)
    for old in cached[KEEP_INPUTS:]:
        shutil.rmtree(old, ignore_errors=True)
    return out


def child_env(run_dir: str) -> dict:
    env = dict(os.environ)
    tmp = os.path.join(run_dir, "tmp")
    env.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus()),
            "SPARK_GRAFT_DRIVER_MEM": driver_mem(),
            "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
            "TMPDIR": tmp,
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
            "PYTHONPATH": ROOT + os.pathsep + env.get("PYTHONPATH", ""),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
        }
    )
    return env


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, pgid) for every live process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            out[int(d)] = (int(fields[1]), int(fields[2]))
        except (OSError, IndexError, ValueError):
            continue
    return out


def tree_rss_mb(root_pid: int) -> float:
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    total_kb, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as fh:
                total_kb += next((int(line.split()[1]) for line in fh if line.startswith("VmRSS:")), 0)
        except OSError:
            continue
    return total_kb / 1024


class RssSampler(threading.Thread):
    def __init__(self, pid: int, every_s: float = 0.2):
        super().__init__(daemon=True)
        self.pid, self.every_s = pid, every_s
        self.peak_mb = 0.0
        self.stop = threading.Event()

    def run(self) -> None:
        while not self.stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.pid))
            self.stop.wait(self.every_s)


def reap_group(pgid: int) -> None:
    """Stop whatever the workload process left in its process group
    and wait until it is gone."""
    for sig, wait_s in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        t_end = time.time() + wait_s
        while True:
            left = [p for p, (_, g) in _proc_table().items() if g == pgid]
            if not left:
                return
            if time.time() >= t_end:
                break
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def main(argv: list[str] | None = None) -> int:
    t0 = time.time()
    p = argparse.ArgumentParser(description="perfbench: one seeded benchmark run")
    p.add_argument("--workload", choices=M.WORKLOADS, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "etl_extractor_spark", "pipeline.py")):
        fail(f"no program to benchmark: {ROOT}/etl_extractor_spark is missing")

    inputs = inputs_for(args.workload, args.seed, args.seconds)
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, sub))
    result_path = os.path.join(run_dir, "result.json")
    log_path = os.path.join(run_dir, "workload.log")

    cmd = [
        sys.executable, os.path.join(HERE, "workloads.py"),
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--inputs", inputs, "--run-dir", run_dir, "--result", result_path,
    ]
    with open(log_path, "w") as log:
        spawned_at = time.time()
        child = subprocess.Popen(
            [*cmd, "--spawned-at", repr(spawned_at)],
            cwd=run_dir, env=child_env(run_dir), stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
        )
        sampler = RssSampler(child.pid)
        sampler.start()
        try:
            code = child.wait(timeout=max(1.0, DEADLINE_S - (time.time() - t0)))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            sampler.stop.set()
            sampler.join()
            reap_group(child.pid)
            child.wait()

    if code != 0 or not os.path.exists(result_path):
        with open(log_path) as fh:
            tail = fh.read()[-4000:]
        fail(f"workload process {'timed out' if code is None else f'exited {code}'}; log tail:\n{tail}", 1)
    with open(result_path) as fh:
        result = json.load(fh)
    for err in result.pop("errors"):
        print(f"perfbench: check failed: {err}", file=sys.stderr)
    if args.trace:
        traces = os.path.join(WORK, "traces")
        os.makedirs(traces, exist_ok=True)
        shutil.copy(os.path.join(run_dir, "spans.jsonl"), os.path.join(traces, f"{args.workload}-seed{args.seed}.jsonl"))
        with open(os.path.join(run_dir, "layers.txt")) as fh:
            print(fh.read(), file=sys.stderr, end="")
    result["metrics"]["process.peak_rss_mb"] = sampler.peak_mb
    times = " ".join(f"{t:.2f}" for t in result.pop("op_times"))
    print(f"perfbench: {args.workload} seed {args.seed}: timed ops (s): {times}", file=sys.stderr)
    shutil.rmtree(run_dir, ignore_errors=True)

    out = report(result, bool(args.trace))
    print(json.dumps(out))
    return 0 if out["correct"] else 1


def report(result: dict, trace: bool) -> dict:
    """The printed result: end-to-end metrics untraced, per-layer ones
    traced, each with its unit."""
    names = M.PER_LAYER if trace else M.END_TO_END
    return {
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {n: {"value": result["metrics"][n], "unit": M.UNITS[n]} for n in names},
    }


if __name__ == "__main__":
    raise SystemExit(main())
