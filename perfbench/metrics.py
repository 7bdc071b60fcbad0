"""Workload and metric names and units, read from BENCHMARK.json at the
repository root: the one place they are defined.

End-to-end metrics exist on every workload, where an operation is one
``run_pipeline`` load (full_load), one CDC batch merged and folded
(daily_delta) or one analyst query (star_queries). Per-layer metrics
come from the traced run; a layer a workload never calls reports 0.
"""

import json
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    _BENCHMARK = json.load(_fh)

RUN_SECONDS = _BENCHMARK["run_seconds"]
WORKLOADS = tuple(w["name"] for w in _BENCHMARK["workloads"])
END_TO_END = tuple(m["name"] for m in _BENCHMARK["end_to_end"])
PER_LAYER = tuple(m["name"] for m in _BENCHMARK["per_layer"])
UNITS = {m["name"]: m["unit"] for m in _BENCHMARK["end_to_end"] + _BENCHMARK["per_layer"]}

# Spans the benchmark opens around calls into the program; each reports
# "<span>.jobs" and "<span>.tasks" per call, children included.
SPANS = tuple(n.removesuffix(".jobs") for n in PER_LAYER if n.endswith(".jobs"))
