"""What each workload works on and how much of it one run times.

``--seconds`` sets the amount of work, at about what a 4-core machine
completes in that time: per 10 s, one cold load, six CDC batches, or
one round of the query mix per client. Every run of a workload therefore
times the same operations, and no run is cut mid-operation by a clock.
"""

# workload -> (dataset kind in gen.py, scale factor)
DATASETS = {
    "full_load": ("mixed", 0.1),
    "daily_delta": ("delta", 0.1),
    "star_queries": ("star", 0.1),
}

LOADS_PER_10S = 1
BATCHES_PER_10S = 6
ROUNDS_PER_10S = 1
# Untimed CDC batches first: the merge path keeps speeding up over the
# first three as the JIT compiles it.
WARMUP_BATCHES = 3


def ops(seconds: float, per_10s: int) -> int:
    """Timed operations in a run of ``seconds``."""
    return max(1, round(seconds * per_10s / 10))


def delta_batches(seconds: float) -> int:
    """CDC batches a daily_delta run applies, warm-up included."""
    return WARMUP_BATCHES + ops(seconds, BATCHES_PER_10S)
