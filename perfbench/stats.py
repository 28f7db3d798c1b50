"""Statistics and the metric line of the benchmark (pure functions, tested by
perfbench/test_stats.py)."""
import json
import math

TAIL_BEYOND = 10   # samples that must lie beyond a reported tail percentile


def median(values):
    xs = sorted(values)
    if not xs:
        raise ValueError("median of no values")
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2.0


def tail_percentile(n, beyond=TAIL_BEYOND):
    """The highest integer percentile p (1..99) that, among n samples, has at
    least `beyond` samples above it by nearest rank (rank ceil(p/100 * n))."""
    if n <= beyond:
        raise ValueError(f"{n} samples: a tail needs more than {beyond}")
    return next(p for p in range(99, 0, -1) if n - math.ceil(p * n / 100) >= beyond)


def nearest_rank(values, p):
    """The p-th percentile by nearest rank: the ceil(p/100 * n)-th smallest."""
    xs = sorted(values)
    return xs[max(1, math.ceil(p * len(xs) / 100)) - 1]


def op_median(samples):
    """Median over ops of each op's median latency (seconds): the latency of
    the typical single op, with every op weighted equally however many
    samples it has."""
    by_op = {}
    for s in samples:
        by_op.setdefault(s["op"], []).append((s["end"] - s["start"]) / 1000.0)
    return median([median(v) for v in by_op.values()])


def count_failures(samples, bad_ops):
    """(attempted, failed) over timed op samples. A sample fails when it
    threw, or when its op's output did not match the oracle (`bad_ops`):
    every execution of a wrong op produced the wrong answer."""
    attempted = len(samples)
    failed = sum(1 for s in samples if s.get("error") or s["op"] in bad_ops)
    return attempted, failed


def pass_walls(samples):
    """Seconds per timed pass: the sum of its op latencies (the per-op
    teardown between ops is outside every timed window)."""
    walls = {}
    for s in samples:
        walls[s["pass"]] = walls.get(s["pass"], 0.0) + (s["end"] - s["start"]) / 1000.0
    return [walls[p] for p in sorted(walls)]


def result_line(correct, attempted, failed, metrics):
    """The benchmark's last stdout line. `metrics` maps name -> (value, unit)."""
    if not isinstance(attempted, int) or not isinstance(failed, int):
        raise TypeError("attempted and failed are whole numbers")
    if attempted < 1 or not 0 <= failed <= attempted:
        raise ValueError(f"attempted={attempted} failed={failed}")
    out = {}
    for name, (value, unit) in metrics.items():
        if value is None or not math.isfinite(value):
            raise ValueError(f"metric {name} has no finite value: {value!r}")
        out[name] = {"value": value, "unit": unit}
    return json.dumps({"correct": bool(correct), "attempted": attempted,
                       "failed": failed, "metrics": out})
