"""Order statistics used to summarise repeated timings.

Summarise repeated runs of one workload, one result per file (the last
line of each run's standard output)::

    python3 kgbench/stats.py run1.out run2.out ...
"""

from __future__ import annotations

import json
import statistics
import sys


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no values")
    return float(statistics.median(values))


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(Q1, median, Q3) as ``statistics.quantiles(values, n=4)`` gives
    them (the 'exclusive' method)."""
    if len(values) < 2:
        v = float(values[0])
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return float(q1), float(q2), float(q3)


def spread(values: list[float]) -> float:
    """Inter-quartile range as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else float("inf")


def summarize(results: list[dict]) -> dict[str, dict]:
    """Metric → median, quartiles, spread and sample count over runs."""
    values: dict[str, list[float]] = {}
    for r in results:
        for name, m in r["metrics"].items():
            values.setdefault(name, []).append(float(m["value"]))
    out = {}
    for name, vals in values.items():
        q1, q2, q3 = quartiles(vals)
        out[name] = {"median": q2, "q1": q1, "q3": q3,
                     "spread": spread(vals), "n": len(vals)}
    return out


def main(paths: list[str]) -> int:
    results = []
    for path in paths:
        with open(path) as fh:
            results.append(json.loads(fh.read().strip().splitlines()[-1]))
    failed = sum(r["failed"] for r in results)
    attempted = sum(r["attempted"] for r in results)
    print(f"runs {len(results)}  failed {failed}/{attempted}")
    for name, s in summarize(results).items():
        print(f"{name:<44} median {s['median']:>12.5g}  "
              f"q1 {s['q1']:>12.5g}  q3 {s['q3']:>12.5g}  "
              f"spread {s['spread']:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
