#!/usr/bin/env python3
"""Sample statistics for benchmark metrics.

summary(xs) -> {"n", "mean", "geomean", "median", "q1", "q3"} plus, for a sample large
enough, "p<k>": the highest of p90/p95/p99 that still has at least
MIN_TAIL samples strictly beyond it (a p99 of 50 samples is one point,
not a percentile). Quartiles follow statistics.quantiles(n=4), the
"exclusive" method.

Self-test:  python3 perfbench/stats.py --self-test
"""
import math
import statistics
import sys

MIN_TAIL = 10
TAILS = (99, 95, 90)


def percentile(xs, p):
    """Nearest-rank percentile: the smallest x with at least p % of the
    sample at or below it."""
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def tail_percentile(xs):
    """(p, value) for the highest percentile in TAILS with >= MIN_TAIL
    samples strictly above its rank, else None."""
    n = len(xs)
    for p in TAILS:
        if n - math.ceil(p / 100 * n) >= MIN_TAIL:
            return p, percentile(xs, p)
    return None


def summary(xs):
    xs = list(xs)
    if not xs:
        raise ValueError("summary of an empty sample")
    out = {"n": len(xs), "mean": statistics.fmean(xs), "median": statistics.median(xs)}
    if min(xs) > 0:
        out["geomean"] = statistics.geometric_mean(xs)
    if len(xs) >= 2:
        out["q1"], _, out["q3"] = statistics.quantiles(xs, n=4)
    else:
        out["q1"] = out["q3"] = xs[0]
    tail = tail_percentile(xs)
    if tail:
        out[f"p{tail[0]}"] = tail[1]
    return out


def self_test():
    s = summary([5, 1, 3])
    assert s["n"] == 3 and s["median"] == 3 and s["mean"] == 3 and "p90" not in s
    assert summary([2.0])["q1"] == 2.0
    assert abs(summary([1, 4])["geomean"] - 2) < 1e-12 and "geomean" not in summary([0, 1])
    xs = list(range(1, 101))  # 1..100
    assert percentile(xs, 90) == 90 and percentile(xs, 50) == 50
    # 100 samples: p90 leaves 10 beyond it, p95 only 5
    s = summary(xs)
    assert s["p90"] == 90 and "p95" not in s and "p99" not in s
    assert tail_percentile(range(99)) is None          # 99 - 90 = 9 beyond
    assert tail_percentile(range(200))[0] == 95        # 200 - 190 = 10 beyond
    assert tail_percentile(range(1000))[0] == 99
    assert s["q1"] == statistics.quantiles(xs, n=4)[0]
    print("stats self-test ok")


if __name__ == "__main__":
    if sys.argv[1:] == ["--self-test"]:
        self_test()
    else:
        sys.exit("usage: stats.py --self-test")
