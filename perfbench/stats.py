"""Summary statistics and metric records for the benchmark."""
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
TAIL_BEYOND = 10  # a tail percentile needs at least this many samples above it


def min_samples(q):
    """Fewest samples that leave TAIL_BEYOND of them above quantile `q`
    (0 < q < 1). Medians and lower quantiles need one sample."""
    if q <= 0.5:
        return 1
    return int(round(TAIL_BEYOND / (1.0 - q)))


def percentile(values, q):
    """(value, n): linear-interpolated quantile `q` of `values`, or
    (None, n) when there are too few samples to report it."""
    n = len(values)
    if n < min_samples(q) or n == 0:
        return None, n
    xs = sorted(values)
    pos = q * (n - 1)
    lo = int(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo), n


def tail_quantile(n):
    """The highest whole-percent quantile with at least TAIL_BEYOND of
    `n` samples above it, or None when that is not above the median."""
    p = int(100 * (1.0 - TAIL_BEYOND / n)) if n else 0
    while p > 50 and min_samples(p / 100) > n:
        p -= 1
    return p / 100 if p > 50 else None


def median(values):
    return (statistics.median(values) if values else None), len(values)


def failed_frac(attempted, failed):
    """Failed or wrong operations over operations attempted."""
    if attempted <= 0:
        raise ValueError("no operation attempted")
    return failed / attempted


class Metrics:
    """Named metrics with unit and sample count, in insertion order."""

    def __init__(self):
        self.rows = {}

    def add(self, name, value, unit, n=1):
        if not NAME_RE.match(name):
            raise ValueError(f"bad metric name {name!r}")
        if name in self.rows:
            raise ValueError(f"metric {name} recorded twice")
        self.rows[name] = {"value": value, "unit": unit, "n": n}

    def add_stat(self, name, stat, unit):
        value, n = stat
        self.add(name, value, unit, n)

    def lines(self):
        for name, r in self.rows.items():
            v = "n/a (too few samples)" if r["value"] is None else repr(r["value"])
            yield f"metric {name} = {v} {r['unit']} (n={r['n']})"
