"""Summaries and output lines shared by every workload.

Timings are reported as a median and the highest percentile that has at
least ten samples beyond it, with the sample count; a failed request counts
as beyond any limit. Every result line is short JSON so that the last lines
of a run still parse from a ~2 KB tail of standard output.
"""
import json
import math
import re

# Percentiles a tail may be reported at, highest first. A tail drops to the
# next one down until at least MIN_BEYOND samples lie beyond it.
TAIL_LADDER = (99.0, 95.0, 90.0, 80.0, 75.0, 50.0)
MIN_BEYOND = 10
MAX_LINE = 1024
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def valid_name(name):
    return bool(NAME_RE.match(name))


def quantile(values, pct):
    """Linear-interpolated percentile of a non-empty list (pct in 0..100)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of no samples")
    pos = (len(xs) - 1) * pct / 100.0
    lo = math.floor(pos)
    hi = math.ceil(pos)
    if xs[lo] == xs[hi]:
        return xs[lo]
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_pct(n):
    """Highest ladder percentile with at least MIN_BEYOND of n samples
    beyond it; the median when the sample is too small for any of them."""
    for p in TAIL_LADDER:
        if n * (100.0 - p) / 100.0 >= MIN_BEYOND:
            return p
    return 50.0


def tail(values, failed=0):
    """(value, percentile, n) of the tail. `failed` requests count as
    samples beyond any limit, so they sit at +inf."""
    n = len(values) + failed
    p = tail_pct(n)
    v = quantile(list(values) + [math.inf] * failed, p)
    return v, p, n


def median(values):
    return quantile(values, 50.0)


def geomean(values):
    return math.exp(sum(math.log(v) for v in values) / len(values))


def metric_line(name, workload, value, unit, n=None, pct=None):
    if not valid_name(name):
        raise ValueError(f"bad metric name {name!r}")
    rec = {"metric": name, "workload": workload, "value": value, "unit": unit}
    if n is not None:
        rec["n"] = n
    if pct is not None:
        rec["pct"] = pct
    line = json.dumps(rec, separators=(",", ":"))
    if len(line) > MAX_LINE:
        raise ValueError(f"metric line over {MAX_LINE} bytes: {name}")
    return line


def result_line(correct, attempted, failed, metrics):
    """The contract line: metrics is {name: (value, unit)}."""
    return json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }, separators=(",", ":"))


def parse_tail(text):
    """Parse the result and metric lines out of the end of a run's output,
    which may start mid-line. Returns (result or None, [metric lines])."""
    result, metrics = None, []
    for line in text.splitlines():
        line = line.strip()
        if not line.startswith("{"):
            continue
        try:
            rec = json.loads(line)
        except ValueError:
            continue
        if "metrics" in rec and "correct" in rec:
            result = rec
        elif "metric" in rec:
            metrics.append(rec)
    return result, metrics
