"""Statistics and metric declarations shared by run.py and the self-tests."""
import json
import os
import re

BENCHMARK_JSON = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                              "BENCHMARK.json")
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
# a percentile needs this many samples beyond it, or it is one outlier's value
TAIL_SAMPLES = 10


def _declared(kind):
    with open(BENCHMARK_JSON) as fh:
        return {m["name"]: (m["unit"], m["better"]) for m in json.load(fh)[kind]}


END_TO_END = _declared("end_to_end")
PER_LAYER = _declared("per_layer")


def valid_name(name):
    return NAME.fullmatch(name) is not None


def valid_unit(unit):
    return UNIT.fullmatch(unit) is not None


def percentile(values, q):
    """The q-quantile (0 < q < 1) by linear interpolation between order
    statistics. Refuses a sample with fewer than TAIL_SAMPLES values above
    the quantile, so p90 needs 100 samples and p50 needs 20."""
    n = len(values)
    if not 0 < q < 1:
        raise ValueError(f"quantile {q} is not in (0, 1)")
    if n * (1 - q) < TAIL_SAMPLES - 1e-9:
        raise ValueError(f"p{q * 100:g} of {n} samples has fewer than "
                         f"{TAIL_SAMPLES} samples beyond it")
    xs = sorted(values)
    pos = q * (n - 1)
    lo = int(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    """Plain median; any non-empty sample."""
    if not values:
        raise ValueError("median of no samples")
    xs = sorted(values)
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2
