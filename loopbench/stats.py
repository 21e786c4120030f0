"""Summary rules of the benchmark: typical pass, latency percentiles and the
shape of the result line. Pure functions, pinned by ``test_loopbench.py``."""

from __future__ import annotations

import json
import math
import re
import statistics
from collections import defaultdict

#: Metric names and units as the result line allows them.
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

#: A tail percentile needs at least this many samples beyond it.
TAIL_BEYOND = 10


def typical_pass(passes: list[list[tuple[str, float]]]) -> float:
    """Wall time of a typical pass.

    ``passes`` holds, per measured pass, the ``(call key, value)`` of every
    call in it: an operator, or a request template that runs several times
    per pass. Each key's median over all measured passes is multiplied by
    its count per pass and summed, so one slow pass moves the result only
    as far as it moves the medians.
    """
    values: dict[str, list[float]] = defaultdict(list)
    count: dict[str, int] = defaultdict(int)
    for calls in passes:
        per_pass: dict[str, int] = defaultdict(int)
        for key, value in calls:
            values[key].append(value)
            per_pass[key] += 1
        for key, c in per_pass.items():
            count[key] = max(count[key], c)
    return sum(count[k] * statistics.median(v) for k, v in values.items())


def latency_summary(samples: list[float]) -> dict:
    """Median and tail of one homogeneous latency sample.

    The tail is the highest percentile, at or above the median, that still
    has ``TAIL_BEYOND`` samples beyond it: the ``(n - TAIL_BEYOND)``-th
    smallest sample, at percentile ``100 * (n - TAIL_BEYOND) / n``. With
    fewer than ``2 * TAIL_BEYOND + 1`` samples no such percentile exists and
    the tail is the maximum (percentile 100, no samples beyond).
    """
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no latency samples")
    p50 = statistics.median(xs)
    k = n - TAIL_BEYOND
    if n >= 2 * TAIL_BEYOND + 1:
        tail, pct, beyond = xs[k - 1], 100.0 * k / n, TAIL_BEYOND
    else:
        tail, pct, beyond = xs[-1], 100.0, 0
    return {"p50": p50, "tail": tail, "tail_pct": pct, "n": n, "tail_beyond": beyond}


def metric(value: float, unit: str) -> dict:
    if not UNIT_RE.match(unit):
        raise ValueError(f"bad unit {unit!r}")
    if not isinstance(value, (int, float)) or not math.isfinite(value):
        raise ValueError(f"bad metric value {value!r}")
    return {"value": value, "unit": unit}


def result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    """The last stdout line: exactly ``correct``, ``attempted``, ``failed``
    and ``metrics`` (each metric a ``{"value", "unit"}`` object)."""
    for name, m in metrics.items():
        if not NAME_RE.match(name):
            raise ValueError(f"bad metric name {name!r}")
        metric(m["value"], m["unit"])
    if attempted < 1 or not 0 <= failed <= attempted:
        raise ValueError(f"bad counts attempted={attempted} failed={failed}")
    return json.dumps(
        {
            "correct": bool(correct),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": metrics,
        },
        sort_keys=False,
    )
