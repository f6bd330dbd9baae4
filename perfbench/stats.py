"""Pure helpers for the benchmark: percentiles with sample support,
open-loop accounting, on-disk bytes and span self time.

Nothing here touches Spark or the library, so the unit tests in
``test_stats.py`` run in milliseconds.
"""

from __future__ import annotations

import math
import os

# candidate tail percentiles, highest first; the tail reported is the
# highest one with at least MIN_BEYOND samples above it
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)
MIN_BEYOND = 10


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    frac = pos - lo
    if frac == 0.0:
        return xs[lo]
    return xs[lo] + (xs[hi] - xs[lo]) * frac


def median(values) -> float:
    return percentile(values, 50.0)


def samples_beyond(n: int, p: float) -> int:
    """How many of ``n`` samples lie above the ``p``-th percentile."""
    return int(math.floor(n * (100.0 - p) / 100.0 + 1e-9))


def tail_percentile(n: int, min_beyond: int = MIN_BEYOND) -> float | None:
    """The highest ladder percentile with ``min_beyond`` samples beyond
    it, or None when the sample is too small for any tail."""
    for p in TAIL_LADDER:
        if samples_beyond(n, p) >= min_beyond:
            return p
    return None


def tail(values, min_beyond: int = MIN_BEYOND) -> dict | None:
    """``{"p", "value", "n", "beyond"}`` for the supported tail, else None."""
    n = len(values)
    p = tail_percentile(n, min_beyond)
    if p is None:
        return None
    return {"p": p, "value": percentile(values, p), "n": n,
            "beyond": samples_beyond(n, p)}


def due_times(t0: float, rate: float, duration: float) -> list[float]:
    """Open-loop schedule: one request every ``1/rate`` s from ``t0``."""
    n = int(round(rate * duration))
    return [t0 + i / rate for i in range(n)]


def open_loop_summary(records, limit_s: float) -> dict:
    """Summarize open-loop records ``(due, sent, done, ok)``.

    Latency runs from the DUE time, so a stall that delays later sends is
    charged to those requests too. A failed request counts as an infinite
    latency: it misses the limit and sorts into the tail.
    """
    lat, late, misses = [], [], 0
    for due, sent, done, ok in records:
        late.append(max(0.0, sent - due))
        d = (done - due) if ok else math.inf
        lat.append(d)
        if d > limit_s:
            misses += 1
    n = len(records)
    if n == 0:
        raise ValueError("open loop sent no requests")
    first_due = min(r[0] for r in records)
    last_done = max(r[2] for r in records)
    return {
        "n": n,
        "latency_s": lat,
        "late_p99_s": percentile(late, 99.0),
        "limit_miss_frac": misses / n,
        "achieved_rate": n / max(last_done - first_due, 1e-9),
    }


def tree_bytes(root: str) -> int:
    """Bytes of all files under ``root``."""
    total = 0
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            try:
                total += os.stat(os.path.join(dirpath, fn)).st_size
            except FileNotFoundError:  # removed while walking
                continue
    return total


def self_times(spans) -> dict:
    """Self time per span id: its duration minus the union of its direct
    children's intervals clipped to it. ``spans`` are dicts with ``id``,
    ``parent``, ``t0`` and ``t1``."""
    children: dict = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        ivs = sorted(
            (max(c["t0"], s["t0"]), min(c["t1"], s["t1"]))
            for c in children.get(s["id"], ())
        )
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in ivs:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["t1"] - s["t0"]) - covered
    return out


def coverage(spans, roots) -> float:
    """Share of the ``roots``' wall that their child spans cover:
    1 − Σ root self time ÷ Σ root wall (0 when the roots took no time)."""
    wall = sum(r["t1"] - r["t0"] for r in roots)
    if not wall:
        return 0.0
    st = self_times(spans)
    return (wall - sum(st[r["id"]] for r in roots)) / wall
