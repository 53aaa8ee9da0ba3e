"""Pure helpers shared by the orchestrator and the worker: percentile
summaries, interval arithmetic for span self time and driver gaps, the
failed-operation ratio, and the order-insensitive result digest."""

from __future__ import annotations

import datetime as _dt
import decimal
import hashlib
import math
import statistics

TAIL_MIN_BEYOND = 10


def summarize(values: list[float]) -> dict:
    """Median plus the highest nearest-rank percentile that still has at
    least ``TAIL_MIN_BEYOND`` samples above it, always reported with ``n``.
    The tail is given only when it lies above the median (n > 20)."""
    n = len(values)
    if n == 0:
        return {"n": 0}
    out = {"n": n, "p50": statistics.median(values)}
    pct = (100 * (n - TAIL_MIN_BEYOND)) // n
    if pct > 50:
        rank = math.ceil(pct * n / 100)
        out[f"p{pct}"] = sorted(values)[rank - 1]
    return out


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping ``(start, end)`` intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the time its direct children cover (clipped
    to the span). Spans are dicts with ``id``, ``parent``, ``start``, ``end``."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        kids = [
            (max(a, s["start"]), min(b, s["end"]))
            for a, b in children.get(s["id"], [])
            if min(b, s["end"]) > max(a, s["start"])
        ]
        out[s["id"]] = (s["end"] - s["start"]) - union_length(kids)
    return out


def failed_frac(attempted: int, failed: int) -> float:
    """Operations that failed or gave a wrong output, over operations tried."""
    if attempted < 1:
        raise ValueError("no operation attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, {attempted}]")
    return failed / attempted


def _canon(v):
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v + 0.0  # folds -0.0 into 0.0
    if isinstance(v, decimal.Decimal):
        return "0" if v == 0 else format(v.normalize(), "f")
    if isinstance(v, _dt.datetime):
        return v.isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, _dt.timedelta):
        return v.total_seconds()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), _canon(x)) for k, x in v.items()))
    return str(v)


def result_digest(columns: list[str], rows) -> str:
    """Hash of a result that ignores row order and column order: columns are
    sorted by name, values canonicalised, row reprs sorted, then hashed."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(repr(tuple(_canon(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256()
    h.update(repr([columns[i] for i in order]).encode())
    h.update(str(len(lines)).encode())
    for line in lines:
        h.update(b"\n")
        h.update(line.encode())
    return h.hexdigest()
