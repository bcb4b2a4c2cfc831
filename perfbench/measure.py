"""Pure arithmetic of the benchmark: percentiles, span self time and
result digests. No Spark here, so the rules are unit-testable."""

from __future__ import annotations

import hashlib


def tail(samples: list[float], beyond: int = 10) -> tuple[float, float]:
    """The highest percentile that still has ``beyond`` samples above
    it: the sample ranked ``beyond + 1``-th from the top, and its
    percentile ``100 * (n - beyond) / n``."""
    n = len(samples)
    if n <= beyond:
        raise ValueError(f"{n} samples cannot have {beyond} beyond a percentile")
    return sorted(samples)[n - beyond - 1], 100.0 * (n - beyond) / n


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id -> its duration minus the part of it that its child
    spans cover (children clipped to the parent's interval, overlaps
    between children counted once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        parent = by_id.get(s.get("parent"))
        if parent is not None:
            lo, hi = max(s["start"], parent["start"]), min(s["end"], parent["end"])
            if hi > lo:
                children.setdefault(parent["id"], []).append((lo, hi))
    return {
        s["id"]: (s["end"] - s["start"]) - _covered(children.get(s["id"], []))
        for s in spans
    }


def digest(normalized_rows: list[tuple]) -> str:
    """Digest of rows already put in canonical order (the oracle's
    ``_normalize``), so equal results give equal digests whatever
    order Spark returned them in."""
    h = hashlib.sha256()
    for row in normalized_rows:
        h.update(repr(row).encode())
        h.update(b"\n")
    return h.hexdigest()
