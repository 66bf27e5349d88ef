"""Pure helpers of the benchmark: no Spark, no I/O.

Output digests, order statistics, span self time, job attribution by
job-ID watermark, and folding of streaming progress into per-phase sums.
``test_stats.py`` covers every function here.
"""

from __future__ import annotations

import hashlib
import math
import statistics
from collections.abc import Iterable, Mapping, Sequence

# ---------------------------------------------------------------- digests


def canon(value) -> str:
    """One value as the oracle check prints it: floats rounded to about
    six significant digits, so Spark and DuckDB reduction orders agree.
    Mirrors ``tests/test_entry_oracle.py::_canon``."""
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return str(value)
    if isinstance(value, float):
        if math.isnan(value):
            return "NaN"
        return f"{value:.6g}" if abs(value) >= 1 else f"{value:.6f}"
    if isinstance(value, (list, tuple)):
        return "[" + ",".join(canon(v) for v in value) + "]"
    return str(value)


def digest(columns: Sequence[str], rows: Iterable[Mapping]) -> dict:
    """Order-insensitive digest of a result: its sorted column names, its
    row count, and a sha256 over the sorted canonical rows."""
    cols = sorted(columns)
    lines = sorted("|".join(canon(row[c]) for c in cols) for row in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return {"columns": cols, "rows": len(lines), "sha256": h.hexdigest()}


# ------------------------------------------------------- order statistics


def median(values: Sequence[float]) -> float:
    return statistics.median(values)


def quartiles(values: Sequence[float]) -> tuple[float, float, float]:
    """(Q1, median, Q3) as ``statistics.quantiles(values, n=4)`` gives
    them; a single value is its own quartiles."""
    if len(values) < 2:
        return (values[0],) * 3
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values: Sequence[float]) -> float:
    """Distance between the quartiles as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else math.inf


#: percentiles a sample may support, highest first
_PERCENTILES = (99.9, 99.0, 90.0, 75.0, 50.0)


def top_percentile(values: Sequence[float]) -> tuple[float, float] | None:
    """The highest of p99.9, p99, p90, p75 and p50 that has at least ten
    samples above it, as (p, value); None below ten samples. The value is
    the nearest-rank order statistic."""
    ordered = sorted(values)
    n = len(ordered)
    for p in _PERCENTILES:
        rank = math.ceil(round(p * n / 100.0, 6))  # 1-based nearest rank
        if n - rank >= 10:
            return p, ordered[rank - 1]
    return None


# ------------------------------------------------------------------ spans


def self_time(span: Mapping, children: Iterable[Mapping]) -> float:
    """A span's duration minus the part of it its children cover.
    Children may overlap each other; the covered part is their union,
    clipped to the span."""
    lo, hi = span["start"], span["end"]
    ivs = sorted(
        (max(c["start"], lo), min(c["end"], hi))
        for c in children
        if c["end"] > lo and c["start"] < hi
    )
    covered, cur_lo, cur_hi = 0.0, None, None
    for a, b in ivs:
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (hi - lo) - covered


# ------------------------------------------------------ job attribution


def jobs_between(job_ids: Iterable[int], before: int, after: int) -> list[int]:
    """Jobs a call started, by watermark: the IDs above the highest job
    ID seen before the call, up to the highest seen after it. Spark hands
    out job IDs in submission order across all threads, so this also
    catches jobs a thread-local job group would miss, such as
    micro-batches run by a stream's own thread."""
    return sorted(j for j in job_ids if before < j <= after)


# -------------------------------------------------- streaming progress

#: ``durationMs`` phases that are a micro-batch's bookkeeping rather
#: than its data work (addBatch)
BOOKKEEPING_PHASES = (
    "walCommit", "commitOffsets", "latestOffset", "getBatch", "queryPlanning",
)


def fold_progress(progresses: Iterable[Mapping]) -> dict[str, float]:
    """Sum the micro-batches' ``durationMs`` into ``trigger_ms``
    (triggerExecution), ``add_batch_ms`` and ``bookkeeping_ms`` (the
    phases in ``BOOKKEEPING_PHASES``), with the batch and input-row
    counts. A phase missing from a batch counts as 0."""
    out = {"batches": 0, "input_rows": 0, "trigger_ms": 0.0,
           "add_batch_ms": 0.0, "bookkeeping_ms": 0.0}
    for p in progresses:
        d = p.get("durationMs") or {}
        out["batches"] += 1
        out["input_rows"] += int(p.get("numInputRows") or 0)
        out["trigger_ms"] += float(d.get("triggerExecution", 0))
        out["add_batch_ms"] += float(d.get("addBatch", 0))
        out["bookkeeping_ms"] += sum(float(d.get(k, 0)) for k in BOOKKEEPING_PHASES)
    return out
