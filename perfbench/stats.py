"""Percentiles, resident-memory readings and on-disk hierarchy statistics."""

from __future__ import annotations

import os
import statistics


def median(xs):
    return statistics.median(xs) if xs else None


def geomean(xs):
    """Geometric mean, or None when a value is missing."""
    return None if not xs or None in xs else statistics.geometric_mean(xs)


def percentile(xs, p: float) -> float:
    """Linear-interpolated percentile (p in 0..100)."""
    s = sorted(xs)
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail(xs):
    """(p, value) for the highest of p90/p75/p50 that has at least ten
    samples beyond it, or None when not even p50 has."""
    for p in (90, 75, 50):
        if len(xs) * (100 - p) / 100.0 >= 10:
            return p, percentile(xs, p)
    return None


def _status_kib(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mib(pids) -> float:
    """Sum of each process's resident high-water mark (VmHWM)."""
    return sum(_status_kib(p, "VmHWM") for p in pids) / 1024.0


def hierarchy_stats(root: str) -> dict:
    """Walk a zoom-partitioned hierarchy table: rows, bytes and files, per
    zoom and in total (row counts from the parquet footers)."""
    import pyarrow.parquet as pq

    per_zoom: dict[int, list] = {}
    for d in sorted(os.listdir(root)):
        if not d.startswith("zoom="):
            continue
        z = int(d.split("=", 1)[1])
        files = [
            os.path.join(root, d, f)
            for f in os.listdir(os.path.join(root, d))
            if f.endswith(".parquet") and not f.startswith(".")
        ]
        rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        per_zoom[z] = [rows, sum(os.path.getsize(f) for f in files), len(files)]
    return {
        "per_zoom": per_zoom,
        "rows": sum(v[0] for v in per_zoom.values()),
        "bytes": sum(v[1] for v in per_zoom.values()),
        "files": sum(v[2] for v in per_zoom.values()),
        "files_per_zoom_max": max((v[2] for v in per_zoom.values()), default=0),
    }
