"""Metric math for the benchmark: medians, geometric means, the tail
percentile rule, table-directory byte accounting and host probes.

Everything here is a pure function of its arguments (or of ``/proc``), so
``perfbench/tests/test_metrics.py`` checks it without Spark.
"""

from __future__ import annotations

import math
import os
import statistics
import time

# Candidate tail percentiles, lowest first.
TAIL_LADDER = (50.0, 90.0, 95.0, 99.0, 99.9)


def median(values) -> float:
    return float(statistics.median(values))


def geomean(values) -> float:
    """Geometric mean of positive values (each op weighs the same)."""
    vals = list(values)
    if not vals or min(vals) <= 0:
        raise ValueError("geomean needs at least one positive value")
    return math.exp(sum(math.log(v) for v in vals) / len(vals))


def nearest_rank(sorted_vals, pct: float) -> float:
    """The ``pct``-th percentile by the nearest-rank rule."""
    n = len(sorted_vals)
    k = max(1, math.ceil(pct / 100.0 * n))
    return float(sorted_vals[min(k, n) - 1])


def tail_percentile(values, min_beyond: int = 10):
    """Highest percentile of TAIL_LADDER with at least ``min_beyond``
    samples strictly beyond it: ``(pct, value, n)``, or ``(None, None, n)``
    when even the median has fewer than ``min_beyond`` samples above it."""
    vals = sorted(values)
    n = len(vals)
    best = None
    for pct in TAIL_LADDER:
        k = max(1, math.ceil(pct / 100.0 * n))
        if n - k >= min_beyond:
            best = (pct, nearest_rank(vals, pct), n)
    return best if best is not None else (None, None, n)


def scan_tree(root: str) -> dict[str, tuple[int, int, int]]:
    """``relative path -> (size, inode, mtime_ns)`` for every regular file
    under ``root``."""
    out: dict[str, tuple[int, int, int]] = {}
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            p = os.path.join(dirpath, fn)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[os.path.relpath(p, root)] = (st.st_size, st.st_ino, st.st_mtime_ns)
    return out


def is_metadata_file(rel: str) -> bool:
    """Table files that are not data or delete files: the pointer file,
    manifests and the writer's side files (``_SUCCESS``, ``.crc``)."""
    top = rel.split(os.sep, 1)[0]
    return top not in ("data", "deletes") or os.path.basename(rel).startswith(("_", "."))


class FileLedger:
    """Counts every file version created under a directory.

    ``observe()`` is called after each operation; a path that is new, or
    whose inode or mtime changed (a rewritten pointer file), counts as a
    newly created file.  Files deleted later stay counted: write
    amplification is about bytes written, not bytes kept."""

    def __init__(self, root: str):
        self.root = root
        self._seen: set[tuple[str, int, int]] = set()
        self.bytes_written = 0
        self.metadata_bytes_written = 0
        self.files_created = 0

    def observe(self) -> None:
        for rel, (size, ino, mtime) in scan_tree(self.root).items():
            key = (rel, ino, mtime)
            if key in self._seen:
                continue
            self._seen.add(key)
            self.files_created += 1
            self.bytes_written += size
            if is_metadata_file(rel):
                self.metadata_bytes_written += size


def write_amp(bytes_written: int, plain_bytes: int) -> float:
    """Bytes of every file the table created over bytes of the inserted
    rows written once as plain parquet."""
    return bytes_written / plain_bytes


def space_amp(disk_bytes: int, live_data_bytes: int) -> float:
    """Bytes on disk over bytes of the current snapshot's data files."""
    return disk_bytes / live_data_bytes


def tree_bytes(root: str) -> int:
    return sum(v[0] for v in scan_tree(root).values())


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def child_pids(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == pid:
            out.append(int(d))
    return out


def jvm_pids(pid: int) -> list[int]:
    """Java processes started by ``pid`` (the driver JVM)."""
    out = []
    for c in child_pids(pid):
        try:
            with open(f"/proc/{c}/comm") as f:
                if f.read().strip() == "java":
                    out.append(c)
        except OSError:
            pass
    return out


def peak_rss_mb(pids) -> float:
    """Sum of the peak resident set sizes (VmHWM) of ``pids``, in MiB."""
    return sum(_status_kb(p, "VmHWM") for p in pids) / 1024.0


# Time metrics are reported scaled to a host on which one
# ``speed_sample`` takes this long (see ``host_adjusted``).
REFERENCE_PROBE_S = 0.0125


def speed_sample() -> float:
    """Wall seconds of one fixed pure-Python unit (about 10 ms here)."""
    t0 = time.perf_counter()
    d: dict[int, int] = {}
    for i in range(80_000):
        d[i & 255] = d.get(i & 255, 0) + i * 3
    return time.perf_counter() - t0


def host_adjusted(raw_s: float, probe_s) -> float:
    """``raw_s`` as it would read on the reference host: scaled by the
    reference probe time over the mean probe time measured between the
    ops of the same window.  The mean, not the median, because the
    host's speed switches between a fast and a slow state every few
    seconds and the mean weighs the two by the time spent in each."""
    return raw_s * REFERENCE_PROBE_S / statistics.fmean(probe_s)


def _probe_unit(_=None) -> float:
    import numpy as np

    b = np.random.default_rng(1).standard_normal(160_000)
    for _i in range(600):
        b = b * 1.0000001 + 0.5
    return float(b[0])


def host_probe(n: int) -> dict:
    """``calibration_sec``: serial wall time of one fixed numpy unit;
    ``effective_cores``: how many such units ``n`` worker processes
    finish in parallel per unit of serial time."""
    from concurrent.futures import ProcessPoolExecutor

    t0 = time.perf_counter()
    _probe_unit()
    base = time.perf_counter() - t0
    with ProcessPoolExecutor(n) as ex:
        list(ex.map(_probe_unit, range(n)))  # start the workers
        t0 = time.perf_counter()
        list(ex.map(_probe_unit, range(n)))
        par = time.perf_counter() - t0
    return {"calibration_sec": round(base, 4),
            "effective_cores": round(n * base / par, 2)}
