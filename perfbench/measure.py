"""Measurement helpers: latency summaries, bytes written and on disk
under the table directories, and peak resident memory."""

from __future__ import annotations

import json
import os
import statistics


def latency_summary(samples: list[float]) -> dict:
    """Median and tail of per-job latencies. The tail is the highest
    percentile with at least ten samples above it (rank n-11 of the
    sorted samples, percentile 100*(n-10)/n) once that rank reaches the
    median, i.e. from 21 samples on; below that the sample cannot
    support a tail percentile and the maximum (p100) is reported."""
    xs = sorted(samples)
    n = len(xs)
    if n >= 21:
        tail, pct = xs[n - 11], 100.0 * (n - 10) / n
    else:
        tail, pct = xs[-1], 100.0
    return {"p50": statistics.median(xs), "tail": tail, "tail_pct": round(pct, 1), "n": n}


def _files(root: str):
    for dirpath, _dirs, names in os.walk(root):
        for name in names:
            path = os.path.join(dirpath, name)
            try:
                st = os.stat(path)
            except FileNotFoundError:  # removed by a concurrent version GC
                continue
            yield path, st


class ByteLedger:
    """Bytes written under table directories, counted once per file
    body: a scan after each write adds every file not seen before, so
    hard-linked carries of unchanged partitions cost nothing and files
    a later write deletes are still counted. A body is its inode plus
    its modification time: the inode of a deleted file is reused."""

    def __init__(self):
        self.seen: set[tuple[int, int, int]] = set()
        self.bytes = 0
        self.files = 0

    def scan(self, root: str) -> None:
        for _path, st in _files(root):
            key = (st.st_dev, st.st_ino, st.st_mtime_ns)
            if key not in self.seen:
                self.seen.add(key)
                self.bytes += st.st_size
                self.files += 1


def disk_bytes(root: str) -> int:
    """Bytes on disk under ``root``, each inode once."""
    ledger = ByteLedger()
    ledger.scan(root)
    return ledger.bytes


def live_bytes(store) -> int:
    """Bytes of a TableStore's live snapshot: the files its manifest
    lists, or else every file of its live version directory."""
    v = store.current_version()
    if v is None:
        return 0
    vdir = os.path.join(store.path, v)
    try:
        with open(os.path.join(vdir, "_MANIFEST.json"), encoding="utf-8") as f:
            parts = json.load(f).get("partitions") or {}
    except FileNotFoundError:
        parts = {}
    if not parts:
        return sum(st.st_size for _p, st in _files(vdir))
    total = 0
    for pdir, entry in parts.items():
        base = os.path.join(store.path, entry["version"], pdir)
        for name in entry.get("files", []):
            total += os.stat(os.path.join(base, name)).st_size
    return total


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
