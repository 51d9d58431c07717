"""Pure measurement helpers: percentiles, quality scores and readings from
``/proc``.  Nothing here touches Spark."""

from __future__ import annotations

import hashlib
import math
import os
import re
import statistics
import threading

import pandas as pd

TAIL_LADDER = (99.9, 99.0, 90.0, 50.0)


def median(values) -> float:
    """Median of ``values``; 0.0 for none (a layer the workload bypasses)."""
    values = list(values)
    return statistics.median(values) if values else 0.0


def tail_percentile(values) -> tuple[float, float] | None:
    """The highest percentile of ``TAIL_LADDER`` that has at least ten
    samples beyond it, as ``(percentile, value)``; ``None`` when even the
    median has fewer than ten samples above it.  Nearest-rank definition."""
    xs = sorted(values)
    n = len(xs)
    for p in TAIL_LADDER:
        # rounding keeps 99.9% of 10000 at rank 9990, not 9991
        rank = max(1, math.ceil(round(p * n / 100.0, 6)))
        if n - rank >= 10:
            return p, xs[rank - 1]
    return None


def timing_summary(values) -> dict:
    """Median, sample count and the percentile rule above for one timing."""
    tail = tail_percentile(values)
    return {
        "n": len(values),
        "p50": statistics.median(values) if values else None,
        "tail": None if tail is None else {"p": tail[0], "value": tail[1]},
    }


def pairwise_f1(clusters: pd.DataFrame, labelled: pd.DataFrame) -> float:
    """Pairwise F1 of a clustering ``(url, cluster_id)`` against labelled
    ``(l_url, r_url, is_match)`` pairs.  A labelled url missing from the
    clustering counts as a singleton."""
    cid = dict(zip(clusters["url"], clusters["cluster_id"]))
    tp = fp = fn = 0
    for lu, ru, m in zip(labelled["l_url"], labelled["r_url"], labelled["is_match"]):
        same = lu in cid and ru in cid and cid[lu] == cid[ru]
        if same and m:
            tp += 1
        elif same:
            fp += 1
        elif m:
            fn += 1
    if tp == 0:
        return 0.0
    prec, rec = tp / (tp + fp), tp / (tp + fn)
    return 2 * prec * rec / (prec + rec)


def pair_f1(got: set, want: set) -> float:
    """F1 of one pair set against a reference pair set (1.0 when equal,
    including when both are empty)."""
    if not got and not want:
        return 1.0
    tp = len(got & want)
    if tp == 0:
        return 0.0
    prec, rec = tp / len(got), tp / len(want)
    return 2 * prec * rec / (prec + rec)


def as_partition(clusters: pd.DataFrame) -> frozenset:
    """A clustering ``(url, cluster_id)`` as a set of url sets, so two
    clusterings compare equal whatever ids they chose."""
    return frozenset(
        frozenset(g) for g in clusters.groupby("cluster_id")["url"].agg(list)
    )


def rows_hash(rows) -> str:
    """Order-free hash of ``(l_key, r_key, score)`` rows; scores are
    rounded to 9 digits so the last-bit order of a float sum cannot differ
    between engines."""
    h = hashlib.sha256()
    for r in sorted((a, b, round(float(s), 9)) for a, b, s in rows):
        h.update(repr(r).encode())
    return h.hexdigest()[:16]


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(base, f))
    return total


def read_cpu() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of ``/proc/stat``."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def descendants(pid: int) -> list[int]:
    """Every live descendant of ``pid``, from the ppid field of
    ``/proc/<pid>/stat``."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def pss_bytes(pid: int) -> int:
    """Proportional set size of one process: shared pages (a forked Python
    worker and its daemon) are split between their users, so a sum over a
    process tree does not count them twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


_HEX = frozenset("0123456789abcdef")


def pss_in_range(smaps_lines, lo: int, hi: int) -> int:
    """Summed PSS of the mappings of ``/proc/<pid>/smaps`` that lie inside
    the address range ``[lo, hi)``."""
    total, inside = 0, False
    for line in smaps_lines:
        if line[0] in _HEX:  # a mapping's header; its fields are capitalised
            a, b = line.split(" ", 1)[0].split("-")
            inside = int(a, 16) >= lo and int(b, 16) <= hi
        elif inside and line.startswith("Pss:"):
            total += int(line.split()[1]) * 1024
    return total


def java_log_options(log_dir: str) -> str:
    """JVM options that make each JVM log its collections and its heap's
    address range to ``<log_dir>/gc-<pid>.log``.  They only log: the heap
    size and the collector stay as the engine configures them."""
    return f"-Xlog:gc=info,gc+heap+coops=debug:file={log_dir}/gc-%p.log:uptime"


_HEAP_RANGE = re.compile(r"Heap address: 0x([0-9a-f]+), size: (\d+) MB")
# a young or full pause empties eden, so what is left is the retained heap;
# a remark or cleanup pause reports eden's contents too
_AFTER_GC = re.compile(r"Pause (?:Young|Full)\b.* \d+[KMG]->(\d+)([KMG])\(")
_UNIT = {"K": 1 << 10, "M": 1 << 20, "G": 1 << 30}


def read_gc_log(lines) -> tuple[tuple[int, int] | None, int]:
    """From one JVM's GC log: the heap's address range ``(lo, hi)`` (None
    if not logged yet) and the largest heap occupancy after a young or full
    collection, in bytes."""
    heap, peak = None, 0
    for line in lines:
        m = _HEAP_RANGE.search(line)
        if m:
            lo = int(m.group(1), 16)
            heap = (lo, lo + int(m.group(2)) * _UNIT["M"])
            continue
        m = _AFTER_GC.search(line)
        if m:
            peak = max(peak, int(m.group(1)) * _UNIT[m.group(2)])
    return heap, peak


class PeakMemory:
    """Peak memory of the JVMs this process starts and the Python workers
    they fork, in two parts that do not depend on when the collector runs:

    - ``heap``: the largest heap occupancy after a collection, from the GC
      logs that ``java_log_options(log_dir)`` makes the JVMs write;
    - ``outside_heap``: the peak of the summed PSS of this process's
      descendants less the JVMs' heap mappings, sampled on a background
      thread.  This is code cache, metaspace, thread stacks, off-heap and
      Arrow buffers, and the Python workers.

    The heap's resident size is left out because it follows the collector:
    a heap that grows on demand is as large as the garbage the collector
    has not yet reclaimed."""

    def __init__(self, log_dir: str, interval: float = 0.25):
        self.log_dir = log_dir
        self.interval = interval
        self.outside_heap = 0
        self._heaps: dict[int, tuple[int, int]] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _log(self, pid: int) -> list[str]:
        try:
            with open(os.path.join(self.log_dir, f"gc-{pid}.log")) as f:
                return f.readlines()
        except OSError:
            return []

    def _outside_heap(self, pid: int) -> int:
        if pid not in self._heaps:
            heap, _ = read_gc_log(self._log(pid))
            if heap is not None:
                self._heaps[pid] = heap
        pss = pss_bytes(pid)
        if pid in self._heaps:
            try:
                with open(f"/proc/{pid}/smaps") as f:
                    pss -= pss_in_range(f, *self._heaps[pid])
            except OSError:
                return 0
        return pss

    def _loop(self):
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(self._outside_heap(p) for p in descendants(me))
            self.outside_heap = max(self.outside_heap, total)
            self._stop.wait(self.interval)

    def heap(self) -> int:
        """Largest heap occupancy after a collection over every JVM so far."""
        peaks = [0]
        for name in os.listdir(self.log_dir):
            if name.startswith("gc-") and name.endswith(".log"):
                with open(os.path.join(self.log_dir, name)) as f:
                    peaks.append(read_gc_log(f)[1])
        return max(peaks)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
