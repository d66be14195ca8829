"""Pure helpers of the benchmark: percentiles, span self time, stream lag
from checkpoint logs, and process-tree memory sampling. No Spark imports,
so they can be unit-tested on their own (``perfbench/test_helpers.py``)."""

from __future__ import annotations

import json
import math
import os
import statistics
import threading


def median(values) -> float:
    return float(statistics.median(values)) if values else float("nan")


def nearest_rank(values, pct: float) -> float:
    """Nearest-rank percentile (0 < pct <= 100) of ``values``."""
    xs = sorted(values)
    k = max(1, math.ceil(pct / 100.0 * len(xs)))
    return float(xs[k - 1])


def tail_percentile(values, min_beyond: int = 10, candidates=(99, 95, 90, 75, 50)):
    """The highest candidate percentile with at least ``min_beyond``
    samples strictly above its rank, as ``(pct, value)``; ``(None, None)``
    when even the median has fewer than ``min_beyond`` samples beyond it."""
    n = len(values)
    for pct in candidates:
        rank = max(1, math.ceil(pct / 100.0 * n))
        if n - rank >= min_beyond:
            return pct, nearest_rank(values, pct)
    return None, None


def interval_union(intervals) -> float:
    """Total length covered by a set of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans) -> dict:
    """Self time of each span: its duration minus the part of its interval
    covered by its direct children. ``spans`` is a list of dicts with
    ``id``, ``parent``, ``start``, ``end``; returns ``{id: self_s}``."""
    children: dict = {}
    for sp in spans:
        children.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
    out = {}
    for sp in spans:
        covered = [
            (max(s, sp["start"]), min(e, sp["end"]))
            for s, e in children.get(sp["id"], ())
            if e > sp["start"] and s < sp["end"]
        ]
        out[sp["id"]] = (sp["end"] - sp["start"]) - interval_union(covered)
    return out


def _log_lines(path: str) -> list[str]:
    with open(path, encoding="utf-8") as fh:
        return fh.read().splitlines()


def committed_files(checkpoint: str) -> dict:
    """``{file basename: [(batch_id, commit_time_s), ...]}`` over every
    batch that has a ``commits/<id>`` entry. Files come from the file
    source log ``sources/0``: per batch a file ``<id>`` (a version line,
    then one JSON object per file with its ``batchId``), every tenth batch
    compacted into ``<id>.compact`` holding the entries of all batches so
    far. The commit time is the ``commits/<id>`` file's mtime."""
    commits_dir = os.path.join(checkpoint, "commits")
    src_dir = os.path.join(checkpoint, "sources", "0")
    if not (os.path.isdir(commits_dir) and os.path.isdir(src_dir)):
        return {}
    committed_at = {
        int(n): os.stat(os.path.join(commits_dir, n)).st_mtime_ns / 1e9
        for n in os.listdir(commits_dir) if n.isdigit()
    }
    batches_of: dict = {}
    for name in os.listdir(src_dir):
        if not name.split(".")[0].isdigit() or name.endswith(".tmp"):
            continue
        for line in _log_lines(os.path.join(src_dir, name))[1:]:
            if line.strip():
                entry = json.loads(line)
                batches_of.setdefault(os.path.basename(entry["path"]), set()).add(
                    entry["batchId"])
    out: dict = {}
    for f, batches in batches_of.items():
        hits = [(b, committed_at[b]) for b in sorted(batches) if b in committed_at]
        if hits:
            out[f] = hits
    return out


def file_lags(due: dict, committed: dict) -> tuple[dict, list[str]]:
    """Lag of each dropped file: the commit time of the batch that holds it
    minus the time the generator was due to drop it. Returns ``({file:
    lag_s}, problems)``; a file committed in no batch, or in more than
    one, is a problem and gets no lag."""
    lags, problems = {}, []
    for name, due_at in due.items():
        hits = committed.get(name, [])
        if len(hits) != 1:
            problems.append(f"{name}: committed in {len(hits)} batches")
            continue
        lags[name] = hits[0][1] - due_at
    return lags, problems


def cpu_jiffies() -> tuple[int, int]:
    """(total, steal) CPU time of the host so far, from /proc/stat; the
    steal share of a run tells how much the hypervisor held the CPUs."""
    with open("/proc/stat", encoding="ascii") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return sum(fields[:8]), fields[7]  # guest time is already in user time


def _stat_fields(pid: str) -> list[str]:
    with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
        return fh.read().rsplit(")", 1)[1].split()


def start_time(pid: int) -> str | None:
    """Start time of a live, non-zombie process (telling a process from a
    later one that reuses its pid), or None when it has ended."""
    try:
        fields = _stat_fields(str(pid))
    except (OSError, IndexError):
        return None
    return None if fields[0] == "Z" else fields[19]


def descendants(root: int) -> list[int]:
    """Pids of every live descendant of ``root``, from /proc."""
    parent_of = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                parent_of[int(entry)] = int(_stat_fields(entry)[1])
            except (OSError, IndexError, ValueError):
                continue
    found, frontier = [], {root}
    while frontier:
        frontier = {p for p, pp in parent_of.items() if pp in frontier}
        found.extend(frontier)
    return found


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, shared ones divided among
    the processes sharing them. A child the JVM spawns shares its parent's
    pages for a moment; summing plain RSS would count the JVM twice."""
    with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def _tree_rss_bytes(root: int) -> int:
    """Summed memory (PSS) of ``root`` and all its descendants, from /proc."""
    total = 0
    for pid in [root] + descendants(root):
        try:
            total += _pss_bytes(pid)
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler:
    """Background thread recording the peak summed resident memory (PSS)
    of this process tree (this Python process, the JVM, Python workers) every
    ``period`` seconds."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
