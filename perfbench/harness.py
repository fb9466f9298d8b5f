"""Measurement helpers that need no Spark: percentiles, spans, self time,
process-tree memory and shutdown, and the streaming checkpoint's file
logs."""

from __future__ import annotations

import json
import math
import os
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)


def percentile(values, pct: float) -> float:
    """Nearest-rank percentile of a non-empty sample."""
    ordered = sorted(values)
    if not ordered:
        raise ValueError("percentile of an empty sample")
    rank = max(1, math.ceil(pct / 100.0 * len(ordered)))
    return ordered[rank - 1]


def summarize(values) -> dict:
    """Median, and the highest percentile of ``TAIL_LADDER`` that has at
    least ten samples beyond it (None when the sample is too small),
    with the sample count."""
    values = list(values)
    out = {"n": len(values), "p50": percentile(values, 50) if values else None,
           "tail_pct": None, "tail": None}
    for pct in TAIL_LADDER:
        if values and len(values) - math.ceil(pct / 100.0 * len(values)) >= 10:
            out["tail_pct"] = pct
            out["tail"] = percentile(values, pct)
            break
    return out


def union_seconds(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_start, cur_end = 0.0, None, None
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


def self_times(spans) -> dict:
    """Span id -> its duration minus the part its child spans cover."""
    children = defaultdict(list)
    for s in spans:
        if s.get("parent") is not None:
            children[s["parent"]].append(s)
    out = {}
    for s in spans:
        covered = union_seconds(
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in children[s["id"]]
            if c["end"] > s["start"] and c["start"] < s["end"]
        )
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


class Tracer:
    """Spans and counters kept in memory; a no-op when disabled.

    A span records name, start, end, the enclosing span on the same thread
    (its parent) and a request id shared by the spans of one operation.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next_id = 0

    @contextmanager
    def span(self, name: str, rid: str | None = None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append({"id": sid, "name": name, "start": start,
                                   "end": end, "parent": parent, "rid": rid})

    @contextmanager
    def suspended(self):
        """Record nothing inside the block (an untraced pass of a traced
        run)."""
        enabled, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = enabled

    def add(self, name: str, value: float = 1.0) -> None:
        if self.enabled:
            with self._lock:
                self.counters[name] += value

    def peak(self, name: str, value: float) -> None:
        if self.enabled:
            with self._lock:
                self.counters[name] = max(self.counters.get(name, 0.0), value)

    def span_totals(self) -> dict:
        """Per span name: count, total seconds and total self seconds."""
        selfs = self_times(self.spans)
        out: dict = {}
        for s in self.spans:
            row = out.setdefault(s["name"], {"count": 0, "total_s": 0.0,
                                             "self_s": 0.0})
            row["count"] += 1
            row["total_s"] += s["end"] - s["start"]
            row["self_s"] += selfs[s["id"]]
        return out

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans,
                       "span_totals": self.span_totals(),
                       "counters": dict(self.counters)}, f)


def _process_table() -> dict[int, tuple[int, int, float]]:
    """Every visible process: pid -> (parent pid, resident kB, CPU seconds
    of the process and of its children it has waited for)."""
    tick = os.sysconf("SC_CLK_TCK")
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
            with open(f"/proc/{entry}/statm") as f:
                pages = int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue
        # the command name may hold spaces; fields resume after its ')'
        fields = stat.rsplit(")", 1)[1].split()
        cpu = sum(int(f) for f in fields[11:15]) / tick  # u, s, cu, cs time
        table[int(entry)] = (int(fields[1]),
                             pages * (os.sysconf("SC_PAGE_SIZE") // 1024), cpu)
    return table


def descendants(root_pid: int, table=None) -> set[int]:
    """Pids of every process below ``root_pid`` (not ``root_pid`` itself)."""
    table = _process_table() if table is None else table
    children = defaultdict(list)
    for pid, (ppid, _, _) in table.items():
        children[ppid].append(pid)
    members, frontier = set(), [root_pid]
    while frontier:
        for child in children[frontier.pop()]:
            if child not in members:
                members.add(child)
                frontier.append(child)
    return members


def _tree_rss_kb(root_pid: int) -> int:
    """Resident kB of ``root_pid`` and all its descendants."""
    table = _process_table()
    tree = descendants(root_pid, table) | {root_pid}
    return sum(table[pid][1] for pid in tree if pid in table)


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds used so far by ``root_pid`` and all its descendants."""
    table = _process_table()
    tree = descendants(root_pid, table) | {root_pid}
    return sum(table[pid][2] for pid in tree if pid in table)


def host_steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine's CPUs (the
    ``steal`` column of /proc/stat), summed over CPUs."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) / os.sysconf("SC_CLK_TCK")


PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the parent of any descendant whose own parent
    exits (a Python worker outliving the JVM that forked it), so that
    ``stop_descendants`` can wait for it."""
    import ctypes

    prctl = ctypes.CDLL(None, use_errno=True).prctl
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    prctl.restype = ctypes.c_int
    if prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap() -> None:
    """Collect the exit status of every child of this process that ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants(grace_s: float = 10.0) -> int:
    """End every process below this one and wait until all are gone:
    SIGTERM, then SIGKILL for those still there after ``grace_s``.
    Returns how many had to be signalled; raises if any is still there
    ``grace_s`` after the SIGKILL."""
    import signal

    me = os.getpid()
    signalled: set[int] = set()
    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    while True:
        _reap()
        left = descendants(me)
        if not left:
            return len(signalled)
        if time.monotonic() > deadline + grace_s:
            raise RuntimeError(f"processes {sorted(left)} did not end")
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in left:
            if pid not in signalled or sig == signal.SIGKILL:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
                signalled.add(pid)
        time.sleep(0.05)


class RssSampler:
    """Peak resident memory of this process tree (JVM and Python workers
    included), sampled on a background thread."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler",
                                        daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def sample(self) -> None:
        self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; return the peak in MB."""
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        return self.peak_kb / 1024.0


# -- streaming checkpoint logs ---------------------------------------------

EVENT_FILE_RE = re.compile(r"ev-(\d+)-(\d+)\.parquet$")


def event_file_name(seq: int, created_ns: int) -> str:
    """Name of a generated event file, stamped with its creation time."""
    return f"ev-{seq:06d}-{created_ns}.parquet"


def created_at(path: str) -> float:
    """Creation time (epoch seconds) stamped in an event file's name."""
    m = EVENT_FILE_RE.search(path)
    if not m:
        raise ValueError(f"not a generated event file: {path}")
    return int(m.group(2)) / 1e9


def _log_entries(path: str):
    with open(path) as f:
        lines = f.read().splitlines()
    for line in lines[1:]:  # first line is the log format version
        if line.strip():
            yield json.loads(line)


def batch_files(checkpoint: str) -> dict[int, set[str]]:
    """Query batch id -> event files that batch read.

    The offset log (``offsets/<batch>``) gives, per source, the source's
    own log offset at the end of each batch; the file-source logs
    (``sources/<n>/<offset>`` and their ``.compact`` roll-ups) list the
    files added at each offset.  A batch read the files between its
    offset and the previous batch's.  Batches that read nothing (watermark
    batches) keep the offset and map to no files.
    """
    added: dict[int, dict[int, set[str]]] = defaultdict(
        lambda: defaultdict(set))
    src_root = os.path.join(checkpoint, "sources")
    for src in os.listdir(src_root) if os.path.isdir(src_root) else ():
        d = os.path.join(src_root, src)
        for name in os.listdir(d):
            if not name.startswith("."):
                for entry in _log_entries(os.path.join(d, name)):
                    added[int(src)][int(entry["batchId"])].add(entry["path"])
    out: dict[int, set[str]] = {}
    offsets_dir = os.path.join(checkpoint, "offsets")
    batches = sorted(int(n) for n in os.listdir(offsets_dir)
                     if n.isdigit()) if os.path.isdir(offsets_dir) else []
    last: dict[int, int] = {}
    for batch in batches:
        with open(os.path.join(offsets_dir, str(batch))) as f:
            source_lines = f.read().splitlines()[2:]  # version, metadata
        files: set[str] = set()
        for i, line in enumerate(source_lines):
            if line.strip() in ("", "-"):
                continue
            offset = int(json.loads(line)["logOffset"])
            for k in range(last.get(i, -1) + 1, offset + 1):
                files |= added[i].get(k, set())
            last[i] = offset
        out[batch] = files
    return out


def commit_times(checkpoint: str) -> dict[int, float]:
    """Batch id -> time its commit log entry was written."""
    d = os.path.join(checkpoint, "commits")
    out = {}
    if os.path.isdir(d):
        for name in os.listdir(d):
            if name.isdigit():
                out[int(name)] = os.stat(os.path.join(d, name)).st_mtime
    return out
