"""Outside-in measurement of public engine calls.

The benchmark never patches the engine. Each call is wrapped from the
benchmark's side: wall time, Python CPU, JVM CPU read from ``/proc``,
the table version delta, and a filesystem delta that counts only inodes
that did not exist before the call (the engine hard-links untouched
partitions forward, so apparent sizes would count them again).

A :class:`Tracer` keeps spans in memory and writes them out at the end.
With tracing off only the wall clock is read per call.
"""

from __future__ import annotations

import json
import os
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
FS_KINDS = ("data", "commit", "delta_log", "metadata", "other")


def proc_cpu_s(pid: int) -> float:
    """User + system CPU seconds of a process, from /proc/<pid>/stat."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / CLK_TCK


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def cpu_times() -> tuple[int, int]:
    """(total jiffies, steal jiffies) of the whole host."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals[:8]), vals[7]


def host_record() -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {"nproc": len(os.sched_getaffinity(0)),
            "mem_mb": mem_kb // 1024}


def _kind(rel: str) -> str:
    head, sep, _ = rel.partition(os.sep)
    if head == "_delta_log":
        return "delta_log"
    if head == "metadata":
        return "metadata"
    if not sep:
        return "commit" if head.startswith("_commit_") else "other"
    return "data"


def scan_tree(roots: list[str]) -> dict[tuple[int, int], tuple[int, str]]:
    """(st_dev, st_ino) -> (size, kind) of every regular file under the
    table roots; ``roots`` are table directories."""
    out: dict[tuple[int, int], tuple[int, str]] = {}
    for root in roots:
        if not os.path.isdir(root):
            continue
        for d, _dirs, files in os.walk(root):
            for name in files:
                p = os.path.join(d, name)
                try:
                    st = os.lstat(p)
                except FileNotFoundError:
                    continue
                key = (st.st_dev, st.st_ino)
                if key not in out:
                    out[key] = (st.st_size, _kind(os.path.relpath(p, root)))
    return out


def stored_bytes(roots: list[str]) -> int:
    """Distinct-inode bytes under the table roots."""
    return sum(size for size, _ in scan_tree(roots).values())


def live_bytes(root: str) -> int:
    """Bytes of the live snapshot's data files, replayed from the table's
    Delta mirror by the public protocol: the newest checkpoint, then
    every later JSON commit (``add`` inserts a file, ``remove`` drops
    it)."""
    log = os.path.join(root, "_delta_log")
    if not os.path.isdir(log):
        return 0
    adds: dict[str, int] = {}
    cp_v = -1
    lc = os.path.join(log, "_last_checkpoint")
    if os.path.exists(lc):
        import pyarrow.parquet as pq
        with open(lc) as f:
            meta = json.load(f)
        cp_v, parts = meta["version"], meta.get("parts")
        names = ([f"{cp_v:020d}.checkpoint.{i:010d}.{int(parts):010d}.parquet"
                  for i in range(1, int(parts) + 1)] if parts
                 else [f"{cp_v:020d}.checkpoint.parquet"])
        for name in names:
            for a in pq.read_table(os.path.join(log, name),
                                   columns=["add"]).column("add").to_pylist():
                if a:
                    adds[a["path"]] = a["size"]
    versions = sorted(int(n.split(".")[0]) for n in os.listdir(log)
                      if n.endswith(".json") and n.split(".")[0].isdigit())
    for v in versions:
        if v <= cp_v:
            continue
        with open(os.path.join(log, f"{v:020d}.json")) as f:
            for line in f:
                action = json.loads(line)
                if "add" in action:
                    adds[action["add"]["path"]] = action["add"]["size"]
                elif "remove" in action:
                    adds.pop(action["remove"]["path"], None)
    return sum(adds.values())


def table_roots(lake: str) -> list[str]:
    """Table directories of a lakehouse root laid out <layer>/<table>."""
    out = []
    for layer in sorted(os.listdir(lake)):
        d = os.path.join(lake, layer)
        if os.path.isdir(d) and not layer.startswith("_"):
            out += [os.path.join(d, t) for t in sorted(os.listdir(d))
                    if os.path.isdir(os.path.join(d, t))]
    return out


class Tracer:
    """Per-call probe. ``traced=False`` records wall time only."""

    def __init__(self, traced: bool, jvm_pid: int):
        self.traced = traced
        self.jvm_pid = jvm_pid
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._lock = threading.Lock()
        self._ids = 0

    def _next_id(self) -> int:
        with self._lock:
            self._ids += 1
            return self._ids

    def call(self, name: str, fn, *, parent: int | None = None,
             roots: list[str] = (), versions=None, op_id: int | None = None,
             group: str | None = None):
        """Run ``fn()`` and return (result, span). ``versions`` is a
        callable giving the summed table version, read before and after
        when traced; ``roots`` are scanned for new inodes."""
        sid = self._next_id()
        span = {"id": sid, "name": name, "parent": parent,
                "op": op_id if op_id is not None else sid}
        if group is not None:
            span["group"] = group
        if not self.traced:
            t0 = time.time()
            c0 = time.perf_counter()
            result = fn()
            span["wall_s"] = time.perf_counter() - c0
            span["start"], span["end"] = t0, t0 + span["wall_s"]
            with self._lock:
                self.spans.append(span)
            return result, span
        o0 = time.perf_counter()
        before = scan_tree(list(roots)) if roots else {}
        v0 = versions() if versions else 0
        jvm0 = proc_cpu_s(self.jvm_pid)
        p0, th0 = time.process_time(), time.thread_time()
        o1 = time.perf_counter()
        t0 = time.time()
        result = fn()
        span["wall_s"] = time.perf_counter() - o1
        span["start"], span["end"] = t0, t0 + span["wall_s"]
        o2 = time.perf_counter()
        span["py_cpu_s"] = time.process_time() - p0
        span["thread_cpu_s"] = time.thread_time() - th0
        span["jvm_cpu_s"] = proc_cpu_s(self.jvm_pid) - jvm0
        if versions:
            span["commits"] = versions() - v0
        if roots:
            new = {k: v for k, v in scan_tree(list(roots)).items()
                   if k not in before}
            span["fs_new_files"] = len(new)
            span["fs_new_bytes"] = sum(s for s, _ in new.values())
            for kind in FS_KINDS:
                span[f"fs_new_bytes_{kind}"] = sum(
                    s for s, k in new.values() if k == kind)
        with self._lock:
            self.overhead_s += (o1 - o0) + (time.perf_counter() - o2)
            self.spans.append(span)
        return result, span

    def add(self, span: dict) -> None:
        """Record a span measured elsewhere (stage spans derived from
        ``run_pipeline``'s own metrics)."""
        span.setdefault("id", self._next_id())
        with self._lock:
            self.spans.append(span)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)
