"""Measurement helpers for perfbench: process-tree memory sampling,
spans, Spark plan metrics and event-log roll-ups.

Everything here observes the engine from outside: it reads /proc, the
SQL metrics of an executed plan and the Spark event log.
"""

from __future__ import annotations

import json
import os
import threading
import time

MB = float(1 << 20)


def process_start_epoch() -> float:
    """Wall-clock time at which this process was started (10 ms ticks)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22 of stat(5)
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue  # exited between listdir and open
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _tree_pss_bytes(root: int) -> int:
    """Summed proportional set size of ``root`` and all its descendants
    (driver Python, the JVM and its Python workers).  PSS splits pages
    shared by forked workers among them, so the sum counts each page
    once where an RSS sum would count it once per worker."""
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, ValueError, IndexError):
            pass  # exited while sampling
    return total


class MemSampler:
    """Background sampler of the process tree's memory (summed PSS);
    ``peak_mb`` is the highest sample seen.  Use as a context manager so
    the thread is always joined."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> int:
        pss = _tree_pss_bytes(os.getpid())
        self.peak = max(self.peak, pss)
        return pss

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak / MB

    def __enter__(self) -> "MemSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


class Spans:
    """In-memory spans (name, start, end, parent, iteration id), written
    out once when the run ends.  Times are epoch seconds so they line up
    with the Spark event log's epoch-millisecond task times."""

    def __init__(self):
        self.spans: list[dict] = []

    def add(self, name: str, start: float, end: float, it: int,
            parent: int | None = None, **attrs) -> int:
        self.spans.append(dict(id=len(self.spans), name=name, start=start,
                               end=end, parent=parent, iter=it, **attrs))
        return len(self.spans) - 1

    def self_time(self, sid: int) -> float:
        """Span duration minus the part of it covered by its children."""
        s = self.spans[sid]
        kids = [(c["start"], c["end"]) for c in self.spans if c["parent"] == sid]
        return (s["end"] - s["start"]) - covered(kids, s["start"], s["end"])

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        s, e = max(s, lo), min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# --- executed-plan SQL metrics ----------------------------------------------

PYTHON_NODE_METRIC = "pythonDataSent"


def plan_nodes(jplan) -> list[dict]:
    """Flatten a (possibly adaptive) physical plan into
    ``{"name", "desc", "metrics"}`` dicts, descending through AQE query
    stages and subqueries."""
    out: list[dict] = []
    todo = [jplan]
    while todo:
        p = todo.pop()
        name = p.nodeName()
        if name == "AdaptiveSparkPlan":
            todo.append(p.executedPlan())
            continue
        ms = {}
        it = p.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            ms[kv._1()] = kv._2().value()
        out.append({"name": name, "desc": p.simpleString(200), "metrics": ms})
        if name.endswith("QueryStage"):
            todo.append(p.plan())
        for seq in (p.children(), p.subqueries()):
            for i in range(seq.size()):
                todo.append(seq.apply(i))
    return out


def plan_shape(nodes: list[dict]) -> dict:
    return {
        "nodes": len(nodes),
        "exchanges": sum("Exchange" in n["name"] for n in nodes),
        "python_nodes": sum(PYTHON_NODE_METRIC in n["metrics"] for n in nodes),
    }


def python_io(nodes: list[dict]) -> dict:
    """Arrow/Python boundary traffic summed over the plan's Python nodes."""
    py = [n for n in nodes if PYTHON_NODE_METRIC in n["metrics"]]
    return {
        "rows": sum(n["metrics"].get("pythonNumRowsReceived", 0) for n in py),
        "bytes_to": sum(n["metrics"].get("pythonDataSent", 0) for n in py),
        "bytes_from": sum(n["metrics"].get("pythonDataReceived", 0) for n in py),
        "pip_rows": sum(n["metrics"].get("pythonNumRowsReceived", 0)
                        for n in py if "pip" in n["desc"].lower()),
    }


# --- Spark event log ---------------------------------------------------------


def read_event_log(log_dir: str) -> dict:
    """Per-job-group stage and task roll-up from the (single) event log
    in ``log_dir``.  Returns {group: {"jobs", "stages", "tasks",
    "run_s", "cpu_s", "gc_s", "shuffle_read", "shuffle_write", "spill",
    "intervals"}} with task (launch, finish) intervals in epoch seconds."""
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}

    def g(name: str) -> dict:
        return groups.setdefault(name, dict(
            jobs=0, stages=set(), tasks=0, run_s=0.0, cpu_s=0.0, gc_s=0.0,
            shuffle_read=0, shuffle_write=0, spill=0, intervals=[]))

    with open(os.path.join(log_dir, files[0])) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                grp = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "-"
                g(grp)["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = grp
            elif kind == "SparkListenerTaskEnd":
                grp = stage_group.get(ev["Stage ID"], "-")
                r = g(grp)
                r["stages"].add(ev["Stage ID"])
                r["tasks"] += 1
                info = ev.get("Task Info") or {}
                if info.get("Launch Time") and info.get("Finish Time"):
                    r["intervals"].append((info["Launch Time"] / 1e3,
                                           info["Finish Time"] / 1e3))
                m = ev.get("Task Metrics") or {}
                r["run_s"] += m.get("Executor Run Time", 0) / 1e3
                r["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                r["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sr = m.get("Shuffle Read Metrics") or {}
                r["shuffle_read"] += (sr.get("Remote Bytes Read", 0)
                                      + sr.get("Local Bytes Read", 0))
                sw = m.get("Shuffle Write Metrics") or {}
                r["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                r["spill"] += (m.get("Memory Bytes Spilled", 0)
                               + m.get("Disk Bytes Spilled", 0))
    for r in groups.values():
        r["stages"] = len(r["stages"])
    return groups


def tree_usage(root: str) -> tuple[int, int]:
    """(bytes, files) under ``root``; (0, 0) when it does not exist."""
    nbytes = nfiles = 0
    for d, _dirs, files in os.walk(root):
        for name in files:
            try:
                nbytes += os.lstat(os.path.join(d, name)).st_size
                nfiles += 1
            except OSError:
                pass  # removed while walking
    return nbytes, nfiles
