"""Spans, Spark event-log attribution and peak-RSS sampling.

A span is recorded around each public call the benchmark makes into a
layer: name, start, end, parent span and the trace (one pipeline job or
one stream) it belongs to, plus counts gathered at the same boundary.
Spans are kept in memory and written out once, at the end of the run.

While a span is open, the Spark job group is set to the span's id, so
every job it submits carries it into the event log; `attribute_event_log`
folds the log's task metrics back onto the spans.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc  # SparkContext whose job group follows the open span
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._trace = 0

    def new_trace(self) -> int:
        self._trace += 1
        return self._trace

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": len(self.spans) + 1,
            "name": name,
            "trace": self._trace,
            "parent": parent["id"] if parent else None,
            "start": time.time(),
            "end": None,
            "attrs": dict(attrs),
        }
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(f"span-{sp['id']}")
        try:
            yield sp["attrs"]
        finally:
            sp["end"] = time.time()
            self._stack.pop()
            self._set_group(f"span-{parent['id']}" if parent else None)

    def _set_group(self, group: str | None) -> None:
        if self.sc is None:
            return
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group, group)

    def of_trace(self, trace: int) -> list[dict]:
        return [s for s in self.spans if s["trace"] == trace]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(sp, default=str) + "\n")


def attribute_event_log(path: str, spans: list[dict]) -> None:
    """Add task_cpu_s, gc_s, shuffle_bytes, spill_bytes and task_s to each
    span's attrs, from the jobs its job group ran (self metrics: a child
    span's jobs carry the child's group)."""
    by_group = {f"span-{s['id']}": s for s in spans}
    stage_span: dict[int, dict] = {}
    totals = {
        s["id"]: {"task_cpu_s": 0.0, "gc_s": 0.0, "shuffle_bytes": 0, "spill_bytes": 0, "task_s": 0.0}
        for s in spans
    }
    with open(path) as f:
        for line in f:
            if '"SparkListenerJobStart"' in line:
                ev = json.loads(line)
                sp = by_group.get((ev.get("Properties") or {}).get("spark.jobGroup.id"))
                if sp is not None:
                    for sid in ev.get("Stage IDs", []):
                        stage_span[sid] = sp
            elif '"SparkListenerTaskEnd"' in line:
                ev = json.loads(line)
                sp = stage_span.get(ev.get("Stage ID"))
                if sp is None:
                    continue
                t = totals[sp["id"]]
                m = ev.get("Task Metrics") or {}
                info = ev.get("Task Info") or {}
                t["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sw = m.get("Shuffle Write Metrics") or {}
                t["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
                t["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                if info.get("Finish Time") and info.get("Launch Time"):
                    t["task_s"] += (info["Finish Time"] - info["Launch Time"]) / 1e3
    for s in spans:
        s["attrs"].update(totals[s["id"]])


def descendants(spans: list[dict], root: dict) -> list[dict]:
    """`root` and every span below it."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s["id"], []))
    return out


_PAGE = os.sysconf("SC_PAGE_SIZE")
_HZ = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, int, float]]:
    """pid -> (parent pid, RSS bytes, CPU seconds incl. reaped children)
    for every visible process."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            # fields after the parenthesised command: state ppid ... utime
            # stime cutime cstime (14th-17th) ... rss (24th)
            rest = stat[stat.rindex(")") + 2 :].split()
            cpu = sum(int(x) for x in rest[11:15]) / _HZ
            table[int(name)] = (int(rest[1]), int(rest[21]) * _PAGE, cpu)
        except (OSError, ValueError, IndexError):
            continue
    return table


def descendant_pids(root: int, table: dict | None = None) -> list[int]:
    """Every process below `root`, excluding `root` itself."""
    table = _proc_table() if table is None else table
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_rss(root: int) -> int:
    """Summed RSS of every process below `root` (the Spark JVM and its
    Python workers), excluding `root` itself."""
    table = _proc_table()
    return sum(table[pid][1] for pid in descendant_pids(root, table))


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by every process below `root`."""
    table = _proc_table()
    return sum(table[pid][2] for pid in descendant_pids(root, table))


def steal_jiffies() -> tuple[int, int]:
    """(steal, total) CPU jiffies of the machine since boot: the time the
    hypervisor ran something else while this VM wanted a CPU."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


class Stopwatch:
    """Wall-clock seconds since construction, raw and steal-adjusted.

    On a shared host the hypervisor takes bursts of CPU time from this VM
    (steal, in /proc/stat); a CPU-bound job's wall time then stretches by
    1 / (1 - steal share) though the program did nothing different. The
    adjusted time, raw x (1 - steal share over the interval), is what the
    job would have taken with the CPUs it was promised."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.s0 = steal_jiffies()

    def read(self) -> tuple[float, float, float]:
        """(raw seconds, adjusted seconds, steal share)."""
        raw = time.perf_counter() - self.t0
        steal, total = steal_jiffies()
        share = (steal - self.s0[0]) / max(1, total - self.s0[1])
        return raw, raw * (1 - share), share

    def adjusted(self) -> float:
        return self.read()[1]


class RssSampler:
    """Background sampler of `tree_rss(os.getpid())` every 0.2 s; `peak` is
    the highest sample between `start` and `stop`."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss(me))
            self._stop.wait(0.2)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        if self._thread.is_alive():
            self._stop.set()
            self._thread.join()
