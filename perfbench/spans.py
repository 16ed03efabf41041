"""Spans, Spark event-log counters and process-tree memory for the benchmark.

Spans live in memory and are written out when the run ends.  In a traced
run each span also sets the Spark job group to its span id, so every job
the span triggers carries it in the event log; jobs a streaming query
runs on its own thread carry the query's job group instead, and are
matched to the span whose interval holds them.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager

MIB = 1024 * 1024


class Tracer:
    """Records spans (id, name, start, end, parent, run id and any extra
    attributes).  With ``job_groups`` set, a span tags the Spark jobs it
    starts with its id.  While ``recording`` is off, ``span`` only times."""

    def __init__(self, sc, run_id: str, job_groups: bool):
        self.sc = sc
        self.run_id = run_id
        self.job_groups = job_groups
        self.recording = True
        self.spans: list[dict] = []
        self._stack: list[str] = []

    def add(self, name: str, start: float, end: float) -> None:
        """Record a span that has already ended (one timed before the
        tracer existed)."""
        self.spans.append({"id": f"{self.run_id}:{len(self.spans)}", "name": name, "parent": None, "run_id": self.run_id, "start": start, "end": end})

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, **attrs}
        if not self.recording:
            rec["start"] = time.time()
            try:
                yield rec
            finally:
                rec["end"] = time.time()
            return
        sid = f"{self.run_id}:{len(self.spans)}"
        rec.update(id=sid, parent=self._stack[-1] if self._stack else None, run_id=self.run_id)
        self.spans.append(rec)
        self._stack.append(sid)
        if self.job_groups:
            self.sc.setJobGroup(sid, name)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self.job_groups:
                if self._stack:
                    self.sc.setJobGroup(self._stack[-1], "")
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

_ACC = {
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write",
    "internal.metrics.diskBytesSpilled": "spill",
    "internal.metrics.jvmGCTime": "gc_ms",
    "data sent to Python workers": "py_sent",
    "data returned from Python workers": "py_returned",
}


def _events(log_dir: str):
    """Every JSON event of the one application logged under ``log_dir``
    (a rolling ``eventlog_v2_*`` directory or a single file)."""
    files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    files.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
    if not files:
        files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    for path in files:
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def parse_event_log(log_dir: str) -> tuple[list[dict], dict]:
    """-> (jobs, stages).  jobs: {id, group, start, end, stages};
    stages: id -> counters summed over the per-task accumulator updates
    (a SQL metric's accumulator outlives one stage, so its stage-level
    ``Value`` is cumulative and cannot be summed)."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for ev in _events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "id": ev["Job ID"],
                "group": props.get("spark.jobGroup.id"),
                "start": ev["Submission Time"] / 1000.0,
                "end": None,
                "stages": list(ev.get("Stage IDs", [])),
            }
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            c = stages.setdefault(ev["Stage ID"], {v: 0.0 for v in _ACC.values()})
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                key = _ACC.get(acc.get("Name"))
                if key is not None:
                    try:
                        c[key] += float(acc.get("Update", 0))
                    except (TypeError, ValueError):
                        pass
    return [j for j in jobs.values() if j["end"] is not None], stages


def _union_length(intervals: list[tuple[float, float]]) -> float:
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


def attribute(spans: list[dict], jobs: list[dict], stages: dict) -> dict:
    """Per span id: jobs, driver gap and stage counters of the jobs of the
    span and its descendants.  A job belongs to the span whose id is its
    job group; a job with any other group (a streaming query's) belongs to
    the innermost span whose interval holds its submission time."""
    by_id = {s["id"]: s for s in spans}
    owned: dict[str, list[dict]] = {s["id"]: [] for s in spans}
    for j in jobs:
        sid = j["group"] if j["group"] in by_id else None
        if sid is None:
            holding = [s for s in spans if s["start"] <= j["start"] <= s["end"]]
            if holding:
                sid = max(holding, key=lambda s: s["start"])["id"]
        if sid is not None:
            owned[sid].append(j)
    subtree: dict[str, list[dict]] = {sid: list(js) for sid, js in owned.items()}
    for s in spans:
        parent = s.get("parent")
        while parent is not None:
            subtree[parent].extend(owned[s["id"]])
            parent = by_id[parent].get("parent")
    out = {}
    for sid, js in subtree.items():
        s = by_id[sid]
        wall = s["end"] - s["start"]
        busy = _union_length([(max(j["start"], s["start"]), min(j["end"], s["end"])) for j in js if j["end"] > s["start"]])
        c = {v: 0.0 for v in _ACC.values()}
        for st in {st for j in js for st in j["stages"]}:
            for k, v in stages.get(st, {}).items():
                c[k] += v
        out[sid] = {
            "wall_s": wall,
            "jobs": len(js),
            "driver_gap_s": max(0.0, wall - busy),
            "shuffle_write_mib": c["shuffle_write"] / MIB,
            "spill_mib": c["spill"] / MIB,
            "python_mib": (c["py_sent"] + c["py_returned"]) / MIB,
            "gc_s": c["gc_ms"] / 1000.0,
        }
    return out


# ---------------------------------------------------------------------------
# process-tree memory from /proc (psutil is not assumed)
# ---------------------------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _hwm_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def tree_cpu_s(root: int) -> float:
    """User plus system CPU seconds of ``root`` and its live descendants,
    including the reaped children each one waited for."""
    ticks = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """Machine-wide CPU time stolen by the hypervisor so far, in seconds."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def process_tree(root: int) -> list[int]:
    kids = _children_map()
    todo, tree = [root], []
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(kids.get(pid, []))
    return tree


class MemorySampler:
    """Peak RSS of the Python processes of this run (the driver and every
    Python worker), of the largest single worker and of the Spark JVM.

    Each figure comes from the live processes' ``VmHWM`` at every
    ``sample()``; a worker that exits between samples keeps the peak it
    showed at the last sample before.  ``reset()`` restarts every peak at
    the current RSS (``clear_refs`` 5).  The JVM is kept apart because its
    RSS follows G1's heap sizing under an 8 GiB cap (1.2 to 2.6 GiB over 20
    ``geo_join`` runs on a 4-core VM), not what the program needs."""

    def __init__(self):
        self.root = os.getpid()
        self.python_kib = self.worker_kib = self.jvm_kib = 0

    def reset(self) -> None:
        for pid in process_tree(self.root):
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:
                pass
        self.python_kib = self.worker_kib = self.jvm_kib = 0

    def sample(self) -> None:
        python, jvm = [], []
        for pid in process_tree(self.root):
            (python if _comm(pid).startswith("python") else jvm).append((pid, _hwm_kib(pid)))
        self.python_kib = max(self.python_kib, sum(k for _p, k in python))
        self.worker_kib = max([self.worker_kib] + [k for p, k in python if p != self.root])
        self.jvm_kib = max(self.jvm_kib, sum(k for _p, k in jvm))
