"""In-memory spans around the benchmark's own public calls, plus the
offline join of those spans with Spark's event log.

Every span that runs Spark work gets its own job group, so each job,
stage, task and SQL execution in the event log maps back to exactly one
span.  Nothing inside the package is instrumented: all timing is taken
from outside, around public calls.
"""

from __future__ import annotations

import glob
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

SQL = "org.apache.spark.sql.execution.ui."
PY_BYTES = ("data sent to Python workers", "data returned from Python workers")
JSONAPI_SCAN = "BatchScan pco_jsonapi"


@dataclass
class Span:
    id: int
    name: str
    run: str
    parent: int | None
    start: float
    end: float = 0.0
    kind: str = ""  # "build" | "write" | "batch" | "" (plain)
    op: bool = False  # one timed public call (a "query")
    group: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; when ``sc`` is given, every span also becomes the
    Spark job group of the calls made inside it."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.group, span.name)

    @contextmanager
    def span(self, name: str, run: str, kind: str = "", op: bool = False, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=len(self.spans), name=name, run=run,
            parent=parent.id if parent else None, start=time.time(),
            kind=kind, op=op, attrs=attrs,
        )
        s.group = f"pb-{s.id}"
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def add(self, name: str, run: str, parent: int | None, start: float,
            end: float, kind: str = "", **attrs) -> Span:
        """Record a span measured elsewhere (a micro-batch)."""
        s = Span(id=len(self.spans), name=name, run=run, parent=parent,
                 start=start, end=end, kind=kind, attrs=attrs)
        self.spans.append(s)
        return s

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its children cover."""
        covered: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None:
                covered.setdefault(s.parent, []).append((s.start, s.end))
        out = {}
        for s in self.spans:
            busy, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(covered.get(s.id, [])):
                lo, hi = max(lo, s.start), min(hi, s.end)
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    busy += 0.0 if cur_hi is None else cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                busy += cur_hi - cur_lo
            out[s.id] = s.dur - busy
        return out

    def dump(self, path) -> None:
        selfs = self.self_times()
        rows = [dict(asdict(s), self_s=selfs[s.id]) for s in self.spans]
        with open(path, "w") as fh:
            for r in rows:
                fh.write(json.dumps(r, sort_keys=True) + "\n")


def load_event_log(log_dir: str) -> list[dict]:
    events = []
    for f in sorted(glob.glob(f"{log_dir}/*")):
        if f.endswith(".inprogress") or "appstatus" in f:
            continue
        with open(f) as fh:
            events.extend(json.loads(line) for line in fh)
    return events


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_overhead_s: float = 0.0
    cpu_s: float = 0.0
    run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    python_mb: float = 0.0
    broadcast_mb: float = 0.0
    jsonapi_scan_tasks: int = 0
    jsonapi_scan_s: float = 0.0
    # (start, end) in epoch seconds of each root SQL execution
    executions: list = field(default_factory=list)


def _broadcast_size_ids(plan: dict, out: set) -> None:
    if plan.get("nodeName") == "BroadcastExchange":
        for m in plan.get("metrics", []):
            if m.get("name") == "data size":
                out.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _broadcast_size_ids(child, out)


def group_stats(events: list[dict]) -> dict[str, GroupStats]:
    """Attribute every job, stage, task and root SQL execution in the
    event log to the job group it ran under."""
    stats: dict[str, GroupStats] = {}
    stage_group: dict[int, str] = {}
    jsonapi_stages: set[int] = set()
    exec_group: dict[int, str] = {}
    exec_start: dict[int, float] = {}
    bcast_ids: dict[int, set] = {}
    accum: dict[int, dict[int, float]] = {}
    py_acc: dict[tuple[str, int], float] = {}

    def g(name):
        return stats.setdefault(name, GroupStats())

    for e in events:
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            grp = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if grp:
                g(grp).jobs += 1
        elif ev == "SparkListenerStageSubmitted":
            si = e["Stage Info"]
            grp = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if grp:
                stage_group[si["Stage ID"]] = grp
                g(grp).stages += 1
            if any(
                JSONAPI_SCAN in (r.get("Scope") or "") or JSONAPI_SCAN in r.get("Name", "")
                for r in si.get("RDD Info", [])
            ):
                jsonapi_stages.add(si["Stage ID"])
        elif ev == "SparkListenerTaskEnd":
            grp = stage_group.get(e["Stage ID"])
            if grp is None:
                continue
            st, ti, tm = g(grp), e["Task Info"], e.get("Task Metrics") or {}
            dur_ms = ti["Finish Time"] - ti["Launch Time"]
            deser = tm.get("Executor Deserialize Time", 0)
            run = tm.get("Executor Run Time", 0)
            ser = tm.get("Result Serialization Time", 0)
            getting = ti["Finish Time"] - ti["Getting Result Time"] if ti.get("Getting Result Time") else 0
            sched = max(0, dur_ms - deser - run - ser - getting)
            st.tasks += 1
            st.task_overhead_s += (deser + sched + ser) / 1e3
            st.cpu_s += (tm.get("Executor CPU Time", 0) + tm.get("Executor Deserialize CPU Time", 0)) / 1e9
            st.run_s += run / 1e3
            st.gc_s += tm.get("JVM GC Time", 0) / 1e3
            sr = tm.get("Shuffle Read Metrics") or {}
            st.shuffle_read_mb += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / 2**20
            st.shuffle_write_mb += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 2**20
            st.spill_mb += (tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)) / 2**20
            # the Python runners' byte counters are running totals, so keep
            # each accumulator's latest value rather than summing updates
            for a in ti.get("Accumulables", []):
                if a.get("Name") in PY_BYTES:
                    py_acc[(grp, a["ID"])] = max(py_acc.get((grp, a["ID"]), 0.0), float(a["Value"]))
            if e["Stage ID"] in jsonapi_stages:
                st.jsonapi_scan_tasks += 1
                st.jsonapi_scan_s += dur_ms / 1e3
        elif ev == SQL + "SparkListenerSQLExecutionStart":
            eid, grp = e["executionId"], e.get("jobGroupId")
            ids: set = set()
            _broadcast_size_ids(e.get("sparkPlanInfo") or {}, ids)
            bcast_ids.setdefault(eid, set()).update(ids)
            if grp:
                exec_group[eid] = grp
                if e.get("rootExecutionId", eid) == eid:
                    exec_start[eid] = e["time"] / 1e3
        elif ev == SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
            ids = set()
            _broadcast_size_ids(e.get("sparkPlanInfo") or {}, ids)
            bcast_ids.setdefault(e["executionId"], set()).update(ids)
        elif ev == SQL + "SparkListenerDriverAccumUpdates":
            acc = accum.setdefault(e["executionId"], {})
            for aid, val in e.get("accumUpdates", []):
                acc[aid] = float(val)
        elif ev == SQL + "SparkListenerSQLExecutionEnd":
            eid = e["executionId"]
            if eid in exec_start:
                g(exec_group[eid]).executions.append((exec_start[eid], e["time"] / 1e3))
    for (grp, _), val in py_acc.items():
        g(grp).python_mb += val / 2**20
    for eid, grp in exec_group.items():
        vals = accum.get(eid, {})
        g(grp).broadcast_mb += sum(vals.get(a, 0) for a in bcast_ids.get(eid, ())) / 2**20
    return stats
