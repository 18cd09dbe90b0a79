"""Spans, Spark job attribution and the traced-run wrappers.

Spans nest ``pass -> op -> {build, plan, exec, ...}`` and are kept in
memory until the run ends. After each op the tracer reads the jobs and
stages Spark recorded since the previous op from the AppStatusStore,
windowed by monotone job and stage id (the windowing
``metrics.stage_shuffle_totals`` uses), and gives each job to the
deepest span of the op that was open when the job was submitted.

Package-internal calls are timed by wrappers installed only for the
traced run, at every module attribute that binds the wrapped function.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time
from contextlib import contextmanager

PACKAGE = "data_warehouse_project_spark"

#: slack when matching a job's millisecond submission time to a span
_SLACK_S = 0.002


class Span:
    __slots__ = ("name", "parent", "start", "end", "attrs", "jobs", "sid")

    def __init__(self, sid: int, name: str, parent: "Span | None", attrs: dict):
        self.sid = sid
        self.name = name
        self.parent = parent
        self.start = time.time()
        self.end = None
        self.attrs = attrs
        self.jobs: list[dict] = []

    @property
    def seconds(self) -> float:
        return self.end - self.start

    def depth(self) -> int:
        d, p = 0, self.parent
        while p is not None:
            d, p = d + 1, p.parent
        return d

    def to_json(self) -> dict:
        return {"id": self.sid, "name": self.name,
                "parent": self.parent.sid if self.parent else None,
                "start": self.start, "end": self.end, "attrs": self.attrs,
                "jobs": [j["job"] for j in self.jobs]}


class StatusWindow:
    """Jobs and stages the AppStatusStore holds above an id floor."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._gw = sc._gateway
        self._tracker = sc.statusTracker()
        self.job_floor, self.stage_floor = self.max_ids()

    def _jobs(self):
        js = self._store.jobsList(self._gw.jvm.java.util.ArrayList())
        return [js.apply(i) for i in range(js.size())]

    def _stages(self):
        gw = self._gw
        ss = self._store.stageList(gw.jvm.java.util.ArrayList(), False, False,
                                   gw.new_array(gw.jvm.double, 0),
                                   gw.jvm.java.util.ArrayList())
        return [ss.apply(i) for i in range(ss.size())]

    def max_ids(self) -> tuple[int, int]:
        jobs = [j.jobId() for j in self._jobs()]
        stages = [s.stageId() for s in self._stages()]
        return max(jobs, default=-1), max(stages, default=-1)

    def read(self, job_floor: int,
             stage_floor: int) -> tuple[list[dict], list[dict]]:
        jobs = []
        for j in self._jobs():
            jid = j.jobId()
            if jid <= job_floor:
                continue
            sub, comp = j.submissionTime(), j.completionTime()
            stage_ids = j.stageIds()
            jobs.append({
                "job": jid, "status": j.status().toString(),
                "submit": sub.get().getTime() / 1000 if sub.isDefined() else None,
                "complete": comp.get().getTime() / 1000 if comp.isDefined() else None,
                "stages": [stage_ids.apply(k) for k in range(stage_ids.size())],
            })
        stages = {}
        for s in self._stages():
            sid = s.stageId()
            if sid <= stage_floor:
                continue
            status = s.status().toString()
            # one entry per stage id: a retried attempt adds to the first
            st = stages.setdefault(sid, {
                "stage": sid, "status": status, "tasks": 0, "run_s": 0.0,
                "cpu_s": 0.0, "shuffle_read": 0, "shuffle_write": 0,
                "spill": 0})
            if status != "SKIPPED":
                st["status"] = status
            st["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            st["run_s"] += s.executorRunTime() / 1e3
            st["cpu_s"] += s.executorCpuTime() / 1e9
            st["shuffle_read"] += s.shuffleReadBytes()
            st["shuffle_write"] += s.shuffleWriteBytes()
            st["spill"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return jobs, sorted(stages.values(), key=lambda s: s["stage"])

    def settle(self, job_floor: int, stage_floor: int,
               timeout_s: float = 5.0) -> tuple[list[dict], list[dict]]:
        """Read the window once the listener bus has delivered every
        job and stage end event for it (the store is fed asynchronously)."""
        deadline = time.time() + timeout_s
        while self._tracker.getActiveJobsIds() and time.time() < deadline:
            time.sleep(0.01)
        prev = None
        while True:
            jobs, stages = self.read(job_floor, stage_floor)
            done = (all(j["complete"] is not None for j in jobs)
                    and all(s["status"] in ("COMPLETE", "SKIPPED", "FAILED")
                            for s in stages))
            key = (len(jobs), [(s["stage"], s["tasks"]) for s in stages])
            if done and key == prev:
                return jobs, stages
            if time.time() > deadline:
                raise RuntimeError("listener bus did not settle within "
                                   f"{timeout_s}s: jobs {jobs}")
            prev = key
            time.sleep(0.02)


class Tracer:
    """In-memory span recorder with per-op Spark job attribution."""

    def __init__(self, spark):
        self.window = StatusWindow(spark)
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        #: time spent in the tracer's own bookkeeping (status-store
        #: reads and waits, wrapper accounting)
        self.self_s = 0.0
        self.loop_floor: tuple[int, int] | None = None
        self.stage_rows: dict[int, dict] = {}

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent, attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()

    def start_loop(self) -> None:
        t0 = time.time()
        self.window.settle(-1, -1)
        self.loop_floor = self.window.max_ids()
        self.window.job_floor, self.window.stage_floor = self.loop_floor
        self.self_s += time.time() - t0

    @contextmanager
    def op(self, name: str, **attrs):
        """A top-level op; its Spark jobs are attributed when it ends."""
        with self.span(name, op=True, **attrs) as sp:
            yield sp
        t0 = time.time()
        self._attribute(sp)
        self.self_s += time.time() - t0

    def _attribute(self, op: Span) -> None:
        w = self.window
        jobs, stages = w.settle(w.job_floor, w.stage_floor)
        if jobs:
            w.job_floor = max(j["job"] for j in jobs)
        if stages:
            w.stage_floor = max(s["stage"] for s in stages)
        inside = [s for s in self.spans[op.sid:]
                  if s is op or _descends(s, op)]
        for j in jobs:
            t = j["submit"]
            best = op
            for s in inside:
                if (s.start - _SLACK_S <= t <= s.end + _SLACK_S
                        and s.depth() > best.depth()):
                    best = s
            best.jobs.append(j)
        by_stage = {s["stage"]: s for s in stages}
        claimed = set()
        for j in sorted(jobs, key=lambda j: j["job"]):
            j["stage_rows"] = []
            for sid in j["stages"]:
                if sid in by_stage and sid not in claimed:
                    claimed.add(sid)
                    j["stage_rows"].append(by_stage[sid])
        # a stage no job lists still belongs to this op
        orphans = [s for s in stages if s["stage"] not in claimed]
        op.attrs["orphan_stages"] = orphans
        op.attrs["jobs_union_s"] = _union_seconds(
            [(max(j["submit"], op.start), min(j["complete"], op.end))
             for j in jobs])
        for s in stages:
            self.stage_rows[s["stage"]] = s

    def loop_totals(self) -> dict:
        """Jobs and stages the store recorded since ``start_loop``,
        read in one window: the reference the per-op sums must equal."""
        jobs, stages = self.window.settle(*self.loop_floor)
        return {"jobs": len(jobs),
                "stages": sum(1 for s in stages if s["status"] != "SKIPPED"),
                "tasks": sum(s["tasks"] for s in stages)}

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"meta": extra,
                       "spans": [s.to_json() for s in self.spans],
                       "stages": list(self.stage_rows.values())}, f)


def _descends(span: Span, ancestor: Span) -> bool:
    p = span.parent
    while p is not None:
        if p is ancestor:
            return True
        p = p.parent
    return False


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(i for i in intervals if i[1] > i[0]):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) ticks of all CPUs since boot, from /proc/stat;
    (0, 0) where it is not available."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


def proc_stat(pid: int) -> list[str] | None:
    """The fields of ``/proc/<pid>/stat`` from the state on (field 3),
    or None once the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def process_tree() -> dict[int, list[str]]:
    """``proc_stat`` of this process and of every live process below
    it: the driver JVM and the Python workers it forks."""
    stats = {int(d): proc_stat(int(d)) for d in os.listdir("/proc")
             if d.isdigit()}
    me, tree = os.getpid(), {}
    for pid, fields in stats.items():
        p = pid
        while p > 1 and p != me and stats.get(p):
            p = int(stats[p][1])
        if p == me and fields:
            tree[pid] = fields
    return tree


def tree_cpu_s() -> float:
    """User plus system CPU seconds used so far by this process and
    every live process below it."""
    ticks = sum(int(f[11]) + int(f[12]) for f in process_tree().values())
    return ticks / os.sysconf("SC_CLK_TCK")


def dir_files(path: str) -> dict[str, int]:
    """Relative file name -> size for every file under ``path``."""
    out = {}
    for root, _, files in os.walk(path):
        for name in files:
            full = os.path.join(root, name)
            out[os.path.relpath(full, path)] = os.path.getsize(full)
    return out


# ---------------------------------------------------------------- wrappers
def install_wrappers(tracer: Tracer) -> dict[str, int]:
    """Wrap the package-internal calls the traced run times, at every
    module attribute bound to them. Returns name -> bindings replaced."""
    from data_warehouse_project_spark import cache, writes
    from data_warehouse_project_spark.sources import catalog

    def timed(span_name, fn, after=None, before=None):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            t0 = time.time()
            seen = before(args) if before is not None else None
            tracer.self_s += time.time() - t0
            with tracer.span(span_name) as sp:
                out = fn(*args, **kwargs)
            if after is not None:
                t0 = time.time()
                after(sp, args, out, seen)
                tracer.self_s += time.time() - t0
            return out
        wrapper.__wrapped_by_perfbench__ = True
        return wrapper

    def files_before(args):
        return dir_files(args[1])

    def append_bytes(sp, args, _, before):
        after = dir_files(args[1])
        sp.attrs["bytes_written"] = sum(
            size for f, size in after.items() if f not in before)

    def overwrite_bytes(sp, args, *_):
        sp.attrs["bytes_written"] = sum(dir_files(args[2]).values())

    def released(sp, _, n, __):
        sp.attrs["pins_released"] = n

    plan = {
        catalog.load_table: timed("catalog.load_table", catalog.load_table),
        writes.append_rows: timed("write.append_rows", writes.append_rows,
                                  append_bytes, files_before),
        writes.overwrite_table: timed("write.overwrite_table",
                                      writes.overwrite_table, overwrite_bytes),
        cache.release_all: timed("cache.release_all", cache.release_all,
                                 released),
    }
    bound = {fn.__name__: 0 for fn in plan}
    for name, mod in list(sys.modules.items()):
        if not (name == PACKAGE or name.startswith(PACKAGE + ".")):
            continue
        for attr, value in list(vars(mod).items()):
            for fn, wrapper in plan.items():
                if value is fn:
                    setattr(mod, attr, wrapper)
                    bound[fn.__name__] += 1
    return bound
