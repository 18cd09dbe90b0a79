"""The two workloads: a closed loop from one client thread each.

* ``portal_oltp`` replays the reference portal's traffic (9 reads and 3
  writes per block of 12 ops) against its domain tables and two star
  transplants, and checks each read against the Python model replay
  (``portal_model``) or the DuckDB oracle twin.
* ``ingest_fold`` folds seeded, partly out-of-order micro-batches into
  the ``late_transitions`` (watermark) and ``distinct_users`` (HLL
  sketch) maintainers' states and reads each served report back,
  checking it against DuckDB over the events delivered so far.

Both share set-up (repeated and timed), the warm-up, the timed loop,
the untimed checks and the per-layer roll-up of the traced run.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import math
import os
import shutil
import statistics
import time

import duckdb
import pyarrow.parquet as pq

import portal_model
import trace as tracing


#: spans the traced-run wrappers record (trace.install_wrappers)
WRAPPED_SPANS = ("catalog.load_table", "write.append_rows",
                 "write.overwrite_table", "cache.release_all")


def make(name: str, data: str, run_dir: str, seed: int):
    return {"portal_oltp": PortalOltp, "ingest_fold": IngestFold}[name](
        data, run_dir, seed)


class _NoTrace:
    """Stand-in for the tracer in the untraced run."""

    @staticmethod
    def span(name, **attrs):
        return contextlib.nullcontext()

    op = span


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return abs(a - b) <= 1e-6 * max(1.0, abs(a), abs(b))
    return a == b


def rows_match(got: list[tuple], want: list[tuple], ordered: bool = True) -> bool:
    if len(got) != len(want):
        return False
    if not ordered:
        def key(r):
            return tuple((v is None, "" if v is None else
                          round(v, 4) if isinstance(v, float) else v)
                         for v in r)
        got, want = sorted(got, key=key), sorted(want, key=key)
    return all(len(g) == len(w) and all(_same(x, y) for x, y in zip(g, w))
               for g, w in zip(got, want))


def _day(v) -> dt.date:
    return v.date() if isinstance(v, dt.datetime) else v


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    """Set-up, timed loop, checks and metrics common to both workloads."""

    #: ops (portal) or batches (ingest) per pass, for per-layer sums
    pass_units = 1

    def __init__(self, data: str, run_dir: str, seed: int):
        self.data = data
        self.run_dir = run_dir
        self.seed = seed
        self.spark = None
        self.t = _NoTrace()
        self.failed = 0
        self.attempted = 0

    # ---- hooks
    def stage(self) -> None:
        """Copy the inputs the workload mutates into the run dir."""

    def prepare(self) -> float:
        """Register inputs; returns the warm-scan seconds."""
        raise NotImplementedError

    def warm_up(self) -> None:
        raise NotImplementedError

    def loop(self, seconds: float) -> dict:
        raise NotImplementedError

    def check(self) -> None:
        raise NotImplementedError

    # ---- shared
    def _session(self):
        from data_warehouse_project_spark import session

        t0 = time.time()
        spark = session.get_spark("perfbench", cpus=len(os.sched_getaffinity(0)))
        got = time.time() - t0
        spark.sparkContext.setLogLevel("WARN")
        return spark, got

    def run(self, reps: int, seconds: float, traced: bool) -> dict:
        """Set up ``reps`` times, warm up once, time the loop, then
        check every result. A set-up launches a new session (the first
        also launches the JVM; each later one stops the previous
        session first, untimed) and registers the inputs."""
        self.stage()
        setups, setup_cpu, gets, scans = [], [], [], []
        for _ in range(reps):
            self.close()
            t0, c0 = time.time(), tracing.tree_cpu_s()
            self.spark, got = self._session()
            scans.append(self.prepare())
            setups.append(time.time() - t0)
            setup_cpu.append(tracing.tree_cpu_s() - c0)
            gets.append(got)
            _log(f"set-up {len(setups)}: {setups[-1]:.2f}s, CPU "
                 f"{setup_cpu[-1]:.2f}s (get_spark {got:.2f}s, warm scan "
                 f"{scans[-1]:.2f}s)")
        t0 = time.time()
        self.warm_up()
        warm_up_s = time.time() - t0
        _log(f"warm-up: {warm_up_s:.2f}s")
        tracer = None
        if traced:
            tracer = tracing.Tracer(self.spark)
            bound = tracing.install_wrappers(tracer)
            self.t = tracer
            tracer.start_loop()
        gc0, cpu0 = _jvm_gc_s(self.spark), tracing.tree_cpu_s()
        ticks0 = tracing.cpu_ticks()
        t0 = time.time()
        with self.t.span("loop"):
            loop = self.loop(seconds)
        wall = time.time() - t0
        steal, total = (b - a for a, b in zip(ticks0, tracing.cpu_ticks()))
        loop_gc_s = _jvm_gc_s(self.spark) - gc0
        loop_cpu_s = tracing.tree_cpu_s() - cpu0
        _log(f"timed loop: {wall:.2f}s, {len(loop['read'])} reads "
             f"{_summary(loop['read'])}, {len(loop['write'])} writes "
             f"{_summary(loop['write'])}")
        if traced:
            totals = tracer.loop_totals()
            loop_spans = list(tracer.spans)
        self.check()
        spark = self.spark
        stamp = {
            "spark_version": spark.version,
            "java_version": spark.sparkContext._jvm.java.lang.System
            .getProperty("java.version"),
            "setup_reps": reps, "loop_s": wall,
            "first_setup_s": setups[0], "warm_up_s": warm_up_s,
            # wall-clock times, for reading the run. They are not
            # metrics: on a shared host they moved by up to 2x between
            # runs with the load other guests put on it
            "read_p50_wall_s": statistics.median(loop["read"]),
            "write_p50_wall_s": statistics.median(loop["write"]),
            "pass_p50_wall_s": statistics.median(loop["pass"]),
            "loop_jvm_gc_s": loop_gc_s, "loop_cpu_s": loop_cpu_s,
            "loop_cpu_steal_frac": steal / total if total else None,
        }
        stamp["setup_wall_s"] = statistics.median(setups)
        if not traced:
            metrics = self._end_to_end(setup_cpu, loop, wall, spark)
        else:
            metrics = self._per_layer(tracer, loop_spans, loop, wall, gets,
                                      scans, totals)
            stamp["wrapper_bindings"] = bound
            stamp["attribution"] = {"loop": totals,
                                    "ops": self.attributed}
            stamp["wrapper_calls"] = {
                name: sum(1 for sp in loop_spans if sp.name == name)
                for name in WRAPPED_SPANS}
            tracer.dump(os.path.join(os.path.dirname(os.path.dirname(self.run_dir)),
                                     "traces", os.path.basename(self.run_dir)
                                     + ".json"), stamp)
        return {"metrics": metrics, "attempted": self.attempted,
                "failed": self.failed, "stamp": stamp}

    def _collect(self, df) -> list[tuple]:
        """Run a read: plan (traced runs only, as its own span), then
        collect the rows."""
        if not isinstance(self.t, _NoTrace):
            with self.t.span("plan"):
                df._jdf.queryExecution().executedPlan()
        with self.t.span("exec"):
            return [tuple(r) for r in df.collect()]

    def close(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def _end_to_end(self, setup_cpu, loop, wall, spark) -> dict:
        m = {"setup_s": {"value": statistics.median(setup_cpu), "unit": "s",
                         "detail": {"n": len(setup_cpu)}}}
        for kind in ("read", "write"):
            xs = loop[f"{kind}_cpu"]
            m[f"{kind}_cpu_s"] = {"value": statistics.median(xs), "unit": "s",
                                  "detail": {"passes": len(xs)}}
        py_mb, jvm_mb = _peak_rss_mb(spark)
        m["peak_rss_mb"] = {"value": py_mb + jvm_mb, "unit": "MB",
                            "detail": {"python": round(py_mb, 1),
                                       "jvm": round(jvm_mb, 1)}}
        return m

    def _per_layer(self, tracer, spans, loop, wall, gets, scans,
                   totals) -> dict:
        ops = [s for s in spans if s.attrs.get("op")]
        per_pass = self.pass_units / max(1, loop["passes_units"])

        def under(span, names):
            p = span
            while p is not None:
                if p.name in names:
                    return True
                p = p.parent
            return False

        def total(name):
            return sum(s.seconds for s in spans if s.name == name)

        jobs = [j for s in spans for j in s.jobs]
        stages = [st for j in jobs for st in j["stage_rows"]]
        stages += [st for o in ops for st in o.attrs.get("orphan_stages", [])]
        ran = [st for st in stages if st["status"] != "SKIPPED"]
        exec_s = sum(o.attrs["jobs_union_s"] for o in ops)
        op_s = sum(o.seconds for o in ops)
        build_spans = {s.sid for s in spans if s.name == "build"}
        fold_names = {f"fold.{m}" for m in MAINTAINERS}
        written = sum(s.attrs.get("bytes_written", 0) for s in spans
                      if s.name.startswith("write."))
        changed = sum(s.attrs.get("changed_bytes", 0) for s in spans)
        raw = {
            # the median set-up's, as setup_s
            "session.get_spark_s": (statistics.median(gets), "s", False),
            "catalog.load_table_calls": (
                sum(1 for s in spans if s.name == "catalog.load_table"),
                "count", True),
            "catalog.load_table_s": (total("catalog.load_table"), "s", True),
            "catalog.warm_scan_s": (statistics.median(scans), "s", False),
            "plans.build_s": (total("build"), "s", True),
            "plans.build_jobs": (
                sum(len(s.jobs) for s in spans
                    if s.sid in build_spans or under(s, {"build"})),
                "count", True),
            "spark.plan_s": (total("plan"), "s", True),
            "spark.exec_s": (exec_s, "s", True),
            "spark.jobs": (len(jobs), "count", True),
            "spark.stages": (len(ran), "count", True),
            "spark.tasks": (sum(st["tasks"] for st in stages), "count", True),
            "spark.executor_cpu_s": (sum(st["cpu_s"] for st in stages), "s", True),
            "spark.executor_offcpu_s": (
                sum(st["run_s"] - st["cpu_s"] for st in stages), "s", True),
            "spark.shuffle_write_bytes": (
                sum(st["shuffle_write"] for st in stages), "B", True),
            "spark.shuffle_read_bytes": (
                sum(st["shuffle_read"] for st in stages), "B", True),
            "spark.spill_bytes": (sum(st["spill"] for st in stages), "B", True),
            "spark.driver_gap_s": (op_s - exec_s, "s", True),
            "cache.release_s": (total("cache.release_all"), "s", True),
            "cache.pins_released": (
                sum(s.attrs.get("pins_released", 0) for s in spans
                    if s.name == "cache.release_all"), "count", True),
            "writes.append_rows_s": (total("write.append_rows"), "s", True),
            "writes.overwrite_table_s": (total("write.overwrite_table"), "s", True),
            "writes.bytes_written": (written, "B", True),
            "writes.write_amp": (written / changed if changed else 0.0,
                                 "ratio", False),
            "streaming.fold_jobs": (
                sum(len(s.jobs) for s in spans if under(s, fold_names)),
                "count", True),
            "streaming.state_rows": (loop.get("state_rows", 0), "count", False),
            "streaming.state_bytes": (loop.get("state_bytes", 0), "B", False),
            "streaming.late_dropped": (loop.get("late_dropped", 0), "count", False),
            "trace.overhead_frac": (tracer.self_s / wall, "ratio", False),
        }
        for m in MAINTAINERS:
            raw[f"streaming.fold_s.{m}"] = (total(f"fold.{m}"), "s", True)
        # attribution self-check: the per-op windows must add up to one
        # window read over the whole loop
        attributed = {"jobs": len(jobs), "stages": len(ran),
                      "tasks": sum(st["tasks"] for st in stages)}
        self.attributed = attributed
        if attributed != totals:
            raise RuntimeError(f"job attribution lost or double-counted work: "
                               f"ops {attributed} vs loop {totals}")
        out = {}
        for name, (value, unit, scaled) in sorted(raw.items()):
            out[name] = {"value": value * per_pass if scaled else value,
                         "unit": unit}
        return out


def _log(msg: str) -> None:
    import sys

    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _fmt(xs: list[float]) -> str:
    return "/".join(f"{x:.2f}" for x in xs)


def _summary(xs: list[float]) -> str:
    if not xs:
        return "[]"
    q = sorted(xs)
    return f"[min {q[0]:.3f} p50 {statistics.median(q):.3f} max {q[-1]:.3f}]"


def _jvm_gc_s(spark) -> float:
    """Total collection time of the driver JVM's garbage collectors."""
    jvm = spark.sparkContext._jvm
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1e3


def _peak_rss_mb(spark) -> tuple[float, float]:
    """Peak resident memory of this Python process and of the driver
    JVM."""
    import resource

    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return py_kb / 1024, jvm_kb / 1024


# ====================================================================
# portal_oltp
# ====================================================================
STAR_READS = ("flagship_my_registrations", "dashboard_stats")
WRITES = ("register", "pay", "delete_event")
STAR_TABLES = ("customer", "orders", "lineitem")


class PortalOltp(Workload):
    def __init__(self, data, run_dir, seed):
        super().__init__(data, run_dir, seed)
        with open(os.path.join(data, "domain", "portal_ops.json")) as f:
            spec = json.load(f)
        self.ops = spec["ops"]
        self.warmup = spec["warmup"]
        self.pass_units = spec["block"]
        self.star = os.path.join(data, "star")
        self.domain = os.path.join(run_dir, "domain")
        #: executed ops in order: [(op, rows | Exception)]
        self.executed: list[tuple] = []
        self.key = portal_model.fernet_key(seed)
        self.by_kind: dict[str, list[float]] = {}

    def stage(self) -> None:
        shutil.copytree(os.path.join(self.data, "domain"), self.domain)

    def prepare(self) -> float:
        from data_warehouse_project_spark.sources import catalog

        t0 = time.time()
        for name in STAR_TABLES:
            _noop(catalog.load_table(self.spark, self.star, name))
        return time.time() - t0

    def warm_up(self) -> None:
        """Run the first block, skipping a read whose kind has already
        run: a second one compiles nothing new. Writes all run, since
        the model replays them."""
        seen = set()
        for op in self.ops[:self.warmup]:
            if op["op"] in seen and op["op"] not in WRITES:
                continue
            seen.add(op["op"])
            self._execute(op)

    def loop(self, seconds: float) -> dict:
        """Whole blocks of ops until ``seconds`` have passed, at least
        one. Per block, ``read_cpu``/``write_cpu`` hold the mean CPU
        seconds of its reads and of its writes."""
        reads, writes_, blocks = [], [], []
        read_cpu, write_cpu = [], []
        i, t_end = self.warmup, time.time() + seconds
        while not blocks or time.time() < t_end:
            if i + self.pass_units > len(self.ops):
                raise RuntimeError("portal op sequence exhausted")
            t_block = time.perf_counter()
            cpu = {True: [], False: []}
            with self.t.span("pass"):
                for op in self.ops[i:i + self.pass_units]:
                    t0, c0 = time.perf_counter(), tracing.tree_cpu_s()
                    is_read = self._execute(op)
                    took = time.perf_counter() - t0
                    cpu[is_read].append(tracing.tree_cpu_s() - c0)
                    (reads if is_read else writes_).append(took)
                    self.by_kind.setdefault(op["op"], []).append(
                        (took, cpu[is_read][-1]))
            blocks.append(time.perf_counter() - t_block)
            read_cpu.append(statistics.mean(cpu[True]))
            write_cpu.append(statistics.mean(cpu[False]))
            _log(f"pass {len(blocks)}: {blocks[-1]:.2f}s, CPU per read "
                 f"{read_cpu[-1]:.2f}s, per write {write_cpu[-1]:.2f}s")
            i += self.pass_units
        for kind, xs in sorted(self.by_kind.items()):
            _log(f"  {kind}: {len(xs)} wall {_summary([x[0] for x in xs])} "
                 f"CPU {_summary([x[1] for x in xs])}")
        return {"read": reads, "write": writes_, "pass": blocks,
                "read_cpu": read_cpu, "write_cpu": write_cpu,
                "passes_units": i - self.warmup}

    # ---- ops
    def _table(self, name: str):
        from data_warehouse_project_spark import schemas

        return (self.spark.read.schema(schemas.DOMAIN_TABLES[name])
                .parquet(os.path.join(self.domain, name)))

    def _execute(self, op: dict) -> bool:
        kind = op["op"]
        is_read = kind not in WRITES
        try:
            with self.t.op(kind) as sp:
                if is_read:
                    rows = self._read(op)
                else:
                    self._write(op, sp)
                    rows = None
        except Exception as e:  # counted as a failed op, run continues
            import traceback
            traceback.print_exc()
            rows = e
        self.executed.append((op, rows))
        return is_read

    def _read(self, op: dict) -> list[tuple]:
        from data_warehouse_project_spark import cache, registry
        from data_warehouse_project_spark.functions import crypto
        from data_warehouse_project_spark.plans import portal

        kind = op["op"]
        with self.t.span("build"):
            if kind in STAR_READS:
                df = registry.queries()[kind](self.spark, self.star)
            elif kind == "authenticate":
                pw = op["password"] or portal_model.password_for(
                    self.seed, op["user_id"])
                df = portal.authenticate(self._table("users"), op["email"], pw)
            elif kind == "list_active_events":
                df = portal.list_active_events(self._table("app_events"))
            elif kind == "event_stats":
                df = portal.event_stats(self._table("app_events"),
                                        self._table("registrations"),
                                        self._table("payments"))
            elif kind == "my_registrations":
                df = portal.my_registrations(
                    self._table("registrations"), self._table("app_events"),
                    self._table("payments"), op["user_id"])
            elif kind == "saved_cards_masked":
                df = portal.saved_cards_masked(
                    self._table("saved_cards"), op["user_id"],
                    lambda c: crypto.decrypt_col(c, self.key))
            else:
                raise ValueError(kind)
        rows = self._collect(df)
        cache.release_all()
        return (df.columns, rows) if kind in STAR_READS else rows

    def _write(self, op: dict, sp) -> None:
        from data_warehouse_project_spark import writes

        kind = op["op"]
        spark = self.spark
        if kind == "register":
            path = os.path.join(self.domain, "registrations")
            with self.t.span("build"):
                new = spark.createDataFrame(
                    [(op["user_id"], op["event_id"], "Pending")],
                    "user_id long, event_id long, payment_status string")
                keyed = writes.with_surrogate_keys(
                    new, "registration_id",
                    existing=self._table("registrations"),
                    order_by=["user_id", "event_id"]).select(
                        "registration_id", "user_id", "event_id",
                        "payment_status")
            writes.append_rows(keyed, path)
            self._changed(sp, ["registrations"], 1)
        elif kind == "pay":
            with self.t.span("build"):
                row = spark.createDataFrame(
                    [(op["user_id"], op["registration_id"], op["card_id"],
                      float(op["amount"]),
                      "Saved" if op["card_id"] is not None else "OneTime",
                      "Success", dt.datetime.fromisoformat(op["payment_date"]))],
                    "user_id long, registration_id long, card_id long, "
                    "amount double, payment_type string, "
                    "payment_status string, payment_date timestamp_ntz")
                pays, regs = writes.record_payment(
                    self._table("payments"), self._table("registrations"), row)
                pays = pays.select(*portal_model.columns("payments"))
                regs = regs.select(*portal_model.columns("registrations"))
            writes.overwrite_table(spark, pays,
                                   os.path.join(self.domain, "payments"))
            writes.overwrite_table(spark, regs,
                                   os.path.join(self.domain, "registrations"))
            self._changed(sp, ["payments", "registrations"], 1)
        elif kind == "delete_event":
            with self.t.span("build"):
                ev = writes.soft_delete(self._table("app_events"), "event_id",
                                        op["event_id"])
            writes.overwrite_table(spark, ev,
                                   os.path.join(self.domain, "app_events"))
            self._changed(sp, ["app_events"], 1)
        else:
            raise ValueError(kind)

    def _changed(self, sp, tables: list[str], rows: int) -> None:
        """Record the bytes of the rows the write changed: ``rows`` per
        table at that table's mean stored bytes per row."""
        if sp is None:
            return
        total = 0.0
        for name in tables:
            path = os.path.join(self.domain, name)
            n = pq.ParquetDataset(path).read(columns=[]).num_rows
            total += rows * sum(tracing.dir_files(path).values()) / max(1, n)
        sp.attrs["changed_bytes"] = total

    # ---- checks
    def check(self) -> None:
        duck = duckdb.connect()
        for name in STAR_TABLES:
            duck.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet("
                         f"'{os.path.join(self.star, name + '.parquet')}')")
        from data_warehouse_project_spark import registry

        oracle = {}
        for kind in STAR_READS:
            cur = duck.execute(registry.oracle_sql()[kind])
            oracle[kind] = ([d[0] for d in cur.description], cur.fetchall())
        model = portal_model.PortalModel.load(
            os.path.join(self.data, "domain"), self.seed)
        for op, rows in self.executed:
            self.attempted += 1
            kind = op["op"]
            if isinstance(rows, Exception):
                self.failed += 1
                model.apply(op)
            elif kind in STAR_READS:
                cols, want = oracle[kind]
                got_cols, rows = rows
                order = [cols.index(c) for c in got_cols]
                want = [tuple(r[k] for k in order) for r in want]
                if not rows_match(rows, want, ordered=False):
                    self._mismatch(op, rows, want)
            elif rows is None:
                model.apply(op)
            else:
                want = model.expected(op, self.seed)
                if not rows_match(rows, want):
                    self._mismatch(op, rows, want)
        # the tables on disk after the run are the model's
        for name in portal_model.TABLES:
            got = sorted(tuple(r.values()) for r in pq.read_table(
                os.path.join(self.domain, name)).to_pylist())
            if not rows_match(got, model.table_rows(name)):
                self._mismatch({"op": f"stored {name}"}, got[:3],
                               model.table_rows(name)[:3])

    def _mismatch(self, op, got, want) -> None:
        import sys

        self.failed += 1
        print(f"perfbench: wrong result for {op}: got {got[:3]}... "
              f"want {want[:3]}...", file=sys.stderr)


# ====================================================================
# ingest_fold
# ====================================================================
MAINTAINERS = ("late_transitions", "distinct_users")


class IngestFold(Workload):
    """One continuing stream: each pass folds the next micro-batch into
    the maintainers' states and serves their reports."""

    #: untimed warm-up batches: the first fold, into empty state
    WARMUP_BATCHES = 1
    #: the timed loop runs at least this many batches, so a run's
    #: figures always cover the same batches of the stream
    MIN_PASSES = 2

    def __init__(self, data, run_dir, seed):
        super().__init__(data, run_dir, seed)
        with open(os.path.join(data, "ingest_schedule.json")) as f:
            self.schedule = json.load(f)["batches"]
        self.batch_dirs = [os.path.join(data, f"batch-{b['batch']:02d}")
                           for b in self.schedule]
        self.state = os.path.join(run_dir, "state")
        self.next_batch = 0
        #: (batch index, {maintainer: rows | Exception}, dropped)
        self.served: list[tuple] = []

    def _modules(self):
        from data_warehouse_project_spark.streaming import (
            distinct_users, late_transitions)

        return {
            "late_transitions": (late_transitions,
                                 late_transitions.state_to_report),
            "distinct_users": (distinct_users,
                               distinct_users.state_to_estimates),
        }

    def prepare(self) -> float:
        """Register the stream source: read its first micro-batch
        through ``sources.catalog``. Later batches arrive in the loop."""
        from data_warehouse_project_spark.sources import catalog

        t0 = time.time()
        _noop(catalog.load_table(self.spark, self.batch_dirs[0], "events"))
        return time.time() - t0

    def warm_up(self) -> None:
        for _ in range(self.WARMUP_BATCHES):
            self._next()

    def _next(self) -> tuple[list[float], list[float], float, float]:
        if self.next_batch == len(self.schedule):
            raise RuntimeError("ingest batch schedule exhausted")
        b, self.next_batch = self.next_batch, self.next_batch + 1
        return self._batch(b, self.state)

    def loop(self, seconds: float) -> dict:
        """One micro-batch per pass until ``seconds`` have passed, at
        least ``MIN_PASSES``. A batch's write is its folds into every
        state; its read is serving every report."""
        reads, writes_, passes = [], [], []
        read_cpu, write_cpu = [], []
        t_end = time.time() + seconds
        while len(passes) < self.MIN_PASSES or time.time() < t_end:
            t_pass = time.perf_counter()
            with self.t.span("pass"):
                fold_s, serve_s, fold_cpu, serve_cpu = self._next()
            passes.append(time.perf_counter() - t_pass)
            writes_.append(sum(fold_s))
            reads.append(sum(serve_s))
            write_cpu.append(fold_cpu)
            read_cpu.append(serve_cpu)
            _log(f"pass {len(passes)}: {passes[-1]:.2f}s, CPU fold "
                 f"{fold_cpu:.2f}s, serve {serve_cpu:.2f}s")
        rows, bytes_, dropped = self._state_size(self.state)
        return {"read": reads, "write": writes_, "pass": passes,
                "read_cpu": read_cpu, "write_cpu": write_cpu,
                "passes_units": len(passes), "state_rows": rows,
                "state_bytes": bytes_, "late_dropped": dropped}

    def _batch(self, b: int, state: str
               ) -> tuple[list[float], list[float], float, float]:
        """Fold batch ``b`` into every state and serve every report;
        returns the wall seconds of each fold and each serve, and the
        CPU seconds of all folds and of all serves."""
        from data_warehouse_project_spark import cache
        from data_warehouse_project_spark.sources import catalog

        mods = self._modules()
        fold_s, serve_s, served = [], [], {}
        fold_cpu = serve_cpu = 0.0
        try:
            with self.t.op("batch", batch=b):
                c0 = tracing.tree_cpu_s()
                with self.t.span("build"):
                    batch_df = catalog.load_table(self.spark, self.batch_dirs[b],
                                                  "events")
                for m, (mod, _) in mods.items():
                    t0 = time.perf_counter()
                    with self.t.span(f"fold.{m}") as sp:
                        mod.fold_batch_into_state(batch_df, b,
                                                  os.path.join(state, m))
                    fold_s.append(time.perf_counter() - t0)
                    if sp is not None:
                        sp.attrs["changed_bytes"] = sum(
                            tracing.dir_files(self.batch_dirs[b]).values())
                c1 = tracing.tree_cpu_s()
                fold_cpu = c1 - c0
                for m, (_, serve) in mods.items():
                    t0 = time.perf_counter()
                    with self.t.span(f"report.{m}"):
                        with self.t.span("build"):
                            df = serve(self.spark.read.parquet(
                                os.path.join(state, m)))
                        served[m] = self._collect(df)
                        cache.release_all()
                    serve_s.append(time.perf_counter() - t0)
                serve_cpu = tracing.tree_cpu_s() - c1
        except Exception as e:  # counted as a failed op, run continues
            import traceback
            traceback.print_exc()
            served = e
        self.served.append((b, served, self._dropped(state)))
        _log(f"  batch {b}: fold {_fmt(fold_s)} serve {_fmt(serve_s)}")
        return fold_s, serve_s, fold_cpu, serve_cpu

    @staticmethod
    def _dropped(state: str) -> int:
        total = 0
        for m in ("late_transitions",):
            path = os.path.join(state, m)
            if os.path.exists(path):
                t = pq.read_table(path, columns=["kind", "dropped"]).to_pylist()
                total += sum(r["dropped"] or 0 for r in t if r["kind"] == "w")
        return total

    @staticmethod
    def _state_size(state: str) -> tuple[int, int, int]:
        rows = bytes_ = 0
        for m in MAINTAINERS:
            path = os.path.join(state, m)
            rows += pq.ParquetDataset(path).read(columns=[]).num_rows
            bytes_ += sum(tracing.dir_files(path).values())
        return rows, bytes_, IngestFold._dropped(state)

    # ---- checks
    def check(self) -> None:
        from data_warehouse_project_spark.streaming import distinct_users
        from data_warehouse_project_spark.streaming.batch_parity import (
            EVENTS_TRANSITIONS_SQL)

        duck = duckdb.connect()
        oracle = {}
        for b in sorted({b for b, _, _ in self.served}):
            files = [os.path.join(d, "events.parquet")
                     for d in self.batch_dirs[:b + 1]]
            duck.execute("CREATE OR REPLACE VIEW events AS SELECT * FROM "
                         f"read_parquet({files!r})")
            oracle[b] = {
                "late_transitions": duck.execute(
                    EVENTS_TRANSITIONS_SQL).fetchall(),
                "distinct_users": {
                    (r[0], _day(r[1])): r[2] for r in duck.execute(
                        distinct_users.DISTINCT_USERS_SQL).fetchall()},
            }
        for b, served, dropped in self.served:
            self.attempted += 1
            if isinstance(served, Exception):
                self.failed += 1
                continue
            want = oracle[b]
            est = {(r[0], _day(r[1])): r[2] for r in served["distinct_users"]}
            exact = want["distinct_users"]
            bad = [name for name, ok in (
                ("late_dropped", dropped == 0),
                ("late_transitions", rows_match(served["late_transitions"],
                                                want["late_transitions"])),
                ("distinct_users", est.keys() == exact.keys() and all(
                    abs(est[k] - exact[k]) * 100
                    <= exact[k] * distinct_users.GATE_PCT for k in exact)),
            ) if not ok]
            if bad:
                self.failed += 1
                _log(f"batch {b}: served {bad} differ from DuckDB over the "
                     f"events delivered so far (late_dropped={dropped})")
                if "late_transitions" in bad:
                    _log(f"  got {served['late_transitions'][:3]}... want "
                         f"{want['late_transitions'][:3]}...")
