"""Benchmark entry point.

    python3 perfbench/run.py --workload portal_oltp --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``
into ``.perfbench/`` at the checkout root (cached per seed), the
workload runs as a closed loop from one client thread on
``local[nproc]`` for at least ``--seconds`` seconds and a fixed
minimum of work, every result is checked after the timed loop, and the
last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics from a
traced run (spans go to ``.perfbench/traces/``). Stdout carries only
``stamp``/``metric`` lines and that JSON; Spark's own output goes to
stderr. The exit code is non-zero if any op failed or returned a wrong
result. Every process the run starts has ended when it exits.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

import trace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("portal_oltp", "ingest_fold")
#: set-ups per run; setup_s is the median of their CPU seconds
SETUP_REPS = 3


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_environment() -> None:
    """Keep every file Spark, the JVM and Python write inside WORK and
    keep progress bars off, before pyspark is imported."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["DWPS_WAREHOUSE_DIR"] = os.path.join(WORK, "warehouse")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        # -XX:-UsePerfData: no hsperfdata file under the system temp dir.
        # -XX:+UseSerialGC: G1 sizes the heap from GC pause times, so the
        # driver's peak RSS moved by a third between runs of one seed;
        # the serial collector sizes it from the live data.
        # -XX:TieredStopAtLevel=1: JIT-compile with C1 only. With C2, a
        # run of a minute never reached a steady state: C2 compiles took
        # half of the driver's CPU time, and how much ran interpreted
        # while they queued depended on the host's load
        "--conf " + shlex.quote("spark.driver.extraJavaOptions="
                                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                                "-XX:+UseSerialGC -XX:TieredStopAtLevel=1"),
        "pyspark-shell"])
    sys.path.insert(0, ROOT)


def host_stamp(seed: int) -> dict:
    # never look for a repository above the checkout
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
    try:
        rev = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10,
                             env=env)
        revision = rev.stdout.strip() if rev.returncode == 0 else None
    except OSError:
        revision = None
    return {"seed": seed, "nproc": len(os.sched_getaffinity(0)),
            "load1_before": os.getloadavg()[0],
            "git_revision": revision or "unknown (not a git checkout)"}


def _alive(pid: int, started: str) -> bool:
    """Whether process ``pid``, started at ``started`` (clock ticks
    after boot), still runs."""
    fields = trace.proc_stat(pid)
    return fields is not None and fields[19] == started and fields[0] != "Z"


def stop_processes(grace_s: float = 30.0) -> None:
    """Stop the driver JVM this process launched and wait until it and
    every process it started (Python workers) have ended; kill what is
    still running after ``grace_s``."""
    # pid -> start time, so a reused pid is not taken for the process
    procs = {pid: fields[19] for pid, fields in trace.process_tree().items()
             if pid != os.getpid()}
    gateway = None
    if "pyspark" in sys.modules:
        from pyspark import SparkContext
        gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:  # the JVM may already be gone
            pass
        if proc is not None:
            # the JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=grace_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + grace_s
    while True:
        left = {p: s for p, s in procs.items() if _alive(p, s)}
        if not left:
            return
        if time.time() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = float("inf")
        # reap children of this process; others are reaped by init
        for p in left:
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
        procs = left
        time.sleep(0.05)


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    args = parse_args(argv)
    # stdout carries only results: everything else the process or the
    # JVM it launches prints goes to stderr
    out = os.fdopen(os.dup(1), "w", buffering=1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr
    # a terminated run still stops the JVM it launched
    signal.signal(signal.SIGTERM, _terminate)
    try:
        return _main(args, out)
    finally:
        stop_processes()


def _main(args: argparse.Namespace, out) -> int:
    configure_environment()
    try:
        import data_warehouse_project_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package is not in this checkout ({e})",
              file=sys.stderr)
        return 2

    import gen
    import workloads

    stamp = host_stamp(args.seed)
    ticks0 = trace.cpu_ticks()
    data = gen.ensure_inputs(os.path.join(WORK, "data"), args.seed,
                             args.workload)
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    wl = workloads.make(args.workload, data, run_dir, args.seed)
    try:
        result = wl.run(SETUP_REPS, args.seconds, bool(args.trace))
    finally:
        wl.close()
        shutil.rmtree(run_dir, ignore_errors=True)

    stamp.update(result.pop("stamp"))
    stamp["load1_after"] = os.getloadavg()[0]
    # share of the host's CPU time the hypervisor gave to other guests
    # during the run: slow runs on a shared host show here
    steal, total = (b - a for a, b in zip(ticks0, trace.cpu_ticks()))
    stamp["cpu_steal_frac"] = steal / total if total else None
    print("stamp " + json.dumps(stamp, sort_keys=True), file=out)
    metrics = {}
    for name, m in result["metrics"].items():
        extra = "".join(f" {k}={v}" for k, v in m.get("detail", {}).items())
        print(f"metric {name} {m['value']!r} {m['unit']}{extra}", file=out)
        metrics[name] = {"value": m["value"], "unit": m["unit"]}
    correct = result["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}),
          file=out)
    out.flush()
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
