"""Paired A/B of the perfbench benchmark: a base revision against this
checkout's working tree.

    python3 scripts/ab.py BASE_REV --workload ingest_fold --seeds 801-810

BASE_REV's committed files are exported with ``git archive`` into a new
temporary directory (``--workdir``, default the system temp dir), so the
base side runs exactly what a fresh checkout of that revision holds and
the repository's ``.git`` is left untouched. For each seed both sides run
the ``BENCHMARK.json`` command with ``--seconds <run_seconds> --trace 0``
one after the other, alternating which side goes first (the base runs
first on the 1st, 3rd, ... seed).

For each end-to-end metric it prints both medians, the head/base ratio
with its base, the base runs' interquartile range, the pairs the head
won (ties count for neither side) and whether the gain rule holds: the
head wins at least nine tenths of the pairs and the medians differ by
more than the base IQR. The last stdout line is a JSON object with every
run. Exit status 1 if any run failed or returned a wrong result. The
exported copy is removed on every way out, SIGTERM included.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tarfile
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: seconds one benchmark run may take before it counts as failed
RUN_TIMEOUT_S = 900


def parse_seeds(spec: str) -> list[int]:
    """``801-810`` or ``801,805,809`` (or a mix) → list of seeds."""
    seeds = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def export_rev(rev: str, dest: str) -> str:
    """Extract ``rev``'s committed tree into ``dest``; return its sha."""
    sha = subprocess.run(["git", "-C", ROOT, "rev-parse", "--verify",
                          f"{rev}^{{commit}}"], check=True,
                         capture_output=True, text=True).stdout.strip()
    tar = subprocess.run(["git", "-C", ROOT, "archive", sha], check=True,
                         capture_output=True).stdout
    with tarfile.open(fileobj=io.BytesIO(tar)) as tf:
        tf.extractall(dest, filter="data")
    return sha


def _stop(proc: subprocess.Popen) -> None:
    """SIGTERM (run.py then stops its JVM and workers), SIGKILL after
    a minute."""
    proc.terminate()
    try:
        proc.wait(60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def run_once(root: str, cmd: list[str], log_path: str) -> dict:
    """One benchmark run in checkout ``root``: its final JSON line, or
    ``{"correct": False, ...}`` with the stderr tail if it failed."""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE,
                                stderr=log, text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            _stop(proc)
            out = ""
        except BaseException:
            _stop(proc)
            raise
    lines = out.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        res = {"correct": False, "metrics": {}}
    res["exit"] = proc.returncode
    if proc.returncode != 0 or not res.get("correct"):
        res["correct"] = False
        with open(log_path) as f:
            res["stderr_tail"] = f.read()[-2000:]
    return res


def iqr(xs: list[float]) -> float:
    if len(xs) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return q3 - q1


def summarize(pairs: list[tuple[dict, dict]], end_to_end: list[dict]):
    """Per end-to-end metric: medians, ratio, base IQR, head wins."""
    rows = []
    for m in end_to_end:
        name, lower = m["name"], m.get("better", "lower") == "lower"
        both = [(b["metrics"][name]["value"], h["metrics"][name]["value"])
                for b, h in pairs
                if name in b["metrics"] and name in h["metrics"]]
        if not both:
            continue
        base = [b for b, _ in both]
        head = [h for _, h in both]
        wins = sum((h < b) if lower else (h > b) for b, h in both)
        mb, mh = statistics.median(base), statistics.median(head)
        spread = iqr(base)
        gain = (wins >= 0.9 * len(both)
                and ((mb - mh) if lower else (mh - mb)) > spread)
        rows.append({"metric": name, "unit": m.get("unit", ""),
                     "base_median": mb, "head_median": mh,
                     "ratio": mh / mb if mb else None, "base_iqr": spread,
                     "head_iqr": iqr(head), "head_wins": wins,
                     "pairs": len(both), "gain": gain})
    return rows


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("base_rev")
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, type=parse_seeds,
                   help="e.g. 801-810 or 801,803")
    p.add_argument("--workdir", default=None,
                   help="where the base copy goes (default: system temp)")
    args = p.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    tmp = tempfile.mkdtemp(prefix="ab-", dir=args.workdir)
    # SIGTERM unwinds like Ctrl-C, so the finally below always runs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        base_root = os.path.join(tmp, "base")
        sha = export_rev(args.base_rev, base_root)
        print(f"base {args.base_rev} = {sha} in {base_root}; head = {ROOT}",
              flush=True)
        pairs, runs = [], []
        for i, seed in enumerate(args.seeds):
            cmd = bench["command"] + [
                "--workload", args.workload, "--seed", str(seed),
                "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            order = [("base", base_root), ("head", ROOT)]
            if i % 2:
                order.reverse()
            got = {}
            for side, root in order:
                got[side] = run_once(root, cmd,
                                     os.path.join(tmp, f"{side}.log"))
                vals = {k: v["value"] for k, v in
                        got[side].get("metrics", {}).items()}
                runs.append({"seed": seed, "side": side,
                             "first": side == order[0][0], **got[side]})
                print(f"seed {seed} {side}: correct="
                      f"{got[side]['correct']} {json.dumps(vals)}",
                      flush=True)
                if not got[side]["correct"]:
                    print(got[side].get("stderr_tail", ""), file=sys.stderr)
            pairs.append((got["base"], got["head"]))
        ok = all(r["correct"] for r in runs)
        rows = summarize([(b, h) for b, h in pairs
                          if b["correct"] and h["correct"]],
                         bench["end_to_end"])
        print(f"\n{args.workload}, base {sha[:10]}, {len(pairs)} pairs")
        print(f"{'metric':<14}{'base med':>10}{'head med':>10}"
              f"{'head/base':>10}{'base IQR':>10}{'wins':>7}  gain")
        for r in rows:
            ratio = "n/a" if r["ratio"] is None else f"{r['ratio']:.3f}"
            print(f"{r['metric']:<14}{r['base_median']:>10.3f}"
                  f"{r['head_median']:>10.3f}{ratio:>10}"
                  f"{r['base_iqr']:>10.3f}"
                  f"{r['head_wins']:>4}/{r['pairs']:<2}  {r['gain']}")
        print(json.dumps({"workload": args.workload, "base": sha,
                          "correct": ok, "summary": rows, "runs": runs}))
        return 0 if ok else 1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
