"""Self-check of the traced run's job attribution and wrappers.

    python3 -m pytest perfbench/test_selfcheck.py

Runs each workload briefly with tracing on (one set-up) and asserts
that the jobs, stages and tasks summed over the op spans equal one
AppStatusStore window read over the whole timed loop (none lost, none
counted twice), and that every wrapper recorded at least one call on
the workload that uses it.
"""

from __future__ import annotations

import os
import shutil
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402

#: wrapper span -> the workload whose loop must call it
EXPECTED = {
    "portal_oltp": ("cache.release_all", "write.append_rows",
                    "write.overwrite_table"),
    "ingest_fold": ("catalog.load_table", "write.overwrite_table",
                    "cache.release_all"),
}
#: the loop always runs at least one whole pass: a block with every
#: portal op kind, or one ingest micro-batch
SECONDS = 1.0


@pytest.fixture(scope="module", autouse=True)
def _stop_jvm():
    """The tests share one driver JVM; stop it after the last one."""
    yield
    run.stop_processes()


@pytest.mark.parametrize("workload", sorted(EXPECTED))
def test_traced_run_attribution(workload):
    run.configure_environment()
    import gen
    import workloads

    seed = 7
    data = gen.ensure_inputs(os.path.join(run.WORK, "data"), seed, workload)
    run_dir = os.path.join(run.WORK, "runs", f"selfcheck-{workload}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    wl = workloads.make(workload, data, run_dir, seed)
    try:
        result = wl.run(1, SECONDS, traced=True)
    finally:
        wl.close()
        shutil.rmtree(run_dir, ignore_errors=True)
    assert result["failed"] == 0
    att = result["stamp"]["attribution"]
    assert att["loop"]["jobs"] > 0
    assert att["ops"] == att["loop"]
    calls = result["stamp"]["wrapper_calls"]
    for name in EXPECTED[workload]:
        assert calls[name] >= 1, (name, calls)
    bound = result["stamp"]["wrapper_bindings"]
    assert all(n >= 1 for n in bound.values()), bound
