"""Shared incremental-maintainer machinery — ONE implementation of
the idempotent fold + foreachBatch runner template that the four
stateful maintainers (hourly rollup, transition miner, windowed
funnel, HLL distinct-users) previously each carried verbatim.

The template (identical semantics in every consumer):
- state lives in one parquet table, replaced by writes.overwrite_table
  (atomic staged swap — readers never observe a partial state);
- every state row carries the ``last_batch_id`` sentinel: foreachBatch
  is AT-LEAST-ONCE, and a crash between the state swap and the
  checkpoint offset commit replays the batch — additive statistics
  would double-count, so a replayed id is skipped (one atomic swap
  keeps state and progress marker from ever disagreeing);
- ``init_fn(batch)`` builds state from the first batch ever seen,
  ``merge_fn(prev, batch)`` folds a later batch into prior state.

Each maintainer module keeps its public ``fold_batch_into_state`` /
``run_*_maintainer`` names (tests and callers unchanged) as thin
bindings of this helper to its own (init, merge) pair.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import DataType

from ..sources.catalog import local_rows
from ..writes import overwrite_table

#: sentinel column carried on every state row (see module docstring)
BATCH_COL = "last_batch_id"

InitFn = Callable[[DataFrame], DataFrame]
MergeFn = Callable[[DataFrame, DataFrame], DataFrame]


def fold_batch(batch_df: DataFrame, batch_id: int, state_path: str,
               init_fn: InitFn, merge_fn: MergeFn) -> bool:
    """Idempotently fold one micro-batch into the persisted state;
    False = replayed batch already applied (the at-least-once crash
    window)."""
    spark = batch_df.sparkSession
    if os.path.exists(state_path):
        prev = spark.read.parquet(state_path)
        applied = prev.agg(F.max(BATCH_COL).alias("m")).collect()[0]["m"]
        if applied is not None and batch_id <= applied:
            return False
        new_state = merge_fn(prev.drop(BATCH_COL), batch_df)
    else:
        new_state = init_fn(batch_df)
    overwrite_table(
        spark, new_state.withColumn(BATCH_COL, F.lit(batch_id)), state_path)
    return True


def run_maintainer(events_stream: DataFrame, state_path: str,
                   checkpoint: str, init_fn: InitFn, merge_fn: MergeFn):
    """foreachBatch maintainer loop: restart-safe (checkpoint replays
    unprocessed batches), replay-safe (batch-id sentinel), and the
    swap never exposes a partial state table."""
    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        fold_batch(batch_df, batch_id, state_path, init_fn, merge_fn)

    q = (
        events_stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def watermark_row(spark: SparkSession, ts_type: DataType, wm,
                  dropped: int) -> DataFrame:
    """The watermark maintainers' one ``(kind='w', wm, dropped)`` state
    row, JVM-side (sources.catalog.local_rows). Each maintainer unions
    it after its other row kinds with ``allowMissingColumns``, so its
    columns come last and the rest are NULL."""
    return local_rows(spark, [("w", wm, dropped)],
                      f"kind string, wm {ts_type.simpleString()}, "
                      "dropped long")


def watermark_prologue(prev: DataFrame, ev: DataFrame, lateness_s: int):
    """Shared watermark-fold prologue for the allowed-lateness
    maintainers (late_transitions.py, late_sessions.py,
    interval_join.py) — ONE copy of
    the subtle part: read the 'w' row, merge the batch's max-ts and
    late-count into a single action, advance the watermark, and admit
    events STRICTLY above the previous horizon.

    Strictness is correctness-critical, not style: finalized work ends
    at ts ≤ horizon, so a strictly-greater admitted event can never
    insert below it — the ≥ form would let a tie exactly AT the
    horizon slip under an already-finalized boundary (id-order
    interleave). An event exactly LATENESS late is therefore DROPPED
    and counted, which both modules' docstrings state as the contract.

    Returns (wm_old, dropped_old, wm_new, horizon_new, admitted,
    n_late), with wm_new None iff no event has ever been seen.

    r12 optimization (guide §1.2: fewer driver-coordinated passes):
    the 'w' scalar read and the batch (max ts, late count) aggregate
    used to be TWO sequential collects — two full Spark jobs per
    fold. They fold into ONE 2-row collect: the late-count flag needs
    the previous horizon per batch row BEFORE aggregation, so the
    1-row 'w' frame is attached to the batch by a broadcast cross
    join (wm_old NULL ⇒ the comparison is NULL ⇒ the sum skips it,
    exactly the old horizon_old-is-None ⇒ flag-0 behaviour; an empty
    batch aggregates to one all-NULL row, so the 'w' branch of the
    union still delivers the scalars).
    """
    import datetime as dt

    w = prev.filter(F.col("kind") == "w").select("wm", "dropped")
    batch_agg = (
        ev.crossJoin(F.broadcast(w.select(F.col("wm").alias("_wm"))))
        .agg(F.max("ts").alias("t"),
             F.sum((F.col("ts") <= F.col("_wm")
                    - F.expr(f"INTERVAL {lateness_s} SECONDS"))
                   .cast("long")).alias("c")))
    collected = (
        w.select(F.lit("w").alias("k"), F.col("wm").alias("t"),
                 F.col("dropped").cast("long").alias("c"))
        .unionByName(batch_agg.select(F.lit("b").alias("k"), "t", "c"))
        .collect())
    # invariant guard (ADVICE r12): state must carry EXACTLY ONE 'w'
    # row. A duplicate would silently multiply every batch event
    # through the crossJoin above (inflating n_late) and leave the
    # dict below keeping an arbitrary copy; fail loudly instead.
    if len(collected) != 2 or sum(1 for r in collected if r["k"] == "w") != 1:
        raise ValueError(
            "watermark state invariant violated: expected exactly one "
            f"'w' row + one batch aggregate, got {len(collected)} rows "
            f"({[r['k'] for r in collected]})")
    rows = {r["k"]: r for r in collected}
    wm_old, dropped = rows["w"]["t"], rows["w"]["c"]
    horizon_old = (None if wm_old is None
                   else wm_old - dt.timedelta(seconds=lateness_s))
    batch_max = rows["b"]["t"]
    n_late = int(rows["b"]["c"] or 0)
    wm_new = (wm_old if batch_max is None
              else batch_max if wm_old is None
              else max(wm_old, batch_max))
    horizon_new = (None if wm_new is None
                   else wm_new - dt.timedelta(seconds=lateness_s))
    admitted = (ev if horizon_old is None
                else ev.filter(F.col("ts") > F.lit(horizon_old)))
    return wm_old, dropped, wm_new, horizon_new, admitted, n_late
