"""Seeded input generator for the benchmark.

Everything a workload reads is made here from ``--seed`` and cached per
seed under the benchmark's data directory; nothing is read from outside
the checkout.

* Star copy (``star/``): ``customer``/``orders``/``lineitem`` with the
  schemas, row counts and key ranges of the sf0.01 star fixture. One
  fixed base table set is drawn from a constant seed; ``--seed`` then
  applies a permutation of each key domain onto itself to every column
  that joins to that key and shuffles the rows of each file, so join
  match rates, key ranges and row counts are the same for every seed.
* Portal domain (``domain/``): the reference app's tables
  (``schemas.DOMAIN_TABLES``) plus the op sequence (``portal_ops.json``)
  the closed loop replays. Op arguments are chosen by stepping the
  Python model in ``portal_model.py``, so every op is valid when it runs.
* Ingest (``ingest/``): an event stream with the sf0.01 events
  fixture's shape, cut into micro-batches by event time; the events just
  below each cut are held back into the next batch, and
  ``ingest_schedule.json`` records the batches. Every held-back event is
  strictly inside ``LATENESS_S`` of the watermark it meets, so a correct
  fold drops nothing.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from portal_model import PortalModel

#: base tables are the same for every seed; only the key permutation
#: and row order depend on --seed
BASE_SEED = 42

#: the sf0.01 star fixture's row counts
N_CUSTOMER = 1_500
N_ORDERS = 15_000
N_LINEITEM = 60_000

#: portal domain sizes, taken from the sf0.01 star through the roles
#: the star transplants give them (plans/flagship.py: customer ~ users,
#: orders ~ registrations); app_events and saved_cards have no star
#: role and take part's and customer's counts
N_USERS = N_CUSTOMER
N_REGISTRATIONS = N_ORDERS
N_APP_EVENTS = 2_000
N_CARDS = N_CUSTOMER
#: ops in the generated portal sequence; a run replays a prefix
PORTAL_OPS = 480
#: ops per portal block: 9 reads + 3 writes, one write of each kind,
#: shuffled within the block
READ_MIX = (["authenticate"] * 2 + ["list_active_events"]
            + ["my_registrations"] * 2 + ["event_stats", "saved_cards_masked",
                                          "flagship_my_registrations",
                                          "dashboard_stats"])
WRITE_MIX = ["register", "pay", "delete_event"]
BLOCK = len(READ_MIX) + len(WRITE_MIX)

#: the sf0.01 events fixture's shape: 10,000 events of 150 users
#: (66.7 per user) at uniform times over 30 days, event ids in time
#: order, five event types drawn uniformly, values exponential with
#: mean 50, props {"k": 0..99}
N_STREAM_EVENTS = 10_000
N_STREAM_USERS = 150
STREAM_SPAN_S = 30 * 86_400
STREAM_START = dt.datetime(2024, 1, 1)
VALUE_MEAN = 50.0
#: one micro-batch per two days of event time
N_BATCHES = 15
#: disorder of the package's own out-of-order scenario
#: (late_transitions.events_transitions_late_tolerant): the events in
#: (cut - 6 h, cut - 3 h] below each cut are held back and delivered
#: with the next batch, inside the 6 h LATENESS_S
HOLD_FROM_S = 6 * 3600
HOLD_TO_S = 3 * 3600
LATENESS_S = 6 * 3600

FORMAT_VERSION = "2"


def _ts_us(seconds: np.ndarray, start: dt.datetime) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + (seconds * 1_000_000).astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _star_base() -> dict[str, dict[str, np.ndarray]]:
    rng = np.random.default_rng(BASE_SEED)
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    customer = {
        "c_custkey": np.arange(N_CUSTOMER, dtype=np.int64),
        "c_name": np.array([f"Customer#{i:09d}" for i in range(N_CUSTOMER)]),
        "c_nationkey": rng.integers(0, 25, N_CUSTOMER).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, N_CUSTOMER), 2),
        "c_mktsegment": segs[rng.integers(0, 5, N_CUSTOMER)],
    }
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"])
    order_days = rng.integers(0, 2404, N_ORDERS)
    orders = {
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, N_ORDERS), 2),
        "o_orderdate": order_days * 86_400,
        "o_orderpriority": prio[rng.integers(0, 5, N_ORDERS)],
    }
    lineitem = {
        "l_orderkey": rng.integers(0, N_ORDERS, N_LINEITEM).astype(np.int64),
        "l_partkey": rng.integers(0, 2000, N_LINEITEM).astype(np.int64),
        "l_suppkey": rng.integers(0, 100, N_LINEITEM).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, N_LINEITEM).astype(np.int32),
        "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 100000, N_LINEITEM), 2),
        "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, N_LINEITEM)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, N_LINEITEM)],
        "l_shipdate": rng.integers(1, 2500, N_LINEITEM) * 86_400,
    }
    return {"customer": customer, "orders": orders, "lineitem": lineitem}


def write_star(seed: int, out: str) -> None:
    """Key-permuted, row-shuffled sf0.01 star copy for ``seed``."""
    base = _star_base()
    rng = np.random.default_rng([seed % 2**32, 1])
    cust = rng.permutation(N_CUSTOMER).astype(np.int64)
    okey = rng.permutation(N_ORDERS).astype(np.int64)
    pkey = rng.permutation(2000).astype(np.int64)
    skey = rng.permutation(100).astype(np.int64)
    nkey = rng.permutation(25).astype(np.int32)
    remap = {
        "c_custkey": cust, "o_custkey": cust,
        "o_orderkey": okey, "l_orderkey": okey,
        "l_partkey": pkey, "l_suppkey": skey, "c_nationkey": nkey,
    }
    epoch = dt.datetime(1995, 1, 1)
    for name, cols in base.items():
        n = len(next(iter(cols.values())))
        order = rng.permutation(n)
        arrays = {}
        for col, values in cols.items():
            if col in remap:
                values = remap[col][values]
            values = values[order]
            if col in ("o_orderdate", "l_shipdate"):
                arrays[col] = _ts_us(values, epoch)
            else:
                arrays[col] = pa.array(values)
        _write(pa.table(arrays), os.path.join(out, f"{name}.parquet"))


def write_domain(seed: int, out: str) -> None:
    """Portal domain tables and the op sequence replayed against them."""
    rng = np.random.default_rng([seed % 2**32, 2])
    model = PortalModel.initial(rng, seed, N_USERS, N_APP_EVENTS,
                                N_REGISTRATIONS, N_CARDS)
    model.write_tables(out, seed)
    ops = []
    while len(ops) < PORTAL_OPS:
        kinds = READ_MIX + WRITE_MIX
        for i in rng.permutation(len(kinds)):
            op = model.draw(kinds[i], rng)
            model.apply(op)
            ops.append(op)
    with open(os.path.join(out, "portal_ops.json"), "w") as f:
        # the first block is the untimed warm-up
        json.dump({"warmup": BLOCK, "block": BLOCK, "ops": ops}, f)


def write_ingest(seed: int, out: str) -> None:
    """Event stream, micro-batches with held-back events, and schedule."""
    rng = np.random.default_rng([seed % 2**32, 3])
    secs = np.sort(rng.uniform(0, STREAM_SPAN_S, N_STREAM_EVENTS))
    # microsecond-granular timestamps, like the events fixture
    micros = np.round(secs * 1e6).astype(np.int64)
    secs = micros / 1e6
    users = rng.integers(0, N_STREAM_USERS, N_STREAM_EVENTS).astype(np.int64)
    etype = np.array(["click", "error", "purchase", "signup", "view"])[
        rng.integers(0, 5, N_STREAM_EVENTS)]
    value = np.round(rng.exponential(VALUE_MEAN, N_STREAM_EVENTS), 2)
    props = np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100,
                                                           N_STREAM_EVENTS)])
    event_id = np.arange(N_STREAM_EVENTS, dtype=np.int64)
    base = np.datetime64(STREAM_START, "us")
    ts = base + micros.astype("timedelta64[us]")

    # equal event-time slices; the events in (cut - HOLD_FROM_S,
    # cut - HOLD_TO_S] below each cut are delivered with the next slice
    cuts = [STREAM_SPAN_S * (b + 1) / N_BATCHES for b in range(N_BATCHES - 1)]
    deliver = np.searchsorted(np.array(cuts), secs, side="left")
    for b, cut in enumerate(cuts):
        held = (secs > cut - HOLD_FROM_S) & (secs <= cut - HOLD_TO_S)
        deliver[held] = b + 1
    # every held-back event must be admitted: strictly above the
    # horizon of the watermark seen before its batch
    wm = None
    for b in range(N_BATCHES):
        mine = deliver == b
        if wm is not None:
            assert secs[mine].min() > wm - LATENESS_S, \
                "schedule would drop events"
        wm = secs[mine].max() if wm is None else max(wm, secs[mine].max())

    table = pa.table({
        "event_id": event_id, "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": users, "event_type": etype, "value": value, "props": props,
    })
    order = rng.permutation(N_STREAM_EVENTS)
    batches = []
    for b in range(N_BATCHES):
        rows = order[deliver[order] == b]
        _write(table.take(pa.array(rows)),
               os.path.join(out, f"batch-{b:02d}", "events.parquet"))
        batches.append({"batch": b, "events": int(len(rows)),
                        "held_back_in": int(np.sum((deliver == b)
                                                   & (secs <= cuts[b - 1])))
                        if b else 0})
    with open(os.path.join(out, "ingest_schedule.json"), "w") as f:
        json.dump({"lateness_s": LATENESS_S, "batches": batches}, f)


def generator_digest() -> str:
    """Hash of the generator's sources: a cached input set is reused
    only if it was made by the same code."""
    h = hashlib.sha256(FORMAT_VERSION.encode())
    here = os.path.dirname(os.path.abspath(__file__))
    for name in ("gen.py", "portal_model.py"):
        with open(os.path.join(here, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def ensure_inputs(data_root: str, seed: int, workload: str) -> str:
    """Generate (or reuse) ``workload``'s inputs for ``seed``."""
    part = {"portal_oltp": "portal", "ingest_fold": "ingest"}[workload]
    out = os.path.join(data_root, f"seed-{seed}", part)
    stamp = os.path.join(out, "DONE")
    digest = generator_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == digest:
                return out
    shutil.rmtree(out, ignore_errors=True)
    if part == "portal":
        write_star(seed, os.path.join(out, "star"))
        write_domain(seed, os.path.join(out, "domain"))
    else:
        write_ingest(seed, out)
    with open(stamp, "w") as f:
        f.write(digest)
    return out
