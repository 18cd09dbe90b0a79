"""Python model of the portal's domain tables.

The generator steps this model to draw valid op arguments; the
benchmark replays the executed op prefix through a fresh copy loaded
from the generated tables and checks every read against ``expected``.
Semantics follow ``plans.portal`` and ``writes``:

* register: ``with_surrogate_keys`` gives max(registration_id)+1;
* pay: ``record_payment`` gives max(payment_id)+1 and flips the
  registration to ``Success``;
* delete_event: ``soft_delete`` sets ``is_active`` to 0.
"""

from __future__ import annotations

import base64
import datetime as dt
import hashlib
import os

import pyarrow as pa
import pyarrow.parquet as pq

from data_warehouse_project_spark.schemas import DOMAIN_TABLES

TABLES = tuple(DOMAIN_TABLES)

_ARROW = {"bigint": pa.int64(), "string": pa.string(), "int": pa.int32(),
          "double": pa.float64(), "timestamp_ntz": pa.timestamp("us")}


def columns(name: str) -> list[str]:
    return DOMAIN_TABLES[name].fieldNames()


def arrow_schema(name: str) -> pa.Schema:
    return pa.schema([(f.name, _ARROW[f.dataType.simpleString()])
                      for f in DOMAIN_TABLES[name].fields])


EVENT_EPOCH = dt.datetime(2025, 1, 1)
PAY_EPOCH = dt.datetime(2024, 6, 1)
CITIES = ["Pune", "Mumbai", "Delhi", "Chennai", "Kolkata", "Jaipur"]
CATEGORIES = ["music", "tech", "sports", "art", "food"]
#: below this many active events, an admin delete hits any event
MIN_ACTIVE = 30


def fernet_key(seed: int) -> bytes:
    return base64.urlsafe_b64encode(
        hashlib.sha256(f"perfbench-card-key-{seed}".encode()).digest())


def password_for(seed: int, user_id: int) -> str:
    return f"pw{seed}-{user_id}"


def _sha256(s: str) -> str:
    return hashlib.sha256(s.encode()).hexdigest()


class PortalModel:
    """In-memory rows of the five domain tables."""

    def __init__(self, tables: dict[str, list[dict]], plain_cards: dict[int, str]):
        self.t = tables
        self.plain_cards = plain_cards
        self.pay_clock = max(
            (p["payment_date"] for p in tables["payments"]), default=PAY_EPOCH)

    # ---------------------------------------------------------- create/load
    @classmethod
    def initial(cls, rng, seed: int, n_users: int, n_events: int,
                n_regs: int, n_cards: int) -> "PortalModel":
        users = [{
            "user_id": u, "first_name": f"First{u}", "last_name": f"Last{u}",
            "phone": f"98{u:08d}", "email": f"user{u}@portal.test",
            "password_hash": _sha256(password_for(seed, u)),
            "user_role": "admin" if u % 20 == 0 else "user",
        } for u in range(1, n_users + 1)]
        events = []
        for e in range(1, n_events + 1):
            free = rng.random() < 0.2
            events.append({
                "event_id": e, "event_name": f"Event {e}",
                "event_description": f"About event {e}",
                "event_date": EVENT_EPOCH + dt.timedelta(
                    days=int(rng.integers(0, 365))),
                "event_time": int(rng.integers(8, 22)) * 3600,
                "location": CITIES[int(rng.integers(0, len(CITIES)))],
                "event_type": CATEGORIES[int(rng.integers(0, len(CATEGORIES)))],
                "organizer_id": int(rng.integers(1, n_users + 1)),
                "price": 0.0 if free else round(float(rng.uniform(5, 200)), 2),
                "is_active": 0 if rng.random() < 0.1 else 1,
            })
        regs = [{
            "registration_id": r, "user_id": int(rng.integers(1, n_users + 1)),
            "event_id": int(rng.integers(1, n_events + 1)),
            "payment_status": "Pending",
        } for r in range(1, n_regs + 1)]
        cards, plain = [], {}
        for c in range(1, n_cards + 1):
            number = "".join(str(d) for d in rng.integers(0, 10, 16))
            plain[c] = number
            cards.append({
                "card_id": c, "user_id": int(rng.integers(1, n_users + 1)),
                "card_holder_name": f"Holder {c}",
                "card_number_encrypted": None, "cvv_encrypted": None,
                "expiry_date": f"{int(rng.integers(1, 13)):02d}/"
                               f"{int(rng.integers(26, 31))}",
            })
        model = cls({"users": users, "app_events": events,
                     "registrations": regs, "payments": [],
                     "saved_cards": cards}, plain)
        # history: half the registrations have a payment, some of them
        # a failed attempt first (exercises latest-status-by-date)
        price = {e["event_id"]: e["price"] for e in events}
        for reg in regs:
            if rng.random() < 0.5:
                if rng.random() < 0.2:
                    model._add_payment(reg, price[reg["event_id"]], "Failed")
                model._add_payment(reg, price[reg["event_id"]], "Success")
        return model

    @classmethod
    def load(cls, domain_dir: str, seed: int) -> "PortalModel":
        from cryptography.fernet import Fernet

        tables = {name: pq.read_table(os.path.join(domain_dir, name))
                  .to_pylist() for name in TABLES}
        for rows in tables.values():
            for r in rows:
                for k, v in r.items():
                    if isinstance(v, dt.datetime):
                        r[k] = v.replace(tzinfo=None)
        f = Fernet(fernet_key(seed))
        plain = {c["card_id"]: f.decrypt(c["card_number_encrypted"].encode())
                 .decode() for c in tables["saved_cards"]}
        for name in TABLES:
            key = columns(name)[0]
            tables[name].sort(key=lambda r: r[key])
        return cls(tables, plain)

    def write_tables(self, out: str, seed: int) -> None:
        """One parquet directory per table (the layout writes.* mutate)."""
        from cryptography.fernet import Fernet

        f = Fernet(fernet_key(seed))
        when = int(PAY_EPOCH.replace(tzinfo=dt.timezone.utc).timestamp())
        for i, c in enumerate(self.t["saved_cards"]):
            # seeded IVs keep the ciphertext a function of the seed
            iv = hashlib.sha256(f"{seed}-{i}".encode()).digest()[:16]
            c["card_number_encrypted"] = f._encrypt_from_parts(
                self.plain_cards[c["card_id"]].encode(), when, iv).decode()
            c["cvv_encrypted"] = f._encrypt_from_parts(
                self.plain_cards[c["card_id"]][-3:].encode(), when,
                iv[::-1]).decode()
        for name in TABLES:
            table = pa.Table.from_pylist(self.t[name],
                                         schema=arrow_schema(name))
            os.makedirs(os.path.join(out, name), exist_ok=True)
            pq.write_table(table, os.path.join(out, name, "part-0.parquet"))

    # ------------------------------------------------------------ ops
    def _add_payment(self, reg: dict, amount: float, status: str,
                     card_id: int | None = None) -> dict:
        self.pay_clock += dt.timedelta(minutes=7)
        pays = self.t["payments"]
        row = {
            "payment_id": pays[-1]["payment_id"] + 1 if pays else 1,
            "user_id": reg["user_id"], "registration_id": reg["registration_id"],
            "card_id": card_id, "amount": amount,
            "payment_type": "Saved" if card_id is not None else "OneTime",
            "payment_status": status, "payment_date": self.pay_clock,
        }
        pays.append(row)
        if status == "Success":
            reg["payment_status"] = "Success"
        return row

    def _event(self, event_id: int) -> dict:
        return self.t["app_events"][event_id - 1]

    def draw(self, kind: str, rng) -> dict:
        """A valid op of ``kind`` against the current state."""
        def pick(seq):
            return seq[int(rng.integers(0, len(seq)))]

        users = self.t["users"]
        if kind == "authenticate":
            u = pick(users)["user_id"]
            good = rng.random() < 0.75
            return {"op": kind, "email": f"user{u}@portal.test",
                    "password": None if good else "wrong-password",
                    "user_id": u}
        if kind in ("list_active_events", "event_stats",
                    "flagship_my_registrations", "dashboard_stats"):
            return {"op": kind}
        if kind == "my_registrations":
            return {"op": kind,
                    "user_id": pick(self.t["registrations"])["user_id"]}
        if kind == "saved_cards_masked":
            return {"op": kind,
                    "user_id": pick(self.t["saved_cards"])["user_id"]}
        active = [e for e in self.t["app_events"] if e["is_active"] == 1]
        if kind == "register":
            return {"op": kind, "user_id": pick(users)["user_id"],
                    "event_id": pick(active)["event_id"]}
        if kind == "pay":
            pending = [r for r in self.t["registrations"]
                       if r["payment_status"] == "Pending"]
            reg = pick(pending)
            cards = [c["card_id"] for c in self.t["saved_cards"]
                     if c["user_id"] == reg["user_id"]]
            clock = self.pay_clock + dt.timedelta(minutes=7)
            return {"op": kind, "registration_id": reg["registration_id"],
                    "user_id": reg["user_id"],
                    "card_id": max(cards) if cards else None,
                    "amount": self._event(reg["event_id"])["price"],
                    "payment_date": clock.isoformat()}
        if kind == "delete_event":
            pool = active if len(active) > MIN_ACTIVE else self.t["app_events"]
            return {"op": kind, "event_id": pick(pool)["event_id"]}
        raise ValueError(f"unknown op kind {kind!r}")

    def apply(self, op: dict) -> None:
        """Apply a write op; reads leave the state alone."""
        kind = op["op"]
        if kind == "register":
            regs = self.t["registrations"]
            regs.append({"registration_id": regs[-1]["registration_id"] + 1,
                         "user_id": op["user_id"], "event_id": op["event_id"],
                         "payment_status": "Pending"})
        elif kind == "pay":
            reg = next(r for r in self.t["registrations"]
                       if r["registration_id"] == op["registration_id"])
            row = self._add_payment(reg, op["amount"], "Success", op["card_id"])
            if row["payment_date"] != dt.datetime.fromisoformat(op["payment_date"]):
                raise ValueError("payment clock out of step with the op sequence")
        elif kind == "delete_event":
            self._event(op["event_id"])["is_active"] = 0

    # ---------------------------------------------------------- reads
    def expected(self, op: dict, seed: int) -> list[tuple]:
        """Rows a correct read returns, in the order it returns them."""
        kind = op["op"]
        t = self.t
        if kind == "authenticate":
            u = t["users"][op["user_id"] - 1]
            pw = op["password"] or password_for(seed, op["user_id"])
            if u["password_hash"] != _sha256(pw):
                return []
            return [(u["user_id"], u["first_name"], u["last_name"],
                     u["email"], u["user_role"])]
        if kind == "list_active_events":
            rows = [e for e in t["app_events"] if e["is_active"] == 1]
            rows.sort(key=lambda e: (e["event_date"], e["event_id"]))
            return [(e["event_id"], e["event_name"], e["event_description"],
                     e["event_date"], e["event_time"], e["location"],
                     e["event_type"], e["price"]) for e in rows]
        if kind == "event_stats":
            reg_event = {r["registration_id"]: r["event_id"]
                         for r in t["registrations"]}
            counts: dict[int, int] = {}
            for r in t["registrations"]:
                counts[r["event_id"]] = counts.get(r["event_id"], 0) + 1
            revenue: dict[int, float] = {}
            for p in t["payments"]:
                if p["payment_status"] == "Success":
                    e = reg_event[p["registration_id"]]
                    revenue[e] = revenue.get(e, 0.0) + p["amount"]
            return [(e["event_id"], e["event_name"],
                     counts.get(e["event_id"], 0),
                     revenue.get(e["event_id"], 0.0))
                    for e in t["app_events"] if e["is_active"] == 1]
        if kind == "my_registrations":
            newest: dict[int, dict] = {}
            for r in t["registrations"]:
                if r["user_id"] == op["user_id"]:
                    cur = newest.get(r["event_id"])
                    if cur is None or r["registration_id"] > cur["registration_id"]:
                        newest[r["event_id"]] = r
            latest: dict[int, dict] = {}
            for p in t["payments"]:
                cur = latest.get(p["registration_id"])
                if cur is None or ((p["payment_date"], p["payment_id"])
                                   > (cur["payment_date"], cur["payment_id"])):
                    latest[p["registration_id"]] = p
            rows = []
            for r in newest.values():
                e = self._event(r["event_id"])
                p = latest.get(r["registration_id"])
                rows.append((r["registration_id"], e["event_name"],
                             e["event_date"], e["location"], e["price"],
                             p["payment_status"] if p else "Pending"))
            rows.sort(key=lambda row: (row[2], row[0]))
            return rows
        if kind == "saved_cards_masked":
            rows = [(c["card_id"], c["card_holder_name"], c["expiry_date"],
                     "****" + self.plain_cards[c["card_id"]][-4:])
                    for c in t["saved_cards"] if c["user_id"] == op["user_id"]]
            rows.sort(key=lambda row: -row[0])
            return rows
        raise ValueError(f"{kind!r} is not a model-checked read")

    def table_rows(self, name: str) -> list[tuple]:
        """Sorted rows of one table, for the end-of-run storage check."""
        cols = columns(name)
        return sorted(tuple(r[c] for c in cols) for r in self.t[name])
