"""Seeded input generators for the benchmark workloads.

Everything here is plain Python/NumPy: the same seed gives the same
inputs, and nothing touches Spark. Workloads stage these inputs to disk
during set-up, so the engine only ever sees files.
"""

from __future__ import annotations

import datetime as dt
import json
import random
from dataclasses import dataclass, field

import numpy as np

EMPLOYEE_COLS = (
    "id", "full_name", "email", "phone", "department", "salary", "created_at",
)
DEPARTMENTS = tuple(f"dept_{i:02d}" for i in range(16))
TOPIC = "debezium1.public.employees"
_EPOCH = dt.date(2020, 1, 1)


@dataclass
class Change:
    """One Debezium change event, already flattened: ``row`` is the
    after-image for c/u and the before-image for d."""

    batch: int
    lsn: int
    op: str
    row: dict


@dataclass
class ChangeLog:
    """A bootstrap snapshot plus an ordered list of change batches."""

    initial: list[dict]
    batches: list[list[Change]] = field(default_factory=list)


def employee_row(key: int, rng: random.Random, department: str) -> dict:
    # ``int(random() * n)`` rather than ``randrange``: set-up generates
    # 100k+ rows per run, and randrange is most of that time.
    r = rng.random
    return {
        "id": key,
        "full_name": f"name_{key}_{int(r() * 1000)}",
        "email": f"user{key}.{int(r() * 1000)}@example.com",
        "phone": f"+1-555-{int(r() * 10_000):04d}",
        "department": department,
        "salary": 30_000 + int(r() * 170_000),
        "created_at": _EPOCH + dt.timedelta(days=int(r() * 1500)),
    }


def _zipf_index(rng: random.Random, n: int, s: float = 1.1) -> int:
    """Index in [0, n) with P(i) ∝ 1/(i+1)^s, by inverse-CDF on a
    continuous approximation (cheap, exact enough for skew)."""
    u = rng.random()
    if abs(s - 1.0) < 1e-9:
        return min(n - 1, int(n ** u) - 1)
    a = 1.0 - s
    x = (1.0 + u * ((n + 1.0) ** a - 1.0)) ** (1.0 / a) - 1.0
    return min(n - 1, max(0, int(x)))


def employee_changelog(
    seed: int,
    n_initial: int,
    n_batches: int,
    batch_size: int,
    hot_share: float = 0.0,
    hot_rotate_every: int = 4,
    mix: tuple[float, float, float] = (0.8, 0.1, 0.1),
) -> ChangeLog:
    """Employees bootstrap + CDC batches.

    ``mix`` is the (u, c, d) share. Keys are Zipf-skewed within the pool
    they are drawn from, so batches repeat keys. With ``hot_share`` > 0,
    that share of each batch's u/d keys comes from two hot departments
    that rotate every ``hot_rotate_every`` batches (16 departments in
    all). A ``c`` re-inserts a previously deleted key a third of the
    time, else mints a new key. Rows inside a batch are shuffled, so file
    order is not LSN order; LSNs grow across batches.
    """
    rng = random.Random(seed)
    pools: dict[str, list[int]] = {d: [] for d in DEPARTMENTS}
    dept_of: dict[int, str] = {}
    initial = []
    for key in range(n_initial):
        dept = DEPARTMENTS[key % len(DEPARTMENTS)]
        pools[dept].append(key)
        dept_of[key] = dept
        initial.append(employee_row(key, rng, dept))
    next_key = n_initial
    deleted: list[int] = []
    lsn = 1_000
    log = ChangeLog(initial=initial)
    p_u, p_c, _ = mix
    for b in range(n_batches):
        hot = (
            DEPARTMENTS[(2 * (b // hot_rotate_every)) % len(DEPARTMENTS)],
            DEPARTMENTS[(2 * (b // hot_rotate_every) + 1) % len(DEPARTMENTS)],
        )
        batch: list[Change] = []
        for _ in range(batch_size):
            lsn += rng.randrange(1, 4)
            r = rng.random()
            if r < p_u + p_c and r >= p_u:
                if deleted and rng.random() < 1 / 3:
                    key = deleted.pop(rng.randrange(len(deleted)))
                    dept = dept_of[key]
                else:
                    key = next_key
                    next_key += 1
                    dept = DEPARTMENTS[rng.randrange(len(DEPARTMENTS))]
                    dept_of[key] = dept
                pools[dept].append(key)
                batch.append(Change(b, lsn, "c", employee_row(key, rng, dept)))
                continue
            if hot_share and rng.random() < hot_share:
                dept = hot[rng.randrange(2)]
            else:
                dept = DEPARTMENTS[rng.randrange(len(DEPARTMENTS))]
            pool = pools[dept]
            if not pool:
                continue
            i = _zipf_index(rng, len(pool))
            key = pool[i]
            if r < p_u:
                batch.append(Change(b, lsn, "u", employee_row(key, rng, dept)))
            else:
                pool[i] = pool[-1]
                pool.pop()
                deleted.append(key)
                # A delete carries the before-image; only the key matters.
                batch.append(Change(b, lsn, "d", employee_row(key, rng, dept)))
        rng.shuffle(batch)
        log.batches.append(batch)
    return log


def _json_row(row: dict) -> dict:
    out = dict(row)
    out["created_at"] = row["created_at"].isoformat()
    return out


def kafka_record(change: Change, offset: int) -> str:
    """One JSON line in the Kafka-record shape ``file_envelope_source``
    reads, carrying a Debezium envelope as its value. Dates go over the
    wire as ISO strings, which the engine's declared schema parses."""
    ts_ms = 1_700_000_000_000 + change.lsn
    before = _json_row(change.row) if change.op == "d" else None
    after = None if change.op == "d" else _json_row(change.row)
    envelope = {
        "payload": {
            "before": before,
            "after": after,
            "source": {"lsn": change.lsn, "ts_ms": ts_ms, "table": "employees"},
            "op": change.op,
            "ts_ms": ts_ms,
        }
    }
    return json.dumps(
        {
            "key": json.dumps({"id": change.row["id"]}),
            "value": json.dumps(envelope),
            "topic": TOPIC,
            "partition": 0,
            "offset": offset,
            "timestamp": "2024-01-01T00:00:00.000Z",
        }
    )


# -- orders ⋈ customer + events (the view and rollup of cdc_tables_rw) ------

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")


def events_columns(
    rng: np.random.Generator, first_id: int, n: int, n_users: int
) -> dict[str, np.ndarray | list]:
    """``n`` events over January 2024 with ids from ``first_id``."""
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 24 * 3600 * 10**6
    ts = start + np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]")
    return {
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(20.0, n), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)],
    }


def write_parquet(columns: dict[str, np.ndarray | list], path: str) -> None:
    """Write one column dict as a single parquet file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({name: pa.array(col) for name, col in columns.items()}), path)


@dataclass
class ViewLog:
    """Inputs of the view-refresh workload: the starting customer and
    order tables, then per step either an order batch or a customer
    batch (flattened changes, same shape as ``Change``), plus one event
    batch per step for the rollup."""

    customers: list[dict]
    orders: list[dict]
    steps: list[tuple[str, list[Change]]]
    events0: dict
    event_batches: list[dict]


def view_log(
    seed: int,
    n_customers: int,
    n_orders: int,
    n_steps: int,
    fact_batch: int,
    dim_batch: int,
    dim_every: int,
    events0: int,
    events_per_step: int,
) -> ViewLog:
    """Orders ⋈ customer CDC plus an append-only event stream. Fact
    batches carry ~70% updates, 15% inserts, 15% deletes; steps 1,
    1 + ``dim_every``, … are customer update batches instead."""
    rng = random.Random(seed)
    nrng = np.random.default_rng(seed)

    def cust(k: int) -> dict:
        return {
            "c_custkey": k,
            "c_name": f"Customer#{k:09d}",
            "c_mktsegment": SEGMENTS[rng.randrange(5)],
            "c_acctbal": round(rng.uniform(-999.99, 9999.99), 2),
        }

    def order(k: int) -> dict:
        return {
            "o_orderkey": k,
            "o_custkey": rng.randrange(n_customers),
            "o_orderstatus": ("F", "O", "P")[rng.randrange(3)],
            "o_totalprice": round(rng.uniform(1000.0, 500_000.0), 2),
        }

    customers = [cust(k) for k in range(n_customers)]
    orders = [order(k) for k in range(n_orders)]
    live = list(range(n_orders))
    next_key = n_orders
    lsn = 1_000
    steps: list[tuple[str, list[Change]]] = []
    for s in range(n_steps):
        batch: list[Change] = []
        if dim_every and s % dim_every == 1:
            for _ in range(dim_batch):
                lsn += 1
                batch.append(Change(s, lsn, "u", cust(rng.randrange(n_customers))))
            steps.append(("dim", batch))
            continue
        for _ in range(fact_batch):
            lsn += 1
            r = rng.random()
            if r < 0.15:
                batch.append(Change(s, lsn, "c", order(next_key)))
                live.append(next_key)
                next_key += 1
                continue
            i = _zipf_index(rng, len(live))
            key = live[i]
            if r < 0.85:
                batch.append(Change(s, lsn, "u", order(key)))
            else:
                live[i] = live[-1]
                live.pop()
                batch.append(Change(s, lsn, "d", order(key)))
        rng.shuffle(batch)
        steps.append(("fact", batch))
    n_users = 200
    ev0 = events_columns(nrng, 0, events0, n_users)
    ev = []
    first = events0
    for _ in range(n_steps):
        ev.append(events_columns(nrng, first, events_per_step, n_users))
        first += events_per_step
    return ViewLog(customers, orders, steps, ev0, ev)
