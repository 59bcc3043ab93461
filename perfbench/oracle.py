"""Independent oracles: plain-Python replays of the generated inputs.

Nothing here imports the engine. The CDC replay encodes the engine's
documented semantics directly: batches apply in arrival order; inside a
batch the highest LSN per key wins; a winning ``d`` removes the key and a
winning ``c``/``u`` replaces the whole row with its after-image.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Iterable

from .gen import Change


def apply_batch(state: dict, batch: Iterable[Change], key: str = "id") -> None:
    """Apply one change batch to ``state`` (key → row) in place."""
    latest: dict = {}
    for ch in batch:
        k = ch.row[key]
        if k not in latest or ch.lsn > latest[k].lsn:
            latest[k] = ch
    for k, ch in latest.items():
        if ch.op == "d":
            state.pop(k, None)
        else:
            state[k] = dict(ch.row)


def replay(initial: Iterable[dict], batches: Iterable[Iterable[Change]], key: str = "id") -> dict:
    """Final state after the bootstrap rows and every batch."""
    state = {r[key]: dict(r) for r in initial}
    for batch in batches:
        apply_batch(state, batch, key)
    return state


def summary(state: dict) -> tuple[int, int, int]:
    """(row count, sum of salary, sum of id): the checksum the
    benchmark's full-table read ops return."""
    return (
        len(state),
        sum(r["salary"] for r in state.values()),
        sum(state.keys()),
    )


def dept_totals(state: dict) -> dict[str, tuple[int, int]]:
    """department → (row count, salary sum): the SQL aggregate read."""
    out: dict[str, list[int]] = {}
    for r in state.values():
        acc = out.setdefault(r["department"], [0, 0])
        acc[0] += 1
        acc[1] += r["salary"]
    return {d: (n, s) for d, (n, s) in out.items()}


def join_view(orders: dict, customers: dict) -> list[tuple]:
    """Inner join of the replayed order and customer states, as sorted
    (order columns..., customer columns without the key) tuples."""
    rows = []
    for o in orders.values():
        c = customers.get(o["o_custkey"])
        if c is None:
            continue
        rows.append(
            (
                o["o_orderkey"], o["o_custkey"], o["o_orderstatus"],
                o["o_totalprice"], c["c_name"], c["c_mktsegment"], c["c_acctbal"],
            )
        )
    rows.sort()
    return rows


def hourly_rollup(event_batches: Iterable[dict]) -> dict[tuple, tuple]:
    """(hour start, event_type) → (count, sum, min, max) of ``value``
    over every event batch (column dicts as made by gen.events_columns)."""
    acc: dict[tuple, list] = {}
    for cols in event_batches:
        us_all = cols["ts"].astype("datetime64[us]").astype("int64")
        for us, et, v in zip(us_all.tolist(), cols["event_type"], cols["value"].tolist()):
            hour = dt.datetime(1970, 1, 1) + dt.timedelta(
                microseconds=us - us % 3_600_000_000
            )
            a = acc.get((hour, et))
            if a is None:
                acc[(hour, et)] = [1, v, v, v]
            else:
                a[0] += 1
                a[1] += v
                a[2] = min(a[2], v)
                a[3] = max(a[3], v)
    return {k: tuple(a) for k, a in acc.items()}
