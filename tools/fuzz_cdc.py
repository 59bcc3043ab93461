"""CDC differential fuzzer: seeded random Debezium-envelope event sequences
replayed through the engine's three CDC lanes, each compared against a
pure-Python dict-replay oracle (the 15-line reference semantics SURVEY.md §5
describes). The batch-SQL fuzzer (tools/fuzz_parity.py) covers expressions;
THIS one covers the stateful merge semantics where 70+ hand-found bugs have
lived across rounds:

- COW lane  — streaming/pipeline.upsert_batch_processor → KeyedTable.upsert
  (bootstrap path, partition-pruned dynamic overwrite, vanished-partition
  static rewrite, schema drift via unionByName + the persisted schema
  sidecar, MVCC snapshots/time travel). The sidecar alone carries the
  drift×partitioned state.
- MOR lane  — streaming/pipeline.mor_batch_processor → DeltaLogTable
  (delta-log append, merge-on-read precedence (ingest_batch, _lsn), inline +
  async compaction, read-optimized staleness contract, schema drift —
  same sidecar contract)
- SCD2 lane — streaming/pipeline.scd2_batch_processor (incremental type-2
  fold vs a batch fold over the full event set)
- ROUTED lane — routed_upsert_processor fan-out (B2/B14), per-table schema
  drift under one mixed-topic stream
- AVRO lane — the COW scenarios replayed over the Avro wire
  (EnvelopeAvro.encode on the driver → parse_envelope_avro_py), so the
  pure-Python codec sits under the same randomized oracle as JSON
- WRITERS lane — two writers interleaved on one KeyedTable: the lease
  loser must RAISE and the table must match the committed-only oracle

Scenario space per seed: insert/update/delete/snapshot-read op mixes,
out-of-order _lsn within AND across batches, duplicate keys per batch,
NULL field values, all-delete batches, deletes of absent keys, empty
batches, malformed JSON and null-op envelopes (must be dropped), random
micro-batch boundaries, schema-drift batches (a new column appears
mid-stream), and random mid-replay restarts (foreachBatch's at-least-once
contract: a batch re-applies immediately after itself — final state must
not change; for SCD2 also redelivery of an arbitrary OLD batch, which the
monotone-feed guard must no-op).

Determinism: every event gets a globally unique _lsn (two changes to one
key with EQUAL _lsn make the precombine pick nondeterministic by contract —
the reference's precombine has the same property, so the generator never
emits that); SCD2 tiebreak ids are unique per event for the same reason.
No float columns anywhere — comparisons are exact.

Usage:
  python tools/fuzz_cdc.py --lane all --count 50 --seed 42 --workers 8
  python tools/fuzz_cdc.py --lane cow --count 1 --seed <case_seed>  # replay
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
import tempfile

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from pyspark.sql import types as T  # noqa: E402

BASE_FIELDS = [
    ("id", T.IntegerType()),
    ("full_name", T.StringType()),
    ("email", T.StringType()),
    ("phone", T.StringType()),
    ("department", T.StringType()),
    ("salary", T.IntegerType()),
    ("created_at", T.DateType()),
]
DRIFT_FIELD = ("bonus", T.IntegerType())

NAMES = ["ada", "grace", "alan", "edsger", "barbara", "märta", 'o"quote', ""]
DEPTS = ["eng", "ops", "sales"]
DATES = [None, "2023-07-01", "2023-07-15", "2024-02-29"]


def _schema(drift: bool) -> T.StructType:
    fields = BASE_FIELDS + ([DRIFT_FIELD] if drift else [])
    return T.StructType([T.StructField(n, t) for n, t in fields])


class CdcGen:
    """Seeded scenario generator for the COW/MOR lanes."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)

    def row(self, key: int, drift: bool, dept_of: dict[int, str]) -> dict:
        r = self.rng
        row = {
            "id": key,
            "full_name": r.choice(NAMES) if r.random() > 0.1 else None,
            "email": f"u{key}@x.io" if r.random() > 0.2 else None,
            "phone": str(r.randint(10**6, 10**7)) if r.random() > 0.3 else None,
            "department": dept_of.get(key, r.choice(DEPTS)),
            "salary": r.randint(10, 999) * 100 if r.random() > 0.15 else None,
            "created_at": r.choice(DATES),
        }
        if drift:
            row["bonus"] = r.randint(0, 50) if r.random() > 0.3 else None
        return row

    def scenario(self) -> dict:
        r = self.rng
        n_keys = r.randint(1, 10)
        n_batches = r.randint(1, 5)
        partitioned = r.random() < 0.30
        # Drift composes with partitioning — THE case the schema sidecar
        # exists for: the dynamic-overwrite upsert leaves untouched
        # partitions on old-schema footers.
        drift_at = r.randint(1, n_batches - 1) if (
            n_batches > 1 and r.random() < 0.35
        ) else None
        dept_of = (
            {k: r.choice(DEPTS) for k in range(n_keys)} if partitioned else {}
        )
        lsn_pool = list(range(1, 1000))
        r.shuffle(lsn_pool)  # out-of-order LSNs, unique per event
        batches = []
        for b in range(n_batches):
            drift = drift_at is not None and b >= drift_at
            kind = r.random()
            if kind < 0.08:
                batches.append({"drift": drift, "events": []})  # empty batch
                continue
            n_ev = r.randint(1, 12)
            events = []
            for _ in range(n_ev):
                key = r.randrange(n_keys)
                if kind < 0.18:  # all-delete batch
                    op = "d"
                else:
                    op = r.choices(
                        ["c", "u", "d", "r", None, "malformed"],
                        weights=[30, 28, 20, 10, 4, 3],
                    )[0]
                events.append(
                    {
                        "op": op,
                        "lsn": lsn_pool.pop(),
                        "row": self.row(key, drift, dept_of),
                    }
                )
            batches.append({"drift": drift, "events": events})
        # Replay script: positions after which the just-applied batch
        # re-applies immediately (at-least-once restart).
        replays = {b for b in range(n_batches) if r.random() < 0.25}
        return {
            "n_keys": n_keys,
            "batches": batches,
            "replays": replays,
            "partitioned": partitioned,
            "drift_at": drift_at,
            # keep_history composes with partitioning (the dynamic
            # partial-overwrite publish path is only reachable that way)
            # AND, since the schema sidecar landed, with drift.
            "keep_history": r.random() < 0.25,
        }


def envelope_json(ev: dict) -> str:
    """One Debezium-shaped JSON envelope (the reference's wire format:
    payload.{before,after,source{lsn,ts_ms,table},op,ts_ms})."""
    if ev["op"] == "malformed":
        return '{"payload": {"op": "c", "after": '  # truncated JSON
    row = ev["row"]
    return json.dumps(
        {
            "payload": {
                "before": row if ev["op"] == "d" else None,
                "after": None if ev["op"] == "d" else row,
                "source": {
                    "lsn": ev["lsn"],
                    "ts_ms": 1700000000000 + ev["lsn"],
                    "table": "employees",
                },
                "op": ev["op"],
                "ts_ms": 1700000000000 + ev["lsn"],
            }
        }
    )


def oracle_replay(batches: list[dict]) -> tuple[dict, list[str], list[dict]]:
    """The dict-replay oracle: per batch take each key's max-LSN event
    (precombine), then apply — delete drops the key, anything else upserts
    the row image. Later batches outrank earlier ones regardless of LSN
    (exactly the engine's changes-outrank-snapshot contract). Returns
    (final_state, final_columns, per-batch state history including
    skipped/empty batches as unchanged entries)."""
    state: dict[int, dict] = {}
    cols = [n for n, _ in BASE_FIELDS]
    history = []
    for batch in batches:
        events = [e for e in batch["events"] if e["op"] in ("c", "u", "d", "r")]
        if events:
            # Schema extension happens when a batch with >=1 parsed row
            # reaches the merge under the extended declared schema.
            if batch["drift"] and DRIFT_FIELD[0] not in cols:
                cols = cols + [DRIFT_FIELD[0]]
            latest: dict[int, dict] = {}
            for e in events:
                k = e["row"]["id"]
                if k not in latest or e["lsn"] > latest[k]["lsn"]:
                    latest[k] = e
            for k, e in latest.items():
                if e["op"] == "d":
                    state.pop(k, None)
                else:
                    state[k] = dict(e["row"])
        history.append({k: dict(v) for k, v in state.items()})
    return state, cols, history


def _norm(v):
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def _spark_state(df, cols) -> dict:
    """Project the engine DataFrame to {key: {col: value}} for the oracle
    compare. FAIL-LOUD on a missing expected column: a silent
    ``.get``-default-to-None here let a harness bug (an unmerged
    verification read) impersonate an engine bug in round 8 — and would
    equally let a real vanished-column engine bug pass as all-NULL when
    the oracle also expected NULLs. Extra engine columns are ignored
    (e.g. a compacted MOR base can carry a later drift column, all-null,
    for a pre-drift read-optimized view — contract-allowed)."""
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise AssertionError(
            f"engine result is missing expected column(s) {missing}; "
            f"has {df.columns}"
        )
    out = {}
    for row in df.collect():
        d = row.asDict()
        out[d["id"]] = {c: _norm(d[c]) for c in cols if c != "id"}
    return out


def _cow_table_state(spark, path: str, cols) -> dict:
    """Final-state read for the COW lanes THROUGH the table contract:
    ``KeyedTable.read()`` applies the tip version's schema, so
    drift×partitioned tables verify without per-case read options —
    which is the point: this read IS the surface users get. A table that
    does not exist maps to {}, and so does one whose partitions deletes
    emptied (the table's EMPTY ≡ MISSING contract)."""
    from debezium_emr_hudi_deltastreamer_sample_spark.table import KeyedTable

    table = KeyedTable(spark, path, keys=["id"], ordering=["_lsn"])
    if not table.exists():
        return {}
    return _spark_state(table.read(), cols)


def _oracle_state(state: dict, cols) -> dict:
    return {
        k: {c: v.get(c) for c in cols if c != "id"} for k, v in state.items()
    }


def _diff(got: dict, want: dict) -> str:
    keys = sorted(set(got) | set(want))
    lines = []
    for k in keys:
        if got.get(k) != want.get(k):
            lines.append(f"key {k}: engine={got.get(k)!r} oracle={want.get(k)!r}")
    return "; ".join(lines[:5])


def _raw_batch(spark, batch: dict):
    vals = [(envelope_json(e),) for e in batch["events"]]
    # coalesce(1): createDataFrame parallelizes a tiny local list into
    # defaultParallelism (32) slices — 32 near-empty tasks per job, the
    # dominant cost of a fuzz case.
    return spark.createDataFrame(vals or [], "value string").coalesce(1)


_AVRO_CODECS: dict[bool, object] = {}


def envelope_avro(ev: dict, drift: bool) -> bytearray:
    """One Avro-binary envelope record (the AvroConverter wire the
    reference configures, README.md:262-263), encoded driver-side by the
    engine's own pure-Python codec. A 'malformed' op encodes a valid
    envelope then truncates it mid-record (the Avro analogue of the JSON
    lane's cut-off string); a None op encodes a real null-op envelope
    (decode must drop it, not upgrade it to an upsert)."""
    import datetime as _dt

    from debezium_emr_hudi_deltastreamer_sample_spark.avro_codec import (
        EnvelopeAvro,
    )
    from debezium_emr_hudi_deltastreamer_sample_spark.envelope import (
        envelope_avro_schema,
    )

    codec = _AVRO_CODECS.get(drift)
    if codec is None:
        codec = EnvelopeAvro(envelope_avro_schema(_schema(drift)))
        _AVRO_CODECS[drift] = codec
    malformed = ev["op"] == "malformed"
    op = "c" if malformed else ev["op"]
    row = dict(ev["row"])
    if row.get("created_at") is not None:
        row["created_at"] = _dt.date.fromisoformat(row["created_at"])
    blob = codec.encode(
        {
            "before": row if op == "d" else None,
            "after": None if op == "d" else row,
            "source": {
                "lsn": ev["lsn"],
                "ts_ms": 1700000000000 + ev["lsn"],
                "table": "employees",
            },
            "op": op,
            "ts_ms": 1700000000000 + ev["lsn"],
        }
    )
    if malformed:
        blob = blob[: max(1, len(blob) // 2)]
    return bytearray(blob)


def _raw_batch_avro(spark, batch: dict):
    vals = [(envelope_avro(e, batch["drift"]),) for e in batch["events"]]
    return spark.createDataFrame(vals or [], "value binary").coalesce(1)


def _wire_parser(wire: str, drift: bool):
    """(raw DataFrame) -> parsed change rows, for the declared per-batch
    schema — the JSON lane's parse_envelope or the Avro lane's pure-Python
    decode (parse_envelope_avro_py)."""
    from debezium_emr_hudi_deltastreamer_sample_spark.envelope import (
        parse_envelope,
        parse_envelope_avro_py,
    )

    if wire == "avro":
        return lambda df: parse_envelope_avro_py(df, row_schema=_schema(drift))
    return lambda df: parse_envelope(df, _schema(drift))


def _case_session(spark):
    child = spark.newSession()
    child.conf.set("spark.sql.shuffle.partitions", "2")
    return child


def _wrap(body):
    """Own the case tmp dir: removed on pass, kept (and named in the
    failure detail) on fail so a red seed replays against its artifacts."""

    def run(spark, seed: int) -> tuple[bool, str]:
        # tmpfs when available: a fuzz case is ~40 tiny parquet
        # write/commit rounds, and their fsync-bound latency on disk-backed
        # /tmp dominates the case wall time (same placement rationale as
        # bench.py's state-store dirs).
        base = "/dev/shm" if os.path.isdir("/dev/shm") else None
        case_dir = tempfile.mkdtemp(
            prefix=f"fuzz_cdc_{body.__name__}_", dir=base
        )
        try:
            ok, detail = body(spark, seed, case_dir)
        except Exception:
            shutil.rmtree(case_dir, ignore_errors=True)
            raise
        if ok:
            shutil.rmtree(case_dir, ignore_errors=True)
            return ok, detail
        return ok, f"{detail} [kept {case_dir}]"

    run.__name__ = f"run_{body.__name__}_case"
    return run


def _cow(spark, seed: int, case_dir: str, wire: str = "json") -> tuple[bool, str]:
    """COW lane: raw envelopes (JSON, or Avro-binary when ``wire='avro'``)
    → upsert_batch_processor (the exact foreachBatch surface) →
    KeyedTable; final table vs dict replay, verified THROUGH
    KeyedTable.read() so the persisted schema sidecar is the surface under
    test (drift×partitioned). The
    keep_history variant drives KeyedTable directly and also checks every
    published MVCC snapshot against the oracle's per-apply history —
    including pre-drift snapshots, compared on their own as-of columns."""
    from debezium_emr_hudi_deltastreamer_sample_spark.streaming.pipeline import (
        upsert_batch_processor,
    )
    from debezium_emr_hudi_deltastreamer_sample_spark.table import KeyedTable

    raw_of = _raw_batch_avro if wire == "avro" else _raw_batch
    sc = CdcGen(seed).scenario()
    spark = _case_session(spark)
    path = f"{case_dir}/table"
    if sc["keep_history"]:
        table = KeyedTable(
            spark, path, keys=["id"], ordering=["_lsn"],
            op_col="op", keep_history=24,
            partition_by=["department"] if sc["partitioned"] else [],
        )
        snap_states = []  # (oracle state, as-of columns) per snapshot commit
        for i, batch in enumerate(sc["batches"]):
            reps = 2 if i in sc["replays"] else 1
            for _ in range(reps):
                raw = raw_of(spark, batch)
                if not raw.head(1):
                    continue
                changes = _wire_parser(wire, batch["drift"])(raw)
                if not changes.head(1):
                    continue
                table.upsert(changes)
                _, pcols, hist = oracle_replay(sc["batches"][: i + 1])
                snap_states.append((hist[-1], pcols))
        final, cols, _ = oracle_replay(sc["batches"])
        if snap_states:
            got = _cow_table_state(spark, path, cols)
            want = _oracle_state(final, cols)
            if got != want:
                return False, f"cow[hist] final mismatch: {_diff(got, want)}"
            for seq, _uri in table.snapshots():
                snap_want, pcols = snap_states[seq]
                as_of = table.read(as_of=seq)
                # Schema-AS-OF, exactly: a pre-drift snapshot must serve
                # its own column set — neither losing a column to a stale
                # footer nor gaining the later drift column from the
                # current sidecar (round-10 embedded _schema.json).
                if set(as_of.columns) != set(pcols):
                    return (
                        False,
                        f"cow[hist] snapshot {seq} schema-as-of drift: "
                        f"{sorted(as_of.columns)} vs {sorted(pcols)}",
                    )
                got = _spark_state(as_of, pcols)
                want = _oracle_state(snap_want, pcols)
                if got != want:
                    return (
                        False,
                        f"cow[hist] snapshot {seq} mismatch: "
                        f"{_diff(got, want)}",
                    )
        return True, ""

    partition_by = ["department"] if sc["partitioned"] else []
    for i, batch in enumerate(sc["batches"]):
        process = upsert_batch_processor(
            path,
            keys=["id"],
            row_schema=_schema(batch["drift"]),
            ordering=["_lsn"],
            partition_by=partition_by,
            parser=_wire_parser(wire, batch["drift"]) if wire == "avro" else None,
        )
        reps = 2 if i in sc["replays"] else 1
        for _ in range(reps):
            process(raw_of(spark, batch), i)
    final, cols, _ = oracle_replay(sc["batches"])
    got = _cow_table_state(spark, path, cols)
    want = _oracle_state(final, cols)
    if got != want:
        return False, f"cow[{wire}] final mismatch: {_diff(got, want)}"
    return True, ""


def _avro(spark, seed: int, case_dir: str) -> tuple[bool, str]:
    """AVRO-wire lane: the COW scenario space replayed end-to-end over
    Avro-binary envelopes — EnvelopeAvro.encode (driver) →
    parse_envelope_avro_py (mapInPandas decode) → upsert → table state vs
    the same dict-replay oracle. Puts the pure-Python codec (logical
    dates, union nulls, delete before-images, truncated records, null-op
    drops) under the identical randomized oracle as the JSON wire."""
    return _cow(spark, seed, case_dir, wire="avro")


class _InjectedCrash(RuntimeError):
    """Simulated process kill inside the table commit path."""


class _CrashArm:
    """Arm an INSTANCE-level crash on the k-th commit-path call across
    the given ``(obj, method_name)`` targets, optionally AFTER the call
    completes — the 'write landed, process died before the next commit
    step' window. Instance-level patching (no class/global state) keeps
    the fuzz worker threads independent."""

    def __init__(self, targets, kth: int, after: bool) -> None:
        self.targets = list(targets)
        self.kth = kth
        self.after = after
        self.calls = 0

    def _hook(self, real):
        def inner(*a, **k):
            self.calls += 1
            if self.calls == self.kth:
                if self.after:
                    real(*a, **k)
                raise _InjectedCrash(
                    f"injected at commit call {self.kth} (after={self.after})"
                )
            return real(*a, **k)

        return inner

    def __enter__(self):
        for obj, name in self.targets:
            real = getattr(type(obj), name).__get__(obj)
            setattr(obj, name, self._hook(real))
        return self

    def __exit__(self, *exc):
        for obj, name in self.targets:
            delattr(obj, name)
        return False


def _crash(spark, seed: int, case_dir: str) -> tuple[bool, str]:
    """CRASH-INJECTION lane: the COW scenario space driven straight at
    ``KeyedTable.upsert`` (the hist variant's direct-drive shape), with a
    simulated process kill at a random step of the commit — the data
    write, the version publish or the sweep, before OR after the step
    completes — followed by foreachBatch's redelivery of the same batch.
    This is the torn-commit class the clean lanes never reach: a kill
    after the data write and before the publish must leave the previous
    version (its data and its schema) served, and a kill after the
    publish must serve the new one. Invariants: the table stays READABLE
    after every injected crash (no torn unreadable state), and after
    redelivery the final state equals the dict-replay oracle — crashes
    composed with drift, partitioning, deletes and replays exactly as the
    generator deals them."""
    from debezium_emr_hudi_deltastreamer_sample_spark.table import KeyedTable

    sc = CdcGen(seed).scenario()
    spark = _case_session(spark)
    path = f"{case_dir}/table"
    r = random.Random(seed ^ 0xC0FFEE)
    table = KeyedTable(
        spark, path, keys=["id"], ordering=["_lsn"], op_col="op",
        partition_by=["department"] if sc["partitioned"] else [],
        # keep_history composes the crash axis with time travel: every
        # surviving version must stay readable with its own schema.
        keep_history=24 if sc["keep_history"] else 0,
    )
    for i, batch in enumerate(sc["batches"]):
        raw = _raw_batch(spark, batch)
        if not raw.head(1):
            continue
        changes = _wire_parser("json", batch["drift"])(raw)
        if not changes.head(1):
            continue
        if r.random() < 0.6:
            # First delivery dies mid-commit; kth may exceed the path's
            # call count (then no crash fires — the rng explores both).
            arm = _CrashArm(
                [(table, "_write_data"), (table, "_publish"), (table, "_sweep")],
                kth=r.randint(1, 4),
                after=r.random() < 0.5,
            )
            with arm:
                try:
                    table.upsert(changes)
                except _InjectedCrash:
                    pass
            try:
                if table.exists():
                    table.read().collect()
            except Exception as exc:  # noqa: BLE001 — any read crash is the bug
                return False, f"crash[batch {i}] unreadable after kill: {exc}"
        reps = 2 if i in sc["replays"] else 1
        for _ in range(reps):
            table.upsert(changes)  # redelivery (+ the replay axis)
    final, cols, _ = oracle_replay(sc["batches"])
    got = _cow_table_state(spark, path, cols)
    want = _oracle_state(final, cols)
    if got != want:
        return False, f"crash final mismatch: {_diff(got, want)}"
    # keep_history variant: every surviving snapshot commit must be
    # READABLE with a sane schema-as-of (a subset of the final column
    # set — kills + redeliveries scramble the seq↔batch mapping, so the
    # per-snapshot VALUE oracle lives in the clean hist lane; here the
    # invariant is no torn/unreadable commit and no phantom columns).
    if sc["keep_history"]:
        for seq, _uri in table.snapshots():
            try:
                as_of = table.read(as_of=seq)
                as_of.collect()
            except Exception as exc:  # noqa: BLE001 — torn commit IS the bug
                return False, f"crash snapshot {seq} unreadable: {exc}"
            extra = set(as_of.columns) - set(cols)
            if extra:
                return False, (
                    f"crash snapshot {seq} phantom columns: {sorted(extra)}"
                )
    return True, ""


def _crashmor(spark, seed: int, case_dir: str) -> tuple[bool, str]:
    """MOR twin of the crash lane: ``DeltaLogTable`` driven directly with
    kills injected across its commit path — the delta-log schema publish,
    the delta-dir landing (``_write_delta``), and whole compactions
    (before AND after they complete: the after case exercises redelivery
    of a batch the compaction already folded — the re-landed dir must be
    masked by the ``ingest_batch > through`` filter, not double-applied).
    Invariants: readable after every kill; final merge-on-read view
    equals the dict-replay oracle."""
    from debezium_emr_hudi_deltastreamer_sample_spark.table import DeltaLogTable

    gen = CdcGen(seed)
    sc = gen.scenario()
    if not any(
        e["op"] in ("c", "u", "d", "r")
        for b in sc["batches"]
        for e in b["events"]
    ):
        sc["batches"][0]["events"] = [
            {"op": "c", "lsn": 1, "row": gen.row(0, False, {})}
        ]
        sc["batches"][0]["drift"] = False
    r = random.Random(seed ^ 0xDEADBEEF)
    spark = _case_session(spark)
    table = DeltaLogTable(
        spark, f"{case_dir}/mor", keys=["id"], ordering=["_lsn"],
        op_col="op",
    )
    landed_any = False
    for i, batch in enumerate(sc["batches"]):
        raw = _raw_batch(spark, batch)
        if not raw.head(1):
            continue
        changes = _wire_parser("json", batch["drift"])(raw)
        if not changes.head(1):
            continue
        if r.random() < 0.6:
            arm = _CrashArm(
                [
                    (table.delta_schema_sidecar, "publish"),
                    (table, "_write_delta"),
                    (table, "compact"),
                ],
                kth=r.randint(1, 3),
                after=r.random() < 0.5,
            )
            with arm:
                try:
                    table.append_changes(changes, i)
                    if r.random() < 0.5:
                        table.compact()
                except _InjectedCrash:
                    pass
            try:
                if landed_any or table.delta_batches():
                    table.read().collect()
            except Exception as exc:  # noqa: BLE001 — any read crash is the bug
                return False, f"crashmor[batch {i}] unreadable after kill: {exc}"
        reps = 2 if i in sc["replays"] else 1
        for _ in range(reps):
            table.append_changes(changes, i)  # redelivery (+ replay axis)
        landed_any = True
        if r.random() < 0.25:
            table.compact()
    final, cols, _ = oracle_replay(sc["batches"])
    got = _spark_state(table.read(), cols)
    want = _oracle_state(final, cols)
    if got != want:
        return False, f"crashmor final mismatch: {_diff(got, want)}"
    return True, ""


def _writers(spark, seed: int, case_dir: str) -> tuple[bool, str]:
    """CONCURRENT-WRITER lane: two writers interleave upsert batches on
    ONE KeyedTable under the WriterLease (the round-10 single-writer
    enforcement). Each batch is dealt to a random writer with a random
    take_over flag; the lane tracks who legitimately owns the lease and
    asserts BOTH directions: an allowed commit succeeds, a disallowed one
    raises ConcurrentWriterError and changes nothing. Final table state
    must equal the dict-replay oracle over ONLY the committed batches —
    i.e. the loser's refused writes left zero trace (no lost updates, no
    phantom sidecar widening). Composes with the generator's drift,
    partitioning, deletes and replay axes."""
    from debezium_emr_hudi_deltastreamer_sample_spark.table import (
        ConcurrentWriterError,
        KeyedTable,
    )

    sc = CdcGen(seed).scenario()
    r = random.Random(seed ^ 0x5EA5ED)
    spark = _case_session(spark)
    path = f"{case_dir}/table"
    committed: list[dict] = []
    owner: str | None = None
    for i, batch in enumerate(sc["batches"]):
        raw = _raw_batch(spark, batch)
        if not raw.head(1):
            continue
        changes = _wire_parser("json", batch["drift"])(raw)
        if not changes.head(1):
            continue
        wid = r.choice(["w1", "w2"])
        takeover = r.random() < 0.35
        # Fresh instance per batch — the foreachBatch shape; the lease must
        # recognize the same writer_id across instances.
        table = KeyedTable(
            spark, path, keys=["id"], ordering=["_lsn"], op_col="op",
            partition_by=["department"] if sc["partitioned"] else [],
            writer_id=wid, take_over=takeover,
        )
        allowed = owner is None or owner == wid or takeover
        if allowed:
            reps = 2 if i in sc["replays"] else 1
            for _ in range(reps):
                table.upsert(changes)
            owner = wid
            committed.append(batch)
            continue
        try:
            table.upsert(changes)
            return False, (
                f"writers[batch {i}]: {wid} committed but {owner} holds "
                "the lease — silent lost-update window"
            )
        except ConcurrentWriterError:
            pass  # the loser raised, loudly — the contract
    final, cols, _ = oracle_replay(committed)
    got = _cow_table_state(spark, path, cols)
    want = _oracle_state(final, cols)
    if got != want:
        return False, f"writers final mismatch (committed-only oracle): {_diff(got, want)}"
    return True, ""


def _stale_writers(spark, seed: int, case_dir: str) -> tuple[bool, str]:
    """STALE-TAKEOVER lane (round 12): the _writers interleave with the
    ``take_over_if_stale`` self-heal axis. Staleness is simulated
    deterministically by BACKDATING the owner's liveness files (heartbeat
    + epoch owner mtimes, 120 s into the past, TTL 60 s) — no sleeps, no
    env changes, exact oracle. Asserts both directions: a stale-armed
    writer takes over a backdated (dead) owner and commits; against a
    LIVE owner the same writer raises ConcurrentWriterError and leaves
    zero trace. Final state equals the committed-only dict replay."""
    import glob
    import time as _time

    from debezium_emr_hudi_deltastreamer_sample_spark import table as table_mod
    from debezium_emr_hudi_deltastreamer_sample_spark.table import (
        ConcurrentWriterError,
        KeyedTable,
    )

    TTL = 60.0

    def backdate(path: str) -> None:
        old = _time.time() - 2 * TTL
        wdir = f"{path}__writer"
        for f in glob.glob(f"{wdir}/heartbeat"):
            os.utime(f, (old, old))
        for f in glob.glob(f"{wdir}/e*/owner"):
            os.utime(f, (old, old))
        for ptr in glob.glob(f"{wdir}/e*.commit"):
            try:
                content = open(ptr).read().strip()
            except OSError:
                continue
            p = os.path.join(content, "owner")
            if content and os.path.exists(p):
                os.utime(p, (old, old))
        # Simulated elapsed time also ages the in-process heartbeat rate
        # limiter (a fresh commit must re-touch the backdated file).
        table_mod._HB_LAST_TOUCH.clear()

    sc = CdcGen(seed).scenario()
    r = random.Random(seed ^ 0x57A1E)
    spark = _case_session(spark)
    path = f"{case_dir}/table"
    committed: list[dict] = []
    owner: str | None = None
    owner_stale = False
    for i, batch in enumerate(sc["batches"]):
        raw = _raw_batch(spark, batch)
        if not raw.head(1):
            continue
        changes = _wire_parser("json", batch["drift"])(raw)
        if not changes.head(1):
            continue
        wid = r.choice(["w1", "w2"])
        armed = r.random() < 0.5
        if owner is not None and owner != wid and r.random() < 0.4:
            backdate(path)
            owner_stale = True
        table = KeyedTable(
            spark, path, keys=["id"], ordering=["_lsn"], op_col="op",
            partition_by=["department"] if sc["partitioned"] else [],
            writer_id=wid,
            take_over_if_stale=TTL if armed else None,
        )
        allowed = (
            owner is None
            or owner == wid
            or (armed and owner_stale)
        )
        if allowed:
            reps = 2 if i in sc["replays"] else 1
            for _ in range(reps):
                table.upsert(changes)
            owner = wid
            owner_stale = False  # committing touches the heartbeat
            committed.append(batch)
            continue
        try:
            table.upsert(changes)
            return False, (
                f"stale[batch {i}]: {wid} (armed={armed}) displaced LIVE "
                f"owner {owner} — self-heal fired without staleness"
            )
        except ConcurrentWriterError:
            pass  # fenced loudly — the contract
    final, cols, _ = oracle_replay(committed)
    got = _cow_table_state(spark, path, cols)
    want = _oracle_state(final, cols)
    if got != want:
        return False, f"stale final mismatch (committed-only oracle): {_diff(got, want)}"
    return True, ""


def _mor(spark, seed: int, case_dir: str) -> tuple[bool, str]:
    """MOR lane: raw envelopes → mor_batch_processor → DeltaLogTable with
    randomized inline/async/manual compaction; final merge-on-read view vs
    dict replay, read-optimized view vs the oracle state at the published
    compacted-through batch, and newest read_version == optimized view."""
    from debezium_emr_hudi_deltastreamer_sample_spark.streaming.pipeline import (
        mor_batch_processor,
    )
    from debezium_emr_hudi_deltastreamer_sample_spark.table import DeltaLogTable

    gen = CdcGen(seed)
    sc = gen.scenario()
    r = gen.rng
    if not any(
        e["op"] in ("c", "u", "d", "r")
        for b in sc["batches"]
        for e in b["events"]
    ):
        sc["batches"][0]["events"] = [
            {"op": "c", "lsn": 1, "row": gen.row(0, False, {})}
        ]
        sc["batches"][0]["drift"] = False
    auto = r.choice([None, 1, 2, 3])
    use_async = auto is not None and r.random() < 0.4
    target_files = r.choice([None, 1, 2])
    manual_compact_prob = 0.3 if auto is None else 0.1
    # Drift correctness rests on the delta-log schema sidecar alone.

    spark = _case_session(spark)
    path = f"{case_dir}/mor"
    table = DeltaLogTable(
        spark, path, keys=["id"], ordering=["_lsn"], op_col="op",
        compact_target_files=target_files,
    )
    for i, batch in enumerate(sc["batches"]):
        process = mor_batch_processor(
            path,
            keys=["id"],
            row_schema=_schema(batch["drift"]),
            ordering=["_lsn"],
            auto_compact_deltas=auto,
            async_compact=use_async,
        )
        reps = 2 if i in sc["replays"] else 1
        for _ in range(reps):
            process(_raw_batch(spark, batch), i)
        if r.random() < manual_compact_prob:
            table.await_compaction(60)
            table.compact()
    table.await_compaction(60)
    err = table.last_compaction_error()
    if err is not None:
        return False, f"mor async compaction error: {err!r}"
    final, cols, history = oracle_replay(sc["batches"])
    got = _spark_state(table.read(), cols)
    want = _oracle_state(final, cols)
    if got != want:
        return False, f"mor final mismatch: {_diff(got, want)}"
    ver = table._latest_base()
    if ver is not None:
        through = ver[1]
        # Columns as of the compacted-through prefix (drift may land
        # after the fold).
        _, pcols, _ = oracle_replay(sc["batches"][: through + 1])
        got = _spark_state(table.read(optimized=True), pcols)
        want = _oracle_state(history[through], pcols)
        if got != want:
            return (
                False,
                f"mor read-optimized@{through} mismatch: {_diff(got, want)}",
            )
        got_v = _spark_state(table.read_version(ver[0]), pcols)
        if got_v != want:
            return (
                False,
                f"mor read_version({ver[0]}) mismatch: {_diff(got_v, want)}",
            )
    return True, ""


ATTRS = ["a", "b", "c", None]


def gen_scd2(seed: int) -> dict:
    """SCD2 scenario: per-key globally ordered (ts, eid) event feed split at
    random batch boundaries — ts ties across AND within keys, NULL attrs,
    immediate batch replays, and old-batch redeliveries (both must no-op
    under the fold's monotone-feed guard)."""
    r = random.Random(seed)
    n_keys = r.randint(1, 6)
    n_events = r.randint(1, 30)
    events = []
    for eid in range(n_events):
        events.append(
            {
                "k": r.randrange(n_keys),
                "ts": r.randint(0, 12),
                "eid": eid,
                "a": r.choice(ATTRS),
            }
        )
    events.sort(key=lambda e: (e["ts"], e["eid"]))
    n_batches = r.randint(1, 5)
    cuts = sorted(r.randint(0, n_events) for _ in range(n_batches - 1))
    batches, prev = [], 0
    for c in cuts + [n_events]:
        batches.append(events[prev:c])
        prev = c
    replays = {b for b in range(len(batches)) if r.random() < 0.25}
    redeliver = [
        (i, r.randint(0, i - 1))
        for i in range(1, len(batches))
        if r.random() < 0.2
    ]
    return {"batches": batches, "replays": replays,
            "redeliver": dict(redeliver)}


def oracle_scd2(events: list[dict]) -> set[tuple]:
    """Batch SCD2 fold over the full event set: per key in (ts, eid) order,
    keep position-1 and attr-changed rows (null-safe compare), then version
    ranges [valid_from, next_valid_from) with the last version open."""
    out = set()
    by_key: dict[int, list[dict]] = {}
    for e in sorted(events, key=lambda e: (e["ts"], e["eid"])):
        by_key.setdefault(e["k"], []).append(e)
    for k, evs in by_key.items():
        changes = []
        sentinel = object()
        prev = sentinel
        for e in evs:
            if prev is sentinel or e["a"] != prev:
                changes.append(e)
            prev = e["a"]
        for i, c in enumerate(changes):
            nxt = changes[i + 1] if i + 1 < len(changes) else None
            out.add(
                (
                    k,
                    c["a"],
                    c["ts"],
                    c["eid"],
                    nxt["ts"] if nxt else None,
                    nxt is None,
                )
            )
    return out


def _scd2(spark, seed: int, case_dir: str) -> tuple[bool, str]:
    from debezium_emr_hudi_deltastreamer_sample_spark.streaming.pipeline import (
        scd2_batch_processor,
    )
    from debezium_emr_hudi_deltastreamer_sample_spark.table import KeyedTable

    sc = gen_scd2(seed)
    spark = _case_session(spark)
    path = f"{case_dir}/dim"
    process = scd2_batch_processor(
        path, key="k", attr="a", ts_col="ts", tiebreak="eid"
    )
    schema = "k int, a string, ts int, eid int"

    def df_of(batch):
        return spark.createDataFrame(
            [(e["k"], e["a"], e["ts"], e["eid"]) for e in batch], schema
        ).coalesce(1)

    for i, batch in enumerate(sc["batches"]):
        if i in sc["redeliver"]:
            process(df_of(sc["batches"][sc["redeliver"][i]]), 100 + i)
        process(df_of(batch), i)
        if i in sc["replays"]:
            process(df_of(batch), i)
    want = oracle_scd2([e for b in sc["batches"] for e in b])
    if not want:
        return True, ""
    got = {
        (
            r["k"], r["a"], r["valid_from"], r["valid_from_id"],
            r["valid_to"], r["is_current"],
        )
        for r in KeyedTable(spark, path, keys=["k"]).read().collect()
    }
    if got != want:
        missing = sorted(want - got, key=repr)[:3]
        extra = sorted(got - want, key=repr)[:3]
        return False, f"scd2 mismatch: missing={missing} extra={extra}"
    return True, ""


def _routed(spark, seed: int, case_dir: str) -> tuple[bool, str]:
    """ROUTED lane: one mixed-topic stream fanned out to two tables by
    routed_upsert_processor (B2 relation filter + B14 topic→table naming)
    — each table's final state vs its own dict replay. Adds
    unknown-topic events (must be ignored: the subscribe pattern may
    match unregistered tables), per-batch interleaving of the two
    tables' change feeds, and — new in round 9 — INDEPENDENT per-table
    schema drift under the one mixed stream (the declared schemas
    diverge mid-replay; the processor is rebuilt per batch with each
    table's current schema, exactly how a live deployment picks up a
    registry change). Replays re-apply the whole mixed batch."""
    from debezium_emr_hudi_deltastreamer_sample_spark.streaming.pipeline import (
        routed_upsert_processor,
    )

    gen_a, gen_b = CdcGen(seed), CdcGen(seed ^ 0x5DEECE66D)
    sc_a, sc_b = gen_a.scenario(), gen_b.scenario()
    spark = _case_session(spark)
    rng = random.Random(seed * 31 + 7)
    n_batches = max(len(sc_a["batches"]), len(sc_b["batches"]))

    def drift_of(sc, i):
        # A table whose feed ended stays on its LAST declared schema.
        if i < len(sc["batches"]):
            return sc["batches"][i]["drift"]
        return sc["batches"][-1]["drift"]

    def rows_for(sc, name, i):
        if i >= len(sc["batches"]):
            return []
        return [
            (f"debezium1.public.{name}", envelope_json(e))
            for e in sc["batches"][i]["events"]
        ]

    for i in range(n_batches):
        process = routed_upsert_processor(
            {
                "t_alpha": (
                    f"{case_dir}/t_alpha", ["id"], _schema(drift_of(sc_a, i)),
                ),
                "t_beta": (
                    f"{case_dir}/t_beta", ["id"], _schema(drift_of(sc_b, i)),
                ),
            },
            ordering=["_lsn"],
        )
        rows = rows_for(sc_a, "t_alpha", i) + rows_for(sc_b, "t_beta", i)
        if rng.random() < 0.3:
            # Unknown topic: matched by the subscribe regex but not
            # registered — must be ignored, not crash or cross-route.
            rows.append(
                (
                    "debezium1.public.t_gamma",
                    envelope_json(
                        {"op": "c", "lsn": 999000 + i,
                         "row": gen_a.row(0, False, {})}
                    ),
                )
            )
        rng.shuffle(rows)
        df = spark.createDataFrame(
            rows or [], "topic string, value string"
        ).coalesce(1)
        reps = 2 if (i in sc_a["replays"] or i in sc_b["replays"]) else 1
        for _ in range(reps):
            process(df, i)

    for name, sc in (("t_alpha", sc_a), ("t_beta", sc_b)):
        final, cols, _ = oracle_replay(sc["batches"])
        got = _cow_table_state(spark, f"{case_dir}/{name}", cols)
        want = _oracle_state(final, cols)
        if got != want:
            return False, f"routed[{name}] mismatch: {_diff(got, want)}"
    return True, ""


run_cow_case = _wrap(_cow)
run_mor_case = _wrap(_mor)
run_scd2_case = _wrap(_scd2)
run_routed_case = _wrap(_routed)
run_avro_case = _wrap(_avro)
run_crash_case = _wrap(_crash)
run_crashmor_case = _wrap(_crashmor)
run_writers_case = _wrap(_writers)
run_stale_case = _wrap(_stale_writers)

LANES = {
    "cow": run_cow_case,
    "mor": run_mor_case,
    "scd2": run_scd2_case,
    "routed": run_routed_case,
    "avro": run_avro_case,
    "crash": run_crash_case,
    "crashmor": run_crashmor_case,
    "writers": run_writers_case,
    "stale": run_stale_case,
}


def run_many(spark, lane: str, count: int, seed: int, workers: int = 8):
    """Run `count` seeded cases of one lane, thread-parallel (each case owns
    a child session + tmp dir, so cases are isolated). Returns failures as
    (case_seed, detail) tuples."""
    from concurrent.futures import ThreadPoolExecutor

    fn = LANES[lane]
    # count == 1 replays the given CASE seed exactly (failure output prints
    # case seeds); larger counts derive a seed stream.
    seeds = [seed] if count == 1 else [
        seed * 1_000_003 + i for i in range(count)
    ]

    def one(s):
        try:
            ok, detail = fn(spark, s)
        except Exception as e:  # noqa: BLE001 — a crash IS a finding
            ok, detail = False, f"error: {type(e).__name__}: {str(e)[:400]}"
        return None if ok else (s, detail)

    with ThreadPoolExecutor(max_workers=workers) as ex:
        return [f for f in ex.map(one, seeds) if f is not None]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--lane", default="all", choices=[*LANES, "all"])
    ap.add_argument("--count", type=int, default=50)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--workers", type=int, default=8)
    args = ap.parse_args()

    from debezium_emr_hudi_deltastreamer_sample_spark.session import get_spark

    spark = get_spark(app_name="fuzz_cdc", shuffle_partitions=4)
    lanes = list(LANES) if args.lane == "all" else [args.lane]
    total_fail = 0
    for lane in lanes:
        fails = run_many(spark, lane, args.count, args.seed, args.workers)
        total_fail += len(fails)
        print(f"{lane}: {args.count - len(fails)}/{args.count} pass")
        for s, d in fails[:10]:
            print(f"  FAIL seed={s}: {d}")
    sys.exit(1 if total_fail else 0)


if __name__ == "__main__":
    main()
