"""The benchmark workloads. Each is one closed loop with one client: the
next op starts only after the previous one returned.

Every workload stages all of its seeded inputs to files during set-up
(``stage``, the part of set-up a run repeats); the timed ops only read
those files. ``build`` creates and bootstraps the tables, ``warmup`` runs
untimed ops, ``step`` is one timed op and ``check`` compares the
program's outputs with an independent oracle after the window.
"""

from __future__ import annotations

import os
import threading
import time

import pyarrow as pa
import pyarrow.parquet as pq

from . import gen, oracle
from .harness import Bench, cpu_ticks, steal_share

EMP_SCHEMA = pa.schema([
    ("id", pa.int32()), ("full_name", pa.string()), ("email", pa.string()),
    ("phone", pa.string()), ("department", pa.string()),
    ("salary", pa.int32()), ("created_at", pa.date32()),
])
CHANGE_META = pa.schema([("op", pa.string()), ("_lsn", pa.int64())])


def _emp_table(rows: list[dict], changes: list[gen.Change] | None = None) -> pa.Table:
    cols = {f.name: [r[f.name] for r in rows] for f in EMP_SCHEMA}
    schema = EMP_SCHEMA
    if changes is not None:
        cols = {"op": [c.op for c in changes], "_lsn": [c.lsn for c in changes], **cols}
        schema = pa.schema(list(CHANGE_META) + list(EMP_SCHEMA))
    return pa.table(cols, schema=schema)


def _change_table(changes: list[gen.Change], fields: list[tuple[str, pa.DataType]]) -> pa.Table:
    schema = pa.schema(list(CHANGE_META) + fields)
    cols = {"op": [c.op for c in changes], "_lsn": [c.lsn for c in changes]}
    for name, _ in fields:
        cols[name] = [c.row[name] for c in changes]
    return pa.table(cols, schema=schema)


def _emp_tuple(r) -> tuple:
    return (r["id"], r["full_name"], r["email"], r["phone"], r["department"],
            r["salary"], r["created_at"])


def _compare_state(label: str, rows, state: dict) -> list[str]:
    got = sorted(_emp_tuple(r) for r in rows)
    want = sorted(_emp_tuple(r) for r in state.values())
    if got == want:
        return []
    first = next((i for i, (a, b) in enumerate(zip(got, want)) if a != b), min(len(got), len(want)))
    return [f"{label}: {len(got)} rows vs oracle {len(want)}; first difference at sorted row {first}"]


class Workload:
    name = ""
    n_warm = 0
    #: Lower bound on one op's seconds: set-up stages inputs for
    #: ``n_warm + seconds / min_op_s`` ops, so the window, not the inputs,
    #: ends the loop.
    min_op_s = 1.0

    def __init__(self, bench: Bench) -> None:
        self.b = bench
        self.spark = bench.spark
        self.seed = bench.seed
        self.n_steps = self.n_warm + int(bench.seconds / self.min_op_s) + 1

    def kind(self, i: int) -> str:
        return "op"


# -- cdc_stream_cow ------------------------------------------------------------


class _ProgressFeed:
    """StreamingQueryListener collecting each trigger's progress; the
    client waits on it for its batch to commit."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        feed = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                feed.on_progress(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.cond = threading.Condition()
        self.by_batch: dict[int, object] = {}
        self.listener = Listener()
        spark.streams.addListener(self.listener)

    def on_progress(self, progress) -> None:
        if progress.numInputRows <= 0:
            return
        with self.cond:
            self.by_batch[progress.batchId] = progress
            self.cond.notify_all()

    def wait(self, query, batch_id: int, timeout: float = 120.0):
        deadline = time.monotonic() + timeout
        with self.cond:
            while batch_id not in self.by_batch:
                if not query.isActive:
                    raise RuntimeError(f"stream stopped before batch {batch_id}: {query.exception()}")
                if time.monotonic() > deadline:
                    raise TimeoutError(f"batch {batch_id} did not commit in {timeout}s")
                self.cond.wait(0.5)
            return self.by_batch[batch_id]


class CdcStreamCow(Workload):
    """Staged Debezium envelope files → ``file_envelope_source`` (one file
    per trigger) → ``upsert_batch_processor`` → non-partitioned
    ``KeyedTable``. The client stages the next file only after the
    previous trigger committed."""

    name = "cdc_stream_cow"
    n_initial = 100_000
    batch_size = 2_000
    n_warm = 6
    min_op_s = 1.0
    phases = ("addBatch", "walCommit", "commitOffsets", "latestOffset", "queryPlanning", "getBatch")

    def stage(self, inp: str) -> None:
        self.log = gen.employee_changelog(self.seed, self.n_initial, self.n_steps, self.batch_size)
        self.staged = inp
        pq.write_table(_emp_table(self.log.initial), f"{inp}/initial.parquet")
        offset = 0
        for j, batch in enumerate(self.log.batches):
            with open(f"{inp}/b{j:05d}.json", "w") as f:
                for ch in batch:
                    f.write(gen.kafka_record(ch, offset) + "\n")
                    offset += 1

    def build(self) -> None:
        from debezium_emr_hudi_deltastreamer_sample_spark.streaming.pipeline import (
            checkpoint_writer_id,
        )
        from debezium_emr_hudi_deltastreamer_sample_spark.table import KeyedTable

        self.table_path = self.b.path("employees")
        checkpoint = self.b.path("checkpoint")
        # Bootstrap as the pipeline's own writer, so its lease carries over.
        KeyedTable(
            self.spark, self.table_path, keys=["id"], writer_id=checkpoint_writer_id(checkpoint)
        ).init(self.spark.read.parquet(f"{self.staged}/initial.parquet"))
        self._start_stream(checkpoint)

    def _start_stream(self, checkpoint: str) -> None:
        from debezium_emr_hudi_deltastreamer_sample_spark.streaming.pipeline import (
            start_pipeline, upsert_batch_processor,
        )
        from debezium_emr_hudi_deltastreamer_sample_spark.streaming.sources import (
            file_envelope_source,
        )

        self.source = self.b.path("source")
        os.makedirs(self.source)
        process = upsert_batch_processor(self.table_path, keys=["id"])
        tracer = self.b.tracer

        def traced_process(df, batch_id):
            # The stream thread escapes the client's span; tag here.
            if tracer is None or not tracer.active:
                return process(df, batch_id)
            span = tracer.begin("streaming.pipeline.foreach_batch")
            try:
                return process(df, batch_id)
            finally:
                tracer.end(span)

        self.feed = _ProgressFeed(self.spark)
        if tracer is not None:
            tracer._tag(None)  # the stream thread inherits local properties
        stream = file_envelope_source(self.spark, self.source, max_files_per_trigger=1)
        self.query = start_pipeline(stream, traced_process, checkpoint)
        self.next_batch = 0

    def _feed_one(self):
        j = self.next_batch
        name = f"b{j:05d}.json"
        os.rename(os.path.join(self.staged, name), os.path.join(self.source, name))
        progress = self.feed.wait(self.query, j)
        self.next_batch += 1
        return progress

    def warmup(self) -> None:
        for _ in range(self.n_warm):
            self._feed_one()

    def has_step(self, i: int) -> bool:
        return self.n_warm + i < len(self.log.batches)

    def step(self, i: int) -> None:
        ticks0 = cpu_ticks()
        progress = self._feed_one()
        run = self.b.run
        run.sample(
            "commit_s", progress.durationMs["triggerExecution"] / 1000.0,
            steal_share(ticks0, cpu_ticks()),
        )
        run.rows += progress.numInputRows
        for phase in self.phases:
            run.sample(f"trigger.{phase}_s", progress.durationMs.get(phase, 0) / 1000.0)

    def check(self) -> list[str]:
        from debezium_emr_hudi_deltastreamer_sample_spark.table import KeyedTable

        self.query.stop()
        self.spark.streams.removeListener(self.feed.listener)
        state = oracle.replay(self.log.initial, self.log.batches[: self.next_batch])
        rows = KeyedTable(self.spark, self.table_path, keys=["id"]).read().collect()
        return _compare_state("cdc_stream_cow table", [r.asDict() for r in rows], state)


# -- cdc_tables_rw -------------------------------------------------------------

FACT_FIELDS = [
    ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
    ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
]
DIM_FIELDS = [
    ("c_custkey", pa.int64()), ("c_name", pa.string()),
    ("c_mktsegment", pa.string()), ("c_acctbal", pa.float64()),
]
VIEW_COLS = [n for n, _ in FACT_FIELDS] + [n for n, _ in DIM_FIELDS if n != "c_custkey"]


class CdcTablesRw(Workload):
    """Writes beside reads on landed tables. Each step applies one
    employees change batch to a partitioned COW ``KeyedTable``
    (keep_history=3) and to a MOR ``DeltaLogTable`` (inline compaction
    every 8 deltas; the bootstrap is delta 0, so a window of a few steps
    never compacts); one orders or customer batch to an
    ``IncrementalJoinView`` (orders ⋈ customer); one event batch to an
    ``IncrementalRollup`` (1-hour buckets); then runs one read, round-robin
    over a SQL aggregate, a point lookup, ``read(as_of=…)`` and the MOR
    ``read()``."""

    name = "cdc_tables_rw"
    n_initial = 10_000
    batch_size = 400
    n_customers = 500
    n_orders = 4_000
    fact_batch = 150
    dim_batch = 40
    dim_every = 4
    events0 = 5_000
    events_per_step = 1_000
    n_warm = 2
    min_op_s = 1.5
    read_kinds = ("sql_agg", "point", "as_of", "mor_read")

    def stage(self, inp: str) -> None:
        import random

        n = self.n_steps
        self.inp = inp
        self.log = gen.employee_changelog(self.seed, self.n_initial, n, self.batch_size, hot_share=0.9)
        self.vlog = gen.view_log(
            self.seed, self.n_customers, self.n_orders, n, self.fact_batch,
            self.dim_batch, self.dim_every, self.events0, self.events_per_step,
        )
        pq.write_table(_emp_table(self.log.initial), f"{inp}/initial.parquet")
        as_c = lambda rows: [gen.Change(-1, 0, "c", r) for r in rows]  # noqa: E731
        pq.write_table(_change_table(as_c(self.vlog.customers), DIM_FIELDS), f"{inp}/customers.parquet")
        pq.write_table(_change_table(as_c(self.vlog.orders), FACT_FIELDS), f"{inp}/orders.parquet")
        gen.write_parquet(self.vlog.events0, f"{inp}/events0.parquet")
        for j in range(n):
            batch = self.log.batches[j]
            pq.write_table(_emp_table([c.row for c in batch], batch), f"{inp}/b{j:05d}.parquet")
            side, vbatch = self.vlog.steps[j]
            fields = FACT_FIELDS if side == "fact" else DIM_FIELDS
            pq.write_table(_change_table(vbatch, fields), f"{inp}/v{j:05d}.parquet")
            gen.write_parquet(self.vlog.event_batches[j], f"{inp}/e{j:05d}.parquet")
        # Point-lookup keys: drawn up front from each batch's own keys.
        rng = random.Random(self.seed + 1)
        self.lookup = [rng.choice(batch).row["id"] for batch in self.log.batches]

    def _read_input(self, name: str):
        return self.spark.read.parquet(f"{self.inp}/{name}.parquet")

    def build(self) -> None:
        from pyspark.sql import functions as F

        from debezium_emr_hudi_deltastreamer_sample_spark.streaming.ivm import IncrementalJoinView
        from debezium_emr_hudi_deltastreamer_sample_spark.streaming.rollup import IncrementalRollup
        from debezium_emr_hudi_deltastreamer_sample_spark.table import DeltaLogTable, KeyedTable

        base = self.b.path("tables")
        self.cow = KeyedTable(
            self.spark, f"{base}/cow", keys=["id"], partition_by=["department"], keep_history=3,
        )
        self.mor = DeltaLogTable(self.spark, f"{base}/mor", keys=["id"], auto_compact_deltas=8)
        initial = self._read_input("initial")
        self.cow.init(initial)
        self.mor.append_changes(
            initial.select(F.lit("c").alias("op"), F.lit(0).cast("long").alias("_lsn"), "*"), 0
        )
        self.view = IncrementalJoinView(
            self.spark, f"{base}/orders_customer", fact_keys=["o_orderkey"],
            fk="o_custkey", dim_key="c_custkey",
        )
        self.view.apply_dim_batch(self._read_input("customers"))
        self.view.apply_fact_batch(self._read_input("orders"))
        self.rollup = IncrementalRollup(
            self.spark, f"{base}/rollup", ts_col="ts", bucket="1 hour",
            keys=["event_type"], value_col="value",
        )
        self.rollup.apply_batch(self._read_input("events0"), 0)
        self.applied = 0
        self.results: list[tuple[int, str, object]] = []

    def _apply(self, j: int, timed: bool) -> None:
        run = self.b.run
        changes = self._read_input(f"b{j:05d}")
        ticks0 = cpu_ticks()
        t0 = time.perf_counter()
        self.cow.upsert(changes)
        t1 = time.perf_counter()
        cow_steal = steal_share(ticks0, cpu_ticks())
        self.mor.append_changes(changes, j + 1)
        t2 = time.perf_counter()
        vbatch = self._read_input(f"v{j:05d}")
        if self.vlog.steps[j][0] == "fact":
            self.view.apply_fact_batch(vbatch)
        else:
            self.view.apply_dim_batch(vbatch)
        t3 = time.perf_counter()
        self.rollup.apply_batch(self._read_input(f"e{j:05d}"), j + 1)
        t4 = time.perf_counter()
        self.applied = j + 1
        if timed:
            run.rows += len(self.log.batches[j])
            run.sample("commit_s", t1 - t0, cow_steal)
            run.sample("mor_commit_s", t2 - t1)
            run.sample("refresh_s", t3 - t2)
            run.sample("rollup_s", t4 - t3)

    def warmup(self) -> None:
        """One orders step and one customer step; every read kind once."""
        for j in range(self.n_warm):
            self._apply(j, timed=False)
        for kind in self.read_kinds:
            self._read(self.n_warm - 1, kind, timed=False)

    @staticmethod
    def _checksum(df):
        from pyspark.sql import functions as F

        r = df.agg(
            F.count(F.lit(1)).alias("n"), F.sum("salary").alias("s"), F.sum("id").alias("k")
        ).collect()[0]
        return (r["n"], r["s"] or 0, r["k"] or 0)

    def _read(self, j: int, kind: str, timed: bool) -> None:
        t = time.perf_counter()
        if kind == "sql_agg":
            self.cow.register("employees_cow")
            rows = self.spark.sql(
                "SELECT department, count(*) AS n, sum(salary) AS s "
                "FROM employees_cow GROUP BY department"
            ).collect()
            result = {r["department"]: (r["n"], r["s"]) for r in rows}
            metric = "read_s"
        elif kind == "point":
            key = self.lookup[j]
            rows = self.cow.read().filter(f"id = {key}").collect()
            result = (key, [_emp_tuple(r.asDict()) for r in rows])
            metric = "read_s"
        elif kind == "as_of":
            seq = self.cow.snapshots()[0][0]
            result = (seq, self._checksum(self.cow.read(as_of=seq)))
            metric = "timetravel_s"
        else:
            result = self._checksum(self.mor.read())
            metric = "mor_read_s"
        if timed:
            self.b.run.sample(metric, time.perf_counter() - t)
        self.results.append((self.applied, kind, result))

    def kind(self, i: int) -> str:
        return self.read_kinds[i % len(self.read_kinds)]

    def has_step(self, i: int) -> bool:
        return self.n_warm + i < len(self.log.batches)

    def step(self, i: int) -> None:
        j = self.n_warm + i
        self._apply(j, timed=True)
        self._read(j, self.kind(i), timed=True)

    def check(self) -> list[str]:
        fails = []
        states = [oracle.replay(self.log.initial, [])]
        for batch in self.log.batches[: self.applied]:
            nxt = dict(states[-1])
            oracle.apply_batch(nxt, batch)
            states.append(nxt)
        for applied, kind, result in self.results:
            st = states[applied]
            if kind == "sql_agg":
                want = oracle.dept_totals(st)
            elif kind == "point":
                key = result[0]
                want = (key, [_emp_tuple(st[key])] if key in st else [])
            elif kind == "as_of":
                want = (result[0], oracle.summary(states[result[0]]))
            else:
                want = oracle.summary(st)
            if result != want:
                fails.append(f"{kind} read after commit {applied}: {result} != oracle {want}")
        final = states[self.applied]
        fails += _compare_state("cow table", [r.asDict() for r in self.cow.read().collect()], final)
        mor_rows = self.mor.read().select(*EMP_SCHEMA.names).collect()
        fails += _compare_state("mor table", [r.asDict() for r in mor_rows], final)
        for seq, _ in self.cow.snapshots():
            got = self._checksum(self.cow.read(as_of=seq))
            if got != oracle.summary(states[seq]):
                fails.append(f"snapshot {seq}: {got} != oracle {oracle.summary(states[seq])}")
        return fails + self._check_view()

    def _check_view(self) -> list[str]:
        fails = []
        steps = self.vlog.steps[: self.applied]
        orders = oracle.replay(self.vlog.orders, [b for s, b in steps if s == "fact"], key="o_orderkey")
        customers = oracle.replay(self.vlog.customers, [b for s, b in steps if s == "dim"], key="c_custkey")
        want = oracle.join_view(orders, customers)
        got = sorted(tuple(r[c] for c in VIEW_COLS) for r in self.view.read().collect())
        if got != want:
            fails.append(f"join view: {len(got)} rows vs oracle {len(want)} (contents differ)")
        want_r = oracle.hourly_rollup([self.vlog.events0] + self.vlog.event_batches[: self.applied])
        got_r = {
            (r["bucket_start"], r["event_type"]): (r["n"], r["total"], r["vmin"], r["vmax"])
            for r in self.rollup.read().collect()
        }
        if got_r.keys() != want_r.keys():
            fails.append(f"rollup: {len(got_r)} groups vs oracle {len(want_r)}")
            return fails
        for k, (n, total, lo, hi) in want_r.items():
            g = got_r[k]
            if g[0] != n or abs(g[1] - total) > 1e-6 * max(1.0, abs(total)) or g[2] != lo or g[3] != hi:
                fails.append(f"rollup group {k}: {g} != oracle {(n, total, lo, hi)}")
                break
        return fails


WORKLOADS = {w.name: w for w in (CdcStreamCow, CdcTablesRw)}
