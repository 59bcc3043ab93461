"""Child driver for CROSS-PROCESS lease/restart verification.

The round-10 concurrency hunts were thread-based inside one JVM/Spark
session; real multi-writer corruption comes from two PROCESSES (two
spark-submits). This child is one such process: its own pid, its own
SparkSession, a cold ``_LEASE_OWNER_CACHE`` — everything a restarted or
rogue driver actually has. Spawned by tests/test_cross_process.py and
tools/hunt_xproc_writers.py.

Modes (argv[1]):

``pipeline <workdir> <ckpt_name>``
    Run the engine's flagship A4 shape — a checkpointed availableNow
    foreachBatch upsert pipeline over ``<workdir>/in`` into
    ``<workdir>/table`` with checkpoint ``<workdir>/<ckpt_name>``. Prints
    ``RESULT <sorted (id, v) json>`` on success, ``FENCED`` (exit 3) when
    the writer lease refuses the pipeline.

``writer <table> <writer_id> <take_over 0|1> <batches_json> [jitter_ms]
[stale_ttl]``
    Ad-hoc KeyedTable writer: apply each batch (list of [id, v, op, lsn]
    rows) in order with optional random jitter between commits. Prints one
    line per attempt: ``COMMIT <i> <epoch_ms_done>`` or ``FENCED <i>``;
    stops at the first fencing (a production pipeline dies there too).
    ``stale_ttl`` > 0 arms ``take_over_if_stale`` (round-12 self-heal).

``rollup <path> <run_id> <batches_json> [jitter_ms]``
    IncrementalRollup publisher: apply each batch (list of [k, v] rows,
    one fixed hour bucket) under ``run_id``. Rollups are multi-writer by
    design (no lease) — two processes racing the commit CAS is the
    production shape of two pipelines feeding one continuous aggregate.
    Prints ``COMMIT <i> <epoch_ms_done>`` per applied batch.

``morwrite <table> <writer_id> <batches_json> [jitter_ms] [compact_every]
[batch_base]``
    DeltaLogTable (MOR) ingest writer: append each change batch as
    ingest batch ``batch_base + i`` (the base keeps ids globally unique
    when one logical writer spans several processes); with
    ``compact_every`` also compacts in-process every N appends. Prints
    ``COMMIT <i> <epoch_ms_done>`` / ``FENCED <i>``.

``morcompact <table> <rounds> [jitter_ms]``
    MOR compaction service: run ``compact()`` ``rounds`` times from this
    process (the Hudi offline-compactor shape — deliberately NOT
    lease-guarded). Prints ``COMPACT <i> <epoch_ms_done>`` per round.

``read <table>``
    Print ``RESULT <sorted (id, v) json>`` of a KeyedTable's tip version.

``morread <table>``
    Print ``RESULT <sorted (id, v) json>`` of the merged MOR view.
"""

from __future__ import annotations

import json
import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _spark(app: str, workdir: str):
    from debezium_emr_hudi_deltastreamer_sample_spark.session import get_spark

    return get_spark(
        app_name=app,
        master="local[2]",
        shuffle_partitions=4,
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.sql.warehouse.dir": f"{workdir}/wh",
        },
    )


def _pipeline(workdir: str, ckpt_name: str) -> int:
    from debezium_emr_hudi_deltastreamer_sample_spark.streaming.pipeline import (
        run_until_drained,
        start_pipeline,
        upsert_batch_processor,
    )

    spark = _spark(f"xproc-pipeline-{os.getpid()}", workdir)
    schema = "id int, v string, op string, _lsn long"
    stream = spark.readStream.schema(schema).json(f"{workdir}/in")
    process = upsert_batch_processor(
        f"{workdir}/table", keys=["id"], parser=lambda df: df
    )
    try:
        q = start_pipeline(
            stream, process, checkpoint=f"{workdir}/{ckpt_name}", available_now=True
        )
        run_until_drained(q, timeout_sec=300)
    except Exception as e:  # noqa: BLE001 — classify, then report
        if "ConcurrentWriterError" in str(e) or "owned by writer" in str(e):
            print("FENCED", flush=True)
            spark.stop()
            return 3
        raise
    from debezium_emr_hudi_deltastreamer_sample_spark.table import KeyedTable

    table = KeyedTable(spark, f"{workdir}/table", keys=["id"])
    rows = sorted((r.id, r.v) for r in table.read().collect())
    print("RESULT " + json.dumps(rows), flush=True)
    spark.stop()
    return 0


def _writer(
    table_path: str, writer_id: str, take_over: bool, batches,
    jitter_ms: int, stale_ttl: float = 0.0
) -> int:
    from debezium_emr_hudi_deltastreamer_sample_spark.table import (
        ConcurrentWriterError,
        KeyedTable,
    )

    spark = _spark(f"xproc-writer-{writer_id}", os.path.dirname(table_path))
    rng = random.Random(f"{writer_id}-{os.getpid()}")
    for i, rows in enumerate(batches):
        if jitter_ms:
            time.sleep(rng.uniform(0, jitter_ms / 1000.0))
        t = KeyedTable(
            spark,
            table_path,
            keys=["id"],
            writer_id=writer_id,
            # One-shot by table contract; also one-shot across this loop.
            take_over=(take_over and i == 0),
            take_over_if_stale=stale_ttl if stale_ttl > 0 else None,
        )
        df = spark.createDataFrame(
            [tuple(r) for r in rows], "id int, v string, op string, _lsn long"
        )
        try:
            t.upsert(df)
            print(f"COMMIT {i} {int(time.time() * 1000)}", flush=True)
        except ConcurrentWriterError:
            print(f"FENCED {i}", flush=True)
            break
    spark.stop()
    return 0


def _rollup(path: str, run_id: str, batches, jitter_ms: int) -> int:
    import datetime as dt

    from debezium_emr_hudi_deltastreamer_sample_spark.streaming.rollup import (
        IncrementalRollup,
    )

    spark = _spark(f"xproc-rollup-{run_id}", os.path.dirname(path))
    r = IncrementalRollup(
        spark, path, ts_col="ts", bucket="1 hour", keys=["k"], value_col="v"
    )
    rng = random.Random(f"{run_id}-{os.getpid()}")
    ts = dt.datetime(2024, 1, 1, 0, 30)
    for i, rows in enumerate(batches):
        if jitter_ms:
            time.sleep(rng.uniform(0, jitter_ms / 1000.0))
        df = spark.createDataFrame(
            [(ts, k, float(v)) for k, v in rows],
            "ts timestamp, k string, v double",
        )
        r.apply_batch(df, batch_id=i, run_id=run_id)
        print(f"COMMIT {i} {int(time.time() * 1000)}", flush=True)
    spark.stop()
    return 0


def _morwrite(
    table_path: str, writer_id: str, batches, jitter_ms: int,
    compact_every: int, batch_base: int = 0,
) -> int:
    from debezium_emr_hudi_deltastreamer_sample_spark.table import (
        ConcurrentWriterError,
        DeltaLogTable,
    )

    spark = _spark(f"xproc-mor-{writer_id}", os.path.dirname(table_path))
    rng = random.Random(f"{writer_id}-{os.getpid()}")
    t = DeltaLogTable(spark, table_path, keys=["id"], writer_id=writer_id)
    for i, rows in enumerate(batches):
        if jitter_ms:
            time.sleep(rng.uniform(0, jitter_ms / 1000.0))
        df = spark.createDataFrame(
            [tuple(r) for r in rows], "id int, v string, op string, _lsn long"
        )
        try:
            t.append_changes(df, batch_id=batch_base + i)
            print(f"COMMIT {i} {int(time.time() * 1000)}", flush=True)
        except ConcurrentWriterError:
            print(f"FENCED {i}", flush=True)
            break
        if compact_every and (i + 1) % compact_every == 0:
            t.compact()
            print(f"COMPACT {i} {int(time.time() * 1000)}", flush=True)
    spark.stop()
    return 0


def _morcompact(table_path: str, rounds: int, jitter_ms: int) -> int:
    from debezium_emr_hudi_deltastreamer_sample_spark.table import DeltaLogTable

    spark = _spark(f"xproc-compact-{os.getpid()}", os.path.dirname(table_path))
    rng = random.Random(f"compact-{os.getpid()}")
    t = DeltaLogTable(spark, table_path, keys=["id"], writer_id=f"svc-{os.getpid()}")
    for i in range(rounds):
        if jitter_ms:
            time.sleep(rng.uniform(0, jitter_ms / 1000.0))
        t.compact()
        print(f"COMPACT {i} {int(time.time() * 1000)}", flush=True)
    spark.stop()
    return 0


def _read(table_path: str) -> int:
    from debezium_emr_hudi_deltastreamer_sample_spark.table import KeyedTable

    spark = _spark(f"xproc-read-{os.getpid()}", os.path.dirname(table_path))
    t = KeyedTable(spark, table_path, keys=["id"])
    rows = sorted((r.id, r.v) for r in t.read().select("id", "v").collect())
    print("RESULT " + json.dumps(rows), flush=True)
    spark.stop()
    return 0


def _morread(table_path: str) -> int:
    from debezium_emr_hudi_deltastreamer_sample_spark.table import DeltaLogTable

    spark = _spark(f"xproc-read-{os.getpid()}", os.path.dirname(table_path))
    t = DeltaLogTable(spark, table_path, keys=["id"], writer_id=f"ro-{os.getpid()}")
    rows = sorted((r.id, r.v) for r in t.read().select("id", "v").collect())
    print("RESULT " + json.dumps(rows), flush=True)
    spark.stop()
    return 0


def main() -> int:
    mode = sys.argv[1]
    if mode == "pipeline":
        return _pipeline(sys.argv[2], sys.argv[3])
    if mode == "writer":
        return _writer(
            sys.argv[2],
            sys.argv[3],
            sys.argv[4] == "1",
            json.loads(sys.argv[5]),
            int(sys.argv[6]) if len(sys.argv) > 6 else 0,
            float(sys.argv[7]) if len(sys.argv) > 7 else 0.0,
        )
    if mode == "rollup":
        return _rollup(
            sys.argv[2],
            sys.argv[3],
            json.loads(sys.argv[4]),
            int(sys.argv[5]) if len(sys.argv) > 5 else 0,
        )
    if mode == "morwrite":
        return _morwrite(
            sys.argv[2],
            sys.argv[3],
            json.loads(sys.argv[4]),
            int(sys.argv[5]) if len(sys.argv) > 5 else 0,
            int(sys.argv[6]) if len(sys.argv) > 6 else 0,
            int(sys.argv[7]) if len(sys.argv) > 7 else 0,
        )
    if mode == "morcompact":
        return _morcompact(
            sys.argv[2],
            int(sys.argv[3]),
            int(sys.argv[4]) if len(sys.argv) > 4 else 0,
        )
    if mode == "read":
        return _read(sys.argv[2])
    if mode == "morread":
        return _morread(sys.argv[2])
    raise SystemExit(f"unknown mode {mode!r}")


if __name__ == "__main__":
    sys.exit(main())
