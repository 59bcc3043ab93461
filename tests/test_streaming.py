"""Streaming tests (SURVEY.md §5 streaming level): the scripted envelope
sequence is fed as a file-source stream with trigger(availableNow=True) and
the result must equal the batch path on the same data — plus windowed /
stateful operator checks against batch equivalents."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from debezium_emr_hudi_deltastreamer_sample_spark.envelope import parse_envelope
from debezium_emr_hudi_deltastreamer_sample_spark.streaming.pipeline import (
    append_batch_processor,
    cast_value_projection,
    start_pipeline,
    run_until_drained,
    upsert_batch_processor,
)
from debezium_emr_hudi_deltastreamer_sample_spark.streaming.sources import (
    file_envelope_source,
)
from debezium_emr_hudi_deltastreamer_sample_spark.streaming.windows import (
    dedup_stream,
    running_totals,
    session_counts,
    tumbling_counts,
)


def _read_table(spark, path):
    """A KeyedTable's current rows (its data is visible only through
    ``read()``)."""
    from debezium_emr_hudi_deltastreamer_sample_spark.table import KeyedTable

    return KeyedTable(spark, str(path), keys=["id"]).read()


def envelope_record(op, after=None, before=None, lsn=0, offset=0):
    value = json.dumps(
        {
            "payload": {
                "before": before,
                "after": after,
                "source": {"lsn": lsn, "ts_ms": lsn, "table": "employees"},
                "op": op,
                "ts_ms": lsn,
            }
        }
    )
    return {
        "key": None,
        "value": value,
        "topic": "debezium1.public.employees",
        "partition": 0,
        "offset": offset,
        "timestamp": "2024-01-01T00:00:00.000Z",
    }


def row(id_, name, salary):
    return {
        "id": id_,
        "full_name": name,
        "email": f"e{id_}@x.com",
        "phone": "1",
        "department": "IT",
        "salary": salary,
        "created_at": "2024-01-01",
    }


#: Batch 1: insert 1,2,3. Batch 2: update 1, delete 2, insert 4.
BATCH1 = [
    envelope_record("c", after=row(1, "a", 10), lsn=1, offset=0),
    envelope_record("c", after=row(2, "b", 20), lsn=2, offset=1),
    envelope_record("c", after=row(3, "c", 30), lsn=3, offset=2),
]
BATCH2 = [
    envelope_record("u", after=row(1, "a2", 11), lsn=4, offset=3),
    envelope_record("d", before=row(2, "b", 20), lsn=5, offset=4),
    envelope_record("c", after=row(4, "d", 40), lsn=6, offset=5),
]


def write_batches(tmp_path, batches):
    src = tmp_path / "stream_in"
    src.mkdir()
    for i, batch in enumerate(batches):
        # One file per scripted micro-batch (maxFilesPerTrigger=1).
        (src / f"batch_{i}.json").write_text(
            "\n".join(json.dumps(r) for r in batch)
        )
    return str(src)


def test_append_pipeline_stream_equals_batch(spark, tmp_path):
    src = write_batches(tmp_path, [BATCH1, BATCH2])
    out = str(tmp_path / "append_out")
    stream = cast_value_projection(file_envelope_source(spark, src))
    q = start_pipeline(
        stream,
        append_batch_processor(out),
        checkpoint=str(tmp_path / "ckpt"),
        available_now=True,
    )
    run_until_drained(q)

    # ingest_batch is the per-batch idempotence partition — drop it for the
    # content comparison.
    got = spark.read.parquet(out).drop("ingest_batch")
    # Batch path over the same records:
    want = parse_envelope(
        spark.read.json(src).select(F.col("value").cast("string").alias("value"))
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert got.count() == 6  # append log keeps every event incl. the delete


def test_upsert_pipeline_applies_cdc_across_batches(spark, tmp_path):
    src = write_batches(tmp_path, [BATCH1, BATCH2])
    table = str(tmp_path / "table")
    stream = file_envelope_source(spark, src, max_files_per_trigger=1)
    q = start_pipeline(
        cast_value_projection(stream),
        upsert_batch_processor(table, keys=["id"]),
        checkpoint=str(tmp_path / "ckpt2"),
        available_now=True,
    )
    run_until_drained(q)

    final = {
        r.id: (r.full_name, r.salary)
        for r in _read_table(spark, table).collect()
    }
    # Dict replay: 1 updated, 2 deleted, 3 untouched, 4 inserted.
    assert final == {1: ("a2", 11), 3: ("c", 30), 4: ("d", 40)}


def test_upsert_pipeline_restart_resumes_from_checkpoint(spark, tmp_path):
    """Checkpointed offsets (A4/B3): run batch1, stop, add batch2, restart
    with the same checkpoint — batch1 must not re-apply."""
    src = tmp_path / "stream_in"
    src.mkdir()
    (src / "batch_0.json").write_text("\n".join(json.dumps(r) for r in BATCH1))
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt3")

    def run_once():
        stream = file_envelope_source(spark, str(src))
        q = start_pipeline(
            cast_value_projection(stream),
            upsert_batch_processor(table, keys=["id"]),
            checkpoint=ckpt,
            available_now=True,
        )
        run_until_drained(q)

    run_once()
    assert _read_table(spark, table).count() == 3
    (src / "batch_1.json").write_text("\n".join(json.dumps(r) for r in BATCH2))
    run_once()
    final = {r.id: r.full_name for r in _read_table(spark, table).collect()}
    assert final == {1: "a2", 3: "c", 4: "d"}


# ------------------------------------------------------- windowed / stateful


def events_stream_and_batch(spark, tmp_path):
    rows = [
        {"user": "u1", "ts": "2024-01-01T00:00:10", "v": 1.0},
        {"user": "u1", "ts": "2024-01-01T00:00:50", "v": 2.0},
        {"user": "u1", "ts": "2024-01-01T00:02:05", "v": 3.0},
        {"user": "u2", "ts": "2024-01-01T00:01:30", "v": 4.0},
    ]
    src = tmp_path / "events_in"
    src.mkdir()
    (src / "f.json").write_text("\n".join(json.dumps(r) for r in rows))
    schema = "user string, ts timestamp, v double"
    stream = spark.readStream.schema(schema).json(str(src))
    batch = spark.read.schema(schema).json(str(src))
    return stream, batch


def drain_to_memory(df, name, tmp_path, output_mode="update"):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    run_until_drained(q)
    return df.sparkSession.table(name)


def test_tumbling_window_stream_equals_batch(spark, tmp_path):
    stream, batch = events_stream_and_batch(spark, tmp_path)
    # Complete mode: in a bounded availableNow run the watermark never
    # passes the last windows, so append mode would hold them in state
    # forever — complete emits the full result for the equivalence check.
    got = drain_to_memory(
        tumbling_counts(stream, "ts", "1 minute", keys=["user"], watermark="1 minute"),
        "tumbling_t",
        tmp_path,
        output_mode="complete",
    )
    want = tumbling_counts(batch, "ts", "1 minute", keys=["user"])
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_session_window_gap_merges(spark, tmp_path):
    _, batch = events_stream_and_batch(spark, tmp_path)
    out = session_counts(batch, "ts", "1 minute", keys=["user"]).collect()
    by_user = {}
    for r in out:
        by_user.setdefault(r.user, []).append(r.n_events)
    # u1: events at 00:10 and 00:50 merge (40 s gap), 02:05 is its own session.
    assert sorted(by_user["u1"]) == [1, 2]
    assert by_user["u2"] == [1]


def test_stateful_dedup_stream(spark, tmp_path):
    rows = [
        {"k": "a", "ts": "2024-01-01T00:00:01"},
        {"k": "a", "ts": "2024-01-01T00:00:02"},
        {"k": "b", "ts": "2024-01-01T00:00:03"},
    ]
    src = tmp_path / "dedup_in"
    src.mkdir()
    (src / "f.json").write_text("\n".join(json.dumps(r) for r in rows))
    stream = spark.readStream.schema("k string, ts timestamp").json(str(src))
    got = drain_to_memory(
        dedup_stream(stream, ["k"], ts_col="ts"), "dedup_t", tmp_path, "append"
    )
    assert sorted(r.k for r in got.collect()) == ["a", "b"]


def test_running_totals_stateful_equals_batch(spark, tmp_path):
    stream, batch = events_stream_and_batch(spark, tmp_path)
    got = drain_to_memory(running_totals(stream, "user", "v"), "running_t", tmp_path)
    want = running_totals(batch, "user", "v")
    # Final state per key (single availableNow run ⇒ last emit per key).
    got_final = {r.key: (r.events, r.total) for r in got.collect()}
    want_final = {r.key: (r.events, r.total) for r in want.collect()}
    assert got_final == want_final


def test_running_totals_deterministic_across_partitioning(spark, tmp_path):
    """The state kernel accumulates int64 fixed-point, so replaying the same
    input under DIFFERENT micro-batch compositions and shuffle-partition
    counts must emit bit-identical totals (a DOUBLE accumulator can flip
    round(total, 3) on a boundary value when addition order changes)."""
    import random

    rng = random.Random(7)
    src = tmp_path / "det_in"
    src.mkdir()
    # 4 files -> with maxFilesPerTrigger=1 the replay runs 4 micro-batches;
    # values are 3dp-quantized with many .0005-style boundary neighbours.
    for f in range(4):
        rows = [
            {
                "user": f"u{rng.randrange(3)}",
                "ts": f"2024-01-01T00:{f:02d}:{i % 60:02d}",
                "v": round(rng.randrange(1, 2000) / 1000 + 0.0005, 4),
            }
            for i in range(50)
        ]
        (src / f"f{f}.json").write_text(
            "\n".join(json.dumps(r) for r in rows)
        )
    schema = "user string, ts timestamp, v double"
    finals = []
    for shuffle_n in ("3", "8"):
        sess = spark.newSession()
        sess.conf.set("spark.sql.shuffle.partitions", shuffle_n)
        stream = (
            sess.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        name = f"det_totals_{shuffle_n}"
        q = (
            running_totals(stream, "user", "v")
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
            .trigger(availableNow=True)
            .start()
        )
        run_until_drained(q)
        emitted = sess.table(name).collect()
        final = {}
        for r in emitted:
            if r.key not in final or r.events > final[r.key][0]:
                final[r.key] = (r.events, r.total)
        finals.append(final)
    assert finals[0] == finals[1]  # exact float equality, not approx


def test_outer_join_flush_source_handles_directory_fixture(spark, tmp_path):
    """The sentinel-flush source must work when events.parquet is a
    Spark-written DIRECTORY of part files (the synthesized sf1 layout,
    INT96 timestamps) — caught at sf1 in round 4: the helper assumed a
    single pyarrow-compatible file. Result must equal the batch LEFT
    interval join."""
    import datetime

    from debezium_emr_hudi_deltastreamer_sample_spark.queries.streaming import (
        stream_stream_left_join,
    )

    base = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for u in range(4):
        for i in range(6):
            rows.append((eid, base + datetime.timedelta(minutes=10 * i + u), u,
                         "click" if i % 2 == 0 else "purchase", 1.0, None))
            eid += 1
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    sf_dir = tmp_path / "sfdir"
    # Directory fixture: multi-part Spark write (INT96 timestamps).
    ev.repartition(3).write.parquet(str(sf_dir / "events.parquet"))

    got = {
        (r.user_id, r.click_ts, r.purchase_ts)
        for r in stream_stream_left_join(spark, str(sf_dir)).collect()
    }
    clicks = ev.filter("event_type = 'click'").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    purchases = ev.filter("event_type = 'purchase'").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("purchase_ts")
    )
    want = {
        (r.user_id, r.click_ts, r.purchase_ts)
        for r in clicks.join(
            purchases,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (
                F.col("purchase_ts")
                <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")
            ),
            "left_outer",
        ).select("user_id", "click_ts", "purchase_ts").collect()
    }
    assert got == want and got  # non-empty, exact


def test_streaming_dedup_requires_watermark(spark):
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", "1").load()
    )
    with pytest.raises(ValueError):
        dedup_stream(stream, ["value"])


def test_stream_static_join(spark, tmp_path):
    """Stream-static join (SURVEY.md §2.C joins): streaming facts enrich
    against a static dimension without state."""
    stream, batch = events_stream_and_batch(spark, tmp_path)
    dim = spark.createDataFrame(
        [("u1", "gold"), ("u2", "basic")], "user string, tier string"
    )
    got = drain_to_memory(
        stream.join(dim, "user").select("user", "tier", "v"),
        "ss_join_t",
        tmp_path,
        output_mode="append",
    )
    want = batch.join(dim, "user").select("user", "tier", "v")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_stream_stream_join_with_watermarks(spark, tmp_path):
    """Stream-stream inner join: both sides watermarked, time-bounded join
    condition limits state retention."""
    imps = [
        {"ad": "a1", "imp_ts": "2024-01-01T00:00:00"},
        {"ad": "a2", "imp_ts": "2024-01-01T00:05:00"},
    ]
    clicks = [
        {"ad": "a1", "click_ts": "2024-01-01T00:00:30"},
        {"ad": "a2", "click_ts": "2024-01-01T02:00:00"},  # outside the hour bound
    ]
    d1 = tmp_path / "imps"; d1.mkdir()
    d2 = tmp_path / "clicks"; d2.mkdir()
    (d1 / "f.json").write_text("\n".join(json.dumps(r) for r in imps))
    (d2 / "f.json").write_text("\n".join(json.dumps(r) for r in clicks))
    s1 = spark.readStream.schema("ad string, imp_ts timestamp").json(str(d1)).withWatermark("imp_ts", "10 minutes")
    s2 = spark.readStream.schema("ad string, click_ts timestamp").json(str(d2)).withWatermark("click_ts", "10 minutes")
    joined = s1.join(
        s2,
        (s1.ad == s2.ad)
        & (s2.click_ts >= s1.imp_ts)
        & (s2.click_ts <= s1.imp_ts + F.expr("INTERVAL 1 HOUR")),
    ).select(s1.ad, "imp_ts", "click_ts")
    got = drain_to_memory(joined, "ss2_join_t", tmp_path, output_mode="append")
    rows = got.collect()
    assert [r.ad for r in rows] == ["a1"]  # a2's click is beyond the bound


def test_multi_table_topic_routing(spark, tmp_path):
    """One stream, many tables (subscribePattern intent): envelope records
    for two tables ride the same stream and land in their own tables."""
    from pyspark.sql import types as T

    from debezium_emr_hudi_deltastreamer_sample_spark.envelope import EMPLOYEES_SCHEMA
    from debezium_emr_hudi_deltastreamer_sample_spark.streaming.pipeline import (
        routed_upsert_processor,
    )

    dept_schema = T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("dept_name", T.StringType()),
        ]
    )
    emp = envelope_record("c", after=row(1, "a", 10), lsn=1, offset=0)
    dept = envelope_record("c", after={"id": 7, "dept_name": "IT"}, lsn=2, offset=1)
    dept["topic"] = "debezium1.public.departments"
    unknown = envelope_record("c", after=row(9, "z", 9), lsn=3, offset=2)
    unknown["topic"] = "debezium1.public.unregistered"

    src = tmp_path / "multi_in"
    src.mkdir()
    (src / "f.json").write_text("\n".join(json.dumps(r) for r in [emp, dept, unknown]))

    tables = {
        "employees": (str(tmp_path / "t_emp"), ["id"], EMPLOYEES_SCHEMA),
        "departments": (str(tmp_path / "t_dept"), ["id"], dept_schema),
    }
    q = start_pipeline(
        file_envelope_source(spark, str(src)),
        routed_upsert_processor(tables),
        checkpoint=str(tmp_path / "ckpt_multi"),
        available_now=True,
    )
    run_until_drained(q)

    emps = _read_table(spark, str(tmp_path / "t_emp")).collect()
    depts = _read_table(spark, str(tmp_path / "t_dept")).collect()
    assert [(r.id, r.full_name) for r in emps] == [(1, "a")]
    assert [(r.id, r.dept_name) for r in depts] == [(7, "IT")]


def test_incremental_rollup_equals_full_aggregation(spark, tmp_path):
    """Continuous aggregation: folding batches one at a time must equal the
    one-shot aggregate of all events — without ever re-scanning history."""
    from debezium_emr_hudi_deltastreamer_sample_spark.streaming.rollup import (
        IncrementalRollup,
    )

    rows1 = [
        ("a", "2024-01-01T00:00:10", 1.0),
        ("a", "2024-01-01T00:00:40", 2.0),
        ("b", "2024-01-01T00:01:10", 3.0),
    ]
    rows2 = [
        ("a", "2024-01-01T00:00:55", 4.0),  # lands in an existing bucket
        ("b", "2024-01-01T00:03:00", 5.0),  # opens a new bucket
    ]
    def mk(rows):
        return spark.createDataFrame(
            rows, "k string, ts string, v double"
        ).withColumn("ts", F.to_timestamp("ts"))

    roll = IncrementalRollup(
        spark, str(tmp_path / "rollup"), "ts", "1 minute", ["k"], "v"
    )
    roll.apply_batch(mk(rows1), 0)
    roll.apply_batch(mk(rows2), 1)

    got = {
        (r.k, str(r.bucket_start)): (r.n, r.total, r.mean)
        for r in roll.read().collect()
    }
    full = mk(rows1 + rows2)
    want = {
        (r.k, str(r.w["start"])): (r.n, r.total, r.total / r.n)
        for r in full.groupBy(F.window("ts", "1 minute").alias("w"), "k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("total"))
        .collect()
    }
    assert got == want


def test_rollup_as_stream_sink(spark, tmp_path):
    """The rollup processor plugs into foreachBatch like any engine sink."""
    from debezium_emr_hudi_deltastreamer_sample_spark.streaming.rollup import (
        IncrementalRollup,
    )

    stream, batch = events_stream_and_batch(spark, tmp_path)
    roll = IncrementalRollup(
        spark, str(tmp_path / "rollup_s"), "ts", "1 minute", ["user"], "v"
    )
    q = start_pipeline(
        stream,
        roll.processor(),
        checkpoint=str(tmp_path / "ckpt_roll"),
        available_now=True,
    )
    run_until_drained(q)
    got_total = sum(r.total for r in roll.read().collect())
    want_total = batch.agg(F.sum("v")).first()[0]
    assert got_total == want_total


def test_latency_harness_envelopes_roundtrip(spark):
    """The latency harness's synthesized envelopes must parse through the
    real envelope parser (same schema the CDC pipeline consumes)."""
    import datetime

    from debezium_emr_hudi_deltastreamer_sample_spark.envelope import parse_envelope
    from tools.stream_latency import envelopes_from_rate

    fake_rate = spark.createDataFrame(
        [(i, datetime.datetime(2024, 1, 1, 0, 0, i)) for i in range(5)],
        "value long, timestamp timestamp",
    )
    parsed = parse_envelope(envelopes_from_rate(fake_rate, n_keys=3))
    rows = sorted((r._lsn, r.id, r.op, r.full_name) for r in parsed.collect())
    # One change row per rate row; ids cycle mod n_keys, rows past the
    # first key cycle become updates ('u'); lsn carries the rate value.
    assert rows == [
        (0, 0, "c", "name_0"),
        (1, 1, "c", "name_1"),
        (2, 2, "c", "name_2"),
        (3, 0, "u", "name_3"),
        (4, 1, "u", "name_4"),
    ]


from hypothesis import HealthCheck, given, settings, strategies as st

_rollup_event = st.tuples(
    st.sampled_from(["a", "b"]),   # key (few → bucket collisions)
    st.integers(0, 300),           # seconds offset (spans several 1-min buckets)
    st.integers(-5, 5),            # value (ints: exact float sums, no FP flake)
)


@given(
    events=st.lists(_rollup_event, min_size=1, max_size=25),
    cuts=st.lists(st.integers(0, 24), max_size=3),
)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_rollup_property_any_batching(spark, tmp_path_factory, events, cuts):
    """Property: for ANY event sequence and ANY split into append batches,
    folding the batches through IncrementalRollup equals the one-shot
    aggregate — the additivity invariant the operator is built on."""
    import datetime

    from debezium_emr_hudi_deltastreamer_sample_spark.streaming.rollup import (
        IncrementalRollup,
    )

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (k, base + datetime.timedelta(seconds=s), float(v)) for k, s, v in events
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")

    bounds = sorted({0, len(rows), *[min(c, len(rows)) for c in cuts]})
    roll = IncrementalRollup(
        spark,
        str(tmp_path_factory.mktemp("roll")),
        "ts",
        "1 minute",
        ["k"],
        "v",
    )
    slices = list(zip(bounds, bounds[1:]))
    for i, (lo, hi) in enumerate(slices):
        batch = spark.createDataFrame(rows[lo:hi], "k string, ts timestamp, v double")
        roll.apply_batch(batch, i)

    got = {
        (r.k, str(r.bucket_start)): (r.n, r.total, r.vmin, r.vmax)
        for r in roll.read().collect()
    }
    want = {
        (r.k, str(r.w["start"])): (r.n, r.total, r.vmin, r.vmax)
        for r in df.groupBy(F.window("ts", "1 minute").alias("w"), "k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("total"),
            F.min("v").alias("vmin"),
            F.max("v").alias("vmax"),
        )
        .collect()
    }
    assert got == want


def test_kafka_sink_construction_and_projection(spark, tmp_path):
    """kafka_sink configures without a broker; the record projection JSON-
    serializes arbitrary rows into Kafka key/value shape."""
    from debezium_emr_hudi_deltastreamer_sample_spark.streaming.sources import (
        kafka_record_projection,
        kafka_sink,
        rate_source,
    )

    # Projection (batch): non-string rows → JSON value + string key.
    batch = spark.createDataFrame([(1, "a", 2.5)], "id int, name string, v double")
    rec = kafka_record_projection(batch, key_col="id").first()
    assert rec.key == "1"
    assert json.loads(rec.value) == {"id": 1, "name": "a", "v": 2.5}

    # Writer builds against a stream without touching a broker.
    w = kafka_sink(
        rate_source(spark, 1), "broker:9092", "out_topic", str(tmp_path / "ck")
    )
    assert w is not None  # .start() is the caller's broker-dependent step


def test_rollup_replayed_batch_is_skipped(spark, tmp_path):
    """foreachBatch is at-least-once: replaying an already-applied batch_id
    must not double-count (the additive merge would otherwise)."""
    import datetime

    from debezium_emr_hudi_deltastreamer_sample_spark.streaming.rollup import (
        IncrementalRollup,
    )

    roll = IncrementalRollup(
        spark, str(tmp_path / "r"), "ts", "1 minute", ["k"], "v"
    )
    df = spark.createDataFrame(
        [("a", datetime.datetime(2024, 1, 1), 2.0)],
        "k string, ts timestamp, v double",
    )
    roll.apply_batch(df, 0)
    roll.apply_batch(df, 0)  # replay of the same micro-batch
    roll.apply_batch(df, 1)  # genuinely new batch
    [r] = roll.read().collect()
    assert (r.n, r.total) == (2, 4.0)
    assert roll.last_applied_batch() == 1


def test_rollup_heals_nested_crash_garbage(spark, tmp_path):
    """A writer dying between rename_commit's move-INTO rename and its
    undo delete nests its staged uuid dir inside the winner's commit —
    the listing path must heal it (commits are flat by protocol) so later
    reads/merges don't hit conflicting directory structures."""
    import datetime
    import os

    from debezium_emr_hudi_deltastreamer_sample_spark.streaming.rollup import (
        IncrementalRollup,
    )

    roll = IncrementalRollup(
        spark, str(tmp_path / "rh"), "ts", "1 minute", ["k"], "v"
    )
    df = spark.createDataFrame(
        [("a", datetime.datetime(2024, 1, 1), 2.0)],
        "k string, ts timestamp, v double",
    )
    roll.apply_batch(df, 0)
    # Simulate the torn undo: a foreign staged dir (with a parquet-looking
    # file) nested inside the committed dir. Resolve the commit's CONTENT
    # dir through the protocol (under the pointer protocol the dir-listing
    # member is a pointer FILE; the content lives in __stage).
    import pathlib

    [commit] = roll._log.entries()
    uri = commit.uri
    garbage = pathlib.Path(uri.removeprefix("file:")) / "deadbeefcafe"
    garbage.mkdir()
    (garbage / "part-00000.parquet").write_bytes(b"not a parquet file")
    # Next batch lists commits (healing), merges, and the final read works.
    roll.apply_batch(df, 1)
    assert not garbage.exists()
    [r] = roll.read().collect()
    assert (r.n, r.total) == (2, 4.0)


def test_snapshot_timeline_heals_nested_crash_garbage(spark, tmp_path):
    """Same torn-undo garbage in a KeyedTable snapshot commit: snapshots()
    heals it and time travel still reads the snapshot."""
    from debezium_emr_hudi_deltastreamer_sample_spark.table import KeyedTable

    t = KeyedTable(
        spark,
        str(tmp_path / "kt"),
        keys=["id"],
        ordering=["_lsn"],
        op_col=None,
        keep_history=3,
    )
    df = spark.createDataFrame([(1, "a", 1)], "id int, val string, _lsn long")
    t.upsert(df)
    snaps = t.snapshots()
    assert snaps
    # Resolve through the protocol: under the pointer protocol the commit
    # content lives beside the version's data, not under the commit name.
    import pathlib

    commit_dir = pathlib.Path(snaps[-1][1].removeprefix("file:"))
    garbage = commit_dir / "deadbeefcafe"
    garbage.mkdir()
    (garbage / "part-00000.parquet").write_bytes(b"junk")
    snaps2 = t.snapshots()  # the listing heals
    assert not garbage.exists()
    assert [r.id for r in t.read(as_of=snaps2[-1][0]).collect()] == [1]


def test_rollup_new_run_not_skipped(spark, tmp_path):
    """Batch-id dedup is scoped per run: a fresh checkpoint restarts ids at
    0, which must NOT be silently dropped because an earlier run reached a
    higher id — only replays within the same run are skipped."""
    import datetime

    from debezium_emr_hudi_deltastreamer_sample_spark.streaming.rollup import (
        IncrementalRollup,
    )

    roll = IncrementalRollup(
        spark, str(tmp_path / "r2"), "ts", "1 minute", ["k"], "v"
    )
    df = spark.createDataFrame(
        [("a", datetime.datetime(2024, 1, 1), 2.0)],
        "k string, ts timestamp, v double",
    )
    roll.apply_batch(df, 0, run_id="ckpt-a")
    roll.apply_batch(df, 1, run_id="ckpt-a")
    roll.apply_batch(df, 0, run_id="ckpt-b")  # new run, folds in
    roll.apply_batch(df, 0, run_id="ckpt-b")  # replay within run-b, skipped
    [r] = roll.read().collect()
    assert (r.n, r.total) == (3, 6.0)
    assert roll.last_applied_batch("ckpt-a") == 1
    assert roll.last_applied_batch("ckpt-b") == 0


def test_rollup_run_id_sanitization_no_collision(spark, tmp_path):
    """Regression (round-4 review finding): '/ckpt/a_1' and '/ckpt/a-1'
    both sanitize to '-ckpt-a-1'; without disambiguation they would share
    one batch-id dedup scope and the second run's batches would be
    silently skipped. Both runs must apply."""
    import datetime

    from debezium_emr_hudi_deltastreamer_sample_spark.streaming.rollup import (
        IncrementalRollup,
    )

    roll = IncrementalRollup(
        spark, str(tmp_path / "rc"), "ts", "1 minute", ["k"], "v"
    )
    df = spark.createDataFrame(
        [("a", datetime.datetime(2024, 1, 1), 2.0)],
        "k string, ts timestamp, v double",
    )
    roll.apply_batch(df, 5, run_id="/ckpt/a_1")
    roll.apply_batch(df, 0, run_id="/ckpt/a-1")  # would be skipped pre-fix
    [r] = roll.read().collect()
    assert (r.n, r.total) == (2, 4.0)
    assert roll.last_applied_batch("/ckpt/a_1") == 5
    assert roll.last_applied_batch("/ckpt/a-1") == 0


def test_rollup_null_values_mean_semantics(spark, tmp_path):
    """Regression (round-4 review finding): n must count NON-NULL values
    (like total/vmin/vmax do) so the derived mean equals avg(value); a
    count(*) n under-reported every null-bearing group's mean."""
    import datetime

    from debezium_emr_hudi_deltastreamer_sample_spark.streaming.rollup import (
        IncrementalRollup,
    )

    roll = IncrementalRollup(
        spark, str(tmp_path / "rn"), "ts", "1 minute", ["k"], "v"
    )
    df = spark.createDataFrame(
        [
            ("a", datetime.datetime(2024, 1, 1), 10.0),
            ("a", datetime.datetime(2024, 1, 1), None),
        ],
        "k string, ts timestamp, v double",
    )
    roll.apply_batch(df, 0)
    [r] = roll.read().collect()
    assert (r.n, r.total) == (1, 10.0)  # mean = 10.0 = avg(v)


def test_rollup_two_interleaved_runs_no_double_count(spark, tmp_path):
    """Two concurrent stream runs (distinct checkpoints) fold into ONE
    rollup with keep_commits=2 — the retention hazard: trimming run A's
    newest commit while run B commits would erase A's applied-batch
    high-water-mark, letting A's at-least-once replay double-count its
    last batch. Interleave commits from both runs, then replay EVERY
    batch of both runs; all replays must be skipped."""
    import datetime

    from debezium_emr_hudi_deltastreamer_sample_spark.streaming.rollup import (
        IncrementalRollup,
    )

    roll = IncrementalRollup(
        spark, str(tmp_path / "r3"), "ts", "1 minute", ["k"], "v",
        keep_commits=2,
    )
    df = spark.createDataFrame(
        [("a", datetime.datetime(2024, 1, 1), 2.0)],
        "k string, ts timestamp, v double",
    )
    # Interleaved first application: 4 distinct (run, batch) pairs.
    roll.apply_batch(df, 0, run_id="ckpt-a")
    roll.apply_batch(df, 0, run_id="ckpt-b")
    roll.apply_batch(df, 1, run_id="ckpt-a")
    roll.apply_batch(df, 1, run_id="ckpt-b")
    # At-least-once replays of every batch, in shuffled order — retention
    # must have preserved each run's high-water-mark so all are no-ops.
    for run, b in (("ckpt-a", 0), ("ckpt-b", 1), ("ckpt-a", 1), ("ckpt-b", 0)):
        roll.apply_batch(df, b, run_id=run)
    [r] = roll.read().collect()
    assert (r.n, r.total) == (4, 8.0)
    assert roll.last_applied_batch("ckpt-a") == 1
    assert roll.last_applied_batch("ckpt-b") == 1


def test_append_replayed_batch_not_duplicated(spark, tmp_path):
    """Replaying a micro-batch through the append sink must overwrite its
    own ingest_batch directory, not append a second copy."""
    out = str(tmp_path / "app_idem")
    proc = append_batch_processor(out)
    batch = spark.createDataFrame(
        [(envelope_record("c", after=row(1, "a", 10), lsn=1)["value"],)],
        "value string",
    )
    proc(batch, 0)
    proc(batch, 0)  # at-least-once replay
    assert spark.read.parquet(out).count() == 1


def test_rollup_stream_restart_no_double_count(spark, tmp_path):
    """Rollup + checkpointed stream across a restart: batch ids continue
    monotonically, already-applied data is not re-folded, new data is."""
    from debezium_emr_hudi_deltastreamer_sample_spark.streaming.rollup import (
        IncrementalRollup,
    )

    src = tmp_path / "roll_src"
    src.mkdir()
    (src / "f0.json").write_text(
        '{"k": "a", "ts": "2024-01-01T00:00:10", "v": 1.0}\n'
        '{"k": "a", "ts": "2024-01-01T00:00:20", "v": 2.0}'
    )
    roll = IncrementalRollup(
        spark, str(tmp_path / "roll_out"), "ts", "1 minute", ["k"], "v"
    )
    ckpt = str(tmp_path / "roll_ckpt")

    def run_once():
        stream = spark.readStream.schema("k string, ts timestamp, v double").json(
            str(src)
        )
        q = start_pipeline(
            stream, roll.processor(), checkpoint=ckpt, available_now=True
        )
        run_until_drained(q)

    run_once()
    assert {(r.k, r.n, r.total) for r in roll.read().collect()} == {("a", 2, 3.0)}
    # Restart with no new data: nothing re-applies.
    run_once()
    assert {(r.k, r.n, r.total) for r in roll.read().collect()} == {("a", 2, 3.0)}
    # New file, restart: only the new rows fold in.
    (src / "f1.json").write_text('{"k": "a", "ts": "2024-01-01T00:00:40", "v": 4.0}')
    run_once()
    assert {(r.k, r.n, r.total) for r in roll.read().collect()} == {("a", 3, 7.0)}


def test_rollup_reaggregate_matches_direct_coarse(spark, tmp_path):
    """Hierarchical rollup: the day-grain rollup derived from stored
    hour partials must equal aggregating the raw events at day grain —
    the additive-merge property across resolutions."""
    import datetime

    from debezium_emr_hudi_deltastreamer_sample_spark.streaming.rollup import (
        IncrementalRollup,
    )

    base = datetime.datetime(2024, 1, 1)
    rows = [
        ("a", base + datetime.timedelta(hours=h, minutes=7), float(h % 5))
        for h in range(50)
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    roll = IncrementalRollup(
        spark, str(tmp_path / "r2l"), "ts", "1 hour", ["k"], "v"
    )
    roll.apply_batch(df.filter("v < 2"), 0)
    roll.apply_batch(df.filter("v >= 2"), 1)
    got = {
        (r.k, str(r.bucket_start)): (r.n, r.total, r.vmin, r.vmax)
        for r in roll.reaggregate("1 day").collect()
    }
    want = {
        (r.k, str(r.w["start"])): (r.n, r.total, r.vmin, r.vmax)
        for r in df.groupBy(F.window("ts", "1 day").alias("w"), "k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("total"),
            F.min("v").alias("vmin"),
            F.max("v").alias("vmax"),
        )
        .collect()
    }
    assert got == want


def test_transform_with_state_gated_cleanly(spark):
    """No protobuf package in this container: the state-v2 probe reports
    it and the transformWithState builder refuses with a clear message
    instead of crashing the streaming Python runner at init."""
    from debezium_emr_hudi_deltastreamer_sample_spark.streaming.windows import (
        running_totals_tws,
        transform_with_state_available,
    )

    assert transform_with_state_available() is False
    stream = spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    with pytest.raises(RuntimeError, match="protobuf"):
        running_totals_tws(stream, "value", "value")


def test_rollup_crash_before_publish_is_invisible_and_recoverable(spark, tmp_path):
    """Crash-safety of the commit protocol: a batch that staged its output
    but died BEFORE the publish rename must (1) be invisible to readers,
    (2) not count as applied, and (3) apply cleanly on replay."""
    import datetime
    import uuid as _uuid

    from debezium_emr_hudi_deltastreamer_sample_spark.streaming.rollup import (
        IncrementalRollup,
    )

    path = str(tmp_path / "rc")
    roll = IncrementalRollup(spark, path, "ts", "1 minute", ["k"], "v")
    df = spark.createDataFrame(
        [("a", datetime.datetime(2024, 1, 1), 2.0)],
        "k string, ts timestamp, v double",
    )
    roll.apply_batch(df, 0)

    # Simulate a crashed batch 1: stage the merged output exactly where
    # apply_batch stages it, then "die" (no rename into __commits).
    stage = f"{path}__stage/{_uuid.uuid4().hex}"
    roll._partials(df).write.mode("overwrite").parquet(stage)

    [r] = roll.read().collect()
    assert (r.n, r.total) == (1, 2.0)          # staged data invisible
    assert roll.last_applied_batch() == 0      # batch 1 not recorded

    roll.apply_batch(df, 1)                    # replay of the dead batch
    [r] = roll.read().collect()
    assert (r.n, r.total) == (2, 4.0)          # applied exactly once
    assert roll.last_applied_batch() == 1


def test_stream_replay_never_leaks_confs_to_parent_session(spark, sf_tiny):
    """Streaming replays pin their tiny state-store fan-out (8) on an
    isolated newSession child. A batch workload sharing the caller's
    session must never observe that pin: sample the parent's
    shuffle-partition conf concurrently throughout a replay and require
    every sample to equal the sentinel set before the replay started."""
    import threading

    from debezium_emr_hudi_deltastreamer_sample_spark.queries.streaming import (
        stream_tumbling_counts,
    )

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "13")
    samples, stop = [], threading.Event()

    def probe():
        while not stop.is_set():
            samples.append(spark.conf.get("spark.sql.shuffle.partitions"))

    t = threading.Thread(target=probe, daemon=True)
    t.start()
    try:
        rows = stream_tumbling_counts(spark, sf_tiny).collect()
    finally:
        stop.set()
        t.join(timeout=30)
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert rows
    assert samples and set(samples) == {"13"}


def test_mor_pipeline_restart_and_replay_idempotent(spark, tmp_path):
    """MOR streaming ingest (mor_batch_processor → DeltaLogTable) under
    checkpointed restart: batch1 must not re-apply after restart, the
    merge-on-read snapshot must equal the COW-equivalent final state, and
    a forced REPLAY of an already-landed batch id must be a no-op
    (overwrite-own-directory idempotency)."""
    from debezium_emr_hudi_deltastreamer_sample_spark.streaming.pipeline import mor_batch_processor
    from debezium_emr_hudi_deltastreamer_sample_spark.table import DeltaLogTable

    src = tmp_path / "stream_in"
    src.mkdir()
    (src / "batch_0.json").write_text("\n".join(json.dumps(r) for r in BATCH1))
    table = str(tmp_path / "mor_table")
    ckpt = str(tmp_path / "mor_ckpt")

    def run_once():
        q = start_pipeline(
            cast_value_projection(file_envelope_source(spark, str(src))),
            mor_batch_processor(table, keys=["id"]),
            checkpoint=ckpt,
            available_now=True,
        )
        run_until_drained(q)

    t = DeltaLogTable(spark, table, keys=["id"])
    run_once()
    assert {r.id for r in t.read().collect()} == {1, 2, 3}
    (src / "batch_1.json").write_text("\n".join(json.dumps(r) for r in BATCH2))
    run_once()
    final = {r.id: r.full_name for r in t.read().collect()}
    assert final == {1: "a2", 3: "c", 4: "d"}
    # Replay the last delta batch id with the same changes: idempotent.
    # (Materialize first — a real replay arrives from the SOURCE, not from
    # the delta directory the append is about to overwrite.) A replay is
    # the PIPELINE re-delivering, so it writes under the pipeline's
    # checkpoint-derived lease identity (round 11) — an ad-hoc writer id
    # on a pipeline-owned table is correctly fenced now (see
    # test_cross_process.py).
    from debezium_emr_hudi_deltastreamer_sample_spark.streaming.pipeline import (
        checkpoint_writer_id,
    )

    replayer = DeltaLogTable(
        spark, table, keys=["id"], writer_id=checkpoint_writer_id(ckpt)
    )
    batches = replayer.delta_batches()
    replay = spark.read.parquet(
        f"{table}/delta/ingest_batch={batches[-1]}"
    ).localCheckpoint(eager=True)
    replayer.append_changes(replay, batches[-1])
    assert {r.id: r.full_name for r in replayer.read().collect()} == final
    # The ad-hoc reader keeps working (reads are never lease-gated); an
    # ad-hoc WRITE on the pipeline-owned table raises.
    from debezium_emr_hudi_deltastreamer_sample_spark.table import (
        ConcurrentWriterError,
    )

    with pytest.raises(ConcurrentWriterError):
        t.append_changes(replay, batches[-1] + 1)


def test_python_stream_source_paces_and_restarts(spark, tmp_path):
    """ChangefeedStreamReader: multi-batch pacing (batch_rows per
    trigger), exact content through the streaming engine, and
    restart-at-checkpointed-offset semantics (a second run on the same
    checkpoint appends nothing). Parquet sink — the memory sink refuses
    checkpoint recovery."""
    import time

    from debezium_emr_hudi_deltastreamer_sample_spark.sources.pydatasource import (
        ChangefeedDataSource,
        row_at,
    )

    from debezium_emr_hudi_deltastreamer_sample_spark.sources.pydatasource import register_changefeed
    register_changefeed(spark)
    ckpt = str(tmp_path / "pyds_ckpt")
    out = str(tmp_path / "pyds_out")
    total = 900

    def count_out():
        try:
            return spark.read.parquet(out).count()
        except Exception:
            return 0

    def run(expect_rows):
        q = (
            spark.readStream.format("changefeed")
            .option("rows", str(total))
            .option("batch_rows", "250")
            .option("partitions", "3")
            .option("cursor_dir", str(tmp_path / "pyds_cursor"))
            .load()
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 seconds")
            .start()
        )
        try:
            deadline = time.time() + 90
            while time.time() < deadline and count_out() < expect_rows:
                time.sleep(0.3)
            time.sleep(4.0)  # settle: several more triggers must add nothing
        finally:
            q.stop()

    run(total)
    got = {(r.op, r.lsn, r.key, r.amount) for r in spark.read.parquet(out).collect()}
    assert got == {row_at(i) for i in range(total)}
    # 250-row windows over 900 rows forced >= 4 micro-batch commits.
    commits = [
        p for p in (tmp_path / "pyds_ckpt" / "commits").iterdir()
        if p.name.isdigit()
    ]
    assert len(commits) >= 4
    # Restart on the same checkpoint: offsets are at the end; nothing re-read.
    run(total)
    assert spark.read.parquet(out).count() == total


def test_avrolog_stream_sink_replay_idempotent(spark, tmp_path):
    """The avrolog streaming sink's batch-id commit protocol: a replayed
    micro-batch id REPLACES its own part files (no duplication), and
    distinct batch ids coexist."""
    import os

    from pyspark.sql import Row
    from debezium_emr_hudi_deltastreamer_sample_spark.sources.pydatasource import (
        AvroLogDataSource,
    )

    path = str(tmp_path / "slog")
    os.makedirs(path)
    ds = AvroLogDataSource({"path": path, "ddl": "id bigint, v double"})
    w = ds.streamWriter("id bigint, v double", overwrite=False)

    m = w.write(iter([Row(id=1, v=1.0), Row(id=2, v=2.0)]))
    w.commit([m], batchId=7)
    m2 = w.write(iter([Row(id=3, v=3.0)]))
    w.commit([m2], batchId=8)
    # Replay batch 7 with the same content: replaces, never duplicates.
    m3 = w.write(iter([Row(id=1, v=1.0), Row(id=2, v=2.0)]))
    w.commit([m3], batchId=7)

    r = ds.reader("id bigint, v double")
    got = sorted(row for p in r.partitions() for row in r.read(p))
    assert got == [(1, 1.0), (2, 2.0), (3, 3.0)]
    names = sorted(os.listdir(path))
    assert [n.split("-")[1] for n in names] == ["b000000000007", "b000000000008"]


def test_scd2_fold_replay_idempotent(spark, tmp_path):
    """At-least-once delivery: re-applying an already-folded batch must
    leave the SCD2 table bit-identical — the monotone-feed replay guard
    (rows at/before the open version start are dropped; the surviving
    tail is suppressed as a cross-batch no-op)."""
    import datetime as dt

    from debezium_emr_hudi_deltastreamer_sample_spark.streaming.pipeline import (
        scd2_batch_processor,
    )

    t0 = dt.datetime(2024, 1, 1)

    def ev(eid, uid, minutes, typ):
        return (eid, t0 + dt.timedelta(minutes=minutes), uid, typ)

    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string"
    b1 = spark.createDataFrame(
        [ev(1, 1, 0, "view"), ev(2, 1, 5, "view"), ev(3, 1, 10, "click"),
         ev(4, 2, 0, "view")],
        schema,
    )
    # b2 overlaps b1's tail (ids 3,4 replayed) then advances.
    b2 = spark.createDataFrame(
        [ev(3, 1, 10, "click"), ev(4, 2, 0, "view"),
         ev(5, 1, 20, "click"), ev(6, 1, 25, "buy"), ev(7, 2, 30, "click")],
        schema,
    )
    path = str(tmp_path / "scd2")
    proc = scd2_batch_processor(path)
    proc(b1, 0)
    after_b1 = sorted(map(tuple, _read_table(spark, path).collect()))
    proc(b1, 0)  # full replay of batch 1 — must be a no-op
    assert sorted(map(tuple, _read_table(spark, path).collect())) == after_b1

    proc(b2, 1)
    after_b2 = sorted(map(tuple, _read_table(spark, path).collect()))
    proc(b2, 1)  # replay of batch 2 — no-op again
    got = sorted(map(tuple, _read_table(spark, path).collect()))
    assert got == after_b2

    # Version stream: user 1 view→click→buy (click at id 3 not re-opened
    # by the id-5 click within b2 — suppressed as a no-op), user 2
    # view→click.
    rows = _read_table(spark, path).orderBy("user_id", "valid_from").collect()
    u1 = [(r.event_type, r.is_current) for r in rows if r.user_id == 1]
    u2 = [(r.event_type, r.is_current) for r in rows if r.user_id == 2]
    assert u1 == [("view", False), ("click", False), ("buy", True)]
    assert u2 == [("view", False), ("click", True)]

    # A key FIRST seen after batch 1: its NULL open-version attributes
    # must not trip the cross-batch no-op filter (three-valued logic —
    # the eqNullSafe regression the review caught); both its versions
    # survive.
    b3 = spark.createDataFrame([ev(8, 3, 40, "view"), ev(9, 3, 45, "buy")], schema)
    proc(b3, 2)
    u3 = [
        (r.event_type, r.is_current)
        for r in _read_table(spark, path).orderBy("valid_from").collect()
        if r.user_id == 3
    ]
    assert u3 == [("view", False), ("buy", True)]


def test_scd2_fold_adopts_a_plain_parquet_history(spark, tmp_path):
    """A history written as plain parquet at the path (by an earlier
    writer, before the table had versions) is the fold's base: the next
    batch closes its open version and appends, and no row of the old
    history is lost."""
    import datetime as dt

    from debezium_emr_hudi_deltastreamer_sample_spark.streaming.pipeline import (
        scd2_batch_processor,
    )

    t0 = dt.datetime(2024, 1, 1)
    at = lambda m: t0 + dt.timedelta(minutes=m)  # noqa: E731
    path = str(tmp_path / "scd2")
    spark.createDataFrame(
        [(1, "view", at(0), 1, at(5), False), (1, "click", at(5), 2, None, True),
         (2, "view", at(0), 3, None, True)],
        "user_id bigint, event_type string, valid_from timestamp, "
        "valid_from_id bigint, valid_to timestamp, is_current boolean",
    ).write.parquet(path)
    batch = spark.createDataFrame(
        [(4, at(10), 1, "buy"), (5, at(10), 2, "view")],
        "event_id bigint, ts timestamp, user_id bigint, event_type string",
    )
    scd2_batch_processor(path)(batch, 0)
    got = sorted(
        (r.user_id, r.event_type, r.valid_from_id, r.valid_to, r.is_current)
        for r in _read_table(spark, path).collect()
    )
    assert got == [
        (1, "buy", 4, None, True),
        (1, "click", 2, at(10), False),
        (1, "view", 1, at(5), False),
        (2, "view", 3, None, True),  # user 2's view is a no-op: suppressed
    ]


def test_scd2_stream_restart_resumes_from_checkpoint(spark, tmp_path):
    """Checkpointed SCD2 maintenance across process restarts: fold batch 1,
    stop, add batch 2, restart on the SAME checkpoint — batch 1 must not
    re-fold (offsets) and the final dimension must equal folding both
    batches in one run."""
    import datetime as dt
    import json as _json

    from debezium_emr_hudi_deltastreamer_sample_spark.streaming.pipeline import (
        scd2_batch_processor,
        start_pipeline,
        run_until_drained,
    )

    src = tmp_path / "scd2_in"
    src.mkdir()
    t0 = dt.datetime(2024, 1, 1)

    def rec(eid, uid, minutes, typ):
        return {
            "event_id": eid,
            "ts_us": int((t0 + dt.timedelta(minutes=minutes)).timestamp() * 1_000_000),
            "user_id": uid,
            "event_type": typ,
        }

    b1 = [rec(1, 1, 0, "view"), rec(2, 1, 10, "click"), rec(3, 2, 5, "view")]
    b2 = [rec(4, 1, 20, "buy"), rec(5, 2, 25, "view"), rec(6, 3, 30, "click")]
    (src / "b0.json").write_text("\n".join(_json.dumps(r) for r in b1))
    table = str(tmp_path / "scd2_table")
    ckpt = str(tmp_path / "scd2_ckpt")

    def run_once():
        from pyspark.sql import functions as F

        stream = (
            spark.readStream.schema(
                "event_id bigint, ts_us bigint, user_id bigint, event_type string"
            )
            .option("maxFilesPerTrigger", "1")
            .json(str(src))
            .withColumn("ts", F.timestamp_micros("ts_us"))
            .drop("ts_us")
        )
        q = start_pipeline(
            stream, scd2_batch_processor(table), checkpoint=ckpt, available_now=True
        )
        run_until_drained(q)

    run_once()
    assert _read_table(spark, table).count() == 3  # view, click, view
    (src / "b1.json").write_text("\n".join(_json.dumps(r) for r in b2))
    run_once()
    rows = _read_table(spark, table).collect()
    versions = sorted(
        (r.user_id, r.event_type, r.is_current) for r in rows
    )
    # u1 view→click→buy; u2 one open view (batch-2 view is a no-op);
    # u3 first seen in batch 2 with one open click.
    assert versions == [
        (1, "buy", True),
        (1, "click", False),
        (1, "view", False),
        (2, "view", True),
        (3, "click", True),
    ]


def test_join_view_stream_restart_resumes_from_checkpoint(spark, tmp_path):
    """IncrementalJoinView driven from a checkpointed foreachBatch stream
    across a restart: batch 1 lands, the stream stops, batch 2 appears,
    the SAME checkpoint resumes — batch 1 must NOT re-deliver (a replayed
    earlier batch would regress the latest-wins fact merge, so a correct
    final view here pins checkpoint offset resumption, not just merge
    semantics) and the view must track the final fact state with dim
    columns joined in."""
    from debezium_emr_hudi_deltastreamer_sample_spark.streaming.ivm import IncrementalJoinView
    from debezium_emr_hudi_deltastreamer_sample_spark.streaming.pipeline import EMPLOYEES_SCHEMA

    src = tmp_path / "stream_in"
    src.mkdir()
    (src / "batch_0.json").write_text("\n".join(json.dumps(r) for r in BATCH1))
    ckpt = str(tmp_path / "ivm_ckpt")
    view = IncrementalJoinView(
        spark, str(tmp_path / "ivm"), fact_keys=["id"],
        fk="department", dim_key="dept", how="left",
    )
    view.apply_dim_batch(
        spark.createDataFrame(
            [("IT", "Info Tech", "u", 1)],
            "dept string, label string, op string, _lsn long",
        )
    )

    def process(df, batch_id):
        changes = parse_envelope(df, EMPLOYEES_SCHEMA)
        if changes.head(1):
            view.apply_fact_batch(changes)

    def run_once():
        q = start_pipeline(
            cast_value_projection(file_envelope_source(spark, str(src))),
            process,
            checkpoint=ckpt,
            available_now=True,
        )
        run_until_drained(q)

    run_once()
    assert {r.id: (r.full_name, r.label) for r in view.read().collect()} == {
        1: ("a", "Info Tech"), 2: ("b", "Info Tech"), 3: ("c", "Info Tech"),
    }
    (src / "batch_1.json").write_text("\n".join(json.dumps(r) for r in BATCH2))
    run_once()
    assert {r.id: (r.full_name, r.label) for r in view.read().collect()} == {
        1: ("a2", "Info Tech"), 3: ("c", "Info Tech"), 4: ("d", "Info Tech"),
    }


def test_scd2_null_attr_versions(spark, tmp_path):
    """Round-6 review fixes for SCD2 three-valued logic: (1) a key FIRST
    seen with a NULL attr while history exists for other keys must still
    get a version (eqNullSafe(NULL, NULL) had suppressed it, diverging
    from the first-ever-batch branch on identical input); (2) a real
    b→NULL transition is a change (attr != _prev evaluated NULL and was
    dropped); (3) NULL→NULL mints no spurious version."""
    import datetime as dt

    from debezium_emr_hudi_deltastreamer_sample_spark.streaming.pipeline import (
        scd2_batch_processor,
    )

    t0 = dt.datetime(2024, 1, 1)
    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string"

    def ev(eid, uid, minutes, typ):
        return (eid, t0 + dt.timedelta(minutes=minutes), uid, typ)

    path = str(tmp_path / "scd2null")
    proc = scd2_batch_processor(path)
    # Batch 0 establishes history for key 1 only.
    proc(spark.createDataFrame([ev(1, 1, 0, "view")], schema), 0)
    # Batch 1: key 2 first appears with NULL attr (twice — the second NULL
    # is not a change), then transitions NULL→"click"; key 1 transitions
    # "view"→NULL.
    proc(
        spark.createDataFrame(
            [ev(2, 2, 1, None), ev(3, 2, 2, None), ev(4, 2, 3, "click"),
             ev(5, 1, 4, None)],
            schema,
        ),
        1,
    )
    rows = _read_table(spark, path).collect()
    by_key = {}
    for r in rows:
        by_key.setdefault(r.user_id, []).append(r)
    k2 = sorted(by_key[2], key=lambda r: r.valid_from_id)
    assert [r.event_type for r in k2] == [None, "click"]  # no NULL→NULL dupe
    assert k2[0].is_current is False and k2[1].is_current is True
    k1 = sorted(by_key[1], key=lambda r: r.valid_from_id)
    assert [r.event_type for r in k1] == ["view", None]  # b→NULL detected
    assert k1[1].is_current is True


def test_rollup_tip_without_manifest_raises(spark, tmp_path):
    """Every rollup commit publishes its applied-batch manifest, so a tip
    without one is an error that names it: the rollup neither guesses
    which batches it holds nor applies on top of it."""
    import pytest
    from pyspark.sql import functions as F

    from debezium_emr_hudi_deltastreamer_sample_spark.streaming.rollup import (
        IncrementalRollup,
    )

    def mk(v):
        return spark.createDataFrame(
            [("a", "2024-01-01 00:00:05", v)], "k string, ts string, v double"
        ).withColumn("ts", F.to_timestamp("ts"))

    roll = IncrementalRollup(spark, str(tmp_path / "roll"), "ts", "1 minute", ["k"], "v")
    roll.apply_batch(mk(1.0), 0)
    roll.apply_batch(mk(2.0), 1)
    tip = roll._log.entries()[-1]
    fs, hpath = roll._hadoop()
    fs.delete(hpath(f"{tip.uri}/_applied.json"), False)
    with pytest.raises(RuntimeError, match=tip.name):
        roll.last_applied_batch()
    with pytest.raises(RuntimeError, match=tip.name):
        roll.apply_batch(mk(4.0), 2)
    with pytest.raises(RuntimeError, match=tip.name):
        roll.read()
    assert roll._log.entries()[-1].name == tip.name


def test_rollup_seq_only_cas_and_legacy_names(spark, tmp_path):
    """Round-6 review fix for the rollup commit CAS: commit names are
    seq-only (two writers at the same seq MUST collide on the name,
    whatever batch/run they carry) with the applied-batch manifest inside
    the commit. A same-seq squatter forces the retry path and no batch is
    lost."""
    import json

    from pyspark.sql import functions as F

    from debezium_emr_hudi_deltastreamer_sample_spark.streaming.rollup import (
        IncrementalRollup,
    )

    def mk(rows):
        return spark.createDataFrame(
            rows, "k string, ts string, v double"
        ).withColumn("ts", F.to_timestamp("ts"))

    path = str(tmp_path / "roll")
    roll = IncrementalRollup(spark, path, "ts", "1 minute", ["k"], "v")
    roll.apply_batch(mk([("a", "2024-01-01 00:00:05", 1.0)]), 0, run_id="r1")
    commits = roll._log.entries()
    # The commit NAME is seq-only under both protocols (the content uri is
    # the name itself under rename, a staged uuid dir under pointer).
    assert [c.name for c in commits] == ["c000000000000"]
    assert roll._state() == (commits[0].uri, {"r1": 0})

    # Simulate a concurrent writer landing at the NEXT seq first: squat
    # the seq-1 name, apply a batch (must retry past the squat), then
    # remove the squat and verify the real commit carries BOTH batches.
    fs, hpath = roll._hadoop()
    squat = f"{roll._commits_dir()}/c000000000001"
    # The racing writer's commit: batch 99 of another run, folded onto the
    # same tip — real parquet content, as a genuine winner would publish.
    squat_rows = spark.read.parquet(commits[0].uri).unionByName(
        roll._partials(mk([("b", "2024-01-01 00:01:10", 5.0)]))
    )
    squat_rows.write.parquet(squat)
    with open(f"{squat}/_applied.json", "w") as f:
        json.dump({"r1": 0, "other": 99}, f)
    roll.apply_batch(mk([("a", "2024-01-01 00:00:30", 2.0)]), 1, run_id="r1")
    # The loser retried past the squat: BOTH its batch and the racing
    # writer's rows are in the new tip — nothing lost.
    got = {r.k: (r.n, r.total) for r in roll.read().collect()}
    assert got == {"a": (2, 3.0), "b": (1, 5.0)}
    assert roll._log.entries()[-1].seq == 2
    # The new tip's manifest carries the squat's runs forward.
    assert roll._state()[1] == {"r1": 1, "other": 99}
    fs.delete(hpath(squat), True)

    # Reserved partials-schema names are refused at the boundary.
    import pytest

    with pytest.raises(ValueError, match="partials schema"):
        IncrementalRollup(spark, path, "ts", "1 minute", ["n"], "v")


def test_tws_provider_gate(spark, monkeypatch):
    """running_totals_tws must pre-flight BOTH requirements: protobuf and
    the RocksDB state store provider (a protobuf-equipped session on the
    default HDFS provider crashed deep in the streaming runner)."""
    import pytest

    from debezium_emr_hudi_deltastreamer_sample_spark.streaming import windows

    monkeypatch.setattr(windows, "transform_with_state_available", lambda: True)
    df = spark.readStream.format("rate").load()
    with pytest.raises(RuntimeError, match="RocksDB state store"):
        windows.running_totals_tws(df, "value", "value")


def test_state_partition_heuristic(monkeypatch, tmp_path):
    """The streaming state-store fan-out is DERIVED from source size
    (VERDICT r7 task 5): small fixtures land on the floor of 4, a large
    source scales up instead of serializing state on a bench-tuned
    constant, and the env override always wins."""
    from debezium_emr_hudi_deltastreamer_sample_spark.queries.streaming import (
        _STATE_PARTITIONS_CAP,
        _STATE_PARTITIONS_FLOOR,
        _STATE_TARGET_BYTES,
        _state_partitions,
        _state_partitions_for_bytes,
    )

    # Pure core: floor below target, ceil scaling above, cap bound.
    assert _state_partitions_for_bytes(0) == _STATE_PARTITIONS_FLOOR
    assert _state_partitions_for_bytes(5 << 20) == _STATE_PARTITIONS_FLOOR
    assert _state_partitions_for_bytes(100 * _STATE_TARGET_BYTES) == 100
    assert (
        _state_partitions_for_bytes(10**18) == _STATE_PARTITIONS_CAP
    )

    # The real fixture lands on the floor (bench parity: replays keep 4).
    monkeypatch.delenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", raising=False)
    assert (
        _state_partitions("/root/testdata/sf0.1/events.parquet")
        == _STATE_PARTITIONS_FLOOR
    )
    # A forced-large source derives a large fan-out.
    big = tmp_path / "big.bin"
    big.write_bytes(b"\0" * (4 * _STATE_TARGET_BYTES + 1))
    assert _state_partitions(str(big)) == 5
    # Missing / non-local paths degrade to the floor, never crash.
    assert _state_partitions(str(tmp_path / "nope")) == _STATE_PARTITIONS_FLOOR
    assert _state_partitions("s3a://bucket/stream") == _STATE_PARTITIONS_FLOOR
    # UNKNOWN-size source with a session default (VERDICT r8 What's-wrong
    # #3): an object-store path must inherit the session's configured
    # shuffle fan-out, NOT the tiny local floor — the un-overridden
    # s3:// default on a real cluster would serialize state on 4
    # partitions otherwise.
    assert _state_partitions("s3a://bucket/stream", session_default=200) == 200
    assert (
        _state_partitions(str(tmp_path / "nope"), session_default=64) == 64
    )
    # ...but a PROBEABLE local source still derives from measured bytes
    # even when a session default is offered.
    assert _state_partitions(str(big), session_default=200) == 5
    # file:// URI forms resolve to the local path (ADVICE r8): bare,
    # file:/p, file:///p, file://localhost/p all probe; a remote
    # authority is not local.
    from debezium_emr_hudi_deltastreamer_sample_spark.queries.streaming import (
        _local_path_bytes,
    )

    nbytes = big.stat().st_size
    assert _local_path_bytes(f"file:{big}") == nbytes
    assert _local_path_bytes(f"file://{big}") == nbytes  # file:///tmp/...
    assert _local_path_bytes(f"file://localhost{big}") == nbytes
    assert _local_path_bytes(f"file://otherhost{big}") is None
    # Env override beats everything (the production knob).
    monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "96")
    assert _state_partitions(str(big)) == 96
    # Invalid env values warn and FALL THROUGH to the derived value
    # instead of raising at session setup or pinning shuffle=0
    # (ADVICE r8).
    for bad in ("0", "-3", "many"):
        monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", bad)
        assert _state_partitions(str(big)) == 5
        assert (
            _state_partitions("s3a://bucket/stream", session_default=128)
            == 128
        )


def test_session_default_parse_guard():
    """_stream_session's parent-conf read must not fail query setup on a
    runtime whose shuffle-partitions conf isn't an int literal (e.g. an
    "auto" policy value) — it degrades to None and _state_partitions
    falls through to the floor (round-9 review finding)."""
    from debezium_emr_hudi_deltastreamer_sample_spark.queries.streaming import (
        _session_default,
    )

    class _Conf:
        def __init__(self, value):
            self._value = value

        def get(self, _key):
            return self._value

    class _Session:
        def __init__(self, value):
            self.conf = _Conf(value)

    assert _session_default(_Session("200")) == 200
    assert _session_default(_Session("auto")) is None
    assert _session_default(_Session(None)) is None


def test_streaming_modules_do_not_load_pandas():
    """pandas is imported inside the two pandas-UDF bodies that use it,
    so a process that only maintains tables through ``streaming`` (the
    pipeline, IVM, rollup) never loads it: 61 MB of RSS on a bare import."""
    import os
    import subprocess
    import sys

    pkg = "debezium_emr_hudi_deltastreamer_sample_spark.streaming"
    code = (
        f"import sys, {pkg}.pipeline, {pkg}.ivm, {pkg}.rollup; "
        "print('pandas' in sys.modules)"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=root, capture_output=True, text=True, timeout=120
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert proc.stdout.strip() == "False"
