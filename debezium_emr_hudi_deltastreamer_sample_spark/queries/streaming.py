"""Streaming queries for the graded surface — each runs a REAL Structured
Streaming query bounded with trigger(availableNow=True) (reference B13
earliest-replay + A4 checkpointing), drains into a memory sink, and returns
the result DataFrame so the driver can oracle-check it like any batch query.

This is the consolidation the rebuild is for: the reference's entire
pipeline (Kafka → envelope → foreachBatch → table) expressed as callable,
verifiable queries (SURVEY.md §3.1-3.2).
"""

from __future__ import annotations

import os
import sys
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import ensure_read_confs
from ..catalog import load_table as _t
from ..functions import dround
from ..streaming.rollup import IncrementalRollup
from ..streaming.pipeline import (
    cast_value_projection,
    run_until_drained,
    start_pipeline,
    upsert_batch_processor,
)
from ..streaming.sources import file_envelope_source
from ..streaming.windows import session_counts, tumbling_counts
from ..table import KeyedTable

from ._registry import make_registry

QUERIES, ORACLES, _q = make_registry()


def _tmp(prefix: str) -> str:
    return tempfile.mkdtemp(prefix=f"spark_graft_{prefix}_")


#: State-store sizing for the bounded streaming replays below. A stateful
#: query opens/commits one state store per shuffle partition per stateful
#: operator per micro-batch; the count is FROZEN into the checkpoint at
#: first start, and inheriting the session's batch-sized shuffle fan-out
#: (32-200) makes tiny replays commit-overhead-bound (measured ~2x on
#: stream_stream_join: 64 instances -> 16). Size it to expected STATE
#: volume, not CPU count: the count is DERIVED from the source's on-disk
#: bytes (one partition per _STATE_TARGET_BYTES of input, floor 4) so the
#: fixture replays stay at the measured-optimal 4 (same-window A/B vs 8:
#: join 2.99->2.46 s, rollup 2.66->2.09, cdc upsert 2.04->1.57) while a
#: large source scales the fan-out instead of serializing state on 4
#: partitions. SPARK_GRAFT_STREAM_STATE_PARTITIONS overrides everything
#: (the production knob — see USAGE.md; a restarted checkpoint keeps its
#: own recorded value regardless).
_STATE_PARTITIONS_FLOOR = 4
#: Input bytes per state partition. Compressed parquet bytes understate
#: in-memory state, but state volume correlates with input volume for
#: these replay shapes (windows/joins/dedup keyed off the source), and a
#: conservative 32 MiB/partition target reaches hundreds of partitions by
#: the time the source is tens of GB — the "real cluster" regime.
_STATE_TARGET_BYTES = 32 << 20
#: More state partitions than this helps nothing on any plausible single
#: stream (Spark's own default fan-out is 200); bounds a corrupt/huge
#: size probe.
_STATE_PARTITIONS_CAP = 2048


def _state_partitions_for_bytes(nbytes: int) -> int:
    """Pure heuristic core (unit-pinned in tests/test_streaming.py):
    ceil(bytes / target) clamped to [floor, cap]."""
    want = -(-int(nbytes) // _STATE_TARGET_BYTES)
    return max(_STATE_PARTITIONS_FLOOR, min(_STATE_PARTITIONS_CAP, want))


def _local_path_bytes(path: str) -> int | None:
    """Total file bytes under a local path (file or directory), None when
    the path is missing or not a local filesystem path (production sources
    on object stores use the env override or the checkpoint's recorded
    value — this probe is deliberately cheap and local-only). Handles the
    full file-URI family (file:/p, file:///p, file://localhost/p) via
    urllib scheme/authority parsing; a file:// URI with a REMOTE authority
    is not local and returns None."""
    if ":" in path.split("/", 1)[0] or "://" in path:
        from urllib.parse import urlsplit

        parts = urlsplit(path)
        if parts.scheme != "file" or parts.netloc not in ("", "localhost"):
            return None
        p = parts.path
    else:
        p = path
    if not p:
        return None
    try:
        if os.path.isfile(p):
            return os.path.getsize(p)
        if os.path.isdir(p):
            total = 0
            for root, _dirs, files in os.walk(p):
                for f in files:
                    try:
                        total += os.path.getsize(os.path.join(root, f))
                    except OSError:
                        pass
            return total
    except OSError:
        return None
    return None


def _state_partitions(
    input_path: str | None = None, session_default: int | None = None
) -> int:
    """State-store fan-out for one streaming replay: env override first
    (validated — a malformed or non-positive value warns and falls
    through instead of failing the query mid-setup or pinning an invalid
    shuffle fan-out), else derived from the source's measured size, else:

    - source given but UNPROBEABLE (object-store URI, vanished path) →
      ``session_default`` (the session's configured shuffle partitions).
      The unknown-size case is precisely the real-cluster-reading-s3://
      case, and the tiny local floor there would serialize all state on
      4 partitions — the exact failure the derivation exists to remove.
    - no source path at all (synthetic in-memory replays) → the floor,
      which is the measured optimum for those fixture-sized states.
    """
    env = os.environ.get("SPARK_GRAFT_STREAM_STATE_PARTITIONS")
    if env is not None:
        try:
            want = int(env)
        except ValueError:
            want = -1
        if want >= 1:
            return want
        print(
            f"[stream-state] ignoring invalid "
            f"SPARK_GRAFT_STREAM_STATE_PARTITIONS={env!r} (need int >= 1); "
            "falling back to the derived value",
            file=sys.stderr,
        )
    if input_path is not None:
        nbytes = _local_path_bytes(input_path)
        if nbytes is not None:
            return _state_partitions_for_bytes(nbytes)
        if session_default is not None:
            return session_default
        # Unprobeable source (object-store URI) AND an unparseable session
        # conf (e.g. a platform "auto" policy): the floor would serialize
        # all state on 4 partitions — the exact failure the session-default
        # fallback exists to remove. Warn like the env-override guard does
        # instead of pinning it silently.
        print(
            f"[stream-state] source {input_path!r} is unprobeable and "
            "spark.sql.shuffle.partitions is not an int literal; pinning "
            f"the {_STATE_PARTITIONS_FLOOR}-partition floor — set "
            "SPARK_GRAFT_STREAM_STATE_PARTITIONS to size the state fan-out",
            file=sys.stderr,
        )
    return _STATE_PARTITIONS_FLOOR


def _session_default(spark) -> int | None:
    """The parent session's shuffle partitions as the unknown-size
    fallback, or None when the conf isn't an int literal (e.g. a
    platform's "auto" policy value) — a non-parseable conf must not fail
    every streaming query at setup, same contract as the env-override
    guard in _state_partitions (falls through to the floor)."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (ValueError, TypeError):
        return None


def _stream_session(
    spark: SparkSession,
    final_flush: bool = True,
    input_path: str | None = None,
) -> SparkSession:
    """An isolated child session for one streaming replay.

    ``newSession()`` shares the SparkContext (executors, caches) but owns
    its OWN SQLConf and catalog, so pinning the small state-store fan-out
    here can never be observed by batch queries running concurrently on the
    caller's session — the conf-hygiene contract: engine code must not
    mutate a session it does not own. The pin itself: a stateful query
    opens/commits one state store per shuffle partition per operator per
    micro-batch and the count is FROZEN into the checkpoint at first start;
    inheriting a batch-sized fan-out (32-200) makes tiny replays
    commit-overhead-bound (measured ~2x on stream_stream_join: 64
    instances -> 16). Size it to expected STATE volume, not CPU count —
    derived from ``input_path``'s on-disk bytes (``_state_partitions``):
    these fixture replays hold a few thousand keys so they land on the
    floor of 4, while a genuinely large source scales the fan-out. The
    SPARK_GRAFT_STREAM_STATE_PARTITIONS env is the production override.

    ``final_flush=False`` disables no-data micro-batches — ONLY valid for
    queries whose final no-data batch provably emits nothing: complete-mode
    aggregations (every batch re-emits full state) and INNER stream-stream
    joins (matches emit in the data batch; the trailing batch only evicts
    state). It is a full state-store commit round saved (measured 1.2 s on
    stream_stream_join: 4 store instances per partition per side). Any
    append-mode event-time query (windows, dedup, OUTER joins) NEEDS the
    flush to emit watermark-gated rows — keep the default there."""
    child = spark.newSession()
    child.conf.set(
        "spark.sql.shuffle.partitions",
        str(_state_partitions(input_path, session_default=_session_default(spark))),
    )
    if not final_flush:
        child.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    ensure_read_confs(child)
    return child


def _drain(df: DataFrame, output_mode: str = "complete") -> DataFrame:
    """Run a streaming DF to completion into a memory sink; return the
    materialized table. Unique query name per call — the driver and parity
    may invoke the same query twice in one session.

    Mutates NO session conf: callers build the stream on a
    ``_stream_session`` child whose fan-out was pinned at creation; the
    memory-sink table registers in (and is read back from) that same
    child's catalog."""
    spark = df.sparkSession
    name = f"q_{uuid.uuid4().hex[:12]}"
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", _tmp("ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    run_until_drained(q)
    return spark.table(name)


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a bounded stream. The fixture stores ts as
    TIMESTAMP(NANOS), converted to TimestampType exactly as
    catalog.load_table does for batch (epoch-nanos bigint under Spark
    ≤4.0's legacy conf; timestamp_ntz under 4.1+, cast in the UTC session
    zone — watermarks demand a zoned event-time column)."""
    ensure_read_confs(spark)
    batch_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # The fixture is a single file and the file stream source requires a
    # directory path — a glob keeps basePath = sf_dir (a directory) while
    # matching only the events file.
    stream = spark.readStream.schema(batch_schema).parquet(f"{sf_dir}/[e]vents.parquet")
    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


@_q(
    "stream_tumbling_counts",
    """
    SELECT event_type,
           time_bucket(INTERVAL 1 DAY, ts) AS window_start,
           count(*) AS n
    FROM events GROUP BY 1, 2
    """,
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day event counts per type, computed by a streaming
    aggregation over a file stream (state per (type, window)).
    final_flush=False: _drain runs this in complete mode, which re-emits
    the FULL state every data batch — the trailing no-data batch adds
    nothing and its state-commit round is pure cost."""
    spark = _stream_session(spark, final_flush=False, input_path=f"{sf_dir}/events.parquet")
    agg = tumbling_counts(
        _events_stream(spark, sf_dir), "ts", "1 day", keys=["event_type"],
        watermark="1 day",
    )
    return _drain(agg).select("event_type", "window_start", "n")


@_q(
    "stream_sliding_value",
    """
    SELECT event_type, ws AS window_start,
           count(*) AS n, round(sum(value), 3) AS total
    FROM (
      SELECT event_type, value,
             unnest([time_bucket(INTERVAL 1 DAY, ts),
                     time_bucket(INTERVAL 1 DAY, ts) - INTERVAL 1 DAY]) AS ws
      FROM events)
    GROUP BY 1, 2
    """,
)
def stream_sliding_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 2-day/1-day window sums per type as a streaming agg — an
    event at time t lands in the two windows starting at bucket(t) and
    bucket(t)-1d, which is exactly what the oracle unnests."""
    spark = _stream_session(spark, input_path=f"{sf_dir}/events.parquet")
    stream = _events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 day")
        .groupBy("event_type", F.window("ts", "2 days", "1 day").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), dround(F.sum("value"), 3).alias("total"))
        .select("event_type", F.col("w.start").alias("window_start"), "n", "total")
    )
    return _drain(agg)


@_q(
    "stream_session_windows",
    """
    WITH o AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS brk
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    s AS (SELECT user_id, ts,
                 sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
          FROM o)
    SELECT user_id, min(ts) AS session_start, count(*) AS n_events
    FROM s GROUP BY user_id, sid
    """,
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows (30 min) per user via F.session_window,
    run as a REAL streaming aggregation (round-4 review fix: this was a
    batch call, silently overstating streaming coverage). COMPLETE mode:
    session-window streaming aggregations refuse update, and in a
    bounded availableNow replay the final complete emission IS the fully
    merged session set — the same contract stream_tumbling_counts uses.
    The oracle rebuilds sessions with a lag/cumsum break detector
    (sessions merge while consecutive gaps < 30 min)."""
    spark = _stream_session(spark, input_path=f"{sf_dir}/events.parquet")
    sess = session_counts(
        _events_stream(spark, sf_dir), "ts", "30 minutes",
        keys=["user_id"], watermark="30 minutes",
    )
    return _drain(sess, output_mode="complete").select(
        "user_id", "session_start", "n_events"
    )


#: Generated change-feed dirs keyed by (resolved customer fixture path,
#: mtime, size): the feed is a DETERMINISTIC function of the immutable
#: fixture, so its generation job (3-way union + JSON write) runs once per
#: fixture per process instead of once per replay — the write job was
#: ~0.5 s of every stream_cdc_upsert/mor/join_view/deadletter call's fixed
#: cost. Consumers never mutate the src dir (file-stream sources only list
#: and read), and each replay still gets its own table/checkpoint dirs.
_CHANGE_FEED_CACHE: dict[tuple[str, float, int], tuple[str, object]] = {}


def _customer_change_feed(spark: SparkSession, sf_dir: str):
    """Shared CDC load generator for the end-to-end streaming replays:
    customer rows → Debezium envelopes (insert each row; update acctbal
    +100 for custkey%10==0; delete custkey%100==0, LSN-ordered) →
    JSON-lines Kafka double on disk. Returns (src_dir, row_schema);
    memoized per fixture (see _CHANGE_FEED_CACHE)."""
    fixture = f"{sf_dir.rstrip('/')}/customer.parquet"
    try:
        st = os.stat(fixture)
        cache_key = (os.path.realpath(fixture), st.st_mtime, st.st_size)
    except OSError:
        cache_key = None
    if cache_key is not None:
        hit = _CHANGE_FEED_CACHE.get(cache_key)
        if hit is not None and os.path.isdir(hit[0]):
            return hit
    cust = _t(spark, sf_dir, "customer")
    row_schema = cust.schema
    row_struct = F.struct(*[F.col(c) for c in cust.columns])
    null_row = F.lit(None).cast(cust.schema.simpleString())

    def envelope(op: str, before, after, lsn):
        return F.to_json(
            F.struct(
                F.struct(
                    before.alias("before"),
                    after.alias("after"),
                    F.struct(
                        lsn.alias("lsn"),
                        lsn.alias("ts_ms"),
                        F.lit("customer").alias("table"),
                    ).alias("source"),
                    F.lit(op).alias("op"),
                    lsn.alias("ts_ms"),
                ).alias("payload")
            )
        )

    key = F.col("c_custkey")
    inserts = cust.select(
        envelope("c", null_row, row_struct, key).alias("value"), key.alias("offset")
    )
    updated = cust.filter(key % 10 == 0).withColumn(
        "c_acctbal", F.round(F.col("c_acctbal") + 100.0, 2)
    )
    upd_struct = F.struct(*[F.col(c) for c in updated.columns])
    updates = updated.select(
        envelope("u", null_row, upd_struct, key + F.lit(10_000_000)).alias("value"),
        (key + F.lit(10_000_000)).alias("offset"),
    )
    deletes = cust.filter(key % 100 == 0).select(
        envelope("d", row_struct, null_row, key + F.lit(20_000_000)).alias("value"),
        (key + F.lit(20_000_000)).alias("offset"),
    )

    records = (
        inserts.unionByName(updates)
        .unionByName(deletes)
        .select(
            F.lit(None).cast("string").alias("key"),
            "value",
            F.lit("debezium1.public.customer").alias("topic"),
            F.lit(0).alias("partition"),
            "offset",
            F.lit("2024-01-01T00:00:00.000Z").cast("timestamp").alias("timestamp"),
        )
    )
    src = _tmp("cdc_src")
    records.write.mode("overwrite").json(src)
    if cache_key is not None:
        _CHANGE_FEED_CACHE[cache_key] = (src, row_schema)
    return src, row_schema


_CDC_UPSERT_ORACLE = """
    SELECT c_custkey, c_name, c_nationkey,
           CASE WHEN c_custkey % 10 = 0 THEN round(c_acctbal + 100.0, 2)
                ELSE c_acctbal END AS c_acctbal,
           c_mktsegment
    FROM customer WHERE c_custkey % 100 <> 0
    """


@_q("stream_cdc_upsert", _CDC_UPSERT_ORACLE)
def stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end CDC streaming replay — the reference's whole intended
    pipeline as one verifiable query (SURVEY.md §3.2): the shared change
    feed (_customer_change_feed) → file stream → foreachBatch latest-wins
    COW merge with delete application → final table, checked against the
    directly-computed final state in SQL."""
    src, row_schema = _customer_change_feed(spark, sf_dir)
    table_path = _tmp("cdc_table")
    q = start_pipeline(
        cast_value_projection(file_envelope_source(spark, src)),
        upsert_batch_processor(table_path, keys=["c_custkey"], row_schema=row_schema),
        checkpoint=_tmp("cdc_ckpt"),
        available_now=True,
    )
    run_until_drained(q)
    return KeyedTable(spark, table_path, keys=["c_custkey"]).read().select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )


@_q("stream_mor_upsert", _CDC_UPSERT_ORACLE)
def stream_mor_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME end-to-end CDC replay on the MERGE_ON_READ axis
    (streaming/pipeline.mor_batch_processor → table.DeltaLogTable):
    each micro-batch lands as an O(batch) delta append — no per-batch
    table rewrite — with inline compaction after 2 delta commits, and the
    final merge-on-read snapshot must equal the COW result (identical
    oracle). Grades Hudi's write.table.type trade end-to-end under
    streaming: COW rewrite-per-batch vs MOR merge-at-read.
    Cites reference README.md:295-313 (table type + compaction configs)."""
    from ..streaming.pipeline import mor_batch_processor
    from ..table import DeltaLogTable

    src, row_schema = _customer_change_feed(spark, sf_dir)
    table_path = _tmp("mor_table")
    q = start_pipeline(
        cast_value_projection(file_envelope_source(spark, src)),
        mor_batch_processor(
            table_path,
            keys=["c_custkey"],
            row_schema=row_schema,
            auto_compact_deltas=2,
        ),
        checkpoint=_tmp("mor_ckpt"),
        available_now=True,
    )
    run_until_drained(q)
    table = DeltaLogTable(
        spark, table_path, keys=["c_custkey"], ordering=["_lsn"], op_col="op"
    )
    return table.read().select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )


@_q(
    "stream_rollup_incremental",
    """
    SELECT event_type,
           time_bucket(INTERVAL 1 HOUR, ts) AS bucket_start,
           count(value) AS n, round(sum(value), 3) AS total,
           round(min(value), 3) AS vmin, round(max(value), 3) AS vmax
    FROM events GROUP BY 1, 2
    """,
)
def stream_rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous aggregation (hypertable-rollup pattern): fold the events
    table through IncrementalRollup in three separate append batches — each
    batch aggregates itself then merges additive (count, sum) partials with
    the stored rollup, never re-scanning history — and the final rollup must
    equal the one-shot aggregate the oracle computes over all events."""
    events = _t(spark, sf_dir, "events")
    roll = IncrementalRollup(
        spark, _tmp("rollup"), "ts", "1 hour", ["event_type"], "value"
    )
    for i in range(3):
        roll.apply_batch(events.filter(F.col("event_id") % 3 == i), i)
    return roll.read().select(
        "event_type",
        "bucket_start",
        "n",
        dround("total", 3).alias("total"),
        dround("vmin", 3).alias("vmin"),
        dround("vmax", 3).alias("vmax"),
    )


@_q(
    "stream_window_topk",
    """
    WITH counts AS (
      SELECT time_bucket(INTERVAL 1 DAY, ts) AS window_start,
             event_type, count(*) AS n
      FROM events GROUP BY 1, 2),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY window_start
                                   ORDER BY n DESC, event_type) AS rnk
      FROM counts)
    SELECT window_start, event_type, n, rnk
    FROM ranked WHERE rnk <= 3
    """,
)
def stream_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous per-window leaderboard — the live-dashboard shape: a
    streaming tumbling-window count feeds a top-3-per-window ranking.
    Ranking is not a streaming-supported operation (no rank() over an
    unbounded stream), so the composition is the standard one: the
    WINDOWED AGG runs in the stream (complete mode — the memory sink then
    holds exactly the final aggregate), and the rank is a batch window
    function over that bounded, window-count-sized result — at 100 TB the
    serving store (or the rollup table) plays the memory sink's role and
    the rank runs at query time over bucket-count-sized data, never the
    event stream. Deterministic tie-break (n DESC, event_type) keeps the
    oracle exact."""
    from pyspark.sql import Window as W

    spark = _stream_session(spark, input_path=f"{sf_dir}/events.parquet")
    agg = tumbling_counts(
        _events_stream(spark, sf_dir), "ts", "1 day", keys=["event_type"],
        watermark="1 day",
    )
    counts = _drain(agg).select("event_type", "window_start", "n")
    rnk = F.row_number().over(
        W.partitionBy("window_start").orderBy(F.col("n").desc(), "event_type")
    )
    return (
        counts.withColumn("rnk", rnk)
        .filter(F.col("rnk") <= 3)
        .select("window_start", "event_type", "n", "rnk")
    )


@_q(
    "stream_rollup_two_level",
    """
    SELECT event_type,
           time_bucket(INTERVAL 1 DAY, ts) AS bucket_start,
           count(value) AS n, round(sum(value), 3) AS total,
           round(min(value), 3) AS vmin, round(max(value), 3) AS vmax
    FROM events GROUP BY 1, 2
    """,
)
def stream_rollup_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical continuous aggregation: build the HOUR rollup
    incrementally (same three-batch fold as stream_rollup_incremental),
    then derive the DAY rollup purely from the stored hour partials
    (IncrementalRollup.reaggregate) — the raw events are never re-read.
    The oracle aggregates the events directly at day grain, so the check
    proves partial-merge correctness across the resolution change. At
    100 TB this is the point of additive rollups: one fine table serves
    every coarser resolution from bucket-count-sized input."""
    events = _t(spark, sf_dir, "events")
    roll = IncrementalRollup(
        spark, _tmp("rollup2l"), "ts", "1 hour", ["event_type"], "value"
    )
    for i in range(3):
        roll.apply_batch(events.filter(F.col("event_id") % 3 == i), i)
    return roll.reaggregate("1 day").select(
        "event_type",
        "bucket_start",
        "n",
        dround("total", 3).alias("total"),
        dround("vmin", 3).alias("vmin"),
        dround("vmax", 3).alias("vmax"),
    )


@_q(
    "stream_static_join",
    """
    SELECT c_mktsegment, count(*) AS n, round(sum(value), 3) AS total
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c_mktsegment
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join (SURVEY.md §2.C joins): the streaming fact side
    enriches against a static broadcast dimension — stateless, no
    watermark; the per-micro-batch join plan is the same broadcast-hash
    join a batch query gets."""
    spark = _stream_session(spark, input_path=f"{sf_dir}/events.parquet")
    stream = _events_stream(spark, sf_dir)
    dim = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    agg = (
        stream.join(F.broadcast(dim), stream.user_id == dim.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"), dround(F.sum("value"), 3).alias("total"))
    )
    return _drain(agg)


@_q(
    "stream_stream_join",
    """
    SELECT a.user_id, a.ts AS click_ts, b.ts AS purchase_ts
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'click' AND b.event_type = 'purchase'
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with watermarks (click→purchase
    attribution within 1 h): both sides watermarked so the state store can
    evict rows older than the join bound + delay — the thing that keeps a
    stream-stream join's state finite at 100 TB. Inner join under a
    bounded availableNow replay emits exactly the batch-join result, which
    is what the oracle computes.

    final_flush=False: an INNER join emits in the data batch itself; the
    trailing no-data batch only evicts state (verified: identical 371-row
    output either way at sf0.1) — its full commit round is pure cost
    here. The OUTER join variants below keep the flush (their
    null-padded rows emit only when the watermark passes)."""
    spark = _stream_session(spark, final_flush=False, input_path=f"{sf_dir}/events.parquet")
    # ONE streaming source split by filter into both join sides (a
    # streaming self-join): a second _events_stream would register a
    # second file source with its own offset log and scan — measured 12%
    # slower for identical results. Each side still carries its own
    # watermark on its renamed event-time column.
    ev = _events_stream(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select("user_id", "click_ts", "purchase_ts")
    return _drain(joined, output_mode="append")


def _events_stream_with_flush(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``_events_stream`` plus two far-future SENTINEL rows (impossible
    user ids −1/−2, ts = max+30 days, one per join side).

    Outer stream-stream joins emit their null-padded rows only when the
    WATERMARK passes a row's join bound — under a bounded availableNow
    replay the watermark stops at (max event time − delay), which would
    hold every tail row's unmatched output in state forever and make the
    result diverge from the batch oracle. The sentinels push the watermark
    ~30 days past the real data so the final no-data micro-batch
    (spark.sql.streaming.noDataMicroBatches.enabled) flushes ALL real
    unmatched rows; callers filter ``user_id >= 0`` to drop the sentinels
    themselves. On an unbounded production stream no sentinel is needed —
    new data advances the watermark continuously."""
    import glob
    import os.path
    import shutil

    ensure_read_confs(spark)
    src = f"{sf_dir}/events.parquet"
    # Stage into a directory that LOOKS like an sf_dir with an
    # events.parquet directory inside, then delegate to _events_stream —
    # one copy of the schema/ts-conversion rules, not two.
    d = _tmp("flush_src")
    staged = f"{d}/events.parquet"
    os.makedirs(staged)
    if os.path.isdir(src):
        # Spark-style directory fixture (the synthesized sf1 decade) —
        # stage every part file.
        for i, f in enumerate(sorted(glob.glob(f"{src}/*.parquet"))):
            shutil.copy(f, f"{staged}/events_{i:04d}.parquet")
    else:
        shutil.copy(src, f"{staged}/events_0000.parquet")

    # Build the sentinel rows WITH SPARK (not pyarrow): fixtures differ in
    # the ts physical type (driver files are TIMESTAMP(NANOS); the Spark-
    # synthesized sf1 decade is INT96), and a hand-written parquet file
    # whose physical type disagrees with the declared read schema fails
    # the scan — Spark's own writer always round-trips with its reader.
    batch = spark.read.parquet(src)
    batch_schema = batch.schema
    ts_type = dict(batch.dtypes)["ts"]
    flush_expr = {
        # max(ts) + 30 days in the column's own type.
        "bigint": (F.max("ts") + F.lit(30 * 86400 * 1_000_000_000)),
    }.get(ts_type, F.max("ts") + F.expr("INTERVAL 30 DAYS"))
    flush_val = batch.agg(flush_expr.alias("f")).first()[0]
    sentinel = spark.range(2).select(
        (F.when(F.col("id") == 0, -1).otherwise(-2))
        .cast(batch_schema["event_id"].dataType)
        .alias("event_id"),
        F.lit(flush_val).cast(batch_schema["ts"].dataType).alias("ts"),
        (F.when(F.col("id") == 0, -1).otherwise(-2))
        .cast(batch_schema["user_id"].dataType)
        .alias("user_id"),
        F.when(F.col("id") == 0, "click").otherwise("purchase").alias(
            "event_type"
        ),
        F.lit(0.0).cast(batch_schema["value"].dataType).alias("value"),
        F.lit(None).cast(batch_schema["props"].dataType).alias("props"),
    )
    stage = _tmp("flush_sent")
    sentinel.coalesce(1).write.mode("overwrite").parquet(stage)
    [sf] = glob.glob(f"{stage}/part-*.parquet")
    shutil.copy(sf, f"{staged}/zz_flush.parquet")

    return _events_stream(spark, d)


@_q(
    "stream_stream_left_join",
    """
    SELECT a.user_id, a.ts AS click_ts, b.ts AS purchase_ts
    FROM (SELECT * FROM events WHERE event_type = 'click') a
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
      ON a.user_id = b.user_id
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
    """,
)
def stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join with watermarks — the state semantics
    the inner join doesn't exercise: an unmatched left row must be HELD in
    the state store until the watermark proves no matching right row can
    still arrive, then emitted null-padded exactly once. Both sides
    watermarked (state eviction), interval condition bounds retention to
    join-window + delay. The bounded replay needs the sentinel flush
    (``_events_stream_with_flush``) so tail unmatched rows emit; the
    oracle is the plain batch left interval join."""
    spark = _stream_session(spark, input_path=f"{sf_dir}/events.parquet")
    # One flush-source split by filter (self-join): a second helper call
    # would stage the files and register a second source needlessly.
    ev = _events_stream_with_flush(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        "left_outer",
    ).select("user_id", "click_ts", "purchase_ts")
    return _drain(joined, output_mode="append").filter(F.col("user_id") >= 0)


@_q(
    "stream_stream_full_join",
    """
    SELECT a.user_id, a.ts AS click_ts,
           b.user_id AS p_user, b.ts AS purchase_ts
    FROM (SELECT * FROM events WHERE event_type = 'click') a
    FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
      ON a.user_id = b.user_id
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
    """,
)
def stream_stream_full_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER join — both sides' unmatched rows are
    state-held until the watermark closes their join window, then emitted
    null-padded exactly once (left- AND right-side eviction, the complete
    outer-join state machine). Same sentinel-flush mechanics as the left
    join; sentinels are dropped by the coalesced-key filter."""
    spark = _stream_session(spark, input_path=f"{sf_dir}/events.parquet")
    ev = _events_stream_with_flush(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        "full_outer",
    ).select("user_id", "click_ts", "p_user", "purchase_ts")
    return _drain(joined, output_mode="append").filter(
        F.coalesce(F.col("user_id"), F.col("p_user")) >= 0
    )


@_q(
    "stream_stateful_totals",
    """
    SELECT CAST(user_id AS VARCHAR) AS key, count(*) AS events,
           round(sum(CAST(round(value * 1000, 0) AS BIGINT)) / 1000.0, 3)
             AS total
    FROM events GROUP BY 1
    """,
)
def stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary-stateful custom operator (applyInPandasWithState,
    SURVEY.md §2.C streaming): per-user running (count, sum) accumulators,
    emitted each micro-batch. The memory sink keeps every emission, so the
    check takes each key's LAST emission (max events — the count is
    strictly monotone per key) and that must equal the one-shot batch
    aggregate the oracle computes."""
    from pyspark.sql import Window as W

    from ..streaming.windows import running_totals

    spark = _stream_session(spark, input_path=f"{sf_dir}/events.parquet")
    emitted = _drain(
        running_totals(_events_stream(spark, sf_dir), "user_id", "value"),
        output_mode="update",
    )
    rn = F.row_number().over(
        W.partitionBy("key").orderBy(F.col("events").desc())
    )
    return (
        emitted.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select("key", "events", dround("total", 3).alias("total"))
    )


@_q(
    "stream_dedup_keys",
    """
    SELECT DISTINCT user_id, event_type FROM events
    """,
)
def stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup (SURVEY.md §2.C streaming-only):
    watermarked dropDuplicates emits each (user, type) pair exactly once;
    over a bounded replay that equals batch DISTINCT, which is the oracle.
    The watermark bounds the dedup state store — the piece that keeps
    exactly-once-per-key viable on an unbounded 100 TB stream."""
    from ..streaming.windows import dedup_stream

    spark = _stream_session(spark, input_path=f"{sf_dir}/events.parquet")
    dedup = dedup_stream(
        _events_stream(spark, sf_dir),
        keys=["user_id", "event_type"],
        ts_col="ts",
        watermark="1 hour",
    )
    return _drain(dedup, output_mode="append").select("user_id", "event_type")


@_q("stream_avro_upsert", _CDC_UPSERT_ORACLE)
def stream_avro_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end CDC replay on the AVRO wire (reference B4,
    README.md:262-263 — AvroConverter instead of JsonConverter): the same
    insert/update/delete change set as stream_cdc_upsert is serialized to
    REAL Avro-binary envelope records (encode_envelope_avro_py), streamed
    as a binary column, decoded per micro-batch by the engine's
    pure-Python Avro reader (parse_envelope_avro_py as the
    upsert_batch_processor's parser), and latest-wins merged — final
    state must hash-match the same SQL oracle as the JSON wire. Proves
    the serde lane is interchangeable end-to-end, not just record-level
    (cdc_avro_roundtrip). Delete before-images travel through Avro's
    null-union `before` field."""
    from ..envelope import (
        encode_envelope_avro_py,
        envelope_avro_schema,
        parse_envelope_avro_py,
    )

    cust = _t(spark, sf_dir, "customer")
    row_schema = cust.schema
    key = F.col("c_custkey")

    def flat(df, op, lsn):
        return df.select(
            F.lit(op).alias("op"),
            lsn.cast("long").alias("_lsn"),
            lsn.cast("long").alias("_ts_ms"),
            *[c for c in cust.columns],
        )

    inserts = flat(cust, "c", key)
    updates = flat(
        cust.filter(key % 10 == 0).withColumn(
            "c_acctbal", F.round(F.col("c_acctbal") + 100.0, 2)
        ),
        "u",
        key + F.lit(10_000_000),
    )
    deletes = flat(cust.filter(key % 100 == 0), "d", key + F.lit(20_000_000))

    schema_json = envelope_avro_schema(row_schema, namespace="debezium1.public")
    wire = encode_envelope_avro_py(
        inserts.unionByName(updates).unionByName(deletes),
        schema_json,
        row_schema,
        table="customer",
    )
    src = _tmp("avro_src")
    wire.write.mode("overwrite").parquet(src)

    table_path = _tmp("avro_table")
    q = start_pipeline(
        spark.readStream.schema("value binary").parquet(src),
        upsert_batch_processor(
            table_path,
            keys=["c_custkey"],
            row_schema=row_schema,
            parser=lambda df: parse_envelope_avro_py(df, schema_json, row_schema),
        ),
        checkpoint=_tmp("avro_ckpt"),
        available_now=True,
    )
    run_until_drained(q)
    return KeyedTable(spark, table_path, keys=["c_custkey"]).read().select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )


@_q(
    "stream_python_datasource",
    """
    WITH g AS (SELECT unnest(range(0, 2000)) AS i),
    feed AS (
      SELECT CASE WHEN i % 10 = 0 THEN 'd'
                  WHEN i % 10 = 5 THEN 'u' ELSE 'c' END AS op,
             i AS lsn, i % 97 AS key,
             ((i * 31) % 1000) / 10.0 AS amount
      FROM g)
    SELECT op, count(*) AS n, round(sum(amount), 2) AS total,
           max(lsn) AS max_lsn
    FROM feed GROUP BY op
    """,
)
def stream_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING read through the custom Python data source
    (sources/pydatasource.ChangefeedStreamReader) — the Python-source
    analogue of the reference's Kafka streaming scan (A1): offset-managed
    micro-batch windows, per-window partition planning (one task per
    planned range), checkpointed replay. The availableNow drain captures
    one full offset window here; multi-batch pacing
    (batch_rows = maxOffsetsPerTrigger analogue) and restart-at-offset
    semantics are pinned in tests/test_streaming.py. The oracle replays
    the feed's content contract — what is graded is the source machinery
    delivering exactly the declared rows through the streaming engine."""
    from ..sources.pydatasource import register_changefeed

    # No stateful operator in this stream (pure projection append), so no
    # state-partition pinning is needed — run on the caller's session:
    # newSession children CLONE the data-source registry at creation, so a
    # source registered afterwards on the parent is invisible to them.
    register_changefeed(spark)
    feed = (
        spark.readStream.format("changefeed")
        .option("rows", "2000")
        .option("batch_rows", "2000")
        .option("partitions", "8")
        .load()
    )
    sunk = _drain(feed, "append")
    return sunk.groupBy("op").agg(
        F.count(F.lit(1)).alias("n"),
        dround(F.sum("amount"), 2).alias("total"),
        F.max("lsn").alias("max_lsn"),
    )


@_q(
    "stream_python_sink_roundtrip",
    """
    WITH g AS (SELECT unnest(range(0, 1500)) AS i),
    feed AS (
      SELECT CASE WHEN i % 10 = 0 THEN 'd'
                  WHEN i % 10 = 5 THEN 'u' ELSE 'c' END AS op,
             i AS lsn, i % 97 AS key,
             ((i * 31) % 1000) / 10.0 AS amount
      FROM g)
    SELECT op, count(*) AS n, round(sum(amount), 2) AS total,
           max(lsn) AS max_lsn
    FROM feed GROUP BY op
    """,
)
def stream_python_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL custom extension-point matrix in one pipeline: the
    Python-source changefeed STREAM (offset windows) writes through the
    avrolog STREAMING SINK (per-micro-batch two-phase commit keyed by
    batch id — a replayed batch overwrites its own part files, the
    exactly-once idiom), and the avrolog BATCH READER brings the bytes
    back for the aggregate the oracle replays from the content contract.
    Four custom components (stream read, stream write, batch read, the
    wire codec) and zero JVM connector code."""
    from ..sources.pydatasource import register_avrolog, register_changefeed

    register_changefeed(spark)
    register_avrolog(spark)
    out = tempfile.mkdtemp(prefix="spark_graft_avrolog_stream_")
    ddl = "op string, lsn bigint, key bigint, amount double"
    q = (
        spark.readStream.format("changefeed")
        .option("rows", "1500")
        .option("batch_rows", "1500")
        .option("partitions", "6")
        .load()
        .writeStream.format("avrolog")
        .option("ddl", ddl)
        .option("path", out)
        .option("checkpointLocation", _tmp("avrolog_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    run_until_drained(q)
    back = spark.read.format("avrolog").option("ddl", ddl).load(out)
    return back.groupBy("op").agg(
        F.count(F.lit(1)).alias("n"),
        dround(F.sum("amount"), 2).alias("total"),
        F.max("lsn").alias("max_lsn"),
    )


from .cdc import ORACLES as _CDC_ORACLES


#: Staged SCD2 tercile feed dirs keyed by (resolved events fixture path,
#: mtime, size) — the same input-staging memo as _CHANGE_FEED_CACHE: the
#: feed is a deterministic function of the immutable events fixture, and
#: regenerating it (one percentile job + three coalesce(1) JSON writes,
#: ~1.3 s) was fixed cost on every stream_scd2_fold call. Consumers only
#: list and read the dir; each replay keeps its own checkpoint/table dirs.
#: Value is (dir, {file name: size} manifest recorded at generation time):
#: a hit is honored only when every manifest file still exists at its
#: recorded size — a tmp cleaner deleting/truncating b*.json between
#: calls would otherwise replay an empty/partial feed and produce a WRONG
#: SCD2 table instead of an error (ADVICE r12).
_SCD2_FEED_CACHE: dict[tuple[str, float, int], tuple[str, dict[str, int]]] = {}


def _scd2_feed(sess: SparkSession, sf_dir: str) -> str:
    """Serialize the events fixture as three time-ordered JSON tercile
    files with strictly increasing mtimes (the file source's oldest-first
    ordering = event-time ordering); memoized per fixture."""
    import glob as _glob
    import os
    import shutil

    from .cdc import _ts_terciles

    fixture = f"{sf_dir.rstrip('/')}/events.parquet"
    try:
        st = os.stat(fixture)
        cache_key = (os.path.realpath(fixture), st.st_mtime, st.st_size)
    except OSError:
        cache_key = None
    if cache_key is not None:
        hit = _SCD2_FEED_CACHE.get(cache_key)
        if hit is not None:
            src, manifest = hit
            try:
                intact = os.path.isdir(src) and all(
                    os.path.getsize(os.path.join(src, name)) == size
                    for name, size in manifest.items()
                )
            except OSError:
                intact = False
            if intact:
                return src
            _SCD2_FEED_CACHE.pop(cache_key, None)  # regenerate below
    ev = _t(sess, sf_dir, "events")
    src = _tmp("scd2_src")
    for i, (lo, hi) in enumerate(_ts_terciles(ev)):
        staging = _tmp(f"scd2_b{i}")
        (
            ev.filter((F.col("ts") >= F.lit(lo)) & (F.col("ts") < F.lit(hi)))
            .select(
                "event_id",
                F.unix_micros("ts").alias("ts_us"),
                "user_id",
                "event_type",
            )
            .coalesce(1)
            .write.mode("overwrite")
            .json(staging)
        )
        parts = _glob.glob(f"{staging}/part-*")
        if parts:  # a tercile can be empty under skewed event time
            dst = os.path.join(src, f"b{i}.json")
            shutil.move(parts[0], dst)
            os.utime(dst, (1_000_000_000 + i, 1_000_000_000 + i))
        shutil.rmtree(staging, ignore_errors=True)
    if cache_key is not None:
        manifest = {
            name: os.path.getsize(os.path.join(src, name))
            for name in os.listdir(src)
        }
        _SCD2_FEED_CACHE[cache_key] = (src, manifest)
    return src


@_q("stream_scd2_fold", _CDC_ORACLES["cdc_scd2_history"])
def stream_scd2_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SCD type-2 maintenance — the incremental form of
    cdc_scd2_history: the events feed replays as three time-ordered
    micro-batches (maxFilesPerTrigger=1) and scd2_batch_processor folds
    each into the versioned dimension (close open versions, append new
    ones) WITHOUT ever re-windowing history; the final table must equal
    the batch query's all-at-once window computation (same oracle —
    stream ≡ batch for the dimension build itself).

    The feed serializes ts as unix MICROS (exact integer round-trip;
    JSON timestamp text would renegotiate precision) and stamps strictly
    increasing mtimes so the file source's oldest-first ordering is the
    event-time ordering the monotone-feed replay guard assumes."""
    from ..streaming.pipeline import scd2_batch_processor

    sess = _stream_session(spark, input_path=f"{sf_dir}/events.parquet")
    src = _scd2_feed(sess, sf_dir)

    stream = (
        sess.readStream.schema(
            "event_id bigint, ts_us bigint, user_id bigint, event_type string"
        )
        .option("maxFilesPerTrigger", "1")
        .json(src)
        .withColumn("ts", F.timestamp_micros("ts_us"))
        .drop("ts_us")
    )
    table_path = _tmp("scd2_table")
    q = start_pipeline(
        stream,
        scd2_batch_processor(table_path),
        checkpoint=_tmp("scd2_ckpt"),
        available_now=True,
    )
    run_until_drained(q)
    return KeyedTable(spark, table_path, keys=["user_id"]).read().select(
        "user_id", "event_type", "valid_from", "valid_to", "is_current"
    )


@_q(
    "stream_temporal_join",
    """
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events),
    chg AS (
      SELECT user_id, ts, event_id, event_type FROM ordered
      WHERE prev_type IS NULL OR event_type <> prev_type),
    scd AS (
      SELECT user_id, event_type AS version_attr, ts AS valid_from,
             lead(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS valid_to
      FROM chg)
    SELECT s.version_attr,
           count(*) AS n_events,
           round(sum(e.value), 3) AS total_value
    FROM events e JOIN scd s
      ON e.user_id = s.user_id
     AND e.ts >= s.valid_from
     AND (s.valid_to IS NULL OR e.ts < s.valid_to)
    GROUP BY 1
    """,
)
def stream_temporal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal (point-in-time) join — the streaming enrichment pattern a
    versioned dimension exists FOR: each stream event joins the SCD2
    version that was current AT ITS EVENT TIME (key equality + BETWEEN on
    the validity interval), never today's version — the lookup that makes
    backfilled features training-safe (no leakage from future dimension
    states). Flink calls this a temporal table join; here it is a
    stream-static join against the cdc_scd2_history build, aggregated per
    dimension version attribute.

    Scale: the static side is the versioned dimension — orders of
    magnitude smaller than the fact stream (versions, not events);
    broadcast when it fits, else an equi-join on the key with the interval
    as a residual filter (the plan this query produces) — versions per key
    are few, so the residual fan-out is bounded. The events fixture makes
    every event match EXACTLY one version (versions partition each key's
    timeline from its first event), which the oracle's join reproduces."""
    sess = _stream_session(spark, input_path=f"{sf_dir}/events.parquet")
    from .cdc import cdc_scd2_history

    dim = cdc_scd2_history(sess, sf_dir).select(
        F.col("user_id").alias("d_user"),
        F.col("event_type").alias("version_attr"),
        "valid_from",
        "valid_to",
    )
    stream = _events_stream(sess, sf_dir)
    joined = stream.join(
        F.broadcast(dim),
        (stream.user_id == dim.d_user)
        & (stream.ts >= dim.valid_from)
        & (dim.valid_to.isNull() | (stream.ts < dim.valid_to)),
    )
    agg = joined.groupBy("version_attr").agg(
        F.count(F.lit(1)).alias("n_events"),
        dround(F.sum("value"), 3).alias("total_value"),
    )
    return _drain(agg)


@_q(
    "stream_dedup_within_watermark",
    """
    SELECT DISTINCT user_id FROM events
    """,
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state streaming dedup via Spark 3.5's
    ``dropDuplicatesWithinWatermark`` — the API designed for the case
    plain ``dropDuplicates`` handles badly on unbounded streams: plain
    dedup keys state by EVENT TIME VALUES (state only expires if the
    dedup key includes the event-time column); WithinWatermark guarantees
    one emission per key among duplicates arriving within the watermark
    delay of each other, and expires each key's state once the watermark
    passes it — state is bounded by keys-per-watermark-window regardless
    of the key's shape.

    Over this bounded replay the watermark delay exceeds the fixture's
    whole event-time span, so every duplicate collapses and the result
    equals batch DISTINCT — the oracle. Only the key column is projected:
    WithinWatermark emits the FIRST arrival's payload, and arrival order
    across file-source partitions is not deterministic, so non-key
    payload columns are not contract."""
    spark = _stream_session(spark, input_path=f"{sf_dir}/events.parquet")
    deduped = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "3650 days")
        .dropDuplicatesWithinWatermark(["user_id"])
    )
    return _drain(deduped, output_mode="append").select("user_id")


@_q(
    "stream_join_view",
    """
    SELECT c_custkey, c_name,
           CASE WHEN c_custkey % 10 = 0 THEN round(c_acctbal + 100.0, 2)
                ELSE c_acctbal END AS c_acctbal,
           n_name
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE c_custkey % 100 <> 0
    """,
)
def stream_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance of a denormalized JOIN view (streaming/ivm.py
    driven from foreachBatch — the serving-table endgame of the
    reference's CDC pipeline): nation lands once as the dim side, then
    the shared customer change feed (inserts, acctbal updates, deletes)
    streams through the envelope parser into
    ``IncrementalJoinView.apply_fact_batch`` — each micro-batch refreshes
    only its own keys' view rows. The final view must equal the final
    customer state joined to nation, computed directly by the oracle.

    Scale: identical per-batch cost shape to stream_cdc_upsert (the
    fact-side KeyedTable merge) plus the keyed view refresh — O(batch)
    join work against the broadcast dim, never a full re-join."""
    from ..envelope import parse_envelope
    from ..streaming.ivm import IncrementalJoinView

    src, row_schema = _customer_change_feed(spark, sf_dir)
    view = IncrementalJoinView(
        spark,
        _tmp("ivm_stream"),
        fact_keys=["c_custkey"],
        fk="c_nationkey",
        dim_key="n_nationkey",
        how="inner",
    )
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    view.apply_dim_batch(
        nation.withColumn("op", F.lit("u")).withColumn("_lsn", F.lit(1))
    )

    def process(df: DataFrame, batch_id: int) -> None:
        changes = parse_envelope(df, row_schema)
        if not changes.head(1):
            return
        view.apply_fact_batch(changes)

    q = start_pipeline(
        cast_value_projection(file_envelope_source(spark, src)),
        process,
        checkpoint=_tmp("ivm_ckpt"),
        available_now=True,
    )
    run_until_drained(q)
    return view.read().select("c_custkey", "c_name", "c_acctbal", "n_name")


@_q(
    "stream_deadletter",
    """
    WITH final AS (
      SELECT c_mktsegment,
             CASE WHEN c_custkey % 50 = 0 THEN c_acctbal
                  WHEN c_custkey % 10 = 0 THEN round(c_acctbal + 100.0, 2)
                  ELSE c_acctbal END AS bal
      FROM customer WHERE c_custkey % 100 <> 0)
    SELECT c_mktsegment,
           count(*) AS n,
           round(sum(bal), 2) AS total_bal,
           (SELECT count(*) FROM customer WHERE c_custkey % 50 = 0)
             AS dlq_rows
    FROM final
    GROUP BY c_mktsegment
    """,
)
def stream_deadletter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter routing on the CDC ingest path: envelopes that fail to
    parse are APPENDED RAW to a quarantine sink in the same foreachBatch
    that upserts the parseable rows — never job-killing, never silently
    dropped (parse_envelope alone would discard them; the dead letter
    preserves the original bytes + offset for replay after a fix).

    The fixture corrupts a deterministic envelope subset (the UPDATE
    event of every custkey % 50 == 0) before streaming, so the oracle
    knows both effects exactly: those keys keep their INSERT state (the
    update reached the dead letter, not the table), and the dead-letter
    row count equals the corrupted-envelope count. Deletes still apply.

    Scale: the split is one extra filter on the already-parsed batch —
    no second parse; the dead-letter append is O(bad rows)."""
    from ..envelope import envelope_schema, project_envelope

    src, row_schema = _customer_change_feed(spark, sf_dir)
    # Corrupt the update envelopes (offset = custkey + 10M) of every
    # custkey % 50 == 0 — unparseable JSON, same record shape.
    feed = spark.read.json(src)
    corrupted = feed.withColumn(
        "value",
        F.when(
            (F.col("offset") >= 10_000_000)
            & (F.col("offset") < 20_000_000)
            & ((F.col("offset") - 10_000_000) % 50 == 0),
            F.lit("NOT-JSON{{{"),
        ).otherwise(F.col("value")),
    )
    src2 = _tmp("dlq_src")
    corrupted.write.mode("overwrite").json(src2)

    table_path = _tmp("dlq_table")
    dlq_path = _tmp("dlq_sink")
    env_schema = envelope_schema(row_schema)
    upsert = upsert_batch_processor(
        table_path, keys=["c_custkey"], row_schema=row_schema,
        parser=lambda d: project_envelope(d, "env"),
    )

    def process(df: DataFrame, batch_id: int) -> None:
        # ONE from_json per batch: the parsed struct rides alongside the
        # raw bytes; the DLQ split filters on it and the merge projects
        # from it (project_envelope) — no second parse.
        parsed = df.withColumn(
            "env", F.from_json(F.col("value").cast("string"), env_schema)
        ).localCheckpoint(eager=True)
        # cast_value_projection already stripped the batch to the value
        # column — the raw bytes are the replayable record.
        parsed.filter(F.col("env.payload.op").isNull()).select(
            F.col("value").cast("string").alias("raw")
        ).write.mode("append").parquet(dlq_path)
        upsert(parsed, batch_id)

    q = start_pipeline(
        cast_value_projection(file_envelope_source(spark, src2)),
        process,
        checkpoint=_tmp("dlq_ckpt"),
        available_now=True,
    )
    run_until_drained(q)
    dlq_n = spark.read.parquet(dlq_path).agg(
        F.count(F.lit(1)).alias("dlq_rows")
    )
    return (
        KeyedTable(spark, table_path, keys=["c_custkey"]).read()
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dround(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
        .crossJoin(F.broadcast(dlq_n))
        .select("c_mktsegment", "n", "total_bal", "dlq_rows")
    )
