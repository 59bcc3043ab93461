"""The two reference pipelines, rebuilt correct.

1. ``append_pipeline`` ≡ script.py (/root/reference/README.md:170-204):
   Kafka → cast value → parse envelope → append parquet, with the declared
   envelope schema replacing the reference's per-micro-batch inference
   (README.md:179; crashes on empty batches — SURVEY.md §7.4.1) and the
   delete before-image fix (§7.4.4).

2. ``upsert_pipeline`` ≡ what hudi_script.py + the DeltaStreamer submit line
   *intend* (README.md:277-348): latest-wins keyed upsert with delete
   application, LSN-ordered. The reference's own Hudi sink is dead code
   (foreachBatch at README.md:340 overrides format("hudi") — SURVEY.md
   §3.2); here the COW merge is implemented natively via
   operators.merge.merge_upsert into a versioned ``table.KeyedTable``.

Both are ``foreachBatch`` factories (A3) started with a checkpoint (A4); at
100 TB this is the right shape for CDC — per-key state lives in the table,
not the streaming state store (SURVEY.md §7.4.5).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..envelope import EMPLOYEES_SCHEMA, parse_envelope
from ..operators.merge import merge_upsert


def append_batch_processor(
    out_path: str,
    row_schema: T.StructType = EMPLOYEES_SCHEMA,
    partition_by: Sequence[str] = (),
) -> Callable[[DataFrame, int], None]:
    """Per-micro-batch fn for the append-only log (README.md:178-188):
    parse → append parquet. Narrow pipeline: source partition → task →
    file, no shuffle (SURVEY.md §3.1 step 5d).

    Idempotent under foreachBatch's at-least-once replay — unlike the
    reference's blind ``mode('append')`` (README.md:188), which duplicates
    every row of a replayed batch: each batch lands in its own
    ``ingest_batch=<id>`` partition directory with overwrite semantics, so
    a replay rewrites the same directory instead of appending twice.
    Readers see ``ingest_batch`` as an ordinary partition column (and can
    prune on it for incremental consumption)."""

    def process(df: DataFrame, batch_id: int) -> None:
        parsed = parse_envelope(df, row_schema)
        writer = parsed.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(f"{out_path}/ingest_batch={batch_id}")

    return process


def upsert_batch_processor(
    table_path: str,
    keys: Sequence[str],
    row_schema: T.StructType = EMPLOYEES_SCHEMA,
    ordering: Sequence[str] = ("_lsn",),
    partition_by: Sequence[str] = (),
    parser: Callable[[DataFrame], DataFrame] | None = None,
) -> Callable[[DataFrame, int], None]:
    """Per-micro-batch COW upsert (the intended DeltaStreamer lifecycle,
    SURVEY.md §3.2): parse envelope → order by LSN → latest-wins merge with
    delete application → rewrite the table. Naturally idempotent under
    at-least-once replay: re-merging the same change set is a no-op
    (latest-wins picks the same rows; deletes stay deleted).

    Delegates to ``KeyedTable.upsert`` — ONE implementation of the COW
    lifecycle: partition-pruned merges whose version carries untouched
    partitions by reference and drops a partition the deletes emptied,
    one data write and one version publish per batch, and a publish that
    raises (so the batch is retried) when the tip moved under the merge.
    A drifting feed (B11) needs no option: the version's schema keeps a
    column that only the rewritten partitions carry.
    """
    def process(df: DataFrame, batch_id: int) -> None:
        from ..table import KeyedTable

        if not df.head(1):
            return  # cheap raw-batch probe — skip the parse entirely
        # Materialize the parsed batch once (the ivm.py pattern): lazy,
        # the from_json/Avro parse would execute for the head-probe, then
        # AGAIN inside the merge's upsert/delete branches — redundant CPU
        # on every trigger of a hot stream. Batch-sized, blocks freed
        # with the micro-batch.
        changes = (
            parser(df) if parser is not None else parse_envelope(df, row_schema)
        ).localCheckpoint(eager=True)
        if not changes.head(1):
            return
        KeyedTable(
            df.sparkSession,
            table_path,
            keys=keys,
            ordering=list(ordering),
            partition_by=list(partition_by),
            op_col="op",
        ).upsert(changes)

    return process


def mor_batch_processor(
    table_path: str,
    keys: Sequence[str],
    row_schema: T.StructType = EMPLOYEES_SCHEMA,
    ordering: Sequence[str] = ("_lsn",),
    auto_compact_deltas: int | None = None,
    async_compact: bool = False,
) -> Callable[[DataFrame, int], None]:
    """Per-micro-batch MERGE_ON_READ ingest (Hudi's other
    ``write.table.type`` next to `upsert_batch_processor`'s COW): parse
    envelope → land the batch as one immutable delta directory on a
    `DeltaLogTable` — O(batch) per micro-batch, no table rewrite; the
    latest-wins merge happens at read time (or at inline compaction when
    ``auto_compact_deltas`` is set; ``async_compact`` moves that
    compaction off the ingest thread — Hudi's async table service — so
    micro-batch latency stays O(batch) even on compaction triggers).
    Idempotent under at-least-once replay: a replayed batch overwrites
    its own ``ingest_batch=<id>`` directory. A drifting feed (B11) needs
    no option: the delta log's schema sidecar is the read schema.

    This is the write-profile you want when the stream is hot and reads
    are periodic: COW pays a full rewrite per micro-batch (write
    amplification ∝ table size), MOR pays ∝ batch size."""

    def process(df: DataFrame, batch_id: int) -> None:
        from ..table import DeltaLogTable

        if not df.head(1):
            return  # cheap raw-batch probe — skip the parse entirely
        # Same single-parse materialization as the COW processor above.
        changes = parse_envelope(df, row_schema).localCheckpoint(eager=True)
        if not changes.head(1):
            return
        table = DeltaLogTable(
            df.sparkSession,
            table_path,
            keys=keys,
            ordering=list(ordering),
            op_col="op",
            auto_compact_deltas=auto_compact_deltas,
            async_compact=async_compact,
        )
        table.append_changes(changes, batch_id)

    return process


def routed_upsert_processor(
    tables: dict[str, tuple[str, Sequence[str], T.StructType]],
    ordering: Sequence[str] = ("_lsn",),
) -> Callable[[DataFrame, int], None]:
    """Multi-table CDC routing — the real intent of the reference's
    ``subscribePattern "debezium1.*"`` (README.md:193: one stream carries
    every table's topic; the reference then hardcodes a single schema,
    which only works because it has one table).

    ``tables`` maps table name (the last topic segment, B14) →
    (table_path, keys, row_schema). Each micro-batch is split by topic and
    each slice merged into its table. Unknown topics are ignored (the
    subscribe regex may match tables the engine hasn't registered).

    Scale: the per-table filter prunes on the Kafka topic column before
    parsing; one batch scan serves all tables (Spark caches nothing here —
    for many tables, persist df per batch)."""
    from ..envelope import topic_to_table

    def process(df: DataFrame, batch_id: int) -> None:
        df = df.withColumn("__table", topic_to_table()).persist()
        try:
            for name, (path, keys, row_schema) in tables.items():
                slice_ = df.filter(F.col("__table") == name)
                upsert = upsert_batch_processor(path, keys, row_schema, ordering)
                upsert(slice_, batch_id)
        finally:
            df.unpersist()

    return process


def checkpoint_writer_id(checkpoint: str) -> str:
    """Stable writer identity derived from the checkpoint location: same
    checkpoint ⇒ same logical writer. This is what lets a crashed pipeline
    restarted from its checkpoint — a NEW process — re-own its table's
    writer-lease epoch with no manual ``take_over``, while a DIFFERENT
    pipeline (other checkpoint) writing the same table is still fenced
    with ConcurrentWriterError.

    Soundness scope: WITHIN one Spark application, Structured Streaming
    enforces one active run per checkpoint. It does NOT fence two separate
    driver PROCESSES pointed at the same checkpointLocation — that
    misconfiguration already interleaves Spark's own offset log, and with
    a shared checkpoint-derived writer id the two drivers also share the
    table lease, so table writes interleave without a
    ConcurrentWriterError. ``start_pipeline`` therefore records a
    pid/host owner marker beside the checkpoint and logs LOUDLY when a
    different live-looking process's marker is already there (see
    ``_note_pipeline_owner``) — detection, not prevention: fixing the
    misconfiguration means giving each pipeline its own checkpoint.

    Trailing slashes are normalized; paths differing otherwise (relative
    vs absolute spellings) are distinct writers by design — prefer
    absolute checkpoint locations."""
    import hashlib

    norm = checkpoint.rstrip("/")
    return f"ckpt-{hashlib.sha256(norm.encode('utf-8')).hexdigest()[:16]}"


def _note_pipeline_owner(spark, checkpoint: str) -> None:
    """Best-effort shared-checkpoint detection: write a ``__engine_owner``
    marker (pid + host + start time) into the checkpoint dir; if one from
    a DIFFERENT pid/host is already present, warn loudly — two live driver
    processes on one checkpointLocation share a checkpoint-derived writer
    id and are NOT fenced by the table lease (see checkpoint_writer_id).
    A marker is evidence, not proof (the other process may have crashed),
    so this logs and proceeds; it never blocks a legitimate restart.
    Underscore-prefixed name keeps Spark's checkpoint reader indifferent;
    every failure here is swallowed — detection must never break the
    pipeline."""
    import logging
    import os as _os
    import socket
    import time as _time

    try:
        from ..fsutil import hadoop_fs, read_small_file, write_small_file

        fs, hpath = hadoop_fs(spark, checkpoint)
        marker = f"{checkpoint.rstrip('/')}/__engine_owner"
        me = f"{socket.gethostname()}:{_os.getpid()}"
        try:
            prev = read_small_file(fs, hpath, spark, marker)
        except Exception:
            prev = None
        if prev:
            owner = prev.decode("utf-8", "replace").split("\n", 1)[0]
            if owner != me:
                logging.getLogger(__name__).warning(
                    "checkpoint %s carries an owner marker from %s; if that "
                    "process is still alive, two pipelines share one "
                    "checkpointLocation — they also share a writer id, so "
                    "table writes will interleave UNFENCED (and Spark's "
                    "offset log is already corrupted). Give each pipeline "
                    "its own checkpoint.",
                    checkpoint, owner,
                )
        write_small_file(
            fs, hpath, marker,
            f"{me}\nstarted={_time.time():.3f}\n".encode(),
        )
    except Exception:
        pass


def start_pipeline(
    stream: DataFrame,
    process: Callable[[DataFrame, int], None],
    checkpoint: str,
    available_now: bool = False,
    processing_time: str | None = None,
) -> StreamingQuery:
    """writeStream.foreachBatch(...).start() with a checkpoint (A3+A4,
    README.md:198-202). ``available_now=True`` = bounded replay of
    everything pending (B13's earliest-offset bootstrap, then stop);
    ``processing_time`` sets explicit pacing (the reference runs ASAP —
    SURVEY.md §4 flags that as an anti-pattern).

    Every table constructed inside ``process`` defaults its writer-lease
    identity to ``checkpoint_writer_id(checkpoint)`` (thread-scoped, see
    table.pipeline_writer_scope): the pipeline's A4 recovery path —
    kill -9, restart from the same checkpoint in a new process — re-owns
    its epochs automatically, with cross-checkpoint fencing intact.
    Explicit ``writer_id`` arguments on a table still win."""
    from ..table import pipeline_writer_scope

    wid = checkpoint_writer_id(checkpoint)
    _note_pipeline_owner(stream.sparkSession, checkpoint)

    def scoped_process(df: DataFrame, batch_id: int) -> None:
        with pipeline_writer_scope(wid):
            process(df, batch_id)

    writer = stream.writeStream.foreachBatch(scoped_process).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time is not None:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def run_until_drained(query: StreamingQuery, timeout_sec: float = 300.0) -> None:
    """Block until an availableNow query finishes (test helper)."""
    query.awaitTermination(timeout_sec)
    if query.isActive:
        query.stop()
        raise TimeoutError("streaming query did not drain in time")


def cast_value_projection(stream: DataFrame, keep_timestamp: bool = False) -> DataFrame:
    """A2: the reference's only stream transformation before foreachBatch —
    `CAST(value AS STRING)` (README.md:195), plus the ingest timestamp on
    the Hudi path (README.md:335)."""
    cols = (["timestamp"] if keep_timestamp else []) + [
        F.col("value").cast("string").alias("value")
    ]
    return stream.select(*cols)


def incremental_read(spark, out_path: str, since_batch: int) -> DataFrame:
    """Hudi-style incremental pull over the append log: read ONLY the
    micro-batches committed AFTER ``since_batch`` — the consumption mode
    DeltaStreamer downstreams rely on (process new commits, never re-scan
    history). Because each batch is an ``ingest_batch=<id>`` partition
    directory (append_batch_processor), the predicate prunes at directory
    level: cost scales with NEW data, independent of table history — the
    property that keeps a 100 TB append log incrementally consumable.
    Callers checkpoint the last-processed batch id themselves (the same
    contract as Hudi's commit timeline)."""
    return spark.read.parquet(out_path).filter(F.col("ingest_batch") > since_batch)


def scd2_batch_processor(
    table_path: str,
    key: str = "user_id",
    attr: str = "event_type",
    ts_col: str = "ts",
    tiebreak: str = "event_id",
) -> Callable[[DataFrame, int], None]:
    """Per-micro-batch SCD type-2 fold — the streaming form of
    queries/cdc.cdc_scd2_history: maintain a versioned dimension
    (key, attr, valid_from, valid_to, is_current) incrementally as change
    batches arrive, instead of re-windowing the whole history.

    Per batch: (1) suppress within-batch no-op changes (lag change-detect
    over (ts, tiebreak)); (2) drop rows at or before each key's current
    open version start — the monotone-feed replay guard that makes the
    fold idempotent under at-least-once delivery (a replayed batch's
    surviving tail rows all carry the open version's attr and are then
    suppressed by rule 3); (3) suppress the batch's FIRST surviving change
    where it equals the current open attr (cross-batch no-op); (4) close
    the open version at the first new version's start and append the new
    versions, the last one open.

    Scale: every step hashes on the key — one exchange per batch over
    batch-plus-open-rows, never the full history re-sorted. Each batch is
    one ``KeyedTable.replace``: the fold reads the tip version (before the
    first one, the parquet an earlier writer left at the path, which it
    adopts), writes the new history once and publishes it against that
    version, so a killed batch leaves the previous version served and
    redelivery converges.

    Each batch runs as the table's single writer (``WriterLease``). Run
    the processor under ``start_pipeline`` (or ``table.
    pipeline_writer_scope`` with a stable id) so a restart after a crash
    re-owns the lease: called directly, the writer id is per process,
    and a restarted process gets ``ConcurrentWriterError`` on every
    batch until it runs under such a scope or, with no other writer
    alive, ``{table_path}__writer`` is deleted (USAGE.md). Read the table
    through ``KeyedTable(spark, table_path, keys=[key]).read()``."""
    from pyspark.sql import Window

    cols = [key, attr, "valid_from", "valid_from_id", "valid_to", "is_current"]

    def process(df: DataFrame, batch_id: int) -> None:
        spark = df.sparkSession
        w = Window.partitionBy(key).orderBy(ts_col, tiebreak)
        # First-row detection must be positional (row_number), not
        # "_prev IS NULL": a previous row whose ATTR is NULL also lags
        # NULL, which would mint a spurious version for an unchanged
        # NULL→NULL pair. And change detection must be null-safe —
        # attr != _prev is three-valued, so a real b→NULL transition
        # evaluated NULL and was silently dropped.
        b = (
            df.select(key, ts_col, tiebreak, attr)
            .withColumn("_prev", F.lag(attr).over(w))
            .withColumn("_pos", F.row_number().over(w))
        )
        changes = b.filter(
            (F.col("_pos") == 1) | ~F.col(attr).eqNullSafe(F.col("_prev"))
        ).drop("_prev", "_pos")
        from ..table import KeyedTable

        def fold(hist: DataFrame | None) -> DataFrame | None:
            # ``hist`` is the current history: the tip version, parquet an
            # earlier writer left at the path, or None before the first
            # batch. The replace publishes against the version it came
            # from, so a fold over a stale history is never published.
            fresh = changes
            if hist is not None:
                open_rows = hist.filter("is_current").select(
                    key,
                    F.col(attr).alias("_open_attr"),
                    F.col("valid_from").alias("_open_from"),
                    F.col("valid_from_id").alias("_open_fid"),
                )
                fresh = (
                    fresh.join(open_rows, key, "left")
                    .filter(
                        F.col("_open_from").isNull()
                        | (F.col(ts_col) > F.col("_open_from"))
                        | (
                            (F.col(ts_col) == F.col("_open_from"))
                            & (F.col(tiebreak) > F.col("_open_fid"))
                        )
                    )
                    .withColumn("_rn", F.row_number().over(w))
                    # Suppress the no-op first change ONLY for keys that
                    # have an open row (_open_from IS NOT NULL): eqNullSafe
                    # keeps plain =='s three-valued logic from dropping
                    # first versions, but alone it over-matches the OTHER
                    # way — a key first seen with a NULL attr has NULL
                    # _open_attr, and eqNullSafe(NULL, NULL) is TRUE, so
                    # that key's first version vanished while the
                    # first-ever-batch branch recorded it (behavior
                    # diverged on identical input).
                    .filter(
                        ~(
                            (F.col("_rn") == 1)
                            & F.col("_open_from").isNotNull()
                            & F.col(attr).eqNullSafe(F.col("_open_attr"))
                        )
                    )
                    .drop("_rn", "_open_attr", "_open_from", "_open_fid")
                )
            if not fresh.head(1):
                return None
            new_versions = (
                fresh.select(
                    key,
                    attr,
                    F.col(ts_col).alias("valid_from"),
                    F.col(tiebreak).alias("valid_from_id"),
                )
                .withColumn(
                    "valid_to",
                    F.lead("valid_from").over(
                        Window.partitionBy(key).orderBy("valid_from", "valid_from_id")
                    ),
                )
                .withColumn("is_current", F.col("valid_to").isNull())
            )
            if hist is not None:
                firsts = new_versions.groupBy(key).agg(
                    F.min(F.struct("valid_from", "valid_from_id"))["valid_from"].alias(
                        "_first_from"
                    )
                )
                closed = (
                    hist.join(firsts, key, "left")
                    .withColumn(
                        "valid_to",
                        F.when(
                            F.col("is_current") & F.col("_first_from").isNotNull(),
                            F.col("_first_from"),
                        ).otherwise(F.col("valid_to")),
                    )
                    .withColumn(
                        "is_current",
                        F.col("is_current") & F.col("_first_from").isNull(),
                    )
                    .select(*cols)
                )
                return closed.unionByName(new_versions.select(*cols))
            return new_versions.select(*cols)

        KeyedTable(spark, table_path, keys=[key, "valid_from", "valid_from_id"]).replace(fold)

    return process
