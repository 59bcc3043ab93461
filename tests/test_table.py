"""KeyedTable (M4): COW upsert over partitioned parquet — partition
pruning, delete application, all-deleted-partition fallback, history
bootstrap, catalog registration."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from debezium_emr_hudi_deltastreamer_sample_spark.table import KeyedTable, hudi_available

CH_SCHEMA = "id int, region string, v int, op string, _lsn long"


def make_table(spark, tmp_path, partitioned=True):
    return KeyedTable(
        spark,
        str(tmp_path / "t"),
        keys=["id"],
        ordering=["_lsn"],
        partition_by=["region"] if partitioned else [],
    )


def state(t):
    return {r.id: (r.region, r.v) for r in t.read().collect()}


def test_first_upsert_creates_table(spark, tmp_path):
    t = make_table(spark, tmp_path)
    t.upsert(
        spark.createDataFrame(
            [(1, "eu", 10, "c", 1), (2, "us", 20, "c", 2), (2, "us", 21, "u", 3)],
            CH_SCHEMA,
        )
    )
    assert state(t) == {1: ("eu", 10), 2: ("us", 21)}
    # CDC metadata must not leak into the table.
    assert set(t.read().columns) == {"id", "region", "v"}


def test_partitioned_cow_rewrites_only_touched_partition(spark, tmp_path):
    t = make_table(spark, tmp_path)
    t.init(
        spark.createDataFrame(
            [(1, "eu", 10), (2, "us", 20), (3, "ap", 30)], "id int, region string, v int"
        )
    )
    eu_files_before = set(os.listdir(tmp_path / "t" / "region=eu"))
    ap_files_before = set(os.listdir(tmp_path / "t" / "region=ap"))
    t.upsert(spark.createDataFrame([(1, "eu", 11, "u", 5)], CH_SCHEMA))
    assert state(t) == {1: ("eu", 11), 2: ("us", 20), 3: ("ap", 30)}
    # eu rewritten, ap untouched (the COW file-group property).
    assert set(os.listdir(tmp_path / "t" / "region=eu")) != eu_files_before
    assert set(os.listdir(tmp_path / "t" / "region=ap")) == ap_files_before


def test_delete_whole_partition_not_stale(spark, tmp_path):
    t = make_table(spark, tmp_path)
    t.init(
        spark.createDataFrame(
            [(1, "eu", 10), (2, "us", 20)], "id int, region string, v int"
        )
    )
    # Delete the only eu row: dynamic overwrite alone would leave the eu
    # partition's old files in place — the fallback must clear it.
    t.upsert(spark.createDataFrame([(1, "eu", 10, "d", 9)], CH_SCHEMA))
    assert state(t) == {2: ("us", 20)}


def test_unpartitioned_full_cow(spark, tmp_path):
    t = make_table(spark, tmp_path, partitioned=False)
    t.upsert(spark.createDataFrame([(1, "eu", 10, "c", 1)], CH_SCHEMA))
    t.upsert(
        spark.createDataFrame(
            [(1, None, None, "d", 2), (5, "ap", 50, "c", 3)], CH_SCHEMA
        )
    )
    assert state(t) == {5: ("ap", 50)}


def test_multi_batch_sequence_matches_replay(spark, tmp_path):
    t = make_table(spark, tmp_path)
    batches = [
        [(1, "eu", 10, "c", 1), (2, "us", 20, "c", 2)],
        [(1, "eu", 11, "u", 3), (3, "eu", 30, "c", 4)],
        [(2, "us", 20, "d", 5), (3, "eu", 31, "u", 6)],
    ]
    for b in batches:
        t.upsert(spark.createDataFrame(b, CH_SCHEMA))
    assert state(t) == {1: ("eu", 11), 3: ("eu", 31)}


def test_compact_history_equals_incremental(spark, tmp_path):
    hist = [
        (1, "eu", 10, "c", 1),
        (2, "us", 20, "c", 2),
        (1, "eu", 11, "u", 3),
        (2, "us", 20, "d", 4),
    ]
    inc = make_table(spark, tmp_path)
    for row in hist:
        inc.upsert(spark.createDataFrame([row], CH_SCHEMA))
    boot = KeyedTable(
        spark, str(tmp_path / "boot"), keys=["id"], ordering=["_lsn"],
        partition_by=["region"],
    )
    boot.compact_history(spark.createDataFrame(hist, CH_SCHEMA))
    assert state(inc) == state(boot) == {1: ("eu", 11)}


@pytest.mark.parametrize("partition_by", [[], ["region"]])
def test_compact_history_publishes_snapshot(spark, tmp_path, partition_by):
    """compact_history is a table replace: on a keep_history table it
    publishes a snapshot like init, so the newest as-of read is the
    current table, not the rows from before the replace. A partitioned
    replace overwrites statically: the partition the new history lacks
    (us) is gone, not left behind by a dynamic overwrite."""
    t = KeyedTable(
        spark, str(tmp_path / "t"), keys=["id"], ordering=["_lsn"],
        partition_by=partition_by, keep_history=3,
    )
    t.init(
        spark.createDataFrame(
            [(1, "eu", 10), (2, "us", 20)], "id int, region string, v int"
        )
    )
    t.compact_history(spark.createDataFrame([(3, "eu", 30, "c", 5)], CH_SCHEMA))
    newest = t.snapshots()[-1][0]
    assert state(t) == {3: ("eu", 30)}
    as_of = {r.id: (r.region, r.v) for r in t.read(as_of=newest).collect()}
    assert as_of == state(t)


@pytest.mark.parametrize("keep_history", [0, 2])
def test_in_place_write_materializes_only_when_needed(spark, tmp_path, monkeypatch, keep_history):
    """An in-place (partitioned) write checkpoints its input only when
    that input reads the table's own files (an upsert into the stored
    snapshot, a compaction) or a snapshot publish re-executes it
    (keep_history). A replace from new content without history — init,
    the first upsert, compact_history — writes straight from the plan."""
    df_class = type(spark.range(1))
    calls = []
    real = df_class.localCheckpoint

    def spy(self, *a, **k):
        calls.append(1)
        return real(self, *a, **k)

    monkeypatch.setattr(df_class, "localCheckpoint", spy)
    t = KeyedTable(
        spark, str(tmp_path / "t"), keys=["id"], ordering=["_lsn"],
        partition_by=["region"], keep_history=keep_history,
    )
    rows = "id int, region string, v int"

    def checkpoints(step):
        del calls[:]
        step()
        return len(calls)

    replace = 1 if keep_history else 0
    boot = spark.createDataFrame([(1, "eu", 10, "c", 1)], CH_SCHEMA)
    assert checkpoints(lambda: t.upsert(boot)) == replace
    assert checkpoints(lambda: t.init(spark.createDataFrame([(2, "us", 20)], rows))) == replace
    hist = spark.createDataFrame([(3, "eu", 30, "c", 1)], CH_SCHEMA)
    assert checkpoints(lambda: t.compact_history(hist)) == replace
    change = spark.createDataFrame([(3, "eu", 31, "u", 2)], CH_SCHEMA)
    assert checkpoints(lambda: t.upsert(change)) == 1
    assert checkpoints(lambda: t.compact(target_partitions=1)) == 1
    assert state(t) == {3: ("eu", 31)}


def test_register_makes_table_queryable(spark, tmp_path):
    t = make_table(spark, tmp_path)
    t.upsert(spark.createDataFrame([(1, "eu", 10, "c", 1)], CH_SCHEMA))
    t.register("kt_customers")
    assert spark.sql("SELECT sum(v) AS s FROM kt_customers").first().s == 10


def test_hudi_probe_is_safe(spark):
    # No Hudi jar in this container — the probe must return False, not raise.
    assert hudi_available(spark) is False


def test_bucketed_join_has_no_shuffle(spark):
    """Co-bucketed tables must sort-merge join with zero Exchange nodes —
    the property that kills the dominant shuffle at scale."""
    import io
    import shutil
    from contextlib import redirect_stdout

    from debezium_emr_hudi_deltastreamer_sample_spark.table import save_bucketed

    # Stale managed-table locations from previous sessions block saveAsTable
    # (the in-memory catalog forgot them but the files remain).
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("bkt_a", "bkt_b"):
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)

    a = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("va")
    )
    b = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("vb")
    )
    save_bucketed(a, "bkt_a", ["k"], n_buckets=4)
    save_bucketed(b, "bkt_b", ["k"], n_buckets=4)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
        buf = io.StringIO()
        with redirect_stdout(buf):
            joined.explain()
        p = buf.getvalue()
        assert "SortMergeJoin" in p
        assert "Exchange" not in p  # no shuffle on either side
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_compact_reduces_files_preserves_state(spark, tmp_path):
    t = make_table(spark, tmp_path, partitioned=False)
    # Simulate small-file accretion: a 4-way-partitioned write -> 4 files.
    t.init(
        spark.createDataFrame(
            [(i, "eu", i * 10) for i in range(8)], "id int, region string, v int"
        ).repartition(4)
    )
    before_files = [
        f for f in os.listdir(tmp_path / "t") if f.endswith(".parquet")
    ]
    before_state = state(t)
    t.compact(target_partitions=1)
    after_files = [
        f for f in os.listdir(tmp_path / "t") if f.endswith(".parquet")
    ]
    assert state(t) == before_state
    assert len(after_files) < len(before_files)
    assert len(after_files) == 1


def test_compact_empty_and_unknown_op(spark, tmp_path):
    """Edge cases: compacting a table that was never written raises the
    read error (not silent corruption); envelope rows with an unknown op
    code flow through parse as non-delete changes (Debezium 'r' snapshot
    reads behave like inserts) rather than crashing the merge."""
    import pytest as _pytest

    from debezium_emr_hudi_deltastreamer_sample_spark.envelope import parse_envelope

    t = make_table(spark, tmp_path / "never_written", partitioned=False)
    with _pytest.raises(Exception):
        t.compact()

    env = spark.createDataFrame(
        [(
            '{"payload": {"before": null, '
            '"after": {"id": 1, "full_name": "r", "email": "e", "phone": "p",'
            ' "department": "d", "salary": 5, "created_at": "2024-01-01"},'
            ' "source": {"lsn": 1, "ts_ms": 1, "table": "employees"},'
            ' "op": "r", "ts_ms": 1}}',
        )],
        "value string",
    )
    rows = parse_envelope(env).collect()
    assert [(r.op, r.id, r.full_name) for r in rows] == [("r", 1, "r")]


def test_time_travel_snapshots_and_retention(spark, tmp_path):
    """keep_history publishes one immutable snapshot per commit; read(as_of)
    returns historical states; retention trims the oldest commits; and
    keep_history=0 (the default elsewhere in the suite) writes nothing."""
    from debezium_emr_hudi_deltastreamer_sample_spark.table import KeyedTable

    t = KeyedTable(
        spark,
        str(tmp_path / "tt"),
        keys=["id"],
        ordering=["_lsn"],
        op_col=None,
        keep_history=2,
    )
    mk = lambda rows: spark.createDataFrame(rows, "id int, v string, _lsn long")  # noqa: E731
    t.upsert(mk([(1, "a", 1)]))                      # commit 0
    t.upsert(mk([(1, "b", 2), (2, "x", 3)]))         # commit 1
    assert {(r.id, r.v) for r in t.read(as_of=0).collect()} == {(1, "a")}
    assert {(r.id, r.v) for r in t.read(as_of=1).collect()} == {(1, "b"), (2, "x")}

    t.upsert(mk([(2, "y", 4)]))                      # commit 2 → commit 0 trimmed
    assert [s for s, _ in t.snapshots()] == [1, 2]
    assert {(r.id, r.v) for r in t.read(as_of=2).collect()} == {(1, "b"), (2, "y")}
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        t.read(as_of=0)

    # Default keep_history=0: no snapshot side-writes at all.
    t0 = KeyedTable(
        spark, str(tmp_path / "nott"), keys=["id"], ordering=["_lsn"], op_col=None
    )
    t0.upsert(mk([(1, "a", 1)]))
    assert t0.snapshots() == []


def test_mor_table_merge_on_read_and_compaction(spark, tmp_path):
    """MOR semantics: delta appends are O(batch); read merges with
    (batch, ordering) precedence incl. deletes; compaction folds deltas
    into the base without changing the visible state."""
    from debezium_emr_hudi_deltastreamer_sample_spark.table import DeltaLogTable

    t = DeltaLogTable(spark, str(tmp_path / "mor"), keys=["id"], ordering=["_lsn"])
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "id int, v string, op string, _lsn long"
    )
    t.append_changes(mk([(1, "a", "c", 1), (2, "x", "c", 2)]), 0)
    t.append_changes(mk([(1, "b", "u", 3), (3, "m", "c", 4)]), 1)
    t.append_changes(mk([(2, None, "d", 5)]), 2)

    state = {(r.id, r.v) for r in t.read().select("id", "v").collect()}
    assert state == {(1, "b"), (3, "m")}  # 1 updated, 2 deleted, 3 inserted

    # Replay idempotence: rewriting batch 1 changes nothing.
    t.append_changes(mk([(1, "b", "u", 3), (3, "m", "c", 4)]), 1)
    assert {(r.id, r.v) for r in t.read().select("id", "v").collect()} == state

    t.compact()
    assert {(r.id, r.v) for r in t.read().select("id", "v").collect()} == state
    # Post-compaction: state lives in the base; new deltas still merge.
    t.append_changes(mk([(3, "n", "u", 6)]), 3)
    assert {(r.id, r.v) for r in t.read().select("id", "v").collect()} == {
        (1, "b"),
        (3, "n"),
    }


def test_mor_auto_compaction_and_incremental_read(spark, tmp_path):
    """Inline compaction (auto_compact_deltas) must fire when the UNFOLDED
    delta count reaches the threshold, publish a new base version bounded
    to compact_target_files, and preserve state. Retirement is deferred
    one compaction cycle (folded dirs linger for in-flight readers), so
    the just-folded dirs remain listed but invisible to read();
    read_incremental returns post-checkpoint batches via directory-level
    pruning (ingest_batch PartitionFilter)."""
    from debezium_emr_hudi_deltastreamer_sample_spark.plans import formatted_plan
    from debezium_emr_hudi_deltastreamer_sample_spark.table import DeltaLogTable

    t = DeltaLogTable(
        spark,
        str(tmp_path / "mor_auto"),
        keys=["id"],
        ordering=["_lsn"],
        auto_compact_deltas=2,
        compact_target_files=1,
    )
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "id int, v string, op string, _lsn long"
    )
    t.append_changes(mk([(1, "a", "c", 1)]), 0)
    assert t.delta_batches() == [0]
    # Second batch reaches the threshold -> inline compaction folds both;
    # the dirs stay on disk (deferred retirement) but are already in base.
    t.append_changes(mk([(2, "x", "c", 2)]), 1)
    assert t.delta_batches() == [0, 1]
    state = t.read()
    assert {(r.id, r.v) for r in state.select("id", "v").collect()} == {
        (1, "a"),
        (2, "x"),
    }
    # Small-file control: the folded base is exactly the target file count.
    assert len(t.read(optimized=True).inputFiles()) == 1

    # Fresh deltas after compaction serve the incremental surface; the
    # second compaction (pending batches 2,3) retires the first window.
    t.append_changes(mk([(1, "b", "u", 3)]), 2)
    t.append_changes(mk([(3, "m", "c", 4)]), 3)  # threshold -> compacts again
    assert t.delta_batches() == [2, 3]
    t.append_changes(mk([(4, "q", "c", 5)]), 4)
    inc = t.read_incremental(since_batch=2)
    # Batches > 2 still on disk: 3 (folded, retained one cycle) and 4.
    assert {r.id for r in inc.collect()} == {3, 4}
    p = formatted_plan(inc)
    pf = next(l for l in p.splitlines() if "PartitionFilters" in l)
    assert "ingest_batch" in pf


def test_mor_async_compaction_single_flight(spark, tmp_path):
    """The async table service (async_compact=True) must fold deltas off
    the ingest thread: append_changes returns without compacting, an
    in-flight compaction is never stacked (single-flight per path), and
    after await_compaction the published base equals what inline
    compaction would have produced."""
    from debezium_emr_hudi_deltastreamer_sample_spark.table import DeltaLogTable

    path = str(tmp_path / "mor_async")
    t = DeltaLogTable(
        spark, path, keys=["id"], ordering=["_lsn"],
        auto_compact_deltas=2, async_compact=True,
    )
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "id int, v string, op string, _lsn long"
    )
    t.append_changes(mk([(1, "a", "c", 1)]), 0)
    assert t.base_versions() == []  # below threshold, nothing spawned
    t.append_changes(mk([(2, "x", "c", 2)]), 1)
    # Threshold reached: the fold happens on the service thread; a second
    # instance for the same path must not start another (single-flight).
    t2 = DeltaLogTable(
        spark, path, keys=["id"], auto_compact_deltas=2, async_compact=True
    )
    t2._spawn_async_compaction()
    t.await_compaction(timeout=120)
    assert t.base_versions() == [0]
    assert {(r.id, r.v) for r in t.read().select("id", "v").collect()} == {
        (1, "a"), (2, "x"),
    }
    # A later batch keeps the incremental surface intact.
    t.append_changes(mk([(1, "b", "u", 3)]), 2)
    assert {r.id for r in t.read_incremental(since_batch=1).collect()} == {1}


def test_mor_compaction_skips_uncommitted_batch_dir(spark, tmp_path):
    """Torn-batch guard for the ASYNC service: the ingest thread's parquet
    job creates ingest_batch=N at job SETUP, so a compaction listing taken
    mid-write can see a batch with no committed files. compact() must not
    record 'compacted through N' over it — otherwise read()'s delta filter
    (ingest_batch > through) masks N's committed rows forever, silent
    loss. Simulated by a marker-less dir standing in for the in-flight
    job; after the batch 'commits' (marker appears), the next compaction
    folds it."""
    import os

    from debezium_emr_hudi_deltastreamer_sample_spark.table import DeltaLogTable

    path = str(tmp_path / "mor_torn")
    t = DeltaLogTable(spark, path, keys=["id"], ordering=["_lsn"])
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "id int, v string, op string, _lsn long"
    )
    t.append_changes(mk([(1, "a", "c", 1)]), 0)
    # An in-flight batch 1: directory + data file present, no _SUCCESS.
    torn = tmp_path / "mor_torn" / "delta" / "ingest_batch=1"
    committed = tmp_path / "mor_torn" / "delta" / "ingest_batch=0"
    os.makedirs(torn)
    datafile = next(
        f for f in os.listdir(committed) if f.endswith(".parquet")
    )
    with open(committed / datafile, "rb") as f:
        blob = f.read()
    with open(torn / datafile, "wb") as f:
        f.write(blob)

    assert t.delta_batches() == [0, 1]
    assert t.delta_batches(committed_only=True) == [0]
    t.compact()
    # Compacted through batch 0 only; the in-flight dir was not folded.
    assert t._base_versions()[-1][1] == 0
    # The batch commits (job marker lands) -> next compaction folds it.
    with open(torn / "_SUCCESS", "wb"):
        pass
    t.append_changes(mk([(3, "c", "c", 3)]), 2)
    t.compact()
    assert t._base_versions()[-1][1] == 2
    got = {(r.id, r.v) for r in t.read().select("id", "v").collect()}
    assert got == {(1, "a"), (3, "c")}


def test_mor_markerless_committer_degrades_to_raw_listing(spark, tmp_path):
    """Deployments with marksuccessfuljobs=false write no _SUCCESS: the
    committed-only listing must degrade to the raw listing (else the
    async service is silently inert forever) — but only when NO marker
    evidence exists anywhere; once a base version proves the convention
    is active, marker-less delta dirs are treated as in-flight."""
    import os

    from debezium_emr_hudi_deltastreamer_sample_spark.table import DeltaLogTable

    path = str(tmp_path / "mor_nomark")
    t = DeltaLogTable(spark, path, keys=["id"], ordering=["_lsn"])
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "id int, v string, op string, _lsn long"
    )
    t.append_changes(mk([(1, "a", "c", 1)]), 0)
    t.append_changes(mk([(2, "b", "c", 2)]), 1)
    ddir = tmp_path / "mor_nomark" / "delta"
    for b in os.listdir(ddir):
        marker = ddir / b / "_SUCCESS"
        if marker.exists():
            os.remove(marker)
    # No markers anywhere -> degrade to raw (compaction stays live).
    assert t.delta_batches(committed_only=True) == [0, 1]
    t.compact()
    assert t._base_versions()[-1][1] == 1
    # Convention now proven by the base version's own _SUCCESS: a new
    # marker-less dir is treated as in-flight, not silently folded.
    t.append_changes(mk([(3, "c", "c", 3)]), 2)
    os.remove(ddir / "ingest_batch=2" / "_SUCCESS")
    assert t.delta_batches(committed_only=True) == []


def test_mor_async_failure_recorded_and_stage_cleaned(spark, tmp_path):
    """A failing ASYNC compaction must not die silently or leak its stage
    snapshot: the error is recorded (last_compaction_error), the __stage
    dir is cleaned, and a later successful run clears the error. Two
    failure points are driven separately: (a) a broken delta file — the
    STRICT read path must raise (a swallowed read would publish a base
    that silently drops the batch: permanent data loss); (b) a failure
    DURING the stage write itself, which must pass through compact()'s
    cleanup block rather than leak a snapshot-sized __stage dir."""
    import os

    from pyspark.sql import functions as SF

    from debezium_emr_hudi_deltastreamer_sample_spark.table import DeltaLogTable

    path = str(tmp_path / "mor_asyncfail")
    t = DeltaLogTable(spark, path, keys=["id"], ordering=["_lsn"])
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "id int, v string, op string, _lsn long"
    )
    t.append_changes(mk([(1, "a", "c", 1)]), 0)
    # (a) Corrupt the committed batch's data file: strict read raises.
    bdir = tmp_path / "mor_asyncfail" / "delta" / "ingest_batch=0"
    datafile = next(f for f in os.listdir(bdir) if f.endswith(".parquet"))
    with open(bdir / datafile, "rb") as f:
        good_bytes = f.read()
    with open(bdir / datafile, "wb") as f:
        f.write(b"not parquet")
    t._spawn_async_compaction()
    t.await_compaction(timeout=120)
    assert t.last_compaction_error() is not None
    assert t.base_versions() == []  # nothing published over the bad read
    stage_root = tmp_path / "mor_asyncfail" / "__stage"
    assert not stage_root.exists() or os.listdir(stage_root) == []
    with open(bdir / datafile, "wb") as f:
        f.write(good_bytes)

    # (b) Failure mid-stage-write: read() yields a plan that explodes at
    # execution, so the stage parquet job starts and dies — the cleanup
    # block must remove the partial stage dir and surface the error.
    class StageFailTable(DeltaLogTable):
        def read(self, optimized=False, _upper_batch=None, _strict=False):
            df = super().read(
                optimized=optimized, _upper_batch=_upper_batch, _strict=_strict
            )
            return df.withColumn(
                "_boom", SF.assert_true(SF.lit(False), SF.lit("injected"))
            )

    tf = StageFailTable(spark, path, keys=["id"], ordering=["_lsn"])
    tf._spawn_async_compaction()
    tf.await_compaction(timeout=120)
    assert tf.last_compaction_error() is not None
    assert not stage_root.exists() or os.listdir(stage_root) == []
    # Repair (plain table) -> async retry succeeds, error clears.
    t._spawn_async_compaction()
    t.await_compaction(timeout=120)
    assert t.last_compaction_error() is None
    assert t.base_versions() == [0]


def test_mor_compaction_concurrent_append_and_reader(spark, tmp_path):
    """Compaction vs concurrency (the lost-delta hazard): a batch that
    lands AFTER compaction snapshots its delta listing must survive the
    retirement pass and stay visible; a reader planned BEFORE compaction
    must still collect from immutable files afterwards; a replay that
    recreates a retired (already-folded) dir must not double-apply."""
    from debezium_emr_hudi_deltastreamer_sample_spark.table import DeltaLogTable

    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "id int, v string, op string, _lsn long"
    )

    class RacingTable(DeltaLogTable):
        """Injects an append between compact()'s delta listing and its
        merge/retire — the tightest version of the race."""

        racing = None

        def delta_batches(self, committed_only=False):
            out = super().delta_batches(committed_only=committed_only)
            if self.racing is not None:
                row, bid = self.racing
                self.racing = None
                DeltaLogTable.append_changes(self, mk([row]), bid)
            return out

    t = RacingTable(spark, str(tmp_path / "mor_race"), keys=["id"])
    t.append_changes(mk([(1, "a", "c", 1)]), 0)
    t.append_changes(mk([(2, "x", "c", 2)]), 1)

    # Reader planned against the pre-compaction layout.
    early_reader = t.read().select("id", "v")

    t.racing = ((3, "late", "c", 3), 2)  # lands mid-compaction
    t.compact()
    # The racing batch has id > compacted-through and must be visible.
    assert {(r.id, r.v) for r in t.read().select("id", "v").collect()} == {
        (1, "a"),
        (2, "x"),
        (3, "late"),
    }
    # The early reader's files were never deleted (versioned base + no
    # immediate retirement of its delta window).
    assert {(r.id, r.v) for r in early_reader.collect()} == {
        (1, "a"),
        (2, "x"),
    }

    # Second compaction folds the racer and retires the first window.
    t.compact()
    assert {(r.id, r.v) for r in t.read().select("id", "v").collect()} == {
        (1, "a"),
        (2, "x"),
        (3, "late"),
    }
    # At-least-once replay recreates a retired, already-folded dir: the
    # read filter (ingest_batch > through) must keep it invisible.
    DeltaLogTable.append_changes(t, mk([(1, "a", "c", 1)]), 0)
    assert {(r.id, r.v) for r in t.read().select("id", "v").collect()} == {
        (1, "a"),
        (2, "x"),
        (3, "late"),
    }


def test_mor_time_travel_across_versions(spark, tmp_path):
    """MOR time travel: each published compaction version serves the table
    state as-of its compacted-through batch; the retention window is the
    two newest versions."""
    from debezium_emr_hudi_deltastreamer_sample_spark.table import DeltaLogTable

    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "id int, v string, op string, _lsn long"
    )
    t = DeltaLogTable(spark, str(tmp_path / "mor_tt"), keys=["id"])
    t.append_changes(mk([(1, "a", "c", 1)]), 0)
    t.compact()  # v0: {1: a}
    t.append_changes(mk([(1, "b", "u", 2), (2, "x", "c", 3)]), 1)
    t.compact()  # v1: {1: b, 2: x}
    assert t.base_versions() == [0, 1]
    assert {(r.id, r.v) for r in t.read_version(0).select("id", "v").collect()} == {
        (1, "a")
    }
    assert {(r.id, r.v) for r in t.read_version(1).select("id", "v").collect()} == {
        (1, "b"),
        (2, "x"),
    }
    t.append_changes(mk([(2, None, "d", 4)]), 2)
    t.compact()  # v2: {1: b}; retention drops v0
    assert t.base_versions() == [1, 2]
    with pytest.raises(FileNotFoundError):
        t.read_version(0)
    assert {(r.id, r.v) for r in t.read_version(2).select("id", "v").collect()} == {
        (1, "b")
    }


def test_mor_compaction_crash_before_publish_invisible(spark, tmp_path):
    """A compaction that dies after staging but BEFORE the rename leaves
    only __stage garbage: reads are unaffected, and a later compaction
    publishes normally (the stage dir is never listed as a version)."""
    from debezium_emr_hudi_deltastreamer_sample_spark.table import DeltaLogTable

    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "id int, v string, op string, _lsn long"
    )
    t = DeltaLogTable(spark, str(tmp_path / "mor_crash"), keys=["id"])
    t.append_changes(mk([(1, "a", "c", 1)]), 0)
    before = {(r.id, r.v) for r in t.read().select("id", "v").collect()}

    # Simulate the crash: materialize the snapshot into __stage and stop.
    stage = tmp_path / "mor_crash" / "__stage" / "deadbeef"
    t.read().write.mode("overwrite").parquet(str(stage))

    assert t._base_versions() == []  # stage is not a version
    assert {(r.id, r.v) for r in t.read().select("id", "v").collect()} == before
    t.compact()  # recovers: publishes v0 normally
    assert [v[0] for v in t._base_versions()] == [0]
    assert {(r.id, r.v) for r in t.read().select("id", "v").collect()} == before


def test_mor_racing_compactions_cas_single_winner(spark, tmp_path):
    """Two compactions racing for the same version name: exactly one
    publishes; the loser discards its stage and retires nothing. State is
    unchanged either way."""
    from debezium_emr_hudi_deltastreamer_sample_spark.table import DeltaLogTable

    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "id int, v string, op string, _lsn long"
    )

    class DoubleCompact(DeltaLogTable):
        """Runs a full competing compact() between the victim's delta
        listing and its publish, so the victim's rename must CAS-fail."""

        arm = False

        def delta_batches(self, committed_only=False):
            out = super().delta_batches(committed_only=committed_only)
            if self.arm:
                self.arm = False
                DeltaLogTable.compact(self)  # the winner
            return out

    t = DoubleCompact(spark, str(tmp_path / "mor_cas"), keys=["id"])
    t.append_changes(mk([(1, "a", "c", 1)]), 0)
    t.arm = True
    t.compact()  # the loser: its inner winner already took v0
    assert [v[0] for v in t._base_versions()] == [0]  # exactly one version
    assert {(r.id, r.v) for r in t.read().select("id", "v").collect()} == {
        (1, "a")
    }
    # No stage garbage left behind — under the pointer protocol the
    # winner's PUBLISHED content legitimately lives in __stage (pointers
    # never move the stage), so "garbage" = stage members no live commit
    # references.
    import os

    stage_root = tmp_path / "mor_cas" / "__stage"
    referenced = {
        uri.rstrip("/").rsplit("/", 1)[-1]
        for _, _, uri in t._base_versions()
    }
    leftovers = set(os.listdir(stage_root)) if stage_root.exists() else set()
    assert leftovers <= referenced


def test_rename_commit_detects_posix_move_into(spark, tmp_path):
    """LocalFileSystem renames a directory onto an existing directory by
    moving it INSIDE (POSIX mv) and still returns true — rename_commit
    must detect that, undo the nested copy, and report failure instead of
    letting a commit silently nest inside another writer's commit."""
    from debezium_emr_hudi_deltastreamer_sample_spark.fsutil import rename_commit

    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(str(tmp_path)).getFileSystem(spark._jsc.hadoopConfiguration())

    # Winner's commit already published.
    target = str(tmp_path / "commits" / "c000")
    fs.mkdirs(hpath(target))
    with open(tmp_path / "commits" / "c000" / "winner.txt", "w") as f:
        f.write("w")
    # Loser's staged dir.
    stage = str(tmp_path / "stage" / "deadbeef")
    fs.mkdirs(hpath(stage))
    with open(tmp_path / "stage" / "deadbeef" / "loser.txt", "w") as f:
        f.write("l")

    assert rename_commit(fs, hpath, stage, target) is False
    # Winner's content intact, no nested stage dir left behind.
    assert (tmp_path / "commits" / "c000" / "winner.txt").exists()
    assert not (tmp_path / "commits" / "c000" / "deadbeef").exists()

    # And the success path still works on a fresh name.
    stage2 = str(tmp_path / "stage" / "cafe0000")
    fs.mkdirs(hpath(stage2))
    with open(tmp_path / "stage" / "cafe0000" / "data.txt", "w") as f:
        f.write("d")
    assert rename_commit(fs, hpath, stage2, str(tmp_path / "commits" / "c001"))
    assert (tmp_path / "commits" / "c001" / "data.txt").exists()


def test_compact_with_zorder_clustering(spark, tmp_path):
    """compact(cluster_by=[a, b]) rewrites the table Morton-ordered:
    content is invariant and each output file's (a, b) min/max footprint
    shrinks vs the unclustered layout — the row-group-skipping property
    the clustering service exists for."""
    import os

    from debezium_emr_hudi_deltastreamer_sample_spark.table import KeyedTable

    path = str(tmp_path / "zt")
    n = 4096
    side = 64  # ids map to a (side x side) grid: x = id % side, y = id // side
    df = spark.range(n).selectExpr(
        "id", f"cast(id % {side} as long) AS x", f"cast(id div {side} as long) AS y"
    )
    t = KeyedTable(spark, path, keys=["id"], op_col=None)
    df.write.mode("overwrite").parquet(path)

    def spread(p):
        # mean per-file bounding-box area over both cluster dims
        areas = []
        for f in os.listdir(p):
            if not f.endswith(".parquet"):
                continue
            part = spark.read.parquet(os.path.join(p, f))
            r = part.selectExpr(
                "max(x) - min(x) AS dx", "max(y) - min(y) AS dy"
            ).first()
            areas.append((r.dx + 1) * (r.dy + 1))
        return sum(areas) / len(areas)

    t.compact(target_partitions=16)          # unclustered baseline
    base = spread(path)
    t.compact(target_partitions=16, cluster_by=["x", "y"])
    clustered = spread(path)
    assert spark.read.parquet(path).count() == n  # content invariant
    assert clustered < base / 2  # Z-order tightens per-file 2-D footprints

    import pytest as _pytest

    with _pytest.raises(ValueError):
        t.compact(cluster_by=["x", "y", "id"])


def test_mor_read_optimized_serves_base_only(spark, tmp_path):
    """Hudi's read-optimized query type on the MOR table: after compact()
    the optimized view equals the snapshot; deltas landed afterwards are
    visible to the snapshot but NOT to the optimized view (staleness
    bounded by compaction cadence); without any base it refuses."""
    import pytest as _pytest

    from debezium_emr_hudi_deltastreamer_sample_spark.table import DeltaLogTable

    t = DeltaLogTable(spark, str(tmp_path / "mor"), keys=["id"], op_col=None)
    b0 = spark.createDataFrame([(1, "a", 1), (2, "b", 1)], "id long, v string, _lsn long")
    t.append_changes(b0, 0)
    with _pytest.raises(FileNotFoundError):
        t.read(optimized=True)
    t.compact()
    assert sorted((r.id, r.v) for r in t.read(optimized=True).collect()) == [
        (1, "a"),
        (2, "b"),
    ]
    t.append_changes(
        spark.createDataFrame([(1, "a2", 2)], "id long, v string, _lsn long"), 1
    )
    snap = {r.id: r.v for r in t.read().collect()}
    ro = {r.id: r.v for r in t.read(optimized=True).collect()}
    assert snap == {1: "a2", 2: "b"}   # snapshot merges the new delta
    assert ro == {1: "a", 2: "b"}      # read-optimized stays at the base


def test_zorder_key_int_columns_and_empty_table(spark, tmp_path):
    """Regression pins for the clustering service: (1) IntegerType
    cluster columns with values >= 2^15 must produce the same Morton keys
    as long columns (shiftleft on int operands sign-extends/aliases
    without the internal long-cast); (2) clustering an empty table must
    not crash — it degrades to a plain rewrite."""
    from debezium_emr_hudi_deltastreamer_sample_spark.functions import zorder_key
    from debezium_emr_hudi_deltastreamer_sample_spark.table import KeyedTable

    df = spark.createDataFrame(
        [(40000, 50000)], "xi int, yi int"
    ).selectExpr("xi", "yi", "cast(xi as long) AS xl", "cast(yi as long) AS yl")
    r = df.select(
        zorder_key(F.col("xi"), F.col("yi"), 17).alias("zi"),
        zorder_key(F.col("xl"), F.col("yl"), 17).alias("zl"),
    ).first()
    assert r.zi == r.zl and r.zi > 0

    path = str(tmp_path / "empty_zt")
    spark.createDataFrame([], "id long, x long, y long").write.parquet(path)
    t = KeyedTable(spark, path, keys=["id"], op_col=None)
    t.compact(target_partitions=2, cluster_by=["x", "y"])  # must not raise
    assert spark.read.parquet(path).count() == 0


# -- IncrementalJoinView (streaming/ivm.py) ---------------------------------

FACT_SCHEMA = "fid int, fk int, amount int, op string, _lsn long"
DIM_SCHEMA = "did int, name string, op string, _lsn long"


def make_view(spark, tmp_path, how="inner"):
    from debezium_emr_hudi_deltastreamer_sample_spark.streaming.ivm import IncrementalJoinView

    return IncrementalJoinView(
        spark, str(tmp_path / "v"), fact_keys=["fid"], fk="fk",
        dim_key="did", how=how,
    )


def view_state(v):
    return {r.fid: (r.fk, r.amount, r.name) for r in v.read().collect()}


def test_ivm_fact_and_dim_batches_build_join(spark, tmp_path):
    v = make_view(spark, tmp_path)
    v.apply_dim_batch(
        spark.createDataFrame([(1, "a", "u", 1), (2, "b", "u", 1)], DIM_SCHEMA)
    )
    v.apply_fact_batch(
        spark.createDataFrame(
            [(10, 1, 100, "u", 1), (11, 2, 200, "u", 1), (12, 9, 300, "u", 1)],
            FACT_SCHEMA,
        )
    )
    # fid 12 references a missing dim key — absent under inner join.
    assert view_state(v) == {10: (1, 100, "a"), 11: (2, 200, "b")}


def test_ivm_repeated_refresh_compiles_no_new_classes(spark, tmp_path):
    """The generated-class cache (session.CODEGEN_CACHE_ENTRIES) holds a
    whole refresh: once the view's plans have settled (the first merges
    after the bootstrap still change the tables' file layout), a fact
    batch of the same shape compiles no new class. Spark's default
    100-entry cache evicted them: 21-29 recompilations per warm refresh."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compilations():
        return metrics.METRIC_COMPILATION_TIME().getCount()

    v = make_view(spark, tmp_path)
    v.apply_dim_batch(
        spark.createDataFrame([(1, "a", "u", 1), (2, "b", "u", 1)], DIM_SCHEMA)
    )

    def fact_batch(lsn):
        rows = [(10, 1, lsn, "u", lsn), (11, 2, lsn, "u", lsn), (12, 1, lsn, "d", lsn)]
        v.apply_fact_batch(spark.createDataFrame(rows, FACT_SCHEMA))

    for lsn in (1, 2, 3):  # bootstrap, then two merges
        fact_batch(lsn)
    added = []
    for lsn in (4, 5, 6):
        before = compilations()
        fact_batch(lsn)
        added.append(compilations() - before)
    # The counter is JVM-wide: the least of three repeats discounts a
    # stray compilation by another test's background thread.
    assert min(added) == 0, added
    assert view_state(v) == {10: (1, 6, "a"), 11: (2, 6, "b")}


def test_ivm_dim_delete_retracts_inner_join_rows(spark, tmp_path):
    v = make_view(spark, tmp_path)
    v.apply_dim_batch(
        spark.createDataFrame([(1, "a", "u", 1), (2, "b", "u", 1)], DIM_SCHEMA)
    )
    v.apply_fact_batch(
        spark.createDataFrame(
            [(10, 1, 100, "u", 1), (11, 2, 200, "u", 1)], FACT_SCHEMA
        )
    )
    # Deleting dim key 2 must retract fid 11 from the INNER view even
    # though no fact row changed — the gone-key path.
    v.apply_dim_batch(spark.createDataFrame([(2, None, "d", 2)], DIM_SCHEMA))
    assert view_state(v) == {10: (1, 100, "a")}


def test_ivm_fact_repoint_and_delete(spark, tmp_path):
    v = make_view(spark, tmp_path)
    v.apply_dim_batch(
        spark.createDataFrame([(1, "a", "u", 1), (2, "b", "u", 1)], DIM_SCHEMA)
    )
    batch = spark.createDataFrame(
        [(10, 1, 100, "u", 1), (11, 1, 200, "u", 1)], FACT_SCHEMA
    )
    v.apply_fact_batch(batch)
    # Re-point fid 10 to dim 2 and delete fid 11 in one batch.
    v.apply_fact_batch(
        spark.createDataFrame(
            [(10, 2, 150, "u", 2), (11, None, None, "d", 2)], FACT_SCHEMA
        )
    )
    assert view_state(v) == {10: (2, 150, "b")}
    # At-least-once replay of the FIRST batch: latest-wins by _lsn inside
    # the fact table keeps the newer state... but KeyedTable gives the
    # incoming batch priority over the snapshot, so a true replay must be
    # guarded upstream (batch-id dedup, as in streaming.rollup). What IS
    # contractual here: re-applying the LATEST batch is a no-op.
    v.apply_fact_batch(
        spark.createDataFrame(
            [(10, 2, 150, "u", 2), (11, None, None, "d", 2)], FACT_SCHEMA
        )
    )
    assert view_state(v) == {10: (2, 150, "b")}


def test_ivm_left_join_keeps_unmatched_facts(spark, tmp_path):
    v = make_view(spark, tmp_path, how="left")
    v.apply_dim_batch(spark.createDataFrame([(1, "a", "u", 1)], DIM_SCHEMA))
    v.apply_fact_batch(
        spark.createDataFrame(
            [(10, 1, 100, "u", 1), (12, 9, 300, "u", 1)], FACT_SCHEMA
        )
    )
    assert view_state(v) == {10: (1, 100, "a"), 12: (9, 300, None)}


def test_first_batch_delete_supersedes_earlier_insert(spark, tmp_path):
    """Regression: when a table's FIRST batch carries insert+delete of the
    same key (a whole change feed replayed in one micro-batch), the
    newest change must win BEFORE deletes are dropped — the key must not
    resurrect through the superseded insert."""
    t = make_table(spark, tmp_path, partitioned=False)
    t.upsert(
        spark.createDataFrame(
            [
                (1, "eu", 10, "c", 1),
                (1, None, None, "d", 2),   # newest change for key 1: delete
                (2, "us", 20, "c", 1),
            ],
            CH_SCHEMA,
        )
    )
    assert state(t) == {2: ("us", 20)}


def test_ivm_partitioned_view_retracts_across_partitions(spark, tmp_path):
    """Regression (review finding): with a partitioned view, a retraction
    must carry the stale row's REAL partition value — a null-filled
    delete row lands in the wrong partition and the partition-pruned
    merge silently drops the retraction."""
    from debezium_emr_hudi_deltastreamer_sample_spark.streaming.ivm import IncrementalJoinView

    v = IncrementalJoinView(
        spark, str(tmp_path / "vp"), fact_keys=["fid"], fk="fk",
        dim_key="did", how="inner", partition_by=["region"],
    )
    v.apply_dim_batch(
        spark.createDataFrame([(1, "a", "u", 1), (2, "b", "u", 1)], DIM_SCHEMA)
    )
    # region is a fact column so fact/view partition identically.
    fact_schema = "fid int, fk int, region string, amount int, op string, _lsn long"
    v.apply_fact_batch(
        spark.createDataFrame(
            [(10, 1, "eu", 100, "u", 1), (11, 2, "us", 200, "u", 1)], fact_schema
        )
    )
    v.apply_fact_batch(
        spark.createDataFrame(
            [(11, 2, "us", None, "d", 2)], fact_schema
        )
    )
    assert {r.fid for r in v.read().collect()} == {10}


def test_ivm_partitioned_view_reads_itself_only_to_retract(spark, tmp_path):
    """A partitioned view fetches stale rows (for their partition values)
    only on a batch that retracts: an update batch reads the view once,
    for the merge; a batch that deletes a fact (leaving its partition
    non-empty) reads it once more."""
    from debezium_emr_hudi_deltastreamer_sample_spark.streaming.ivm import IncrementalJoinView

    v = IncrementalJoinView(
        spark, str(tmp_path / "vp"), fact_keys=["fid"], fk="fk",
        dim_key="did", how="inner", partition_by=["region"],
    )
    v.apply_dim_batch(
        spark.createDataFrame([(1, "a", "u", 1), (2, "b", "u", 1)], DIM_SCHEMA)
    )
    fact_schema = "fid int, fk int, region string, amount int, op string, _lsn long"
    v.apply_fact_batch(
        spark.createDataFrame(
            [(10, 1, "eu", 100, "u", 1), (11, 2, "us", 200, "u", 1),
             (12, 1, "us", 300, "u", 1)],
            fact_schema,
        )
    )
    reads = []
    real_read = v.view.read

    def counting_read(*a, **k):
        reads.append(1)
        return real_read(*a, **k)

    v.view.read = counting_read
    v.apply_fact_batch(spark.createDataFrame([(10, 2, "eu", 150, "u", 2)], fact_schema))
    assert len(reads) == 1
    del reads[:]
    v.apply_fact_batch(spark.createDataFrame([(11, 2, "us", None, "d", 3)], fact_schema))
    assert len(reads) == 2
    v.view.read = real_read
    assert {(r.fid, r.region, r.amount, r.name) for r in v.read().collect()} == {
        (10, "eu", 150, "b"), (12, "us", 300, "a")
    }


def test_ivm_partitioned_left_view_keeps_late_dim_columns(spark, tmp_path):
    """Regression (round-4 review finding): how='left' + partition_by —
    facts land first in TWO partitions, then a dim batch touches only one
    of them. The dynamic-overwrite rewrite leaves old-schema files in the
    untouched partition, so without schema-merged reads the view's dim
    columns vanish nondeterministically depending on which footer Spark
    picks. The view must show the dim column everywhere (null where no
    dim matched)."""
    from debezium_emr_hudi_deltastreamer_sample_spark.streaming.ivm import (
        IncrementalJoinView,
    )

    v = IncrementalJoinView(
        spark, str(tmp_path / "vlp"), fact_keys=["fid"], fk="fk",
        dim_key="did", how="left", partition_by=["region"],
    )
    fact_schema = (
        "fid int, fk int, region string, amount int, op string, _lsn long"
    )
    v.apply_fact_batch(
        spark.createDataFrame(
            [(10, 1, "eu", 100, "u", 1), (11, 2, "us", 200, "u", 1)],
            fact_schema,
        )
    )
    # Dim lands AFTER the facts and matches only the eu-partition fact.
    v.apply_dim_batch(
        spark.createDataFrame([(1, "alpha", "u", 1)], DIM_SCHEMA)
    )
    out = v.read()
    assert "name" in out.columns  # visible across the WHOLE view
    state = {r.fid: r.name for r in out.collect()}
    assert state == {10: "alpha", 11: None}


def test_ivm_rejects_reserved_column_names(spark, tmp_path):
    """A fact column named like IVM's internal machinery (_op, _ivm_seq,
    __ivm_dkey) would be clobbered or stripped silently — must be refused
    with a clear error."""
    import pytest as _pytest

    from debezium_emr_hudi_deltastreamer_sample_spark.streaming.ivm import (
        IncrementalJoinView,
    )

    v = IncrementalJoinView(
        spark, str(tmp_path / "vr"), fact_keys=["fid"], fk="fk", dim_key="did"
    )
    v.apply_dim_batch(
        spark.createDataFrame([(1, "a", "u", 1)], DIM_SCHEMA)
    )
    with _pytest.raises(ValueError, match="reserved"):
        v.apply_fact_batch(
            spark.createDataFrame(
                [(10, 1, "x", "u", 1)],
                "fid int, fk int, _op string, op string, _lsn long",
            )
        )


def test_merge_rejects_reserved_working_columns(spark):
    """merge_upsert/latest_by_key must refuse inputs carrying __rn/__pri
    instead of silently destroying those data columns."""
    import pytest as _pytest

    from debezium_emr_hudi_deltastreamer_sample_spark.operators.merge import (
        latest_by_key,
        merge_upsert,
    )

    df = spark.createDataFrame([(1, 2, 3)], "id int, __pri int, _lsn long")
    with _pytest.raises(ValueError, match="reserved"):
        latest_by_key(df, ["id"], ["_lsn"])
    clean = spark.createDataFrame([(1, 5, 1)], "id int, v int, _lsn long")
    with _pytest.raises(ValueError, match="reserved"):
        merge_upsert(
            df.select("id", F.col("__pri").alias("__rn"), "_lsn"),
            clean, ["id"], ["_lsn"], op_col=None,
        )


def test_ivm_rejects_colliding_column_names(spark, tmp_path):
    """The disjoint-columns contract fails fast with a clear error, not an
    ambiguous-reference AnalysisException deep inside the refresh."""
    import pytest as _pytest

    from debezium_emr_hudi_deltastreamer_sample_spark.streaming.ivm import IncrementalJoinView

    with _pytest.raises(ValueError, match="distinct names"):
        IncrementalJoinView(
            spark, str(tmp_path / "vk"), fact_keys=["fid"], fk="k", dim_key="k"
        )
    v = IncrementalJoinView(
        spark, str(tmp_path / "vc"), fact_keys=["fid"], fk="fk", dim_key="did"
    )
    v.apply_dim_batch(
        spark.createDataFrame([(1, "x", "u", 1)], "did int, amount string, op string, _lsn long")
    )
    with _pytest.raises(ValueError, match="disjoint"):
        v.apply_fact_batch(
            spark.createDataFrame([(10, 1, 5, "u", 1)], "fid int, fk int, amount int, op string, _lsn long")
        )


def test_ivm_collision_check_runs_before_mutation(spark, tmp_path):
    """A colliding batch must be rejected BEFORE any table mutation —
    otherwise schema reconciliation persists the colliding column into
    the fact store and every later CLEAN batch fails too."""
    import pytest as _pytest

    from debezium_emr_hudi_deltastreamer_sample_spark.streaming.ivm import IncrementalJoinView

    v = IncrementalJoinView(
        spark, str(tmp_path / "vm"), fact_keys=["fid"], fk="fk", dim_key="did"
    )
    v.apply_dim_batch(
        spark.createDataFrame(
            [(1, "x", "u", 1)], "did int, label string, op string, _lsn long"
        )
    )
    bad = spark.createDataFrame(
        [(10, 1, "boom", "u", 1)], "fid int, fk int, label string, op string, _lsn long"
    )
    with _pytest.raises(ValueError, match="disjoint"):
        v.apply_fact_batch(bad)
    # The rejected batch must not have poisoned the fact store: a clean
    # batch still applies, and the view materializes.
    v.apply_fact_batch(
        spark.createDataFrame(
            [(10, 1, 100, "u", 1)], FACT_SCHEMA
        )
    )
    assert {(r.fid, r.label) for r in v.read().collect()} == {(10, "x")}


def test_ivm_fact_column_named_like_dim_key_rejected(spark, tmp_path):
    """A fact column named exactly like dim_key would make the join
    condition ambiguous — the pre-mutation check must catch it (dim_key
    is not exempt from the overlap)."""
    import pytest as _pytest

    from debezium_emr_hudi_deltastreamer_sample_spark.streaming.ivm import IncrementalJoinView

    v = IncrementalJoinView(
        spark, str(tmp_path / "vd"), fact_keys=["fid"], fk="fk", dim_key="did"
    )
    v.apply_dim_batch(
        spark.createDataFrame([(1, "x", "u", 1)], DIM_SCHEMA)
    )
    with _pytest.raises(ValueError, match="disjoint"):
        v.apply_fact_batch(
            spark.createDataFrame(
                [(10, 1, 1, "u", 1)],
                "fid int, fk int, did int, op string, _lsn long",
            )
        )


def test_ivm_left_join_facts_before_dim(spark, tmp_path):
    """how='left': facts may arrive before ANY dim batch — rows
    materialize immediately without dim columns, and the dim's later
    arrival backfills the matching rows via the refresh."""
    v = make_view(spark, tmp_path, how="left")
    v.apply_fact_batch(
        spark.createDataFrame(
            [(10, 1, 100, "u", 1), (12, 9, 300, "u", 1)], FACT_SCHEMA
        )
    )
    assert {r.fid for r in v.read().collect()} == {10, 12}
    v.apply_dim_batch(spark.createDataFrame([(1, "a", "u", 1)], DIM_SCHEMA))
    assert view_state(v) == {10: (1, 100, "a"), 12: (9, 300, None)}


def test_ivm_inner_join_facts_before_dim(spark, tmp_path):
    """how='inner': facts before any dim stay OUT of the view until a dim
    batch brings their match."""
    v = make_view(spark, tmp_path)
    v.apply_fact_batch(
        spark.createDataFrame([(10, 1, 100, "u", 1)], FACT_SCHEMA)
    )
    assert not v.view.exists() or v.read().count() == 0
    v.apply_dim_batch(spark.createDataFrame([(1, "a", "u", 1)], DIM_SCHEMA))
    assert view_state(v) == {10: (1, 100, "a")}


def test_ivm_random_batch_sequence_equals_direct_join(spark, tmp_path):
    """Property: for ANY interleaved sequence of fact/dim CDC batches
    (inserts, updates, FK re-points, deletes on both sides), the
    maintained view equals the direct join of the final fact and dim
    states. Seeded python RNG drives the sequence; the direct join is
    recomputed from the same KeyedTables the maintainer wrote, so the
    comparison isolates the VIEW maintenance logic."""
    import random

    from debezium_emr_hudi_deltastreamer_sample_spark.streaming.ivm import IncrementalJoinView

    for seed in (7, 23):
        rng = random.Random(seed)
        for how in ("inner", "left"):
            v = IncrementalJoinView(
                spark, str(tmp_path / f"vr{seed}{how}"), fact_keys=["fid"],
                fk="fk", dim_key="did", how=how,
            )
            lsn = 0
            for _step in range(6):
                lsn += 1
                if rng.random() < 0.5:
                    rows = [
                        (
                            rng.randrange(8),          # fid: small space → collisions
                            rng.randrange(5),          # fk
                            rng.randrange(1000),       # amount
                            "d" if rng.random() < 0.25 else "u",
                            lsn,
                        )
                        for _ in range(rng.randrange(1, 5))
                    ]
                    v.apply_fact_batch(spark.createDataFrame(rows, FACT_SCHEMA))
                else:
                    rows = [
                        (
                            rng.randrange(5),          # did
                            f"n{rng.randrange(100)}",
                            "d" if rng.random() < 0.2 else "u",
                            lsn,
                        )
                        for _ in range(rng.randrange(1, 4))
                    ]
                    v.apply_dim_batch(spark.createDataFrame(rows, DIM_SCHEMA))
            if not v.fact.exists():
                continue
            fact = v.fact.read()
            if v.dim.exists():
                direct = fact.join(
                    v.dim.read(), F.col("fk") == F.col("did"), how
                ).drop("did")
            elif how == "left":
                direct = fact
            else:
                direct = fact.limit(0)
            # Compare every column both sides carry — crucially including
            # the dim-side 'name' when present, which catches stale view
            # rows after a dim update.
            cols = sorted(set(v.read().columns) & set(direct.columns))
            got = sorted(map(tuple, v.read().select(*cols).collect()))
            want = sorted(map(tuple, direct.select(*cols).collect()))
            assert got == want, f"seed={seed} how={how} cols={cols}"
            assert "fid" in cols and "amount" in cols


from hypothesis import HealthCheck as _HC, given as _given, settings as _hset
from hypothesis import strategies as _st

_mor_change = _st.tuples(
    _st.integers(0, 5),                  # key id
    _st.integers(0, 99),                 # value payload
    _st.sampled_from(["c", "u", "d"]),   # op
)


@_given(
    changes=_st.lists(_mor_change, min_size=1, max_size=24),
    cuts=_st.lists(_st.integers(0, 23), max_size=3),
    compact_after=_st.lists(_st.booleans(), max_size=4),
)
@_hset(
    max_examples=6,
    deadline=None,
    suppress_health_check=[_HC.function_scoped_fixture],
)
def test_mor_property_any_batching_any_compaction(
    spark, tmp_path_factory, changes, cuts, compact_after
):
    """Property: for ANY change sequence, ANY split into delta batches,
    and ANY interleaving of compactions, the MOR snapshot equals a plain
    dict replay (latest (batch, lsn) wins, deletes drop the key) — the
    invariant the MVCC base/delta/retirement machinery must preserve."""
    from debezium_emr_hudi_deltastreamer_sample_spark.table import DeltaLogTable

    rows = [
        (k, f"v{val}", op, i) for i, (k, val, op) in enumerate(changes)
    ]
    bounds = sorted({0, len(rows), *[min(c, len(rows)) for c in cuts]})
    slices = [s for s in zip(bounds, bounds[1:]) if s[0] < s[1]]

    t = DeltaLogTable(
        spark,
        str(tmp_path_factory.mktemp("morprop")),
        keys=["id"],
        ordering=["_lsn"],
    )
    state: dict[int, str] = {}
    for i, (lo, hi) in enumerate(slices):
        batch = spark.createDataFrame(
            rows[lo:hi], "id int, v string, op string, _lsn long"
        )
        t.append_changes(batch, i)
        for k, v, op, _lsn in rows[lo:hi]:  # dict replay in arrival order
            if op == "d":
                state.pop(k, None)
            else:
                state[k] = v
        if i < len(compact_after) and compact_after[i]:
            t.compact()
        got = {(r.id, r.v) for r in t.read().select("id", "v").collect()}
        assert got == set(state.items()), (i, slices, compact_after)


def test_mor_schema_drift_merge_schema(spark, tmp_path):
    """B11 on the MOR axis: a delta batch carrying a NEW column must
    survive the merge-on-read view AND the next compaction (round-8 find:
    a delta-dir read that infers from ONE arbitrary footer made the
    drifted column nondeterministically vanish — and the compaction
    folded the loss into the base permanently)."""
    from debezium_emr_hudi_deltastreamer_sample_spark.table import DeltaLogTable

    p = str(tmp_path / "mor_drift")
    t = DeltaLogTable(spark, p, keys=["id"], ordering=["_lsn"])
    t.append_changes(
        spark.createDataFrame(
            [(1, "a", "c", 10)], "id int, name string, op string, _lsn long"
        ),
        0,
    )
    t.append_changes(
        spark.createDataFrame(
            [(2, "b", 99, "c", 20), (1, "a2", 7, "u", 21)],
            "id int, name string, bonus int, op string, _lsn long",
        ),
        1,
    )
    got = {r["id"]: (r["name"], r["bonus"]) for r in t.read().collect()}
    assert got == {1: ("a2", 7), 2: ("b", 99)}
    t.compact()
    got = {r["id"]: (r["name"], r["bonus"]) for r in t.read().collect()}
    assert got == {1: ("a2", 7), 2: ("b", 99)}
    # A fresh instance (foreachBatch constructs one per micro-batch)
    # keeps the reconciled view, and incremental pull still works.
    t3 = DeltaLogTable(spark, p, keys=["id"])
    t3.append_changes(
        spark.createDataFrame(
            [(3, "c", "c", 30)], "id int, name string, op string, _lsn long"
        ),
        2,
    )
    assert {r["id"] for r in t3.read_incremental(1).collect()} == {3}
    got = {r["id"]: r["name"] for r in t3.read().collect()}
    assert got == {1: "a2", 2: "b", 3: "c"}


def test_upsert_emptying_batch_never_poisons_the_stream(spark, tmp_path):
    """fuzz_cdc find (round 8): a batch that leaves the table EMPTY must
    not crash the write path. A partitioned empty overwrite leaves a
    footer-less dir, and the old `_publish_snapshot(self.read())` form
    re-read it eagerly (even with keep_history=0, where the publish is a
    no-op) → UNABLE_TO_INFER_SCHEMA → foreachBatch would retry the poison
    batch forever. Covers both crash sites: the bootstrap path (first
    batch's newest changes are all deletes) and the merge path (deletes
    empty every partition)."""
    from debezium_emr_hudi_deltastreamer_sample_spark.table import KeyedTable

    # Bootstrap: first batch's survivors are empty after delete-drop.
    t = KeyedTable(
        spark, str(tmp_path / "t1"), keys=["id"], ordering=["_lsn"],
        op_col="op", partition_by=["dept"],
    )
    b = spark.createDataFrame(
        [(1, "eng", "c", 1), (1, "eng", "d", 2)],
        "id int, dept string, op string, _lsn long",
    )
    t.upsert(b)  # must not raise
    assert not t.exists()  # empty ≡ missing, per the exists() contract

    # Merge path: a live table fully emptied by deletes.
    t2 = KeyedTable(
        spark, str(tmp_path / "t2"), keys=["id"], ordering=["_lsn"],
        op_col="op", partition_by=["dept"],
    )
    t2.upsert(
        spark.createDataFrame(
            [(1, "eng", "c", 1), (2, "ops", "c", 2)],
            "id int, dept string, op string, _lsn long",
        )
    )
    t2.upsert(
        spark.createDataFrame(
            [(1, "eng", "d", 3), (2, "ops", "d", 4)],
            "id int, dept string, op string, _lsn long",
        )
    )
    assert not t2.exists()
    # And the stream recovers: a later insert bootstraps cleanly.
    t2.upsert(
        spark.createDataFrame(
            [(3, "eng", "c", 5)], "id int, dept string, op string, _lsn long"
        )
    )
    assert {r["id"] for r in t2.read().collect()} == {3}

    # keep_history: the emptying commit is RECORDED as an empty snapshot.
    t3 = KeyedTable(
        spark, str(tmp_path / "t3"), keys=["id"], ordering=["_lsn"],
        op_col="op", keep_history=5,
    )
    t3.upsert(
        spark.createDataFrame(
            [(1, "x", "c", 1)], "id int, v string, op string, _lsn long"
        )
    )
    t3.upsert(
        spark.createDataFrame(
            [(1, "x", "d", 2)], "id int, v string, op string, _lsn long"
        )
    )
    assert [s for s, _ in t3.snapshots()] == [0, 1]
    assert t3.read(as_of=0).count() == 1
    assert t3.read(as_of=1).count() == 0


def test_upsert_drift_batch_emptying_a_partition(spark, tmp_path):
    """fuzz_cdc find (round 8, third engine bug): a change batch that
    BOTH carries schema drift (new column) AND empties a partition
    crashed the vanished-partition static-rewrite fallback — untouched
    partitions are still on the old schema, so the strict unionByName
    raised NUM_COLUMNS_MISMATCH. Old rows must null-fill instead (B11)."""
    from debezium_emr_hudi_deltastreamer_sample_spark.table import KeyedTable

    t = KeyedTable(
        spark, str(tmp_path / "t"), keys=["id"], ordering=["_lsn"],
        op_col="op", partition_by=["dept"],
    )
    t.upsert(
        spark.createDataFrame(
            [(1, "eng", "a", "c", 1), (2, "ops", "b", "c", 2)],
            "id int, dept string, name string, op string, _lsn long",
        )
    )
    # Drift batch: adds `bonus`, deletes the only row of dept=ops (the
    # partition vanishes), updates dept=eng.
    t.upsert(
        spark.createDataFrame(
            [(2, "ops", "b", 0, "d", 3), (1, "eng", "a2", 7, "u", 4)],
            "id int, dept string, name string, bonus int, op string, _lsn long",
        )
    )
    got = {r["id"]: (r["dept"], r["name"], r["bonus"]) for r in t.read().collect()}
    assert got == {1: ("eng", "a2", 7)}


def test_schema_sidecar_closes_drift_partitioned_loss(spark, tmp_path):
    """Round-9 structural fix (VERDICT r8 What's-wrong #2): the persisted
    schema sidecar makes drift×partitioned correct. Before it,
    KeyedTable.read() inferred the schema from ONE arbitrary footer, so
    the upsert's own
    ``current = self.read()`` could silently DROP a reconciled column
    from partitions it rewrites — permanent loss, no error."""
    from debezium_emr_hudi_deltastreamer_sample_spark.table import KeyedTable

    t = KeyedTable(
        spark, str(tmp_path / "t"), keys=["id"], ordering=["_lsn"],
        op_col="op", partition_by=["dept"],
    )
    t.upsert(
        spark.createDataFrame(
            [(1, "eng", "a", "c", 1), (2, "ops", "b", "c", 2)],
            "id int, dept string, name string, op string, _lsn long",
        )
    )
    # Drift batch touches ONLY dept=eng: dept=ops keeps old-schema footers.
    t.upsert(
        spark.createDataFrame(
            [(1, "eng", "a2", 7, "u", 3)],
            "id int, dept string, name string, bonus int, op string, _lsn long",
        )
    )
    # Deterministic reads: the drifted column is present and stable
    # (repeat — the old failure was a footer LOTTERY, not a fixed wrong
    # answer).
    for _ in range(3):
        got = {
            r["id"]: (r["name"], r["bonus"]) for r in t.read().collect()
        }
        assert got == {1: ("a2", 7), 2: ("b", None)}
    # The loss trigger: a later batch rewrites the UNTOUCHED partition.
    # Pre-sidecar, read() could infer ops' old schema and the rewrite
    # dropped `bonus` from the table permanently.
    t.upsert(
        spark.createDataFrame(
            [(2, "ops", "b2", None, "u", 4)],
            "id int, dept string, name string, bonus int, op string, _lsn long",
        )
    )
    got = {r["id"]: (r["name"], r["bonus"]) for r in t.read().collect()}
    assert got == {1: ("a2", 7), 2: ("b2", None)}
    # Survives compaction and a fresh handle (no constructor knob).
    t.compact(target_partitions=1)
    t2 = KeyedTable(
        spark, str(tmp_path / "t"), keys=["id"], ordering=["_lsn"],
        op_col="op", partition_by=["dept"],
    )
    got = {r["id"]: (r["name"], r["bonus"]) for r in t2.read().collect()}
    assert got == {1: ("a2", 7), 2: ("b2", None)}
    # Column ORDER is stable across reads (sidecar-declared, not
    # footer-dependent).
    assert t2.read().columns == t.read().columns


def test_schema_sidecar_replace_has_no_narrow_crash_window(spark, tmp_path):
    """Round-9 review finding: a table REPLACE (init / re-bootstrap /
    compact_history) must commit the schema in TWO phases — widen to
    union(old, new) BEFORE the data write, reset to exactly-new after —
    so a crash between write and publish on a WIDENING replace cannot
    serve the new data through the stale-narrow sidecar (which would
    project the new column out, and the next rewrite would drop it
    permanently). Simulated by failing the write itself: at that point
    the sidecar must ALREADY carry the union."""
    import pytest

    from debezium_emr_hudi_deltastreamer_sample_spark.table import KeyedTable

    path = str(tmp_path / "t")
    t = KeyedTable(spark, path, keys=["id"], ordering=["_lsn"], op_col="op")
    t.init(spark.createDataFrame([(1, "a")], "id int, name string"))
    assert t.schema_sidecar.current().fieldNames() == ["id", "name"]

    wide = spark.createDataFrame([(1, "a2", 7)], "id int, name string, bonus int")
    real_write = t._write

    def failing_write(*args, **kwargs):
        raise RuntimeError("injected crash during the replace write")

    t._write = failing_write
    with pytest.raises(RuntimeError, match="injected crash"):
        t.init(wide)
    # Crash window state: old data on disk, sidecar already WIDENED —
    # wide-over-narrow is harmless (phantom column null-fills) ...
    assert t.schema_sidecar.current().fieldNames() == ["id", "name", "bonus"]
    assert {r["id"]: r["bonus"] for r in t.read().collect()} == {1: None}
    # ... and had the crash landed AFTER the write instead, the same
    # widened sidecar serves the new data with its new column intact.
    t._write = real_write
    t.init(wide)
    assert t.schema_sidecar.current().fieldNames() == ["id", "name", "bonus"]
    assert {r["bonus"] for r in t.read().collect()} == {7}
    # Completed replace in the NARROWING direction still resets exactly.
    t.init(spark.createDataFrame([(1, "z")], "id int, name string"))
    assert t.schema_sidecar.current().fieldNames() == ["id", "name"]


def test_schema_sidecar_reset_and_fallback(spark, tmp_path):
    """Sidecar lifecycle: init RESETS the persisted schema (table
    replace); a table whose sidecar is gone still reads (its footers are
    merged); publish is monotone-union for upserts."""
    import shutil

    from debezium_emr_hudi_deltastreamer_sample_spark.table import KeyedTable

    path = str(tmp_path / "t")
    t = KeyedTable(spark, path, keys=["id"], ordering=["_lsn"], op_col="op")
    t.upsert(
        spark.createDataFrame(
            [(1, "a", 5, "c", 1)],
            "id int, name string, bonus int, op string, _lsn long",
        )
    )
    assert t.schema_sidecar.current().fieldNames() == ["id", "name", "bonus"]
    # init = replace: the sidecar resets to exactly the new schema.
    t.init(spark.createDataFrame([(1, "x")], "id int, name string"))
    assert t.schema_sidecar.current().fieldNames() == ["id", "name"]
    # Upsert widens monotonically (union keeps existing order, appends).
    t.upsert(
        spark.createDataFrame(
            [(2, "y", 3, "c", 2)],
            "id int, name string, extra int, op string, _lsn long",
        )
    )
    assert t.schema_sidecar.current().fieldNames() == ["id", "name", "extra"]
    # A table whose sidecar is gone reads by merging its footers.
    shutil.rmtree(f"{path}__schema")
    assert t.schema_sidecar.current() is None
    assert {r["id"] for r in t.read().collect()} == {1, 2}


def test_external_parquet_dir_reads_every_footer(spark, tmp_path):
    """A parquet directory the engine did not write has no schema
    sidecar. Its read merges every footer: a column only the second file
    carries is not lost to the first file's footer."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = tmp_path / "external"
    path.mkdir()
    pq.write_table(
        pa.table({"id": pa.array([1], pa.int32()), "name": ["a"]}),
        str(path / "part-00000-a.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "id": pa.array([2], pa.int32()),
                "name": ["b"],
                "bonus": pa.array([7], pa.int32()),
            }
        ),
        str(path / "part-00001-b.parquet"),
    )
    t = KeyedTable(spark, str(path), keys=["id"])
    assert t.schema_sidecar.current() is None
    df = t.read()
    assert set(df.columns) == {"id", "name", "bonus"}
    got = {r["id"]: (r["name"], r["bonus"]) for r in df.collect()}
    assert got == {1: ("a", None), 2: ("b", 7)}


def test_mor_delta_sidecar_drift_without_knob(spark, tmp_path):
    """MOR twin of the sidecar fix: schema drift in the delta log is
    served correctly with no constructor option — the persisted delta-log
    schema (union of appended batches) drives the read, so the drifted
    column cannot vanish from the merge-on-read view or the folded
    base."""
    from debezium_emr_hudi_deltastreamer_sample_spark.table import DeltaLogTable

    p = str(tmp_path / "mor")
    t = DeltaLogTable(spark, p, keys=["id"], ordering=["_lsn"])
    t.append_changes(
        spark.createDataFrame(
            [(1, "a", "c", 1), (2, "b", "c", 2)],
            "id int, name string, op string, _lsn long",
        ),
        batch_id=0,
    )
    t.append_changes(
        spark.createDataFrame(
            [(1, "a2", 9, "u", 3)],
            "id int, name string, bonus int, op string, _lsn long",
        ),
        batch_id=1,
    )
    for _ in range(3):
        got = {r["id"]: (r["name"], r["bonus"]) for r in t.read().collect()}
        assert got == {1: ("a2", 9), 2: ("b", None)}
    t.compact()
    got = {
        r["id"]: (r["name"], r["bonus"])
        for r in t.read(optimized=True).collect()
    }
    assert got == {1: ("a2", 9), 2: ("b", None)}


def test_parquet_data_exists_probe(spark, tmp_path):
    """The FS-level existence probe (round-12 optimization: replaces the
    ~90 ms DataFrame-construction probe in KeyedTable.exists) must keep the
    MISSING/EMPTY contract: missing dir and footer-less dirs are False,
    crash garbage under _temporary/hidden segments is invisible, real data
    (flat or partitioned) is True."""
    from debezium_emr_hudi_deltastreamer_sample_spark.fsutil import (
        parquet_data_exists,
    )

    # Missing directory.
    assert not parquet_data_exists(spark, str(tmp_path / "missing"))

    # Directory with only a _SUCCESS marker (empty write).
    d = tmp_path / "emptyish"
    d.mkdir()
    (d / "_SUCCESS").touch()
    assert not parquet_data_exists(spark, str(d))

    # Crash garbage: parquet files only below _temporary / hidden dirs —
    # Spark's reader ignores them, the probe must too.
    tdir = d / "_temporary" / "0"
    tdir.mkdir(parents=True)
    (tdir / "part-00000.parquet").write_bytes(b"not really parquet")
    (d / ".hidden").mkdir()
    (d / ".hidden" / "x.parquet").write_bytes(b"nope")
    assert not parquet_data_exists(spark, str(d))

    # Flat table.
    flat = str(tmp_path / "flat")
    spark.range(3).write.parquet(flat)
    assert parquet_data_exists(spark, flat)

    # Hive-partitioned table (data files one level down).
    part = str(tmp_path / "part")
    spark.range(4).withColumn("p", F.col("id") % 2).write.partitionBy(
        "p"
    ).parquet(part)
    assert parquet_data_exists(spark, part)

    # KeyedTable.exists agrees end to end: bootstrap then probe.
    t = make_table(spark, tmp_path, partitioned=False)
    assert not t.exists()
    t.upsert(spark.createDataFrame([(1, "eu", 10, "c", 1)], CH_SCHEMA))
    assert t.exists()
