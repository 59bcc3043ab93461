"""True-concurrency hunts for the commit-path metadata protocols: threaded
schema-sidecar publishers racing readers mid-trim, and threaded writer-lease
claims. The CDC fuzzer's writers lane covers the deterministic interleaves;
these drive the REAL races (py4j calls from many Python threads) and assert
the invariants the protocols sell: no torn reads, no narrowed schemas, no
double-owned epochs. Round-10 verdict task 5."""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import types as T

from debezium_emr_hudi_deltastreamer_sample_spark.table import (
    SchemaSidecar,
    WriterLease,
)


def _field(name: str) -> T.StructField:
    return T.StructField(name, T.IntegerType())


@pytest.mark.slow
@pytest.mark.parametrize("protocol", ["rename", "pointer"])
def test_sidecar_threaded_publishers_and_readers(
    spark, tmp_path, monkeypatch, protocol
):
    """4 publisher threads push disjoint columns (monotone union) while 4
    reader threads hammer current() through the retention churn.
    Invariants: a reader NEVER sees None once the first publish landed
    (torn read), never loses a column it has already seen (narrowed
    read), and the final schema holds every published column."""
    monkeypatch.setenv("SPARK_GRAFT_COMMIT_PROTOCOL", protocol)
    side = SchemaSidecar(spark, str(tmp_path / "t"))
    side.publish(T.StructType([_field("id")]))

    n_pub, cols_each = 4, 5
    all_cols = {f"p{p}c{i}" for p in range(n_pub) for i in range(cols_each)}
    errors: list[str] = []
    stop = threading.Event()

    def publisher(p: int) -> None:
        try:
            for i in range(cols_each):
                side.publish(T.StructType([_field("id"), _field(f"p{p}c{i}")]))
        except Exception as e:  # noqa: BLE001 — a crash IS a finding
            errors.append(f"publisher {p}: {type(e).__name__}: {e}")

    def reader(r: int) -> None:
        seen: set[str] = set()
        try:
            while not stop.is_set():
                cur = side.current()
                if cur is None:
                    errors.append(f"reader {r}: torn read (None mid-churn)")
                    return
                names = {f.name for f in cur.fields}
                if not seen <= names:
                    errors.append(
                        f"reader {r}: narrowed read — lost {seen - names}"
                    )
                    return
                seen = names
        except Exception as e:  # noqa: BLE001
            errors.append(f"reader {r}: {type(e).__name__}: {e}")

    readers = [threading.Thread(target=reader, args=(r,)) for r in range(4)]
    pubs = [threading.Thread(target=publisher, args=(p,)) for p in range(n_pub)]
    for t in readers + pubs:
        t.start()
    for t in pubs:
        t.join(120)
    stop.set()
    for t in readers:
        t.join(60)
    assert not errors, errors[:5]
    final = {f.name for f in side.current().fields}
    assert final == all_cols | {"id"}, sorted(all_cols - final)


@pytest.mark.slow
def test_lease_threaded_takeover_storm(spark, tmp_path):
    """8 threads, distinct writer ids, all spinning ensure(take_over=True):
    every claim must eventually succeed (no livelock), epochs strictly
    increase, and every PUBLISHED epoch resolves to exactly one owner."""
    lease_of = lambda wid: WriterLease(spark, str(tmp_path / "t"), wid)  # noqa: E731
    errors: list[str] = []

    def claimant(w: int) -> None:
        lease = lease_of(f"w{w}")
        try:
            for _ in range(6):
                lease.ensure(take_over=True)
        except Exception as e:  # noqa: BLE001
            errors.append(f"w{w}: {type(e).__name__}: {e}")

    threads = [threading.Thread(target=claimant, args=(w,)) for w in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(120)
    assert not errors, errors[:5]
    probe = lease_of("probe")
    fs, hpath = probe._log.fs()
    epochs = probe._log.entries(fs, hpath)
    assert epochs, "no epoch ever published"
    seqs = [c.seq for c in epochs]
    assert seqs == sorted(set(seqs)), "duplicate/unsorted epoch seqs"
    # Retention keeps ≤ 2; each resolved epoch has exactly one owner file.
    assert len(epochs) <= 2
    for c in epochs:
        if c.uri is not None:
            owner = probe._owner(fs, hpath, c.uri)
            assert owner is not None and owner.startswith("w")


@pytest.mark.slow
def test_lease_same_writer_many_threads_single_epoch(spark, tmp_path):
    """Racing claims from one logical writer (many threads, one id — the
    foreachBatch shape): all succeed, exactly one epoch exists after."""
    errors: list[str] = []

    def claimant() -> None:
        try:
            WriterLease(spark, str(tmp_path / "t"), "pipe").ensure()
        except Exception as e:  # noqa: BLE001
            errors.append(f"{type(e).__name__}: {e}")

    threads = [threading.Thread(target=claimant) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(60)
    assert not errors, errors[:5]
    probe = WriterLease(spark, str(tmp_path / "t"), "probe")
    fs, hpath = probe._log.fs()
    epochs = probe._log.entries(fs, hpath)
    assert [c.seq for c in epochs] == [0]
    assert probe._owner(fs, hpath, epochs[0].uri) == "pipe"


@pytest.mark.slow
@pytest.mark.parametrize("protocol", ["rename", "pointer"])
def test_rollup_threaded_multi_run_writers_exact(
    spark, tmp_path, monkeypatch, protocol
):
    """Multiple rollup RUNS (legal concurrency: one rollup fed by several
    checkpointed streams) committing in parallel under each protocol: the
    seq-only CAS + rebuild-on-new-tip loop must lose NOTHING — the final
    rollup equals the exact sum over every batch every thread applied."""
    import datetime

    from debezium_emr_hudi_deltastreamer_sample_spark.streaming.rollup import (
        IncrementalRollup,
    )

    monkeypatch.setenv("SPARK_GRAFT_COMMIT_PROTOCOL", protocol)
    roll = IncrementalRollup(
        spark, str(tmp_path / "roll"), "ts", "1 minute", ["k"], "v",
        keep_commits=4,
    )
    ts = datetime.datetime(2024, 1, 1)
    n_runs, n_batches = 3, 4
    errors: list[str] = []

    def writer(r: int) -> None:
        try:
            for b in range(n_batches):
                df = spark.createDataFrame(
                    [(f"k{r}", ts, float(10 * r + b))],
                    "k string, ts timestamp, v double",
                )
                roll.apply_batch(df, b, run_id=f"run{r}")
        except Exception as e:  # noqa: BLE001 — a crash IS a finding
            errors.append(f"run{r}: {type(e).__name__}: {e}")

    threads = [threading.Thread(target=writer, args=(r,)) for r in range(n_runs)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(300)
    assert not errors, errors[:5]
    got = {r.k: (r.n, r.total) for r in roll.read().collect()}
    want = {
        f"k{r}": (n_batches, float(sum(10 * r + b for b in range(n_batches))))
        for r in range(n_runs)
    }
    assert got == want
