"""CROSS-PROCESS lease semantics — real subprocess drivers (new pid, own
SparkSession, cold ``_LEASE_OWNER_CACHE``), the shape the round-10 threaded
hunts could not reach.

Pins the two round-11 done-criteria:
1. The engine's flagship A4 recovery path — kill the pipeline, restart
   from the SAME checkpoint in a NEW process — completes with NO manual
   ``take_over``: the writer identity derives from the checkpoint
   location (streaming.pipeline.checkpoint_writer_id).
2. A DIFFERENT-checkpoint pipeline writing the same table is still fenced
   (ConcurrentWriterError surfaces in the separate process).
3. Ad-hoc writers in two processes: the second raises loudly, the first
   keeps working — the loser-raises contract across a process boundary.

Each child is a full JVM (~30-60 s); this file stays small, the
randomized interleave hunt lives in tools/hunt_xproc_writers.py.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CHILD = os.path.join(REPO, "tools", "xproc_child.py")


def _run_child(*args: str, timeout: int = 420) -> tuple[int, str]:
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_COMMIT_PROTOCOL", None)
    proc = subprocess.run(
        [sys.executable, CHILD, *args],
        capture_output=True,
        text=True,
        timeout=timeout,
        env=env,
        cwd=REPO,
    )
    return proc.returncode, proc.stdout + proc.stderr


def _result(out: str):
    for line in out.splitlines():
        if line.startswith("RESULT "):
            return [tuple(r) for r in json.loads(line[len("RESULT "):])]
    raise AssertionError(f"no RESULT line in child output:\n{out[-2000:]}")


ROWS1 = [
    {"id": 1, "v": "a", "op": "c", "_lsn": 1},
    {"id": 2, "v": "b", "op": "c", "_lsn": 2},
]
ROWS2 = [
    {"id": 1, "v": "a2", "op": "u", "_lsn": 3},
    {"id": 3, "v": "c", "op": "c", "_lsn": 4},
]


@pytest.mark.slow
def test_checkpointed_restart_survives_lease_across_processes(tmp_path):
    """Process 1 runs the pipeline and exits (indistinguishable on disk
    from a crash: the lease epoch is never 'released'). Process 2 — new
    pid, cold owner cache — restarts from the same checkpoint and must
    complete WITHOUT take_over. Process 3 uses a different checkpoint on
    the same table and must be fenced."""
    workdir = str(tmp_path)
    os.makedirs(f"{workdir}/in")
    with open(f"{workdir}/in/batch_0.json", "w") as fh:
        fh.write("\n".join(json.dumps(r) for r in ROWS1))

    code, out = _run_child("pipeline", workdir, "ckptA")
    assert code == 0, out[-2000:]
    assert _result(out) == [(1, "a"), (2, "b")]

    # "Crash" happened; restart from the same checkpoint in a NEW process.
    with open(f"{workdir}/in/batch_1.json", "w") as fh:
        fh.write("\n".join(json.dumps(r) for r in ROWS2))
    code, out = _run_child("pipeline", workdir, "ckptA")
    assert code == 0, out[-2000:]  # round-10 behavior: FENCED here
    assert _result(out) == [(1, "a2"), (2, "b"), (3, "c")]

    # A different pipeline (other checkpoint) on the same table: fenced.
    code, out = _run_child("pipeline", workdir, "ckptB")
    assert code == 3, out[-2000:]
    assert "FENCED" in out


@pytest.mark.slow
def test_adhoc_second_process_writer_raises_first_keeps_working(spark, tmp_path):
    """Two ad-hoc drivers on one table: the second process's writer raises
    ConcurrentWriterError (reported from ITS process), the first keeps
    committing, and the table equals the winner's batches."""
    table = str(tmp_path / "t")
    b0 = [[1, "a", "c", 1]]
    b1 = [[2, "b", "c", 2]]
    rogue = [[1, "X", "u", 9]]

    code, out = _run_child("writer", table, "wA", "0", json.dumps([b0]))
    assert code == 0 and "COMMIT 0" in out, out[-2000:]
    code, out = _run_child("writer", table, "wB", "0", json.dumps([rogue]))
    assert code == 0 and "FENCED 0" in out, out[-2000:]
    code, out = _run_child("writer", table, "wA", "0", json.dumps([b1]))
    assert code == 0 and "COMMIT 0" in out, out[-2000:]

    import duckdb

    from debezium_emr_hudi_deltastreamer_sample_spark.table import KeyedTable

    # An outside reader reads the tip version's files.
    files = [
        f.removeprefix("file:")
        for f in KeyedTable(spark, table, keys=["id"]).read().inputFiles()
    ]
    got = duckdb.sql(
        f"SELECT id, v FROM read_parquet({files!r}) ORDER BY id"
    ).fetchall()
    assert got == [(1, "a"), (2, "b")]
