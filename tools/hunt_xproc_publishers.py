"""Randomized CROSS-PROCESS hunt for the NON-table publish paths (round-12
task): the round-11 hunt covered KeyedTable writers; rounds 10/11 proved
twice that real-process races find what in-process threads miss. Three
axes, each driven by independent child driver processes
(tools/xproc_child.py — own JVM/SparkSession/pid, cold caches):

``rollup``  — two processes drive ``IncrementalRollup.apply_batch`` on ONE
    rollup dir under different run ids (two pipelines feeding one
    continuous aggregate — legal multi-writer by design, safety rests
    entirely on the commit-name CAS + the post-win tip check).
    Invariant: every batch both children reported COMMIT is folded into
    the final rollup EXACTLY once — per-key totals equal the additive sum
    over all committed batches (no lost update, no double count).

``compact`` — one lease-owning MOR ingest writer keeps appending while TWO
    separate compaction-service processes run ``compact()`` concurrently
    (the Hudi offline-compactor topology; compaction is deliberately not
    lease-guarded). Invariant: nothing raises, and the final merged view
    equals the latest-wins replay of every appended batch.

``stale``   — round-12 ``take_over_if_stale`` under real processes: a
    writer process dies (no more heartbeats) → a healer with a stale TTL
    self-heals and commits; a LIVE writer (fresh heartbeats) → the healer
    is fenced every time, never the owner.

Each axis runs under BOTH commit protocols (alternating per trial).

Usage: python tools/hunt_xproc_publishers.py [trials_per_axis] [seed]
Prints one JSON line per trial + a final ``TALLY`` line per axis.
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys
import tempfile
import threading

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CHILD = os.path.join(REPO, "tools", "xproc_child.py")


def _spawn(args: list[str], out: dict, key: str, env: dict) -> threading.Thread:
    def run() -> None:
        proc = subprocess.run(
            [sys.executable, CHILD, *args],
            capture_output=True, text=True, timeout=900, cwd=REPO, env=env,
        )
        out[key] = (proc.returncode, proc.stdout + proc.stderr)

    t = threading.Thread(target=run)
    t.start()
    return t


def _run(args: list[str], env: dict) -> tuple[int, str]:
    proc = subprocess.run(
        [sys.executable, CHILD, *args],
        capture_output=True, text=True, timeout=900, cwd=REPO, env=env,
    )
    return proc.returncode, proc.stdout + proc.stderr


def _commits(output: str, kind: str = "COMMIT") -> list[int]:
    return [
        int(line.split()[1])
        for line in output.splitlines()
        if line.startswith(kind + " ")
    ]


def _env(protocol: str, extra: dict | None = None) -> dict:
    env = dict(os.environ)
    env["SPARK_GRAFT_COMMIT_PROTOCOL"] = protocol
    env.update(extra or {})
    return env


def trial_rollup(trial: int, rng: random.Random, protocol: str) -> dict:
    workdir = tempfile.mkdtemp(prefix=f"xhunt_rollup_{trial}_")
    path = f"{workdir}/roll"
    env = _env(protocol)
    n_a, n_b = rng.randint(3, 5), rng.randint(3, 5)
    mk = lambda i, tag: [["k1", 1.0], [f"k{tag}", float(i + 1)]]  # noqa: E731
    batches_a = [mk(i, "A") for i in range(n_a)]
    batches_b = [mk(i, "B") for i in range(n_b)]
    jitter = rng.choice([50, 150, 400])
    results: dict = {}
    ta = _spawn(
        ["rollup", path, "runA", json.dumps(batches_a), str(jitter)],
        results, "a", env,
    )
    tb = _spawn(
        ["rollup", path, "runB", json.dumps(batches_b), str(jitter)],
        results, "b", env,
    )
    ta.join()
    tb.join()
    (code_a, out_a), (code_b, out_b) = results["a"], results["b"]
    assert code_a == 0 and code_b == 0, (out_a + out_b)[-3000:]
    assert len(_commits(out_a)) == n_a and len(_commits(out_b)) == n_b, (
        f"child did not commit every batch:\nA:{out_a[-1200:]}\nB:{out_b[-1200:]}"
    )
    # Additive oracle over ALL committed batches.
    want: dict[str, float] = {}
    for rows in batches_a + batches_b:
        for k, v in rows:
            want[k] = want.get(k, 0.0) + float(v)
    # Read the final tip through a fresh reader process? The rollup read
    # needs the engine (derived mean), but totals live in plain parquet at
    # the newest commit — resolve it via the commit listing in-process
    # with duckdb after finding the tip directory by name.
    import re as _re

    commits_dir = f"{path}__commits"
    names = sorted(
        n for n in os.listdir(commits_dir) if _re.match(r"^c\d{12}$", n)
    )
    ptrs = sorted(
        n for n in os.listdir(commits_dir) if n.endswith(".commit")
    )
    if protocol == "pointer":
        tip_ptr = f"{commits_dir}/{ptrs[-1]}"
        tip = open(tip_ptr).read().strip()
    else:
        tip = f"{commits_dir}/{names[-1]}"
    import duckdb

    got = dict(
        duckdb.sql(
            f"SELECT k, sum(total) FROM read_parquet('{tip}/*.parquet') GROUP BY k"
        ).fetchall()
    )
    assert got == want, (
        f"ROLLUP LOST UPDATE/DOUBLE COUNT: got {got} want {want}\n"
        f"A:{out_a[-1200:]}\nB:{out_b[-1200:]}"
    )
    return {
        "axis": "rollup", "trial": trial, "protocol": protocol,
        "jitter_ms": jitter, "a_batches": n_a, "b_batches": n_b,
        "exact": True,
    }


def trial_compact(trial: int, rng: random.Random, protocol: str) -> dict:
    workdir = tempfile.mkdtemp(prefix=f"xhunt_compact_{trial}_")
    table = f"{workdir}/mor"
    env = _env(protocol)
    n_w = rng.randint(4, 6)
    mk = lambda i: [  # noqa: E731
        [1000 + i, f"v{i}", "c", i + 1],
        [1, f"latest{i}", "u", i + 1],
    ]
    batches = [mk(i) for i in range(n_w)]
    jitter = rng.choice([50, 150, 300])
    # Seed two batches so compactors have something from the start.
    code, out = _run(
        ["morwrite", table, "wM", json.dumps(batches[:2])], env
    )
    assert code == 0 and len(_commits(out)) == 2, out[-2000:]
    results: dict = {}
    tw = _spawn(
        ["morwrite", table, "wM", json.dumps(batches[2:]), str(jitter), "0", "2"],
        results, "w", env,
    )
    tc1 = _spawn(["morcompact", table, "3", str(jitter)], results, "c1", env)
    tc2 = _spawn(["morcompact", table, "3", str(jitter)], results, "c2", env)
    tw.join()
    tc1.join()
    tc2.join()
    for key in ("w", "c1", "c2"):
        code, out = results[key]
        assert code == 0, f"{key} failed:\n{out[-3000:]}"
    assert len(_commits(results["w"][1])) == n_w - 2, results["w"][1][-2000:]
    n_compacts = len(_commits(results["c1"][1], "COMPACT")) + len(
        _commits(results["c2"][1], "COMPACT")
    )
    assert n_compacts == 6
    # Final merged view from a FRESH process (cold caches).
    code, out = _run(["morread", table], env)
    assert code == 0, out[-3000:]
    got = dict(
        tuple(r)
        for r in json.loads(
            [line for line in out.splitlines() if line.startswith("RESULT ")][0][7:]
        )
    )
    want: dict[int, str] = {}
    for rows in batches:
        for rid, v, op, _ in rows:
            if op == "d":
                want.pop(rid, None)
            else:
                want[rid] = v
    assert got == want, (
        f"MOR STATE DIVERGENCE: got {got} want {want}\n"
        f"w:{results['w'][1][-1000:]}\nc1:{results['c1'][1][-800:]}\n"
        f"c2:{results['c2'][1][-800:]}"
    )
    return {
        "axis": "compact", "trial": trial, "protocol": protocol,
        "jitter_ms": jitter, "writer_batches": n_w, "compactions": n_compacts,
        "exact": True,
    }


def trial_stale(trial: int, rng: random.Random, protocol: str) -> dict:
    import time as _time

    workdir = tempfile.mkdtemp(prefix=f"xhunt_stale_{trial}_")
    table = f"{workdir}/t"
    env = _env(protocol, {"SPARK_GRAFT_HEARTBEAT_SEC": "0.1"})
    live = trial % 2 == 1
    mk = lambda base, i: [[base + i, f"v{i}", "c", i + 1]]  # noqa: E731
    if not live:
        # Dead-owner half: writer process commits then EXITS (no heartbeat
        # ever again); after > TTL the healer must self-heal and commit.
        code, out = _run(
            ["writer", table, "wDead", "0", json.dumps([mk(1000, 0)])], env
        )
        assert code == 0 and len(_commits(out)) == 1, out[-2000:]
        _time.sleep(1.2)
        code, out = _run(
            ["writer", table, "wHeal", "0", json.dumps([mk(2000, 0), mk(2000, 1)]),
             "0", "1.0"],
            env,
        )
        assert code == 0, out[-3000:]
        assert len(_commits(out)) == 2 and not _commits(out, "FENCED"), (
            f"healer failed to self-heal from a dead owner:\n{out[-2000:]}"
        )
        return {
            "axis": "stale", "trial": trial, "protocol": protocol,
            "mode": "dead-owner-healed", "exact": True,
        }
    # Live-owner half: owner keeps committing (heartbeats flow) while the
    # healer, whose TTL is far above the owner's activity age, tries
    # mid-stream — it must be FENCED, and the owner must finish untouched.
    n_live = rng.randint(4, 6)
    batches = [mk(1000, i) for i in range(n_live)]
    code, out = _run(
        ["writer", table, "wLive", "0", json.dumps(batches[:1])], env
    )
    assert code == 0 and len(_commits(out)) == 1, out[-2000:]
    results: dict = {}
    tw = _spawn(
        ["writer", table, "wLive", "0", json.dumps(batches[1:]), "150"],
        results, "live", env,
    )
    _time.sleep(rng.uniform(0.2, 1.0))
    code, out = _run(
        ["writer", table, "wHeal", "0", json.dumps([mk(3000, 0)]), "0", "30"],
        env,
    )
    tw.join()
    assert code == 0, out[-3000:]
    assert _commits(out, "FENCED") and not _commits(out), (
        f"healer displaced a LIVE owner:\n{out[-2000:]}"
    )
    code_live, out_live = results["live"]
    assert code_live == 0 and len(_commits(out_live)) == n_live - 1, (
        f"live owner was disturbed:\n{out_live[-2000:]}"
    )
    return {
        "axis": "stale", "trial": trial, "protocol": protocol,
        "mode": "live-owner-fenced", "exact": True,
    }


def main() -> int:
    trials = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    seed = sys.argv[2] if len(sys.argv) > 2 else "r12"
    axes = {"rollup": trial_rollup, "compact": trial_compact, "stale": trial_stale}
    only = sys.argv[3] if len(sys.argv) > 3 else None
    for axis, fn in axes.items():
        if only and axis != only:
            continue
        rng = random.Random(f"{seed}-{axis}")
        tally = {"axis": axis, "trials": 0, "clean": 0,
                 "rename": 0, "pointer": 0}
        for i in range(trials):
            protocol = "pointer" if i % 2 == 0 else "rename"
            r = fn(i, rng, protocol)
            tally["trials"] += 1
            tally["clean"] += bool(r.get("exact"))
            tally[protocol] += 1
            print(json.dumps(r), flush=True)
        print("TALLY " + json.dumps(tally), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
