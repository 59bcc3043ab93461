"""Randomized CROSS-PROCESS writers hunt (round-11 task): two independent
driver PROCESSES (tools/xproc_child.py, each its own JVM/SparkSession/pid)
interleave upserts on ONE KeyedTable path with random jitter; writer B
takes over partway through. The round-10 hunts were threads in one
process — this is the two-spark-submits shape where real multi-writer
corruption lives.

Invariants checked per trial (and tallied):
1. EXCLUSIVITY — no writer-A COMMIT completes after writer-B's first
   COMMIT completes: once the takeover epoch is on disk, A's pre-write
   ``ensure`` or pre-publish ``check`` must raise in A's process. A
   violation means two processes both believed they owned one table.
2. LOSER RAISES — if A had batches left when B took over, A's next
   attempt reports FENCED (ConcurrentWriterError in A's own process), and
   A stops (the pipeline-death contract). When A's in-flight commit
   publishes between B's takeover and B's first publish, B's publish
   loses its CAS (its base moved) and B reports FENCED instead; tallied
   as ``b_cas_lost``.
3. STATE — the final table equals the latest-wins replay of all batches
   both processes reported as COMMIT, in every trial: the takeover
   window is a loud failure with no lost update (table.WriterLease
   docstring). Writers use disjoint key ranges so a clobber is
   attributable.

Usage: python tools/hunt_xproc_writers.py [trials] [seed]
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


def _spawn(args: list[str], out: dict, key: str) -> threading.Thread:
    def run() -> None:
        proc = subprocess.run(
            [sys.executable, CHILD, *args],
            capture_output=True,
            text=True,
            timeout=600,
            cwd=REPO,
        )
        out[key] = (proc.returncode, proc.stdout + proc.stderr)

    t = threading.Thread(target=run)
    t.start()
    return t


def _events(output: str) -> list[tuple[str, int, int | None]]:
    """[(kind, batch_index, epoch_ms_done_or_None)] in child order."""
    ev = []
    for line in output.splitlines():
        parts = line.split()
        if parts and parts[0] == "COMMIT":
            ev.append(("COMMIT", int(parts[1]), int(parts[2])))
        elif parts and parts[0] == "FENCED":
            ev.append(("FENCED", int(parts[1]), None))
    return ev


def one_trial(trial: int, rng: random.Random) -> dict:
    workdir = tempfile.mkdtemp(prefix=f"xproc_hunt_{trial}_")
    table = f"{workdir}/t"
    n_a, n_b = rng.randint(3, 6), rng.randint(2, 4)
    mk = lambda base, i: [[base + i, f"v{i}", "c", i + 1]]  # noqa: E731
    batches_a = [mk(1000, i) for i in range(n_a)]
    batches_b = [mk(2000, i) for i in range(n_b)]
    jitter = rng.choice([50, 150, 400])

    # A seeds the table first (owns epoch 0), then both processes run
    # CONCURRENTLY: A continues plain, B enters with take_over on its
    # first batch.
    seed_proc = subprocess.run(
        [sys.executable, CHILD, "writer", table, "wA", "0",
         json.dumps([batches_a[0]])],
        capture_output=True, text=True, timeout=600, cwd=REPO,
    )
    assert seed_proc.returncode == 0 and "COMMIT 0" in seed_proc.stdout, (
        seed_proc.stdout + seed_proc.stderr
    )[-2000:]

    results: dict = {}
    ta = _spawn(
        ["writer", table, "wA", "0", json.dumps(batches_a[1:]), str(jitter)],
        results, "a",
    )
    tb = _spawn(
        ["writer", table, "wB", "1", json.dumps(batches_b), str(jitter)],
        results, "b",
    )
    ta.join()
    tb.join()
    code_a, out_a = results["a"]
    code_b, out_b = results["b"]
    assert code_a == 0 and code_b == 0, (out_a + out_b)[-3000:]
    ev_a, ev_b = _events(out_a), _events(out_b)
    b_commits = [e for e in ev_b if e[0] == "COMMIT"]
    b_cas_lost = not b_commits
    assert b_commits or ev_b == [("FENCED", 0, None)], (
        f"takeover writer neither committed nor lost its first CAS:\n{out_b[-2000:]}"
    )
    b_first_done = b_commits[0][2] if b_commits else float("inf")

    # Invariant 1: exclusivity by completion time (strict >: same-ms ties
    # are physically fine — A's post-write check ran before B's epoch).
    late_a = [e for e in ev_a if e[0] == "COMMIT" and e[2] > b_first_done]
    assert not late_a, (
        f"EXCLUSIVITY VIOLATION: A committed {late_a} after B's first "
        f"commit {b_first_done}\nA:{out_a[-1500:]}\nB:{out_b[-1500:]}"
    )
    # Invariant 2: A either committed every batch (finished before the
    # takeover) or raised ConcurrentWriterError in its own process.
    a_fenced = any(e[0] == "FENCED" for e in ev_a)
    a_commits = sum(1 for e in ev_a if e[0] == "COMMIT")
    assert a_fenced or a_commits == len(batches_a) - 1, (
        f"A neither fenced nor finished: {ev_a}\n{out_a[-1500:]}"
    )
    a_exhausted = a_commits == len(batches_a) - 1

    # Invariant 3: state equals latest-wins of COMMITTED batches, always.
    committed = [batches_a[0]]
    committed += [batches_a[1 + e[1]] for e in ev_a if e[0] == "COMMIT"]
    committed += [batches_b[e[1]] for e in ev_b if e[0] == "COMMIT"]
    state: dict[int, str] = {}
    for rows in committed:
        for rid, v, op, _ in rows:
            if op == "d":
                state.pop(rid, None)
            else:
                state[rid] = v
    read = subprocess.run(
        [sys.executable, CHILD, "read", table],
        capture_output=True, text=True, timeout=600, cwd=REPO,
    )
    result = [ln for ln in read.stdout.splitlines() if ln.startswith("RESULT ")]
    assert read.returncode == 0 and result, (read.stdout + read.stderr)[-2000:]
    got = dict(json.loads(result[0][len("RESULT "):]))
    assert got == state, f"STATE DIVERGENCE: got {got} want {state}"
    return {
        "trial": trial,
        "jitter_ms": jitter,
        "a_batches": n_a,
        "b_batches": n_b,
        "a_fenced": a_fenced,
        "a_exhausted_before_takeover": a_exhausted and not a_fenced,
        "b_cas_lost": b_cas_lost,
        "state_exact": got == state,
    }


def main() -> int:
    trials = int(sys.argv[1]) if len(sys.argv) > 1 else 6
    seed = sys.argv[2] if len(sys.argv) > 2 else "r11"
    rng = random.Random(seed)
    tally = {"trials": 0, "fenced": 0, "exhausted": 0, "b_cas_lost": 0, "exact": 0}
    for i in range(trials):
        r = one_trial(i, rng)
        tally["trials"] += 1
        tally["fenced"] += r["a_fenced"]
        tally["exhausted"] += r["a_exhausted_before_takeover"]
        tally["b_cas_lost"] += r["b_cas_lost"]
        tally["exact"] += r["state_exact"]
        print(json.dumps(r), flush=True)
    print("TALLY " + json.dumps(tally), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
