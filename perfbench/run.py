"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload all      # every workload, untraced and traced

Run from the root of a source checkout. One run sets up its workload
(Spark session, seeded inputs, tables, warm-up), measures a closed loop
for ``--seconds``, checks the outputs against an independent oracle and
prints, as its last stdout line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` — the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The lines before
it carry the host guard and every metric the workload names. The exit
code is 0 only for a correct run.

``all`` runs each workload twice with the same seed, once untraced and
once traced, prints both, and reports the tracing overhead: the traced
run's ``commit_s.p50`` over the untraced run's, minus one.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

PKG = "debezium_emr_hudi_deltastreamer_sample_spark"
WORKLOAD_NAMES = ("cdc_stream_cow", "cdc_tables_rw")


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=12.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _child(name: str, args, trace: int) -> tuple[int, dict, dict]:
    """Run one workload in its own process: (exit code, result, detail)."""
    cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", name,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    lines = proc.stdout.strip().splitlines()
    if not lines or not lines[-1].startswith("{"):
        return proc.returncode or 1, {}, {}
    detail = next((json.loads(x[len("detail "):]) for x in lines if x.startswith("detail ")), {})
    return proc.returncode, json.loads(lines[-1]), detail


def _run_all(args) -> int:
    rc = 0
    for name in WORKLOAD_NAMES:
        plain = traced = None
        for trace in (0, 1):
            code, result, detail = _child(name, args, trace)
            rc |= code != 0
            if not result:
                print(f"== {name} trace={trace}: failed (exit {code})")
                continue
            print(f"== {name} trace={trace}: correct={result['correct']} "
                  f"attempted={result['attempted']} failed={result['failed']}")
            for metric, m in {**detail, **result["metrics"]}.items():
                n = f"  (n={m['n']})" if "n" in m else ""
                print(f"  {metric:48s} {m['value']:.6g} {m['unit']}{n}")
            if trace:
                traced = detail
            else:
                plain = detail
        if plain and traced:
            ratio = traced["commit_s.quiet_p50"]["value"] / plain["commit_s.quiet_p50"]["value"] - 1.0
            print(f"  {'trace.overhead_share':48s} {ratio:.6g} ratio  (traced commit_s.quiet_p50 / untraced - 1)")
    return rc


def main(argv=None) -> int:
    args = _parse(argv)
    if not (ROOT / PKG / "__init__.py").is_file():
        print(f"perfbench: the engine sources ({PKG}/) are not under {ROOT}", file=sys.stderr)
        return 2
    if args.workload == "all":
        return _run_all(args)

    from perfbench.harness import Bench, end_to_end, log, named_detail
    from perfbench.layers import per_layer
    from perfbench.workloads import WORKLOADS

    bench = Bench(ROOT, args.workload, args.seed, args.seconds, bool(args.trace), T0)
    try:
        bench.start()
        wl = WORKLOADS[args.workload](bench)
        bench.measure(wl)
        detail = named_detail(bench)
        bench.stop_spark()
        try:
            metrics = per_layer(bench) if args.trace else end_to_end(bench)
        except Exception as e:  # noqa: BLE001 — a metric the run cannot give fails the run
            bench.run.failures.append(f"metrics: {type(e).__name__}: {e}")
            metrics = {}
    finally:
        bench.close()
    run = bench.run
    log("op seconds/steal: " + " ".join(f"{op.seconds:.3f}/{op.steal_share:.3f}" for op in run.ops))
    for f in run.failures:
        log(f"FAIL {f}")
    print("guard " + json.dumps(bench.guard))
    print("detail " + json.dumps(detail))
    print(json.dumps({
        "correct": not run.failures,
        "attempted": max(1, run.attempted),
        "failed": min(len(run.failures), max(1, run.attempted)),
        "metrics": metrics,
    }))
    return 0 if not run.failures else 1


if __name__ == "__main__":
    sys.exit(main())
