"""Benchmark harness (driver contract, TESTDATA.md / BASELINE.md).

Runs the headline query set at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
  {"metric": "suite_wall_sec", "value": N, "unit": "sec",
   "queries": {name: sec, ...}, "sf": 0.1}

Each query executes through the noop sink — the full plan runs distributed
(scan → shuffle → agg), nothing collects to the driver, so the timing is
execution cost, not result-transfer cost.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Bench-harness I/O placement: the streaming replays' fixed cost is
# checkpoint/state-store/staging I/O (mkdir + delta-file fsync per state
# partition per micro-batch), not data volume — on this box /tmp is
# disk-backed while /dev/shm is a 126 GB tmpfs. Point the harness's
# ephemeral dirs (every queries/streaming.py `_tmp()` goes through TMPDIR)
# and Spark's shuffle-spill dir at tmpfs. Harness-level only: production
# checkpoints belong on durable storage, which is exactly why this lives in
# bench.py and not in session.py.
_SHM = os.environ.get("SPARK_GRAFT_BENCH_TMPFS", "/dev/shm")
_BENCH_TMP: str | None = None
if os.path.isdir(_SHM) and os.access(_SHM, os.W_OK):
    _BENCH_TMP = tempfile.mkdtemp(prefix="spark_graft_bench_", dir=_SHM)
    os.environ["TMPDIR"] = _BENCH_TMP
    tempfile.tempdir = None  # re-resolve gettempdir() from the new TMPDIR

#: Headline set: one per operator family (scan-agg, star join, top-k join,
#: window, as-of, merge, dedup exact/fuzzy, ANN brute+LSH, text stats,
#: subquery decorrelation, grouped-map UDF, multimodal decode, and the
#: end-to-end streaming CDC replay).
HEADLINE = [
    "pricing_summary",
    "join_star_revenue",
    "shipping_priority",
    "join_theta_range",
    "agg_cube",
    "window_topk_per_group",
    "window_running_frames",
    "sql_subquery_exists",
    "udf_grouped_zscore",
    "cdc_latest_by_key",
    "cdc_merge_upsert",
    "cdc_asof_join",
    "llm_exact_dedup",
    "llm_token_stats",
    "llm_minhash_lsh",
    "llm_cosine_topk",
    "llm_cosine_lsh",
    "llm_embed_neardup_lsh",
    "mm_decode_stats",
    "stream_tumbling_counts",
    "stream_stream_join",
    "stream_rollup_incremental",
    "stream_cdc_upsert",
]


#: Quiet-window reference for the calibration loop below (min-of-3 on this
#: container class with loadavg < 1; re-measure if the fleet hardware
#: changes). The guard compares the CURRENT window against it.
_CALIB_REF_SEC = 0.33
#: Window flags: calibration >30% over the quiet reference, or a 1-minute
#: loadavg already above half the allotted cores BEFORE the suite starts,
#: mean other work is stealing cycles — per-query times in that window
#: overstate the engine's cost (BASELINE.md "Bench noise profile" measured
#: +25-40% uniform creep in contaminated windows).
_CALIB_RATIO_FLAG = 1.30


def _calibrate(n: int = 3) -> float:
    """Single-threaded pure-Python duty loop, min of ``n`` runs (~0.4 s
    each): GIL-pinned and allocation-free, so its ONLY variance source is
    CPU contention from other processes — exactly what the guard needs to
    detect. min-of-n estimates the uncontended floor; under real
    contention even the min rises."""
    best = float("inf")
    for _ in range(n):
        t0 = time.perf_counter()
        x = 0
        for i in range(3_000_000):
            x = (x * 1103515245 + i) & 0xFFFFFFFF
        best = min(best, time.perf_counter() - t0)
    return best


def _window_guard() -> dict:
    """Machine-load validity probe, embedded in the bench JSON so BENCH_rN
    carries its own contamination bit instead of needing post-hoc
    attribution (two rounds of driver benches were re-attributed to window
    variance; this makes the recorded number self-describing)."""
    load_1m = os.getloadavg()[0] if hasattr(os, "getloadavg") else -1.0
    cpus = os.cpu_count() or 1
    calib = _calibrate()
    ratio = calib / _CALIB_REF_SEC
    return {
        "load_1m": round(load_1m, 2),
        "host_cpus": cpus,
        "calib_sec": round(calib, 4),
        "calib_ref_sec": _CALIB_REF_SEC,
        "calib_ratio": round(ratio, 3),
        "contaminated": bool(
            ratio > _CALIB_RATIO_FLAG or load_1m > cpus / 2
        ),
    }


def main() -> None:
    # finally-guarded: a failed run must not leak RAM-backed checkpoint/
    # shuffle state in tmpfs (it survives the process until reboot).
    try:
        _run()
    finally:
        if _BENCH_TMP:
            shutil.rmtree(_BENCH_TMP, ignore_errors=True)


def _run() -> None:
    from debezium_emr_hudi_deltastreamer_sample_spark.queries import all_queries
    from debezium_emr_hudi_deltastreamer_sample_spark.session import get_spark

    # Probe the window BEFORE the JVM spins up (the suite's own load must
    # not pollute the "was this box busy" signal).
    guard = _window_guard()

    extra = (
        {"spark.local.dir": os.path.join(_BENCH_TMP, "spark_local")}
        if _BENCH_TMP
        else None
    )
    spark = get_spark(app_name="bench", extra_conf=extra)
    # Self-certifying core count: `guard["cpus"]` is the session's
    # effective parallelism (defaultParallelism), and the host count
    # (os.cpu_count, which the contamination rule above uses) is
    # `guard["host_cpus"]`. Before, "cpus" was the host count, so a
    # SPARK_GRAFT_CPUS=8 run printed "cpus": 32 and the scaling harness
    # had to *suspect* the override was ignored. The requested override
    # and the master the session runs on are recorded beside it.
    guard["requested_cpus"] = int(
        os.environ.get("SPARK_GRAFT_CPUS", "32") or "32"
    )
    guard["spark_master"] = spark.sparkContext.master
    guard["default_parallelism"] = spark.sparkContext.defaultParallelism
    guard["cpus"] = guard["default_parallelism"]
    qs = all_queries()

    # Warm the JVM + parquet footers outside the timed region.
    spark.range(1).count()
    qs["pricing_summary"](spark, SF_DIR).write.format("noop").mode("overwrite").save()

    # Two passes, per-query min: single-run noise on this class of box is
    # ±30% on the streaming queries (state-store setup, tmp-dir I/O), which
    # is the same order as the regression the bench gate is meant to catch.
    # The min of two runs tracks the code's actual cost, not the noise.
    # Measured noise decomposition (BASELINE.md "Bench noise profile"):
    # the first run carries 1.5-3x one-time cold cost, warm-run spread is
    # 5-24% — so best-of-2 reports the warm floor, and only a per-query
    # regression >25% vs the prior BENCH_r{N} is actionable signal.
    timings: dict[str, float] = {}
    for _pass in range(2):
        for name in HEADLINE:
            t0 = time.perf_counter()
            qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
            sec = round(time.perf_counter() - t0, 3)
            timings[name] = min(timings.get(name, sec), sec)

    sf = float(os.path.basename(SF_DIR.rstrip("/")).removeprefix("sf") or "0.1")
    print(
        json.dumps(
            {
                "metric": "suite_wall_sec",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "guard": guard,
            }
        )
    )
    if _BENCH_TMP:
        # Stop the session before main()'s finally removes its
        # spark.local.dir out from under it.
        spark.stop()


if __name__ == "__main__":
    main()
