"""Run harness shared by the workloads: work directory, Spark session,
host guard, the timed closed loop, and result assembly."""

from __future__ import annotations

import os
import resource
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

from .stats import quieter_half, summarize

PKG = "debezium_emr_hudi_deltastreamer_sample_spark"
#: Driver heap for local mode. The engine's session defaults to 48g; the
#: benchmark's inputs are small and the host is shared, so it passes a
#: fixed small heap through ``get_spark(extra_conf=...)``.
DRIVER_MEMORY = "2g"
#: Input-staging repetitions per run; ``setup_s`` counts their median, so
#: one slow disk flush does not move it.
SETUP_REPEATS = 3
#: The end-to-end metrics every workload reports: (name, unit). The
#: commit timings are not among them: on a shared 4-vCPU VM the
#: hypervisor took 0.4-33% of the CPU per run, a 9% steal made a trigger
#: 45% slower, and their spread over ten runs reached 0.37 of the median.
#: They are on the detail line, with the steal share in the guard.
END_TO_END = (
    ("setup_s", "s"),
    ("peak_rss_mb", "MB"),
)


@dataclass
class Op:
    index: int
    kind: str
    start: float
    end: float
    rows: int
    steal_share: float

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Run:
    """Everything one benchmark process measured."""

    ops: list[Op] = field(default_factory=list)
    samples: dict[str, list[float]] = field(default_factory=dict)
    steals: dict[str, list[float]] = field(default_factory=dict)
    failures: list[str] = field(default_factory=list)
    attempted: int = 0
    rows: int = 0
    window_s: float = 0.0
    setup_s: float = 0.0
    setup_repeats_s: list[float] = field(default_factory=list)

    def sample(self, name: str, seconds: float, steal_share: float = 0.0) -> None:
        self.samples.setdefault(name, []).append(seconds)
        self.steals.setdefault(name, []).append(steal_share)


def _fs_type(path: Path) -> str:
    """Filesystem type of the mount holding ``path``."""
    best, kind = "", "unknown"
    target = str(path.resolve())
    try:
        with open("/proc/mounts") as f:
            for line in f:
                parts = line.split()
                mnt = parts[1]
                if (target == mnt or target.startswith(mnt.rstrip("/") + "/")) and len(mnt) > len(best):
                    best, kind = mnt, parts[2]
    except OSError:
        pass
    return kind


def _calibrate() -> float:
    """Seconds for a fixed single-threaded pure-Python loop: it moves only
    with CPU speed and contention from other processes, so comparing it
    across results shows a slower or busier host."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x = (x * 1103515245 + i) & 0xFFFFFFFF
    return time.perf_counter() - t0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of this machine since boot, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks[:8])


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of CPU time between two ``cpu_ticks()`` readings that the
    hypervisor gave to other guests."""
    return (after[0] - before[0]) / max(1, after[1] - before[1])


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Bench:
    """One benchmark process: owns the work dir and the Spark session."""

    def __init__(self, root: Path, workload: str, seed: int, seconds: float, trace: bool, t0: float) -> None:
        self.root = root
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.t0 = t0
        self.work = root / ".perfbench_work" / f"{workload}-{os.getpid()}"
        self.out_dir = root / ".perfbench_out"
        self.spark = None
        self.tracer = None
        self.guard: dict = {}
        self.run = Run()

    def start(self) -> None:
        self.work.mkdir(parents=True, exist_ok=True)
        cpus = os.cpu_count() or 1
        self.guard = {
            "host_cpus": cpus,
            "load_1m": round(os.getloadavg()[0], 2),
            "calib_s": round(_calibrate(), 4),
            "work_fs": _fs_type(self.work),
            "spark_driver_memory": DRIVER_MEMORY,
        }
        os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
        os.environ["TZ"] = "UTC"
        time.tzset()
        paths = [str(self.root)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        os.environ["PYTHONPATH"] = os.pathsep.join(paths)
        extra = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": str(self.work / "spark-local"),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            # A fixed heap: with -Xms below -Xmx, how far G1 grows the
            # heap depends on GC timing, and peak_rss_mb with it.
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -Dderby.system.home={self.work}",
        }
        if self.trace:
            (self.work / "eventlog").mkdir()
            extra["spark.eventLog.enabled"] = "true"
            extra["spark.eventLog.dir"] = (self.work / "eventlog").as_uri()
            extra["spark.eventLog.compress"] = "false"
            extra["spark.eventLog.rolling.enabled"] = "false"
        from debezium_emr_hudi_deltastreamer_sample_spark.session import get_spark

        self.spark = get_spark(app_name=f"perfbench-{self.workload}", extra_conf=extra)
        sc = self.spark.sparkContext
        self.guard["master"] = sc.master
        self.guard["default_parallelism"] = sc.defaultParallelism
        self.jvm_pid = int(sc._jvm.ProcessHandle.current().pid())
        if self.trace:
            from .trace import Tracer

            self.tracer = Tracer(self.spark)
            self.tracer.install()

    def path(self, *parts: str) -> str:
        return str(self.work.joinpath(*parts))

    def peak_rss_mb(self) -> float:
        py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        return py + _vm_hwm_mb(self.jvm_pid)

    def measure(self, wl) -> None:
        """Set up, warm up, then run the closed loop for the window and
        check the outputs. In a traced run every op is traced."""
        run = self.run
        for rep in range(SETUP_REPEATS):
            inp = self.work / f"inputs{rep}"
            inp.mkdir()
            t = time.perf_counter()
            wl.stage(str(inp))
            run.setup_repeats_s.append(time.perf_counter() - t)
            if rep < SETUP_REPEATS - 1:
                shutil.rmtree(inp)
        t = time.perf_counter()
        wl.build()
        t_build = time.perf_counter()
        wl.warmup()
        run.sample("setup.stage_s", statistics.median(run.setup_repeats_s))
        run.sample("setup.build_s", t_build - t)
        run.sample("setup.warmup_s", time.perf_counter() - t_build)
        elapsed = time.perf_counter() - self.t0
        run.setup_s = elapsed - sum(run.setup_repeats_s) + statistics.median(run.setup_repeats_s)
        tracer = self.tracer
        if tracer is not None:
            tracer.active = True
        window0 = cpu_ticks()
        deadline = time.perf_counter() + self.seconds
        t_start = time.perf_counter()
        i = 0
        while time.perf_counter() < deadline and wl.has_step(i):
            kind = wl.kind(i)
            root = tracer.begin_op(i, f"op.{kind}") if tracer is not None else None
            rows0, ticks0 = run.rows, cpu_ticks()
            start = time.time()
            try:
                wl.step(i)
            except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
                run.failures.append(f"op {i} ({kind}) raised {type(e).__name__}: {str(e)[:300]}")
                run.attempted += 1
                break
            finally:
                if root is not None:
                    tracer.end_op(root)
            end = time.time()
            run.ops.append(Op(i, kind, start, end, run.rows - rows0, steal_share(ticks0, cpu_ticks())))
            run.attempted += 1
            i += 1
        run.window_s = time.perf_counter() - t_start
        # CPU time the hypervisor gave to other guests during the window:
        # the one slowdown source this process cannot see otherwise.
        self.guard["window_steal_share"] = round(steal_share(window0, cpu_ticks()), 4)
        self.guard["window_load_1m"] = round(os.getloadavg()[0], 2)
        if tracer is not None:
            tracer.active = False
        self.peak_rss = self.peak_rss_mb()
        try:
            run.failures.extend(wl.check())
        except Exception as e:  # noqa: BLE001 — a crashed check is a failed check
            run.failures.append(f"check raised {type(e).__name__}: {str(e)[:300]}")

    def stop_spark(self) -> None:
        """Stop Spark and its JVM and wait for the JVM to exit (which also
        flushes the event log)."""
        if self.spark is not None:
            from pyspark import SparkContext

            if self.tracer is not None:
                self.tracer.uninstall()
            self.spark.stop()
            gateway = SparkContext._gateway
            proc = getattr(gateway, "proc", None) if gateway is not None else None
            if gateway is not None:
                gateway.shutdown()
            if proc is not None:
                try:
                    proc.stdin.close()
                except OSError:
                    pass
                try:
                    proc.wait(timeout=60)
                except Exception:  # noqa: BLE001 — escalate to kill
                    proc.kill()
                    proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None
            self.spark = None

    def close(self) -> None:
        """Stop Spark if still running and remove the work dir."""
        self.stop_spark()
        shutil.rmtree(self.work, ignore_errors=True)
        try:
            self.work.parent.rmdir()
        except OSError:
            pass


def commit_timings(bench: Bench) -> dict:
    """Commit time and ingest rate over the quieter half of the samples
    (``stats.quieter_half``). A window without a commit is a failed run,
    not a missing metric."""
    run = bench.run
    commits = run.samples.get("commit_s", [])
    if not commits or not run.rows:
        raise RuntimeError(f"no commit measured in the {run.window_s:.1f}s window")
    quiet_ops = quieter_half(run.ops, [op.steal_share for op in run.ops])
    return {
        "commit_s.quiet_p50": {
            "value": statistics.median(quieter_half(commits, run.steals["commit_s"])), "unit": "s",
        },
        "ingest_rows_per_s.quiet": {
            "value": sum(op.rows for op in quiet_ops) / sum(op.seconds for op in quiet_ops),
            "unit": "rows/s",
        },
    }


def end_to_end(bench: Bench) -> dict:
    """The ``END_TO_END`` metrics; fails the run if it measured no commit."""
    commit_timings(bench)
    values = {"setup_s": bench.run.setup_s, "peak_rss_mb": bench.peak_rss}
    return {name: {"value": values[name], "unit": unit} for name, unit in END_TO_END}


def named_detail(bench: Bench) -> dict:
    """Every timing series the workload recorded, under the issue's metric
    names, as its median and the highest percentile with at least ten
    samples beyond it, each with its sample count."""
    run = bench.run
    out = {}
    for name, values in sorted(run.samples.items()):
        s = summarize(values)
        for key, val in s.items():
            if key != "n":
                out[f"{name}.{key}"] = {"value": val, "unit": "s", "n": s["n"]}
    out["ingest_rows_per_s"] = {"value": run.rows / run.window_s if run.window_s else 0.0, "unit": "rows/s"}
    out["error_rate"] = {"value": len(run.failures) / max(1, run.attempted), "unit": "ratio"}
    out["setup_s"] = {"value": run.setup_s, "unit": "s"}
    out["peak_rss_mb"] = {"value": bench.peak_rss, "unit": "MB"}
    try:
        out.update(commit_timings(bench))
    except RuntimeError:
        pass
    return out


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)
