"""Out-of-tree tracing for the benchmark's traced run.

Spans are recorded by wrappers the benchmark installs around the engine's
public functions — nothing in the engine changes. Each span has a name,
start, end, parent and op id; a span opened on a thread with no open span
(the streaming ``foreachBatch`` thread) hangs under the current op. The
innermost span id is also set as the Spark local property
``perfbench.span``, so jobs in the event log map back to spans. Hadoop
FileSystem calls are counted through a proxy returned by
``fsutil.hadoop_fs``, the engine's one FileSystem getter.

Only a traced run (``--trace 1``) installs the wrappers; ``Tracer.active``
is on for its timed window, so warm-up and the correctness check record
nothing. End-to-end numbers come from untraced runs; ``run.py --workload
all`` compares the two to report the tracing overhead.
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import threading
import time
from collections import Counter, defaultdict
from dataclasses import dataclass

PKG = "debezium_emr_hudi_deltastreamer_sample_spark"
SPAN_PROPERTY = "perfbench.span"

#: (module, attribute path, span name) for every wrapped layer entry point.
TARGETS = (
    ("envelope", "parse_envelope", "envelope.parse_envelope"),
    ("operators.merge", "merge_upsert", "operators.merge.merge_upsert"),
    ("operators.merge", "latest_by_key", "operators.merge.latest_by_key"),
    ("fsutil", "swap_table_dir", "fsutil.swap_table_dir"),
    ("fsutil", "recover_table_swap", "fsutil.recover_table_swap"),
    ("fsutil", "publish_commit", "fsutil.publish_commit"),
    ("fsutil", "list_commits", "fsutil.list_commits"),
    ("table", "SchemaSidecar.publish", "table.SchemaSidecar.publish"),
    ("table", "SchemaSidecar.current", "table.SchemaSidecar.current"),
    ("table", "WriterLease.ensure", "table.WriterLease.ensure"),
    ("table", "WriterLease.check", "table.WriterLease.check"),
    ("table", "KeyedTable.upsert", "table.KeyedTable.upsert"),
    ("table", "KeyedTable.exists", "table.KeyedTable.exists"),
    ("table", "KeyedTable.read", "table.KeyedTable.read"),
    ("table", "KeyedTable.snapshots", "table.KeyedTable.snapshots"),
    ("table", "KeyedTable.register", "table.KeyedTable.register"),
    ("table", "DeltaLogTable.append_changes", "table.DeltaLogTable.append_changes"),
    ("table", "DeltaLogTable.read", "table.DeltaLogTable.read"),
    ("table", "DeltaLogTable.compact", "table.DeltaLogTable.compact"),
    ("streaming.ivm", "IncrementalJoinView.apply_fact_batch", "streaming.ivm.apply_fact_batch"),
    ("streaming.ivm", "IncrementalJoinView.apply_dim_batch", "streaming.ivm.apply_dim_batch"),
    ("streaming.rollup", "IncrementalRollup.apply_batch", "streaming.rollup.apply_batch"),
)

#: Hadoop FileSystem methods reported per commit.
FS_OPS = (
    "exists", "listStatus", "rename", "delete", "create", "open", "mkdirs",
    "getFileStatus", "listFiles",
)


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → self time: its duration minus the part of its interval
    covered by its children (overlapping children count once)."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = {}
    for s in spans:
        out[s.id] = (s.end - s.start) - covered(
            [(max(c.start, s.start), min(c.end, s.end)) for c in children[s.id]]
        )
    return out


def covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``intervals``."""
    total = 0.0
    cur_start = cur_end = None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


class _CountingFS:
    """Forwards every attribute to a Hadoop FileSystem (py4j object) and
    counts method calls by name against the tracer's current op."""

    __slots__ = ("_fs", "_tracer")

    def __init__(self, fs, tracer: Tracer) -> None:
        self._fs = fs
        self._tracer = tracer

    def __getattr__(self, name):
        member = getattr(self._fs, name)
        if not callable(member):
            return member
        tracer = self._tracer

        def call(*args):
            tracer.count_fs(name)
            return member(*args)

        return call


class Tracer:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.active = False
        self.spans: list[Span] = []
        self.fs_ops: dict[int, Counter] = defaultdict(Counter)
        self._next_id = 0
        self._lock = threading.Lock()
        self._local = threading.local()
        self._root: Span | None = None
        self._patches: list[tuple[object, str, object]] = []

    # -- recording ----------------------------------------------------------

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _tag(self, span_id: int | None) -> None:
        self.spark.sparkContext.setLocalProperty(
            SPAN_PROPERTY, None if span_id is None else str(span_id)
        )

    def begin(self, name: str) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else self._root
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        span = Span(
            sid, name, time.time(), 0.0,
            parent.id if parent else None,
            parent.op if parent else None,
        )
        stack.append(span)
        self._tag(sid)
        return span

    def end(self, span: Span) -> None:
        span.end = time.time()
        stack = self._stack()
        stack.pop()
        with self._lock:
            self.spans.append(span)
        outer = stack[-1] if stack else self._root
        self._tag(outer.id if outer is not None and outer is not span else None)

    def begin_op(self, op_id: int, name: str) -> Span:
        """Open the root span of one traced op."""
        span = self.begin(name)
        span.op = op_id
        span.parent = None
        self._root = span
        return span

    def end_op(self, span: Span) -> None:
        self._root = None
        self.end(span)

    def count_fs(self, method: str) -> None:
        root = self._root
        if self.active and root is not None:
            with self._lock:
                self.fs_ops[root.op][method] += 1

    # -- installation -------------------------------------------------------

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active or tracer._root is None:
                return fn(*args, **kwargs)
            label = name
            if name == "table.KeyedTable.read" and (
                kwargs.get("as_of") is not None or len(args) > 1
            ):
                label = "table.KeyedTable.read_as_of"
            span = tracer.begin(label)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(span)

        return wrapper

    def _patch_everywhere(self, original, replacement) -> None:
        """Replace ``original`` at every module-level binding inside the
        engine package (``from x import f`` copies the binding)."""
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PKG):
                continue
            for attr, val in list(vars(mod).items()):
                if val is original:
                    self._patches.append((mod, attr, original))
                    setattr(mod, attr, replacement)

    def install(self) -> None:
        for mod_name, path, span_name in TARGETS:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            if "." in path:
                cls_name, meth = path.split(".")
                cls = getattr(mod, cls_name)
                original = cls.__dict__[meth]
                self._patches.append((cls, meth, original))
                setattr(cls, meth, self._wrap(original, span_name))
            else:
                original = getattr(mod, path)
                self._patch_everywhere(original, self._wrap(original, span_name))
        fsutil = importlib.import_module(f"{PKG}.fsutil")
        original_fs = fsutil.hadoop_fs
        tracer = self

        def counting_hadoop_fs(spark, path):
            fs, hpath = original_fs(spark, path)
            return _CountingFS(fs, tracer), hpath

        self._patch_everywhere(original_fs, counting_hadoop_fs)

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    # -- output -------------------------------------------------------------

    def write(self, path: str, jobs_by_span: dict[int, list[dict]]) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            for s in self.spans:
                jobs = jobs_by_span.get(s.id, [])
                f.write(json.dumps({
                    "id": s.id, "name": s.name, "op": s.op, "parent": s.parent,
                    "start": s.start, "end": s.end, "self_s": selfs[s.id],
                    "jobs": len(jobs),
                    "tasks": sum(j["tasks"] for j in jobs),
                }) + "\n")


# -- Spark event log ----------------------------------------------------------


def parse_event_log(path: str) -> list[dict]:
    """Jobs from a Spark event log file: id, submission time (s), span
    tag, stages run, tasks, executor run seconds, shuffle bytes written."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                tag = props.get(SPAN_PROPERTY)
                jobs[jid] = {
                    "id": jid,
                    "submit": ev["Submission Time"] / 1000.0,
                    "span": int(tag) if tag else None,
                    "stages": 0, "tasks": 0, "run_s": 0.0, "shuffle_write": 0,
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerStageSubmitted":
                jid = stage_job.get(ev["Stage Info"]["Stage ID"])
                if jid is not None:
                    jobs[jid]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev.get("Stage ID"))
                if jid is None:
                    continue
                job = jobs[jid]
                job["tasks"] += 1
                metrics = ev.get("Task Metrics") or {}
                job["run_s"] += metrics.get("Executor Run Time", 0) / 1000.0
                shuffle = metrics.get("Shuffle Write Metrics") or {}
                job["shuffle_write"] += shuffle.get("Shuffle Bytes Written", 0)
    return sorted(jobs.values(), key=lambda j: j["id"])
