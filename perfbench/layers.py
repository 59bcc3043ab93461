"""Per-layer metrics of a traced run.

Every name in ``per_layer_names()`` is reported by every workload; a
layer the workload does not reach reads 0. Every op of a traced run is
traced. Times named ``<span>.s`` are the mean inclusive seconds per op
spent in that span. Counts are exact repeats: Spark jobs, stages and
tasks come from Spark's event log (jobs map to ops by submission time,
since one client runs one op at a time), FileSystem calls from the
counting proxy.
"""

from __future__ import annotations

import json
import statistics
from collections import Counter, defaultdict

from .trace import FS_OPS, covered, parse_event_log
from .workloads import CdcStreamCow

PHASES = CdcStreamCow.phases
SPAN_METRICS = (
    "fsutil.swap_table_dir", "fsutil.recover_table_swap", "fsutil.publish_commit",
    "fsutil.list_commits",
    "table.SchemaSidecar.publish", "table.SchemaSidecar.current",
    "table.WriterLease.ensure", "table.WriterLease.check",
    "table.KeyedTable.upsert", "table.KeyedTable.exists", "table.KeyedTable.read",
    "table.KeyedTable.read_as_of", "table.KeyedTable.snapshots", "table.KeyedTable.register",
    "table.DeltaLogTable.append_changes", "table.DeltaLogTable.read",
    "envelope.parse_envelope", "operators.merge.merge_upsert",
    "operators.merge.latest_by_key",
    "streaming.ivm.apply_fact_batch", "streaming.ivm.apply_dim_batch",
    "streaming.rollup.apply_batch",
)
#: Spans that are one table commit each (the ``per_commit`` base).
COMMIT_SPANS = frozenset({
    "table.KeyedTable.upsert", "table.DeltaLogTable.append_changes",
    "streaming.rollup.apply_batch",
})


def per_layer_names() -> list[tuple[str, str]]:
    """(metric name, unit) for every per-layer metric, in output order."""
    names = [(f"streaming.trigger.{p}_ms.p50", "ms") for p in PHASES]
    names += [(f"fsutil.fs_ops.{m}.per_commit", "count") for m in FS_OPS]
    names += [("fsutil.fs_ops.total.per_commit", "count"), ("table.commits.per_op", "count")]
    names += [(f"{s}.s", "s") for s in SPAN_METRICS]
    names += [
        ("spark.jobs.per_op", "count"), ("spark.stages.per_op", "count"),
        ("spark.tasks.per_op", "count"), ("spark.executor_run_s.per_op", "s"),
        ("spark.shuffle_write_bytes.per_op", "bytes"),
    ]
    names += [("trace.span_coverage", "ratio")]
    return names


def _ops_jobs(ops, jobs) -> dict[int, list[dict]]:
    """Op index → jobs submitted inside the op's wall interval."""
    out: dict[int, list[dict]] = defaultdict(list)
    spans = sorted((op.start - 0.001, op.end + 0.001, op.index) for op in ops)
    for job in jobs:
        for a, b, idx in spans:
            if a <= job["submit"] <= b:
                out[idx].append(job)
                break
    return out


def per_layer(bench) -> dict:
    run, tracer = bench.run, bench.tracer
    ops = run.ops
    n_ops = max(1, len(ops))
    values: dict[str, float] = {}

    for p in PHASES:
        xs = run.samples.get(f"trigger.{p}_s", [])
        values[f"streaming.trigger.{p}_ms.p50"] = statistics.median(xs) * 1000.0 if xs else 0.0

    span_s: Counter = Counter()
    commits = 0
    for s in tracer.spans:
        if s.op is None or s.parent is None:
            continue
        span_s[s.name] += s.end - s.start
        commits += s.name in COMMIT_SPANS
    for name in SPAN_METRICS:
        values[f"{name}.s"] = span_s[name] / n_ops
    fs_total: Counter = Counter()
    for c in tracer.fs_ops.values():
        fs_total.update(c)
    for m in FS_OPS:
        values[f"fsutil.fs_ops.{m}.per_commit"] = fs_total[m] / commits if commits else 0.0
    values["fsutil.fs_ops.total.per_commit"] = sum(fs_total.values()) / commits if commits else 0.0
    values["table.commits.per_op"] = commits / n_ops

    logs = list((bench.work / "eventlog").iterdir())
    jobs = parse_event_log(str(logs[0])) if logs else []
    op_jobs = _ops_jobs(ops, jobs)
    per_op = [op_jobs.get(op.index, []) for op in ops]
    values["spark.jobs.per_op"] = sum(len(j) for j in per_op) / n_ops
    values["spark.stages.per_op"] = sum(x["stages"] for j in per_op for x in j) / n_ops
    values["spark.tasks.per_op"] = sum(x["tasks"] for j in per_op for x in j) / n_ops
    values["spark.executor_run_s.per_op"] = sum(x["run_s"] for j in per_op for x in j) / n_ops
    values["spark.shuffle_write_bytes.per_op"] = sum(x["shuffle_write"] for j in per_op for x in j) / n_ops

    roots = {s.id: s for s in tracer.spans if s.parent is None and s.op is not None}
    kids = defaultdict(list)
    for s in tracer.spans:
        if s.parent in roots:
            kids[s.parent].append((s.start, s.end))
    total = sum(r.end - r.start for r in roots.values())
    values["trace.span_coverage"] = (
        sum(covered(kids[i]) for i in roots) / total if total else 0.0
    )

    # Per-op counts, written as exact repeats next to each op's timing.
    jobs_by_span: dict[int, list[dict]] = defaultdict(list)
    for j in jobs:
        if j["span"] is not None:
            jobs_by_span[j["span"]].append(j)
    bench.out_dir.mkdir(exist_ok=True)
    stem = bench.out_dir / f"{bench.workload}-seed{bench.seed}"
    tracer.write(f"{stem}-spans.jsonl", jobs_by_span)
    with open(f"{stem}-ops.jsonl", "w") as f:
        for op in ops:
            j = op_jobs.get(op.index, [])
            f.write(json.dumps({
                "op": op.index, "kind": op.kind, "s": op.seconds,
                "jobs": len(j), "stages": sum(x["stages"] for x in j),
                "tasks": sum(x["tasks"] for x in j),
                "fs_ops": dict(tracer.fs_ops.get(op.index, {})),
            }) + "\n")
    return {name: {"value": values[name], "unit": unit} for name, unit in per_layer_names()}
