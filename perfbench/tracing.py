"""Spans recorded around the calls into each layer, plus their Spark jobs.

A traced run opens the Spark UI and tags every op's jobs with a job
group equal to the op id. Spans stay in memory; after the timed window
the REST ``/jobs`` and ``/stages`` lists are read once, each job becomes
a child span of the ``build`` or ``execute`` span its submission falls
in, and the stage metrics of its stages are attached to it. Nothing here
runs in an untraced run except the op-level clock.
"""

from __future__ import annotations

import contextlib
import json
import time
import urllib.request
from dataclasses import dataclass, field
from datetime import datetime, timezone

from perfbench.stats import self_time
from perfbench.workloads import MIXES

# REST stage fields summed per job: name in the output -> (REST field, scale)
STAGE_FIELDS = {
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "input_records": ("inputRecords", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "fetch_wait_s": ("shuffleFetchWaitTime", 1e-3),
    "shuffle_write_time_s": ("shuffleWriteTime", 1e-9),
    "spill_bytes": ("diskBytesSpilled", 1),
    "tasks": ("numTasks", 1),
    "failed_tasks": ("numFailedTasks", 1),
}


@dataclass
class Span:
    op: str
    name: str
    start: float
    end: float
    parent: str | None = None
    counts: dict = field(default_factory=dict)

    @property
    def interval(self) -> tuple[float, float]:
        return self.start, self.end


@dataclass
class OpRecord:
    op: str
    kind: str
    spans: list[Span] = field(default_factory=list)
    phases_ms: dict = field(default_factory=dict)
    writer: dict = field(default_factory=dict)

    def span(self, name: str) -> Span | None:
        return next((s for s in self.spans if s.name == name), None)

    def children(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.parent == name]


def _rest_time(text: str | None) -> float | None:
    if not text:
        return None
    return (
        datetime.strptime(text, "%Y-%m-%dT%H:%M:%S.%fGMT")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


class Tracer:
    """Records spans for each op when ``enabled``; otherwise every call is
    a no-op so the untraced run measures the program alone."""

    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.ops: list[OpRecord] = []
        self.overhead_s = 0.0

    @contextlib.contextmanager
    def op(self, op_id: str, kind: str):
        if not self.enabled:
            yield None
            return
        t = time.time()
        sc = self.spark.sparkContext
        sc.setJobGroup(op_id, kind)
        rec = OpRecord(op=op_id, kind=kind)
        self.overhead_s += time.time() - t
        start = time.time()
        try:
            yield rec
        finally:
            end = time.time()
            rec.spans.append(Span(op_id, "op", start, end))
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self.ops.append(rec)

    @contextlib.contextmanager
    def span(self, rec: OpRecord | None, name: str):
        if rec is None:
            yield
            return
        start = time.time()
        try:
            yield
        finally:
            rec.spans.append(Span(rec.op, name, start, time.time(), parent="op"))

    def plan(self, rec: OpRecord | None, df) -> None:
        """Force Catalyst on ``df``'s own QueryExecution inside a ``plan``
        span and keep its phase times. The noop write that follows plans
        the write command again, so this span is counted as tracing
        overhead."""
        if rec is None:
            return
        with self.span(rec, "plan"):
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            phases = qe.tracker().phases()
            for k in ("analysis", "optimization", "planning"):
                rec.phases_ms[k] = float(phases.apply(k).durationMs()) if phases.contains(k) else 0.0
        self.overhead_s += rec.span("plan").end - rec.span("plan").start

    def attach_jobs(self) -> None:
        """Read the REST job and stage lists once and hang each op's jobs
        under the span their submission falls in."""
        if not self.enabled or not self.ops:
            return
        sc = self.spark.sparkContext
        base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        with urllib.request.urlopen(f"{base}/jobs", timeout=60) as resp:
            jobs = json.load(resp)
        with urllib.request.urlopen(f"{base}/stages", timeout=60) as resp:
            stages = json.load(resp)
        per_stage: dict[int, dict] = {}
        for s in stages:
            if s.get("status") == "SKIPPED":
                continue
            cur = per_stage.setdefault(int(s["stageId"]), {k: 0.0 for k in STAGE_FIELDS})
            for k, (rest, scale) in STAGE_FIELDS.items():
                # a retried stage is listed once per attempt; keep the
                # largest attempt rather than double-counting
                cur[k] = max(cur[k], float(s.get(rest) or 0) * scale)
        by_op = {rec.op: rec for rec in self.ops}
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            rec = by_op.get(j.get("jobGroup"))
            start, end = _rest_time(j.get("submissionTime")), _rest_time(j.get("completionTime"))
            if rec is None or start is None or end is None:
                continue
            parent = "execute"
            for name in ("build", "plan", "execute"):
                s = rec.span(name)
                if s is not None and s.start - 0.002 <= start <= s.end:
                    parent = name
                    break
            counts = {k: 0.0 for k in STAGE_FIELDS}
            counts["stages"] = 0.0
            for sid in j.get("stageIds", []):
                if sid in per_stage:
                    counts["stages"] += 1
                    for k in STAGE_FIELDS:
                        counts[k] += per_stage[sid][k]
            rec.spans.append(Span(rec.op, f"job-{j['jobId']}", start, end, parent, counts))

    def dump(self, path: str, meta: dict) -> None:
        out = {
            "meta": meta,
            "spans": [
                {
                    "op": s.op,
                    "name": s.name,
                    "parent": s.parent,
                    "start": s.start,
                    "end": s.end,
                    "self_s": self_time(s.interval, [c.interval for c in rec.children(s.name)])
                    if not s.name.startswith("job-")
                    else s.end - s.start,
                    "counts": s.counts,
                }
                for rec in self.ops
                for s in rec.spans
            ],
        }
        with open(path, "w") as f:
            json.dump(out, f, indent=1)


def _duration(rec: OpRecord, name: str) -> float:
    s = rec.span(name)
    return 0.0 if s is None else s.end - s.start


def _job_sum(rec: OpRecord, key: str, parent: str | None = None) -> float:
    return sum(
        s.counts.get(key, 0.0)
        for s in rec.spans
        if s.name.startswith("job-") and (parent is None or s.parent == parent)
    )


def _writer_split(rec: OpRecord) -> dict[str, float]:
    """Split a ``bulk_write`` call by its Spark jobs. The last job is the
    digest job. Leading jobs that move no shuffle bytes sample the token
    ranges. The jobs between them write: the range exchange's map side
    and the parquet staging. The time after the digest job ends is the
    manifest write and commit rename."""
    jobs = sorted((s for s in rec.spans if s.name.startswith("job-")), key=lambda s: s.start)
    op = rec.span("op")
    if len(jobs) < 2 or op is None:
        return {"sample_s": 0.0, "write_s": 0.0, "digest_s": 0.0, "commit_s": 0.0}
    *body, digest = jobs
    n_sample = 0
    while n_sample < len(body) - 1 and not (
        body[n_sample].counts.get("shuffle_write_bytes") or body[n_sample].counts.get("shuffle_read_bytes")
    ):
        n_sample += 1
    return {
        "sample_s": sum(s.end - s.start for s in body[:n_sample]),
        "write_s": sum(s.end - s.start for s in body[n_sample:]),
        "digest_s": digest.end - digest.start,
        "commit_s": max(0.0, op.end - digest.end),
    }


def layer_metrics(
    ops: list[OpRecord], cores: int, first_unit: int, merge_output_rows: float = 0.0
) -> dict[str, float]:
    """Every per-layer metric as a mean per op. Times average over all
    the traced window's ops. Counts (stages, tasks, records, bytes,
    files) average over its first ``first_unit`` ops, one op or one
    query_mix pass: later ops can differ by a few shuffle bytes (range
    partitioning samples with a seed derived from the shuffle id), so a
    fixed op set keeps counts exactly repeatable for a given seed.
    Layers that do no work on a workload report 0. The merge's input is
    what its read's scan read; its output, ``merge_output_rows``, is the
    checked merge result."""
    if not ops or not 0 < first_unit <= len(ops):
        raise ValueError(f"{len(ops)} traced ops, first unit {first_unit}")
    counted = ops[:first_unit]

    def mean(f, over=ops) -> float:
        return sum(f(r) for r in over) / len(over)

    m: dict[str, float] = {}
    m["queries.build_s"] = mean(lambda r: _duration(r, "build") if r.kind not in ("bulk_write", "merge_read") else 0.0)
    m["reader.build_s"] = mean(lambda r: _duration(r, "build") if r.kind == "merge_read" else 0.0)
    for k in ("analysis", "optimization", "planning"):
        m[f"catalyst.{k}_ms"] = mean(lambda r, k=k: r.phases_ms.get(k, 0.0))
    wall = sum(_duration(r, "execute") for r in ops)
    run = sum(_job_sum(r, "executor_run_s", "execute") for r in ops)
    m["exec.wall_s"] = wall / len(ops)
    m["exec.executor_run_s"] = run / len(ops)
    m["exec.executor_cpu_s"] = mean(lambda r: _job_sum(r, "executor_cpu_s", "execute"))
    m["exec.gc_s"] = mean(lambda r: _job_sum(r, "gc_s", "execute"))
    m["exec.idle_frac"] = 1.0 - run / (wall * cores) if wall > 0 else 0.0
    for k in ("stages", "tasks", "failed_tasks", "spill_bytes"):
        m[f"exec.{k}"] = mean(lambda r, k=k: _job_sum(r, k, "execute"), counted)
    m["shuffle.write_bytes"] = mean(lambda r: _job_sum(r, "shuffle_write_bytes"), counted)
    m["shuffle.read_bytes"] = mean(lambda r: _job_sum(r, "shuffle_read_bytes"), counted)
    m["shuffle.fetch_wait_s"] = mean(lambda r: _job_sum(r, "fetch_wait_s"))
    m["shuffle.write_time_s"] = mean(lambda r: _job_sum(r, "shuffle_write_time_s"))
    m["scan.input_records"] = mean(lambda r: _job_sum(r, "input_records"), counted)
    for k in ("sample_s", "write_s", "digest_s", "commit_s"):
        m[f"writer.{k}"] = mean(lambda r, k=k: _writer_split(r)[k] if r.kind == "bulk_write" else 0.0)
    reads = [r for r in counted if r.kind == "merge_read"]
    merge_in = mean(lambda r: _job_sum(r, "input_records"), reads) if reads else 0.0
    m["merge.input_rows"] = merge_in
    m["merge.output_rows"] = float(merge_output_rows) if reads else 0.0
    m["merge.rows_in_per_out"] = merge_in / merge_output_rows if reads and merge_output_rows else 0.0
    m["writer.files"] = mean(lambda r: float(r.writer.get("files", 0)), counted)
    m["writer.bytes"] = mean(lambda r: float(r.writer.get("bytes", 0)), counted)
    for name in ("op", "build", "plan", "execute"):
        m[f"span.{name}.self_s"] = mean(
            lambda r, name=name: self_time(r.span(name).interval, [c.interval for c in r.children(name)])
            if r.span(name) is not None
            else 0.0
        )
    for q in MIXES["hot"]:
        mine = [r for r in ops if r.kind == q] or [OpRecord(q, q)]
        m[f"{q}.build_s"] = mean(lambda r: _duration(r, "build"), mine)
        m[f"{q}.exec_s"] = mean(lambda r: _duration(r, "execute"), mine)
        m[f"{q}.shuffle_write_bytes"] = mean(lambda r: _job_sum(r, "shuffle_write_bytes"), mine[:1])
    return m
