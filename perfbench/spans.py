"""Spans, job groups and exact per-span Spark attribution.

A :class:`Tracer` times named spans from the benchmark's own code. Each
span runs under its own Spark job group, so after the run every job,
stage and task can be attributed to exactly one span by reading the
status REST API once (no racy before/after deltas of the stage list).

In a traced run :func:`install_wrappers` additionally wraps a fixed list
of the engine's public functions in spans, so time and jobs inside them
are attributed to their layer. Wrappers are installed on the function
object wherever a module bound it by name, and are removed by the
returned undo callable.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime, timezone


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"pb{self.sid}"

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans in memory; each span's Spark jobs run in job group
    ``pb<sid>``. Single-threaded by design: the benchmark drives one
    client, and a job submitted from another thread lands outside every
    group, which the attribution self-check reports."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def current(self) -> Span | None:
        return self._stack[-1] if self._stack else None

    def open_names(self) -> set[str]:
        return {s.name for s in self._stack}

    @contextmanager
    def span(self, name: str):
        parent = self.current()
        s = Span(len(self.spans) + 1, name, parent.sid if parent else None, 0.0)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        # wall clock: comparable with the job times the REST API reports
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    def subtree(self, root: Span, kids: dict[int, list[Span]]) -> list[Span]:
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s.sid, ()))
        return out

    def self_time(self, s: Span, kids: dict[int, list[Span]]) -> float:
        """Duration minus the part covered by child spans (children are
        sequential: one client thread)."""
        return s.dur - sum(c.dur for c in kids.get(s.sid, ()))


# -- wrappers -----------------------------------------------------------------

def tree_files(path: str) -> dict[str, int]:
    """Size of every data file under ``path`` (hidden files skipped)."""
    out = {}
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith("."):
                p = os.path.join(dirpath, f)
                out[p] = os.path.getsize(p)
    return out


def _footer_rows(paths) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(p).metadata.num_rows for p in paths)


def install_wrappers(tracer: Tracer):
    """Wrap the layers' public functions in spans; returns an undo
    callable. A call made while a span of the same name is open (e.g.
    ``read`` inside ``merge``) is folded into the outer span."""
    from data_seedling_spark.operators import dedup, ledger, matview, merge, sketch, watermark
    from data_seedling_spark.streaming import incremental
    from data_seedling_spark import tables

    undo = []

    def wrap(fn, name, after=None):
        def wrapped(*args, **kwargs):
            if name in tracer.open_names():
                return fn(*args, **kwargs)
            with tracer.span(name) as s:
                pre = after[0](args) if after else None
                out = fn(*args, **kwargs)
                if after:
                    after[1](s, args, out, pre)
                return out

        wrapped.__wrapped__ = fn
        return wrapped

    def patch_function(module, attr, name, after=None):
        orig = getattr(module, attr)
        new = wrap(orig, name, after)
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("data_seedling_spark") and (
                getattr(mod, attr, None) is orig
            ):
                setattr(mod, attr, new)
                undo.append((mod, attr, orig))

    def patch_method(cls, attr, name, after=None):
        orig = cls.__dict__[attr]
        setattr(cls, attr, wrap(orig, name, after))
        undo.append((cls, attr, orig))

    # ledger merges: rows rewritten vs rows changed, from parquet footers
    def merge_pre(args):
        return set(tree_files(args[0].path))

    def merge_post(s, args, _out, before):
        new = [p for p in tree_files(args[0].path) if p.endswith(".parquet") and p not in before]
        changed = [p for p in new if ".changes" + os.sep in p]
        s.counts["rows_changed"] = _footer_rows(changed)
        s.counts["rows_rewritten"] = _footer_rows([p for p in new if p not in changed])

    def read_post(s, args, _out, _pre):
        table, version = args[0], (args[1] if len(args) > 1 else None)
        hist = table.history()
        as_of = hist[-1]["version"] if version is None else version
        live = [h for h in hist if h["version"] <= as_of]
        base = max(
            (i for i, h in enumerate(live) if h["mode"] != "append"), default=0
        )
        s.counts["versions"] = len(live) - base

    def refresh_post(s, _args, out, _pre):
        lo, hi = out
        s.counts["versions_consumed"] = max(0, hi - lo + 1)

    VT = ledger.VersionedTable
    patch_method(VT, "write", "ledger.write")
    patch_method(VT, "merge", "ledger.merge", (merge_pre, merge_post))
    patch_method(VT, "update", "ledger.update")
    patch_method(VT, "read", "ledger.read", (lambda a: None, read_post))
    patch_method(VT, "read_changes", "ledger.read_changes")
    patch_method(VT, "compact", "ledger.compact")
    patch_function(merge, "apply_change_feed", "merge.apply_change_feed")
    patch_function(watermark, "get_or_create_low_watermark", "watermark.get")
    patch_function(watermark, "get_high_watermark", "watermark.get")
    patch_function(watermark, "update_watermark", "watermark.update")
    patch_function(incremental, "read_increment", "incremental.read_increment")
    patch_function(incremental, "write_increment", "incremental.write_increment")
    patch_function(matview, "refresh_mapped_index", "matview.refresh_mapped_index",
                   (lambda a: None, refresh_post))
    patch_function(matview, "compact_mapped_index", "matview.compact_mapped_index")
    patch_method(sketch.MaterializedSketch, "refresh", "sketch.kll_refresh",
                 (lambda a: None, refresh_post))
    patch_method(sketch.MaterializedTDigest, "refresh", "sketch.tdigest_refresh",
                 (lambda a: None, refresh_post))
    patch_method(dedup.MaterializedLshIndex, "refresh", "dedup.lsh_refresh")
    patch_function(tables, "load_table", "tables.load")

    def remove():
        for owner, attr, orig in reversed(undo):
            setattr(owner, attr, orig)

    return remove


# -- REST attribution ---------------------------------------------------------

def _ts(s: str | None) -> float | None:
    if not s:
        return None
    return (
        datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


STAGE_FIELDS = {
    "tasks": "numCompleteTasks",
    "executor_run_s": "executorRunTime",
    "executor_cpu_s": "executorCpuTime",
    "input_bytes": "inputBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "memory_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
}
_SCALE = {"executor_run_s": 1e-3, "executor_cpu_s": 1e-9}


@dataclass
class JobRecord:
    job_id: int
    group: str | None
    start: float
    end: float
    stages: int = 0
    totals: dict = field(default_factory=dict)


def fetch_jobs(spark) -> tuple[list[JobRecord], dict]:
    """Read jobs and stages once from the status REST API; return one
    record per job with the metrics of the stages it ran, plus the
    application-wide stage totals. A stage listed by several jobs (a
    later job reusing shuffle output skips it) belongs to the first."""
    sc = spark.sparkContext
    try:  # let the listener bus deliver every event before reading
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    except Exception:  # noqa: BLE001 — private hook; fall back to a settle delay
        time.sleep(2.0)
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(path):
        with urllib.request.urlopen(base + path, timeout=60) as r:
            return json.load(r)

    jobs = get("/jobs")
    stages = [s for s in get("/stages") if s["status"] != "SKIPPED"]
    by_stage: dict[int, list[dict]] = {}
    for st in stages:
        by_stage.setdefault(st["stageId"], []).append(st)
    owner: dict[int, int] = {}
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        for sid in j["stageIds"]:
            owner.setdefault(sid, j["jobId"])

    def stage_totals(sts):
        t = {k: 0.0 for k in STAGE_FIELDS}
        for st in sts:
            for k, f in STAGE_FIELDS.items():
                t[k] += st.get(f, 0) * _SCALE.get(k, 1)
        return t

    records = []
    for j in jobs:
        mine = [st for sid, sts in by_stage.items() if owner.get(sid) == j["jobId"] for st in sts]
        start = _ts(j.get("submissionTime")) or 0.0
        rec = JobRecord(
            j["jobId"], j.get("jobGroup"), start, _ts(j.get("completionTime")) or start,
            stages=len({st["stageId"] for st in mine}), totals=stage_totals(mine),
        )
        records.append(rec)
    app = stage_totals(stages)
    app["stages"] = len(by_stage)
    app["unowned_stages"] = sum(1 for sid in by_stage if sid not in owner)
    return records, app


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
