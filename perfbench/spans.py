"""Span recorder and per-layer report for the traced benchmark pass.

Spans are recorded from the benchmark's own files: ``Tracer.install``
replaces public functions of the package's modules (session, catalog, sync,
sinks.merge, curate) with wrappers that time each call, and a
``StreamingQueryListener`` turns micro-batch progress into stream spans.
Each span sets a Spark job group, so the event log (written uncompressed)
ties every job, stage and task back to the span that launched it; jobs
started on threads that carry no group (micro-batch execution) fall back to
the innermost span whose interval holds their submission time.

Spans live in memory and are reduced after the pass. Nesting is derived
from intervals (a span's parent is the innermost earlier span holding its
start), so spans recorded on the stream thread nest under the main
thread's wait. Self time is a span's duration minus the union of its children's
intervals, clipped to the span.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime

GROUP_PREFIX = "perfbench-"
ITERATION = "bench.iteration"


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans around wrapped calls; inactive until ``active`` is set,
    so the output checks (which read the lake through the same classes)
    never show up as program time."""

    def __init__(self, sc=None) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self.active = False
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple] = []

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, group: str | None) -> None:
        if self.sc is None:
            return
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group)

    @contextmanager
    def span(self, name: str, light: bool = False, **attrs):
        """Time the body as span `name`. `light` spans (metadata reads that
        launch no job) skip the job-group round trip to the JVM."""
        if not self.active:
            yield None
            return
        s = Span(next(self._ids), name, time.time(), 0.0, dict(attrs, light=light))
        stack = self._stack()
        grouped = not light and self.sc is not None
        if grouped:
            s.attrs["group"] = f"{GROUP_PREFIX}{s.sid}"
            self._set_group(s.attrs["group"])
        stack.append(s)
        try:
            yield s
        finally:
            stack.pop()
            s.end = time.time()
            if grouped:  # jobs after this span belong to the enclosing one
                parent = next((p for p in reversed(stack) if "group" in p.attrs), None)
                self._set_group(None if parent is None else parent.attrs["group"])
            with self._lock:
                self.spans.append(s)

    def add(self, name: str, start: float, end: float, **attrs) -> None:
        """Record an after-the-fact span (stream progress)."""
        with self._lock:
            self.spans.append(Span(next(self._ids), name, start, end, attrs))

    def wrap(self, owner, attr: str, name: str, light: bool = False) -> None:
        """Replace ``owner.attr`` with a wrapper timing each call as `name`.
        Nested `light` calls (metadata read inside metadata read) count once."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        def wrapped(*args, **kwargs):
            if light and getattr(tracer._local, "in_light", False):
                return orig(*args, **kwargs)  # count outermost metadata call only
            with tracer.span(name, light=light):
                if light:
                    tracer._local.in_light = True
                try:
                    return orig(*args, **kwargs)
                finally:
                    if light:
                        tracer._local.in_light = False

        wrapped.__wrapped__ = orig
        setattr(owner, attr, wrapped)
        self._patches.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def install(self) -> None:
        """Wrap the layers' public entry points (module-level names are
        patched where they are looked up, e.g. ``sync.load_table``)."""
        from mysql_to_clickhouse_sync_spark import curate, session, sync
        from mysql_to_clickhouse_sync_spark.sinks.merge import LakeTable

        self.wrap(session, "get_spark", "session.get_spark")
        for mod in (sync, curate):
            self.wrap(mod, "load_table", "catalog.load_table")
        self.wrap(sync, "table_bounds", "sync.table_bounds")
        self.wrap(sync, "sync_table", "sync.sync_table")
        self.wrap(sync, "snapshot_sync", "sync.snapshot_sync")

        tracer = self
        orig_merge = LakeTable.__dict__["merge"]
        orig_version = LakeTable.__dict__["current_version"]
        orig_manifest = LakeTable.__dict__["manifest"]

        def merge(table, *args, **kwargs):
            """merge() as a span; whether it committed (or skipped a
            redelivered batch) and the commit's size are read outside it."""
            if not tracer.active:
                return orig_merge(table, *args, **kwargs)
            before = orig_version(table)
            with tracer.span("merge.merge") as s:
                result = orig_merge(table, *args, **kwargs)
            v = orig_version(table)
            s.attrs["committed"] = v is not None and v != before
            if s.attrs["committed"]:
                # what this commit wrote, not the snapshot-wide n_files/rows
                m = orig_manifest(table, v)
                s.attrs.update(
                    files=len(glob.glob(os.path.join(table._gen_dir(v), "**", "*.parquet"),
                                        recursive=True)),
                    bytes=m["commit_bytes"])
            return result

        LakeTable.merge = merge
        self._patches.append((LakeTable, "merge", orig_merge))
        self.wrap(LakeTable, "merge_with_retry", "merge.merge_with_retry")
        self.wrap(LakeTable, "raw", "merge.raw")
        for meta in ("current_version", "manifest", "versions", "history", "last_batch"):
            self.wrap(LakeTable, meta, "merge.metadata", light=True)

        orig_writer = LakeTable.__dict__["writer"]

        def writer(self_, *a, **k):
            apply = orig_writer(self_, *a, **k)

            def traced_apply(batch_df, batch_id):
                with tracer.span("merge.writer_batch", batch_id=batch_id):
                    return apply(batch_df, batch_id)

            return traced_apply

        LakeTable.writer = writer
        self._patches.append((LakeTable, "writer", orig_writer))

        self.wrap(curate, "run", "curate.run")
        self.wrap(curate, "curated_documents", "curate.curated_documents")
        self.wrap(curate, "pack_plan", "curate.pack_plan")
        self.wrap(curate, "_flags", "curate.flags")
        self.wrap(curate, "passage_report", "curate.passage_report")


def progress_listener(tracer: Tracer):
    """A StreamingQueryListener recording every micro-batch's progress."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def __init__(self):
            self.batches: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
            d = dict(p.durationMs)
            rec = {"batch": p.batchId, "start": start, "rows": p.numInputRows, "ms": d}
            self.batches.append(rec)
            if p.numInputRows and tracer.active:
                tracer.add("stream.trigger", start, start + d.get("triggerExecution", 0) / 1000.0,
                           batch=p.batchId)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()


# -- reduction -----------------------------------------------------------


def nest(spans: list[Span]) -> dict[int, int | None]:
    """sid -> parent sid: the innermost earlier-starting span whose
    interval holds the span's start (ties: the longer span is the parent)."""
    order = sorted(spans, key=lambda s: (s.start, -s.end, s.sid))
    parent: dict[int, int | None] = {}
    stack: list[Span] = []
    for s in order:
        while stack and not (stack[-1].start <= s.start < stack[-1].end
                             or (stack[-1].start == s.start == stack[-1].end)):
            stack.pop()
        parent[s.sid] = stack[-1].sid if stack else None
        stack.append(s)
    return parent


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """sid -> duration minus the union of its children, clipped to it."""
    parent = nest(spans)
    by_id = {s.sid: s for s in spans}
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for sid, p in parent.items():
        if p is not None:
            c, ps = by_id[sid], by_id[p]
            kids[p].append((max(c.start, ps.start), min(c.end, ps.end)))
    return {s.sid: max(0.0, s.dur - _union(kids[s.sid])) for s in spans}


def read_event_log(log_dir: str) -> tuple[list[dict], dict]:
    """(jobs, stage metrics) from an uncompressed Spark event log."""
    jobs, stages = [], defaultdict(lambda: defaultdict(float))
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)
                       + glob.glob(os.path.join(log_dir, "local-*"))):
        with open(path) as fh:
            for line in fh:
                if '"SparkListenerJobStart"' in line:
                    e = json.loads(line)
                    jobs.append({
                        "id": e["Job ID"], "submit": e["Submission Time"] / 1000.0,
                        "group": (e.get("Properties") or {}).get("spark.jobGroup.id"),
                        "stages": e["Stage IDs"],
                    })
                elif '"SparkListenerTaskEnd"' in line:
                    e = json.loads(line)
                    m, info = e.get("Task Metrics") or {}, e["Task Info"]
                    st = stages[e["Stage ID"]]
                    st["tasks"] += 1
                    run = m.get("Executor Run Time", 0)
                    deser = m.get("Executor Deserialize Time", 0)
                    st["run_ms"] += run
                    st["cpu_ns"] += m.get("Executor CPU Time", 0)
                    st["gc_ms"] += m.get("JVM GC Time", 0)
                    st["deser_ms"] += deser
                    st["delay_ms"] += max(0, info["Finish Time"] - info["Launch Time"] - run - deser
                                          - m.get("Result Serialization Time", 0))
                    rd = m.get("Shuffle Read Metrics", {})
                    st["shuffle_read"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                    st["shuffle_write"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    st["in_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
                    st["out_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
                    st["out_records"] += m.get("Output Metrics", {}).get("Records Written", 0)
    return jobs, stages


def attribute_jobs(spans: list[Span], jobs: list[dict]) -> dict[int, list[dict]]:
    """sid -> jobs launched directly under that span."""
    by_group = {s.attrs["group"]: s.sid for s in spans if "group" in s.attrs}
    heavy = [s for s in spans if not s.attrs.get("light")]
    out: dict[int, list[dict]] = defaultdict(list)
    for j in jobs:
        sid = by_group.get(j["group"])
        if sid is None:
            holding = [s for s in heavy if s.start <= j["submit"] <= s.end]
            if not holding:
                continue
            sid = min(holding, key=lambda s: s.dur).sid
        out[sid].append(j)
    return out


class Pass:
    """One traced pass reduced: spans grouped by warm iteration, with
    self times, descendants and job/stage/task metrics per span."""

    def __init__(self, spans: list[Span], jobs: list[dict], stages: dict, cores: int):
        self.cores = cores
        self.spans = spans
        self.by_id = {s.sid: s for s in spans}
        self.parent = nest(spans)
        self.self_s = self_times(spans)
        self.stages = stages
        self.jobs_of = attribute_jobs(spans, jobs)
        self.iters = [s for s in spans if s.name == ITERATION and s.attrs.get("warm")]
        self.kids: dict[int, list[int]] = defaultdict(list)
        for c, p in self.parent.items():
            if p is not None:
                self.kids[p].append(c)
        self.iter_of: dict[int, int] = {}
        for it in self.iters:
            for sid in self._subtree(it.sid):
                self.iter_of[sid] = it.sid

    def in_warm(self, name: str | None = None, prefix: str | None = None) -> list[Span]:
        return [s for s in self.spans if s.sid in self.iter_of and s.name != ITERATION
                and (name is None or s.name == name)
                and (prefix is None or s.name.startswith(prefix))]

    def per_iter(self, total: float) -> float:
        return total / max(1, len(self.iters))

    def _subtree(self, sid: int) -> list[int]:
        out, todo = [], [sid]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(self.kids[x])
        return out

    def engine(self, sids: list[int], inclusive: bool) -> dict:
        """Jobs/stages/tasks and task metrics under the given spans,
        outermost spans only when inclusive (so nothing counts twice)."""
        chosen = set(sids)
        if inclusive:
            chosen = set()
            for sid in sids:
                if not any(self._has_ancestor(sid, o) for o in sids if o != sid):
                    chosen.update(self._subtree(sid))
        agg = defaultdict(float)
        for sid in chosen:
            for j in self.jobs_of.get(sid, []):
                agg["jobs"] += 1
                for st in j["stages"]:
                    m = self.stages.get(st)
                    if not m:
                        continue  # skipped stage (shuffle reuse)
                    agg["stages"] += 1
                    for k, v in m.items():
                        agg[k] += v
        return agg

    def _has_ancestor(self, sid: int, anc: int) -> bool:
        p = self.parent.get(sid)
        while p is not None:
            if p == anc:
                return True
            p = self.parent.get(p)
        return False

    def layer_self(self, prefix: str) -> float:
        return self.per_iter(sum(self.self_s[s.sid] for s in self.in_warm(prefix=prefix)))

    def iteration_wall(self) -> float:
        return statistics.median([i.dur for i in self.iters]) if self.iters else 0.0

    def coverage(self) -> float:
        """Share of warm iteration wall time inside named layer spans."""
        covered = total = 0.0
        for it in self.iters:
            total += it.dur
            covered += _union([(max(self.by_id[c].start, it.start), min(self.by_id[c].end, it.end))
                               for c in self.kids[it.sid]])
        return covered / total if total else 0.0


def layer_metrics(p: Pass, stream_batches: list[dict], rotations: list[float],
                  skip: int = 1) -> dict:
    """The per-layer metrics of one traced pass, per warm iteration; the
    first `skip` stream batches (cold and warm-up) are left out."""
    out: dict[str, float] = {}

    def spans(name):
        return p.in_warm(name=name)

    def total(name):
        return p.per_iter(sum(s.dur for s in spans(name)))

    def self_total(name):
        return p.per_iter(sum(p.self_s[s.sid] for s in spans(name)))

    def eng(name, key, inclusive=True):
        return p.per_iter(p.engine([s.sid for s in spans(name)], inclusive)[key])

    out["catalog.load_table.calls"] = p.per_iter(len(spans("catalog.load_table")))
    out["catalog.load_table.s"] = total("catalog.load_table")
    out["sync.table_bounds.s"] = total("sync.table_bounds")
    out["sync.table_bounds.calls"] = p.per_iter(len(spans("sync.table_bounds")))
    out["sync.table_bounds.jobs"] = eng("sync.table_bounds", "jobs")
    out["sync.sync_table.self_s"] = self_total("sync.sync_table")
    for k, key in (("jobs", "jobs"), ("stages", "stages"), ("tasks", "tasks"),
                   ("shuffle_write_bytes", "shuffle_write")):
        out[f"sync.sync_table.{k}"] = eng("sync.sync_table", key)
    written = p.engine([s.sid for s in p.in_warm(prefix="sync.")], True)["out_bytes"]
    source = sum(i.attrs.get("source_bytes", 0) for i in p.iters)
    out["sync.write_amp"] = written / source if source else 0.0
    out["sync.files_written"] = p.per_iter(sum(i.attrs.get("files_written", 0) for i in p.iters))

    out["merge.merge.s"] = total("merge.merge")
    out["merge.merge.self_s"] = self_total("merge.merge")
    for k, key in (("jobs", "jobs"), ("stages", "stages"), ("shuffle_write_bytes", "shuffle_write")):
        out[f"merge.merge.{k}"] = eng("merge.merge", key)
    out["merge.raw.s"] = total("merge.raw")
    out["merge.metadata.s"] = total("merge.metadata")
    out["merge.metadata.calls"] = p.per_iter(len(spans("merge.metadata")))
    commits = [s for s in spans("merge.merge") if s.attrs.get("committed")]
    changed = sum(i.attrs.get("changed_rows", 0) for i in p.iters)
    merged_rows = p.engine([s.sid for s in spans("merge.merge")], True)["out_records"]
    out["merge.rows_rewritten_per_changed_row"] = merged_rows / changed if changed else 0.0
    out["merge.bytes_per_commit"] = (
        statistics.mean(s.attrs.get("bytes", 0) for s in commits) if commits else 0.0)
    out["merge.files_per_commit"] = (
        statistics.mean(s.attrs.get("files", 0) for s in commits) if commits else 0.0)
    retry_spans = spans("merge.merge_with_retry")
    merges_in_retry = sum(
        1 for s in spans("merge.merge")
        if any(p._has_ancestor(s.sid, r.sid) for r in retry_spans))
    out["merge.retries"] = p.per_iter(max(0, merges_in_retry - len(retry_spans)))
    out["merge.redelivery_skips"] = p.per_iter(
        sum(1 for s in spans("merge.merge") if not s.attrs.get("committed")))

    # batch i consumed rotated file i (closed loop)
    data = sorted((b for b in stream_batches if b["rows"]), key=lambda b: b["batch"])
    waits = [max(0.0, b["start"] - r) * 1000 for b, r in zip(data, rotations)][skip:]
    data = data[skip:]
    for key, name in (("latestOffset", "latest_offset"), ("getBatch", "get_batch"),
                      ("queryPlanning", "query_planning"), ("addBatch", "add_batch"),
                      ("walCommit", "wal_commit"), ("commitOffsets", "commit_offsets")):
        vals = [b["ms"].get(key, 0) for b in data]
        out[f"stream.{name}_ms"] = statistics.median(vals) if vals else 0.0
    out["stream.queue_wait_ms"] = statistics.median(waits) if waits else 0.0
    out["stream.input_rows"] = statistics.median([b["rows"] for b in data]) if data else 0.0

    out["curate.run.self_s"] = self_total("curate.run")
    out["curate.run.jobs"] = eng("curate.run", "jobs")
    out["curate.run.stages"] = eng("curate.run", "stages")
    out["curate.plan_build_s"] = total("curate.curated_documents") + total("curate.pack_plan")

    everything = p.engine([i.sid for i in p.iters], True)
    out["executor.run_s"] = p.per_iter(everything["run_ms"]) / 1000
    out["executor.cpu_s"] = p.per_iter(everything["cpu_ns"]) / 1e9
    out["executor.gc_s"] = p.per_iter(everything["gc_ms"]) / 1000
    out["executor.deserialize_s"] = p.per_iter(everything["deser_ms"]) / 1000
    out["scheduler.delay_s"] = p.per_iter(everything["delay_ms"]) / 1000
    out["shuffle.read_bytes"] = p.per_iter(everything["shuffle_read"])
    out["spill.bytes"] = p.per_iter(everything["spill"])
    wall = sum(i.dur for i in p.iters)
    out["executor.busy_share"] = everything["cpu_ns"] / 1e9 / (wall * p.cores) if wall else 0.0
    for layer in ("sync", "merge", "curate"):  # stream jobs run under merge.writer_batch
        sids = [s.sid for s in p.in_warm(prefix=layer + ".")]
        out[f"executor.run_s.{layer}"] = p.per_iter(p.engine(sids, False)["run_ms"]) / 1000
    out["trace.coverage"] = p.coverage()
    out["trace.spans"] = p.per_iter(len(p.in_warm()))
    return out
