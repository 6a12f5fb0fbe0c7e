"""The workloads: the reference's job driven through the package's public
entry points, one closed-loop client each.

A workload's ``setup`` generates its inputs from the seed and seeds the
target; each ``step`` releases one unit of input (one rotated binlog file
for cdc_tail, a rerun of the whole batch job for snapshot_curate) and times
only the program calls that make it visible at the target. Output checks run
after the timed region and turn into ``Step.failed``.

Why these (see also BENCHMARK.json):
  snapshot_curate  extract + range shuffle + write of two tables, then the
                   declared dedup/quality/text operators over a corpus;
                   no merge, no stream
  cdc_tail         binlogdir -> parse_debezium -> LakeTable.writer
                   micro-batches; no sync, no curation

``first_run_s`` is the first step after the last set-up, in a fresh session
of the same process: cold JVM for snapshot_curate (its set-up runs no Spark
job), a JVM warmed by seeding the target for cdc_tail.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

import duckdb

import checks
import gen
from spans import ITERATION

from mysql_to_clickhouse_sync_spark import curate, sync
from mysql_to_clickhouse_sync_spark.sinks.merge import LakeTable
from mysql_to_clickhouse_sync_spark.sources.binlog import FILE_COL, POS_COL, parse_debezium
from mysql_to_clickhouse_sync_spark.sources.binlog_datasource import FORMAT_NAME, register
from mysql_to_clickhouse_sync_spark.streaming.cdc import as_state


@dataclass
class Step:
    wall: float = 0.0  # seconds inside the timed region
    rows: int = 0  # work landed: rows copied / delta rows / events / documents
    lags: list = field(default_factory=list)  # seconds, release -> visible
    ops: int = 1
    failed: int = 0
    problems: list = field(default_factory=list)
    attrs: dict = field(default_factory=dict)  # per-layer context for the trace


def _mtime(path: str) -> float | None:
    try:
        return os.stat(path).st_mtime
    except FileNotFoundError:
        return None


def _parquet_count(path: str) -> int:
    return len(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


class Workload:
    name = ""
    ops_per_step = 1
    # measured warm steps a run makes at least, however long they take: one
    # of snapshot_curate is all the run budget allows
    min_warm = 1
    warmup = 0  # warm steps after the cold one that the metrics leave out
    tracer = None  # set for the traced pass

    def __init__(self) -> None:
        self.con = duckdb.connect()
        self.span = None

    @contextmanager
    def timed(self, step: Step, i: int):
        """The timed region: the program call that makes a release visible.
        In the traced pass it is also the iteration span."""
        cm = self.tracer.span(ITERATION, i=i, warm=i > self.warmup) if self.tracer else nullcontext()
        with cm as span:
            t0 = time.perf_counter()
            try:
                yield
            finally:
                step.wall = time.perf_counter() - t0
        self.span = span

    @contextmanager
    def quiet(self):
        """Checks read the target through the package too; keep them out
        of the trace."""
        active = self.tracer.active if self.tracer else False
        if self.tracer:
            self.tracer.active = False
        try:
            yield
        finally:
            if self.tracer:
                self.tracer.active = active

    def finish(self) -> list[str]:
        return []

    def close(self) -> None:
        self.con.close()


class SnapshotCurate(Workload):
    """The batch jobs, into a fresh directory per step: snapshot_sync
    (lake=False) of a two-table database, then curate.run over the
    documents corpus."""

    name = "snapshot_curate"
    warmup = 1  # the first warm step still runs ~20% slower than the next ones
    tables = {"orders": "o_orderkey", "audit_log": None}
    ops_per_step = len(tables) + 1  # each table sync, and the curate run
    passage_dup_max = 0.5

    def setup(self, spark, root: str, seed: int) -> None:
        self.spark, self.out = spark, os.path.join(root, "out")
        self.db, self.corpus = os.path.join(root, "db"), os.path.join(root, "corpus")
        self.rows = sum(gen.snapshot_source(seed, self.db).values())
        self.n_docs = gen.curate_source(seed, self.corpus)["documents"]
        self.src_bytes = gen.dir_bytes(self.db)
        self.corpus_hash = None

    def step(self, i: int) -> Step:
        st = Step(rows=self.rows + self.n_docs, ops=self.ops_per_step)
        out = os.path.join(self.out, f"iter-{i:05d}")
        synced, curated = os.path.join(out, "sync"), os.path.join(out, "curate")
        released = time.time()
        with self.timed(st, i):
            manifest = sync.snapshot_sync(self.spark, self.db, synced, lake=False)
            report = curate.run(self.spark, self.corpus, curated, passage_dup_max=self.passage_dup_max)
        for path in [os.path.join(synced, t, "_SUCCESS") for t in self.tables] + [
                os.path.join(curated, "manifest.json")]:
            seen = _mtime(path)
            if seen is not None:
                st.lags.append(seen - released)
        with self.quiet():
            per_table = checks.check_snapshot(self.con, self.db, synced, self.tables, manifest)
            problems, h = checks.check_curate(self.con, curated, self.n_docs, report)
        if self.corpus_hash is None:
            self.corpus_hash = h
        elif h != self.corpus_hash:
            problems.append(f"curate: corpus hash {h} != first run's {self.corpus_hash}")
        st.problems = [p for ps in per_table.values() for p in ps] + problems
        st.failed = sum(1 for ps in per_table.values() if ps) + int(bool(problems))
        st.attrs = {"files_written": _parquet_count(synced), "source_bytes": self.src_bytes}
        shutil.rmtree(out, ignore_errors=True)
        return st


class CdcTail(Workload):
    """A seeded LakeTable tailed by a binlogdir stream; each step rotates
    one Debezium file in and waits until the stream has committed it."""

    name = "cdc_tail"
    # the first few warm batches still run 20-40% slower while the JIT
    # compiles the stream path; the median is taken over the batches after
    warmup = 3
    min_warm = 5

    def setup(self, spark, root: str, seed: int) -> None:
        from pyspark.sql.types import (DoubleType, IntegerType, LongType, StringType,
                                       StructField, StructType)

        self.spark = spark
        self.snap_dir = os.path.join(root, "snapshot")
        self.binlog = os.path.join(root, "binlog")
        self.ckpt = os.path.join(root, "checkpoint")
        self.lake = os.path.join(root, "lake")
        os.makedirs(self.binlog)
        snap = gen.cdc_snapshot(seed, self.snap_dir)
        self.feed = gen.CdcFeed(seed, snap["id"].to_numpy())
        self.table = LakeTable(spark, self.lake, keys=["id"], version_cols=["ver"])
        self.table.merge(as_state(spark.read.parquet(self.snap_dir)))
        self.schema = StructType([
            StructField("id", LongType()), StructField("ver", LongType()),
            StructField("grp", IntegerType()), StructField("val", DoubleType()),
            StructField("note", StringType()),
        ])
        register(spark)
        self.query = None
        self.files: list[str] = []
        self.rotated: list[float] = []

    def _start(self):
        raw = self.spark.readStream.format(FORMAT_NAME).option("path", self.binlog).load()
        return (
            parse_debezium(raw, self.schema).drop(FILE_COL, POS_COL)
            .writeStream.foreachBatch(self.table.writer())
            .option("checkpointLocation", self.ckpt)
            .start()
        )

    def step(self, i: int) -> Step:
        fname = f"binlog.{i:06d}.jsonl"
        lines = self.feed.batch(i, fname)
        path = os.path.join(self.binlog, fname)
        with open(path + ".tmp", "w") as fh:
            fh.write("\n".join(lines) + "\n")
        st = Step(rows=len(lines), attrs={"changed_rows": len(lines)})
        self.files.append(path)
        # the running stream may pick the file up at once: open the timed
        # region (and the traced iteration) before the rotation
        with self.timed(st, i):
            os.rename(path + ".tmp", path)  # rotation: the file becomes visible whole
            released = time.time()
            self.rotated.append(released)
            if self.query is None:
                self.query = self._start()
            self.query.processAllAvailable()
        seen = _mtime(os.path.join(self.lake, "_CURRENT"))
        if seen is None or seen < released:
            st.problems.append(f"batch {i}: not committed")
        else:
            st.lags.append(seen - released)
        with self.quiet():
            v, lb = self.table.current_version(), self.table.last_batch()
        if (v, lb) != (i + 1, i):
            st.problems.append(f"batch {i}: version/last_batch {(v, lb)} != {(i + 1, i)}")
        st.failed = int(bool(st.problems))
        return st

    def finish(self) -> list[str]:
        if self.query is not None:
            self.query.stop()
        with self.quiet():
            return checks.check_cdc(
                self.con, self.snap_dir, self.files, self.table.data_files(),
                self.table.current_version(), self.table.last_batch())

    def close(self) -> None:
        if self.query is not None and self.query.isActive:
            self.query.stop()
        super().close()


WORKLOADS = {w.name: w for w in (SnapshotCurate, CdcTail)}
