"""Sync-job benchmark: snapshot plus curation, and binlog CDC tail, driven
end to end through the package's public entry points.

    python3 perfbench/run.py --workload snapshot_curate --seed 1 --seconds 8 --trace 0

One process, one closed-loop client on ``local[<cores>]``: the next release
(rotated binlog file, rerun of the batch job) happens only after the previous
one is committed and checked. Inputs are generated from ``--seed`` into
``.perfbench_work/`` under the checkout and removed at exit. Each run sets
up ``SETUPS`` times (fresh session, inputs, seeded target) and reports the
median as ``setup_s``, then measures on the last set-up: one cold step,
the workload's ``warmup`` steps (run and checked, not timed into the
metrics), then warm steps until they have taken ``--seconds`` (at least the
workload's ``min_warm`` of them).

``--trace 0`` prints the end-to-end metrics (BENCHMARK.json ``end_to_end``):

    setup_s       median of the set-ups
    first_run_s   the first step, in the last set-up's fresh session
    rows_per_s    median over warm steps that landed rows of rows / step time
    lag_p50_ms    release -> visible at the target, median over warm steps
    lag_tail_ms   the same, LAG_TAIL_Q-th percentile
    success_rate  1 - failed / attempted operations (table syncs, curate
                  runs, batches); the error rate is printed too

``--trace 1`` makes a traced pass that ends with an untraced twin step (for
the tracing overhead) and a one-core traced pass (the single-thread
baseline), and prints the per-layer metrics (``per_layer``). The last stdout
line is the JSON result; the lines before it list every metric by name.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3  # set-up repetitions per run; setup_s is their median
LAG_TAIL_Q = 75  # lag_tail_ms percentile (see BENCHMARK.json workload notes)
MAX_FAILED_STEPS = 3  # consecutive raising steps before the run gives up


def _peak_rss_mb(spark) -> tuple[float, float]:
    """VmHWM of this Python process and of its JVM, in MB."""
    def hwm(pid) -> float:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0

    return hwm("self"), hwm(spark.sparkContext._gateway.proc.pid)


def _pct(values: list[float], q: int) -> float:
    """The q-th percentile, interpolated between order statistics."""
    if len(values) < 2:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def _jvm_heap_mb(spark) -> float:
    """The JVM's heap limit (-Xmx), in MB."""
    return spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20


def _stop_jvm() -> None:
    """End the JVM this process launched (it exits when its stdin closes)
    and wait for it."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def _set_jvm_props(props: dict) -> None:
    """Spark conf for contexts created later in this JVM (already launched):
    the session factory builds its own conf, and a new SparkConf reads
    system props."""
    from pyspark import SparkContext

    system = SparkContext._jvm.java.lang.System
    for k, v in props.items():
        if v is None:
            system.clearProperty(k)
        else:
            system.setProperty(k, v)


class Runner:
    def __init__(self, args, work: str):
        from mysql_to_clickhouse_sync_spark import session
        from workloads import WORKLOADS, Step

        self.args, self.work = args, work
        self.Step = Step
        self.session = session
        self.cls = WORKLOADS[args.workload]
        self.spark = None
        self.wl = None

    def _stop(self) -> None:
        if self.wl is not None:
            self.wl.close()
            self.wl = None
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def setup(self, tag: str, tracer=None) -> float:
        """Fresh session + inputs + seeded target; returns its wall time."""
        self._stop()
        root = os.path.join(self.work, tag)
        self.wl = self.cls()
        self.wl.tracer = tracer
        t0 = time.perf_counter()
        self.spark = self.session.get_spark("perfbench")
        if tracer is not None:
            tracer.sc = self.spark.sparkContext
        self.wl.setup(self.spark, root, self.args.seed)
        return time.perf_counter() - t0

    def measure(self, seconds: float, min_warm: int | None = None, start: int = 0) -> list:
        """Closed loop of steps `start`, `start`+1, ...: step 0 is the cold
        first step, the workload's warm-up steps follow, and the warm steps
        after them run until they have taken `seconds` and number at least
        `min_warm`."""
        min_warm = self.wl.min_warm if min_warm is None else min_warm
        steps, warm, n_warm, i, bad = [], 0.0, 0, start, 0
        while True:
            self.spark.catalog.clearCache()
            try:
                st = self.wl.step(i)
                bad = 0
            except Exception as e:  # noqa: BLE001 - a raising operation is a failed one
                traceback.print_exc(file=sys.stderr)
                st = self.Step(ops=self.wl.ops_per_step, failed=self.wl.ops_per_step,
                          problems=[f"step {i} raised {e!r}"])
                bad += 1
            if self.wl.tracer is not None and self.wl.span is not None:
                self.wl.span.attrs.update(st.attrs)
            for p in st.problems:
                print(f"[{self.args.workload}] {p}", file=sys.stderr)
            steps.append(st)
            if i > self.wl.warmup:
                warm += st.wall
                n_warm += 1
            i += 1
            if bad >= MAX_FAILED_STEPS or (warm >= seconds and n_warm >= min_warm):
                return steps

    def finish(self) -> list[str]:
        """The workload's final output check, after its last step."""
        try:
            final = self.wl.finish()
        except Exception as e:  # noqa: BLE001
            traceback.print_exc(file=sys.stderr)
            final = [f"final check raised {e!r}"]
        for p in final:
            print(f"[{self.args.workload}] {p}", file=sys.stderr)
        return final

    def timed_run(self) -> dict:
        setups = [self.setup(f"setup{k}") for k in range(SETUPS)]
        steps = self.measure(self.args.seconds)
        final = self.finish()
        warm = steps[1 + self.wl.warmup:]
        lags = [x * 1000 for st in warm for x in st.lags]
        attempted = sum(st.ops for st in steps)
        failed = min(attempted, sum(st.failed for st in steps) + (1 if final else 0))
        rates = [st.rows / st.wall for st in warm if st.rows and st.wall]
        metrics = {
            "setup_s": statistics.median(setups),
            "first_run_s": steps[0].wall,
            "rows_per_s": statistics.median(rates) if rates else 0.0,
            "lag_p50_ms": statistics.median(lags) if lags else 0.0,
            "lag_tail_ms": _pct(lags, LAG_TAIL_Q),
            "success_rate": 1.0 - failed / attempted,
        }
        notes = {"warm_steps": len(warm), "lag_samples": len(lags),
                 "jvm_heap_mb": round(_jvm_heap_mb(self.spark)),
                 "lag_tail_percentile": LAG_TAIL_Q, "error_rate": failed / attempted,
                 "setups_s": [round(s, 3) for s in setups]}
        return {"metrics": metrics, "attempted": attempted, "failed": failed, "notes": notes}

    def traced_run(self) -> dict:
        from spans import Pass, Tracer, layer_metrics, progress_listener, read_event_log

        def traced_pass(tag: str, cores: int, seconds: float, min_warm: int | None,
                        twin: bool, warmup: bool):
            """A fresh traced session: a cold step, the workload's warm-up
            steps (if `warmup`) and warm steps, then (with `twin`) one more
            warm step with the span recorder off."""
            log_dir = os.path.join(self.work, f"eventlog-{tag}")
            os.makedirs(log_dir)
            os.environ["SPARK_GRAFT_CPUS"] = str(cores)
            self._stop()
            _set_jvm_props({"spark.eventLog.enabled": "true",
                            "spark.eventLog.dir": "file://" + log_dir,
                            "spark.eventLog.compress": "false"})
            tracer = Tracer()
            tracer.install()
            try:
                tracer.active = True
                self.setup(tag, tracer)
                if not warmup:
                    self.wl.warmup = 0
                skip = 1 + self.wl.warmup
                listener = progress_listener(tracer)
                self.spark.streams.addListener(listener)
                steps = self.measure(seconds, min_warm)
                rotations = list(getattr(self.wl, "rotated", []))
                deadline = time.time() + 5
                while (len([b for b in listener.batches if b["rows"]]) < len(rotations)
                       and time.time() < deadline):
                    time.sleep(0.05)  # progress events arrive asynchronously
                tracer.active = False
                batches = list(listener.batches)
                untraced = self.measure(0.0, 1, start=len(steps)) if twin else []
                final = self.finish()
                rss, heap = _peak_rss_mb(self.spark), _jvm_heap_mb(self.spark)
                self._stop()
            finally:
                tracer.uninstall()
                _set_jvm_props({"spark.eventLog.enabled": None})
            jobs, stages = read_event_log(log_dir)
            p = Pass(tracer.spans, jobs, stages, cores)
            metrics = layer_metrics(p, batches, rotations, skip)
            metrics["peak_rss_mb"] = sum(rss)
            metrics["peak_rss_jvm_mb"] = rss[1]
            metrics["jvm_heap_mb"] = heap
            if untraced:
                # the untraced step runs after the traced ones, on a warmer
                # JVM, so the difference errs towards overstating the overhead;
                # both have the event log on, so it is the recorder's overhead
                metrics["trace.overhead_s"] = (
                    p.iteration_wall() - statistics.median(st.wall for st in untraced))
            return p, metrics, steps + untraced, final

        # launch the JVM through the package's session factory, as the timed
        # run does, so every pass gets the factory's driver memory
        self.session.get_spark("perfbench").stop()
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        p, metrics, steps, final = traced_pass("traced", cores, self.args.seconds, None, True, True)
        setup_spans = [s.dur for s in p.spans if s.name == "session.get_spark"]
        metrics["session.get_spark.s"] = statistics.median(setup_spans) if setup_spans else 0.0
        # one warm step on one core; the JVM is warm from the first pass by
        # then, so the workload's warm-up steps are left out
        p1, _m1, steps1, final1 = traced_pass("one-core", 1, 0.0, 1, False, False)
        metrics["single_core.iter_s"] = p1.iteration_wall()
        metrics["speedup.total"] = p1.iteration_wall() / p.iteration_wall() if p.iteration_wall() else 0.0
        for layer in ("catalog", "sync", "merge", "stream", "curate"):
            multi, single = p.layer_self(layer + "."), p1.layer_self(layer + ".")
            metrics[f"speedup.{layer}"] = single / multi if multi > 0 else 0.0
        os.environ["SPARK_GRAFT_CPUS"] = str(cores)
        steps += steps1
        attempted = sum(st.ops for st in steps)
        failed = min(attempted, sum(st.failed for st in steps) + bool(final) + bool(final1))
        return {"metrics": metrics, "attempted": attempted, "failed": failed,
                "notes": {"warm_iterations": len(p.iters), "one_core_iterations": len(p1.iters),
                          "jvm_heap_mb": round(metrics.pop("jvm_heap_mb"))}}


def checkout_env() -> str:
    """Make a fresh work dir under the checkout and point every scratch
    file this process and its JVM make into it; returns the work dir."""
    import tempfile

    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}"
        " --conf spark.sql.warehouse.dir=" + os.path.join(work, "warehouse") + " pyspark-shell"
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    tempfile.tempdir = tmp
    return work


def _declared(trace: bool) -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return spec["per_layer" if trace else "end_to_end"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["snapshot_curate", "cdc_tail"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import mysql_to_clickhouse_sync_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package is not in this checkout ({e})", file=sys.stderr)
        return 2

    work = checkout_env()
    runner = Runner(args, work)
    try:
        result = runner.traced_run() if args.trace else runner.timed_run()
    finally:
        runner._stop()
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    declared = _declared(bool(args.trace))
    metrics = {}
    for m in declared:
        value = result["metrics"].get(m["name"], 0.0)
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
        print(f"{m['name']:40s} {value:14.6g} {m['unit']}")
    for k, v in result["notes"].items():
        print(f"{k:40s} {v}")
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
