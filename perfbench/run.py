"""Benchmark entry point.

    python3 perfbench/run.py --workload pipeline_batch --seed 1 --seconds 10 --trace 0

Runs one workload of BENCHMARK.json in a fresh process against the
package in the checkout that holds this file: 4 local cores, an explicit
2 GB driver heap, all scratch under ``.perfbench_work/``. Prints every
metric by name and unit, a run record (host load, noisy flag), and as the
last line one JSON object: correct, attempted, failed, metrics.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones (Spark event log on, every call tagged with a job description).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "e_commerce_data_engineering_spark"
CPUS = "4"
DRIVER_MEM = "2g"

END_TO_END = {"setup_s": "s", "wall_s": "s", "cpu_s": "s"}

_PIPELINE = ["pipeline.read_s", "pipeline.validate_s", "pipeline.enrich_s", "pipeline.sink_s",
             "pipeline.rows_in", "pipeline.rows_processed", "pipeline.rows_quarantined",
             "pipeline.rows_corrupt", "pipeline.raw_scans", "pipeline.cached_bytes_after",
             "pipeline.sink_files", "pipeline.sink_bytes", "readback.s"]
_STREAM = ["stream.batches", "stream.files_per_batch_p50", "stream.trigger_ms_p50",
           "stream.add_batch_ms_p50", "stream.planning_ms_p50", "stream.wal_commit_ms_p50",
           "stream.latest_offset_ms_p50", "stream.processed_rows_per_s", "loadgen.late_max_s"]
_TIER = ["dedup.frames_built", "dedup.scratch_bytes", "dedup.build_s", "similarity.ivf_indexes"]


def per_layer_names(dedup_queries) -> list[str]:
    import measure

    names = ["op.p50_s", "session.start_s", "session.warmup_s", "generator.s", "generator.orders",
             *_PIPELINE, *_STREAM, *_TIER]
    for q in dedup_queries:
        names += [f"plans.{q}.s", f"plans.{q}.build_s"]
    names += [f"spark.{m}" for m in measure.ENGINE_METRICS]
    return names + ["trace.wall_s", "host.peak_rss_mb", "host.load1_start", "host.load1_end", "host.steal_pct"]


def unit_of(name: str) -> str:
    if name in END_TO_END:
        return END_TO_END[name]
    if name.endswith("_ms_p50"):
        return "ms"
    if name.endswith("_bytes") or name.endswith("bytes_after"):
        return "bytes"
    if name.endswith("rows_per_s"):
        return "rows/s"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name == "host.peak_rss_mb":
        return "MB"
    if name == "host.steal_pct":
        return "%"
    if name.startswith("host."):
        return "load"
    return "count"


class Run:
    """State of one benchmark run: session, op counters, timing marks."""

    def __init__(self, workload: str, seed: int, seconds: float, tracing: bool):
        self.workload, self.seed, self.seconds, self.tracing = workload, seed, seconds, tracing
        self.work = os.path.join(ROOT, ".perfbench_work")
        self.dir = os.path.join(self.work, "run", workload)
        self.tmp = os.path.join(self.dir, "tmp")
        self.event_dir = os.path.join(self.dir, "eventlog")
        shutil.rmtree(self.dir, ignore_errors=True)
        for d in (self.tmp, self.event_dir):
            os.makedirs(d)
        self.spark = None
        self.attempted = self.failed = 0
        self.info: dict = {}
        self.layer: dict[str, float] = {}
        self.units = 1
        self.raw_bytes = 0
        self.dominant: dict[str, str] = {}
        self._t_setup = self._t_timed = None
        self._cpu_timed = self._excluded = 0.0
        self.timed_epoch = (0.0, 0.0)

    def path(self, rel: str) -> str:
        return os.path.join(self.dir, rel)

    def start_session(self) -> None:
        self._t_setup = time.perf_counter()
        from e_commerce_data_engineering_spark.session import get_spark

        conf = {"spark.sql.warehouse.dir": os.path.join(self.dir, "warehouse"),
                "spark.ui.showConsoleProgress": "false"}
        if self.tracing:
            conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": f"file://{self.event_dir}",
                         "spark.eventLog.rolling.enabled": "false", "spark.eventLog.compress": "false"})
        self.spark = get_spark(extra_conf=conf)
        self.layer["session.start_s"] = time.perf_counter() - self._t_setup

    def untimed(self, fn):
        """Input preparation inside set-up that ``setup_s`` leaves out."""
        t = time.perf_counter()
        try:
            return fn()
        finally:
            self._excluded += time.perf_counter() - t

    def cpu_s(self) -> float:
        """CPU seconds so far of this process, the driver JVM and its workers."""
        import measure

        return measure.tree_cpu_s(self.spark.sparkContext._gateway.proc.pid) + sum(os.times()[:2])

    def setup_done(self) -> None:
        self._cpu_timed = self.cpu_s()
        now = time.perf_counter()
        self.layer["setup_s"] = now - self._t_setup - self._excluded
        self.layer["session.warmup_s"] = self.layer["setup_s"] - self.layer["session.start_s"]
        self._t_timed = now
        self.timed_epoch = (time.time(), 0.0)

    def timed_done(self) -> float:
        """End of the timed region; returns its CPU seconds."""
        self.timed_epoch = (self.timed_epoch[0], time.time())
        return self.cpu_s() - self._cpu_timed

    def elapsed(self) -> float:
        return time.perf_counter() - self._t_timed

    def call(self, tag: str, fn, desc: str | None = None, reraise: bool = True):
        """One op: a timed call into the program under a job description.
        Returns (result, seconds); a raised error counts as a failed op."""
        sc = self.spark.sparkContext
        sc.setJobDescription(desc or tag)
        self.attempted += 1
        t = time.perf_counter()
        try:
            result = fn()
        except Exception:
            self.fail(f"{tag} raised:\n{traceback.format_exc()}")
            if reraise:
                raise
            return None, time.perf_counter() - t
        finally:
            sc.setJobDescription(None)
        return result, time.perf_counter() - t

    def stop(self) -> None:
        """Stop the session and wait for the driver JVM to exit (it exits
        when its stdin closes; its Python workers follow it)."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            gateway.shutdown()
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    @staticmethod
    def guard(fn):
        """Run one unit of work; its failed op is already counted."""
        try:
            return fn()
        except Exception:  # the unit is lost, the run goes on
            return None

    def fail(self, why: str) -> None:
        self.failed += 1
        print(f"FAILED: {why}", file=sys.stderr)

    def fail_unless(self, ok: bool, why: str) -> None:
        if not ok:
            self.fail(why)


def _env(run: Run) -> None:
    import tempfile

    # Every scratch file, the JVM's included, stays inside the checkout.
    os.environ.update({"SPARK_GRAFT_CPUS": CPUS, "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM, "TMPDIR": run.tmp,
                       "SPARK_LOCAL_DIRS": run.path("spark-local"), "PYSPARK_PYTHON": sys.executable,
                       "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={run.tmp}"})
    for var in ("SPARK_GRAFT_MASTER", "SPARK_MASTER", "SPARK_CONNECT_MODE_ENABLED"):
        os.environ.pop(var, None)
    tempfile.tempdir = None
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _engine(run: Run) -> dict[str, float]:
    """spark.* metrics per unit of work over the timed region, plus the
    dominant operator of every tagged call."""
    import measure

    log = measure.EventLog(run.event_dir)
    lo, hi = (t * 1000 for t in run.timed_epoch)
    eng = log.engine(lambda job: lo <= job["submit_ms"] <= hi)
    out = {f"spark.{k}": v / max(run.units, 1) for k, v in eng.items()}
    if run.workload == "pipeline_batch" and run.raw_bytes:
        scans = log.engine(lambda job: job["desc"] == "pipeline:run_batch" and lo <= job["submit_ms"] <= hi)
        out["pipeline.raw_scans"] = scans["input_bytes"] / run.raw_bytes
    run.info["dominant_operator"] = {k: log.dominant_operator(d) for k, d in run.dominant.items()}
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_main = time.perf_counter()
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "pipeline.py")):
        print(f"error: package {PACKAGE}/ not found next to {os.path.relpath(HERE, ROOT)}/", file=sys.stderr)
        return 2
    import measure
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    _env(run)
    load_start, ticks_start = os.getloadavg()[0], measure.cpu_ticks()
    try:
        metrics = workloads.WORKLOADS[args.workload](run)
        if run.tracing:
            for k, v in workloads.tier_state(run).items():
                metrics.setdefault(k, v)
        jvm = run.spark.sparkContext._gateway.proc.pid
        metrics["host.peak_rss_mb"] = measure.vm_hwm_mb(jvm) + measure.vm_hwm_mb()
    finally:
        t_stop = time.perf_counter()
        run.stop()
        run.info["stop_s"] = time.perf_counter() - t_stop
    load_end, ticks_end = os.getloadavg()[0], measure.cpu_ticks()
    steal_pct = 100.0 * (ticks_end[0] - ticks_start[0]) / max(ticks_end[1] - ticks_start[1], 1)
    metrics.update(run.layer)
    if run.tracing:
        metrics.update(_engine(run))
        metrics.update({"trace.wall_s": metrics["wall_s"], "host.load1_start": load_start,
                        "host.load1_end": load_end, "host.steal_pct": steal_pct})
        names = per_layer_names(workloads.DEDUP_QUERIES)
    else:
        names = list(END_TO_END)
    late = run.info.get("late_max_s", 0.0)
    record = {"workload": run.workload, "seed": run.seed, "trace": int(run.tracing),
              "loadavg_start": load_start, "loadavg_end": load_end, "cpus": os.cpu_count(), "steal_pct": steal_pct,
              "noisy": load_start > 2 * (os.cpu_count() or 1) or steal_pct > 2.0 or late > 0.25,
              "op_p50_s": metrics.get("op.p50_s"), **run.info}
    failed = min(run.failed, run.attempted)
    record["process_s"] = time.perf_counter() - t_main
    for name in names:
        print(f"{name} = {metrics.get(name, 0.0):.6g} {unit_of(name)}")
    print(f"ops_attempted = {run.attempted} count\nops_failed = {failed} count")
    print("run_record " + json.dumps(record, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": run.attempted, "failed": failed,
                      "metrics": {n: {"value": float(metrics.get(n, 0.0)), "unit": unit_of(n)} for n in names}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
