"""Benchmark runner.

    python3 perfbench/run.py --workload amr_small --seed 1 --seconds 16 --trace 0

Run from the repository root.  One closed-loop client in this process
drives a ``local[<cores>]`` Spark session: each operation starts only
after the previous one has returned its collected result.  The last line
of standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_HEAP = "2g"
# seconds of --seconds one measured operation stands for: a run measures
# floor(seconds / OP_SLOT_S) operations, the same number on every commit
# (an operation of either workload takes 6-12 s on 4 cores)
OP_SLOT_S = 8.0


# span name -> per-layer time metric
SPAN_TIMES = {
    "penman": "penman.parse_s",
    "standardize": "standardize.amr_s",
    "align": "align.s",
    "scores.micro": "scores.micro_s",
    "scores.macro": "scores.macro_s",
    "scores.bootstrap": "scores.bootstrap_s",
    "pagerank": "pagerank.s",
    "components": "components.s",
    "labelprop": "labelprop.s",
    "triangles": "triangles.s",
}
# layers that report Spark job/task counts (a span counts toward the layer
# named by its first dotted component)
COUNTED_LAYERS = (
    "penman", "standardize", "align", "scores", "rmat",
    "pagerank", "components", "labelprop", "triangles",
)
TRACE_COUNTS = (
    "penman.edges_out", "standardize.edges_in", "standardize.edges_out",
    "align.pairs", "align.mean_vars", "align.certified_frac",
    "components.count", "triangles.total",
) + tuple(
    f"supersteps.{op}.{m}"
    for op in ("pagerank", "components", "labelprop")
    for m in ("steps", "step_ms_p50")
)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True, help="non-negative")
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seed < 0:
        p.error("--seed must be non-negative (negative seeds are reserved for warm-up)")
    return args


def declared_metrics(kind: str) -> dict[str, str]:
    """``{name: unit}`` of the ``end_to_end`` or ``per_layer`` metrics that
    BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec[kind]}


def isolate_scratch(tmp: str, cores: int) -> None:
    """Environment of the Spark session this run starts: every temporary
    file of Spark, the JVM and the Python workers under ``tmp`` inside the
    checkout, the core count, the driver heap, and the program importable by
    the Python workers."""
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # a fixed, pre-touched driver heap.  With the program's default (8 GB
    # maximum, grown on demand) the driver tree's peak RSS followed when G1
    # chose to grow the heap: 2.9-4.6 GB over four seeds of linkgraph_rmat,
    # 4.9-7.4 GB with -Xms8g, too unsteady for any bound.  Pinned, peak RSS
    # follows what the program holds outside the heap (JVM off-heap, Python
    # driver and workers); what it holds inside shows in the jvm.* heap
    # peaks of the traced run, and heap pressure as GC time in op_s.
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_HEAP
    submit = os.environ.get("SPARK_SUBMIT_OPTS", "")
    os.environ["SPARK_SUBMIT_OPTS"] = f"{submit} -Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch".strip()
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")


def start_session(tmp: str):
    from smatchpp_spark import get_spark

    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        },
    )


def stop_everything(spark) -> None:
    """Stop Spark and the JVM it launched, then wait for every process this
    run started to end."""
    from pyspark import SparkContext
    from tracing import descendants

    procs = descendants(os.getpid())
    if spark is not None:
        try:
            spark.stop()
        except Exception:  # a failed stop must not leave the JVM behind
            traceback.print_exc()
    gateway = SparkContext._gateway
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:
            traceback.print_exc()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None
    alive = _wait_gone(procs, timeout=30)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    _wait_gone(alive, timeout=10)


def _wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Wait until every process in ``pids`` has ended; returns those left."""
    deadline = time.monotonic() + timeout
    while pids:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}") and not _zombie(p)]
        if not pids or time.monotonic() > deadline:
            break
        time.sleep(0.1)
    return pids


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] == "Z"
    except (OSError, IndexError):
        return True


class Run:
    """State of one benchmark run."""

    def __init__(self, args: argparse.Namespace, tmp: str):
        from tracing import Tracer
        from workloads import WORKLOADS

        self.args = args
        self.tmp = tmp
        self.workload = WORKLOADS[args.workload]()
        self.n_ops = max(1, int(args.seconds // OP_SLOT_S))
        if args.trace:
            # whole fused-traced-traced-fused blocks
            self.n_ops = 4 * -(-self.n_ops // 4)
        self.run_id = f"{args.workload}-seed{args.seed}-{os.getpid()}"
        self.tracer = Tracer(None, self.run_id)
        self.spark = None
        self.last = None
        self.setup_s = 0.0
        self.session_start_s = 0.0
        self.fused_walls: list[float] = []
        self.traced_walls: list[float] = []
        self.traced_counts: list[dict] = []
        self.heap_peaks: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0

    def setup(self) -> None:
        """Session start, input generation and warm-up, timed together."""
        from tracing import Tracer

        t0 = time.monotonic()
        self.spark = start_session(self.tmp)
        self.session_start_s = time.monotonic() - t0
        self.tracer = Tracer(self.spark.sparkContext, self.run_id)
        self.workload.generate(self.spark, self.args.seed, self.n_ops, self.tracer)
        self.workload.warm_up(self.spark, traced=bool(self.args.trace))
        self.setup_s = time.monotonic() - t0
        log(f"setup: {self.setup_s:.2f}s (session {self.session_start_s:.2f}s)")

    def measure(self) -> None:
        """Closed loop: operation k runs on input k, and starts only after
        operation k-1 returned.  With tracing, operations run in
        fused-traced-traced-fused blocks: operations still speed up over a
        run as the JVM keeps compiling, and this order gives both forms the
        same mean position, so the trend cancels out of their difference."""
        from tracing import heap_peaks_mb, reset_heap_peaks

        reset_heap_peaks(self.spark.sparkContext)
        for k in range(self.n_ops):
            traced = bool(self.args.trace) and k % 4 in (1, 2)
            self.attempted += 1
            gc.collect()
            t0 = time.monotonic()
            try:
                if traced:
                    with self.tracer.span("op"):
                        counts = self.workload.traced(k, self.tracer)
                    self.traced_walls.append(time.monotonic() - t0)
                    self.traced_counts.append(counts)
                else:
                    outcome = self.workload.fused(k)
                    self.fused_walls.append(time.monotonic() - t0)
                    if self.last is not None:
                        self.workload.discard(self.last)
                    self.last = outcome
            except Exception:
                self.failed += 1
                log(f"operation {k} failed:\n{traceback.format_exc()}")
            log(f"op {k} ({'traced' if traced else 'fused'}): {time.monotonic() - t0:.2f}s")
        self.heap_peaks = heap_peaks_mb(self.spark.sparkContext)
        if self.last is None or (self.args.trace and not self.traced_walls):
            raise RuntimeError("no operation of a needed kind succeeded")

    def check(self) -> None:
        """Untimed output check of the last fused operation."""
        errors = self.workload.check(self.last, self.tracer)
        if errors:
            self.failed += 1
            for e in errors:
                log(f"output check failed: {e}")

    def end_to_end(self, peak_rss: int) -> dict[str, float]:
        return {
            "setup_s": self.setup_s,
            "op_s": statistics.median(self.fused_walls),
            "peak_rss_mb": peak_rss / 2**20,
        }

    def per_layer(self) -> dict[str, float]:
        from workloads import RmatLinkGraph

        spans = self.tracer.spans
        ops = [s for s in spans if s.name == "op"]
        # span self times, median over every span of the name
        metrics: dict[str, float] = {name: 0.0 for name in SPAN_TIMES.values()}
        for span_name, metric in SPAN_TIMES.items():
            vals = [self.tracer.self_time(s) for s in spans if s.name == span_name]
            if vals:
                metrics[metric] = statistics.median(vals)
        metrics["op.self_s"] = statistics.median(self.tracer.self_time(s) for s in ops)
        for name in TRACE_COUNTS:
            metrics[name] = float(self.traced_counts[-1].get(name, 0.0))
        # Spark counts of one call of each layer: the last traced operation's
        # children, and the last span of each layer called outside operations
        # (input generation, output check)
        outside = {s.name: s for s in spans if s.parent is None and s.name != "op"}
        picked = [s for s in spans if s.parent == ops[-1].span_id] + list(outside.values())
        for layer in COUNTED_LAYERS:
            mine = [s for s in picked if s.name.split(".")[0] == layer]
            metrics[f"{layer}.spark_jobs"] = float(sum(s.spark_jobs for s in mine))
            metrics[f"{layer}.spark_tasks"] = float(sum(s.spark_tasks for s in mine))
            metrics[f"{layer}.tasks_failed"] = float(sum(s.tasks_failed for s in mine))
        rmat = [s for s in spans if s.name == "rmat"]
        metrics["rmat.gen_s"] = statistics.median(s.duration for s in rmat) if rmat else 0.0
        metrics["rmat.edges"] = float(rmat[-1].counts["rmat.edges"]) if rmat else 0.0
        pr_s = metrics["pagerank.s"]
        metrics["pagerank.edge_steps_per_s"] = (
            RmatLinkGraph.PR_STEPS * metrics["rmat.edges"] / pr_s if pr_s > 0 else 0.0
        )
        metrics["session.start_s"] = self.session_start_s
        metrics["jvm.heap_peak_mb"] = sum(self.heap_peaks.values())
        metrics["jvm.old_gen_peak_mb"] = sum(
            v for k, v in self.heap_peaks.items() if "Old Gen" in k
        )
        fused = statistics.mean(self.fused_walls)
        traced = statistics.mean(self.traced_walls)
        metrics["trace.fused_s"] = fused
        metrics["trace.traced_s"] = traced
        metrics["trace.overhead_s"] = traced - fused
        return metrics


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    # fail before starting anything when the program is not importable
    sys.path[:0] = [ROOT, HERE]
    import smatchpp_spark  # noqa: F401

    from tracing import PeakRss
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    kind = "per_layer" if args.trace else "end_to_end"
    units = declared_metrics(kind)

    out_dir = os.path.join(ROOT, ".perfbench")
    tmp = os.path.join(out_dir, "tmp", str(os.getpid()))
    cores = len(os.sched_getaffinity(0))
    isolate_scratch(tmp, cores)
    run = Run(args, tmp)
    try:
        try:
            # memory of the program only: the sampler stops before the check
            with PeakRss() as rss:
                run.setup()
                run.measure()
            run.check()
        finally:
            stop_everything(run.spark)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    if args.trace:
        metrics = run.per_layer()
        run.tracer.write(os.path.join(out_dir, "traces", f"{run.run_id}.json"))
    else:
        metrics = run.end_to_end(rss.peak)
    if set(metrics) != set(units):
        raise RuntimeError(
            f"metric names differ from BENCHMARK.json: {sorted(set(metrics) ^ set(units))}"
        )
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
