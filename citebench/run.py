"""citebench: seeded end-to-end benchmark of citeconnect_datapipeline_spark.

Run from the repository root::

    python3 citebench/run.py --workload ingest_nightly --seed 1 --seconds 5 --trace 0

Workloads: ``ingest_nightly`` and ``lake_analytics`` (``workloads.py``).
A run generates its inputs from ``--seed`` (``gen.py``), then sets the
package up ``SETUP_REPS`` times, each on a fresh SparkSession (the
first one also launches Spark's JVM), then runs ops in a closed loop
until they have taken ``--seconds`` seconds and at least the
workload's ``min_units`` tracing units, checking every op's output.
With ``--trace 1`` untraced and traced units alternate and one more
unit runs.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics (``layers.py``) with ``--trace 1``.
Generated inputs, the lake, Spark's local dirs and the warehouse live
under ``.bench_work/`` in the working directory and are removed at the
end; ``.bench_work/results/`` keeps each run's detail (latencies,
sample counts, set-up times) and, for traced runs, the spans.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import statistics
import sys
import time
import traceback

SETUP_REPS = 2
END_TO_END_UNITS = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "ops_per_s": "1/s",
    "peak_rss_mb": "MB",
}
PACKAGE = "citeconnect_datapipeline_spark"


def pin_environment(root: str, work: str) -> None:
    """Fix the run environment before Spark's JVM starts: parallelism =
    the cores this process may use, Python workers able to import the
    package, and every temporary directory under ``work``."""
    cpus = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "spark-local")):
        os.makedirs(d, exist_ok=True)
    pythonpath = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": cpus,
            "SPARK_GRAFT_SHUFFLE_PARTITIONS": cpus,
            "SPARK_GRAFT_DRIVER_MEM": "2g",
            "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "PYTHONPATH": os.pathsep.join(pythonpath),
            "PYSPARK_PYTHON": sys.executable,
            "TMPDIR": tmp,
            "SPARK_SUBMIT_OPTS": " ".join(
                [
                    os.environ.get("SPARK_SUBMIT_OPTS", ""),
                    f"-Djava.io.tmpdir={tmp}",
                    "-XX:-UsePerfData",
                ]
            ).strip(),
        }
    )
    sys.path.insert(0, root)


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def percentile(values: list[float], q: float) -> float:
    import numpy as np

    return float(np.percentile(values, q)) if values else 0.0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it ran in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


class Runner:
    def __init__(self, args, work: str):
        from spans import Tracer
        from workloads import WORKLOADS

        self.args = args
        self.tr = Tracer(bool(args.trace))
        self.wl = WORKLOADS[args.workload](args.seed, work, self.tr)
        self.spark = None
        self.setup_times: list[float] = []
        self.warm_failures: list[str] = []
        self.ops: list[dict] = []

    # -------------------------------------------------------------- set-up

    def set_up(self) -> None:
        from citeconnect_datapipeline_spark.session import get_spark

        tr, wl = self.tr, self.wl
        for rep in range(SETUP_REPS):
            if self.spark is not None:
                self.spark.stop()
                tr.sc = None
            wl.reset()
            t0 = time.perf_counter()
            with tr.span("bench.setup", tr.enabled, op=f"setup{rep}", phase="setup"):
                with tr.span("session.start", tr.enabled):
                    self.spark = wl.spark = get_spark()
                    tr.sc = self.spark.sparkContext
                wl.setup()
            elapsed = time.perf_counter() - t0
            wl.prepare()
            t0 = time.perf_counter()
            with tr.span("bench.warmup", tr.enabled, op=f"setup{rep}", phase="setup"):
                warm = wl.warmup(tr.enabled)
            elapsed += time.perf_counter() - t0
            self.setup_times.append(elapsed)
            if tr.enabled:
                tr.count_jobs(tr.op_spans(f"setup{rep}"))
            t_settle = time.perf_counter()
            try:
                wl.settle(warm, last=rep == SETUP_REPS - 1)
            except Exception as e:
                self.warm_failures.append(f"setup {rep}: {e}")
                print(f"citebench: warm-up check failed: {e}", file=sys.stderr)
            print(
                f"citebench: setup {rep}: {elapsed:.3f} s "
                f"(checks {time.perf_counter() - t_settle:.1f} s)",
                file=sys.stderr,
            )

    # ------------------------------------------------------------- measure

    def measure(self) -> None:
        from citeconnect_datapipeline_spark import memo
        from workloads import CheckFailed

        args, tr, wl = self.args, self.tr, self.wl
        min_units = wl.min_units + args.trace
        untimed = 0.0
        t_begin = time.perf_counter()
        for i in itertools.count():
            unit = i // wl.unit_ops
            measured = time.perf_counter() - t_begin - untimed
            if measured >= args.seconds and i % wl.unit_ops == 0 and unit >= min_units:
                break
            traced = bool(args.trace) and unit % 2 == 1
            rec = {"i": i, "traced": traced, "out": None, "error": None}
            builds = len(memo._CACHE)
            t0 = time.perf_counter()
            try:
                with tr.span("bench.op", traced, op=i, phase="op"):
                    rec["out"] = wl.op(i, traced)
            except Exception as e:  # an op that raises is a failed op
                rec["error"] = f"raised {e!r}"
                traceback.print_exc()
            rec["latency"] = time.perf_counter() - t0
            rec["memo_builds"] = len(memo._CACHE) - builds
            u0 = time.perf_counter()
            if rec["out"] is not None:
                try:
                    wl.check(i, rec["out"])
                except CheckFailed as e:
                    rec["error"] = f"check: {e}"
            if rec["error"]:
                print(f"citebench: op {i} failed: {rec['error']}", file=sys.stderr)
            if traced:
                tr.count_jobs(tr.op_spans(i))
            wl.between(i)
            untimed += time.perf_counter() - u0
            self.ops.append(rec)
        self.busy_s = time.perf_counter() - t_begin - untimed
        self.rss_parts_mb = (
            vm_hwm_mb(os.getpid()),
            vm_hwm_mb(self.spark.sparkContext._jvm.ProcessHandle.current().pid()),
        )

    # ------------------------------------------------------------- metrics

    def end_to_end(self) -> dict:
        lat = [r["latency"] for r in self.ops]
        return {
            "setup_s": statistics.median(self.setup_times),
            "op_p50_s": percentile(lat, 50),
            "op_p90_s": percentile(lat, 90),
            "ops_per_s": len(self.ops) / self.busy_s,
            "peak_rss_mb": sum(self.rss_parts_mb),
        }

    def per_layer(self) -> dict:
        from layers import layer_metrics

        traced = [r for r in self.ops if r["traced"]]
        plain = [r for r in self.ops if not r["traced"]]
        out = layer_metrics(self.tr.spans, {r["i"] for r in traced})
        out["memo.builds"] = statistics.mean(r["memo_builds"] for r in self.ops)
        out["trace.overhead_s"] = percentile(
            [r["latency"] for r in traced], 50
        ) - percentile([r["latency"] for r in plain], 50)
        out["failed_ops_ratio"] = sum(1 for r in self.ops if r["error"]) / len(self.ops)
        out["docs_per_s"] = out["write_amp"] = 0.0
        out.update(self.wl.extra_metrics(plain))
        return out


def main() -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"citebench: {PACKAGE}/ not found under {root}; run from the "
              "repository root", file=sys.stderr)
        return 2
    bench_root = os.path.join(root, ".bench_work")
    work = os.path.join(bench_root, f"{args.workload}-seed{args.seed}-{os.getpid()}")
    results = os.path.join(bench_root, "results")
    os.makedirs(results, exist_ok=True)
    pin_environment(root, work)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"

    runner = Runner(args, work)
    phases = [("start", time.perf_counter())]
    try:
        runner.wl.generate()
        phases.append(("generate", time.perf_counter()))
        runner.set_up()
        phases.append(("set-up", time.perf_counter()))
        runner.measure()
        phases.append(("measure", time.perf_counter()))
    finally:
        if runner.spark is not None:
            stop_spark(runner.spark)
    phases.append(("stop", time.perf_counter()))
    print(
        "citebench: wall "
        + ", ".join(f"{b[0]} {b[1] - a[1]:.1f} s" for a, b in zip(phases, phases[1:])),
        file=sys.stderr,
    )
    if args.trace:
        from layers import PER_LAYER_UNITS as units

        metrics = runner.per_layer()
    else:
        units, metrics = END_TO_END_UNITS, runner.end_to_end()
    if metrics.keys() != units.keys():
        raise RuntimeError(f"metrics {sorted(metrics.keys() ^ units.keys())} not declared")
    failed = sum(1 for r in runner.ops if r["error"]) + len(runner.warm_failures)
    attempted = len(runner.ops) + len(runner.warm_failures)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    lat = [r["latency"] for r in runner.ops]
    detail = {
        "result": result,
        "setup_times_s": runner.setup_times,
        "op_latencies_s": lat,
        "samples": len(lat),
        "samples_beyond_p90": sum(1 for x in lat if x > percentile(lat, 90)),
        "peak_rss_python_jvm_mb": runner.rss_parts_mb,
        "errors": [r["error"] for r in runner.ops if r["error"]] + runner.warm_failures,
    }
    with open(os.path.join(results, f"{tag}.json"), "w") as f:
        json.dump(detail, f, indent=1)
    if args.trace:
        runner.tr.dump(os.path.join(results, f"spans-{tag}.jsonl"))
    print(
        f"citebench: {args.workload} seed={args.seed}: {len(lat)} ops, "
        f"{detail['samples_beyond_p90']} beyond p90; setup reps "
        + ", ".join(f"{t:.3f}" for t in runner.setup_times),
        file=sys.stderr,
    )
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
