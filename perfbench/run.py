"""Run one benchmark workload of the spinterps_spark engine.

    python3 perfbench/run.py --workload build-idw --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The engine is imported from that
checkout; every file the run writes stays under `.perfbench_work/` (removed
at exit) and `.perfbench_out/` (the run record and, for a traced run, the
span trace). The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics are
the end-to-end ones, with --trace 1 the per-layer ones (perfbench/README.md).
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
import uuid

import context

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
DRIVER_MEM = "4g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["build-idw", "refresh-read"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=20.0,
                   help="length of the timed phase at the nominal speed; sets "
                        "how many operations the run makes")
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def prepare_env(work: str) -> None:
    """Point every temporary file of the run into the checkout and keep
    BLAS single-threaded in the driver, the JVM and the Python workers
    (set before numpy or the JVM load)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "TMPDIR": tmp,
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
    }
    os.environ.update(env)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path[:0] = [ROOT]


class Run:
    """State of one benchmark run: the session, the ops it timed, the
    tracer, the counters the traced run adds, and the run record."""

    def __init__(self, spark, seed, seconds, work, tracer, jvm_pid):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.tracer = tracer
        self.ops: list[dict] = []
        self.record: dict = {}
        self.errors: list[str] = []
        self.extra: dict[str, list] = {}
        self.jvm_pid = jvm_pid
        self.peak_rss_mb = 0.0
        self._phase_t0 = time.perf_counter()

    def mark(self, name: str) -> None:
        """Seconds since process start at a set-up milestone (run record)."""
        self.record.setdefault("setup_marks", {})[name] = (
            time.perf_counter() - T_START)

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def start_phase(self) -> None:
        self.ops = []
        self._phase_t0 = time.perf_counter()

    def phase_wall(self) -> float:
        return time.perf_counter() - self._phase_t0

    def op(self, kind, fn, *args, primary=False, check=None, **attrs):
        """Time one operation; a raised exception or a failed output check
        counts it as failed. Returns its result, None when it raised."""
        probe = context.NoiseProbe()
        probe.start()
        rec = {"kind": kind, "primary": primary, "ok": True, **attrs}
        out = None
        cpu0 = context.tree_cpu_s(self.jvm_pid)
        with self.tracer.span(f"op:{kind}"):
            t0 = time.perf_counter()
            try:
                out = fn(*args)
            except Exception:
                rec["ok"] = False
                self.errors.append(f"{kind}: {traceback.format_exc()}")
            rec["wall_s"] = time.perf_counter() - t0
        rec["cpu_s"] = context.tree_cpu_s(self.jvm_pid) - cpu0
        rec.update(probe.stop())
        if rec["ok"] and check is not None:
            problems = check(out)
            if problems:
                rec["ok"] = False
                self.errors.extend(f"{kind}: {p}" for p in problems)
        self.ops.append(rec)
        self.peak_rss_mb = max(self.peak_rss_mb, context.peak_rss_mb(self.jvm_pid))
        return out

    def add(self, counter: str, value) -> None:
        """Append to one of the traced run's counters (layers.py)."""
        if self.tracer.enabled:
            self.extra.setdefault(counter, []).append(value)


def percentile_tail(values: list[float]) -> tuple[float, float] | None:
    """The highest percentile with at least ten samples beyond it, as
    (percentile, value); None with fewer than 11 samples."""
    n = len(values)
    if n < 11:
        return None
    v = sorted(values)
    idx = n - 11          # ten samples strictly above v[idx]
    return 100.0 * (idx + 1) / n, v[idx]


def end_to_end(run: Run, setup_s: float, store_1m: dict) -> tuple[dict, dict]:
    """(bounded end-to-end metrics, record-only metrics) of an untraced run.
    Per-kind medians are low medians: with an even count, the lower middle
    value, since CPU steal and late warm-up only ever slow an op down."""
    def walls(kind):
        """Walls of the kind's successful ops; of all its ops when none
        succeeded (the run then reports correct=false anyway)."""
        ops = [o for o in run.ops if o["kind"] == kind]
        return [o["wall_s"] for o in ops if o["ok"]] or [o["wall_s"] for o in ops]

    primary = next(o["kind"] for o in run.ops if o["primary"])
    op_p50 = statistics.median_low(walls(primary))
    reads, scans = walls("read"), walls("scan")
    metrics = {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (op_p50, "s"),
        "read_p50_s": (statistics.median_low(reads), "s"),
        "stored_bytes_per_point": (store_1m["bytes"] / store_1m["points"], "B/pt"),
    }
    extras = {
        "op_n": len(walls(primary)), "read_n": len(reads), "scan_n": len(scans),
        "read_tail": percentile_tail(reads),
        "scan_points_per_s": store_1m["points"] / statistics.median_low(scans),
        "peak_rss_mb": run.peak_rss_mb,
    }
    if primary == "build":
        extras["build_turns_per_s"] = run.ops[0]["turns"] / op_p50
    else:
        extras["refresh_p50_s"] = op_p50
        extras["maintain_s"] = statistics.median_low(walls("maintain"))
    return metrics, extras


def remove_work(work: str) -> None:
    """Delete this run's scratch, and the scratch root once it is empty."""
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:
        pass  # another run's scratch is still there


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    run_id = uuid.uuid4().hex[:12]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{run_id}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    prepare_env(work)
    try:
        import spinterps_spark  # noqa: F401
        import tests.oracle  # noqa: F401
    except ImportError as e:
        remove_work(work)
        print(f"perfbench: the engine is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2

    import layers
    from spans import Tracer
    from workloads import WORKLOADS

    from spinterps_spark.session import get_spark

    spark = None
    try:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        }
        spark = get_spark(f"perfbench-{args.workload}", cores=CORES,
                          extra_conf=conf)
        jvm_pid = spark.sparkContext._gateway.proc.pid
        tracer = Tracer(run_id, spark, enabled=False)
        run = Run(spark, args.seed, args.seconds, work, tracer, jvm_pid)
        run.record.update(workload=args.workload, run_id=run_id,
                          trace=args.trace,
                          context=context.run_context(ROOT, args.seed, CORES))
        run.mark("session")
        wl = WORKLOADS[args.workload](run)
        wl.setup()
        setup_s = time.perf_counter() - T_START

        run.start_phase()
        if args.trace:
            tracer.enabled = True
            layers.install(tracer)
            with tracer.span("phase:timed"):
                wl.timed()
            traced_wall = run.phase_wall()
            tracer.unwrap_all()
            with tracer.span("phase:probes"):
                probed = layers.probes(run, wl)
            tracer.enabled = False
            metrics = layers.per_layer(run, traced_wall, probed)
            layers.write_trace(out_dir, run, wl, metrics)
        else:
            wl.timed()
            metrics, run.record["extras"] = end_to_end(
                run, setup_s, run.record["store_1m"])
        all_ops = run.ops
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
        failed = sum(1 for o in all_ops if not o["ok"])
        run.record.update(setup_s=setup_s, ops=all_ops, metrics=metrics,
                          errors=run.errors,
                          error_rate=failed / max(len(all_ops), 1))
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"record-{args.workload}-s{args.seed}"
                               f"-t{args.trace}-{run_id}.json"), "w") as f:
            json.dump(run.record, f, indent=1, default=str)
        for e in run.errors:
            print(f"perfbench: FAILED {e}", file=sys.stderr)
        print(json.dumps({"record": run.record}, default=str))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": len(all_ops),
            "failed": failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        remove_work(work)


if __name__ == "__main__":
    sys.exit(main())
