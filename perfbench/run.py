"""The repository benchmark. One invocation runs one workload:

    python3 perfbench/run.py --workload batch --seed 1 --seconds 6 --trace 0

Workloads (see workloads.py and BENCHMARK.json): batch, query_mix. Each
runs on local[nproc] against the engine's public API with inputs generated
from --seed, runs warm-up operations, then times operations (batch passes,
or queries in a closed loop from one client) for at least --seconds, and
checks every output it can.

--trace 0 prints the end-to-end metrics, measured with tracing off.
--trace 1 runs the workload twice in one JVM: first exactly as --trace 0
but with job labels and Spark's event log on (uncompressed, non-rolling),
then plainly again with only the cold set-up cycle, for half of --seconds
(at least one operation). It prints the per-layer metrics folded from that
log, and trace.overhead_frac, the traced median operation time against the
plain one.

Timings are medians over the run's operations (set-up: over three set-up
cycles that follow an untimed cold one), never a min-of-k. The last stdout
line is one JSON object: {"correct", "attempted", "failed", "metrics"}.
All temporary files (temp dir, the package zip shipped to the Python
workers, Spark local dirs, event log, written tables) live under
.perfbench_run/ in the checkout and are removed on exit.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
import traceback
import zipfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = ROOT / "geomesa_spark"

SETUP_CYCLES = 3  # timed set-up cycles after a cold one; reported as the median
MIN_OPS = 2  # measured operations per run, at least


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class RssPeak:
    """Peak resident set of this (driver) process, sampled every 10 ms
    while active."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        with open("/proc/self/statm") as f:
            self.peak = max(self.peak, int(f.read().split()[1]) * self._page)

    def _run(self) -> None:
        while not self._stop.wait(0.01):
            self._sample()

    def __enter__(self):
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()

    @property
    def mb(self) -> float:
        return self.peak / (1 << 20)


def start_session(run_dir: Path, event_log: bool):
    from pyspark.sql import SparkSession

    n = nproc()
    tmp = run_dir / "tmp"
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.driver.memory", "2g")
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.local.dir", str(run_dir / "local"))
        .config("spark.sql.warehouse.dir", str(run_dir / "warehouse"))
        .config("spark.hadoop.hadoop.tmp.dir", str(tmp))
        .config("spark.sql.shuffle.partitions", str(2 * n))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.eventLog.enabled", "true" if event_log else "false")
    )
    if event_log:
        (run_dir / "events").mkdir(exist_ok=True)
        b = (
            b.config("spark.eventLog.dir", (run_dir / "events").as_uri())
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the py4j gateway JVM (and with it the Python worker daemon) and
    wait until it has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def calibrate(spark) -> float:
    """A fixed JVM-only job: host speed at the start and end of a run."""
    t = time.perf_counter()
    spark.range(0, 30_000_000, 1, nproc()).selectExpr("sum(hash(id))").collect()
    return time.perf_counter() - t


def package_digest() -> str:
    """Hash of the package zip the engine shipped to the Python workers,
    after checking it holds exactly the checkout's geomesa_spark/**/*.py."""
    import geomesa_spark

    zpath = Path(tempfile.gettempdir()) / f"geomesa_spark-{geomesa_spark.__version__}.zip"
    with zipfile.ZipFile(zpath) as zf:
        shipped = {n: hashlib.sha256(zf.read(n)).hexdigest() for n in zf.namelist()}
    local = {
        str(Path("geomesa_spark") / p.relative_to(PACKAGE)): hashlib.sha256(p.read_bytes()).hexdigest()
        for p in PACKAGE.rglob("*.py")
    }
    if shipped != local:
        raise RuntimeError(f"shipped package {zpath} differs from the checkout's geomesa_spark")
    return hashlib.sha256(json.dumps(sorted(shipped.items())).encode()).hexdigest()


def run_op(wl, tracer, op: int) -> None:
    """One timed operation, then its untimed output checks."""
    try:
        with tracer.operation(op, wl.op_kind):
            wl.op(op)
        wl.check(op)
    except Exception as e:  # one failed operation must not end the run
        traceback.print_exc(file=sys.stderr)
        wl.fail(op, repr(e))


def measure(wl, tracer, seconds: float, steps: dict, min_ops: int) -> None:
    """Warm-up operations, then operations until `seconds` have passed
    (at least min_ops, and whole blocks of the workload's sequence).
    `steps` receives the wall time of each part."""
    t = time.perf_counter()
    for w in range(wl.warmup_ops):
        run_op(wl, tracer, -1 - w)
    start = time.perf_counter()
    steps["warmup_s"] = start - t
    op = 0
    while op < min_ops or time.perf_counter() - start < seconds or op % wl.block:
        run_op(wl, tracer, op)
        op += 1
    steps["measure_s"] = time.perf_counter() - start


def phase(args, run_dir: Path, traced: bool, seconds: float, setup_cycles: int, min_ops: int = MIN_OPS):
    """One session: set-up cycles, warm-up, measured operations (at least
    `min_ops`)."""
    import tracing
    from workloads import WORKLOADS

    t = time.perf_counter()
    spark = start_session(run_dir, event_log=traced)
    steps = {"session_s": time.perf_counter() - t}
    try:
        tracer = tracing.Tracer(spark.sparkContext, labels=traced)
        workdir = run_dir / ("traced" if traced else "plain")
        workdir.mkdir(exist_ok=True)
        wl = WORKLOADS[args.workload](spark, args.seed, tracer, str(workdir))
        t = time.perf_counter()
        wl.setup()  # the cold cycle pays JVM and Python-worker start-up
        steps["setup_cold_s"] = time.perf_counter() - t
        setups = []
        for _ in range(setup_cycles):
            t = time.perf_counter()
            wl.setup()
            setups.append(time.perf_counter() - t)
        digest = package_digest()
        calib = [calibrate(spark)]
        with RssPeak() as rss:
            measure(wl, tracer, seconds, steps, min_ops)
        calib.append(calibrate(spark))
        wl.close()
        info = {"setups": setups, "rss_mb": rss.mb, "calib": calib, "zip": digest, "steps": steps}
        return wl, tracer, info
    finally:
        spark.stop()


def op_walls(tracer) -> list[float]:
    return [s.wall for s in tracer.measured()]


def report(wl, tracer, info: dict, args) -> dict:
    """End-to-end metrics and the human-readable lines that go with them."""
    from layers import END_TO_END

    walls = op_walls(tracer)
    p50 = statistics.median(walls)
    metrics = {
        "setup_s": statistics.median(info["setups"]),
        "op_p50_s": p50,
        "docs_per_s": wl.docs_per_s(p50),
        "driver_rss_peak_mb": info["rss_mb"],
    }
    if set(metrics) != set(END_TO_END):
        raise RuntimeError(f"end-to-end metrics {sorted(metrics)} differ from BENCHMARK.json's")
    counts = {
        "setup_s": f"{len(info['setups'])} set-up cycles",
        "op_p50_s": f"median of {len(walls)} {wl.op_kind} wall times",
        "docs_per_s": wl.docs_basis,
        "driver_rss_peak_mb": "sampled every 10 ms",
    }
    for name, value in metrics.items():
        print(f"{args.workload} {name} = {value:.6g} {END_TO_END[name]} ({counts[name]})")
    if wl.op_kind == "query":
        kinds: dict = {}
        for s in tracer.measured():
            kinds.setdefault(wl.query(s.op).kind, []).append(s.wall)
        for kind, w in sorted(kinds.items()):
            print(f"{args.workload} {kind}_p50_s = {statistics.median(w):.6g} s ({len(w)} queries)")
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}


def run(args, run_dir: Path) -> dict:
    import pyspark

    t = time.perf_counter()
    if not args.trace:
        wl, tracer, info = phase(args, run_dir, False, args.seconds, SETUP_CYCLES)
        metrics = report(wl, tracer, info, args)
        failures, attempted = wl.failures, len(tracer.ops)
    else:
        from layers import UNITS, layer_metrics
        from tracing import Fold, read_event_log

        # the traced phase repeats the untraced run exactly; the plain one
        # after it reuses the warmed JVM, so overhead_frac errs high
        wl, tracer, info = phase(args, run_dir, True, args.seconds, SETUP_CYCLES)
        plain_wl, plain, _ = phase(args, run_dir, False, args.seconds / 2, 0, min_ops=1)
        (log_path,) = (run_dir / "events").iterdir()
        fold = Fold(read_event_log(str(log_path)))
        p_plain, p_traced = statistics.median(op_walls(plain)), statistics.median(op_walls(tracer))
        values = layer_metrics(fold, tracer, wl, (p_traced - p_plain) / p_plain)
        for name, value in values.items():
            print(f"{args.workload} {name} = {value:.6g} {UNITS[name]}")
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in values.items()}
        failures = wl.failures + [f"plain {f}" for f in plain_wl.failures]
        attempted = len(tracer.ops) + len(plain.ops)
    failed = len({f.split(":")[0] for f in failures})  # one entry per failed check
    for f in failures:
        print(f"FAILED {args.workload} {f}")
    print(f"{args.workload} failed_frac = {failed / attempted:.6g} ({failed} of {attempted} operations)")
    diag = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": nproc(),
        "pyspark": pyspark.__version__,
        "sizes": wl.sizes,
        "calibration_s": info["calib"],
        "steps_s": info["steps"],
        "span_p50_s": {
            label: statistics.median(tracer.walls(label))
            for label in sorted({s.label for s in tracer.spans})
            if tracer.walls(label)
        },
        "setup_cycles_s": info["setups"],
        "op_walls_s": op_walls(tracer),
        "package_zip_sha256": info["zip"],
        "failed_frac": failed / attempted,
        "run_s": time.perf_counter() - t,
    }
    print("diagnostics " + json.dumps(diag))
    return {"correct": not failures, "attempted": attempted, "failed": failed, "metrics": metrics}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["batch", "query_mix"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    if not (PACKAGE / "__init__.py").is_file():
        print(f"perfbench: no geomesa_spark package next to {HERE.name}/", file=sys.stderr)
        return 2
    run_dir = ROOT / ".perfbench_run" / f"{args.workload}-{os.getpid()}"
    (run_dir / "tmp").mkdir(parents=True)
    # every temp file, including the package zip the engine ships to its
    # Python workers, goes to this run's own directory
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # no hsperfdata in /tmp
    tempfile.tempdir = None
    sys.path[:0] = [str(ROOT), str(HERE)]
    try:
        result = run(args, run_dir)
    finally:
        stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            run_dir.parent.rmdir()
        except OSError:  # another run still uses it
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
