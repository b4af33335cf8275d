"""Seeded benchmark of the sentence-graph build.

    python3 graphbench/run.py --workload graph_unique --seed 42 \
        --seconds 10 --trace 0

Run from the repository root.  With ``--trace 0`` it sets up the
workload (see :func:`setup`), then repeats the verified operation for
``--seconds`` seconds at ``local[nproc]`` and prints the end-to-end
metrics.  With ``--trace 1`` it runs the layer-by-layer sweep of
``layers.py`` instead and prints the per-layer metrics.  The last line
of standard output is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``; the line before it records the run context.
Everything the run writes stays under ``.graphbench_work/`` in the
working directory and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED = os.path.join(HERE, "expected.json")
DEFAULT_SEED = 42
SETUPS = 3  # session starts in one set-up
# the first, cold graph run takes about 2x a warm one and stays out of
# run_s.  An invocation already pays about 40 s for the JVM launch, the
# cold input generation and that warm-up, so one timed run of 8-13 s is
# what the benchmark's 4 + 22 x 2 invocations in 3420 s leave room for
WARMUPS = 1
DRIVER_MEMORY = "2g"
EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def canonical(value: object) -> object:
    """JSON round trip, so tuples, lists and key order compare equal."""
    return json.loads(json.dumps(value, sort_keys=True))


class Bench:
    """Process-wide state of one invocation: the work directory, the
    Spark session, and the verification references."""

    def __init__(self, workload: str, seed: int, work: str, c1_only: bool):
        self.workload = workload
        self.seed = seed
        self.work = work
        self.c1_only = c1_only  # JIT mode of the JVM, see start_session
        self.spark = None
        self.session_conf: dict = {}  # of the first session, the measured one
        self.attempted = 0
        self.failed = 0
        self.loadavg_start = os.getloadavg()[0]
        # the default seed checks against values recorded on the commit
        # that defined this benchmark; other seeds against the first
        # value this invocation sees
        self.references: dict[str, object] = {}
        if seed == DEFAULT_SEED and os.path.exists(EXPECTED):
            with open(EXPECTED) as f:
                self.references = json.load(f)

    # -- session ---------------------------------------------------------
    @staticmethod
    def _reset_udf_handles() -> None:
        """A module-level UDF caches its JVM function, and with it the
        accumulator of the SparkContext it was first used under; under a
        later SparkContext every task of that UDF then fails to report
        to the closed accumulator (logged, results unaffected).  Drop
        the cached handles of the package's UDFs so that they are
        rebuilt for the new context."""
        from pyspark.sql.udf import UserDefinedFunction

        for name, mod in list(sys.modules.items()):
            if name.split(".")[0] != "riksdagen_sentences_spark":
                continue
            for obj in vars(mod).values():
                udf = getattr(obj, "_unwrapped", obj)
                if isinstance(udf, UserDefinedFunction):
                    udf._judf_placeholder = None

    def start_session(self, parallelism: int, event_log_dir: str | None = None):
        """Start ``local[parallelism]`` through the package's own
        ``get_spark``.  The event log is switched on here, through JVM
        system properties that every new SparkContext reads, so the
        package's session config stays exactly what ships."""
        from pyspark import SparkContext

        from riksdagen_sentences_spark.session import get_spark

        conf = dict(EVENT_LOG_CONF, **{"spark.eventLog.dir": f"file://{event_log_dir}"})
        if SparkContext._jvm is None:
            # first session: launch the JVM, with its temp dir inside the
            # work directory
            tmp = os.path.join(self.work, "tmp")
            # a fixed-size heap: G1 would otherwise resize it from GC
            # timings, which makes peak RSS and run time follow machine
            # load.  -UsePerfData: no hsperfdata file in the system /tmp
            java_opts = f"-Xms{DRIVER_MEMORY} -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
            if self.c1_only:
                # the C1 compiler only.  With C2 a build keeps speeding
                # up for about six builds, by how much depends on how
                # much CPU the compiler threads got, and a timed
                # invocation has room for a warm-up and one timed build;
                # C1 code is slower but steady from the second build on
                java_opts += " -XX:TieredStopAtLevel=1"
            args = [f"--driver-java-options '{java_opts}'"]
            args.append("--conf spark.ui.showConsoleProgress=false")
            if event_log_dir:
                args += [f"--conf {k}={v}" for k, v in conf.items()]
            os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
        else:
            # spark-submit turned its --conf values into JVM system
            # properties, which a new SparkContext reads again
            props = SparkContext._jvm.java.lang.System
            for k, v in conf.items():
                if event_log_dir:
                    props.setProperty(k, v)
                else:
                    props.clearProperty(k)
        self._reset_udf_handles()
        self.spark = get_spark(parallelism=parallelism, app_name="graphbench")
        sc = self.spark.sparkContext
        sc.setLogLevel("ERROR")
        if not self.session_conf:
            self.session_conf = {
                "master": sc.master,
                "default_parallelism": sc.defaultParallelism,
                "shuffle_partitions": self.spark.conf.get(
                    "spark.sql.shuffle.partitions"
                ),
                "java": sc._jvm.java.lang.System.getProperty("java.version"),
            }
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the session, then the JVM, and wait until it has exited:
        the JVM leaves when its stdin closes."""
        from pyspark import SparkContext

        self.stop_session()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = SparkContext._jvm = None

    def release(self) -> int:
        """Drop every cache a run left behind; return how many RDDs were
        still persisted after the package's own cleanup calls (a leak).
        Leaked RDDs are unpersisted so that the next run starts clean."""
        from riksdagen_sentences_spark.operators.cache import release_intermediates

        self.spark.catalog.clearCache()
        release_intermediates()
        leaked = self.spark.sparkContext._jsc.getPersistentRDDs()
        n = leaked.size()
        for rdd in list(leaked.values()):
            rdd.unpersist(True)
        return n

    # -- verification ----------------------------------------------------
    def verify(self, key: str, value: object, errors: list[str] | None = None) -> bool:
        """Count one attempted operation.  It fails on an error message
        or when ``value`` differs from the value recorded at the default
        seed, or, for other seeds, from this invocation's first value."""
        self.attempted += 1
        value = canonical(value)
        if self.seed == DEFAULT_SEED and key not in self.references:
            errors = list(errors or []) + [f"no value in expected.json: {value}"]
        ref = self.references.setdefault(key, value)
        ok = not errors and value == ref
        if not ok:
            self.failed += 1
            for e in errors or []:
                print(f"graphbench: {key}: {e}", file=sys.stderr)
            if value != ref:
                print(f"graphbench: {key}: {value} != {ref}", file=sys.stderr)
        return ok

    def attempt(self, key: str, fn):
        """Run one operation, verify its outcome and release its caches;
        an exception, a mismatch or a leaked cache is one failure.
        Returns the Outcome, or None when the operation raised."""
        try:
            out = fn()
        except Exception:
            traceback.print_exc()
            self.attempted += 1
            self.failed += 1
            self.release()
            return None
        leaked = self.release()
        errors = list(out.errors)
        if leaked:
            errors.append(f"{leaked} persisted RDDs leaked")
        self.verify(key, out.check, errors)
        return out

    def context(self, **extra) -> dict:
        import pyspark

        return {
            "workload": self.workload,
            "seed": self.seed,
            "nproc": nproc(),
            "loadavg_start": self.loadavg_start,
            "loadavg_end": os.getloadavg()[0],
            "spark": pyspark.__version__,
            "python": platform.python_version(),
            "error_rate": self.failed / max(1, self.attempted),
            **self.session_conf,
            **extra,
        }


def setup(bench: Bench, wl_cls):
    """Set-up as ``setup_s`` reports it: the median of SETUPS session
    starts (the first launches the JVM, later ones start a new
    SparkContext in it), plus input generation and WARMUPS verified
    warm-up runs, which happen once.  Returns the workload, setup_s and
    the parts it was summed from."""
    starts = []
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        bench.stop_session()
        spark = bench.start_session(nproc())
        starts.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl = wl_cls(spark, bench.seed, bench.work)
    wl.generate()
    for _ in range(WARMUPS):
        bench.attempt(wl.name, wl.run)
    once = time.perf_counter() - t0
    parts = {"setup_session_start_s": starts, "setup_once_s": once}
    return wl, statistics.median(starts) + once, parts


def measure(bench: Bench, seconds: float):
    """Set up, then repeat the verified operation for as many runs as
    fit in ``seconds``, at least one; returns the end-to-end metrics and
    the run context."""
    from procstat import TreeMonitor
    from workloads import WORKLOADS

    wl, setup_s, parts = setup(bench, WORKLOADS[bench.workload])
    runs, cpu, rss, steal = [], [], [], []
    deadline = time.perf_counter() + seconds
    last = 0.0
    # a run starts only when one as long as the last still ends by the
    # deadline, so an invocation times the same builds of its JVM on a
    # fast box and on a slow one
    while not runs or time.perf_counter() + last <= deadline:
        t0 = time.perf_counter()
        with TreeMonitor() as mon:
            out = bench.attempt(wl.name, wl.run)
        last = time.perf_counter() - t0
        if out is None:
            if time.perf_counter() >= deadline:
                break
            continue
        runs.append(out)
        cpu.append(mon.cpu_s)
        rss.append(mon.peak_rss_bytes)
        steal.append(mon.steal_share)
    if not runs:
        raise RuntimeError("no run completed")

    run_s = statistics.median(o.seconds for o in runs)
    rows = statistics.median(o.rows_out for o in runs)
    metrics = {
        "setup_s": (setup_s, "s"),
        "run_s": (run_s, "s"),
        "cpu_s": (statistics.median(cpu), "s"),
        "peak_rss_mb": (statistics.median(rss) / 2**20, "MB"),
    }
    extra = {
        **wl.input_stats(),
        "runs": len(runs),
        "run_s_all": [round(o.seconds, 4) for o in runs],
        # the share of the machine's CPU time the hypervisor took during
        # each run; run_s grows far more than this share when it is
        # above a few per cent
        "steal_share_all": [round(x, 4) for x in steal],
        **parts,
        "rows_out": rows,
        # rows_out / run_s; not gated: its numerator changes with the
        # seed, which widens its spread beyond run_s's
        "triples_per_s": rows / run_s,
    }
    return metrics, extra


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work_root = os.path.join(os.getcwd(), ".graphbench_work")
    work = os.path.join(work_root, str(os.getpid()))
    # the traced run makes a dozen builds in one JVM, which C2 makes
    # fast enough to end within the time limit
    bench = Bench(args.workload, args.seed, work, c1_only=not args.trace)
    try:
        # keep Spark's scratch space and all temp files inside the
        # checkout; the package is imported from the working directory
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
        os.environ["TMPDIR"] = os.path.join(work, "tmp")
        os.makedirs(os.environ["TMPDIR"])
        os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
        os.environ["PYSPARK_PYTHON"] = sys.executable
        sys.path.insert(0, os.getcwd())
        from workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            raise SystemExit(
                f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}"
            )
        if args.trace:
            from layers import run_trace

            metrics, extra = run_trace(bench, nproc())
        else:
            metrics, extra = measure(bench, args.seconds)
        context = bench.context(**extra)
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(work_root)
        except OSError:
            pass  # another invocation's work directory is still there
    print(json.dumps({"context": context}))
    print(
        json.dumps(
            {
                "correct": bench.failed == 0,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": {
                    k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
                },
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
