"""Shared plumbing: the run context, the Spark session, timing helpers,
peak-RSS reading and the result line."""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import sys
import time

T0 = time.perf_counter()  # process start, for setup_s
DRIVER_MEM = "1g"  # heap of the driver JVM


def now() -> float:
    return time.perf_counter()


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1]) of a non-empty list."""
    xs = sorted(values)
    if len(xs) == 1:
        return float(xs[0])
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return float(xs[lo] + (xs[hi] - xs[lo]) * (pos - lo))


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


class Ctx:
    """Everything a workload needs: arguments, its private work
    directory inside the checkout, the session and (traced runs) the
    tracer."""

    def __init__(self, args, root: str):
        self.args = args
        self.seed = args.seed
        self.seconds = args.seconds
        self.cores = args.cores
        self.root = root
        self.work = os.path.join(
            root, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}"
        )
        self.spark = None
        self.tracer = None
        self.on_session = None  # traced runs: called with the new session
        self.session_start_ms = 0.0
        self.stage_ms = 0.0  # generating and staging the inputs
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self._jvm_proc = None
        self._gateway = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    # -- outcome accounting ---------------------------------------------
    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(what)
                print(f"CHECK FAILED: {what}", file=sys.stderr)
        return ok

    # -- environment ----------------------------------------------------
    def prepare_env(self, event_log: bool) -> None:
        """Keep every file Spark, the JVM and Python write inside the
        work directory, and fix the session's cores and heap."""
        for d in ("tmp", "spark-local", "warehouse", "eventlog"):
            os.makedirs(self.path(d), exist_ok=True)
        os.environ["TMPDIR"] = self.path("tmp")
        os.environ["SPARK_LOCAL_DIRS"] = self.path("spark-local")
        # no JVM (the launcher's included) may write /tmp/hsperfdata_*
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={self.path('tmp')}"
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cores)
        # The same heap in every run, whatever the caller exported, and
        # fixed from the start (-Xms = -Xmx): left to grow, G1 stopped at
        # different sizes in runs of the same code, and the runs with the
        # smaller heap timed about 35% slower (registry, 4 cores).
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        confs = {
            "spark.driver.extraJavaOptions": (
                f"-Dderby.system.home={self.path('tmp')} -Xms{DRIVER_MEM}"
            ),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            confs.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.path("eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        args = " ".join(f'--conf "{k}={v}"' for k, v in confs.items())
        os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"

    def start_session(self):
        from sparkstreaming_gmall_demo_spark.session import get_spark

        t = now()
        spark = get_spark(f"perfbench-{self.args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(8).count()  # first job: JVM class loading, executor up
        self.session_start_ms = (now() - t) * 1000.0
        self.spark = spark
        self._gateway = spark.sparkContext._gateway
        self._jvm_proc = getattr(self._gateway, "proc", None)
        if self.on_session is not None:
            self.on_session(spark)
        return spark

    def jvm_pid(self) -> int | None:
        return self._jvm_proc.pid if self._jvm_proc is not None else None

    def stop(self) -> None:
        """Stop Spark and wait until its JVM has exited."""
        if self.spark is not None:
            try:
                for q in self.spark.streams.active:
                    q.stop()
            except Exception:
                pass
            self.spark.stop()
            self.spark = None
        if self._gateway is not None:
            try:
                self._gateway.shutdown()
            except Exception:
                pass
        proc = self._jvm_proc
        if proc is not None:
            try:
                if proc.stdin:
                    proc.stdin.close()
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        self._gateway = self._jvm_proc = None

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        parent = os.path.dirname(self.work)
        try:
            os.rmdir(parent)
        except OSError:
            pass


def peak_rss_mb(pids) -> float:
    """Sum of VmHWM (peak resident set) over the given live pids."""
    total_kb = 0
    for pid in pids:
        if pid is None:
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def emit(ctx: Ctx, metrics: dict) -> None:
    out = {
        "correct": ctx.failed == 0 and ctx.attempted > 0,
        "attempted": int(ctx.attempted),
        "failed": int(ctx.failed),
        "metrics": metrics,
    }
    if ctx.failures:
        print(json.dumps({"failures": ctx.failures}), file=sys.stderr)
    sys.stdout.write(json.dumps(out) + "\n")
    sys.stdout.flush()
