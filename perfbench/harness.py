"""Run lifecycle: launch environment, session, the timed loop, results.

``setup_s`` is one cold set-up per run: JVM launch and session
(``session.get_spark``), input generation, warmup and the workload's
``WARM_OPS`` warm operations. Set-up is a large share of a run's wall
time, so a run sets up once and the steadiness of ``setup_s`` comes
from the median over runs.
"""

from __future__ import annotations

import hashlib
import json
import os
import platform
import shlex
import shutil
import statistics
import sys
import time
import traceback

from spans import LAYER_FIELDS, WRITE_LAYERS, Tracer, job_walls

SPARK_DRIVER_MEMORY = "2g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(checkout: str, run_dir: str, traced: bool) -> None:
    """Environment for the Spark driver, its JVM and the Python workers; set
    before the session launches the JVM."""
    tmp = os.path.join(run_dir, "tmp")
    for d in (tmp, os.path.join(run_dir, "spark-local"), os.path.join(run_dir, "eventlog")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_DRIVER_MEMORY"] = SPARK_DRIVER_MEMORY
    # UDF paths import feature_store_spark inside Spark's Python workers
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (checkout, os.environ.get("PYTHONPATH")) if p
    )
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if traced:
        confs |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(run_dir, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    # no hsperfdata file in the system temp directory
    args = ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"]
    for k, v in confs.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def start_session():
    from feature_store_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """Stop the JVM the gateway launched and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class PeakRss:
    """Peak resident memory of the Spark driver: Python process plus JVM,
    over set-up and a workload's first ``MIN_OPS`` operations, without
    the output checks: the kernel's high-water mark is reset before each
    of those operations and read after it. The JVM heap keeps growing
    with every operation, so a fixed count of operations keeps the peak
    independent of how many operations fit in the window."""

    def __init__(self, jvm_pid: int):
        self.pids = ("self", jvm_pid)
        self.windows: list[list[float]] = []
        self.peak = self.read()

    def read(self) -> float:
        per_pid = []
        for pid in self.pids:
            with open(f"/proc/{pid}/status", encoding="ascii") as fh:
                per_pid.append(next(int(ln.split()[1]) for ln in fh if ln.startswith("VmHWM:")) / 1024.0)
        self.windows.append(per_pid)
        return sum(per_pid)

    def reset(self) -> None:
        for pid in self.pids:
            try:
                with open(f"/proc/{pid}/clear_refs", "w", encoding="ascii") as fh:
                    fh.write("5")
            except OSError:
                pass  # no reset: the peak then also covers the checks

    def sample(self) -> None:
        self.peak = max(self.peak, self.read())


def env_record(spark) -> dict:
    """What a result depends on besides the code: versions, core count
    and the session's effective confs."""
    jvm = spark._jvm
    confs = dict(spark.sparkContext.getConf().getAll())
    for k in (
        "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.enabled",
        "spark.sql.execution.arrow.pyspark.enabled",
        "spark.sql.autoBroadcastJoinThreshold",
    ):
        confs.setdefault(k, spark.conf.get(k, None))
    for k in ("spark.app.id", "spark.app.startTime", "spark.driver.port", "spark.app.submitTime"):
        confs.pop(k, None)
    return {
        "spark": spark.version,
        "java": jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "nproc": nproc(),
        "confs": dict(sorted(confs.items())),
    }


def quantile(xs: list[float], q: float) -> float:
    """Linearly interpolated quantile (numpy's default method)."""
    s = sorted(xs)
    if len(s) == 1:
        return s[0]
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def attempt(wl, i: int):
    """Operation ``i``, or None when it raised: a failed operation is
    counted, not fatal."""
    try:
        return wl.op(i)
    except Exception as e:
        print(f"perfbench: op {i} raised {e!r}", file=sys.stderr)
        return None


def tally(wl, i: int, res) -> tuple[int, int]:
    """(attempted, failed) for operation ``i`` and its sub-operations."""
    if res is None:
        return 1, 1
    n = 1 + len(res.sub_ops)
    try:
        return n, wl.check(i, res)
    except Exception:
        traceback.print_exc()
        return n, n


class Run:
    """One benchmark run of one workload."""

    def __init__(self, workload_cls, seed: int, seconds: float, traced: bool, checkout: str):
        self.workload_cls = workload_cls
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.checkout = checkout
        self.run_dir = os.path.join(checkout, ".perfbench_run", f"run-{os.getpid()}-{seed}")
        self.out_dir = os.path.join(checkout, ".perfbench_run", "out")
        self.spark = None

    # ------------------------------------------------------------ setup

    def setup(self):
        """Session, inputs and warmup, then the warm operations: the JVM
        compiles the engine's driver code and the generated code over the
        first operations at full size, which run up to twice as slow as
        later ones. Warm operations are checked after the clock stops;
        their samples are dropped."""
        t0 = time.perf_counter()
        self.spark = start_session()
        wl = self.workload_cls(self.spark, self.seed, os.path.join(self.run_dir, "data"))
        wl.setup()
        warm = [(i, attempt(wl, i)) for i in range(wl.WARM_OPS)]
        self.setup_s = time.perf_counter() - t0
        self.warm_tally = [0, 0]
        for i, res in warm:
            for k, n in enumerate(tally(wl, i, res)):
                self.warm_tally[k] += n
        wl.samples.clear()
        self.tracer = wl.tracer = Tracer(self.spark, self.traced)
        return wl

    # ------------------------------------------------------------ loop

    def measure(self, wl) -> dict:
        """Closed loop, one client: the next operation starts when the
        previous one returns. An operation is started only while it is
        expected to end inside the window (judged by the median so far),
        and at least ``wl.MIN_OPS`` run. Outputs are checked between
        operations, off the clock. In a traced run every other operation
        is traced, so the tracing overhead is measured in the same run
        against the untraced ones after the first."""
        tr, rss = self.tracer, self.rss
        min_ops = max(wl.MIN_OPS, 3 if self.traced else 1)
        lat, walls = [], []
        traced_ms, untraced_ms = [], []
        attempted, failed = self.warm_tally
        n = 0
        while n < min_ops or sum(walls) + statistics.median(walls) <= self.seconds:
            i = wl.WARM_OPS + n
            traced = self.traced and n % 2 == 1
            tr.on = traced
            if n < wl.MIN_OPS:
                rss.reset()
            t0 = time.perf_counter()
            with tr.span("op", "op"):
                res = attempt(wl, i)
            dt = time.perf_counter() - t0
            tr.on = False
            if n < wl.MIN_OPS:
                rss.sample()
            walls.append(dt)
            a, f = tally(wl, i, res)
            attempted += a
            failed += f
            if res is not None:
                lat.append(res.lat_s)
                (traced_ms if traced else untraced_ms).append(res.lat_s * 1000.0)
            n += 1
        attempted += 1
        failed += 0 if wl.final_check() else 1
        return {
            "ops": n,
            "attempted": attempted,
            "failed": failed,
            "lat_s": lat,
            "traced_ms": traced_ms,
            "untraced_ms": untraced_ms,
        }

    # ------------------------------------------------------------ main

    def execute(self) -> dict:
        prepare_env(self.checkout, self.run_dir, self.traced)
        try:
            wl = self.setup()
            env = env_record(self.spark)
            self.rss = PeakRss(self.spark._jvm.java.lang.ProcessHandle.current().pid())
            m = self.measure(wl)
            metrics = {
                "setup_s": (self.setup_s, "s"),
                "op_p50_ms": (quantile(m["lat_s"], 0.5) * 1000.0, "ms"),
            }
            named = wl.named_metrics() | {
                "peak_rss_mb": (self.rss.peak, "MB"),
                "ops_failed_ratio": (m["failed"] / m["attempted"], "ratio"),
            }
            app_id = self.spark.sparkContext.applicationId
            self.spark.stop()
            self.spark = None
            shutdown_jvm()
            sidecar = {
                "workload": wl.NAME,
                "seed": self.seed,
                "seconds": self.seconds,
                "trace": int(self.traced),
                "env": env,
                "ops": m["ops"],
                "attempted": m["attempted"],
                "failed": m["failed"],
                "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
                "named": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
                "samples": wl.samples,
                "rss_windows_mb": self.rss.windows,
            }
            if self.traced:
                walls = job_walls(os.path.join(self.run_dir, "eventlog"), app_id)
                table = self.tracer.layer_table(walls, len(m["traced_ms"]))
                sidecar["layers"] = table
                sidecar["spans"] = self.tracer.dump_spans()
                metrics = self.per_layer(table, m)
                print_layer_table(table, sys.stderr)
            os.makedirs(self.out_dir, exist_ok=True)
            path = os.path.join(self.out_dir, f"{wl.NAME}-s{self.seed}-t{int(self.traced)}.json")
            with open(path, "w", encoding="utf-8") as fh:
                json.dump(sidecar, fh, indent=1)
            brief = {k: v for k, v in env.items() if k != "confs"}
            brief["confs_sha1"] = hashlib.sha1(json.dumps(env["confs"]).encode()).hexdigest()[:12]
            print(f"# env {json.dumps(brief, separators=(',', ':'))}")
            for k, (v, u) in named.items():
                print(f"# {k} {v:.6g} {u}")
            print(f"# sidecar {os.path.relpath(path, self.checkout)}")
            return {
                "correct": m["failed"] == 0,
                "attempted": m["attempted"],
                "failed": m["failed"],
                "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
            }
        finally:
            if self.spark is not None:
                self.spark.stop()
            shutdown_jvm()
            shutil.rmtree(self.run_dir, ignore_errors=True)

    def per_layer(self, table: dict, m: dict) -> dict:
        out = {}
        units = {"jobs": "count", "py4j_calls": "count"}
        for layer, row in table["layers"].items():
            for f in LAYER_FIELDS:
                out[f"{layer}.{f}"] = (row[f], units.get(f, "s"))
            if layer in WRITE_LAYERS:
                out[f"{layer}.files_written"] = (row["files"], "count")
                out[f"{layer}.bytes_written"] = (row["bytes"], "B")
        tiers = self.tracer.tiers
        total = sum(tiers.values())
        for name, n in tiers.items():
            out[f"serving.tier.{name}"] = (n, "count")
        out["serving.ids"] = (total, "count")
        out["serving.cache_hit_ratio"] = (tiers["cache"] / total if total else 0.0, "ratio")
        out["trace.coverage"] = (table["coverage"], "ratio")
        out["trace.ops"] = (len(m["traced_ms"]), "count")
        # the window's first operation runs untraced and is the coldest,
        # so it is left out
        traced, untraced = m["traced_ms"], m["untraced_ms"][1:]
        ratio = statistics.median(traced) / statistics.median(untraced) - 1.0 if traced and untraced else 0.0
        out["trace.overhead_ratio"] = (ratio, "ratio")
        return out


def print_layer_table(table: dict, fh) -> None:
    cols = LAYER_FIELDS + ("files", "bytes")
    fh.write("layer                  " + " ".join(f"{c:>11}" for c in cols) + "\n")
    for layer, row in table["layers"].items():
        fh.write(f"{layer:<22} " + " ".join(f"{row[c]:>11.4g}" for c in cols) + "\n")
    fh.write(
        f"per traced op; op wall {table['op_wall_s']:.3f} s, "
        f"layer self-time coverage {table['coverage']:.1%}\n"
    )
