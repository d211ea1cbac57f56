"""Run one workload: fit Spark to the host, set up several times, run
whole cycles of ops in a closed loop for at least a fixed time, check
every op, and reduce the timings to the benchmark's metrics."""

from __future__ import annotations

import json
import os
import platform
import statistics
import subprocess
import sys
import time

from spans import Tracer

SETUPS = 5  # set-ups per run; setup_s is their median


def host_info() -> dict:
    with open("/proc/meminfo") as f:
        ram_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    try:
        java = subprocess.run(["java", "-version"], capture_output=True, text=True, timeout=60).stderr
        java = java.splitlines()[0] if java else "unknown"
    except (OSError, subprocess.SubprocessError):
        java = "unknown"
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_mb": ram_kb // 1024,
        "spark": pyspark.__version__,
        "java": java,
        "python": platform.python_version(),
    }


def fit_spark_env(host: dict, work: str, event_log: str | None) -> None:
    """Size the engine's session to this host and keep every file Spark
    and Python write under ``work``. Must run before the first session."""
    for d in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    mem_mb = max(512, min(1024, host["ram_mb"] // 4))
    os.environ["SPARK_GRAFT_CPUS"] = str(host["nproc"])
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{mem_mb}m"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["TZ"] = "UTC"  # collected timestamps read as UTC, like the engine's session
    time.tzset()
    args = [
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--conf", f"spark.local.dir={os.path.join(work, 'local')}",
        "--driver-java-options", f"'-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData'",
    ]
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        args += ["--conf", "spark.eventLog.enabled=true", "--conf", f"spark.eventLog.dir=file://{event_log}",
                 "--conf", "spark.eventLog.rolling.enabled=false", "--conf", "spark.eventLog.compress=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 1]."""
    s = sorted(values)
    if len(s) == 1:
        return s[0]
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot, from /proc/stat.
    Steal is time this VM was ready to run but its host ran others."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class SparkHost:
    """The engine's session and the JVM behind it."""

    def __init__(self):
        self.spark = None
        self.get_spark_s: list[float] = []

    def start(self):
        from z316_sales_data_pipeline_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.get_spark_s.append(time.perf_counter() - t0)
        return self.spark

    def stop(self) -> None:
        """Stop the session; the JVM stays up for the next one."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def pins(self) -> int:
        return int(self.spark.sparkContext._jsc.getPersistentRDDs().size())

    def peak_rss_mb(self) -> tuple[float, float]:
        """Peak resident memory of the JVM and of this driver process,
        read from /proc (the kernel's high-water marks)."""
        return _hwm_mb(self.jvm_pid()), _hwm_mb(os.getpid())

    def shutdown(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            if proc.poll() is None:
                proc.terminate()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def measure(workload, host: SparkHost, tracer: Tracer, first_op: int,
            seconds: float | None = None, n_ops: int | None = None) -> dict:
    """Closed loop, one client, from ``first_op`` (a cycle boundary):
    run whole cycles until ``seconds`` have passed, or exactly ``n_ops``
    ops. Each op is timed alone; staging its input, its check and the pin
    count run outside the timed window. A wrong result or an exception
    counts as a failed op."""
    lat, failed, pins = [], 0, []
    i = first_op
    t_start = time.perf_counter()

    def more() -> bool:
        if n_ops is not None:
            return i - first_op < n_ops
        return (i - first_op) % workload.cycle_len or time.perf_counter() - t_start < seconds

    while more():
        workload.before_op(host.spark, i)
        before = host.pins()
        tracer.op_id = i
        ok = False
        t0 = time.perf_counter()
        try:
            result = workload.op(host.spark, i, tracer)
            t1 = time.perf_counter()
            ok = workload.check(host.spark, i, result)
        except Exception as e:  # a failed op is counted; the run goes on
            t1 = time.perf_counter()
            print(f"perfbench: op {i} raised {type(e).__name__}: {e}", file=sys.stderr)
        tracer.op_id = None
        lat.append(workload.latency(i, t0, t1))
        failed += not ok
        pins.append(host.pins() - before)
        i += 1
    return {"lat": lat, "failed": failed, "pins": pins, "wall": time.perf_counter() - t_start, "next_op": i}


def run(workload_cls, seed: int, seconds: int, trace: bool, work: str) -> dict:
    """One run of one workload. Untraced, it reports the end-to-end
    metrics. Traced, it runs the same cycle three times from the same
    boundary: untraced, traced, untraced. It reports the per-layer
    metrics of the traced pass and the tracing overhead: the traced
    median op time minus the mean of the two untraced ones, so that
    the speed-up of a still-warming JVM cancels out."""
    host_facts = host_info()
    event_log = os.path.join(work, "eventlog") if trace else None
    fit_spark_env(host_facts, work, event_log)
    host = SparkHost()
    tracer = Tracer()
    workload = workload_cls(seed, os.path.join(work, "data"))
    steal0 = cpu_ticks()
    try:
        workload.prepare()  # inputs and their expected results, untimed
        setup_s = []
        for k in range(SETUPS):
            # tearing the previous set-up down is not part of setting up
            workload.teardown()
            host.stop()
            t0 = time.perf_counter()
            spark = host.start()
            workload.setup(spark, k)
            setup_s.append(time.perf_counter() - t0)
        workload.teardown()
        t0 = time.perf_counter()
        # one untimed cycle first, so every run starts its timed cycles
        # from the same state
        warm = measure(workload, host, tracer, 0, n_ops=workload.cycle_len)
        first = warm["next_op"]
        warm_up_s = time.perf_counter() - t0
        if trace:
            tracer.sc = host.spark.sparkContext
            workload.instrument(tracer)
            plain = [measure(workload, host, tracer, first, n_ops=workload.cycle_len)]
            tracer.enabled = True
            stats = measure(workload, host, tracer, first, n_ops=workload.cycle_len)
            tracer.enabled = False
            plain.append(measure(workload, host, tracer, first, n_ops=workload.cycle_len))
        else:
            stats = measure(workload, host, tracer, first, seconds=seconds)
        peak_jvm, peak_py = host.peak_rss_mb()
        steal1 = cpu_ticks()
    finally:
        workload.teardown()
        host.shutdown()
    lat = stats["lat"]
    n = len(lat)
    info = {"workload": workload.name, "seed": seed, "seconds": seconds, "trace": int(trace),
            "host": host_facts, "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"],
            "spark_graft_driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
            "ops": n, "cycles": n // workload.cycle_len, "setup_runs_s": setup_s,
            "warm_up_s": warm_up_s, "measured_s": stats["wall"],
            "cpu_steal_frac": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
            "peak_rss_jvm_mb": peak_jvm, "peak_rss_driver_mb": peak_py, "op_latencies_s": lat,
            "op_labels": workload.labels[-n:], "inputs": workload.inputs}
    failed = stats["failed"] + warm["failed"]
    attempted = n + len(warm["lat"])
    if not trace:
        metrics = {
            "setup_s": (statistics.median(setup_s), "s"),
            "op_p50_s": (percentile(lat, 0.5), "s"),
            "op_p90_s": (percentile(lat, 0.9), "s"),
            "ops_per_s": (n / sum(lat), "1/s"),
            "peak_rss_mb": (peak_jvm + peak_py, "MB"),
            "ok_frac": ((n - stats["failed"]) / n, "ratio"),
        }
    else:
        tracer.add_event_log(event_log)
        spans = tracer.finished()
        metrics = workload.layer_metrics(spans)
        metrics["session.get_spark_s"] = (statistics.median(host.get_spark_s), "s")
        metrics["persistence.pins_left_after_op"] = (statistics.median(stats["pins"]), "count")
        untraced = [percentile(p["lat"], 0.5) for p in plain]
        metrics["trace.overhead_s"] = (percentile(lat, 0.5) - statistics.fmean(untraced), "s")
        info["spans"] = spans
        info["untraced_op_p50_s"] = untraced
        failed += sum(p["failed"] for p in plain)
        attempted += sum(len(p["lat"]) for p in plain)
    info["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    return {"correct": n > 0 and failed == 0, "attempted": attempted, "failed": failed,
            "metrics": info["metrics"], "_info": info}


def write_report(path: str, result: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(result["_info"], f, indent=1, default=str)
