"""Session, scratch space and the recorded environment of one run.

Everything a run writes lives under ``perfbench/.work`` in the checkout:
the input cache, Spark's local dirs and temp files, stores, event logs
and run records.
"""

from __future__ import annotations

import ctypes
import os
import platform
import resource
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, ".work")

# Local mode runs every task in the driver JVM. The heap is fixed
# (-Xms = -Xmx): a growing heap made peak RSS depend on when the
# collector grew it (15-25% spread between runs).
DRIVER_MEMORY = "2g"

_libc = ctypes.CDLL(None, use_errno=True)


def cores() -> int:
    """What ``nproc`` prints: CPUs this process may run on."""
    return len(os.sched_getaffinity(0))


def import_engine():
    """Import the engine from the checkout, or exit non-zero before any
    result is printed when it is not there."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    try:
        import rollup_engine  # noqa: F401
        from rollup_engine import generate  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        sys.exit(2)


def start_session(run_dir: str, event_log_dir: str | None):
    """local[nproc] session with Spark's scratch space inside the run
    directory; an event log is written only for traced runs."""
    local = os.path.join(run_dir, "spark-local")
    tmp = os.path.join(run_dir, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    from rollup_engine.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": local,
        # -XX:-UsePerfData: no hsperfdata file in the system temp dir
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY} -XX:-UsePerfData"
            " -XX:-UseDynamicNumberOfCompilerThreads"
        ),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark("perfbench", master=f"local[{cores()}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM the gateway started, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


# JVM threads whose CPU time is kept apart from the ops' own: the JIT
# compilers (warm-up, not per-op work) and the collector (whose parallel
# workers spin-wait for each other, so a busy host can inflate it).
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")
_GC_THREADS = ("GC Thread", "G1 ")


def _process_cpu_ns(pid: int) -> int:
    """CPU time of every thread process ``pid`` has run, live or ended,
    in ns (the kernel's per-thread run time, which leaves out time the
    host stole from the machine)."""
    clock = ctypes.c_int()
    if _libc.clock_getcpuclockid(pid, ctypes.byref(clock)) != 0:
        raise OSError(f"no CPU clock for process {pid}")
    return time.clock_gettime_ns(clock.value)


def jvm_cpu(pid: int) -> dict[str, float]:
    """CPU seconds the JVM has used so far: its JIT compiler threads
    (``jit_s``), its GC threads (``gc_s``) and every other thread
    (``work_s``); plus the machine's stolen seconds so far (``steal_s``,
    time its virtual CPUs were ready to run but the host ran something
    else). Compiler threads are not started and stopped on demand
    (-XX:-UseDynamicNumberOfCompilerThreads), so their sum only grows."""
    with open("/proc/stat") as f:
        steal = int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    jit = gc = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                name = f.read()
            if not name.startswith(_JIT_THREADS + _GC_THREADS):
                continue
            with open(f"/proc/{pid}/task/{tid}/schedstat") as f:
                ns = int(f.read().split()[0])
        except (FileNotFoundError, ProcessLookupError):
            continue
        if name.startswith(_JIT_THREADS):
            jit += ns
        else:
            gc += ns
    total = _process_cpu_ns(pid)
    return {
        "work_s": (total - jit - gc) / 1e9,
        "jit_s": jit / 1e9,
        "gc_s": gc / 1e9,
        "steal_s": steal,
    }


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python driver plus the JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (py_kb + _vm_hwm_kb(jvm_pid(spark))) / 1024.0


def commit() -> str:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True,
            text=True,
            timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def record(spark) -> dict:
    return {
        "commit": commit(),
        "nproc": cores(),
        "master": spark.sparkContext.master,
        "spark": spark.version,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "driver_memory": DRIVER_MEMORY,
    }
