"""The pinned Spark session, process-tree accounting and host conditions.

Everything the session writes (shuffle and block files, the event log, the
warehouse, JVM and Python temp files, the package's shipped zip) lands in
the run directory, and ``stop_session`` ends the JVM and every Python
worker and waits for them, so one run leaves nothing behind for the next.
"""

from __future__ import annotations

import os
import signal
import time

TASK_SLOTS = 2          # local[N]; below nproc so the host keeps spare cores
DRIVER_HEAP = "2g"      # the package default asks for 24g
JVM_FLAGS = (
    "-Duser.timezone=UTC -XX:+UseParallelGC -XX:ParallelGCThreads=2 "
    "-XX:CICompilerCount=2 -XX:-UsePerfData"
)
CLK_TCK = os.sysconf("SC_CLK_TCK")


def pin_environment(run_dir: str) -> None:
    """Process environment the JVM and Python workers inherit. Call before
    pyspark starts a gateway."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        # the package derives its shuffle partitions from this slot count
        "SPARK_GRAFT_CPUS": str(TASK_SLOTS),
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
        "ARROW_NUM_THREADS": "1",
        "PYTHONHASHSEED": "0",
    })
    import tempfile
    tempfile.tempdir = tmp


def start_session(run_dir: str, event_log: bool, jvm_flags: str = ""):
    """A local SparkSession with fixed slots, heap and JIT/GC threads, then
    the package's own per-session tuning."""
    from pyspark.sql import SparkSession

    b = (SparkSession.builder.master(f"local[{TASK_SLOTS}]")
         .appName("e2ebench")
         .config("spark.driver.memory", DRIVER_HEAP)
         .config("spark.driver.extraJavaOptions",
                 f"{JVM_FLAGS} {jvm_flags} "
                 f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.sql.warehouse.dir", os.path.join(run_dir, "warehouse"))
         .config("spark.local.dir", os.path.join(run_dir, "local"))
         .config("spark.python.worker.reuse", "true"))
    if event_log:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", log_dir)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    from canal_clickhouse_spark.session import tune
    return tune(spark)


def jvm_gc_s(spark) -> float:
    """Total collection time of every JVM garbage collector so far."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


# -- process tree ---------------------------------------------------------------


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode()
    except OSError:
        return None
    # the command name may hold spaces; fields after ')' are fixed
    return raw[raw.rindex(")") + 2:].split()


def tree_pids() -> list[int]:
    """This process and all of its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def tree_cpu_s() -> float:
    """User+system CPU seconds of the process tree, reaped children included."""
    total = 0
    for p in tree_pids():
        st = _stat(p)
        if st is not None:  # fields 14-17: utime stime cutime cstime
            total += sum(int(x) for x in st[11:15])
    return total / CLK_TCK


def tree_rss_peak_mb() -> float:
    """Sum over the live process tree of each process's peak resident set
    (VmHWM), in MiB."""
    kb = 0
    for p in tree_pids():
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return kb / 1024.0


def process_start_time() -> float:
    """Wall-clock time this process started (from /proc)."""
    with open("/proc/stat") as f:
        btime = next(int(x.split()[1]) for x in f if x.startswith("btime"))
    return btime + int(_stat(os.getpid())[19]) / CLK_TCK


# -- host conditions -------------------------------------------------------------


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v[:8])


def load_avg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def calibrate_s() -> float:
    """A fixed pure-Python loop; its time tracks how fast this host runs now."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


# -- teardown --------------------------------------------------------------------


def stop_session(spark, timeout_s: float = 60.0) -> None:
    """Stop Spark, end the JVM gateway and wait for every descendant."""
    from pyspark import SparkContext

    descendants = [p for p in tree_pids() if p != os.getpid()]
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway exits when its stdin closes
            try:
                proc.wait(timeout=timeout_s)
            except Exception:
                proc.kill()
                proc.wait()
        deadline = time.time() + timeout_s
        for p in descendants:
            while _alive(p) and time.time() < deadline:
                time.sleep(0.05)
            if _alive(p):
                os.kill(p, signal.SIGKILL)
        for p in descendants:
            try:
                os.waitpid(p, 0)
            except ChildProcessError:
                pass


def _alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] != "Z"
