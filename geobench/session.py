"""The benchmark's own SparkSession, sized from the host, plus the lock
that keeps two benchmark sessions from timing at the same time."""

from __future__ import annotations

import fcntl
import os
import time


class LockHeld(RuntimeError):
    pass


def acquire_lock(path: str):
    """Exclusive non-blocking flock; the returned file object holds it
    until closed.  Raises LockHeld when another benchmark holds it."""
    f = open(path, "a+")
    try:
        fcntl.flock(f, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        f.close()
        raise LockHeld(f"another benchmark Spark session holds {path}") from None
    return f


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def mem_available_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemAvailable missing from /proc/meminfo")


def task_slots(cores: int) -> int:
    """Spark task slots for ``cores`` cores: one per two cores.  A task
    running an Arrow UDF keeps a JVM thread and a Python worker busy at
    once, so one slot per core ran about two busy processes per core.  In
    alternating runs on 4 cores, 2 slots ran a geo_pipeline iteration in
    9-11 s with 23-25 s of CPU and no trend over 3-4 iterations, where 4
    slots took 13-14 s and 36-37 s of CPU for the first timed iteration and
    sped up over the next two (10-12 s)."""
    return max(1, cores // 2)


def settings(cores: int, avail_mb: int) -> dict[str, str]:
    """Spark settings derived from the host: ``task_slots(cores)`` task
    slots, 4 shuffle partitions per slot, a driver heap of a quarter of the
    free memory clamped to [1, 2] GB (the inputs are small; the rest of the
    machine is shared)."""
    heap_mb = max(1024, min(2048, avail_mb // 4))
    slots = task_slots(cores)
    return {
        "spark.master": f"local[{slots}]",
        "spark.sql.shuffle.partitions": str(4 * slots),
        "spark.default.parallelism": str(slots),
        "spark.driver.memory": f"{heap_mb}m",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }


def start(root: str, work: str, *, event_log: bool):
    """Start the session with every scratch path inside ``work``.  Python
    workers get ``root`` on PYTHONPATH so they import the program from any
    working directory."""
    tmp = f"{work}/tmp"
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    import tempfile

    tempfile.tempdir = tmp

    from pyspark.sql import SparkSession

    b = SparkSession.builder.appName("geobench")
    conf = settings(host_cores(), mem_available_mb())
    for k, v in conf.items():
        b = b.config(k, v)
    b = b.config("spark.local.dir", tmp).config("spark.sql.warehouse.dir", f"{work}/warehouse")
    # the heap is committed and touched in full at start: how much of it the
    # collector happens to touch varied the JVM's RSS by ~250 MB between
    # identical runs, so peak RSS measures the memory outside the heap
    heap = conf["spark.driver.memory"]
    b = b.config("spark.driver.extraJavaOptions",
                 f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{heap} -XX:+AlwaysPreTouch")
    if event_log:
        ev = f"{work}/eventlog"
        os.makedirs(ev, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", ev)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    t0 = time.perf_counter()
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def event_log_path(spark, work: str) -> str:
    return f"{work}/eventlog/{spark.sparkContext.applicationId}"


def stop(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, then end the JVM it launched (it exits when its
    stdin closes) and wait until it and every process under it are gone."""
    from pyspark import SparkContext

    from . import host

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    while host.descendants_alive() and time.monotonic() < deadline:
        time.sleep(0.1)
