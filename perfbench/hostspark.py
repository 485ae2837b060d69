"""Host-sized Spark session, process-tree bookkeeping and memory sampling.

The session is sized from the machine it runs on, not from a fixed core
count: ``local[nproc]``, shuffle partitions at 2x cores, and a Spark driver
heap well under physical RAM. Every temporary path Spark, py4j and the
program touch is pointed inside the run's work directory, so a run reads
and writes only inside its checkout.
"""

from __future__ import annotations

import os
import signal
import threading
import time


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def phys_mem_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def session_config(cores: int, work_dir: str, event_log_dir: str | None) -> dict:
    """The benchmark's Spark settings (recorded in perfbench/baseline.json)."""
    driver_mb = min(4096, phys_mem_mb() // 4)
    java_tmp = os.path.join(work_dir, "jvm-tmp")
    conf = {
        "spark.master": f"local[{cores}]",
        "spark.app.name": "anycrawl-perfbench",
        "spark.sql.shuffle.partitions": str(2 * cores),
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "8000",
        "spark.driver.memory": f"{driver_mb}m",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={java_tmp}",
    }
    if event_log_dir is not None:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def start_session(src_root: str, work_dir: str, event_log_dir: str | None):
    """Start a fresh JVM + SparkSession whose Python workers import the
    program from ``src_root``. Returns (spark, conf dict)."""
    for sub in ("tmp", "jvm-tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work_dir, sub), exist_ok=True)
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
    # py4j's connection file, Python tempfiles and the workers' PYTHONPATH
    # are inherited through the environment of the JVM launch
    os.environ["TMPDIR"] = os.path.join(work_dir, "tmp")
    import tempfile

    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = src_root
    # the environment variable overrides spark.local.dir when set
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ.setdefault("PYARROW_IGNORE_TIMEZONE", "1")

    from pyspark.sql import SparkSession

    conf = session_config(host_cores(), work_dir, event_log_dir)
    builder = SparkSession.builder
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, conf


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, stack = [], [pid]
    while stack:
        for c in kids.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of this process and all its descendants (JVM,
    Python workers), sampled from /proc on a background thread. The poll
    holds the interpreter lock, so it samples only once a second."""

    INTERVAL_S = 1.0

    def __init__(self) -> None:
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_rss_kb(p) for p in [me, *descendants(me)])
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop Spark, then the JVM it launched, then any process left in the
    tree; wait until every one of them has exited."""
    from pyspark import SparkContext

    me = os.getpid()
    spawned = descendants(me)
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()       # the JVM exits when its stdin closes
            try:
                proc.wait(timeout)
            except Exception:        # noqa: BLE001 - fall through to kill
                proc.kill()
                proc.wait(timeout)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + timeout
    sent_kill = False
    while True:
        alive = [p for p in spawned if os.path.exists(f"/proc/{p}")
                 and not _is_zombie(p)]
        if not alive:
            return
        if time.time() > deadline:
            raise RuntimeError(f"processes still alive after stop: {alive}")
        if not sent_kill and time.time() > deadline - timeout / 2:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            sent_kill = True
        time.sleep(0.1)


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True
