"""Fit a Spark session to the machine the benchmark runs on, and clean up
after it.

Everything the package would otherwise take from its defaults is set here,
from the benchmark's own files: ``local[nproc]`` instead of 32 threads, a
driver heap sized from ``/proc/meminfo`` instead of 24g, temp, warehouse,
event-log and checkpoint directories inside the run's work dir, and the
checkout on ``PYTHONPATH`` so Python workers can import the package.
"""

from __future__ import annotations

import os
import signal
import sys
import tempfile
import threading
import time


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


def _meminfo_mb() -> dict[str, int]:
    out = {}
    with open("/proc/meminfo") as fh:
        for line in fh:
            key, rest = line.split(":", 1)
            out[key] = int(rest.split()[0]) // 1024
    return out


def driver_mem_mb() -> int:
    """A quarter of the memory available now, between 1 and 4 GiB: local
    mode runs every task inside the driver JVM, and the machine is shared."""
    info = _meminfo_mb()
    avail = info.get("MemAvailable", info["MemTotal"])
    return max(1024, min(4096, avail // 4))


def prepare_env(root: str, work: str) -> None:
    """Point every scratch location of this process and its children into
    ``work`` and make the package importable by Python workers."""
    for sub in ("tmp", "local", "warehouse", "checkpoints"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # e.g. tempfile.mkdtemp in q_stream_rollup_1m
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    if root not in sys.path:
        sys.path.insert(0, root)


def start_session(work: str, cores: int, event_dir: str | None = None):
    """A SparkSession on ``local[cores]`` with ``cores`` shuffle partitions.

    A second call after ``spark.stop()`` reuses the running JVM, so a
    session with a different master or event-log setting starts warm."""
    from series_correction_project_updated_spark.session import get_spark

    conf = {
        "spark.driver.memory": f"{driver_mem_mb()}m",
        # -XX:-UsePerfData: no hsperfdata file under the system /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.streaming.checkpointLocation": os.path.join(work, "checkpoints"),
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "false",
    }
    if event_dir is not None:
        os.makedirs(event_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_dir,
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark(
        app_name="wlbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid is the 2nd field after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid or os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait until the JVM and every
    Python worker have exited, so consecutive runs never overlap."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    started = descendants()
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:
            pass
        if proc is not None:
            try:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            except Exception:
                pass
            try:
                proc.wait(timeout=20)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    # workers orphaned by the JVM's exit are re-parented away from us, so
    # wait on the pids seen before the stop as well as on current children
    pending = lambda: [p for p in set(started) | set(descendants()) if _alive(p)]
    for sig, grace in ((None, 20.0), (signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        for pid in pending() if sig else ():
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        deadline = time.time() + grace
        while time.time() < deadline:
            if not pending():
                return
            time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _hwm_kb(pid: int) -> tuple[str, int]:
    name, hwm = "", 0
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("Name:"):
                    name = line.split()[1]
                elif line.startswith("VmHWM:"):
                    hwm = int(line.split()[1])
    except OSError:
        pass
    return name, hwm


class RssSampler:
    """Samples the peak resident set (VmHWM) of the JVM and of the largest
    Python worker below this process, every ``interval`` seconds."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.jvm_kb = 0
        self.worker_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        for pid in descendants():
            name, hwm = _hwm_kb(pid)
            if name == "java":
                self.jvm_kb = max(self.jvm_kb, hwm)
            elif name.startswith("python"):
                self.worker_kb = max(self.worker_kb, hwm)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return (self.jvm_kb + self.worker_kb) / 1024.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat: the share the hypervisor gave
    to other guests over a window is context for a reader comparing runs."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[7], sum(f)


def cpu_probe(seconds: float = 0.2) -> float:
    """Pure-Python loop iterations per second on this core: context for a
    reader comparing runs, never a gate."""
    n, end = 0, time.perf_counter() + seconds
    while time.perf_counter() < end:
        for _ in range(1000):
            n += 1
    return n / seconds
