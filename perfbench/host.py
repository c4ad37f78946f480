"""Process-level plumbing: keep every file the run writes inside its work
dir, start and fully stop the Spark JVM, and sample peak RSS from /proc."""

from __future__ import annotations

import os
import threading

CPUS = 4


def prepare_env(work: str, evlog: str | None) -> None:
    """Point every scratch location of Spark, the JVM and Python at ``work``
    before the JVM starts. Spark's own settings stay those of the session
    factory (``mel_spark.session.get_spark``)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["MEL_SPARK_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    # no hsperfdata files under /tmp, JVM temp files under the work dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # Python workers import mel_spark from the checkout
    root = os.getcwd()
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root if not path else f"{root}{os.pathsep}{path}"
    if evlog:
        os.environ["MEL_SPARK_EVLOG"] = evlog
    else:
        os.environ.pop("MEL_SPARK_EVLOG", None)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for the JVM to
    exit (it takes its Python workers down with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is None:
        return
    if proc.stdin:
        proc.stdin.close()  # the gateway server exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def _tree_rss_bytes(root_pid: int) -> int:
    """RSS of ``root_pid`` and all its descendants (the JVM and its Python
    workers)."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
            with open(f"/proc/{entry}/statm") as fh:
                pages = int(fh.read().split()[1])
        except OSError:
            continue  # exited while we looked
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
        rss[int(entry)] = pages * page
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, []))
    return total


class PeakRss:
    """Background sampler of the JVM process tree's summed RSS."""

    def __init__(self, pid: int, interval: float = 0.1):
        self.pid = pid
        self.interval = interval
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        rss = _tree_rss_bytes(self.pid)
        with self._lock:
            self._peak = max(self._peak, rss)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def take_mb(self) -> float:
        """Peak RSS in MB since the previous call (or the start), then reset."""
        self._sample()
        with self._lock:
            peak, self._peak = self._peak, 0
        return peak / 1e6

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def cpu_steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine's vCPUs since
    boot, summed over vCPUs (the steal column of /proc/stat). On a shared
    host it tells a slow run caused by neighbours from a slow program."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total
