"""Process-level plumbing: a self-contained Spark session inside the run's
temp dir, peak-RSS sampling of the JVM and its Python workers, the host
stamp, and reaping every process the session started."""
from __future__ import annotations

import glob
import hashlib
import os
import platform
import signal
import subprocess
import sys
import threading
import time
import traceback

_PAGE = os.sysconf("SC_PAGE_SIZE")


def isolate(root: str, tmp: str) -> None:
    """Point every scratch location of this process and the JVM it starts
    at ``tmp``, and put the package on the Python workers' path (they
    inherit the JVM's environment).  Must run before the JVM starts."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    for name in ("spark-local", "java-tmp"):
        os.makedirs(os.path.join(tmp, name), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["TMPDIR"] = tmp
    # -XX:-UsePerfData: the JVM would otherwise write its perf-data file
    # under /tmp/hsperfdata_<user>, whatever java.io.tmpdir says.  Options
    # the caller set are kept.
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        o for o in (os.environ.get("JAVA_TOOL_OPTIONS"),
                    f"-Djava.io.tmpdir={os.path.join(tmp, 'java-tmp')}",
                    "-XX:-UsePerfData") if o)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(extra_conf: dict | None = None):
    """The package's own session factory and defaults on local[nproc]."""
    from knowledgegraphsiqidis_spark.session import get_spark
    spark = get_spark("perfbench", master=f"local[{cores()}]",
                      extra_conf=extra_conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
    return kids


def tree(pid: int) -> list[int]:
    """``pid`` and all its live descendants."""
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_seconds(pid: int) -> float:
    """User + system CPU seconds of ``pid``'s process tree, including
    children that already exited and were reaped (cutime/cstime)."""
    total = 0
    for p in tree(pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


class PeakRss:
    """Samples the summed RSS of a process tree on a background thread."""

    def __init__(self, pid: int, every_s: float = 0.25):
        self.pid, self.every_s, self.peak = pid, every_s, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak,
                            sum(_rss_bytes(p) for p in tree(self.pid)))
            self._stop.wait(self.every_s)

    def stop_mb(self) -> float:
        self._stop.set()
        self._thread.join()
        return self.peak / 1024.0 / 1024.0


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def shutdown(spark) -> None:
    """Stop the session, end the JVM (it exits when its stdin closes) and
    wait for it and every process it started to end."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    started = tree(proc.pid)
    try:
        spark.stop()
        gateway.shutdown()
    except Exception:  # the JVM may be mid-job or gone: end it regardless
        traceback.print_exc(file=sys.stderr)
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 20
    for pid in started[1:]:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def stamp(root: str) -> dict:
    """Host and code identity for the run record."""
    import pyarrow
    import pyspark
    src = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(
            root, "knowledgegraphsiqidis_spark", "**", "*.py"), recursive=True)):
        with open(path, "rb") as f:
            src.update(f.read())
    try:
        commit = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                                capture_output=True, text=True,
                                timeout=10).stdout.strip() or None
    except (OSError, subprocess.TimeoutExpired):
        commit = None
    return {"nproc": cores(),
            "mem_gb": round(os.sysconf("SC_PHYS_PAGES") * _PAGE / 2**30, 1),
            "python": platform.python_version(),
            "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "git_commit": commit, "package_sha256": src.hexdigest()[:16]}
