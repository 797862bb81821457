"""Process, session and resource plumbing shared by the workloads.

One ``Harness`` owns the run's scratch directory, the Spark session (and
the JVM behind it) and the clean shutdown of every process it started.
"""

from __future__ import annotations

import os
import shutil
import signal
import tempfile
import time

#: the event-log confs of a traced session: plain JSON lines, one file
_EVENT_LOG_CONFS = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


def cores() -> int:
    return len(os.sched_getaffinity(0))


def isolate_env(work: str, driver_mem: str) -> None:
    """Point every scratch writer of the run into ``work``: Python's
    tempfile, Spark's block manager and the JVM's tmpdir. Pin the core
    count and the driver heap. Must run before pyspark starts a JVM."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = os.environ.get("PYSPARK_PYTHON", "python3")


def cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the machine so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f)


def _children(pid: int) -> list[int]:
    """Children of every thread of ``pid`` (a JVM forks from many)."""
    out = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for t in tasks:
        try:
            with open(f"/proc/{pid}/task/{t}/children") as fh:
                out += [int(p) for p in fh.read().split()]
        except OSError:
            pass
    return out


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out += kids
        todo += kids
    return out


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().split(") ", 1)[1][0] != "Z"
    except OSError:
        return False


class Harness:
    def __init__(self, work: str):
        self.work = work
        self.spark = None
        self._proc = None
        self._worker_peak_kb = 0

    # -- sessions -----------------------------------------------------------
    def session(self, event_log_dir: str | None = None):
        """(Re)start the session. The first call launches the JVM; later
        calls stop the old SparkContext and start a new one in the same
        JVM. ``event_log_dir`` turns the event log on for this session."""
        from engine.io import get_spark

        if self.spark is not None:
            self._note_workers()
            self.spark.stop()
            self.spark = None
        jsys, props = None, {}
        if event_log_dir is not None:
            from pyspark import SparkContext

            if SparkContext._jvm is None:
                raise RuntimeError("a traced session needs a running JVM")
            os.makedirs(event_log_dir, exist_ok=True)
            props = dict(_EVENT_LOG_CONFS, **{"spark.eventLog.dir": "file://" + event_log_dir})
            # a new SparkConf reads spark.* JVM system properties
            jsys = SparkContext._jvm.java.lang.System
            for k, v in props.items():
                jsys.setProperty(k, v)
        try:
            self.spark = get_spark(app="perfbench")
        finally:
            for k in props:
                jsys.clearProperty(k)
        self.spark.sparkContext.setLogLevel("ERROR")
        if self._proc is None:
            self._proc = self.spark.sparkContext._gateway.proc
        return self.spark

    # -- resources ------------------------------------------------------------
    @property
    def jvm_pid(self) -> int:
        return self._proc.pid

    def _note_workers(self) -> None:
        if self._proc is None:
            return
        kb = sum(_status_kb(p, "VmHWM") for p in _descendants(self.jvm_pid))
        self._worker_peak_kb = max(self._worker_peak_kb, kb)

    def reset_peaks(self) -> None:
        """Restart the resident-set high-water marks of the driver process,
        the JVM and the JVM's Python workers, so the next ``peak_rss_mb``
        covers only what runs after this call."""
        for pid in (os.getpid(), self.jvm_pid, *_descendants(self.jvm_pid)):
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as fh:
                    fh.write("5")
            except OSError:
                pass
        self._worker_peak_kb = 0

    def peak_rss_mb(self) -> float:
        """Peak resident set of the driver process plus the JVM, plus the
        largest sum seen over the JVM's Python workers."""
        self._note_workers()
        self.rss_parts_mb = {
            "driver": _status_kb(os.getpid(), "VmHWM") / 1024.0,
            "jvm": _status_kb(self.jvm_pid, "VmHWM") / 1024.0,
            "workers": self._worker_peak_kb / 1024.0,
        }
        return sum(self.rss_parts_mb.values())

    # -- shutdown -------------------------------------------------------------
    def close(self) -> None:
        """Stop the session and the JVM, then wait for every process the
        JVM started (Python workers) to end."""
        kids: list[int] = []
        if self._proc is not None:
            kids = _descendants(self.jvm_pid)
        if self.spark is not None:
            try:
                self.spark.stop()
            except Exception:  # noqa: BLE001 - shutting down regardless
                pass
            self.spark = None
        if self._proc is not None:
            from pyspark import SparkContext

            try:
                SparkContext._gateway.shutdown()
            except Exception:  # noqa: BLE001
                pass
            try:
                self._proc.stdin.close()  # the gateway JVM exits on stdin EOF
            except Exception:  # noqa: BLE001
                pass
            try:
                self._proc.wait(timeout=30)
            except Exception:  # noqa: BLE001
                self._proc.kill()
                self._proc.wait()
        deadline = time.monotonic() + 20
        for pid in kids:
            while _alive(pid) and time.monotonic() < deadline:
                time.sleep(0.05)
            if _alive(pid):
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
        shutil.rmtree(self.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.work))  # only when no other run uses it
        except OSError:
            pass
