"""Session life cycle, and the /proc readers: memory high-water marks and CPU steal."""

from __future__ import annotations

import contextlib
import os

from . import tracing

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)
WORK_DIR = os.path.join(REPO_ROOT, ".perfbench")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def confine_to_work_dir() -> None:
    """Point every temp/scratch location of Python, Spark and the JVM
    inside the checkout, before the JVM starts."""
    tmp = os.path.join(WORK_DIR, "tmp")
    local = os.path.join(WORK_DIR, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # the short-lived launcher JVM that spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # the local-mode JVM shares this host with others: cap its heap
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def session_conf(event_log_dir: str | None = None) -> dict[str, str]:
    tmp = os.path.join(WORK_DIR, "tmp")
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        # as bench.py: the 200-partition default makes ~10-page Python
        # tasks whose per-task cost swamps the extraction on a small host
        "spark.sql.shuffle.partitions": str(max(8, nproc())),
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log_dir,
            "spark.eventLog.compress": "false",
        })
    return conf


def set_up(spans: tracing.SpanLog, conf: dict[str, str]):
    """build_session plus the first Python job, one task per core.
    Returns the session; spans plans.session.build / .first_task."""
    from go_readability_spark.plans import build_session

    with spans.span("plans.session.build"):
        spark = build_session(master=f"local[{nproc()}]", app_name="perfbench", **conf)
    with spans.span("plans.session.first_task"):
        n = nproc()
        spark.sparkContext.setJobDescription("pb:setup")
        spark.range(n, numPartitions=n).mapInPandas(tracing.import_kernel, "id long").collect()
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then the gateway JVM, and wait until it and the
    Python processes under it have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = python_descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is None:
        return
    with contextlib.suppress(Exception):
        gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    # the gateway JVM exits when its stdin closes
    with contextlib.suppress(Exception):
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)
    for pid in workers:
        _wait_exit(pid)


def _wait_exit(pid: int, timeout: float = 30.0) -> None:
    """Wait for a process that is not our child to end; kill it if it
    outlives timeout."""
    import signal
    import time

    deadline = time.monotonic() + timeout
    while _alive(pid):
        if time.monotonic() > deadline:
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, signal.SIGKILL)
            deadline = float("inf")
        time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def _cpu_ticks() -> list[int]:
    """user, nice, system, idle, iowait, irq, softirq, steal ticks summed
    over all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:9]]


class StealClock:
    """Wall time of a block net of the CPU time the hypervisor withheld.

    The host is a shared VM: the hypervisor's steal moves wall times by
    tens of percent from minute to minute.  Over the block, ``share`` is
    stolen ticks / (busy + stolen) ticks, the fraction of the time the
    block's CPUs wanted to run but did not; ``net(wall)`` removes it."""

    def __enter__(self):
        self._start = _cpu_ticks()
        return self

    def __exit__(self, *exc):
        d = [b - a for a, b in zip(self._start, _cpu_ticks())]
        busy_or_stolen = sum(d) - d[3] - d[4]  # all but idle and iowait
        self.share = d[7] / busy_or_stolen if busy_or_stolen > 0 else 0.0

    def net(self, wall: float) -> float:
        return wall * (1.0 - self.share)


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(pid: int) -> float:
    return _status_kb(pid, "VmHWM") / 1024


def python_descendants(root: int) -> list[int]:
    """Python processes below root (the PySpark daemon and its workers)."""
    children: dict[int, list[int]] = {}
    comm: dict[int, str] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # comm may contain spaces; it is parenthesised, ppid follows it
        name = stat[stat.index("(") + 1:stat.rindex(")")]
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        pid = int(entry)
        comm[pid] = name
        children.setdefault(ppid, []).append(pid)
    out, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        if comm.get(pid, "").startswith("python"):
            out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


class WorkerMemory:
    """Highest VmHWM seen over the Python workers of one JVM."""

    def __init__(self, jvm: int):
        self.jvm = jvm
        self.peak_mb = 0.0

    def sample(self) -> None:
        for pid in python_descendants(self.jvm):
            self.peak_mb = max(self.peak_mb, peak_rss_mb(pid))
