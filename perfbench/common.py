"""Run hygiene shared by every workload: a fresh run directory, host-sized
Spark settings, session start/stop, process memory and load readings."""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.dirname(os.path.abspath(__file__))
RUN_ROOT = os.path.join(ROOT, ".perfbench_run")
OUT_ROOT = os.path.join(ROOT, ".perfbench_out")


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def cores() -> int:
    """Spark's task slots: half the CPUs. The other half runs the driver's
    own threads (planning, py4j, the Python client, JIT and GC), so a
    request's parallel stage does not wait on a CPU the driver holds. On
    4 CPUs, 2 slots served requests faster than 4 (p50 1.7-2.0 s against
    2.2-2.4 s) and lost less to CPU steal."""
    return max(1, cpus() // 2)


def driver_mem_gb() -> int:
    """A quarter of the host's memory, between 1 and 4 GiB: the host is
    shared, and local mode runs every executor thread in this one heap."""
    with open("/proc/meminfo") as f:
        kb = int(next(l for l in f if l.startswith("MemTotal")).split()[1])
    return max(1, min(4, kb // (4 * 1024 * 1024)))


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


class RunDir:
    """A fresh directory per run for temp files, Spark local dirs and the
    generated inputs. The persisted point layer is cached under the system
    temp dir, so pointing TMPDIR here keeps one run from inheriting (or
    skipping) another run's layer build. Removed when the run ends."""

    def __init__(self, workload: str, seed: int):
        os.makedirs(RUN_ROOT, exist_ok=True)
        self.path = tempfile.mkdtemp(
            prefix=f"{workload}-{seed}-{os.getpid()}-", dir=RUN_ROOT
        )
        self.tmp = self.sub("tmp")
        self.local = self.sub("spark-local")
        self.data = self.sub("data")
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.local
        os.environ["SPARK_GRAFT_CPUS"] = str(cores())
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_mem_gb()}g"
        # every JVM (the launcher too): temp files here, no hsperfdata in /tmp
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-XX:-UsePerfData -Djava.io.tmpdir={self.tmp}"
        )
        tempfile.tempdir = None  # re-read TMPDIR

    def sub(self, name: str) -> str:
        p = os.path.join(self.path, name)
        os.makedirs(p, exist_ok=True)
        return p

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(RUN_ROOT)
        except OSError:
            pass


def start_spark(run: RunDir, trace: bool):
    """The program's own session factory, with the warehouse and local
    dirs kept inside the run directory. The traced run keeps every
    job and stage in the status store so spans can be resolved at the end."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from iceberg_geospatial_api_server_spark.session import get_spark

    confs = {
        "spark.sql.warehouse.dir": run.sub("warehouse"),
        "spark.local.dir": run.local,
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        confs |= {
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100",
        }
    spark = get_spark(app_name="perfbench", extra_confs=confs)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int | None:
    """The driver JVM (spark-submit execs into it)."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return None if proc is None else proc.pid


def cpu_s(pid: int | None) -> float:
    """User + system CPU seconds of this process, of process `pid` and of
    the children they have waited for."""
    total = 0
    for p in {os.getpid(), pid or os.getpid()}:
        with open(f"/proc/{p}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        total += sum(int(x) for x in fields[11:15])
    return total / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """Host-wide CPU steal so far (time this VM's CPUs were runnable but
    not scheduled)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


# A window in which the hypervisor took a share s of the VM's CPU time ran
# about 1/(1 - 2s) times as long as a quiet window of the same work (26
# runs of both workloads, s from 0 to 0.29): the neighbours that take the
# CPUs also share their cores and caches while this VM runs.
STEAL_WEIGHT = 2.0


def unstolen(seconds: float, share: float) -> float:
    """`seconds` of wall time measured under steal share `share`, scaled
    to a quiet host."""
    return seconds * max(0.2, 1.0 - STEAL_WEIGHT * share)


def peak_rss_mb(pids: list[int | None]) -> float:
    """Sum of each process's peak resident set (VmHWM)."""
    total = 0
    for pid in pids:
        if pid is None:
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM (and with it the Python
    workers it forked) has exited."""
    sc = spark.sparkContext
    gw = sc._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    try:
        gw.shutdown()
    except Exception:
        pass
    if proc is None:
        return
    try:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=20)
    except (subprocess.TimeoutExpired, OSError):
        proc.terminate()
        try:
            proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Clock:
    """perf_counter stopwatch."""

    def __init__(self):
        self.t0 = time.perf_counter()

    def s(self) -> float:
        return time.perf_counter() - self.t0
