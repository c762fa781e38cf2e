"""Process-level plumbing: the Spark session, temp dirs, memory and the
statistics every workload reports."""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEMORY = "2g"


def library_present() -> bool:
    return os.path.isfile(os.path.join(REPO, "map_reduce_indexing_spark", "api.py"))


def prepare_env(work: str) -> None:
    """Confine every temp file of this run to `work` and make the library
    importable by Python workers, wherever the run started from."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    if REPO not in sys.path:
        sys.path.insert(0, REPO)


def start_session(work: str, trace: bool):
    from map_reduce_indexing_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata file: the JVM would write it under /tmp whatever
        # java.io.tmpdir says
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf["spark.ui.retainedJobs"] = "100000"
        conf["spark.ui.retainedStages"] = "100000"
    spark = get_spark(app_name="perfbench", driver_memory=DRIVER_MEMORY, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def environment(spark, seed: int) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "seed": seed,
        "nproc": len(os.sched_getaffinity(0)),
        "master": spark.sparkContext.master,
        "spark": spark.version,
        "java": jvm.System.getProperty("java.version"),
        "driver_memory": DRIVER_MEMORY,
        "python": sys.version.split()[0],
    }


def descendants(root: int) -> list[int]:
    """Every live descendant of process `root`, read from /proc."""
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for pid in kids.get(todo.pop(), []):
            out.append(pid)
            todo.append(pid)
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_seconds(pids) -> float:
    """CPU time (user + system) used so far by the processes `pids`, all
    their threads included; a process that has ended counts 0."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(fields[11]) + int(fields[12])
    return total / _TICK


def peak_rss_mb() -> float:
    """Sum of the peak resident set (VmHWM) of this process and every
    descendant: the JVM and its Python workers."""
    total_kb = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples above it, as
    (percentile, value). With ten samples or fewer no such percentile
    exists and the maximum is returned as percentile 100."""
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return 100.0, xs[-1]
    k = n - 11  # 0-based rank: xs[k] has exactly ten samples above it
    return 100.0 * (k + 1) / n, xs[k]


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def dir_bytes(*paths: str) -> int:
    total = 0
    for p in paths:
        for dirpath, _, files in os.walk(p):
            for f in files:
                fp = os.path.join(dirpath, f)
                if not os.path.islink(fp):
                    total += os.path.getsize(fp)
    return total


def remove(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
