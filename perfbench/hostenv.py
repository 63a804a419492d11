"""Host fitting, the work directory and the context stamp of a result.

Everything the benchmark writes lives under `<checkout>/perfbench/.work/`:
indexes, Spark scratch and temp dirs, the event log. Nothing is read or
written outside the checkout.
"""

from __future__ import annotations

import os
import platform
import shutil
import subprocess
import sys
import tempfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, ".work")
NO_PERF_DATA = "-XX:-UsePerfData"


def cores() -> int:
    """Cores the benchmark may use: `nproc` (the affinity mask), not the
    machine's socket count."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def total_ram_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    return 0


def driver_heap() -> str:
    """Driver heap for local mode, sized to physical RAM: a sixth of it,
    clamped to [1, 4] GiB. The package default (48g) assumes a far larger
    machine; the benchmark corpus needs well under 1 GiB."""
    gib = total_ram_bytes() / 2**30
    return f"{max(1, min(4, int(gib / 6)))}g"


def prepare_work_dir(workload: str, seed: int) -> str:
    """Fresh per-run directory under the work root; also points every temp
    and scratch location of this process (and the JVM and Python workers it
    starts) at it."""
    run_dir = os.path.join(WORK, f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "spark-local", "eventlog", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    tmp = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = driver_heap()
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p)
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    # no hsperfdata files: HotSpot writes them to /tmp whatever java.io.tmpdir
    os.environ["SPARK_LAUNCHER_OPTS"] = NO_PERF_DATA
    return run_dir


def spark_conf(run_dir: str, trace: bool) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} {NO_PERF_DATA}",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
            # one plain JSON-lines file, not eventlog_v2_*/events_* chunks
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        })
    return conf


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system, reaped children included) used so far by
    this process and every process below it: the JVM and its Python
    workers. Time the hypervisor steals from the VM is not in it."""
    root = root or os.getpid()
    stats = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            # fields[1] = ppid; fields[11:15] = utime stime cutime cstime
            stats[int(d)] = (int(fields[1]), sum(map(int, fields[11:15])))
    tree, frontier = {root}, [root]
    while frontier:
        parent = frontier.pop()
        for pid, (ppid, _) in stats.items():
            if ppid == parent and pid not in tree:
                tree.add(pid)
                frontier.append(pid)
    return sum(stats[p][1] for p in tree if p in stats) / os.sysconf("SC_CLK_TCK")


def _cmd(args: list[str]) -> str:
    try:
        out = subprocess.run(args, capture_output=True, text=True, timeout=20,
                             cwd=ROOT)
        return (out.stdout or out.stderr).strip()
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def _source_id() -> str:
    """Git commit when the checkout is a repository, else a digest of the
    package sources (the benchmark may run from an exported tree)."""
    if os.path.isdir(os.path.join(ROOT, ".git")):
        rev = _cmd(["git", "rev-parse", "HEAD"])
        if len(rev) == 40 and all(c in "0123456789abcdef" for c in rev):
            return rev
    import hashlib

    h = hashlib.sha1()
    pkg = os.path.join(ROOT, "liresolr_spark")
    for base, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(base, name), "rb") as f:
                    h.update(f.read())
    return "src-sha1:" + h.hexdigest()


def context(workload: str, seed: int, trace: bool, seconds: int) -> dict:
    import pyarrow
    import pyspark

    java = _cmd(["java", NO_PERF_DATA, "-version"]).splitlines()
    return {
        "workload": workload, "seed": seed, "traced": trace,
        "seconds": seconds, "nproc": cores(),
        "ram_gib": round(total_ram_bytes() / 2**30, 1),
        "driver_heap": driver_heap(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "java": java[0] if java else "unknown",
        "source": _source_id(),
    }
