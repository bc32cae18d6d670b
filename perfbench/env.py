"""Pinned, recorded environment for one benchmark run.

Everything a run writes lives under ``<root>/.perfbench``:
``work/<pid>/`` (the stores, Spark local dirs, temp files and the traced
run's event log) is created empty at the start of a run and deleted at
its end; ``out/`` keeps the last result and span file per workload,
seed and mode.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

DRIVER_MEMORY_CAP_MB = 1024


class EnvError(RuntimeError):
    """The tree under test cannot be benchmarked as it stands."""


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise EnvError("cannot read MemTotal from /proc/meminfo")


def cpu_count() -> int:
    """CPUs this process may run on (not ``nproc``, which honours
    ``OMP_NUM_THREADS``)."""
    return len(os.sched_getaffinity(0))


def source_digest(pkg_dir: Path) -> str:
    """sha256 over the package's .py files, so a result names the exact
    code it measured even when the checkout is not a git repository."""
    h = hashlib.sha256()
    for p in sorted(pkg_dir.rglob("*.py")):
        h.update(str(p.relative_to(pkg_dir)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def git_commit(root: Path) -> str | None:
    try:
        out = subprocess.run(["git", "-C", str(root), "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def prepare(root: Path, cores: int, trace: bool) -> dict:
    """Pin the environment, create a fresh work dir, import ``via_spark``
    from ``root`` and return the record stored with every result.

    Raises :class:`EnvError` when ``via_spark`` is missing from ``root``
    or resolves to a copy outside it (a benchmark of the wrong tree).
    """
    if not (root / "via_spark" / "__init__.py").is_file():
        raise EnvError(f"no via_spark package under {root}")
    for stale in (root / ".perfbench" / "work").glob("*"):
        if stale.name.isdigit() and not Path(f"/proc/{stale.name}").exists():
            shutil.rmtree(stale, ignore_errors=True)
    work = work_dir(root)
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("spark-local", "tmp", "eventlog", "warehouse"):
        (work / sub).mkdir(parents=True)
    (root / ".perfbench" / "out").mkdir(parents=True, exist_ok=True)

    mem_mb = min(DRIVER_MEMORY_CAP_MB, _mem_total_mb() // 3)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEMORY": f"{mem_mb}m",
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(work / "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            [str(root)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
    })
    confs = [
        f"spark.sql.warehouse.dir={work / 'warehouse'}",
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={work / 'tmp'}",
    ]
    if trace:
        confs += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{work / 'eventlog'}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(f"--conf {c}" for c in confs) + " pyspark-shell"
    import tempfile

    tempfile.tempdir = str(work / "tmp")

    if str(root) not in sys.path:
        sys.path.insert(0, str(root))
    import pyspark
    import via_spark

    resolved = Path(via_spark.__file__).resolve()
    if root.resolve() not in resolved.parents:
        raise EnvError(f"via_spark resolves to {resolved}, outside the tree under test {root}")
    return {
        "cores": cores,
        "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
        "mem_total_mb": _mem_total_mb(),
        "spark_version": pyspark.__version__,
        "python": sys.version.split()[0],
        "git_commit": git_commit(root),
        "via_spark_digest": source_digest(root / "via_spark"),
        "via_spark_file": str(resolved),
        "local_dirs": os.environ["SPARK_LOCAL_DIRS"],
    }


def work_dir(root: Path) -> Path:
    return root / ".perfbench" / "work" / str(os.getpid())


def out_dir(root: Path) -> Path:
    return root / ".perfbench" / "out"


def cleanup(root: Path) -> None:
    shutil.rmtree(work_dir(root), ignore_errors=True)
    try:
        work_dir(root).parent.rmdir()  # only if no other run is using it
    except OSError:
        pass


def peak_rss_mb(pid) -> float:
    """Peak resident set (VmHWM) of one process, in MB."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def cpu_times() -> list[int]:
    """The host's aggregate CPU counters from /proc/stat, in ticks."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    :func:`cpu_times` readings: a host-noise figure kept with each result."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
