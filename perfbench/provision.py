"""Environment, input data and machine fingerprint of a benchmark run.

Everything a run writes goes under ``<checkout>/.benchdata`` (git
ignored): the derived sf1 tables, Spark's local dirs, temp files,
event logs, spans and per-run result files.
"""

from __future__ import annotations

import glob
import hashlib
import os
import platform
import shutil
import subprocess
import sys
import time

import pyarrow.parquet as pq

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(ROOT, ".benchdata")
SF01 = os.path.join(BENCH_DIR, "data", "sf0.1")
SF1 = os.path.join(WORK, "sf1")
SCALER = os.path.join(ROOT, "scripts", "make_scaled_benchdata.py")
SF1_COPIES = 10

EXPECTED_ROWS = {
    "sf0.1": {"lineitem": 600_000, "orders": 150_000, "documents": 5_000, "embeddings": 2_000},
    "sf1": {"lineitem": 6_000_000, "orders": 1_500_000, "documents": 50_000, "embeddings": 20_000},
}


def missing_program() -> str | None:
    """What the checkout lacks to run the benchmark, or None."""
    for path in (os.path.join(ROOT, "dask_ml_spark", "__init__.py"), SCALER, SF01):
        if not os.path.exists(path):
            return path
    return None


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def configure_environment() -> dict[str, str]:
    """Set the variables the engine and its Python workers read.

    Must run before the Spark JVM starts: the JVM and the Python workers
    it forks inherit this environment.
    """
    local = os.path.join(WORK, "spark-local")
    tmp = os.path.join(WORK, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    path = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    env = {
        # the library defaults to local[32]; size the session to this box
        "SPARK_GRAFT_CPUS": str(cpus()),
        "SPARK_LOCAL_DIRS": local,
        # workers import dask_ml_spark whatever the working directory is
        "PYTHONPATH": os.pathsep.join(dict.fromkeys(path)),
        "TMPDIR": tmp,
    }
    os.environ.update(env)
    return env


def table_rows(sf_dir: str, table: str) -> int:
    path = os.path.join(sf_dir, f"{table}.parquet")
    files = sorted(glob.glob(os.path.join(path, "*.parquet"))) if os.path.isdir(path) else [path]
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def row_count_errors(scale: str, sf_dir: str) -> list[str]:
    errors = []
    for table, want in EXPECTED_ROWS[scale].items():
        try:
            got = table_rows(sf_dir, table)
        except (OSError, ValueError) as ex:
            errors.append(f"{table}: {ex}")
            continue
        if got != want:
            errors.append(f"{table}: {got} rows, expected {want}")
    return errors


def dataset(scale: str) -> tuple[str, float]:
    """(data directory, seconds spent generating it) for ``scale``.

    sf1 is derived from the bundled sf0.1 by the repository's
    ``scripts/make_scaled_benchdata.py`` when missing or incomplete,
    into a temporary directory renamed into place when done.
    """
    if scale == "sf0.1":
        sf_dir, gen_s = SF01, 0.0
    elif scale == "sf1":
        sf_dir, gen_s = SF1, 0.0
        if not os.path.isdir(SF1) or row_count_errors("sf1", SF1):
            shutil.rmtree(SF1, ignore_errors=True)
            tmp = f"{SF1}.tmp-{os.getpid()}"
            t0 = time.perf_counter()
            subprocess.run([sys.executable, SCALER, SF01, tmp, str(SF1_COPIES)],
                           check=True, stdout=subprocess.DEVNULL)
            os.rename(tmp, SF1)
            gen_s = time.perf_counter() - t0
    else:
        raise ValueError(f"unknown scale {scale!r}")
    errors = row_count_errors(scale, sf_dir)
    if errors:
        raise RuntimeError(f"{scale} inputs are wrong: {'; '.join(errors)}")
    return sf_dir, gen_s


def source_digest() -> str:
    """Digest of the library's sources: identifies the program under test
    where the checkout is not a git repository."""
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(ROOT, "dask_ml_spark", "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def commit() -> str | None:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    if out.returncode != 0:
        return None
    return out.stdout.strip() or None


def ram_gb() -> float:
    with open("/proc/meminfo", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return round(int(line.split()[1]) / 2**20, 1)
    return 0.0


def cpu_times() -> list[int]:
    """Aggregate /proc/stat cpu counters (user nice system idle iowait irq softirq steal)."""
    with open("/proc/stat", encoding="ascii") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_pct(before: list[int], after: list[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta)
    return 100.0 * delta[7] / total if total else 0.0


def fingerprint(spark) -> dict:
    """Machine and software identity. Results compare only when equal."""
    conf = spark.sparkContext.getConf()
    return {
        "nproc": cpus(),
        "ram_gb": ram_gb(),
        "spark": spark.version,
        "python": platform.python_version(),
        "master": spark.sparkContext.master,
        "driver_memory": conf.get("spark.driver.memory", "1g"),
    }


def jvm_stats(spark) -> dict:
    """Driver JVM peak RSS (VmHWM) and total GC time so far."""
    jvm = spark.sparkContext._jvm
    pid = int(jvm.java.lang.ProcessHandle.current().pid())
    peak_kb = 0
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                peak_kb = int(line.split()[1])
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    gc_ms = sum(beans.get(i).getCollectionTime() for i in range(beans.size()))
    return {"jvm_peak_rss_mb": peak_kb / 1024.0, "jvm_gc_s": gc_ms / 1e3}
