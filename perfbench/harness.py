"""Shared plumbing for the perfbench workloads: the run's work directory,
the Spark session, seeded inputs, operation accounting and statistics.

Every path the benchmark writes lives under ``<checkout>/.perfbench_work``;
Spark's local dirs, the JVM temp dir and Python's temp dir are pointed there
before anything starts, so a run touches nothing outside its checkout.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field
from typing import Any, Callable

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEMORY = "4g"
METRICS_PER_PAGE = 4  # html_bytes, text_chars, n_tokens, text_ratio
FIRST_DAY = dt.date(2024, 3, 1)  # datagen.EPOCH_START


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def day(i: int) -> str:
    """ISO date of generated day ``i`` (day 0 is datagen's epoch)."""
    return (FIRST_DAY + dt.timedelta(days=i)).isoformat()


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


class Work:
    """The run's private directory tree under ``.perfbench_work``; removed
    by :meth:`close`.  Every run generates its inputs from its seed inside
    this tree (inside ``setup_s``), so no run can read pages another seed
    or an earlier run left behind."""

    def __init__(self, workload: str, seed: int):
        self.dir = os.path.join(WORK_ROOT, f"{workload}-s{seed}-p{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        for sub in ("tmp", "spark-local", "warehouse"):
            os.makedirs(os.path.join(self.dir, sub))

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def close(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)


def prepare_environment(work: Work) -> None:
    """Process environment for the engine and Spark's Python workers; must
    run before pyspark is imported (workers inherit it at fork)."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = work.path("tmp")
    os.environ["SPARK_LOCAL_DIRS"] = work.path("spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = work.path("warehouse")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # spark-submit's launcher JVM: no perf-data file in the system temp dir
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={work.path('tmp')}"
    )
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ.pop("SPARK_GRAFT_WAVE_REUSE", None)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def start_spark(work: Work):
    from influxer_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        cores=cpu_count(),
        extra_conf={
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={work.path('tmp')} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            # the traced run reads every job of the run from the status store
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for both."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - best effort, the JVM is reaped below
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def environment(spark, seed: int) -> dict[str, Any]:
    """What a result needs to be compared: box, Spark, versions, code."""
    import numpy
    import pyarrow
    import pyspark

    conf = spark.sparkContext.getConf()
    return {
        "nproc": cpu_count(),
        "master": spark.sparkContext.master,
        "driver_memory": conf.get("spark.driver.memory", DRIVER_MEMORY),
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "python": platform.python_version(),
        "git_commit": _git_commit(),
        "engine_sha256": _engine_digest(),
        "seed": seed,
    }


def _git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    if out.returncode != 0:
        return None
    return out.stdout.strip() or None


def _engine_digest() -> str:
    """Content hash of the engine's sources: identifies the code even in a
    checkout that is not a git repository."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "influxer_spark")
    for base, dirs, files in os.walk(pkg):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        for name in sorted(f for f in files if f.endswith(".py")):
            p = os.path.join(base, name)
            h.update(os.path.relpath(p, pkg).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(base, name))
    return total


def committed_bytes(catalog) -> int:
    """Bytes of the data files in every table's current snapshot."""
    total = 0
    for table in sorted(os.listdir(catalog.root)):
        if not catalog.exists(table):
            continue
        parts = list(catalog.committed_partitions(table))
        for p in catalog.partition_paths(table, parts):
            total += dir_bytes(p)
    return total


def percentile(xs: list[float], q: float) -> float:
    """Linear-interpolated percentile ``q`` in [0, 100] of ``xs``."""
    s = sorted(xs)
    if not s:
        return math.nan
    k = (len(s) - 1) * q / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else math.nan


@dataclass
class Ops:
    """Operation accounting: every attempted operation is counted; an
    exception or a wrong answer counts as failed, never as skipped."""

    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)

    def run(self, what: str, fn: Callable[[], Any]) -> tuple[bool, Any]:
        self.attempted += 1
        try:
            return True, fn()
        except Exception as e:  # noqa: BLE001 - a failed op is a result
            self.fail(what, f"{type(e).__name__}: {e}")
            traceback.print_exc(file=sys.stderr)
            return False, None

    def fail(self, what: str, why: str) -> None:
        self.failed += 1
        self.failures.append(f"{what}: {why}"[:300])
        log(f"FAILED {what}: {why}"[:500])

    def check(self, what: str, ok: bool, why: str = "wrong answer") -> bool:
        """Mark an already-attempted op failed when its answer is wrong."""
        if not ok:
            self.fail(what, why)
        return ok


def rows_equal(got, want, rel: float = 1e-9, abs_tol: float = 1e-9) -> tuple[bool, str]:
    """Order-insensitive row comparison: same row count, exact non-floats,
    floats within ``rel``/``abs_tol`` (tier and raw paths sum in different
    orders, so the last bits of a mean or stddev may differ)."""
    a = sorted((tuple(r) for r in want), key=_sort_key)
    b = sorted((tuple(r) for r in got), key=_sort_key)
    if len(a) != len(b):
        return False, f"{len(b)} rows, want {len(a)}"
    for ra, rb in zip(a, b):
        if len(ra) != len(rb):
            return False, f"row width {len(rb)}, want {len(ra)}"
        for va, vb in zip(ra, rb):
            if isinstance(va, float) and isinstance(vb, float):
                if not math.isclose(va, vb, rel_tol=rel, abs_tol=abs_tol):
                    return False, f"{vb!r} != {va!r} in {rb!r}"
            elif va != vb:
                return False, f"{vb!r} != {va!r} in {rb!r}"
    return True, ""


def _sort_key(row: tuple) -> tuple:
    return tuple((v is None, str(type(v)), v if v is not None else 0) for v in row)


@dataclass
class Samples:
    """Per-operation measurements of one phase (untraced or traced)."""

    wave_s: list[float] = field(default_factory=list)
    wave_points: list[int] = field(default_factory=list)
    bytes_per_point: list[float] = field(default_factory=list)
    freshness_s: list[float] = field(default_factory=list)
    query_s: list[float] = field(default_factory=list)
    first_pass_s: list[float] = field(default_factory=list)  # cold passes, not in query_s
    plan_s: list[float] = field(default_factory=list)
    exec_s: list[float] = field(default_factory=list)
    tier_served: list[bool] = field(default_factory=list)
    iterations: int = 0

    def statement(self, timed) -> None:
        """An InfluxQL statement: its latency and its plan/exec split."""
        self.query_s.append(timed.seconds)
        self.plan_s.append(timed.plan_s)
        self.exec_s.append(timed.exec_s)
        self.tier_served.append(timed.tier)

    def read(self, seconds: float) -> None:
        """A read through a ``query.read_*`` function: latency only."""
        self.query_s.append(seconds)

    def end_to_end(self) -> dict[str, float]:
        """The user-visible metrics, each a median or percentile over this
        phase's operations."""
        return {
            "wave_s": median(self.wave_s),
            "points_per_s": median(
                [p / s for p, s in zip(self.wave_points, self.wave_s)]
            ),
            "catalog_bytes_per_point": median(self.bytes_per_point),
            "query_p50_ms": 1000.0 * percentile(self.query_s, 50),
            "query_p90_ms": 1000.0 * percentile(self.query_s, 90),
            "queries_per_s": len(self.query_s) / sum(self.query_s)
            if self.query_s else math.nan,
            "freshness_s": median(self.freshness_s),
        }

    def counts(self) -> dict[str, int]:
        return {
            "iterations": self.iterations,
            "waves": len(self.wave_s),
            "queries": len(self.query_s),
            "first_pass": len(self.first_pass_s),
            "freshness": len(self.freshness_s),
        }
