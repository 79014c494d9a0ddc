"""Process-level plumbing of the crawl-engine benchmark: checkout paths,
the host-fitted Spark session, the fixture cache, the Spark status-store
reader and the Spark driver JVM's peak RSS.

Everything the benchmark writes lives under ``<checkout>/.perfbench_work``
(fixture cache, table stores, Spark local dirs, JVM temp files, reports).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

# local-mode Spark driver heap: the executors share it. 2 GB covers the
# benchmark's corpora several times over. The heap starts at its full
# size (-Xms): when G1 grew it on demand, the JVM's peak RSS
# (peak_rss_mb) followed G1's sizing decisions and spread ±15% between
# runs; with a fixed heap it moves only with what the run touches.
DRIVER_MEMORY = "2g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env() -> None:
    """Point every scratch location of Python, Spark and the JVM into
    the checkout, and let Spark's Python workers import the engine."""
    for sub in ("tmp", "spark-local", "warehouse", "stores", "fixtures", "reports"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def fixture_dir(rows: int, seed: int) -> tuple[str, float]:
    """Cached ``write_fixtures(rows, seed)`` output; returns (dir,
    seconds spent generating, 0.0 on a cache hit). Generation is input
    creation, not engine set-up, so it is kept out of ``setup_s``."""
    d = os.path.join(WORK, "fixtures", f"rows{rows}_seed{seed}")
    if os.path.exists(os.path.join(d, "robots.parquet")):
        return d, 0.0
    from pixcrawler_spark.fixtures import write_fixtures

    t0 = time.perf_counter()
    tmp = d + ".building"
    shutil.rmtree(tmp, ignore_errors=True)
    write_fixtures(tmp, rows=rows, seed=seed)
    os.replace(tmp, d)
    return d, time.perf_counter() - t0


def start_spark():
    """``get_spark`` with an explicit ``local[nproc]`` master and
    shuffle-partition count (not the ``SPARK_GRAFT_CPUS`` default)."""
    from pixcrawler_spark.session import get_spark

    n = nproc()
    tmp = os.path.join(WORK, "tmp")
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            # JVM temp files inside the checkout; no /tmp/hsperfdata
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEMORY}"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM, and wait for it to exit."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def fresh_dir(name: str) -> str:
    d = os.path.join(WORK, "stores", name)
    shutil.rmtree(d, ignore_errors=True)
    return d


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the Spark driver JVM (the local-mode executors run inside it)."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


class SparkStats:
    """Spark counters read from outside the engine: job ids from the
    status tracker, per-stage data from the status store
    (``statusStore().stageData``; ``stageList(null)`` does not resolve
    through py4j). Works with ``spark.ui.enabled=false``."""

    FIELDS = (
        "jobs", "stages", "tasks", "failed_tasks", "executor_run_s",
        "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
        "stage_skew",
    )

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._jvm = self.sc._jvm

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event to the
        status store."""
        self._jsc.listenerBus().waitUntilEmpty()

    def job_ids(self) -> set[int]:
        self.settle()
        return set(self.sc.statusTracker().getJobIdsForGroup(None))

    def counters(self, job_ids: set[int]) -> dict:
        """Sum the counters of every stage that ran for ``job_ids``.
        ``stage_skew`` is max ÷ median task run time of the costliest
        stage (the one with the largest executor run time)."""
        out = dict.fromkeys(self.FIELDS, 0.0)
        out["jobs"] = float(len(job_ids))
        tracker = self.sc.statusTracker()
        stage_ids: set[int] = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        store = self._jsc.statusStore()
        quantiles = self.sc._gateway.new_array(self._jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        heaviest = (-1.0, 0.0)
        for sid in stage_ids:
            attempts = store.stageData(
                sid, False, self._jvm.java.util.ArrayList(), True, quantiles
            )
            for i in range(attempts.size()):
                d = attempts.apply(i)
                if d.status().toString() in ("SKIPPED", "PENDING"):
                    continue
                out["stages"] += 1
                out["tasks"] += d.numCompleteTasks() + d.numFailedTasks()
                out["failed_tasks"] += d.numFailedTasks()
                run_ms = float(d.executorRunTime())
                out["executor_run_s"] += run_ms / 1000.0
                out["shuffle_write_bytes"] += d.shuffleWriteBytes()
                out["shuffle_read_bytes"] += d.shuffleReadBytes()
                out["spill_bytes"] += d.memoryBytesSpilled() + d.diskBytesSpilled()
                dist = d.taskMetricsDistributions()
                if run_ms > heaviest[0] and dist.isDefined():
                    q = dist.get().executorRunTime()
                    med, mx = float(q.apply(0)), float(q.apply(1))
                    heaviest = (run_ms, mx / med if med > 0 else 1.0)
        out["stage_skew"] = heaviest[1]
        return out


def write_report(name: str, payload: dict) -> str:
    path = os.path.join(WORK, "reports", name)
    with open(path, "w") as f:
        json.dump(payload, f, indent=1, default=str)
    return path
