"""The benchmark's workloads over the crawl engine's public API.

Every workload runs set-up (session, ``ensure_pages_ext`` into a fresh
static store, the starting state, the original round 1), then repeats
a recovery (``recover_from_round(1)`` on a fresh ``CrawlEngine`` plus
the replayed round) until ``--seconds`` have passed, and ends with the
correctness gates. See README.md for why each workload exists and what
each metric means.
"""

from __future__ import annotations

import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import pyarrow.compute as pc
import pyarrow.parquet as papq
from pyspark.sql import functions as F

import gates
import harness
from pixcrawler_spark.plans.crawl import CrawlConfig, CrawlEngine
from pixcrawler_spark.sources.tables import TableStore

@dataclass(frozen=True)
class Spec:
    rows: int
    max_depth: int
    compact_ratio: float


# Both workloads crawl round 1 from their starting state, then roll it
# back and replay it; they differ in the starting state (README.md).
# steady_round never compacts (compact_ratio 0): its tombstone ratio
# sits near the 0.25 default trigger, so the default would compact on
# some seeds and not others. deep_crawl's ratio is 1.0 (every seed url
# is decided), so it compacts on every seed at the default.
WORKLOADS = {
    "steady_round": Spec(rows=6_000, max_depth=1, compact_ratio=0.0),
    "deep_crawl": Spec(rows=6_000, max_depth=3, compact_ratio=0.25),
}
SMOKE_ROWS = 2_000
# recoveries per run: at least this many, then until --seconds have
# passed, at most CrawlEngine.MAX_RECOVERY_ATTEMPTS (the engine's cap
# on recoveries of one crawl)
MIN_RECOVERIES = 2


class OpFailed(Exception):
    """An operation raised; the run stops (its state is unknown)."""


@dataclass
class Run:
    name: str
    spec: Spec
    seed: int
    seconds: float
    spark: object
    stats: object
    tracer: object | None
    smoke: bool = False
    attempted: int = 0
    failed: int = 0
    gate_failures: list = field(default_factory=list)
    timings: dict = field(default_factory=dict)
    rounds: list = field(default_factory=list)  # the replayed rounds
    fingerprint: list = field(default_factory=list)
    counts: dict = field(default_factory=dict)

    def op(self, fn, *args):
        """Run one operation: count it, and stop the run if it raises."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception as e:
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            raise OpFailed(repr(e)) from e

    def gate(self, label: str, check, *args) -> None:
        """Run a correctness gate; a failed gate fails the operation
        whose output it checked."""
        t0 = time.perf_counter()
        violations = check(*args)
        self.timings["gates_s"] = (
            self.timings.get("gates_s", 0.0) + time.perf_counter() - t0
        )
        if violations:
            self.failed += 1
            self.gate_failures += [f"{label}: {v}" for v in violations]
            for v in violations:
                print(f"GATE FAILED {label}: {v}", file=sys.stderr)

    def round(self, eng: CrawlEngine, r: int) -> tuple[dict, float]:
        """One ``run_round``; returns its summary and wall. The
        fingerprint keeps each distinct per-round count tuple once."""
        jobs0 = self.stats.job_ids()
        t0 = time.perf_counter()
        summary = self.op(eng.run_round, r)
        wall = time.perf_counter() - t0
        jobs = len(self.stats.job_ids() - jobs0)
        key = [r, summary["n_frontier"], summary["n_decided"],
               summary["n_discovered_new"], bool(summary.get("compacted")),
               jobs]
        if key not in self.fingerprint:
            self.fingerprint.append(key)
        return dict(summary, wall=wall, jobs=jobs), wall


def _timed(fn, *args) -> float:
    t0 = time.perf_counter()
    fn(*args)
    return time.perf_counter() - t0


def run_workload(run: Run) -> None:
    spec, spark = run.spec, run.spark
    t_inputs = time.perf_counter()
    rows = SMOKE_ROWS if run.smoke else spec.rows
    fx, run.timings["fixture_gen_s"] = harness.fixture_dir(rows, run.seed)
    run.counts["rows"] = rows
    corpus = papq.read_table(f"{fx}/pages.parquet", columns=["url", "html"])
    run.counts["html_bytes"] = pc.sum(pc.binary_length(corpus["html"])).as_py()
    pages = spark.read.parquet(f"{fx}/pages.parquet")
    robots = spark.read.parquet(f"{fx}/robots.parquet")
    urls = pages.select("url")
    bucket = (("url",), harness.nproc())

    if run.name == "steady_round":
        seeds = ["mid-crawl state"]  # the frontier is written directly
    else:
        # one seed url per host, its first page in corpus order (the
        # fixture's hosts are registrable domains): every seed is within
        # its domain's politeness capacity, so round 1 decides the whole
        # frontier on every corpus seed
        first = {}
        for u in corpus["url"].to_pylist():
            first.setdefault(u.split("/")[2], u)
        seeds = sorted(first.values())
    cfg = CrawlConfig(
        seeds=seeds, max_depth=spec.max_depth, max_rounds=1, max_retries=0,
        n_buckets=harness.nproc(), compact_ratio=spec.compact_ratio,
    )
    store = TableStore(spark, harness.fresh_dir("crawl"))
    static = TableStore(spark, harness.fresh_dir("static"))
    run.timings["inputs_s"] = time.perf_counter() - t_inputs

    def engine() -> CrawlEngine:
        return CrawlEngine(spark, pages, robots, store, cfg, static_store=static)

    # -- set-up: extraction into a fresh static store (once per corpus,
    # as a crawl does; it also starts the Python workers), starting
    # state, the original round --------------------------------------------
    eng = engine()
    t0 = time.perf_counter()
    pages_ext = run.op(eng.ensure_pages_ext)
    run.timings["extract_s"] = time.perf_counter() - t0
    run.gate("extraction", gates.extraction, f"{fx}/pages.parquet", pages_ext)

    def build_state() -> None:
        if run.name == "deep_crawl":
            start = eng.frontier_from(
                spark.createDataFrame([(u,) for u in seeds], "url string")
            )
            store.overwrite("frontier", start, bucket=bucket, meta={"round": 0})
            return
        # mid-crawl: 1/3 of the corpus already seen; robots-denied urls
        # were decided the round they were enqueued, so they are seen too
        rest = eng.frontier_from(urls.where(F.xxhash64("url") % 3 != 0))
        store.overwrite(
            "frontier", rest.where(~F.col("robots_denied")), bucket=bucket,
            meta={"round": 0},
        )
        seen = urls.where(F.xxhash64("url") % 3 == 0).unionByName(
            rest.where(F.col("robots_denied")).select("url")
        )
        store.overwrite(
            "seen",
            seen.select("url", F.lit(0).cast("int").alias("completed_round")),
            bucket=bucket,
        )

    run.timings["state_s"] = _timed(run.op, build_state)
    n_seen_before = store.count("seen") if store.exists("seen") else 0
    # the original round 1; it also pays the cold JVM's planning and
    # code generation for the rounds that follow
    _, run.timings["first_round_s"] = run.round(eng, 1)
    run.timings["setup_s"] = (
        run.timings["session_s"] + run.timings["extract_s"]
        + run.timings["state_s"] + run.timings["first_round_s"]
    )
    original = gates.decisions(store.read("results"), 1)

    # -- timed phase: recoveries with replay ------------------------------
    # a fresh engine per recovery (a restarted crawl process) rolls
    # round 1 back and replays it, the one round run(resume=True) would run
    if run.tracer:
        run.timings["loop_start"] = run.tracer.now()
    t_loop = time.perf_counter()
    rollback, recover = [], []
    while len(recover) < CrawlEngine.MAX_RECOVERY_ATTEMPTS and (
        len(recover) < MIN_RECOVERIES
        or time.perf_counter() - t_loop < run.seconds
    ):
        eng = engine()
        rollback.append(_timed(run.op, eng.recover_from_round, 1))
        summary, wall = run.round(eng, 1)
        run.rounds.append(summary)
        recover.append(rollback[-1] + wall)
        run.gate("replay", lambda: gates.replay(
            original, gates.decisions(store.read("results"), 1)
        ))
    run.timings.update(rollback_s=rollback, recover_s=recover,
                       loop_s=time.perf_counter() - t_loop)
    if run.tracer:
        run.timings["loop_end"] = run.tracer.now()

    # -- gates on the final state ----------------------------------------
    run.gate("final_state", gates.final_state, eng, n_seen_before,
             f"{fx}/robots.parquet")


# -- metrics -----------------------------------------------------------------
def end_to_end(run: Run, peak_rss_mb: float) -> dict:
    walls = [x["wall"] for x in run.rounds]
    decided = sum(x["n_decided"] for x in run.rounds)
    return {
        "decided_per_s": (decided / sum(walls), "URLs/s"),
        "round_s_p50": (statistics.median(walls), "s"),
        "recover_s": (statistics.median(run.timings["recover_s"]), "s"),
        "extract_pages_per_s": (
            run.counts["rows"] / run.timings["extract_s"], "pages/s"
        ),
        "setup_s": (run.timings["setup_s"], "s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def per_layer(run: Run) -> dict:
    """Layer metrics from the spans of a traced run (see README.md)."""
    tr = run.tracer
    # the timed phase: the recoveries
    t0, t1 = run.timings["loop_start"], run.timings["loop_end"]
    rounds = tr.named("run_round", t0, t1)
    n_rounds = max(1, len(rounds))
    decided = sum(x["n_decided"] for x in run.rounds)
    frontier = sum(x["n_frontier"] for x in run.rounds)

    decide, maintain = [], []
    for rs in rounds:
        kids = tr.children(rs)
        log = [k for k in kids if k["name"].endswith(".overwrite")
               and k["attrs"].get("table") == "round_log"]
        flip = [k for k in kids if k["name"].endswith(".commit_staged")
                and k["attrs"].get("table") == "frontier_added"]
        if log:
            decide.append(_dur(log[0]))
            if flip:
                maintain.append(flip[0]["end"] - log[0]["end"])

    def spark_sum(spans, key):
        return sum(s["attrs"]["spark"][key] for s in spans)

    # outermost spans carrying Spark counters, over the whole run
    outer = []
    for s in tr.spans:
        if "spark" not in s["attrs"]:
            continue
        p = s["parent"]
        while p is not None and "spark" not in tr.spans[p]["attrs"]:
            p = tr.spans[p]["parent"]
        if p is None:
            outer.append(s)

    # table operations in the timed loop, not nested in another one
    def table_top(short):
        out = []
        for s in tr.named(short, t0, t1):
            p = s["parent"]
            if p is None or not tr.spans[p]["name"].startswith("sources.tables"):
                out.append(s)
        return out

    # commits: every manifest flip (commit_staged, nested in overwrite
    # or not) plus the appends that commit without one
    staged = tr.named("commit_staged", t0, t1)
    flips_inside = set()
    for s in staged:
        p = s["parent"]
        while p is not None:
            flips_inside.add(p)
            p = tr.spans[p]["parent"]
    commits = len(staged) + sum(
        1 for k in ("append", "append_local") for s in table_top(k)
        if s["id"] not in flips_inside
    )

    writes = [s for s in tr.spans if "bytes_written" in s["attrs"]
              and s["start"] >= t0 and s["end"] <= t1]
    bytes_written = sum(s["attrs"]["bytes_written"] for s in writes)
    compacts = tr.named("compact_frontier", t0, t1)
    ext = [_dur(s) for s in tr.named("overwrite", 0.0, t0)
           if s["attrs"].get("table") == "pages_ext"]
    extract_s = ext[0] if ext else 0.0
    recov = [_dur(s) for s in tr.named("recover_from_round", t0, t1)]
    round_wall = sum(_dur(s) for s in rounds) or 1.0
    disc_raw = sum(x["n_discovered_raw"] for x in run.rounds)
    disc_new = sum(x["n_discovered_new"] for x in run.rounds)

    m = {
        "plans.crawl.decide_s": (statistics.median(decide) if decide else 0.0, "s"),
        "plans.crawl.maintain_s": (
            statistics.median(maintain) if maintain else 0.0, "s"
        ),
        "plans.crawl.admit_frac": (decided / frontier if frontier else 0.0, "ratio"),
        "plans.crawl.compact_s": (sum(_dur(s) for s in compacts), "s"),
        "plans.crawl.compactions": (len(compacts), "count"),
        "plans.crawl.rollback_s": (
            statistics.median(recov) if recov else 0.0, "s"
        ),
        "plans.crawl.n_frontier": (frontier, "rows"),
        "plans.crawl.n_decided": (decided, "rows"),
        "plans.crawl.n_stalled": (sum(x["n_stalled"] for x in run.rounds), "rows"),
        "plans.crawl.n_discovered_raw": (disc_raw, "rows"),
        "plans.crawl.n_discovered_new": (disc_new, "rows"),
        "plans.crawl.dedup_hit_rate": (
            1.0 - disc_new / disc_raw if disc_raw else 0.0, "ratio"
        ),
        "spark.jobs_per_round": (spark_sum(rounds, "jobs") / n_rounds, "count"),
        "spark.stages_per_round": (spark_sum(rounds, "stages") / n_rounds, "count"),
        "spark.tasks_per_round": (spark_sum(rounds, "tasks") / n_rounds, "count"),
        "spark.shuffle_write_bytes": (
            spark_sum(rounds, "shuffle_write_bytes") / n_rounds, "B"
        ),
        "spark.shuffle_read_bytes": (
            spark_sum(rounds, "shuffle_read_bytes") / n_rounds, "B"
        ),
        "spark.stage_skew": (
            statistics.median(s["attrs"]["spark"]["stage_skew"] for s in rounds)
            if rounds else 0.0, "ratio",
        ),
        "spark.busy_frac": (
            spark_sum(rounds, "executor_run_s") / (round_wall * harness.nproc()),
            "ratio",
        ),
        "spark.spill_bytes": (spark_sum(outer, "spill_bytes"), "B"),
        "spark.executor_run_s": (spark_sum(outer, "executor_run_s"), "s"),
        "spark.failed_tasks": (spark_sum(outer, "failed_tasks"), "count"),
        "sources.tables.commits": (commits, "count"),
        "sources.tables.bytes_written": (bytes_written, "B"),
        "sources.tables.files_written": (
            sum(s["attrs"]["files_written"] for s in writes), "count"
        ),
        "sources.tables.bytes_per_decided": (
            bytes_written / decided if decided else 0.0, "B"
        ),
        "functions.text.extract_s": (extract_s, "s"),
        "functions.text.html_bytes_per_s": (
            run.counts["html_bytes"] / extract_s if extract_s else 0.0, "B/s"
        ),
        "trace.bookkeeping_s": (tr.overhead_s, "s"),
    }
    for op in ("overwrite", "append", "stage_overwrite", "commit_staged",
               "append_local", "count"):
        m[f"sources.tables.{op}_s"] = (sum(_dur(s) for s in table_top(op)), "s")
    return m
