"""In-memory span tracer for the traced benchmark run.

``Tracer.install`` wraps the engine's public callables at class level
(``CrawlEngine`` round/recovery/extraction methods, ``TableStore`` write
and count methods). Each call records a span: name, start, end, parent,
thread and a few attributes (table name, round, Spark counters diffed
around main-thread engine calls, files and bytes a table write left).

``run_round`` submits its maintain jobs from its own thread pool, so a
span opened on such a thread has no thread-local parent: it is
attributed to the span open on the main thread when it starts (the
enclosing ``run_round``), i.e. by time containment.

The time the tracer itself spends (counter reads, directory listings)
is accumulated in ``overhead_s``.
"""

from __future__ import annotations

import functools
import os
import threading
import time

# (layer, class import path, method, read Spark counters around it).
# Counters are diffed only around main-thread calls; compact_frontier
# runs inside run_round after its maintain threads have finished.
ENGINE = "pixcrawler_spark.plans.crawl.CrawlEngine"
STORE = "pixcrawler_spark.sources.tables.TableStore"
TARGETS = (
    ("plans.crawl", ENGINE, "run_round", True),
    ("plans.crawl", ENGINE, "compact_frontier", True),
    ("plans.crawl", ENGINE, "recover_from_round", True),
    ("plans.crawl", ENGINE, "ensure_pages_ext", True),
    ("sources.tables", STORE, "overwrite", False),
    ("sources.tables", STORE, "stage_overwrite", False),
    ("sources.tables", STORE, "commit_staged", False),
    ("sources.tables", STORE, "append", False),
    ("sources.tables", STORE, "append_local", False),
    ("sources.tables", STORE, "count", False),
)
# writes whose new files are counted (overwrite = stage + commit)
WRITES = frozenset({"stage_overwrite", "append", "append_local"})


def _resolve(path: str):
    mod, _, cls = path.rpartition(".")
    return getattr(__import__(mod, fromlist=[cls]), cls)


def _files(d: str) -> dict[str, int]:
    out = {}
    for dirpath, _, names in os.walk(d):
        for n in names:
            if n.endswith(".crc") or n.startswith(("_", ".")):
                continue
            p = os.path.join(dirpath, n)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


class Tracer:
    def __init__(self, stats):
        self.stats = stats
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._lock = threading.Lock()
        self._stacks: dict[int, list[int]] = {}
        self._main = threading.main_thread().ident
        self._restore: list[tuple] = []
        self._t0 = time.perf_counter()

    # -- installation --------------------------------------------------------
    def install(self) -> None:
        for layer, path, meth, counters in TARGETS:
            cls = _resolve(path)
            orig = cls.__dict__[meth]
            setattr(cls, meth, self._wrap(f"{layer}.{meth}", orig, counters))
            self._restore.append((cls, meth, orig))

    def uninstall(self) -> None:
        for cls, meth, orig in reversed(self._restore):
            setattr(cls, meth, orig)
        self._restore.clear()

    def _wrap(self, name: str, orig, counters: bool):
        tracer = self
        short = name.rpartition(".")[2]

        @functools.wraps(orig)
        def wrapper(obj, *args, **kwargs):
            return tracer._call(name, short, counters, orig, obj, args, kwargs)

        return wrapper

    # -- recording -----------------------------------------------------------
    def _call(self, name, short, counters, orig, obj, args, kwargs):
        t_ov = time.perf_counter()
        tid = threading.get_ident()
        stack = self._stacks.setdefault(tid, [])
        if stack:
            parent = stack[-1]
        else:
            main = self._stacks.get(self._main) if tid != self._main else None
            parent = main[-1] if main else None
        span = {"name": name, "parent": parent, "thread": tid, "attrs": {}}
        table = args[0] if args and isinstance(args[0], str) else None
        if name.startswith("sources.tables") and table is not None:
            span["attrs"]["table"] = table
        elif short == "run_round" and args:
            span["attrs"]["round"] = args[0]
        elif short == "commit_staged" and args:
            span["attrs"]["table"] = args[0].get("table")
        main_thread = tid == self._main
        jobs0 = self.stats.job_ids() if counters and main_thread else None
        tdir = os.path.join(obj.root, table) if short in WRITES and table else None
        files0 = _files(tdir) if tdir else None
        with self._lock:
            idx = span["id"] = len(self.spans)
            self.spans.append(span)
            self.overhead_s += time.perf_counter() - t_ov
        stack.append(idx)
        span["start"] = time.perf_counter() - self._t0
        try:
            return orig(obj, *args, **kwargs)
        except BaseException as e:
            span["attrs"]["error"] = repr(e)
            raise
        finally:
            span["end"] = time.perf_counter() - self._t0
            stack.pop()
            t_ov = time.perf_counter()
            if jobs0 is not None:
                span["attrs"]["spark"] = self.stats.counters(
                    self.stats.job_ids() - jobs0
                )
            if files0 is not None:
                new = {
                    p: s for p, s in _files(tdir).items() if p not in files0
                }
                span["attrs"]["files_written"] = len(new)
                span["attrs"]["bytes_written"] = sum(new.values())
            with self._lock:
                self.overhead_s += time.perf_counter() - t_ov

    # -- queries -------------------------------------------------------------
    def now(self) -> float:
        return time.perf_counter() - self._t0

    def named(self, short: str, t0: float = 0.0, t1: float = float("inf")):
        """Spans whose name ends in ``short`` and lie within [t0, t1]."""
        return [
            s for s in self.spans
            if s["name"].endswith("." + short)
            and "end" in s and s["start"] >= t0 and s["end"] <= t1
        ]

    def children(self, span: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"]]
