"""In-memory timing spans around helix_spark's public functions, plus
Spark event-log parsing, for the benchmark's traced runs.

Spans are recorded by wrapping functions from outside the package: a
wrapped module function is replaced in its defining module and in every
loaded ``helix_spark`` module that imported it by name (``plans/crawl``
calls ``select_batch``, ``bucketed_global_rank`` ... through its own
globals); a wrapped method is replaced on its class. Nothing in the
package is edited.
"""

from __future__ import annotations

import functools
import glob
import importlib
import json
import os
import sys
import threading
import time
from dataclasses import dataclass

# (module, attribute or Class.method, span name)
TARGETS = [
    ("helix_spark.operators.politeness", "select_batch", "politeness.select_batch"),
    ("helix_spark.operators.politeness", "host_state_updates", "politeness.host_state_updates"),
    ("helix_spark.operators.verify", "verify_batch", "verify.verify_batch"),
    ("helix_spark.operators.extract", "extract_links_jvm", "extract.extract_links_jvm"),
    ("helix_spark.operators.dedup", "anti_join_seen", "dedup.anti_join_seen"),
    ("helix_spark.operators.rank", "bucketed_global_rank", "rank.bucketed_global_rank"),
    ("helix_spark.functions.urls", "with_canonical_url_2step", "urls.canonicalize"),
    ("helix_spark.functions.urls", "canonical_url_col", "urls.canonicalize"),
    ("helix_spark.functions.urls", "canonical_status_col", "urls.canonicalize"),
    ("helix_spark.sinks", "export_report", "sinks.export_report"),
    ("helix_spark.state.bloom", "PartitionedBloom.merge_update_spark", "bloom.update"),
    ("helix_spark.state.bloom", "PartitionedBloom.build_update", "bloom.update"),
    ("helix_spark.state.bloom", "PartitionedBloom.probe_col", "bloom.probe"),
] + [
    ("helix_spark.state.tables", f"SnapshotWarehouse.{op}", f"tables.{op}")
    for op in ("append_ranged", "append_bucketed", "append", "overwrite",
               "overwrite_bucketed", "compact_bucketed", "commit")
]


@dataclass
class Span:
    name: str
    start: float
    end: float
    main_thread: bool
    parent: str | None


class Tracer:
    """Collects spans in memory; ``write`` dumps them once, at the end."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.marks: list[tuple[str, float]] = []
        self.overhead_s = 0.0  # wrapper bookkeeping time, outside the calls
        self._lock = threading.Lock()
        self._stack = threading.local()

    def mark(self, name: str) -> None:
        self.marks.append((name, time.time()))

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            t_in = time.perf_counter()
            stack = getattr(tracer._stack, "names", None)
            if stack is None:
                stack = tracer._stack.names = []
            parent = stack[-1] if stack else None
            stack.append(name)
            start = time.time()
            t_call = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                t_ret = time.perf_counter()
                end = time.time()
                stack.pop()
                span = Span(name, start, end,
                            threading.current_thread() is threading.main_thread(), parent)
                with tracer._lock:
                    tracer.spans.append(span)
                    tracer.overhead_s += (t_call - t_in) + (time.perf_counter() - t_ret)

        return wrapper

    def install(self) -> None:
        """Wrap every target. Call after importing helix_spark.plans.crawl
        (so its by-name imports exist) and before building the engine."""
        importlib.import_module("helix_spark.plans.crawl")
        for mod_name, attr, span_name in TARGETS:
            mod = importlib.import_module(mod_name)
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                setattr(cls, meth, self._wrap(getattr(cls, meth), span_name))
                continue
            orig = getattr(mod, attr)
            wrapped = self._wrap(orig, span_name)
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith("helix_spark") and \
                        getattr(m, attr, None) is orig:
                    setattr(m, attr, wrapped)

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({
                "marks": self.marks,
                "spans": [s.__dict__ for s in self.spans],
                **extra,
            }, f)


def read_event_log(log_dir: str) -> tuple[list[dict], list[dict]]:
    """Jobs (submit time, s) and tasks (launch/finish, s; shuffle bytes
    written) from the uncompressed Spark event log in ``log_dir``."""
    jobs, tasks = [], []
    for path in glob.glob(f"{log_dir}/**/*", recursive=True):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs.append({"submit": ev["Submission Time"] / 1e3})
                elif kind == "SparkListenerTaskEnd":
                    info = ev["Task Info"]
                    tm = ev.get("Task Metrics") or {}
                    sw = tm.get("Shuffle Write Metrics") or {}
                    tasks.append({
                        "launch": info["Launch Time"] / 1e3,
                        "finish": info["Finish Time"] / 1e3,
                        "shuffle_bytes": sw.get("Shuffle Bytes Written", 0),
                    })
    return jobs, tasks
