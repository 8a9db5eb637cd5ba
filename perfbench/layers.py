"""Per-layer metrics of a traced run: spans (perfbench/trace.py), the Spark
event log and the warehouse's own commit records. The metric → layer →
end-to-end map is in perfbench/NOTES.md."""

from __future__ import annotations

import os
import statistics

from perfbench.trace import read_event_log

TABLES = ("frontier", "seen", "report", "host_state", "crawl_log", "filters_bloom")
TABLE_OPS = ("append_ranged", "append_bucketed", "append", "overwrite",
             "overwrite_bucketed", "compact_bucketed", "commit")
BUILD_SPANS = {  # lazy calls: their span is driver plan-build time
    "dedup.anti_join.build_s": "dedup.anti_join_seen",
    "politeness.select_batch.build_s": "politeness.select_batch",
    "politeness.host_state_updates.build_s": "politeness.host_state_updates",
    "verify.verify_batch.build_s": "verify.verify_batch",
    "extract.build_s": "extract.extract_links_jvm",
    "urls.canonicalize.build_s": "urls.canonicalize",
}


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def table_footprint(wh_root: str) -> dict[str, tuple[int, float]]:
    """(data files, MB) per warehouse table, from a directory listing."""
    out = {}
    for t in TABLES:
        n, size = 0, 0
        for dirpath, _, files in os.walk(os.path.join(wh_root, t)):
            for fn in files:
                if fn.endswith(".parquet") or fn.startswith("part-"):
                    n += 1
                    size += os.path.getsize(os.path.join(dirpath, fn))
        out[t] = (n, size / 1e6)
    return out


def layer_metrics(bench, eng, commits, e2e, event_dir: str, steal: float,
                  rss_mb: float) -> dict[str, tuple[float, str]]:
    tr = bench.tracer
    marks = dict(tr.marks)
    # a span nested in a span of the same name (a wrapped function calling
    # another wrapped function of its layer) is not counted twice
    spans = [s for s in tr.spans if s.parent != s.name]
    w0, w1 = marks["waves_start"], marks["waves_end"]
    f0, f1 = marks["feed_start"], marks["feed_end"]

    def in_window(s, a, b):
        return a <= s.start < b

    selects = sorted(s.start for s in spans
                     if s.name == "politeness.select_batch" and in_window(s, w0, w1))
    bounds = selects + [w1]
    ranks = sorted((s for s in spans if s.name == "rank.bucketed_global_rank"
                    and in_window(s, w0, w1)), key=lambda s: s.start)
    jobs, tasks = read_event_log(event_dir)
    cores = bench.args.cores
    per_wave = {k: [] for k in ("jobs", "tasks", "select_s", "admit_s", "commit_critical_s",
                                "tail_s", "cores_busy_share", "shuffle_mb")}
    shuffle_total = 0.0
    for a, b in zip(bounds, bounds[1:]):
        per_wave["jobs"].append(sum(1 for j in jobs if a <= j["submit"] < b))
        per_wave["tasks"].append(sum(1 for t in tasks if a <= t["launch"] < b))
        busy = sum(max(0.0, min(t["finish"], b) - max(t["launch"], a)) for t in tasks)
        per_wave["cores_busy_share"].append(busy / ((b - a) * cores))
        sh = sum(t["shuffle_bytes"] for t in tasks if a <= t["finish"] < b)
        shuffle_total += sh
        per_wave["shuffle_mb"].append(sh / 1e6)
        rank = next((r for r in ranks if a <= r.start < b), None)
        if rank is not None:
            per_wave["select_s"].append(rank.start - a)
            per_wave["admit_s"].append(rank.end - rank.start)
            # rank end → next select; on the last wave → run() return,
            # which includes joining the final commit tail
            per_wave["commit_critical_s"].append(b - rank.end)
        per_wave["tail_s"].append(sum(
            s.end - s.start for s in spans
            if not s.main_thread and s.name.startswith("tables.")
            and not (s.parent or "").startswith("tables.") and in_window(s, a, b)))
    n_waves = max(len(selects), 1)
    counter = {w: m["counter"] for w, _, m in commits}
    admitted = [counter[w] - counter[w - 1] for w in range(eng.cfg.max_waves)]
    ratios = [a / b for a, b in zip(admitted, bench.batches) if b]

    m: dict[str, tuple[float, str]] = {}
    for k, unit in (("jobs", "count"), ("tasks", "count"), ("select_s", "s"),
                    ("admit_s", "s"), ("commit_critical_s", "s"), ("tail_s", "s"),
                    ("cores_busy_share", "ratio")):
        m[f"crawl.wave.{k}"] = (_median(per_wave[k]), unit)
    m["crawl.wave.admitted_per_fetched"] = (_median(ratios), "ratio")
    m["crawl.init_s"] = (bench.t["init"], "s")
    ingest = bench.t.get("ingest")
    m["crawl.ingest_urls_per_s"] = (bench.ingest_offered / ingest if ingest else 0.0, "1/s")

    def calls_busy(name, a=None, b=None):
        sel = [s for s in spans if s.name == name and (a is None or in_window(s, a, b))]
        return len(sel), sum(s.end - s.start for s in sel)

    for op in TABLE_OPS:
        n, busy = calls_busy(f"tables.{op}")
        m[f"tables.{op}.calls"] = (n, "count")
        m[f"tables.{op}.busy_s"] = (busy, "s")
    for t, (files, mb) in table_footprint(eng.wh.root).items():
        m[f"tables.{t}.files_written"] = (files, "count")
        m[f"tables.{t}.mb_written"] = (mb, "MB")
    n, busy = calls_busy("bloom.update")
    m["bloom.update.calls"] = (n, "count")
    m["bloom.update.busy_s"] = (busy, "s")
    m["bloom.probe.calls"] = (calls_busy("bloom.probe")[0], "count")
    m["bloom.probe.calls_waves"] = (calls_busy("bloom.probe", w0, w1)[0], "count")
    m["bloom.probe.calls_feed"] = (calls_busy("bloom.probe", f0, f1)[0], "count")
    n, busy = calls_busy("rank.bucketed_global_rank")
    m["rank.calls"] = (n, "count")
    m["rank.busy_s"] = (busy, "s")
    for metric, name in BUILD_SPANS.items():
        m[metric] = (calls_busy(name, w0, w1)[1] / n_waves, "s")
    m["spark.shuffle_mb"] = (_median(per_wave["shuffle_mb"]), "MB")
    m["spark.shuffle_bytes_per_admitted_row"] = (
        shuffle_total / max(sum(admitted), 1), "B")
    n, busy = calls_busy("sinks.export_report")
    m["sinks.export_report.busy_s"] = (busy, "s")
    m["sinks.export_report.rows"] = (bench.export_rows, "count")
    m["proc.steal_pct"] = (steal, "%")
    m["proc.load1"] = (bench.load1, "load")
    m["proc.jvm_peak_rss_mb"] = (rss_mb, "MB")
    for k, (v, unit) in e2e.items():
        m[f"traced.{k}"] = (v, unit)
    m["trace.span_overhead_s"] = (tr.overhead_s, "s")
    return m
