"""helix-spark crawl benchmark: one workload per fresh process.

    python3 perfbench/run.py --workload backlog_crawl --seed 1 --seconds 10 --trace 0

Workloads (why each exists: perfbench/NOTES.md):
  backlog_crawl  bootstrap a whole page graph as frontier backlog, run one
                 big politeness wave, then feed enqueue_urls batches into the
                 large warehouse (the bloom probe runs there).
  seed_bfs       crawl from seeded seed pages: a small wave, so the per-wave
                 fixed cost dominates; parity with SerialOracle; then the
                 same kind of feed batches.

The engine is driven only through its public calls on inputs generated
from --seed. Every run checks its outputs; the last stdout line is one JSON
object {correct, attempted, failed, metrics}. --trace 1 wraps the public
functions of each layer in timing spans, turns the Spark event log on, and
reports the per-layer metrics instead of the end-to-end ones.

--seconds is the floor of the measured wall (bootstrap + crawl + feed):
feed batches repeat while one more still fits under it (at least one).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
H = 64  # hosts; host0 holds a third of the pages (the skew case)

# per workload: full size, and the tiny --smoke size the benchmark's own
# test uses
SIZES = {
    "backlog_crawl": {
        "full": dict(pages=16_000, waves=1, feed_batch=400),
        "smoke": dict(pages=1_200, waves=2, feed_batch=30),
    },
    "seed_bfs": {
        "full": dict(pages=16_000, waves=1, seeds=64, budget=2000, feed_batch=400),
        "smoke": dict(pages=1_200, waves=2, seeds=8, budget=2000, feed_batch=30),
    },
}


class Checks:
    """Counts checked operations; a failed check is a failed operation."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failures: list[str] = []

    def __call__(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(what)
            print(f"CHECK FAILED: {what}", file=sys.stderr, flush=True)


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / max(sum(d), 1) if len(d) > 7 else 0.0


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def read_commits(wh_root: str) -> list[tuple[int, float, dict]]:
    """(wave, file mtime, metrics) of every warehouse commit, in order."""
    d = os.path.join(wh_root, "_commits")
    out = []
    for name in sorted(os.listdir(d)):
        p = os.path.join(d, name)
        with open(p) as f:
            c = json.load(f)
        out.append((c["wave"], os.path.getmtime(p), c["metrics"]))
    return out


def wave_walls(commits, t_start: float, n_waves: int) -> list[float]:
    """Wall of each crawl wave, from successive commit-file mtimes (the
    engine writes one commit per wave; nothing is added to the run). The
    first wave starts at the later of ``t_start`` and the commit before it."""
    walls, prev = [], t_start
    for wave, mtime, _ in commits:
        if 0 <= wave < n_waves:
            walls.append(mtime - max(prev, t_start))
        prev = mtime
    return walls


def feed_batch(seed: int, b: int, known: list[str], size: int) -> tuple[list[str], int]:
    """Seeded feed batch ``b``: half URLs the crawl already holds (must be
    rejected), half fresh URLs on fresh hosts (must all be admitted).
    Returns (urls, expected admitted count)."""
    rng = random.Random(seed * 7919 + b)
    n_known = min(size // 2, len(known))
    urls = rng.sample(known, n_known)
    fresh = [f"http://feed{seed}b{b}h{rng.randrange(16)}.test/p/{j}"
             for j in range(size - n_known)]
    urls += fresh
    rng.shuffle(urls)
    return urls, len(fresh)


def bfs_seeds(seed: int, n_pages: int, k: int, max_size: int) -> list[str]:
    """k seed pages drawn from status-200 text/html pages that render and
    are not robots fixtures (a 301 seed aborts the crawl at wave 0)."""
    from helix_spark.sources import synthetic as syn

    ok = [i for i in range(n_pages)
          if syn.page_status(i) == 200 and syn.page_content_type(i) == "text/html"
          and syn.page_size(i) <= max_size and i % syn.PRIVATE_MOD != 12]
    return [syn.page_url(i, H) for i in random.Random(seed).sample(ok, k)]


class Bench:
    def __init__(self, args) -> None:
        self.args = args
        self.size = SIZES[args.workload]["smoke" if args.smoke else "full"]
        self.check = Checks()
        self.tracer = None
        self.spark = None
        self.t: dict[str, float] = {}

    # ------------------------------------------------------------ session
    def start_spark(self):
        work = WORK
        shutil.rmtree(work, ignore_errors=True)
        for sub in ("tmp", "spark-local", "events"):
            os.makedirs(os.path.join(work, sub))
        # executor Python workers import helix_spark from the checkout, and
        # every temporary file stays inside it
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
        jvm_opts = (f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
                    f" -Dderby.system.home={os.path.join(work, 'tmp')}")
        os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts  # spark-submit's launcher JVM
        from helix_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "4g",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.driver.extraJavaOptions": jvm_opts,
        }
        if self.args.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        spark = get_spark(app_name="helix-spark-perfbench",
                          master=f"local[{self.args.cores}]", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def make_engine(self, spark, cfg, pages):
        from helix_spark.plans.crawl import CrawlEngine
        from helix_spark.sources import synthetic as syn

        assets = spark.createDataFrame(
            [], "page_url string, asset_url string, content_type string, size long,"
                " status_code int, seq int")
        robots = spark.createDataFrame(syn.gen_robots_py(H))
        wh = os.path.join(WORK, "warehouse")
        return CrawlEngine(spark, cfg, wh, pages, assets, robots)

    # ----------------------------------------------------------- workloads
    def run(self) -> dict:
        t0 = time.time()
        self.stat0 = cpu_times()
        self.load1 = os.getloadavg()[0]
        if self.args.trace:
            from perfbench.trace import Tracer

            self.tracer = Tracer()
            self.tracer.install()
        spark = self.spark = self.start_spark()
        from helix_spark.config import CrawlConfig
        from helix_spark.sources.synthetic import gen_pages_spark

        s = self.size
        n = s["pages"]
        pages = gen_pages_spark(spark, n, H)
        common = dict(expected_urls=n * 4, bloom_slices=16, seen_buckets=32,
                      report_buckets=32, salt_partitions=self.args.cores)
        if self.args.workload == "backlog_crawl":
            cfg = CrawlConfig(seeds=["http://host0.test/p/0"],
                              per_host_budget=max(n // (H * s["waves"]), 100),
                              max_waves=s["waves"], **common)
        else:
            cfg = CrawlConfig(seeds=bfs_seeds(self.args.seed, n, s["seeds"],
                                              CrawlConfig().max_renderable_size),
                              per_host_budget=s["budget"], max_waves=s["waves"], **common)
        t_init = time.time()
        eng = self.make_engine(spark, cfg, pages)
        self.t["init"] = time.time() - t_init
        self.t["setup"] = time.time() - t0
        if self.args.workload == "backlog_crawl":
            self.backlog(eng, pages, cfg)
        else:
            self.seed_bfs(eng, cfg)
        return self.finish(eng)

    def mark(self, name: str) -> None:
        if self.tracer:
            self.tracer.mark(name)

    def crawl(self, eng, resume: bool) -> None:
        self.mark("waves_start")
        t = time.time()
        out = eng.run(resume=resume)
        self.t["run"] = time.time() - t
        self.mark("waves_end")
        self.t["run_start"] = t
        self.fetched = out.total_fetched
        self.check(not out.aborted, "crawl not aborted")
        self.check(out.waves == eng.cfg.max_waves, f"waves {out.waves} == {eng.cfg.max_waves}")
        batch = {w: m["batch"] for w, _, m in read_commits(eng.wh.root) if w >= 0}
        self.batches = [batch[w] for w in range(eng.cfg.max_waves)]
        self.check(sum(self.batches) == self.fetched,
                   f"sum(batch) {sum(self.batches)} == fetched {self.fetched}")

    def feed(self, eng, known: list[str]) -> None:
        """enqueue_urls batches while one more fits under --seconds of
        measured wall; each batch's admitted count is known exactly."""
        measured = self.t.get("ingest", 0.0) + self.t["run"]
        self.mark("feed_start")
        offered, wall, b, last = 0, 0.0, 0, 0.0
        while b == 0 or measured + wall + last < self.args.seconds:
            urls, expect = feed_batch(self.args.seed, b, known, self.size["feed_batch"])
            df = self.spark.createDataFrame([(u,) for u in urls], "url string")
            t = time.time()
            got = eng.enqueue_urls(df)
            last = time.time() - t
            wall += last
            offered += len(urls)
            self.check(got == expect, f"feed batch {b}: admitted {got} == {expect}")
            b += 1
        self.mark("feed_end")
        self.t["feed"] = wall
        self.feed_offered = offered
        self.feed_n = b

    def backlog(self, eng, pages, cfg) -> None:
        from helix_spark.sources import synthetic as syn

        n = self.size["pages"]
        self.mark("ingest_start")
        t = time.time()
        admitted = eng.bootstrap_frontier(pages.select("url"))
        self.t["ingest"] = time.time() - t
        self.mark("ingest_end")
        self.ingest_offered = n
        self.check(admitted == n, f"bootstrap admitted {admitted} == {n}")
        self.crawl(eng, resume=True)
        batches = self.batches
        # wave 0 drains the bootstrapped backlog only: per host, the budget
        # or the host's whole backlog, robots-disallowed paths excluded
        blocked = {r["host"]: tuple(r["disallow_prefixes"])
                   for r in syn.gen_robots_py(H).to_dict("records")}
        per_host: dict[int, int] = {}
        for i in range(n):
            h = syn.host_id(i, H)
            if not syn.page_path(i).startswith(blocked[f"host{h}.test"] or ("\0",)):
                per_host[h] = per_host.get(h, 0) + 1
        expect0 = sum(min(cnt, cfg.per_host_budget) for cnt in per_host.values())
        self.check(batches[0] == expect0, f"wave 0 batch {batches[0]} == {expect0}")
        log = [(r["wave"], r["url"]) for r in eng.wh.read("crawl_log").collect()]
        per_wave = [sum(1 for w, _ in log if w == wave) for wave in range(cfg.max_waves)]
        self.check(per_wave == batches, f"crawl_log rows per wave {per_wave} == batch {batches}")
        urls = {u for _, u in log}
        self.check(len(log) == len(urls) == self.fetched,
                   f"crawl_log {len(log)} rows, {len(urls)} distinct, fetched {self.fetched}")
        seen = {r["key"] for r in eng.read_seen().select("key").collect()}
        self.check(urls <= seen, f"{len(urls - seen)} crawl_log urls missing from seen")
        self.feed(eng, [syn.page_url(i, H) for i in range(n)])
        self.export(eng)

    def seed_bfs(self, eng, cfg) -> None:
        self.crawl(eng, resume=False)
        oracle = self.oracle(cfg)
        log = [(r["wave"], r["url"]) for r in
               eng.wh.read("crawl_log").orderBy("wave", "priority").collect()]
        self.check(log == oracle.crawl_order,
                   f"crawl order ({len(log)} vs oracle {len(oracle.crawl_order)})")
        seen = {r["key"]: r["status_code"] for r in eng.read_seen().collect()}
        self.check(seen == oracle.seen, f"seen ({len(seen)} vs oracle {len(oracle.seen)})")
        rep = {r["verified_url"]: (r["parent_url"], r["is_internal"], r["resource_type"],
                                   r["status_code"]) for r in eng.read_report().collect()}
        orep = {k: (v["parent_url"], v["is_internal"], v["resource_type"], v["status_code"])
                for k, v in oracle.report.items()}
        self.check(rep == orep, f"report ({len(rep)} vs oracle {len(orep)})")
        self.check(self.fetched == len(oracle.crawl_order),
                   f"fetched {self.fetched} == oracle {len(oracle.crawl_order)}")
        self.feed(eng, sorted({u for _, u in log}))
        self.export(eng)

    def oracle(self, cfg):
        import pandas as pd

        from helix_spark.plans.oracle import SerialOracle
        from helix_spark.sources import synthetic as syn

        t = time.time()
        assets = pd.DataFrame(columns=["page_url", "asset_url", "content_type", "size",
                                       "status_code", "seq"])
        res = SerialOracle(cfg, syn.gen_pages_py(self.size["pages"], H), assets,
                           syn.gen_robots_py(H)).run()
        self.t["oracle"] = time.time() - t
        return res

    def export(self, eng) -> None:
        t = time.time()
        self.export_rows = eng.export_report(os.path.join(WORK, "report.csv"))
        self.t["export"] = time.time() - t
        self.check(self.export_rows > 0, f"export_report rows {self.export_rows} > 0")

    # ------------------------------------------------------------ results
    def finish(self, eng) -> dict[str, tuple[float, str]]:
        commits = read_commits(eng.wh.root)
        walls = wave_walls(commits, self.t["run_start"], eng.cfg.max_waves)
        e2e = {
            "setup_s": (self.t["setup"], "s"),
            "crawl_urls_per_s": (self.fetched / self.t["run"], "1/s"),
            "wave_p50_s": (statistics.median(walls), "s"),
            "feed_urls_per_s": (self.feed_offered / self.t["feed"], "1/s"),
        }
        rss = vm_hwm_mb(self.spark.sparkContext._gateway.proc.pid)
        self.close()
        steal = steal_pct(self.stat0, cpu_times())
        print(f"perfbench {self.args.workload} seed={self.args.seed} cores={self.args.cores}"
              f" waves={eng.cfg.max_waves} batches={self.batches} fetched={self.fetched}"
              f" feed_batches={self.feed_n} steal_pct={steal:.2f} load1={self.load1:.2f}"
              f" jvm_peak_rss_mb={rss:.0f} " + json.dumps({k: round(v, 3) for k, v in self.t.items()
                                                              if k != "run_start"}),
              file=sys.stderr, flush=True)
        if not self.tracer:
            return e2e
        from perfbench.layers import layer_metrics

        metrics = layer_metrics(self, eng, commits, e2e, os.path.join(WORK, "events"),
                                steal, rss)
        os.makedirs(OUT, exist_ok=True)
        self.tracer.write(
            os.path.join(OUT, f"trace-{self.args.workload}-seed{self.args.seed}.json"),
            {"metrics": {k: v for k, (v, _) in metrics.items()}, "phases": self.t})
        return metrics

    def close(self) -> None:
        """Stop the session and wait for the JVM (and its Python workers)
        to exit. Safe to call twice."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = gateway.proc
        self.spark.stop()
        self.spark = None
        gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)),
                    help="local[N] task slots (default: every usable core)")
    ap.add_argument("--smoke", action="store_true", help="tiny sizes, for the tests")
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import helix_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    bench = Bench(args)
    try:
        metrics = bench.run()
    finally:
        bench.close()
    failed = len(bench.check.failures)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": bench.check.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    shutil.rmtree(WORK, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
