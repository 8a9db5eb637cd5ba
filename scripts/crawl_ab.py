"""Same-session A/B harness for the bench.py headline crawl (VERDICT r4 #1).

Runs bench.bench_crawl's exact config (200k pages, 64 hosts, 3 waves,
local[32]) in THIS process (one JVM per process — run one variant per
invocation; the driver script below loops via subprocess).

Variants (first CLI arg):
  base        — code as committed
  <name>      — base with the CFG_OVERRIDES[name] CrawlConfig fields set
  all         — run every variant in separate subprocesses, best-of-N each

Usage: python scripts/crawl_ab.py all [n_samples]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, "/root/repo")

# cfg-field overrides per variant (applied post-construction by patching
# the engine's __init__ — dataclass defaults are captured at decoration
# time): lets any CrawlConfig knob be A/B'd with alternating fresh-JVM legs,
# e.g. {"rbpc1": {"rank_buckets_per_core": 1}}
CFG_OVERRIDES: dict[str, dict] = {}
VARIANTS = ["base", *CFG_OVERRIDES]


def run_variant(variant: str) -> float:
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    import bench
    from helix_spark.plans import crawl as crawlmod

    if variant in CFG_OVERRIDES:
        over = CFG_OVERRIDES[variant]
        orig_init = crawlmod.CrawlEngine.__init__

        def patched_cfg(self, spark, cfg, *a, **kw):
            for k, v in over.items():
                setattr(cfg, k, v)
            orig_init(self, spark, cfg, *a, **kw)

        crawlmod.CrawlEngine.__init__ = patched_cfg

    from helix_spark.session import get_spark

    spark = get_spark(
        app_name=f"crawl-ab-{variant}",
        master=f"local[{bench.CPUS}]",
        shuffle_partitions=2 * bench.CPUS,
    )
    spark.sparkContext.setLogLevel("ERROR")
    sec, ups, fetched = bench.bench_crawl(spark)
    print(json.dumps({"variant": variant, "sec": round(sec, 3),
                      "urls_per_sec": round(ups, 1), "fetched": fetched}))
    return sec


def main():
    # thin wrapper over scripts/ab_harness.py (alternating fresh-JVM legs,
    # steal% on every sample): `python scripts/crawl_ab.py all [n]` or any
    # comma-list of variants, e.g. `python scripts/crawl_ab.py base,<name> 2`
    from ab_harness import alternate

    which = sys.argv[1] if len(sys.argv) > 1 else "all"
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    if which != "all" and "," not in which:
        run_variant(which)
        return
    names = VARIANTS if which == "all" else which.split(",")
    alternate(
        {v: [sys.executable, __file__, v] for v in names},
        rounds=n, timeout=900, key="sec",
    )


if __name__ == "__main__":
    main()
