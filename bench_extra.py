"""Round-6 measurement harness (guide §1: measure first; §1.4 noop sink).

NOT part of the driver contract — bench.py is frozen; this file exists so
optimization evidence (per-query isolation, plan capture) is reproducible.

Modes:
  python bench_extra.py plans [outdir]    -- dump .explain("formatted") for
                                             every battery query to outdir
  python bench_extra.py time [names...]   -- per-query: driver build time vs
                                             noop-sink execution time (3 reps)
  python bench_extra.py tasks [names...]  -- per-query task/stage counts via
                                             a status-tracker listener

$SPARK_GRAFT_SF_DIR / $SPARK_GRAFT_CPUS as in bench.py.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from helix_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _spark():
    spark = get_spark(
        app_name="helix-spark-bench-extra",
        master=f"local[{CPUS}]",
        shuffle_partitions=2 * CPUS,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _queries(names):
    from helix_spark.entry_queries import QUERIES

    if names:
        return {n: QUERIES[n] for n in names}
    return dict(QUERIES)


def cmd_plans(outdir: str, names):
    os.makedirs(outdir, exist_ok=True)
    spark = _spark()
    jvm = spark._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    for name, fn in _queries(names).items():
        df = fn(spark, SF_DIR)
        qe = df._jdf.queryExecution()
        txt = qe.explainString(mode)
        with open(os.path.join(outdir, f"{name}.txt"), "w") as f:
            f.write(txt)
        print(f"wrote {name} ({len(txt.splitlines())} lines)")


def cmd_time(names, reps: int = 3):
    spark = _spark()
    print(f"{'query':28s} {'build_s':>8s} {'noop_s (reps)':>30s}")
    for name, fn in _queries(names).items():
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()  # warm
        builds, runs = [], []
        for _ in range(reps):
            t0 = time.time()
            df = fn(spark, SF_DIR)
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
            builds.append(t1 - t0)
            runs.append(t2 - t1)
        print(
            f"{name:28s} {min(builds):8.2f} "
            f"{'/'.join(f'{r:.2f}' for r in runs):>30s}"
        )
        spark.sparkContext.setJobDescription(None)


def cmd_tasks(names):
    """Per-query job/stage/task counts + max single-stage task count, via the
    status tracker (shows scan stages running below core count)."""
    spark = _spark()
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    for name, fn in _queries(names).items():
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()  # warm
        before = set(tracker.getJobIdsForGroup(None) or [])
        sc.setJobGroup(f"bx-{name}", name)
        t0 = time.time()
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        jobs = [j for j in (tracker.getJobIdsForGroup(f"bx-{name}") or [])]
        stages = []
        for j in jobs:
            ji = tracker.getJobInfo(j)
            if ji:
                stages.extend(ji.stageIds)
        per_stage = []
        for s in sorted(set(stages)):
            si = tracker.getStageInfo(s)
            if si:
                per_stage.append((s, si.numTasks))
        sc.setJobGroup(None, None)
        print(
            f"{name:28s} {dt:6.2f}s jobs={len(jobs)} stages={len(per_stage)} "
            f"tasks={[t for _, t in per_stage]}"
        )


def cmd_crawl(event_dir: str = "/tmp/spark-events-r6"):
    """One bench.bench_crawl run with the Spark event log on; then a
    chronological per-stage summary (duration, task count, callsite) so
    narrow stages inside each phase are visible."""
    import glob
    import json

    import shutil

    shutil.rmtree(event_dir, ignore_errors=True)
    os.makedirs(event_dir, exist_ok=True)
    spark = get_spark(
        app_name="helix-crawl-profile",
        master=f"local[{CPUS}]",
        shuffle_partitions=2 * CPUS,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{event_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    import bench

    dt, ups, fetched = bench.bench_crawl(spark)
    print(f"\ncrawl: {dt:.1f}s {ups:.0f} urls/s fetched={fetched}")
    spark.stop()  # flush the event log
    logs = [f for f in sorted(glob.glob(os.path.join(event_dir, "**"), recursive=True))
            if os.path.isfile(f) and "appstatus" not in f]
    stages = []
    for path in logs:
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except Exception:
                    continue
                if ev.get("Event") == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    sub = si.get("Submission Time")
                    comp = si.get("Completion Time")
                    if sub is None or comp is None:
                        continue
                    details = si.get("Details", "").splitlines()
                    site = next(
                        (ln for ln in details if "crawl.py" in ln or "tables.py" in ln
                         or "rank.py" in ln or "politeness.py" in ln
                         or "dedup.py" in ln or "bloom.py" in ln),
                        si.get("Stage Name", si.get("Name", "")),
                    )
                    stages.append((sub, comp - sub, si["Stage ID"],
                                   si["Number of Tasks"], si.get("Stage Name", ""), site))
    stages.sort()
    t0 = stages[0][0] if stages else 0
    print(f"{'t+s':>7} {'dur_s':>7} {'stage':>5} {'tasks':>5}  name / callsite")
    for sub, dur, sid, ntasks, name, site in stages:
        if dur < 200:
            continue  # skip sub-0.2s noise stages
        print(f"{(sub - t0) / 1000:7.1f} {dur / 1000:7.1f} {sid:5d} {ntasks:5d}  "
              f"{name.split(' at ')[0][:30]:30s} {site.strip()[:70]}")


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "time"
    rest = sys.argv[2:]
    if mode == "plans":
        outdir = rest[0] if rest else "/tmp/plans_r6"
        cmd_plans(outdir, rest[1:])
    elif mode == "tasks":
        cmd_tasks(rest)
    elif mode == "crawl":
        cmd_crawl(*rest)
    else:
        cmd_time(rest)
