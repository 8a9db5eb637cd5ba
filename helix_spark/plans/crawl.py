"""The Spark crawl engine — iterative-batch BFS over snapshot tables.

The reference's cyclic TPL-Dataflow DAG (Coordinator → Verifier → Renderer →
PostProcessor → Coordinator, /root/reference/Bot/Workflow/
BrokenLinkCollectionWorkflow.cs:44-76) has no acyclic-streaming equivalent;
the idiomatic Spark translation is a driver wave loop (SURVEY.md §3.4):

    wave: select batch (politeness window) → verify (ONE content-store join,
    redirect chains pre-resolved) → route (report / requeue / render) →
    extract + assets → admit (canonicalize, robots, bloom-prefiltered seen
    anti-join, global rank) → commit snapshot (frontier, seen, report,
    host_state, filters, metrics) → repeat until the frontier drains.

Every wave ends in ONE atomic warehouse commit; the next wave reads state
back from parquet — this both checkpoints (kill → resume from HEAD) and
truncates DataFrame lineage (no unbounded plan growth across iterations).

Scale posture:
- frontier is an APPEND-ONLY priority-ranged LSM. Consumption is a per-host
  cursor (max priority ever batched — valid because each wave takes a
  host's lowest-priority live rows, so consumption is always a priority
  prefix). No per-wave rewrite, no remainder anti-join, no tombstones;
  fully-consumed priority ranges are dropped from the manifest with zero
  IO. Per-wave frontier cost: one pruned scan + one O(batch) shuffle +
  one O(new rows) append.
- seen is a hash-bucketed LSM; the anti-join is bloom-prefiltered and the
  exact residual check is a scan-side semi + broadcast anti — the 10^10-row
  seen table is never shuffled (operators/dedup.py).
- the bloom probe broadcasts only while the filter is small; past
  cfg.bloom_broadcast_max_bytes it goes slice-affine against the
  checkpointed per-slice blobs (state/bloom.py) — driver and executor
  memory stay flat at the 10^10-URL / ~18 GB filter design point.
- per-host top-k rides WindowGroupLimit partial pushdown; joins against
  small dims (robots, host_state) broadcast; the content-store join is a
  plain equi-join on url_hash that AQE can re-plan. Nothing ever collects
  URLs to the driver — only counts and the tiny host/bucket lists.
- termination is a driver-side exact live-row counter (admitted − consumed),
  persisted in commit metrics — no O(frontier) emptiness scan.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor, wait
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from helix_spark.config import CrawlConfig
from helix_spark.functions.status import is_broken_col
from helix_spark.functions.urls import (
    STATUS_MALFORMED_URI,
    STATUS_URI_SCHEME_NOT_SUPPORTED,
    canonical_status_col,
    canonicalize_url_py,
    resolve_url_col,
    with_canonical_url_2step,
)
from helix_spark.operators.dedup import anti_join_seen, first_wins_in_batch
from helix_spark.operators.extract import extract_links_jvm
from helix_spark.operators.politeness import (
    STATUS_ROBOTS_DISALLOWED,
    host_state_updates,
    robots_gate,
    select_batch,
)
from helix_spark.operators.rank import (
    bucketed_global_rank,
    free_local_checkpoint,
    observed_metrics,
    uniform_hash_boundaries,
)
from helix_spark.operators.verify import prepare_pages_store, verify_batch
from helix_spark.state.bloom import PartitionedBloom
from helix_spark.state.tables import SnapshotWarehouse

RENDERABLE_TYPES = ("Html", "Unknown")

ADMIT_SCHEMA = StructType(
    [
        StructField("raw", StringType()),
        StructField("resolved", StringType()),
        StructField("parent_url", StringType()),
        StructField("parent_host", StringType()),
        StructField("is_extracted", BooleanType()),
        StructField("status_pre", IntegerType()),
        StructField("ctype_pre", StringType()),
        StructField("size_pre", LongType()),
        StructField("is_internal_admit", BooleanType()),
        StructField("parent_priority", LongType()),
        StructField("seq", IntegerType()),
    ]
)

FRONTIER_COLS = [
    "url", "url_hash", "host", "parent_url", "parent_host",
    "is_extracted", "status_pre", "ctype_pre", "size_pre", "is_internal",
    "priority", "wave_admitted",
]

_HOST_RE = r"^[a-zA-Z][a-zA-Z0-9+.\-]*://(?:[^/?#@]*@)?([^/?#]*)"

# Storage level of the wave loop's heavy localCheckpoints (select+verify
# batch, admit rank, host-updates delta). PySpark's MEMORY_AND_DISK is the
# SERIALIZED level: with spark.rdd.compress=true (session.py) the blocks are
# lz4-compressed bytes instead of JVM object graphs. Paired A/B on the 6M-URL
# scaling harness (BENCH/BASELINE.md round 5): ties the deserialized level at
# local[4] and beats it at local[16], where the object graphs' GC scans and
# memory bandwidth are what the cores are starved of.
_CKPT_LEVEL = StorageLevel.MEMORY_AND_DISK
# static-planner shuffle fanout: ~this many rows per post-shuffle partition
# (_set_shuffle_fanout). 4k rows measured strictly worse in paired legs
# (BENCH/BASELINE.md round 6): the idle cores come from the serial stage
# chain and driver gaps, not from the partition count.
_FANOUT_ROWS_PER_PARTITION = 25_000
# Workers of the engine's one thread pool. At most one commit tail is in
# flight; at its widest the pool holds the tail task, its six table jobs and
# the next wave's select stats job — eight tasks, all running at once. Only
# two of them ever block on another task (the tail on its jobs, the metrics
# job on the report write), so the pool can never be filled by waiters.
_POOL_WORKERS = 8


@dataclass
class CrawlOutcome:
    waves: int
    aborted: bool
    total_fetched: int


@dataclass
class _Selection:
    """A wave's select phase: the checkpointed select+verify batch, its
    stats, the settled-fetch rows it commits, and the lazy admit tree."""
    wave: int
    verified: DataFrame
    stats: dict
    report_rows: DataFrame
    seen_updates: DataFrame
    log_rows: DataFrame
    fresh: DataFrame

    @property
    def batch_count(self) -> int:
        return self.stats.get("n") or 0


@dataclass
class _Admission:
    """A wave's admit phase: the ranked admissions, split by category, and
    the changed host_state rows."""
    frontier: DataFrame
    report: DataFrame
    seen: DataFrame
    counts: dict[int, int]
    n_frontier: int
    host_updates: DataFrame


class CrawlEngine:
    def __init__(self, spark: SparkSession, cfg: CrawlConfig, warehouse_dir: str,
                 pages: DataFrame, page_assets: DataFrame, robots: DataFrame):
        self.spark = spark
        self.cfg = cfg
        self.wh = SnapshotWarehouse(spark, warehouse_dir)
        # localCheckpoint (eager) truncates the logical plan, not just the
        # physical cache — without it Catalyst re-analyzes the 10-hop
        # redirect-resolution union chain on EVERY wave action. Materialize
        # the pages input ONCE first: pages_store and pages_html both derive
        # from it, and a generated `pages` (gen_pages_spark) would otherwise
        # be recomputed per derivation.
        pages = pages.localCheckpoint()
        # Static per-crawl stores are pre-partitioned AND pre-sorted on
        # their join key before the one-time checkpoint: LogicalRDD
        # preserves outputPartitioning/outputOrdering through
        # localCheckpoint, so EVERY wave's store-side Exchange and Sort
        # vanish from the verify join (url_hash), the render join
        # (final_url — this one otherwise re-shuffles the whole HTML corpus
        # per wave), and the asset join. One shuffle each at init buys
        # shuffle-free store sides for the crawl's lifetime; when a store
        # is small enough to broadcast the partitioning is simply unused.
        n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))

        def _keyed_ckpt(df: DataFrame, key: str) -> DataFrame:
            return (
                df.repartition(n_shuffle, key)
                .sortWithinPartitions(key)
                .localCheckpoint()
            )

        self.pages_store = _keyed_ckpt(
            prepare_pages_store(pages, sort_query=cfg.sort_query), "url_hash"
        )
        # 2-step canonicalization here too: even a single reference of the
        # one-step tree re-evaluates its INLINED shared subexpressions per
        # row (interpreted — see with_canonical_url_2step), and this runs
        # over the whole HTML corpus at init
        self.pages_html = _keyed_ckpt(
            with_canonical_url_2step(
                pages.filter(F.col("html") != ""), F.col("url"),
                out="final_url", sort_query=cfg.sort_query,
            ).select("final_url", "html"),
            "final_url",
        )
        self.assets = _keyed_ckpt(page_assets, "page_url")
        # static per crawl: asset-free crawls skip the asset join/window/
        # count stages in every wave's admission plan (_collect_admissions)
        self._has_assets = not self.assets.isEmpty()
        self.robots = robots.localCheckpoint()
        self.seed_canon = [
            canonicalize_url_py(s, None, cfg.sort_query)[0] for s in cfg.seeds
        ]
        # seed-scope membership strategy: a literal isin compiles one
        # expression node per seed, so past cfg.seed_isin_max the seed set
        # becomes a (distinct, checkpointed) table probed via broadcast
        # join — a 10^5-seed bootstrap stays a 10^5-ROW table instead of a
        # 10^5-literal expression tree re-analyzed every wave
        self.seeds_df: DataFrame | None = None
        if len(self.seed_canon) > cfg.seed_isin_max:
            self.seeds_df = spark.createDataFrame(
                [(s,) for s in sorted(set(self.seed_canon))], "__seed_key string"
            ).localCheckpoint()
        self.bloom: PartitionedBloom | None = None
        # The big URL Column expressions cost ~0.3-0.4 s of py4j round-trips
        # EACH to construct, and a wave needs them every iteration. Column
        # trees are immutable and bind by input column NAME, so build them
        # once here and reuse across waves (measured: ~0.8 s/wave of pure
        # driver-side expression construction removed).
        self._status_resolved = canonical_status_col(F.col("resolved"))
        self._link_resolver = resolve_url_col(F.col("href"), F.col("final_url"))
        # strategy-only estimate of the next admission's post-dedup
        # candidate count (see admit docstring); None → shuffle anti-join
        self._est_candidates: int | None = None
        # running max of observed candidates-per-fetched-page: clamps the
        # join-strategy estimate so a batch-size spike can't sneak a huge
        # candidate set into the broadcast-semi path (round-3 ADVICE)
        self._max_out_degree: int = 0
        # rank-bucket fanout: enough buckets that the per-bucket window
        # sort spreads over every core with slack for hash imbalance
        self._rank_buckets = (
            cfg.rank_buckets_per_core * spark.sparkContext.defaultParallelism
        )
        self.counter = 0
        self.live = 0  # exact frontier live-row count (admitted − consumed)
        # host_state row count (exact: each commit adds the fresh-host count
        # ridden on its host-updates checkpoint's Observation; persisted in
        # commit metrics for resume) — drives the broadcast-vs-shuffle-hash
        # politeness join decision and the LSM migration
        self.n_hosts = 0
        # per-host-bucket cursor minima merged from the same Observation —
        # the steady-state _cursor_mins source (no per-wave agg/collect
        # job); None until computed from the full table or seeded by the
        # first commit into an empty host_state
        self._mins_cache: dict[int, int] | None = None
        self.aborted = False
        # runs the select stats job, the critical-path frontier append and
        # the commit tail with its table jobs (see _POOL_WORKERS)
        self._pool = ThreadPoolExecutor(
            max_workers=_POOL_WORKERS, thread_name_prefix="helix-crawl"
        )
        # pipelined wave commit: the background tail (report/seen/metrics/
        # bloom/host_state writes + the atomic commit) of the PREVIOUS wave,
        # joined before the next admit touches seen/bloom/HEAD; the pending
        # frontier manifest + host-updates delta checkpoint are what the
        # next select reads instead
        self._tail_future = None
        self._tail_frees: list = []
        self._pending_frontier_m: str | None = None
        self._pending_hs_delta = None
        self._delta_to_free = None

    def _wait_tail(self) -> None:
        """Join the previous wave's commit tail: re-raises a tail failure
        (the wave is then unpublished, and the crawl resumes from the wave
        before it), frees the wave checkpoints the tail's writes
        were reading, and drops the pending-manifest overrides (HEAD now
        covers them)."""
        fut, self._tail_future = self._tail_future, None
        if fut is None:
            return
        try:
            fut.result()
        finally:
            frees, self._tail_frees = self._tail_frees, []
            for df in frees:
                free_local_checkpoint(df)
            self._pending_frontier_m = None
            # the delta this tail carried is now in HEAD — stop overlaying
            # it (a later enqueue/compaction could otherwise be shadowed by
            # stale rows); its blocks stay live until the select that read
            # it is done, so the free rides the NEXT tail's frees list
            self._delta_to_free = self._pending_hs_delta
            self._pending_hs_delta = None

    def _compose_hs(self, committed):
        """host_state view for the SELECT phase: committed table (HEAD —
        the previous wave's tail may not have published yet) overlaid with
        the pending host-updates delta checkpoint. Exact either way: if the
        tail already committed, the delta rows equal their committed selves
        and the anti-join+union is idempotent. The delta is replaced by an
        empty RDD-backed frame when none is pending so the select plan
        keeps ONE operator shape across waves (plan_review
        wave_plan_identity)."""
        delta = self._pending_hs_delta
        if committed is None:
            return delta
        if delta is None:
            delta = self.spark.createDataFrame(
                self.spark.sparkContext.emptyRDD(), committed.schema
            )
        # broadcast the delta side explicitly: it is O(one wave's changed
        # hosts); without the hint the anti-join would shuffle-sort the
        # whole committed table into the select plan every wave
        return committed.join(
            F.broadcast(delta.select("host")), on="host", how="left_anti"
        ).unionByName(delta.select(*committed.columns))

    @contextmanager
    def _static_planner(self):
        """AQE off for the wave loop. The crawl's plans are fully
        hand-managed — explicit broadcast hints, quantile-balanced rank
        buckets, fixed shuffle partitions, salted writers — so AQE's only
        per-wave contribution is a driver-side re-optimization of the big
        plan at EVERY stage boundary (measured via event-log gap analysis:
        seconds of zero-tasks-running driver time per wave, the dominant
        non-scaling fraction at N→4N). Restored on exit so the analytics
        queries (which do want AQE) are unaffected."""
        conf = self.spark.conf
        prev = conf.get("spark.sql.adaptive.enabled", "true")
        prev_parts = conf.get("spark.sql.shuffle.partitions")
        prev_minsplit = conf.get("spark.sql.files.minPartitionNum", None)
        conf.set("spark.sql.adaptive.enabled", "false")
        # scan-parallelism floor (guide §6.1): the frontier/state tables are
        # many SMALL leaf files, and the 4 MB open-cost packing rule bins
        # ~30 of them per 128 MB split — the wave's select scan stage ran
        # ~7-10 tasks regardless of core count, the measured non-scaling
        # term inside the select+verify checkpoint job. A floor of one
        # split per core keeps the scan (and the map side of the politeness
        # window) as wide as the cluster at any scale; it cannot split
        # below one file per task, so tiny reads are unaffected.
        conf.set(
            "spark.sql.files.minPartitionNum",
            str(self.spark.sparkContext.defaultParallelism),
        )
        # Catalyst constraint propagation off for the wave loop: inferring
        # constraints over the admit tree (a regex-heavy canonicalization
        # forest re-analyzed EVERY wave) is pure driver time that grows with
        # plan width, not data — measured via the verbose rank plan-analysis
        # split: 0.5 s → 0.2 s per wave at the bench config. The crawl's
        # null-handling is explicit (coalesce/isNull at every gate), so the
        # optimizer's inferred IsNotNull filters add nothing; results are
        # unaffected by construction (an optimizer-only toggle). Restored on
        # exit — the analytics battery keeps the default.
        prev_cprop = conf.get("spark.sql.constraintPropagation.enabled", "true")
        conf.set("spark.sql.constraintPropagation.enabled", "false")
        try:
            yield
        finally:
            conf.set("spark.sql.adaptive.enabled", prev)
            conf.set("spark.sql.shuffle.partitions", prev_parts)
            conf.set("spark.sql.constraintPropagation.enabled", prev_cprop)
            if prev_minsplit is None:
                self.spark.conf.unset("spark.sql.files.minPartitionNum")
            else:
                conf.set("spark.sql.files.minPartitionNum", prev_minsplit)

    def _set_shuffle_fanout(self, est_rows: int) -> None:
        """The static planner's replacement for AQE partition coalescing:
        size post-shuffle stages from the DRIVER-KNOWN row counts (live
        counter / wave batch count) before building each wave's plans.
        Without this, small waves pay full 2×cores near-empty tasks per
        shuffle stage × ~10 stages (measured: the 200k-page headline bench
        regressed 1.5× under the static planner until fanout adapted);
        with it, big waves still get the full fanout. Deterministic —
        results never depend on partition counts."""
        cores = self.spark.sparkContext.defaultParallelism
        target = max(
            8, min(2 * cores, est_rows // _FANOUT_ROWS_PER_PARTITION + 1)
        )
        self.spark.conf.set("spark.sql.shuffle.partitions", str(target))

    # ----------------------------------------------------------- filter serde
    # Note on the reference's cuckoo filter: its deletable queued-vs-settled
    # membership (CoordinatorBlock.cs:268-273) is encoded here by the seen
    # table's null-status rows, and nothing in the BFS wave loop consults a
    # deletable filter — so the engine maintains no cuckoo (round-1 kept one
    # updated per wave via a driver-side collect, a serial O(wave) chokepoint
    # with zero consumers). state/cuckoo.py remains available for schedulers
    # that evict/requeue; wiring it back means sharding its maintenance
    # executor-side exactly like PartitionedBloom.build_update.
    def _init_filters(self) -> None:
        cfg = self.cfg
        self.bloom = PartitionedBloom.sized_for(cfg.expected_urls, cfg.bloom_fp_rate, cfg.bloom_slices)
        total = self.bloom.num_slices * (self.bloom.bits_per_slice // 8)
        self._bloom_driver_light = (
            cfg.bloom_driver_light
            if cfg.bloom_driver_light is not None
            else total > cfg.bloom_broadcast_max_bytes
        )
        if self._bloom_driver_light:
            # handle-only: no slice bytes on the driver, ever
            self.bloom = PartitionedBloom(
                self.bloom.num_slices, self.bloom.bits_per_slice,
                self.bloom.num_hashes, handle=True,
            )
        self.bloom.broadcast_max_bytes = cfg.bloom_broadcast_max_bytes
        self._filters_manifest_pending: str | None = None

    def _bloom_manifest(self) -> dict:
        return {
            "bloom_params": {
                "num_slices": self.bloom.num_slices,
                "bits": self.bloom.bits_per_slice,
                "hashes": self.bloom.num_hashes,
            },
            "slice_paths": {
                str(i): p for i, p in (self.bloom.slice_paths or {}).items()
            },
        }

    def _save_filters(self, wave: int) -> dict[str, str]:
        if self._bloom_driver_light:
            # merged + persisted executor-side in _ingest_filters; the
            # manifest was saved there — just link it into this commit
            m = self._filters_manifest_pending
            return {"filters_bloom": m} if m else {}
        # driver mode: write all slices, partitioned by slice_id so the
        # slice-affine probe can load one slice's blob per task
        bloom_df = self.spark.createDataFrame(
            self.bloom.to_rows(wave),
            "wave int, slice_id int, num_slices int, bits long, hashes int, blob binary",
        ).repartition(F.col("slice_id"))
        d = self.wh._new_data_dir("filters_bloom")
        bloom_df.write.mode("overwrite").partitionBy("slice_id").parquet(d)
        self.bloom.slice_paths = {
            i: os.path.join(d, f"slice_id={i}") for i in range(self.bloom.num_slices)
        }
        return {
            "filters_bloom": self.wh._save_manifest("filters_bloom", self._bloom_manifest()),
        }

    def _load_filters(self) -> None:
        cfg = self.cfg
        m = self.wh._load_manifest("filters_bloom")
        if m is None:
            self._init_filters()
            return
        p = m["bloom_params"]
        paths = {int(i): d for i, d in m["slice_paths"].items()}
        total = p["num_slices"] * (p["bits"] // 8)
        self._bloom_driver_light = (
            cfg.bloom_driver_light
            if cfg.bloom_driver_light is not None
            else total > cfg.bloom_broadcast_max_bytes
        )
        if self._bloom_driver_light:
            self.bloom = PartitionedBloom(
                p["num_slices"], p["bits"], p["hashes"], handle=True
            )
        else:
            # local-FS driver read of the small per-slice blobs; on an
            # object store this would go through spark.read
            import pyarrow.parquet as pq

            blobs = []
            for i in range(p["num_slices"]):
                if i in paths:
                    t = pq.read_table(paths[i], columns=["blob"])
                    blobs.append(t["blob"][0].as_py())
                else:
                    blobs.append(bytes(p["bits"] // 8))
            self.bloom = PartitionedBloom(p["num_slices"], p["bits"], p["hashes"], blobs)
        self.bloom.slice_paths = paths
        self.bloom.broadcast_max_bytes = cfg.bloom_broadcast_max_bytes
        self._filters_manifest_pending = None

    # ------------------------------------------------------------- admission
    def _with_is_seed(self, df: DataFrame, col, out: str) -> DataFrame:
        """Boolean column ``out`` = (``col`` ∈ canonical seed set), with
        isin's null semantics (null in → null out). Literal isin for small
        seed lists; broadcast join against seeds_df past cfg.seed_isin_max."""
        if self.seeds_df is None:
            expr = col.isin(*self.seed_canon) if self.seed_canon else F.lit(False)
            return df.withColumn(out, expr)
        joined = df.join(
            F.broadcast(self.seeds_df.withColumn("__seed_hit", F.lit(True))),
            on=col == F.col("__seed_key"),
            how="left",
        )
        return joined.withColumn(
            out,
            F.when(col.isNotNull(), F.coalesce(F.col("__seed_hit"), F.lit(False))),
        ).drop("__seed_key", "__seed_hit")

    def _scope_expr(self, is_seed, host, parent_host):
        """Scope predicate over a precomputed seed-membership column (see
        _with_is_seed — membership may be a join, not an expression)."""
        cfg = self.cfg
        checks = is_seed
        if cfg.remote_host:
            checks = checks | (F.lower(host) == cfg.remote_host.lower())
        return F.coalesce(
            checks | (F.lower(host) == F.lower(parent_host)), F.lit(False)
        )

    def admit(self, items: DataFrame, wave: int,
              boundaries: list[int] | None = None,
              est_candidates: int | None = None):
        """Unified single-pass admission (CoordinatorBlock.PreprocessNewResources,
        /root/reference/Bot/Block/CoordinatorBlock.cs:235-264):

        category 'bad'     malformed −101 / reportable non-http −102 — keyed
                           on the RAW url (lines 240-251), reported, dropped
        category (silent)  non-http with reporting off — dropped, NO seen entry
        category 'blocked' robots-disallowed (−104, north-rule extension)
        category 'ok'      admitted to the frontier

        One first-wins aggregate + ONE bloom-prefiltered anti-join over all
        categories (keys are disjoint: raw vs canonical namespaces).

        SINGLE-JOB design: enrichment → dedup → anti-join → bucketed rank
        run as ONE Spark job ending in ONE localCheckpoint (the round-2
        shape paid three materializations plus count/sampling jobs — the
        measured non-scaling fraction at N→4N, all bus-bound block writes).
        The two driver inputs that used to need their own jobs are now free:

        - ``boundaries``: rank-bucket cut points over ``parent_priority``.
          Any monotone bucketing yields identical ranks (operators/rank.py),
          so callers pass a cheap approximation — the wave loop observes
          percentile_approx(priority) during the verify checkpoint, the
          bootstrap/feed paths use the analytic uniform-int64 grid (their
          parent_priority is xxhash64). None → one bucket (seed wave).
        - ``est_candidates``: ESTIMATED post-dedup candidate count, used
          only to pick the seen-join strategy (semi-broadcast vs shuffle
          anti — operators/dedup.py); never affects results. None → shuffle
          anti (the safe giant-batch default).

        → (frontier_rows, report_rows, seen_rows, partition_counts, n_frontier)"""
        fresh = self._admit_prepare(items, est_candidates)
        out = self._admit_finish(fresh, wave, boundaries)
        return out[:5]

    def _admit_prepare(self, items: DataFrame,
                       est_candidates: int | None = None) -> DataFrame:
        """The PLAN-BUILD half of admission: enrichment → first-wins dedup →
        bloom/seen anti-join, returned as a LAZY DataFrame (no job). Split
        from ``_admit_finish`` so the wave loop can build this tree on the
        driver WHILE the select checkpoint job runs on the cluster —
        everything here is independent of the select stats; only the rank's
        bucket boundaries (and the job submission itself) need them. Reads
        the seen table at HEAD, so the previous wave's commit tail must be
        joined first."""
        cfg = self.cfg
        status = F.when(F.col("resolved").isNull(), F.lit(STATUS_MALFORMED_URI)).otherwise(
            self._status_resolved
        )
        # canonicalization runs as the MULTI-PROJECTION form: the one-step
        # Column tree re-inlines its shared subexpressions dozens of times,
        # which both re-evaluates them per row (the tree is interpreted —
        # array_sort lambda blocks codegen) and bloats every wave's admit
        # plan analysis (functions/urls.with_canonical_url_2step; values
        # bit-identical, pinned by tests/test_urls.py)
        enriched = with_canonical_url_2step(
            items, F.col("resolved"), out="canonical_url",
            sort_query=cfg.sort_query,
        )
        enriched = (
            enriched.withColumn("url_status", status)
            .withColumn(
                "url_status",
                F.when(
                    (F.col("url_status") == 0) & F.col("canonical_url").isNull(),
                    F.lit(STATUS_MALFORMED_URI),
                ).otherwise(F.col("url_status")),
            )
            .withColumn("host", F.regexp_extract(F.col("canonical_url"), _HOST_RE, 1))
            .withColumn("host", F.when(F.col("host") == "", None).otherwise(F.col("host")))
        )
        enriched = enriched.filter(
            ~(
                (F.col("url_status") == STATUS_URI_SCHEME_NOT_SUPPORTED)
                & F.lit(not cfg.include_non_http_urls_in_report)
            )
        )
        is_bad = F.col("url_status") != 0
        enriched = self._with_is_seed(enriched, F.col("canonical_url"), "__is_seed")
        enriched = (
            enriched.withColumn(
                "status_pre",
                F.when(
                    (F.col("status_pre") == 0)
                    & F.col("parent_url").isNull()
                    & ~F.col("__is_seed"),
                    F.lit(-103),  # orphan (PostProcessorBlock.cs:42-46)
                ).otherwise(F.col("status_pre")),
            )
            .withColumn(
                "is_internal",
                F.coalesce(
                    F.col("is_internal_admit"),
                    self._scope_expr(F.col("__is_seed"), F.col("host"), F.col("parent_host")),
                ),
            )
        )
        enriched = robots_gate(enriched, self.robots)
        enriched = enriched.withColumn(
            "key",
            F.when(is_bad, F.col("raw")).otherwise(F.col("canonical_url")),
        ).withColumn("key_hash", F.xxhash64(F.col("key")))
        # slim before materialization: raw/resolved are folded into `key`,
        # canonical_url is dropped entirely (key == canonical_url for every
        # non-bad row — frontier/report reads use key), the category string
        # is (url_status, robots_blocked) re-derived at the output split,
        # and host/parent_host are NOT carried — they are pure functions of
        # key/parent_url (every producer constructs them with _HOST_RE, so
        # re-deriving after the checkpoint is exact) and URL-host strings
        # are dead weight through the admit job's two shuffles (dedup, rank
        # window) + checkpoint — the measured bus-bound non-scaling cost
        # at N→4N (BENCH/BASELINE.md r4)
        enriched = enriched.select(
            "key", "key_hash", "url_status", "robots_blocked",
            "parent_url", "is_extracted", "status_pre",
            "ctype_pre", "size_pre", "is_internal", "parent_priority", "seq",
        )

        deduped = first_wins_in_batch(enriched, "key_hash", ["parent_priority", "seq"])
        return anti_join_seen(
            deduped, self.wh, self.bloom, key="key_hash",
            semi_broadcast_max_rows=cfg.semi_broadcast_max_rows,
            maybe_rows=est_candidates,
            # every admitted row lands in seen, so the counter IS the seen
            # row count — free relative-size signal for the join strategy
            seen_rows=self.counter,
        )

    def _admit_finish(self, fresh: DataFrame, wave: int,
                      boundaries: list[int] | None = None,
                      host_bucket_mod: int | None = None):
        """The JOB half of admission: bucketed rank + ONE materialization,
        then the category split. ``host_bucket_mod`` set → the per-bucket
        counts job additionally collects the host-hash-bucket set of the
        admitted frontier rows (pmod(xxhash64(host), mod)) so the wave loop
        needs no separate distinct job for the host_state anti-join's
        bucket pruning; collect_set drops NULLs, and admitted ('ok') rows
        always have a non-empty host, so the set equals the distinct job's.

        → (frontier_rows, report_rows, seen_rows, partition_counts,
        n_frontier, new_host_buckets | None)"""
        # ONE job, ONE materialization: the bucketed rank's window runs
        # inside the same job as enrichment/dedup/anti-join, per-bucket
        # counts + the frontier-insert count ride its Observation, and the
        # final priority is a lazy projection over the checkpoint — no
        # separate count jobs, no repartitionByRange sampling pass, no
        # intermediate block writes (the round-2 admit's non-scaling cost).
        counts_extra = None
        if host_bucket_mod:
            host_out = F.regexp_extract(F.col("key"), _HOST_RE, 1)
            counts_extra = {
                "__hbs": F.collect_set(
                    F.when(
                        (F.col("url_status") == 0) & ~F.col("robots_blocked"),
                        F.pmod(
                            F.xxhash64(
                                F.when(host_out == "", None).otherwise(host_out)
                            ),
                            F.lit(host_bucket_mod),
                        ).cast("int"),
                    )
                )
            }
        fresh, counts, extras = bucketed_global_rank(
            fresh, ["parent_priority", "seq"], boundaries,
            rank_col="priority", offset=self.counter,
            extra_metrics={"__ok": F.count_if(
                (F.col("url_status") == 0) & ~F.col("robots_blocked")
            )},
            storage_level=_CKPT_LEVEL,
            counts_extra=counts_extra,
        )
        n_frontier = int(extras["__ok"] or 0)
        new_hbs = None
        if host_bucket_mod:
            new_hbs = sorted(
                {b for group in extras["__hbs"] for b in (group or [])}
            )

        is_bad_f = F.col("url_status") != 0
        bad = fresh.filter(is_bad_f)
        blocked = fresh.filter(~is_bad_f & F.col("robots_blocked"))
        ok = fresh.filter(~is_bad_f & ~F.col("robots_blocked"))

        report_rows = bad.select(
            F.col("key").alias("verified_url"),
            F.col("parent_url"),
            F.when(F.col("url_status") == STATUS_MALFORMED_URI, F.lit(False))
            .otherwise(F.col("is_internal")).alias("is_internal"),
            F.lit("Unknown").alias("resource_type"),
            F.col("url_status").alias("status_code"),
        ).unionByName(
            blocked.select(
                F.col("key").alias("verified_url"),
                F.col("parent_url"),
                F.lit(True).alias("is_internal"),
                F.lit("Unknown").alias("resource_type"),
                F.lit(STATUS_ROBOTS_DISALLOWED).alias("status_code"),
            )
        )
        seen_rows = fresh.select(
            "key_hash",
            "key",
            F.when(is_bad_f, F.col("url_status"))
            .when(F.col("robots_blocked"), F.lit(STATUS_ROBOTS_DISALLOWED))
            .otherwise(F.lit(None).cast("int")).alias("status_code"),
            F.lit(wave).alias("wave"),
        )
        # host/parent_host re-derived lazily over the checkpoint (exact —
        # every producer builds them from the same _HOST_RE; ok rows always
        # have a non-empty host, so the ""→NULL mapping matches enrichment)
        host_out = F.regexp_extract(F.col("key"), _HOST_RE, 1)
        frontier_rows = ok.select(
            F.col("key").alias("url"),  # key == canonical_url for 'ok' rows
            F.col("key_hash").alias("url_hash"),
            F.when(host_out == "", None).otherwise(host_out).alias("host"),
            "parent_url",
            F.regexp_extract(F.col("parent_url"), _HOST_RE, 1).alias("parent_host"),
            "is_extracted",
            "status_pre", "ctype_pre", "size_pre", "is_internal", "priority",
            F.lit(wave).alias("wave_admitted"),
        )
        return frontier_rows, report_rows, seen_rows, counts, n_frontier, new_hbs

    # -------------------------------------------------------------- readers
    def _frontier_nb(self) -> int:
        """The host-bucket modulus — from the FRONTIER MANIFEST, not cfg:
        leaves were labeled under the manifest's num_buckets, and a resumed
        crawl with a changed frontier_host_buckets would otherwise prune
        leaves that still hold live rows (round-3 ADVICE). append_ranged
        rejects a modulus change outright; this keeps the read side honest
        too."""
        spec = self.wh.ranged_bucket_spec("frontier")
        return (spec[1] if spec and spec[1] else None) or self.cfg.frontier_host_buckets

    def _cursor_mins(self, host_state: DataFrame | None) -> dict[int, int] | None:
        """Exact live-priority lower bound PER host-hash bucket: every
        frontier host is registered in host_state (next_host_state
        new_hosts), so min(cursor) over a bucket's hosts is safe to prune
        that bucket's frontier ranges below. Per-bucket (vs one global min)
        means a single lagging host only blocks pruning for its own bucket
        — the round-2 design took the global min and one slow host kept
        every dead range alive.

        Steady state costs ZERO jobs: the previous wave's host_state
        overwrite rides per-bucket min(cursor) aggregates on its
        Observation (_commit_wave), cached driver-side. The agg+collect
        below runs only on resume / paths that bypassed the cache."""
        if host_state is None:
            return None
        if self._mins_cache is not None:
            return self._mins_cache
        nb = self._frontier_nb()
        hb = F.pmod(F.xxhash64(F.col("host")), F.lit(nb))
        rows = (
            host_state.groupBy(hb.cast("int").alias("hb"))
            .agg(F.min("cursor").alias("m"))
            .collect()
        )
        # cache the exact resume-time minima: the LSM write path MERGES new
        # per-bucket minima into this cache (it only sees changed rows), so
        # it needs the exact starting point to stay tight
        self._mins_cache = {r["hb"]: r["m"] for r in rows}
        return self._mins_cache

    def read_host_state(self, buckets: list[int] | None = None,
                        resolve: bool = True) -> DataFrame | None:
        """host_state at HEAD. Below cfg.host_state_lsm_min_hosts the table
        is a flat per-wave overwrite and comes back as-is. Past it (LSM
        layout: bucketed appends of changed rows, version column ``wave``)
        the read resolves last-write-wins per host — the window partitions
        by ``host``, the same key every consumer joins on, so the exchange
        it introduces is the one the politeness join needs anyway.

        ``resolve=False`` skips the window for presence-only consumers
        (anti-joins): hosts are never deleted, so raw membership equals
        resolved membership. ``buckets`` prunes an LSM read to the named
        host-hash buckets (modulus = the manifest's, aligned with the
        frontier's host-bucket spec at migration time)."""
        raw = self.wh.read("host_state", buckets=buckets)
        if raw is None or not self.wh.num_buckets("host_state"):
            return raw
        if not resolve:
            return raw.drop("wave")
        w = Window.partitionBy("host").orderBy(F.col("wave").desc())
        return (
            raw.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "wave")
        )

    def read_frontier(self, host_state: DataFrame | None = None) -> DataFrame | None:
        """Append-only frontier scan, manifest-pruned to (range, host-
        bucket) leaves that can still hold live rows (priority > the
        bucket's min cursor). Liveness per row is the caller's filter
        (select_batch joins host_state)."""
        return self.wh.read_ranged("frontier", bucket_mins=self._cursor_mins(host_state))

    def read_seen(self) -> DataFrame | None:
        """Seen map with LSM last-write-wins resolution: latest wave per key;
        within a wave, a settled status beats the queued-null row."""
        raw = self.wh.read("seen")
        if raw is None:
            return None
        w = Window.partitionBy("key_hash").orderBy(
            F.col("wave").desc(),
            F.when(F.col("status_code").isNull(), 1).otherwise(0),
        )
        return (
            raw.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    def read_report(self) -> DataFrame | None:
        """Verification report, one row per verified_url (latest wave wins)."""
        raw = self.wh.read("report")
        if raw is None:
            return None
        w = Window.partitionBy("verified_url").orderBy(F.col("wave").desc())
        return (
            raw.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "wave")
        )

    def verify_crawled_payloads(
        self, fetched_images: DataFrame, reference_images: DataFrame,
        image_id_col=None,
    ) -> DataFrame:
        """The input_hint per-row invariant over the crawl's OWN output:
        every Image-typed, successfully-verified report row's fetched
        payload must match the reference row — PNG decoded pixels
        byte-equal, lossy PSNR ≥ 40 dB, caption byte-equal
        (BASELINE.json input_hint; operators/multimodal.verify_payloads).

        ``fetched_images``/``reference_images``: input_hint-shaped tables
        (image_id, bytes, w, h, fmt, caption, phash). ``image_id_col``
        maps a report verified_url → image_id; the default parses the
        synthetic universe's asset URLs (http://img.cdn.test/im/{k}.png →
        img{k:08d}). → (image_id, pixels_ok, psnr_db, caption_ok), one row
        per crawled image."""
        from helix_spark.operators.multimodal import verify_payloads

        report = self.read_report()
        if report is None:
            return verify_payloads(fetched_images.limit(0), reference_images.limit(0))
        if image_id_col is None:
            k = F.regexp_extract(F.col("verified_url"), r"/im/(\d+)\.png$", 1)
            image_id_col = F.when(
                k != "", F.format_string("img%08d", k.cast("int"))
            )
        crawled = (
            report.filter(
                (F.col("resource_type") == "Image") & (F.col("status_code") == 200)
            )
            .select(image_id_col.alias("image_id"))
            .filter(F.col("image_id").isNotNull())
            .distinct()
        )
        # no broadcast hint: at scale the crawled-image set is large; AQE
        # picks broadcast when it is small
        fetched = fetched_images.join(crawled, on="image_id", how="left_semi")
        checked = verify_payloads(fetched, reference_images)
        # a crawled image with NO fetched payload (or no reference row) must
        # FAIL the invariant, not silently produce no row — otherwise the
        # per-row check passes vacuously on dropped payloads
        have = fetched_images.select("image_id").join(
            reference_images.select("image_id"), on="image_id", how="left_semi"
        )
        missing = crawled.join(have, on="image_id", how="left_anti").select(
            "image_id",
            F.lit(False).alias("pixels_ok"),
            F.lit(None).cast("double").alias("psnr_db"),
            F.lit(False).alias("caption_ok"),
        )
        return checked.unionByName(missing)

    def export_report(self, path: str, fmt: str = "csv") -> int:
        """The reference's user artifact: SQL-queryable SQLite / CSV report
        (README.md:36-38; ReportWriterBlock.cs:111-128). See sinks.py."""
        from helix_spark.sinks import export_report

        report = self.read_report()
        if report is None:
            report = self.spark.createDataFrame(
                [], "verified_url string, parent_url string, is_internal boolean,"
                " resource_type string, status_code int",
            )
        return export_report(report, path, fmt)

    # ----------------------------------------------------------- bootstrap
    def bootstrap_frontier(self, urls: DataFrame) -> int:
        """Pre-populate the frontier from a DataFrame of absolute URLs
        (column ``url``) — the resumed-crawl-with-backlog scenario used for
        frontier-throughput benchmarking at 10^x scale; ``run(resume=True)``
        then crawls the backlog. URLs are admitted through the full
        pipeline (canonicalize, robots, dedup, bloom + exact seen check)
        with themselves as parents (internal, non-orphan), so onto an
        existing warehouse the URLs it already holds are dropped. Returns
        admitted count.

        Admission order is ``xxhash64(url)`` — deterministic across runs and
        cluster layouts (monotonically_increasing_id is partition-layout-
        dependent; see operators/rank.py), so two bootstrap+resume runs
        produce identical frontier priorities."""
        with self._static_planner():
            admitted = self._ingest_urls(urls, bootstrap=True)
        # seed the first wave's join-strategy estimate from the backlog size
        self._est_candidates = max(admitted, 1) * 4
        return admitted

    def enqueue_urls(self, urls: DataFrame) -> int:
        """Mid-crawl URL feed ingestion — a crawl discovers its input over
        time (new seed lists, sitemap drops, a readStream of URLs via
        foreachBatch: streaming/events.seed_feed_query). URLs pass the FULL
        admission pipeline (canonicalize, robots, first-wins dedup, bloom +
        exact seen check), so already-crawled or already-queued URLs are
        dropped; fresh ones enter the frontier with priorities above
        everything queued (the global counter only grows, preserving the
        cursor model's prefix property). One atomic snapshot per call; safe
        between run() calls and across resume. Returns admitted count."""
        with self._static_planner():
            return self._ingest_urls(urls, bootstrap=False)

    def _ingest_urls(self, urls: DataFrame, bootstrap: bool) -> int:
        """Admit absolute URLs (column ``url``) as their own parents and
        commit them. A feed commit takes the next wave number; a bootstrap
        commits just before it, so a resumed crawl's first wave is the
        one the backlog was admitted for."""
        self._wait_tail()  # defensive: run() always joins its tail on exit
        head = self.wh.head_commit()
        if head and self.counter == 0:
            # engine constructed fresh against an existing warehouse: new
            # priorities must continue above the queued ones, and n_hosts
            # must count the registered hosts
            self._restore_counters(head)
        if self.bloom is None:
            # the warehouse's filter, never a fresh empty one: a bloom-
            # negative row skips the exact seen check
            self._load_filters()
        wave = (head["wave"] + 1) if head else 0
        items = urls.select(
            F.col("url").alias("raw"),
            F.col("url").alias("resolved"),
            F.col("url").alias("parent_url"),
            F.regexp_extract(F.col("url"), _HOST_RE, 1).alias("parent_host"),
            F.lit(True).alias("is_extracted"),
            F.lit(0).alias("status_pre"),
            F.lit(None).cast("string").alias("ctype_pre"),
            F.lit(None).cast("long").alias("size_pre"),
            F.lit(True).alias("is_internal_admit"),
            F.xxhash64(F.col("url")).alias("parent_priority"),
            F.lit(0).cast("int").alias("seq"),
        )
        for f in ADMIT_SCHEMA.fields:
            items = items.withColumn(f.name, F.col(f.name).cast(f.dataType))
        # parent_priority is xxhash64(url) — uniform over int64, so the
        # rank buckets come from the analytic grid (no data pass)
        frontier, report, seen, counts, n_frontier = self.admit(
            items, wave, boundaries=uniform_hash_boundaries(self._rank_buckets)
        )
        self._commit_admission(wave - 1 if bootstrap else wave,
                               frontier, report, seen, counts, n_frontier)
        return sum(counts.values())

    def _restore_counters(self, head: dict) -> None:
        m = head["metrics"]
        self.counter = m.get("counter", 0)
        self.live = m.get("live", 0)
        self.n_hosts = m.get("n_hosts", 0)

    def _commit_admission(self, wave, frontier, report, seen, counts,
                          n_frontier) -> None:
        """Commit an admission made outside the wave loop (seeds, bootstrap,
        feed) on the wave loop's commit schedule, and wait for it.

        Its genuinely new hosts are registered in host_state with cursor −1,
        eligible now — exactly the defaults the select join coalesces for an
        ABSENT host, so selection is unchanged. It keeps the invariant
        "host_state covers every frontier host" that the incremental
        fresh-host count and the cursor-minima pruning rely on (measured
        before bootstrapped hosts were registered: scripts/lsm_bench.py at
        120k hosts registered n_hosts=7 and never migrated to the LSM
        layout). Nothing admitted → no host_state write at all."""
        self.counter += sum(counts.values())
        self.live += n_frontier
        new_hosts = None
        if n_frontier > 0:
            new_hosts = frontier.select("host").distinct()
            registered = self.read_host_state(resolve=False)
            if registered is not None:
                # the commit MERGES the new hosts' minima into the cursor
                # cache. A fresh engine's cache is None: make it exact from
                # the full table first — a cache seeded by the merge alone
                # holds only the new hosts' buckets, and range pruning would
                # then drop leaves that still hold a laggard host's live rows
                if self._mins_cache is None:
                    self._cursor_mins(self.read_host_state())
                new_hosts = new_hosts.join(
                    registered.select("host"), on="host", how="left_anti"
                )
            new_hosts = new_hosts.select(
                "host",
                F.lit(0).cast("long").alias("next_allowed_wave"),
                F.lit(-1).cast("long").alias("cursor"),
            )
        manifests, host_updates = self._commit_critical(
            frontier, n_frontier, new_hosts
        )
        self._commit_tail([frontier], wave, manifests, report, seen, seen,
                          host_updates, 0, counts)
        self._wait_tail()

    # ------------------------------------------------------------- wave loop
    def run(self, resume: bool = False) -> CrawlOutcome:
        with self._static_planner():
            primary: BaseException | None = None
            try:
                return self._run(resume)
            except BaseException as e:
                primary = e
                raise
            finally:
                # join the last wave's pipelined commit tail before
                # returning — run() must not leave an unpublished wave in
                # flight. A tail failure surfaces here unless the wave
                # loop itself already raised (don't mask the primary).
                try:
                    self._wait_tail()
                except Exception:
                    if primary is None:
                        raise

    def _run(self, resume: bool) -> CrawlOutcome:
        cfg = self.cfg
        wave = self._start(resume)
        total_fetched = 0
        # self.live is an exact driver-side counter — no frontier scan
        while wave < cfg.max_waves and self.live > 0:
            sel = self._select(wave)
            if sel is None:
                break
            if sel.batch_count == 0:
                # logical-clock tick: every queued host is still delayed
                # (_select joined the previous tail — commits stay ordered;
                # the admit tree built for this wave is lazy and unused)
                self.wh.commit(wave, {}, metrics={
                    "counter": self.counter, "live": self.live, "batch": 0,
                    "n_hosts": self.n_hosts,
                })
                free_local_checkpoint(sel.verified)
            elif sel.stats.get("seed_redirects"):
                return self._abort(sel, total_fetched)
            else:
                total_fetched += sel.batch_count
                adm = self._admit(sel)
                manifests, host_updates = self._commit_critical(
                    adm.frontier, adm.n_frontier, adm.host_updates
                )
                self._commit_tail(
                    [sel.verified, adm.frontier], wave, manifests,
                    sel.report_rows.unionByName(adm.report),
                    sel.seen_updates.unionByName(adm.seen), adm.seen,
                    host_updates, sel.batch_count, adm.counts,
                    avg_load_ms=sel.stats.get("avg_load_ms"),
                    crawl_log=sel.log_rows,
                )
                if cfg.compact_every and (wave + 1) % cfg.compact_every == 0:
                    self._compact(wave)
            wave += 1
        return CrawlOutcome(wave, self.aborted, total_fetched)

    def _start(self, resume: bool) -> int:
        """Resume from HEAD, or admit and commit the seeds. → first wave."""
        head = self.wh.head_commit() if resume else None
        if head:
            self._restore_counters(head)
            self._load_filters()
            return head["wave"] + 1
        self._init_filters()
        seeds = self.spark.createDataFrame(
            [
                (s, s, None, None, True, 0, None, None, True, 0, i)
                for i, s in enumerate(self.cfg.seeds)
            ],
            ADMIT_SCHEMA,
        )
        self._commit_admission(-1, *self.admit(seeds, wave=0))
        return 0

    def _select(self, wave: int) -> _Selection | None:
        """Select phase: politeness select + verify as ONE lazy checkpoint,
        materialized by the tiny wave-stats agg job (batch count, seed
        redirects, avg load, rank-bucket boundary quantiles) submitted to
        the pool. While the cluster runs that job the driver joins the
        previous wave's tail and builds the entire admit tree (admissions →
        enrichment → first-wins dedup → seen anti-join) — the wave's only
        idle-cluster driver window otherwise (guide §2.6; measured
        0.6-0.9 s/wave at the bench config). → None when there is no
        frontier table."""
        cfg, wh = self.cfg, self.wh
        # the previous wave's tail may not have published yet — read the
        # frontier through the pending manifest (written on that wave's
        # critical path) and overlay host_state with the pending delta
        # checkpoint; both reads are exact whether or not the tail has
        # since committed
        pend_f = self._pending_frontier_m
        host_state = self._compose_hs(self.read_host_state())
        mins = self._cursor_mins(host_state)
        frontier = wh.read_ranged("frontier", bucket_mins=mins,
                                  manifest_file=pend_f)
        if frontier is None:
            return None
        # the select join only needs host rows that can match a live
        # frontier row; host_state shares the frontier's host-bucket
        # spec once LSM, so fully-consumed buckets drop off BOTH scans
        # from the manifests alone (10^9-host posture: the politeness
        # read is O(live-bucket hosts), not O(all hosts))
        hs_select = host_state
        if wh.num_buckets("host_state") == self._frontier_nb():
            live_hbs = wh.ranged_live_buckets("frontier", bucket_mins=mins,
                                              manifest_file=pend_f)
            if live_hbs is not None:
                hs_select = self._compose_hs(
                    self.read_host_state(buckets=live_hbs)
                )
        self._set_shuffle_fanout(self.live)
        batch = select_batch(
            frontier, hs_select, wave, cfg.per_host_budget, cfg.salt_partitions,
            # map-split estimate straight off the manifest: keeps the
            # wave loop free of per-wave plan→RDD conversions
            input_splits=wh.ranged_leaf_count("frontier", bucket_mins=mins,
                                              manifest_file=pend_f),
            # size-aware: broadcasting host_state dies past the driver
            # ceiling at web-scale host counts — switch to shuffle-hash
            broadcast_state=self.n_hosts <= cfg.host_state_broadcast_max_rows,
        )
        verified = verify_batch(batch, self.pages_store)

        final_host = F.regexp_extract(F.col("final_url"), _HOST_RE, 1)
        verified = self._with_is_seed(verified, F.col("url"), "__seed_url")
        verified = self._with_is_seed(verified, F.col("final_url"), "__seed_final")
        recompute = (
            F.col("is_extracted")
            & (F.col("status_pre") == 0)
            & ~F.col("__seed_url")
        )
        verified = verified.withColumn(
            "is_internal_final",
            F.when(
                recompute,
                self._scope_expr(F.col("__seed_final"), final_host, F.col("parent_host")),
            ).otherwise(F.col("is_internal")),
        )
        # The boundary quantiles are over the fetched pages' priorities,
        # which is the parent_priority distribution of this wave's
        # admissions up to out-degree weighting; rank correctness is
        # boundary-independent (operators/rank.py), boundaries only balance
        # the rank buckets.
        stat_cols = [
            F.count(F.lit(1)).alias("n"),
            F.count_if(
                F.col("redirected") & F.col("__seed_url")
            ).alias("seed_redirects"),
            # avg page-load time over this wave's settled fetches
            # (README.md:28-29 / StatisticsSnapshot.cs:7 analog)
            F.avg(F.when(~F.col("redirected"), F.col("load_ms"))).alias("avg_load_ms"),
            F.percentile_approx(
                F.col("priority"),
                [i / self._rank_buckets for i in range(1, self._rank_buckets)],
                1000,
            ).alias("rank_bounds"),
        ]
        if os.environ.get("HELIX_SPARK_PLAN_LOG"):
            from helix_spark.operators.rank import PLAN_LOG

            PLAN_LOG.append(
                "select:" + verified._jdf.queryExecution().executedPlan().toString()
            )
        verified = verified.localCheckpoint(False, _CKPT_LEVEL)
        stats_fut = self._pool.submit(
            lambda: verified.agg(*stat_cols).collect()[0]
        )
        # previous wave's tail: join it BEFORE anything reads HEAD (the
        # admit tree build below embeds the seen table at HEAD). The select
        # job may still be running — the tail's jobs were overlapped with
        # it anyway, and nothing the tail frees is an input of the running
        # job (the select reads the pending frontier manifest from parquet
        # and the still-pending hs delta, which _wait_tail defers to the
        # NEXT tail's frees).
        self._wait_tail()
        # every select_batch column survives verify_batch: the verified
        # checkpoint stands in for the batch here and in host_state_updates
        log_rows = verified.select(F.lit(wave).alias("wave"), "priority", "url")

        redirected = verified.filter(F.col("redirected"))
        settled = verified.filter(~F.col("redirected"))
        report_rows = settled.select(
            F.col("final_url").alias("verified_url"),
            F.col("parent_url"),
            F.col("is_internal_final").alias("is_internal"),
            F.col("resource_type"),
            F.col("status_code"),
        )
        seen_updates = settled.select(
            F.col("final_hash").alias("key_hash"),
            F.col("final_url").alias("key"),
            F.col("status_code"),
            F.lit(wave).alias("wave"),
        )
        renderable = settled.filter(
            F.col("is_internal_final")
            & ~is_broken_col(F.col("status_code"))
            & (F.coalesce(F.col("size"), F.lit(0)) <= cfg.max_renderable_size)
            & F.col("resource_type").isin(*RENDERABLE_TYPES)
            & F.col("is_extracted")
            & (F.col("status_pre") == 0)
        )
        admissions = self._collect_admissions(renderable, redirected)
        # join-strategy estimate = prev wave's observed candidates ×4,
        # CLAMPED from below by a driver-known UPPER BOUND on this wave's
        # batch count (the exact count is still in flight) × the max
        # out-degree ever observed (×2 headroom): a batch-size spike — the
        # common way "prev wave ×4" underestimates — can never route an
        # over-limit candidate set into the broadcast-semi path (driver OOM
        # risk, round-3 ADVICE). batch ≤ live rows and ≤ one budget per
        # registered host, so the bound only OVERestimates — which can only
        # flip the seen-join strategy toward the conservative shuffle-anti /
        # bloom-bypass side (operators/dedup.anti_join_seen thresholds).
        est = self._est_candidates
        if est is not None and self._max_out_degree:
            batch_bound = self.live
            if self.n_hosts:
                batch_bound = min(
                    batch_bound, self.n_hosts * cfg.per_host_budget
                )
            est = max(est, batch_bound * self._max_out_degree * 2)
        fresh = self._admit_prepare(admissions, est_candidates=est)
        stats = stats_fut.result().asDict()
        return _Selection(wave, verified, stats, report_rows, seen_updates,
                          log_rows, fresh)

    def _abort(self, sel: _Selection, total_fetched: int) -> CrawlOutcome:
        """A redirect at a seed aborts the crawl (CoordinatorBlock.cs:215-226).
        The oracle logs fetches one-by-one in priority order and stops AT
        the redirecting seed — truncate the batch log to match."""
        self.aborted = True
        abort_pri = sel.verified.filter(
            F.col("redirected") & F.col("__seed_url")
        ).agg(F.min("priority").alias("p")).collect()[0]["p"]
        log_rows = sel.log_rows.filter(F.col("priority") <= abort_pri)
        total_fetched += log_rows.count()
        mlog = self.wh.append("crawl_log", log_rows)
        self.wh.commit(sel.wave, {"crawl_log": mlog},
                       metrics={"counter": self.counter, "live": self.live,
                                "aborted": True})
        return CrawlOutcome(sel.wave + 1, True, total_fetched)

    def _admit(self, sel: _Selection) -> _Admission:
        """Admit phase: the rank job over the admit tree built during the
        select, then the wave's changed host_state rows."""
        batch_count = sel.batch_count
        nb_hs = self.wh.num_buckets("host_state")
        # admissions ≈ batch × out-degree: re-size the admit job's fanout
        # (a conf read at ACTION time — the admit tree was built under the
        # select job, but its physical planning happens at the rank-job
        # submission below)
        self._set_shuffle_fanout(batch_count * 4)
        frontier, report, seen, counts, n_frontier, new_hbs = self._admit_finish(
            sel.fresh, sel.wave + 1,
            boundaries=sel.stats.get("rank_bounds"),
            host_bucket_mod=nb_hs or None,
        )
        # next wave's join-strategy estimate: waves are self-similar, and
        # post-dedup candidates exceed post-anti admissions — pad 4× so
        # the semi-broadcast path only engages well inside its regime
        cands = sum(counts.values())
        self._max_out_degree = max(
            self._max_out_degree, -(-cands // max(batch_count, 1))
        )
        self._est_candidates = max(cands, batch_count) * 4
        self.counter += cands
        self.live += n_frontier - batch_count
        # changed host rows only (fetched + genuinely new). The already-
        # registered anti-join only needs host_state rows that could MATCH
        # a new host — in the LSM regime the raw read is pruned to the
        # buckets the new hosts hash into (host equality cannot match
        # across buckets), so the per-wave scan is O(new-host buckets'
        # rows), not O(all appended rows) between compactions (round-5
        # ADVICE; the 10^9-host posture the politeness docstring promises).
        # The bucket ids RIDE the admit rank's per-bucket counts job
        # (_admit_finish host_bucket_mod) — no separate distinct job on the
        # commit critical path.
        host_updates = host_state_updates(
            sel.verified, self.robots, sel.wave,
            self.read_host_state(buckets=new_hbs, resolve=False),
            new_hosts=frontier,
        )
        return _Admission(frontier, report, seen, counts, n_frontier,
                          host_updates)

    def _compact(self, wave: int) -> None:
        """Periodic LSM compaction; its own atomic commit. It reads and
        commits at HEAD, so the wave's tail must have published first (a
        compaction wave forfeits the overlap — 1 in compact_every waves)."""
        cfg, wh = self.cfg, self.wh
        self._wait_tail()
        # the per-wave merge rule keeps the minima cache a safe LOWER bound
        # in the flat-overwrite regime too (it can only tighten downward) —
        # recompute exactly here so frontier pruning stays tight
        if not wh.num_buckets("host_state"):
            self._mins_cache = None
        cm = {}
        m1 = wh.compact_bucketed(
            "seen", version_col="wave", prefer_nonnull="status_code",
            max_files_per_bucket=cfg.compact_max_files,
        )
        if m1:
            cm["seen"] = m1
        m2 = wh.compact_bucketed(
            "report", version_col="wave",
            max_files_per_bucket=cfg.compact_max_files,
        )
        if m2:
            cm["report"] = m2
        if wh.num_buckets("host_state"):
            # LSM host_state: bound read amplification, then refresh the
            # cursor-minima cache EXACTLY — the per-wave merge rule (min
            # with changed buckets) can only tighten downward, so this is
            # where stale minima catch up after the previous min host of a
            # bucket advances
            m4 = wh.compact_bucketed(
                "host_state", version_col="wave",
                max_files_per_bucket=cfg.compact_max_files,
            )
            if m4:
                cm["host_state"] = m4
            self._mins_cache = None
            self._cursor_mins(self.read_host_state())
        # frontier "compaction" is a manifest edit: (range, host-bucket)
        # leaves entirely below their bucket's min cursor are dropped with
        # zero IO
        mins = self._cursor_mins(self.read_host_state())
        if mins is not None:
            m3 = wh.prune_ranged("frontier", bucket_mins=mins)
            if m3:
                cm["frontier"] = m3
        if cm:
            wh.commit(wave, cm, metrics={"counter": self.counter,
                                         "live": self.live,
                                         "n_hosts": self.n_hosts,
                                         "compaction": True})

    def _ingest_filters(self, admit_seen: DataFrame) -> None:
        """bloom: every new seen key, built executor-side per slice (numpy,
        vectorized). Driver mode ORs P small update blobs on the driver;
        driver-light mode merges with the previous wave's blobs and persists
        executor-side in the same job — nothing filter-sized (or row-shaped)
        ever reaches the driver. (No cuckoo maintenance — see _init_filters.)"""
        if self._bloom_driver_light:
            out = self.wh._new_data_dir("filters_bloom")
            self.bloom.merge_update_spark(
                admit_seen.select("key_hash"), out, hash_col="key_hash"
            )
            self._filters_manifest_pending = self.wh._save_manifest(
                "filters_bloom", self._bloom_manifest()
            )
        else:
            self.bloom.build_update(admit_seen.select("key_hash"), hash_col="key_hash")

    # -------------------------------------------------------------- children
    def _collect_admissions(self, renderable: DataFrame, redirected: DataFrame) -> DataFrame:
        cfg = self.cfg
        requeues = redirected.select(
            F.col("final_url").alias("raw"),
            F.col("final_url").alias("resolved"),
            F.col("parent_url"),
            F.col("parent_host"),
            F.col("is_extracted"),
            F.lit(0).alias("status_pre"),
            F.lit(None).cast("string").alias("ctype_pre"),
            F.lit(None).cast("long").alias("size_pre"),
            F.lit(None).cast("boolean").alias("is_internal_admit"),
            F.col("priority").alias("parent_priority"),
            F.lit(0).alias("seq"),
        )

        pages = renderable.select(
            F.col("final_url"), F.col("priority"), F.col("host").alias("page_host")
        )
        asset_items = None
        asset_counts = None
        if self._has_assets:
            # captured sub-resources: join + document-order window + per-page
            # counts (three shuffle stages) — built only when the crawl's
            # static asset capture is non-empty, so asset-free crawls don't
            # pay the stages every wave
            assets = pages.join(
                self.assets.withColumnRenamed("page_url", "final_url"), on="final_url", how="inner"
            )
            if not cfg.include_redirect_urls_in_report:
                # sub-resource redirect suppression (HtmlRenderer.cs:86-87)
                assets = assets.filter(
                    ~((F.col("status_code") >= 300) & (F.col("status_code") < 400))
                )
            w = Window.partitionBy("final_url").orderBy("seq")
            assets = assets.withColumn("__aseq", F.row_number().over(w) - 1)
            asset_counts = assets.groupBy("final_url").agg(F.count("*").alias("__n_assets"))
            asset_items = assets.select(
                F.col("asset_url").alias("raw"),
                F.col("asset_url").alias("resolved"),
                F.col("final_url").alias("parent_url"),
                F.col("page_host").alias("parent_host"),
                F.lit(False).alias("is_extracted"),
                F.col("status_code").cast("int").alias("status_pre"),
                F.col("content_type").alias("ctype_pre"),
                F.col("size").cast("long").alias("size_pre"),
                F.lit(None).cast("boolean").alias("is_internal_admit"),
                F.col("priority").alias("parent_priority"),
                F.col("__aseq").cast("int").alias("seq"),
            )

        to_render = pages.join(self.pages_html, on="final_url", how="inner")
        # JVM extraction (regexp_extract_all + column-expr resolver): no
        # Python workers or Arrow transfer of page HTML in the hot path
        links = extract_links_jvm(to_render, url_col="final_url", html_col="html",
                                  resolver=self._link_resolver)
        if asset_counts is not None:
            links = links.join(asset_counts, on="final_url", how="left").withColumn(
                "__offset", F.coalesce(F.col("__n_assets"), F.lit(0))
            )
        else:
            links = links.withColumn("__offset", F.lit(0))
        link_items = links.select(
            F.col("href").alias("raw"),
            F.col("resolved_url").alias("resolved"),
            F.col("final_url").alias("parent_url"),
            F.col("page_host").alias("parent_host"),
            F.lit(True).alias("is_extracted"),
            F.lit(0).alias("status_pre"),
            F.lit(None).cast("string").alias("ctype_pre"),
            F.lit(None).cast("long").alias("size_pre"),
            F.lit(None).cast("boolean").alias("is_internal_admit"),
            F.col("priority").alias("parent_priority"),
            (F.col("seq") + F.col("__offset")).cast("int").alias("seq"),
        )
        out = requeues.unionByName(link_items)
        if asset_items is not None:
            out = out.unionByName(asset_items)
        for f in ADMIT_SCHEMA.fields:
            out = out.withColumn(f.name, F.col(f.name).cast(f.dataType))
        return out.select([f.name for f in ADMIT_SCHEMA.fields])

    # ---------------------------------------------------------------- commit
    @staticmethod
    def _report_metric_cols():
        """Aggregates the metrics table derives from report rows — attached
        as an Observation on the report WRITE so no separate scan runs."""
        return [
            F.count(F.lit(1)).alias("n"),
            F.count_if(F.abs(F.col("status_code")) >= 400).alias("broken"),
        ]

    def _commit_critical(self, frontier, n_frontier, host_updates):
        """Critical-path half of a commit — only what the NEXT select reads:
        the frontier append (run in the pool, concurrently) and the
        host-updates checkpoint, whose Observation carries the fresh-host
        count and the per-bucket cursor minima so the driver stats are
        current before the tail even starts. Both stay the pending state
        the next select reads until the tail publishes.

        → (manifests of the appended frontier, checkpointed host updates or
        None)"""
        wh, cfg = self.wh, self.cfg
        fut_frontier = None
        if n_frontier > 0:
            # append-only ranged LSM: O(new rows); consumed rows are encoded
            # by host_state cursors, fully-dead ranges pruned at compaction
            fut_frontier = self._pool.submit(
                wh.append_ranged, "frontier", frontier.select(FRONTIER_COLS),
                "priority", cfg.frontier_range_bits, "host",
                cfg.frontier_host_buckets,
            )
        if host_updates is not None:
            obs = Observation()
            nb = self._frontier_nb()
            hb = F.pmod(F.xxhash64(F.col("host")), F.lit(nb)).cast("int")
            host_updates = host_updates.observe(
                obs,
                F.count_if(
                    (F.col("next_allowed_wave") == 0) & (F.col("cursor") == -1)
                ).alias("fresh"),
                *[
                    F.min(F.when(hb == i, F.col("cursor"))).alias(f"m{i}")
                    for i in range(nb)
                ],
            ).localCheckpoint(True, _CKPT_LEVEL)
            got = observed_metrics(obs)
            # incremental host count: fresh rows are the only inserts
            # (fetched hosts are pre-registered by the frontier invariant).
            # min() MERGE keeps the cache a safe lower bound; it cannot rise
            # when a bucket's min host advances, so the compaction cadence
            # refreshes it exactly
            self.n_hosts += int(got.get("fresh") or 0)
            cache = dict(self._mins_cache or {})
            for i in range(nb):
                m = got.get(f"m{i}")
                if m is not None:
                    cache[i] = min(cache[i], m) if i in cache else m
            self._mins_cache = cache
        manifests = {}
        if fut_frontier is not None:
            manifests["frontier"] = fut_frontier.result()
        self._pending_frontier_m = manifests.get("frontier")
        self._pending_hs_delta = host_updates
        return manifests, host_updates

    def _commit_tail(self, frees: list, *commit_args, **commit_kw) -> None:
        """Start the background half of a commit: ``_commit_wave(
        *commit_args, **commit_kw)`` in the pool, overlapped with the next
        select and joined by _wait_tail. ``frees``: the checkpoints its
        writes read, freed once it is joined (block-manager hygiene; see
        free_local_checkpoint) — with the previous commit's host-updates
        delta, which the select that just ran may have read."""
        prev_delta, self._delta_to_free = self._delta_to_free, None
        self._tail_frees = frees + ([prev_delta] if prev_delta is not None else [])
        self._tail_future = self._pool.submit(
            self._commit_wave, *commit_args, **commit_kw
        )

    def _commit_wave(self, wave, manifests, report, seen, new_seen,
                     host_updates, batch_count, partition_counts,
                     avg_load_ms: float | None = None,
                     crawl_log: DataFrame | None = None) -> None:
        """The commit tail (runs in the pool): every table write off the
        critical path, then ONE atomic commit of their manifests plus
        ``manifests`` (the critical path's frontier append). ``new_seen``:
        the newly admitted subset of ``seen``, ingested into the bloom
        before the filter is saved.

        The writes are independent jobs over already-checkpointed inputs —
        submitted concurrently so the scheduler interleaves their tasks
        (sequential writes leave most cores idle between jobs; measured as
        the commit phase anti-scaling at 32 threads). Each writes its own
        table dir + manifest file, no shared state."""
        wh, cfg, pool = self.wh, self.cfg, self._pool
        # seen/report are LSM append-only (O(new rows) per wave, bucket-pruned
        # reads): hash-uniform updates would touch every bucket of a
        # copy-on-write merge, degenerating to an O(table) rewrite per wave.
        # Readers resolve last-write-wins by wave (read_seen / read_report).
        # No within-wave dedup shuffle is needed: settled keys are all
        # previously-seen (their own url_hash) while admitted keys passed the
        # seen anti-join (disjoint), and each side is internally unique
        # (settled rows are non-redirected so final == self; admitted rows
        # come out of the first-wins aggregate). Cross-wave duplicates are
        # the readers' last-write-wins job. Parity tests pin this.
        # per-wave counters (Statistics.cs:6-84 / EventBroadcaster analog)
        # RIDE the report write as an Observation — the old standalone agg
        # re-scanned every report row a second time (a measured ~6-12 s pool
        # job per wave at bench scale, pure waste)
        obs_report = Observation()
        wave_report = report.withColumn("wave", F.lit(wave)).observe(
            obs_report, *self._report_metric_cols()
        )
        jobs = {
            "report": pool.submit(
                wh.append_bucketed, "report", wave_report, "verified_url",
                cfg.report_buckets,
            ),
            "seen": pool.submit(
                wh.append_bucketed, "seen", seen, "key", cfg.seen_buckets
            ),
        }
        if host_updates is not None:
            jobs["host_state"] = pool.submit(
                self._write_host_state, wave, host_updates
            )

        def _metrics_row():
            # waits for the report write, then reads its observation — one
            # 1-row write instead of a full re-aggregation job
            jobs["report"].result()
            got = observed_metrics(obs_report)
            n = got.get("n") or 0
            broken = got.get("broken") or 0
            row_df = self.spark.createDataFrame(
                [(wave, n, broken, n - broken, batch_count,
                  float(avg_load_ms) if avg_load_ms is not None else None)],
                "wave int, report_rows long, broken_new long, valid_new long, "
                "batch long, avg_page_load_ms double",
            )
            return wh.append("metrics", row_df)

        jobs["metrics"] = pool.submit(_metrics_row)
        if crawl_log is not None:
            jobs["crawl_log"] = pool.submit(wh.append, "crawl_log", crawl_log)

        def _filters():
            # bloom ingest must complete before its serialization —
            # sequential within this task, concurrent with the writes
            self._ingest_filters(new_seen)
            return self._save_filters(wave)

        filters = pool.submit(_filters)
        # every write finishes before a failure propagates: once the tail
        # is joined, nothing of the unpublished wave is still being written
        wait([*jobs.values(), filters])
        for name, fut in jobs.items():
            manifests[name] = fut.result()
        manifests.update(filters.result())
        wh.commit(
            wave,
            manifests,
            metrics={
                "counter": self.counter,
                "live": self.live,
                "batch": batch_count,
                "n_hosts": self.n_hosts,
                "admit_partition_rows": {str(k): v for k, v in (partition_counts or {}).items()},
            },
        )

    def _write_host_state(self, wave: int, host_updates: DataFrame) -> str:
        """host_state write. Bucketed (LSM) table: append ONLY the changed
        rows, versioned by ``wave`` — O(changed hosts) per wave. Flat table:
        overwrite with the committed table composed with the updates — one
        tiny file at small scale; once n_hosts passes
        cfg.host_state_lsm_min_hosts, that overwrite is the ONE-TIME
        migration into the bucketed layout (bucket modulus = the
        frontier's, so host-bucket pruning aligns across the two tables).
        A full overwrite at 10^8-10^9 hosts would be the one remaining
        O(state)-per-wave write in an otherwise LSM design."""
        wh = self.wh
        nb = wh.num_buckets("host_state")
        if nb:
            return wh.append_bucketed(
                "host_state", host_updates.withColumn("wave", F.lit(wave)),
                "host", nb,
            )
        # the composition base is the COMMITTED table: the previous tail
        # has published, so HEAD is current (the select-phase view may
        # carry the pending delta overlay and must not be the base)
        base = self.read_host_state()
        full = host_updates
        if base is not None:
            full = base.join(
                host_updates.select("host"), on="host", how="left_anti"
            ).unionByName(host_updates)
        if self.n_hosts > self.cfg.host_state_lsm_min_hosts:
            return wh.overwrite_bucketed(
                "host_state", full.withColumn("wave", F.lit(wave)), "host",
                self._frontier_nb(),
            )
        return wh.overwrite("host_state", full)
