"""Training-data deduplication operators over a documents table.

All pure column expressions (JVM-side):
- exact dedup: hash-groupBy on text with a deterministic keeper
- MinHash signatures: k permutations of md5-derived shingle ints
  (md5 → first 15 hex chars → int60 is reproducible in ANY SQL engine,
  which is what lets DuckDB oracle-check the signatures exactly)
- MinHash-LSH banding: signature bands → bucket ids → candidate pairs
- n-gram Jaccard: shingle explode + self-join + |∩|/|∪|
- SimHash: sign-aggregated token-hash bits
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from helix_spark.functions.text import shingles_from_tokens_col, tokens_col

# (a, b) pairs for the universal-hash permutations
# h_i(x) = ((x % P) * a_i + b_i) % P with P = 2^31 − 1 and a_i, b_i < P:
# (x % P) * a < 2^62, so the arithmetic never overflows int64 in either
# Spark or DuckDB (DuckDB RAISES on bigint overflow instead of wrapping).
MINHASH_PRIME = 2147483647  # 2^31 − 1 (Mersenne)
MINHASH_PERMS: list[tuple[int, int]] = [
    (1299721, 104729), (15485863, 32452843), (49979687, 86028121),
    (67867967, 122949823), (141650939, 198491317), (217645177, 256203161),
    (295075147, 314606869), (370248451, 413158511),
]


def md5_int60_col(s):
    """First 60 bits of md5 as a signed-positive long — identical in Spark
    (conv) and DuckDB (('0x'||substr)::bigint)."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def _fan_out(docs: DataFrame, width_hint: int | None = None) -> DataFrame:
    """Spread a narrow input across the cluster before the md5/shingle
    forest. Scan parallelism is FILE-SPLIT parallelism: a small corpus in
    one parquet file is one task, and the md5-per-shingle work (the
    dominant cost of every op in this module — 100-1000× the bytes read)
    then runs on ONE core (measured: 11.6 s single-task vs sub-second
    spread, sf0.1). Inputs already at least core-count-wide are returned
    untouched — no extra shuffle of document text at scale.

    Width comes from ``width_hint`` (caller knows), else the plan's scan
    file list (``inputFiles()`` — logical-plan metadata, no plan→RDD
    conversion: ``rdd.getNumPartitions()`` forces a full physical-plan
    translation per call, measured ~0.5 s of driver work per battery
    query). File count under-reports splits for giant single files, which
    only over-engages the repartition — the CPU-bound md5 forest wants
    that spread anyway. Non-file plans (in-memory test frames) report zero
    files and likewise spread: scale-safe, never scale-wrong."""
    sc = docs.sparkSession.sparkContext
    target = sc.defaultParallelism
    if width_hint is None:
        try:
            width_hint = len(docs.inputFiles())
        except Exception:  # pragma: no cover - exotic plans
            width_hint = 0
    if width_hint < target:
        return docs.repartition(target)
    return docs


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Hash-groupBy exact dedup: one keeper (min id) per distinct text.

    No ``_fan_out`` here: the per-row work is ONE md5 — same order as the
    scan itself — so the map-side partial agg runs in the scan stage and
    the shuffle carries only distinct fingerprints. A pre-repartition
    would shuffle the full text corpus to save nothing (measured 0.23 s →
    1.3 s at sf0.1 when fan-out was applied here in round 4). Fan-out is
    for the shingle-explode ops whose CPU is 100-1000× the bytes read."""
    return docs.groupBy(md5_int60_col(F.col(text_col)).alias("text_fp")).agg(
        F.min(id_col).alias("keeper_id"), F.count("*").alias("n_copies")
    )


def shingle_explode(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    shingle_n: int = 3, width_hint: int | None = None,
) -> DataFrame:
    """Materialized per-doc DISTINCT shingle explode: one (id, sh, __x) row
    per distinct shingle (``__x`` = md5-int60 of the shingle), shingle-less
    docs kept as a single NULL row (explode_outer). The shareable input of
    the near-dup pipeline: MinHash signatures consume ``__x`` (min over the
    distinct set ≡ min over the multiset) and the exact-Jaccard verify
    consumes ``sh`` — ONE explode+md5 pass over the corpus instead of one
    per stage. localCheckpoint is memory-and-disk: the materialization is
    O(corpus shingles), the same order as the shuffle the verify stage's
    shingle join performs anyway."""
    # TWO-STEP projection: tokens materialize once per row, the shingle
    # tree reads the bound attribute (shingles_from_tokens_col docstring —
    # the inlined one-step form re-ran the tokenization per reference)
    return (
        _fan_out(docs, width_hint)
        .select(F.col(id_col), tokens_col(F.col(text_col)).alias("__t"))
        .select(
            F.col(id_col),
            F.explode_outer(
                F.array_distinct(shingles_from_tokens_col(F.col("__t"), shingle_n))
            ).alias("sh"),
        )
        .withColumn("__x", md5_int60_col(F.col("sh")))
        .localCheckpoint()
    )


def minhash_signature(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    k: int = 4, shingle_n: int = 3, exploded: DataFrame | None = None,
    width_hint: int | None = None,
) -> DataFrame:
    """k-permutation MinHash over word shingles. Documents with no shingles
    (shorter than n words) get NULL components. ``id_col`` must be unique
    per document (duplicate ids would collapse into one signature row).

    AGGREGATE formulation: explode the shingle md5-ints and take
    groupBy(id).agg(min(perm_i(x))). Spark evaluates nested
    transform∘array_min lambda forests INTERPRETED (~2 ms/row regardless of
    codegen — measured ~200× slower than the same permutation arithmetic in
    the codegen'd aggregate path, BENCH/PLANS.md), so the explode+min shape
    is the scale path: the permutation expressions run inside whole-stage
    codegen with map-side partial aggregation (the shuffle carries one row
    per doc per partition, not one row per shingle). ``explode_outer``
    keeps shingle-less docs as a single NULL row → NULL mins, preserving
    the original NULL-component contract. md5 semantics unchanged — the
    DuckDB oracle is identical.

    ``exploded`` (a shingle_explode result) reuses an already-materialized
    explode instead of streaming a fresh one — min over its distinct
    shingle set equals min over the raw multiset, so results are
    bit-identical either way."""
    if exploded is not None:
        ex = exploded.select(F.col(id_col), F.col("__x"))
    else:
        ex = _fan_out(docs, width_hint).select(
            F.col(id_col), tokens_col(F.col(text_col)).alias("__t")
        ).select(
            F.col(id_col),
            F.explode_outer(
                shingles_from_tokens_col(F.col("__t"), shingle_n)
            ).alias("__sh"),
        ).select(F.col(id_col), md5_int60_col(F.col("__sh")).alias("__x"))
    x = F.col("__x")
    aggs = []
    for i in range(k):
        a, b = MINHASH_PERMS[i]
        aggs.append(F.min(((x % MINHASH_PRIME) * a + b) % MINHASH_PRIME).alias(f"mh{i}"))
    return ex.groupBy(id_col).agg(*aggs)


def minhash_lsh_pairs(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    k: int = 8, bands: int = 4, shingle_n: int = 3,
    max_bucket_size: int | None = None, exploded: DataFrame | None = None,
    width_hint: int | None = None,
) -> DataFrame:
    """LSH banding: split the k-component signature into bands, bucket-join.
    → candidate pairs (id_a < id_b) that share ≥1 band bucket. Scale path:
    the self-join is on (band, bucket) — hash-partitioned, no full cross.

    HOT-BUCKET GUARD (``max_bucket_size``): a degenerate bucket (a
    boilerplate/near-identical cluster) would make the self-join quadratic
    in that bucket. Buckets larger than the cap emit STAR pairs instead —
    every member paired with the bucket's min id. That keeps the output
    O(bucket) while preserving the connectivity a union-find dedup pass
    needs (all members still land in one component). None = exact all-pairs
    (the oracle-checked default)."""
    # localCheckpoint the (tiny: one row per doc) signature table: the band
    # explosion references it 4+ times and the bucket SELF-join squares the
    # tree — without truncation Catalyst re-inlines the md5/shingle
    # transform forest into every branch and plan compilation alone
    # explodes (observed: minutes at 5k docs with the bucket-cap variant).
    sig = minhash_signature(
        docs, text_col, id_col, k, shingle_n, exploded=exploded,
        width_hint=width_hint,
    ).localCheckpoint()
    rows_per_band = k // bands
    buckets = []
    for b in range(bands):
        comps = [F.col(f"mh{b * rows_per_band + j}") for j in range(rows_per_band)]
        # md5-int bucket (not xxhash64) so a plain-SQL oracle can reproduce it
        bucket = md5_int60_col(F.concat_ws("|", *[c.cast("string") for c in comps]))
        buckets.append(
            sig.select(F.col(id_col), F.lit(b).alias("band"), bucket.alias("bucket"))
        )
    exploded = buckets[0]
    for bdf in buckets[1:]:
        exploded = exploded.unionByName(bdf)

    if max_bucket_size is not None:
        stats = exploded.groupBy("band", "bucket").agg(
            F.count("*").alias("__n"), F.min(id_col).alias("__rep")
        )
        tagged = exploded.join(stats, on=["band", "bucket"])
        small = tagged.filter(F.col("__n") <= max_bucket_size).drop("__n", "__rep")
        star = (
            tagged.filter((F.col("__n") > max_bucket_size) & (F.col(id_col) != F.col("__rep")))
            .select(F.col("__rep").alias("id_a"), F.col(id_col).alias("id_b"))
        )
        left = small.withColumnRenamed(id_col, "id_a")
        right = small.withColumnRenamed(id_col, "id_b")
        all_pairs = (
            left.join(right, on=["band", "bucket"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
        )
        return all_pairs.unionByName(star).distinct()

    left = exploded.withColumnRenamed(id_col, "id_a")
    right = exploded.withColumnRenamed(id_col, "id_b")
    return (
        left.join(right, on=["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    shingle_n: int = 3, threshold: float = 0.5,
    assert_max_docs: int | None = None, width_hint: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity via shingle explode + equi-self-join.
    Output pairs with jaccard_milli = floor(1000*|∩|/|∪|) ≥ threshold.

    WARNING — quadratic on repetitive corpora: the shingle self-join blows
    up with shared shingles (boilerplate), so CORPUS-WIDE calls do not
    survive scale. This operator exists as the oracle-able exact twin and
    as the verify stage of ``near_dup_pairs`` (which prunes to LSH
    candidates first) — use near_dup_pairs for corpus-wide dedup. Set
    ``assert_max_docs`` to fail fast if the input exceeds a sane bound for
    an exact all-pairs run (costs one count job)."""
    if assert_max_docs is not None:
        n = docs.count()
        if n > assert_max_docs:
            raise ValueError(
                f"ngram_jaccard_pairs: {n} docs > assert_max_docs="
                f"{assert_max_docs}. Corpus-wide exact Jaccard is quadratic "
                f"— use near_dup_pairs (LSH-pruned) instead."
            )
    # materialize the shingle explode once: it is referenced THREE times
    # (sizes + both join sides) and the md5/shingle transform forest would
    # otherwise run per reference (the same CollapseProject landmine the
    # near-dup pipeline already guards against)
    sh = _fan_out(docs, width_hint).select(
        F.col(id_col), tokens_col(F.col(text_col)).alias("__t")
    ).select(
        F.col(id_col),
        F.explode(
            F.array_distinct(shingles_from_tokens_col(F.col("__t"), shingle_n))
        ).alias("sh"),
    ).localCheckpoint()
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    a = sh.withColumnRenamed(id_col, "id_a")
    b = sh.withColumnRenamed(id_col, "id_b")
    common = (
        a.join(b, on="sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    out = (
        common.join(sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("n_sh", "n_a"), on="id_a")
        .join(sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("n_sh", "n_b"), on="id_b")
        .withColumn(
            "jaccard_milli",
            F.floor(
                F.lit(1000) * F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).cast("long"),
        )
        .filter(F.col("jaccard_milli") >= int(threshold * 1000))
        .select("id_a", "id_b", "n_common", "jaccard_milli")
    )
    return out


def near_dup_pairs(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    k: int = 8, bands: int = 4, shingle_n: int = 3, threshold: float = 0.5,
    max_bucket_size: int | None = None, share_explode: bool = True,
    width_hint: int | None = None,
) -> DataFrame:
    """THE scale-correct near-dup pipeline: MinHash-LSH candidate generation
    → exact n-gram Jaccard verification on CANDIDATES ONLY. Corpus-wide
    exact Jaccard (ngram_jaccard_pairs) is quadratic on repetitive corpora;
    this bounds the exact stage to the LSH candidate set, which is the only
    shape that survives 100 TB. Deterministic (LSH buckets are md5-derived),
    so a SQL oracle reproduces it exactly.

    ``share_explode`` picks between two bit-identical plans for the
    explode+md5 pass (the dominant CPU of both stages) —
    `scripts/neardup_ab.py`, both corpus regimes measured:

    - True (default): shingle_explode MATERIALIZES (id, sh, __x) once; the
      signature agg reads ``__x`` and the verify join reads ``sh`` off the
      same checkpointed blocks. Wins ~40% at 50k docs whenever a
      meaningful fraction of docs appear in candidate pairs (dedup
      corpora usually qualify — that is why they are being deduped).
    - False: the signature agg STREAMS its explode (map-side combine ships
      one row per doc per partition — nothing corpus-sized is ever
      stored) and the verify re-explodes CANDIDATE docs only. Prefer when
      candidates ≪ corpus AND executor block storage is the scarce
      resource: it avoids an O(corpus-shingles) checkpoint (~10× the
      corpus bytes) at the cost of re-exploding candidates."""
    sh_all = (
        shingle_explode(docs, text_col, id_col, shingle_n, width_hint)
        if share_explode else None
    )
    cand = minhash_lsh_pairs(
        docs, text_col, id_col, k, bands, shingle_n, max_bucket_size,
        exploded=sh_all, width_hint=width_hint,
    ).localCheckpoint()  # small pair list; truncate before the shingle joins
    # exact verify touches ONLY candidate docs: prune to ids that appear in
    # a candidate pair (broadcast semi — candidates are tiny relative to
    # the corpus at scale)
    cand_ids = (
        cand.select(F.col("id_a").alias(id_col))
        .unionByName(cand.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    if share_explode:
        # localCheckpoint the candidate-pruned shingle set: it feeds THREE
        # consumers (sizes, both sides of the intersection join), so the
        # semi-join + cand_ids distinct would otherwise re-execute per
        # consumer (measured: three identical Union+HashAggregate+semi
        # subtrees in the sf0.1 plan). O(candidate shingles) — the same
        # order as the intersection join's shuffle.
        sh = (
            sh_all.filter(F.col("sh").isNotNull())
            .join(F.broadcast(cand_ids), on=id_col, how="left_semi")
            .select(F.col(id_col), "sh")
            .localCheckpoint()
        )
    else:
        sh = (
            _fan_out(docs, width_hint).join(F.broadcast(cand_ids), on=id_col, how="left_semi")
            .select(F.col(id_col), tokens_col(F.col(text_col)).alias("__t"))
            .select(
                F.col(id_col),
                F.explode(
                    F.array_distinct(shingles_from_tokens_col(F.col("__t"), shingle_n))
                ).alias("sh"),
            )
            .localCheckpoint()
        )
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    sa = sh.select(F.col(id_col).alias("id_a"), "sh")
    sb = sh.select(F.col(id_col).alias("id_b"), "sh")
    common = (
        cand.join(sa, on="id_a")
        .join(sb, on=["id_b", "sh"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        common.join(sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("n_sh", "n_a"), on="id_a")
        .join(sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("n_sh", "n_b"), on="id_b")
        .withColumn(
            "jaccard_milli",
            F.floor(
                F.lit(1000) * F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).cast("long"),
        )
        .filter(F.col("jaccard_milli") >= int(threshold * 1000))
        .select("id_a", "id_b", "n_common", "jaccard_milli")
    )


def simhash64(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
              bits: int = 16, width_hint: int | None = None) -> DataFrame:
    """SimHash: per token, md5-derived bits vote ±1; bit i of the output is
    set iff more than half the tokens have bit i set (2·ones > n). Pure bit
    ops (shiftright / %) so a plain-SQL oracle reproduces it exactly.

    ``bits`` is capped at 60: token hashes are md5-int60 (the portable
    cross-engine hash — DuckDB has no xxhash64), so only 60 source bits
    exist; asking for more would silently produce constant high bits. Bits
    are OR-assembled (shiftleft + bitwiseOR, no additive 2^i literals), so
    any width up to 60 is overflow-safe.

    AGGREGATE formulation (the minhash_signature shape, round-6): explode
    the token ints and take per-bit sums in a codegen'd hash aggregate with
    map-side partial combine. The previous form ran ``bits`` interpreted
    array-filter passes per row (~2·bits lambda evaluations per token —
    HOFs are CodegenFallback); the per-bit vote counts are plain aggregate
    arithmetic and belong in codegen. Token-less docs survive as a single
    NULL row (explode_outer) → n = count(__x) = 0 → all votes lose →
    simhash 0, exactly the old size-0 result. ``id_col`` must be unique per
    document (same contract as minhash_signature — duplicate ids would
    collapse into one signature row)."""
    from helix_spark.functions.text import tokens_col

    if not 1 <= bits <= 60:
        raise ValueError(
            f"bits={bits} out of range [1, 60]: md5-int60 token hashes "
            f"provide only 60 independent bits"
        )
    def _build_cols():
        toks = tokens_col(F.col(text_col))
        ints = F.transform(toks, lambda t: md5_int60_col(t))
        x = F.col("__x")
        aggs = [F.count(x).alias("__n")]
        for i in range(bits):
            aggs.append(F.sum(F.shiftright(x, i) % 2).alias(f"__o{i}"))
        val = F.lit(0).cast("long")
        for i in range(bits):
            bit = F.when(
                F.col(f"__o{i}") * 2 > F.col("__n"),
                F.shiftleft(F.lit(1).cast("long"), i),
            ).otherwise(F.lit(0).cast("long"))
            val = val.bitwiseOR(bit)
        return ints, tuple(aggs), val

    # ~2·bits pure expression trees over fixed names — cached per
    # (text_col, bits): the per-call py4j build cost was a visible slice of
    # the timed query at bench scale
    from helix_spark.functions.colcache import cached_col

    ints, aggs, val = cached_col(("simhash64", text_col, bits), _build_cols)
    ex = _fan_out(docs, width_hint).select(
        F.col(id_col), F.explode_outer(ints).alias("__x")
    )
    g = ex.groupBy(id_col).agg(*aggs)
    return g.select(F.col(id_col), val.alias("simhash"))


_CC_DIGEST_MOD = 2147483647  # mod-sums keep the digest ANSI-overflow-safe


def _ck_with_digest(edges: DataFrame) -> tuple[DataFrame, tuple]:
    """localCheckpoint an edge set with its fixpoint digest (count + three
    mod-sums) riding the SAME materialization as an Observation — one job
    per CC round instead of checkpoint + separate digest agg. Equal digests
    across rounds ⇒ unchanged set (up to a negligible collision
    probability); the round function is deterministic in the edge set, so
    an unchanged set IS the fixpoint."""
    from pyspark.sql import Observation

    from helix_spark.operators.rank import observed_metrics

    obs = Observation()
    ck = edges.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("src") % _CC_DIGEST_MOD).alias("s1"),
        F.sum(F.col("dst") % _CC_DIGEST_MOD).alias("s2"),
        F.sum(F.xxhash64("src", "dst") % _CC_DIGEST_MOD).alias("s3"),
    ).localCheckpoint()
    got = observed_metrics(obs)
    return ck, (got.get("n", 0), got.get("s1"), got.get("s2"), got.get("s3"))


def connected_components(
    pairs: DataFrame, nodes: DataFrame,
    id_a: str = "id_a", id_b: str = "id_b", node_col: str = "doc_id",
    max_iters: int = 30,
    driver_max_edges: int = 1_000_000,
    _rounds_out: list | None = None,
) -> DataFrame:
    """Connected components over an undirected pair graph — the union-find
    consumer of the near-dup pipelines: every document gets
    ``component`` = the smallest doc id reachable through near-duplicate
    pairs (documents in no pair are their own singleton component), which
    is exactly what a keep-one-per-cluster dedup pass keys on.

    Implementation: the ALTERNATING large-star/small-star algorithm
    (Kiveris et al. 2014, "Connected Components in MapReduce and Beyond" —
    public algorithm), which converges in O(log n) rounds on ANY graph —
    including adversarial long-chain graphs where plain min-label
    propagation needs diameter rounds. Each round:

    - large-star: symmetrize; for each node u with neighborhood Γ(u),
      m = min(Γ(u) ∪ {u}); rewire every LARGER neighbor v > u to m.
    - small-star: orient edges large→small; for each node u with (smaller)
      neighbors N(u), m = min(N(u)); rewire u and every other member of
      N(u) to m.

    Both are |E|-sized join/aggregate rounds — never anything O(n²). At
    the fixpoint the edge set is a forest of depth-1 stars centered at
    each component's minimum id, read off directly as the labels. Fixpoint
    detection: the edge-set digest (count + mod-sums) stops changing
    (the algorithm converges monotonically — no cycles — so a stable
    composite digest IS the fixpoint). Every round is materialized
    (checkpoint + digest): chaining rounds lazily into one materialization
    measured worse at sf0.1 in the round-6 A/B (2 rounds per checkpoint
    4.7-5.4 s, 3 rounds 39.5 s, vs 2.1-2.9 s) — real near-dup graphs
    fixpoint in ~2 rounds, so chaining only adds rounds and the deeper
    per-job plans cost far more than the saved job overhead.

    RAISES RuntimeError if max_iters rounds pass without convergence
    (30 rounds covers any real graph at O(log n); silently returning
    partial labels would let a keep-one-per-cluster dedup delete against
    wrong clusters). ``_rounds_out``: internal test hook — if a list is
    passed, the number of rounds executed is appended to it.
    """
    from helix_spark.operators.rank import free_local_checkpoint

    # canonical orientation: src > dst (self-loops dropped)
    canon = (
        pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.greatest("a", "b").alias("src"), F.least("a", "b").alias("dst")
        )
        .distinct()
    )
    # SMALL-GRAPH FAST PATH (``driver_max_edges``; 0/None disables): the
    # star rounds cost 2-3 Spark jobs even when the deduplicated edge set
    # is a handful of pairs — the common case for a quality dedup pass
    # over a mostly-unique corpus. Up to the cap, a driver-side union-find
    # with min-label tracking computes the IDENTICAL labels (component =
    # min reachable id) in one bounded ``take``; past the cap the take
    # stops early (limit-incremental scan) and the distributed O(log n)
    # rounds below run unchanged — the same size-adaptive hybrid as the
    # seen anti-join's semi-broadcast cap (operators/dedup.py). The cap is
    # driver-bounded by construction: ≤ driver_max_edges+1 two-field rows.
    if driver_max_edges:
        head = canon.take(driver_max_edges + 1)
        if len(head) <= driver_max_edges:
            if _rounds_out is not None:
                _rounds_out.append(0)
            parent: dict = {}

            def _find(x):
                r = x
                while parent[r] != r:
                    r = parent[r]
                while parent[x] != r:
                    parent[x], x = r, parent[x]
                return r

            for row in head:
                s, d = row["src"], row["dst"]
                for v in (s, d):
                    if v not in parent:
                        parent[v] = v
                rs, rd = _find(s), _find(d)
                if rs != rd:
                    parent[rs] = rd
            comp_min: dict = {}
            for v in parent:
                r = _find(v)
                if r not in comp_min or v < comp_min[r]:
                    comp_min[r] = v
            node_out = nodes.select(F.col(node_col).alias("node"))
            if parent:
                from pyspark.sql.types import StructField, StructType

                ntype = pairs.schema[id_a].dataType
                mdf = pairs.sparkSession.createDataFrame(
                    [(v, comp_min[_find(v)]) for v in parent],
                    StructType([
                        StructField("node", ntype),
                        StructField("component", ntype),
                    ]),
                )
                labels = node_out.join(
                    F.broadcast(mdf), on="node", how="left"
                ).select(
                    "node",
                    F.coalesce("component", F.col("node")).alias("component"),
                )
            else:
                labels = node_out.select(
                    "node", F.col("node").alias("component")
                )
            return labels.select(F.col("node").alias(node_col), "component")
    edges, prev = _ck_with_digest(canon)
    def _one_round(e: DataFrame) -> DataFrame:
        # large-star
        sym = e.select("src", "dst").unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        mins = sym.groupBy("src").agg(F.min("dst").alias("__m"))
        m = F.least(F.col("__m"), F.col("src"))
        ls = (
            sym.join(mins, on="src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), m.alias("dst"))  # v > u ≥ m
            .distinct()
        )
        # small-star (ls is already large→small oriented: src > dst)
        mins2 = ls.groupBy("src").agg(F.min("dst").alias("__m"))
        ss_nbrs = (
            ls.join(mins2, on="src")
            .filter(F.col("dst") != F.col("__m"))
            .select(F.col("dst").alias("src"), F.col("__m").alias("dst"))
        )
        ss_self = mins2.select("src", F.col("__m").alias("dst"))
        return (
            ss_nbrs.unionByName(ss_self)
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )

    converged = False
    rounds = 0
    while rounds < max_iters and not converged:
        new, cur = _ck_with_digest(_one_round(edges))
        rounds += 1
        free_local_checkpoint(edges)
        edges = new
        if cur == prev:
            converged = True
        prev = cur
    if _rounds_out is not None:
        _rounds_out.append(rounds)
    if not converged:
        free_local_checkpoint(edges)
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds — "
            f"returning partial labels would corrupt a dedup pass keyed on "
            f"them. The alternating star algorithm needs O(log n) rounds; "
            f"hitting this bound indicates a pathological input (or raise "
            f"max_iters)."
        )
    # fixpoint edge set = depth-1 stars: src = member, dst = component min
    labels = (
        nodes.select(F.col(node_col).alias("node"))
        .join(
            edges.select(F.col("src").alias("node"), F.col("dst").alias("component")),
            on="node", how="left",
        )
        .select("node", F.coalesce("component", F.col("node")).alias("component"))
    )
    return labels.select(F.col("node").alias(node_col), "component")


def simhash_near_dup_pairs(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    bits: int = 60, bands: int = 6, max_hamming: int = 3,
    collapse_identical: bool = True,
    max_bucket_size: int | None = None,
    width_hint: int | None = None,
) -> DataFrame:
    """SimHash near-duplicate pairs — the Hamming-space member of the dedup
    family (exact / MinHash-Jaccard / embedding-cosine / SimHash-Hamming).

    Band-bucket candidate generation + exact Hamming verify:
    the ``bits``-bit simhash splits into ``bands`` equal slices; documents
    sharing ANY slice value become candidates (self-join on (band, slice) —
    hash-partitioned, never all-pairs); candidates keep the pair iff
    bit_count(xor(sim_a, sim_b)) ≤ ``max_hamming``.

    SCALE GUARDS (the self-join's two quadratic degenerations, and what
    kills each):

    1. ``collapse_identical`` (default ON): a boilerplate-heavy corpus puts
       MANY documents on the SAME simhash value — those co-bucket in every
       band, so the raw self-join is Θ(cluster²) per duplicate cluster
       regardless of bits/bands. Collapsing first — one representative
       (min id) per distinct signature, plus a within-group STAR pair
       (rep, member, hamming=0) for every other member — makes that
       Θ(cluster) while preserving the component structure EXACTLY:
       identical-signature members have identical Hamming distance to
       everything, so rep-level cross pairs carry precisely the
       cluster-adjacency the all-pairs output would, and connected
       components over (stars ∪ rep pairs) equal components over the
       uncollapsed output. Pair ROWS differ from the raw all-pairs form
       (m·k cross pairs become one rep pair) — the dedup consumer
       (connected_components → keep-best) is indifferent.
    2. ``max_bucket_size``: many DISTINCT signatures sharing one slice
       value (low-entropy band) would still make a bucket quadratic.
       Over-cap buckets emit STAR candidates instead — every member paired
       with the bucket's min-id representative — exactly the hot-bucket
       rule of ``minhash_lsh_pairs`` / ``embedding_near_dup_pairs``
       (textdedup.py minhash_lsh_pairs is the template). Star candidates
       still pass the Hamming verify, so the radius contract holds; the
       trade (as in the siblings) is possible missed member-member pairs
       inside an over-cap bucket. None = exact candidates.

    EXACTNESS (pigeonhole): with ``bands > max_hamming`` and no bucket cap,
    any pair within the Hamming radius differs in ≤ max_hamming bits, which
    cannot touch all ``bands`` slices — so at least one slice matches and
    the pair IS a candidate: the result is EXACTLY the within-radius pair
    set (at signature-cluster granularity when collapsing). A plain SQL
    oracle reproduces it bit-for-bit (integer simhash, xor, bit_count,
    group-by-signature identical across engines).

    Defaults: bits=60 (the md5-int60 ceiling — 60 independent bits keeps
    duplicate-signature collisions rare on real corpora; 16 was 64 total
    slice values across 4 bands, a guaranteed blowup), bands=6 → 10-bit
    slices (1024 values per band) and pigeonhole-complete for radius ≤ 5."""
    if bits % bands != 0:
        raise ValueError(f"bits={bits} must divide into bands={bands}")
    width = bits // bands
    mask = (1 << width) - 1
    sig = simhash64(docs, text_col, id_col, bits, width_hint).localCheckpoint()

    within = None
    base = sig
    if collapse_identical:
        # localCheckpoint the collapse aggregate: `base` feeds one slice
        # scan per band on BOTH sides of the candidate self-join (plus the
        # within-group stars), so an unmaterialized groupBy would re-run
        # the full signature aggregation 2×bands+1 times — measured as
        # 2×bands HashAggregate+Exchange subtrees in the sf0.1 plan. One
        # row per distinct signature: tiny at any scale.
        groups = sig.groupBy("simhash").agg(
            F.min(id_col).alias("__rep"), F.count("*").alias("__n")
        ).localCheckpoint()
        within = (
            sig.join(
                groups.filter(F.col("__n") > 1).select("simhash", "__rep"),
                on="simhash",
            )
            .filter(F.col(id_col) != F.col("__rep"))
            .select(
                F.col("__rep").alias("id_a"),
                F.col(id_col).alias("id_b"),
                F.lit(0).cast("long").alias("hamming"),
            )
        )
        base = groups.select(F.col("__rep").alias(id_col), "simhash")

    slices = []
    for b in range(bands):
        slices.append(
            base.select(
                F.col(id_col), F.col("simhash"),
                F.lit(b).alias("band"),
                F.shiftright(F.col("simhash"), b * width).bitwiseAND(F.lit(mask)).alias("slice"),
            )
        )
    exploded = slices[0]
    for s in slices[1:]:
        exploded = exploded.unionByName(s)

    if max_bucket_size is not None:
        stats = exploded.groupBy("band", "slice").agg(
            F.count("*").alias("__n"),
            # min by id, carrying the rep's simhash for the star verify
            F.min(F.struct(F.col(id_col).alias("i"), F.col("simhash").alias("s"))).alias("__rep"),
        )
        tagged = exploded.join(stats, on=["band", "slice"])
        small = tagged.filter(F.col("__n") <= max_bucket_size)
        a = small.select(
            F.col(id_col).alias("id_a"), F.col("simhash").alias("__sa"), "band", "slice"
        )
        b_ = small.select(
            F.col(id_col).alias("id_b"), F.col("simhash").alias("__sb"), "band", "slice"
        )
        cand = (
            a.join(b_, on=["band", "slice"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "__sa", "__sb")
        )
        star = (
            tagged.filter(
                (F.col("__n") > max_bucket_size) & (F.col(id_col) != F.col("__rep.i"))
            )
            .select(
                F.col("__rep.i").alias("id_a"), F.col(id_col).alias("id_b"),
                F.col("__rep.s").alias("__sa"), F.col("simhash").alias("__sb"),
            )
        )
        cand = cand.unionByName(star)
    else:
        a = exploded.select(
            F.col(id_col).alias("id_a"), F.col("simhash").alias("__sa"), "band", "slice"
        )
        b_ = exploded.select(
            F.col(id_col).alias("id_b"), F.col("simhash").alias("__sb"), "band", "slice"
        )
        cand = (
            a.join(b_, on=["band", "slice"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "__sa", "__sb")
        )

    ham = F.bit_count(F.col("__sa").bitwiseXOR(F.col("__sb")))
    out = (
        cand.withColumn("hamming", ham.cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )
    if within is not None:
        # disjoint by construction: cross/star pairs join DISTINCT
        # signatures (hamming ≥ 1), within pairs are hamming 0
        out = out.unionByName(within)
    return out
