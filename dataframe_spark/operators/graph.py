"""Distributed connected components + corpus-level dedup.

Near-dup PAIR queries (operators/dedup.py) answer "which documents
overlap"; an actual cleaning pipeline must then pick one survivor
per duplicate CLUSTER — i.e. connected components over the pair
graph. A driver-side union-find would need every edge on the driver;
instead this is the alternating large-star/small-star contraction
(Kiveris et al., "Connected Components in MapReduce and Beyond",
SOCC'14): O(log n) rounds of pure DataFrame groupBy/join, each
shuffling on node ids, state never leaves the executors.

The loop is driver-side but O(1) per round: one checksum action to
detect convergence, and ``localCheckpoint`` truncates the iterative
lineage (on a production cluster with an HDFS checkpoint dir,
``checkpoint`` is the durable choice — noted in the docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame as SparkDF
from pyspark.sql import functions as F

from ..plans.trace import stage


# pagerank broadcasts its per-node sides (outdeg, ranks) while
# n_nodes x ~24 B per (node, rank) row of a broadcast hash relation
# stays within this bound
RANKS_BROADCAST_MAX_BYTES = 128 * 1024 * 1024


def _symmetrize(e: SparkDF) -> SparkDF:
    return e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))


def _large_star(e: SparkDF) -> SparkDF:
    """Every neighbor v > u attaches to u's min-neighborhood node."""
    und = _symmetrize(e)
    mins = (
        und.groupBy("u")
        .agg(F.min("v").alias("__mv"))
        .select("u", F.least(F.col("__mv"), F.col("u")).alias("m"))
    )
    return (
        und.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: SparkDF) -> SparkDF:
    """Neighbors on the small side (v <= u) re-attach to the min."""
    d = e.select(
        F.greatest(F.col("u"), F.col("v")).alias("u"),
        F.least(F.col("u"), F.col("v")).alias("v"),
    )
    mins = d.groupBy("u").agg(F.min("v").alias("m"))
    moved = d.join(mins, "u").select(F.col("v").alias("u"), F.col("m").alias("v"))
    self_edges = mins.select(F.col("u"), F.col("m").alias("v"))
    return (
        moved.union(self_edges)
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components(
    edges: SparkDF,
    src: str = "a_id",
    dst: str = "b_id",
    max_iter: int = 25,
) -> SparkDF:
    """(node, component) for every node appearing in ``edges``;
    component = smallest node id in the component.

    Converges in O(log n) alternating-star rounds independent of
    graph diameter (a min-label propagation would need diameter
    rounds). Each round is two groupBy+join stages; the only driver
    data is a (count, hash-sum) convergence checksum."""
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    prev = None
    for _ in range(max_iter):
        e = _small_star(_large_star(e)).localCheckpoint(eager=True)
        chk = e.agg(
            F.count(F.lit(1)).alias("n"),
            # pmod before summing: raw xxhash64 sums overflow int64
            # (an ANSI-mode session turns that into a hard error);
            # 2^30-bounded terms keep the sum exact to ~8e9 edges
            F.sum(
                F.pmod(
                    F.xxhash64(F.least("u", "v"), F.greatest("u", "v")),
                    F.lit(1 << 30),
                )
            ).alias("h"),
        ).first()
        cur = (chk["n"], chk["h"])
        if cur == prev:
            break
        prev = cur
    und = _symmetrize(e)
    comps = (
        und.groupBy("u")
        .agg(F.min("v").alias("__mv"))
        .select(
            F.col("u").alias("node"),
            F.least(F.col("__mv"), F.col("u")).alias("component"),
        )
    )
    # contract: EVERY node appearing in edges gets a row — a node
    # whose only edges are self-loops vanishes from the contraction
    # input (u != v filter) and must come back as its own singleton
    # component (review r5)
    nodes = (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    return nodes.join(comps, "node", "left").select(
        "node", F.coalesce("component", F.col("node")).alias("component")
    )


def dedup_corpus(
    df: SparkDF,
    id_col: str,
    pairs: SparkDF,
    a_col: str = "a_id",
    b_col: str = "b_id",
) -> SparkDF:
    """Keep one document per duplicate cluster (the smallest id —
    deterministic), given a near-dup pair table from any of the
    operators/dedup.py generators. Anti-join of the non-canonical
    cluster members: documents outside any pair survive untouched."""
    comp = connected_components(pairs, a_col, b_col)
    losers = comp.where(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def pagerank(
    edges: SparkDF,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    iters: int = 10,
    symmetrize: bool = False,
    assume_unique: bool = False,
) -> SparkDF:
    """Fixed-iteration PageRank (Page et al. 1999 power iteration)
    over an edge list — centrality scoring for graph-shaped corpus
    signals (run it over the symmetrized near-dup similarity graph
    and the rank measures how REPRESENTATIVE a document is of its
    neighborhood; over a link graph it is the classic web-quality
    prior, e.g. the Common Crawl URL-importance filter).

    Returns (node, rank) for every node appearing in ``edges``,
    ranks summing to ~1 when no node lacks out-edges. Dangling-mass
    redistribution is deliberately NOT implemented: with
    ``symmetrize=True`` (an undirected similarity graph — every node
    has out-degree = in-degree >= 1) no dangling nodes exist, and a
    directed input with dangling nodes raises rather than silently
    leaking rank mass.

    Plan: each of the ``iters`` rounds is ONE contribution join
    (edges × ranks) + ONE dst-keyed sum with map-side partials; rank
    state stays executor-side (node-sized), lineage truncated per
    round with localCheckpoint exactly like connected_components.
    The only driver scalars are the node count and the dangling
    check.

    The ranks side of the contribution join BROADCASTS when the
    node count fits the engine's 128 MB knee (r11): n is already a
    driver scalar, so the gate costs nothing, and a broadcast turns
    every iteration into map-side join → partial agg → one
    partials-sized exchange — the edge table never shuffles after
    its initial checkpoint. At the 1000x vectors cert (512 M
    symmetrized edges, 2 M nodes) the ungated shuffle-hash join's
    per-iteration build maps plus 32 concurrent partial-agg maps
    exhausted the unified pool (AGGREGATE_OUT_OF_MEMORY mid-sweep);
    the broadcast shape removes the join buildup entirely. Beyond
    the knee (>~5 M nodes) the shuffle join stands — on a real
    cluster that regime has aggregate memory to match.

    The call runs its jobs eagerly, as the steps ``pagerank:setup``
    (edge distinct + cache fill + node/outdeg/dangling jobs) and
    ``pagerank:iter<i>`` (each power iteration ends in an EAGER
    localCheckpoint), so a super-linear end-to-end wall can be
    attributed to iteration drift or to one-time setup from Spark's
    own job records (``plans.trace``).

    ``assume_unique`` (r12): the caller attests the edge list holds
    each (src, dst) row AT MOST ONCE — and, with ``symmetrize=True``,
    at most ONE ORIENTATION per undirected pair (both (a,b) and
    (b,a) present would collide after the swap-union; the default
    path's distinct absorbs that, this flag does not).
    The setup's edge ``distinct`` then collapses nothing, so it is
    skipped together with its byte-sized repartition — removing the
    one edge-scale exchange in the whole operator (the r12 1000x
    profile put setup at 130-146 s of a ~300 s wall at 512 M edges,
    dominated by that distinct's 8+ GB shuffle). Both in-repo edge
    producers qualify by construction: cosine_pairs and
    bucketed_cosine_pairs emit every unordered pair from exactly one
    tile/batch. Duplicate edges under this flag double-count
    contributions — that is the attestation, not a checked
    precondition (checking would cost the very shuffle this skips)."""
    if not 0.0 < damping < 1.0:
        raise ValueError(f"damping must be in (0, 1), got {damping}")
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).where(
        F.col("u") != F.col("v")
    )
    if symmetrize:
        e = _symmetrize(e)
    # The edge distinct is the one aggregation here whose key count
    # equals its ROW count (nothing collapses), so per-task hash maps
    # scale with rows/partitions — at the 1000x vectors cert (512 M
    # symmetrized edges) the session's 32 shuffle partitions meant
    # 16 M-key maps x 32 concurrent tasks, which exhausted the
    # unified pool (AGGREGATE_OUT_OF_MEMORY) before the sort
    # fallback could even allocate. Size the exchange by plan bytes
    # (~64 MB of edge pairs per partition) and hash-partition on the
    # distinct key itself, so the aggregate runs as one complete
    # per-partition pass with a bounded map and no second exchange.
    from ..plans.cache import try_persist
    from ..plans.stats import plan_size_bytes

    sc = edges.sparkSession.sparkContext
    # Trust the byte estimate only when it is scan-backed and
    # plausible (r12, ADVICE r11 #2): under Spark Connect
    # plan_size_bytes returns its LARGE fallback, and Catalyst's
    # estimate for applyInPandas-derived edge plans (e.g. a
    # bucketed_cosine_pairs output fed straight in) is garbage-huge —
    # either would pin npart at the 4096 cap, and an explicit
    # repartition count disables AQE coalescing, so every iteration
    # of a SMALL graph would pay ~4096 tasks of pure scheduling. One
    # TiB of edge pairs is far beyond anything a single plan here
    # ships; past that bound the estimate is noise, not a size.
    if not assume_unique:
        est = plan_size_bytes(e)
        if est >= (1 << 40):
            npart = sc.defaultParallelism
        else:
            npart = max(
                sc.defaultParallelism,
                min(4096, int(est // (64 << 20)) + 1),
            )
    # The STATIC edge table is SQL-cached, not localCheckpoint'ed
    # (r11): checkpoint blocks hold deserialized row objects, and at
    # 512 M edges the block manager's re-promotion of spilled blocks
    # back into memory as values (maybeCacheDiskValuesInMemory) blew
    # the heap outright. The SQL cache stores compressed columnar
    # batches — ~16 B/edge instead of object rows — and evicts to
    # disk cleanly. e's lineage is short and static, so plan
    # truncation (localCheckpoint's actual job) buys nothing here;
    # the iterating RANK state below keeps localCheckpoint, where
    # unbounded lineage growth is the real risk and the frame is
    # node-sized. One eager count materializes the cache before two
    # consumers (the nodes union) race to build it.
    if assume_unique:
        # no distinct, no exchange: cache the (symmetrized) scan
        # as-is; only guard against a degenerate few-split source
        # starving the per-iteration scans of parallelism
        try:
            planned = e.rdd.getNumPartitions()
        except Exception:  # Spark Connect: no rdd accessor
            planned = None
        if planned is not None and planned < sc.defaultParallelism // 2:
            e = e.repartition(sc.defaultParallelism)
        e = try_persist(e)
    else:
        e = try_persist(e.repartition(npart, "u", "v").distinct())
    with stage("pagerank", "setup"):
        e.count()
        # outdeg is node-sized and consumed by the dangling check plus
        # every iteration (each would otherwise re-aggregate the full
        # edge cache) — persist it up front
        outdeg = try_persist(
            e.groupBy("u").agg(F.count(F.lit(1)).alias("__od"))
        )
        if symmetrize:
            # after symmetrization every node appears as a SOURCE, so
            # the node set IS outdeg's key column and dangling nodes are
            # impossible by construction (r12): deriving nodes here
            # skips a union-distinct over 2x|edges| rows plus the
            # anti-join dangling count — the r12 1000x profile put
            # pagerank setup at 130-146 s of a ~300 s wall, and these
            # two jobs were the post-distinct share of it
            nodes = outdeg.select(F.col("u").alias("node")).localCheckpoint(
                eager=True
            )
            n = nodes.count()
            if n == 0:
                return nodes.select("node", F.lit(0.0).alias("rank"))
        else:
            nodes = (
                e.select(F.col("u").alias("node"))
                .union(e.select(F.col("v").alias("node")))
                .distinct()
                .localCheckpoint(eager=True)
            )
            n = nodes.count()
            if n == 0:
                return nodes.select("node", F.lit(0.0).alias("rank"))
            n_dangling = nodes.join(
                outdeg, nodes["node"] == outdeg["u"], "left_anti"
            ).count()
            if n_dangling:
                raise ValueError(
                    f"pagerank: {n_dangling} nodes have no out-edges; pass "
                    "symmetrize=True or complete the graph first"
                )
    # broadcast outdeg under the same node gate as the ranks — with
    # both sides broadcast, an iteration is one columnar scan of the
    # cached edges + two map-side joins + partial agg + one
    # partials-sized exchange: no edge-sized shuffle anywhere
    base = (1.0 - damping) / n
    bcast_ranks = n * 24 <= RANKS_BROADCAST_MAX_BYTES
    contrib_src = e.join(
        F.broadcast(outdeg) if bcast_ranks else outdeg, "u"
    )
    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    for it in range(iters):
        rside = F.broadcast(ranks) if bcast_ranks else ranks
        sums = (
            contrib_src.join(rside, contrib_src["u"] == rside["node"])
            .select("v", (F.col("rank") / F.col("__od")).alias("__c"))
            .groupBy("v")
            .agg(F.sum("__c").alias("__m"))
        )
        ranks = nodes.join(sums, nodes["node"] == sums["v"], "left").select(
            "node",
            (
                F.lit(base)
                + F.lit(damping) * F.coalesce(F.col("__m"), F.lit(0.0))
            ).alias("rank"),
        )
        with stage("pagerank", f"iter{it + 1}"):
            ranks = ranks.localCheckpoint(eager=True)
    # ranks is EAGERLY checkpointed, so the working caches have no
    # remaining consumer — release them instead of leaking to LRU
    from ..plans.cache import try_unpersist

    try_unpersist(e)
    try_unpersist(outdeg)
    return ranks
