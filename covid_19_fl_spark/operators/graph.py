"""Iterative graph analytics as distributed DataFrame plans.

Companions to llmops.dedup.dup_clusters (min-label connected
components): here the iteration carries *values* (PageRank mass), not
just labels. Same scale posture — each round is one equi-join plus one
partial-aggregated groupBy (both map-side combinable), and
``localCheckpoint`` truncates lineage so round N never replays rounds
1..N-1.

Determinism design: the rank update runs in **integer fixed-point**
(bigint millionths-of-millionths, scale 1e12) with floor division —
no float summation anywhere. Floating-point Σ over incoming edges is
order-dependent, so a distributed rerun (or a different engine) can
drift in the last ulp and flip a rounding boundary; int64 arithmetic
is associative, which makes the result bit-identical across partition
counts, reruns, AND engines — the DuckDB oracle unrolls the same
iterations and must match exactly. Same reproducibility contract as
the portable MinHash family (llmops.dedup.PORTABLE_PRIME).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..llmops.dedup import min_root_labels

# Fixed-point scale: ranks are bigint multiples of 1e-12. Total mass =
# SCALE (±floor-division dust), so per-node ranks for graphs up to
# ~1e6 nodes keep ≥6 significant digits; products stay < 2^62.
PR_SCALE = 1_000_000_000_000


def pagerank(
    edges: DataFrame,
    iterations: int = 5,
    damping_pct: int = 85,
    checkpoint_every: int = 8,
    pin: StorageLevel = StorageLevel.DISK_ONLY,
) -> DataFrame:
    """Deterministic fixed-point PageRank → (node_id, pr) with pr an
    exact bigint in units of 1/PR_SCALE.

    ``edges`` must have (src, dst) bigint columns; nodes are the
    distinct endpoint set. Simplified update (dangling mass is not
    redistributed — dangling nodes only leak through the damping
    term, the standard simplification):

        pr_{t+1}(v) = teleport + damping_pct% * Σ_{u→v} pr_t(u) div out(u)

    with teleport = (100-damping_pct)% of SCALE div N, all in floor
    (integer) division. Each iteration: equi-join of the edge list
    with the current rank vector on src, then a partial-agg sum on
    dst. Unlike label propagation there is NO per-round driver
    decision, so rounds chain as ONE lazy DAG — a single job at
    action time, with AQE free to broadcast the (N-row) rank vector
    into the edge join every round. ``checkpoint_every`` bounds plan
    depth for high iteration counts (a lazy localCheckpoint truncates
    lineage without forcing an extra job per round).
    """
    # Materialize the raw edge list ONCE (round 10): out_deg, the adj
    # join, and the two node-set union legs each referenced ``edges``
    # — 4 re-runs of the caller's build (orders⋈lineitem + distinct)
    # before the adj checkpoint ever existed. ``pin`` picks the level:
    # DISK_ONLY at data-sized corpora (the 100× sweep OOM'd with the
    # memory-resident cache starving the per-round SMJ/agg buffers:
    # crash at 16 g → 146.8 s on disk), MEMORY_AND_DISK below —
    # measured faster at sf0.1 (r11 A/B; callers derive it from
    # corpus size via tables.data_pin_level, VERDICT r10 ask #5).
    edges = edges.localCheckpoint(eager=False, storageLevel=pin)
    out_deg = edges.groupBy("src").agg(F.count("*").alias("out"))
    # Edge list annotated with out-degree once, outside the loop — at
    # scale this is the expensive self-sized join, paid a single time.
    adj = edges.join(out_deg, "src").localCheckpoint(
        eager=False, storageLevel=pin
    )

    nodes = (
        edges.select(F.col("src").alias("node_id"))
        .union(edges.select(F.col("dst").alias("node_id")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n = nodes.count()
    init = PR_SCALE // n
    teleport = (PR_SCALE * (100 - damping_pct) // 100) // n

    # Lazy-only plan building in the loop: attribute access (adj.src)
    # and withColumnRenamed both force eager analysis of the round's
    # full plan JVM-side, making the loop O(iterations²) in driver
    # analysis work (measured: ~5 s of the query's wall-clock at 5
    # rounds, 30× the actual execution). String-keyed joins + select
    # aliases are pure plan appends — analysis runs once, at action
    # time.
    ranks = nodes.withColumn("pr", F.lit(init).cast("long"))
    for i in range(iterations):
        contrib = (
            adj.join(ranks.select(F.col("node_id").alias("src"), "pr"), "src")
            # `div`, not `/`: float division + cast would round-trip
            # through double (where e.g. X/100 of an exactly-divisible
            # X can land at 123.999…) — `div` stays in int64
            .select(F.col("dst"), F.expr("pr div out").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("mass"))
        )
        ranks = (
            nodes.join(
                contrib.select(F.col("dst").alias("node_id"), "mass"),
                ["node_id"],
                "left",
            )
            .select(
                "node_id",
                F.expr(
                    f"{teleport}L + ({damping_pct}L * coalesce(mass, 0L)) div 100"
                ).alias("pr"),
            )
        )
        if (i + 1) % checkpoint_every == 0 and (i + 1) < iterations:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 3,
    damping_pct: int = 85,
    pin: StorageLevel = StorageLevel.DISK_ONLY,
) -> DataFrame:
    """Personalized (seeded) PageRank → (node_id, pr) with pr an exact
    bigint in units of 1/PR_SCALE — the topic-sensitive variant
    (Haveliwala 2002): the teleport vector concentrates on ``seeds``
    (one bigint ``node_id`` column) instead of spreading uniformly, so
    mass stays in the seed set's neighborhood and the result ranks
    nodes BY RELEVANCE TO THE SEEDS:

        pr_{t+1}(v) = [v∈S]·(15%·SCALE div |S|)
                      + damping_pct% · Σ_{u→v} pr_t(u) div out(u)

    All-integer floor arithmetic, same bit-reproducibility contract as
    ``pagerank`` (the oracle unrolls identical rounds). Seeds outside
    the edge set's node domain are dropped. Plan shape per round is
    unchanged — one rank⋈edge equi-join plus one partial-agg sum; the
    seed indicator is a broadcast semi-annotated node column computed
    once, so personalization adds zero shuffles."""
    # Raw edges materialized once; ``pin`` rationale — see pagerank().
    edges = edges.localCheckpoint(eager=False, storageLevel=pin)
    out_deg = edges.groupBy("src").agg(F.count("*").alias("out"))
    adj = edges.join(out_deg, "src").localCheckpoint(
        eager=False, storageLevel=pin
    )
    nodes = (
        edges.select(F.col("src").alias("node_id"))
        .union(edges.select(F.col("dst").alias("node_id")))
        .distinct()
    )
    # seed flag annotated once; |S| is a plan-time scalar (one tiny job)
    flagged = nodes.join(
        seeds.select(F.col("node_id")).distinct().withColumn(
            "is_seed", F.lit(True)
        ),
        ["node_id"],
        "left",
    ).select(
        "node_id", F.coalesce("is_seed", F.lit(False)).alias("is_seed")
    ).localCheckpoint(eager=False)
    n_seeds = flagged.filter("is_seed").count()
    if n_seeds == 0:
        raise ValueError("personalized_pagerank: no seed intersects the graph")
    teleport = (PR_SCALE * (100 - damping_pct) // 100) // n_seeds
    init = PR_SCALE // n_seeds

    ranks = flagged.select(
        "node_id",
        "is_seed",
        F.when(F.col("is_seed"), F.lit(init)).otherwise(F.lit(0))
        .cast("long")
        .alias("pr"),
    )
    for _ in range(iterations):
        contrib = (
            adj.join(ranks.select(F.col("node_id").alias("src"), "pr"), "src")
            .select(F.col("dst"), F.expr("pr div out").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("mass"))
        )
        ranks = (
            flagged.join(
                contrib.select(F.col("dst").alias("node_id"), "mass"),
                ["node_id"],
                "left",
            )
            .select(
                "node_id",
                "is_seed",
                (
                    F.when(F.col("is_seed"), F.lit(teleport))
                    .otherwise(F.lit(0))
                    .cast("long")
                    + F.expr(
                        f"({damping_pct}L * coalesce(mass, 0L)) div 100"
                    )
                ).alias("pr"),
            )
        )
    return ranks.select("node_id", "pr")


def grouped_components(
    edges: DataFrame,
    group_cols: list[str],
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Exact connected components for a graph whose edges NEVER cross
    ``group_cols`` boundaries (a blocked/cellular graph: DBSCAN grid
    cells, per-day sessions, per-tenant graphs). Returns
    ``group_cols + (id, cluster_id)`` with cluster_id = the smallest
    node id in the component — the same min-label fixpoint
    llmops.dedup.dup_clusters converges to, computed without ANY
    global iteration.

    Why this beats iterative propagation when it applies: the group
    key shuffles each cell's edge list to one task (one exchange),
    and a local union-find labels the whole cell in O(E·α(E)) — no
    per-round join, no lineage growth, no convergence budget. This is
    the standard "block-local closure" pattern: when blocking already
    bounds a component to a cell, the transitive closure is
    embarrassingly parallel across cells. At 100 TB the cells are the
    unit of parallelism and each stays density-bounded by
    construction (the same bound that makes the ε-join itself
    feasible), so a cell's edges fitting one task is the SAME
    assumption the candidate generator already made.

    For graphs whose components span arbitrary keys (dedup clusters
    over a whole corpus) this does not apply — use
    llmops.dedup.dup_clusters.
    """
    import pandas as pd  # noqa: F401 — Arrow batch path

    out_fields = ", ".join(
        f"`{c}` {t}"
        for c, t in edges.select(*group_cols).dtypes
    )
    schema = f"{out_fields}, id bigint, cluster_id bigint"

    labels = min_root_labels()

    def cell_cc(pdf):
        ids, roots = labels(zip(pdf[src].tolist(), pdf[dst].tolist()))
        head = pdf.iloc[0]
        out = {c: [head[c]] * len(ids) for c in group_cols}
        out["id"] = ids
        out["cluster_id"] = roots
        return pd.DataFrame(out)

    return (
        edges.select(
            *group_cols,
            F.col(src).cast("long").alias(src),
            F.col(dst).cast("long").alias(dst),
        )
        .groupBy(*group_cols)
        .applyInPandas(cell_cc, schema=schema)
    )


def min_plus_histogram(
    edges: DataFrame, is_source: Column, rounds: int, weight: Column
) -> DataFrame:
    """Multi-source shortest distances by ``rounds`` rounds of min-plus
    (Bellman-Ford) relaxation over the undirected edge list ``edges``
    (u, v, …), each edge costing ``weight`` (a column of ``edges``; a
    literal 1 gives BFS hop counts). Sources are the nodes where
    ``is_source`` (over ``node``) holds. Output is the distance
    histogram (dist, n_nodes), -1 = unreached within ``rounds``.

    Each round joins the broadcast distance table (node-bounded, ≪ the
    edge list) to the adjacency, so the adjacency never crosses an
    exchange; the only shuffle per round is the min-combine agg. At a
    scale where the table outgrows broadcast, drop the hint and
    pre-bucket the adjacency by u; the join key layout is already
    right. Integer weights keep every round exact, and the bounded
    round count makes the oracle a finite CTE unroll.
    """
    adj = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"), *edges.columns[2:])
    ).cache()
    nodes = adj.select(F.col("u").alias("node")).distinct()
    dist = nodes.filter(is_source).select(
        "node", F.lit(0).cast("long").alias("dist")
    )
    for _ in range(rounds):
        frontier = (
            F.broadcast(dist)
            .join(adj, dist["node"] == adj["u"])
            .select(F.col("v").alias("node"), (F.col("dist") + weight).alias("dist"))
        )
        dist = (
            dist.unionByName(frontier)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            # dist appears twice per round (itself + the frontier join);
            # without truncation the relaxation lineage doubles each
            # round and the edge build replays 2^rounds times.
            .localCheckpoint(eager=False)
        )
    return (
        nodes.join(dist, "node", "left")
        .groupBy(F.coalesce(F.col("dist"), F.lit(-1)).alias("dist"))
        .agg(F.count("*").alias("n_nodes"))
    )


def kcore(edges: DataFrame, k: int, max_rounds: int = 12) -> DataFrame:
    """Exact k-core decomposition by iterative peeling: repeatedly
    drop every vertex whose degree (in the surviving subgraph) is
    below ``k`` until a fixpoint. Input ``edges`` is an undirected
    edge list as (id_a, id_b) pairs with id_a < id_b; output is one
    row per surviving vertex: (id, core_degree) — its degree INSIDE
    the k-core.

    Each round is one symmetric-degree groupBy (map-side combinable)
    plus two semi-joins filtering the edge list — all hash-partitioned
    on vertex id, no global structure. ``localCheckpoint(eager=False)``
    per round truncates lineage (the edge frame is referenced twice
    per round, so un-truncated lineage doubles every round). The peel
    count is data-bounded — each round removes at least one vertex or
    stops — and the loop RAISES if ``max_rounds`` is hit before the
    fixpoint rather than returning a silently-partial core (the
    dup_clusters discipline: callers pick max_rounds from measured
    peel depth, the assert makes violations loud).
    """
    # Degrees are COUNT(*) over the edge list, so duplicate (u, v)
    # rows would silently inflate degrees and change which vertices
    # survive the peel — enforce the distinct-edges precondition here
    # instead of trusting every caller (a no-op shuffle-dedup when the
    # input is already distinct).
    e = (
        edges.select(
            F.col(edges.columns[0]).cast("long").alias("u"),
            F.col(edges.columns[1]).cast("long").alias("v"),
        )
        .dropDuplicates(["u", "v"])
        # MEMORY_AND_DISK (default) is deliberate here, unlike the
        # pagerank/ppr adj pin: the peel's edge generations SHRINK
        # every round and the ContextCleaner retires each superseded
        # checkpoint as the loop reassigns `e` — gate-proven at 100×
        # (52.8s, no memory pressure), while per-round DISK_ONLY
        # measured 1.7× slower at sf0.1 (2.9s → 5.0s).
        .localCheckpoint(eager=False)
    )
    # Round 10: carry the surviving-edge count across rounds — round
    # r's pre-peel count IS round r-1's post-peel count, so one count
    # job per round suffices (was two: a re-count of the unchanged
    # checkpoint plus the new frame's count).
    n_edges = None
    for _ in range(max_rounds):
        deg = (
            e.select(F.col("u").alias("id"))
            .unionAll(e.select(F.col("v").alias("id")))
            .groupBy("id")
            .agg(F.count("*").alias("deg"))
        )
        keep = deg.filter(F.col("deg") >= k).select("id")
        if n_edges is None:
            n_edges = e.count()
        e2 = (
            e.join(keep.withColumnRenamed("id", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("id", "v"), "v", "left_semi")
            .select("u", "v")
            .localCheckpoint(eager=False)
        )
        n2 = e2.count()
        if n2 == n_edges:
            return (
                e2.select(F.col("u").alias("id"))
                .unionAll(e2.select(F.col("v").alias("id")))
                .groupBy("id")
                .agg(F.count("*").cast("long").alias("core_degree"))
                .filter(F.col("core_degree") >= k)
            )
        e, n_edges = e2, n2
    raise RuntimeError(
        f"kcore: no fixpoint within {max_rounds} peeling rounds — "
        "raise max_rounds (measured depth grew past the configured "
        "bound; a silent partial core would corrupt the result)"
    )


def ra_link_scores(edges: DataFrame) -> DataFrame:
    """Common-neighbor / resource-allocation link-prediction scores →
    ``(u, w, cn, ra)`` for every NON-adjacent pair with at least one
    common neighbor, ``u < w``; ``cn`` the common-neighbor count and
    ``ra = round(Σ_z 1/deg(z), 6)`` folded over the pair's SORTED
    degree list so the 6dp round is bit-identical cross-engine.

    ``edges`` must be the undirected deduplicated edge list (u < v).
    It is consumed twice (adjacency build + the non-adjacency probe) —
    callers should hand in a cached/checkpointed frame.

    Plan shape (round 11): the round-10 neighbor-array generate was
    plan-prettier (one |V|-row exchange) but measured SLOWER everywhere
    (builder iso 6.10→6.46 s, driver in-suite 3.66→8.60 s): for a
    degree-d center, posexplode copies the full d-element array into
    each of its d output rows and ``slice`` copies a suffix per row —
    O(d²) interpreted array-copy work per vertex in the scan stage —
    and a hot vertex's deg² pairs all explode from ONE row in ONE task,
    which AQE skew-splitting cannot divide. Round 11 restores the
    codegen'd wedge equi-join (whose skewed partitions AQE CAN split)
    and keeps the one real round-10 win: the center degree is attached
    to the 2|E|-row adjacency BEFORE the wedge join, so the former
    wedge-sized degree join is now an |E|-sized one. The adjacency
    anti-join stays on the RAW wedge stream, BEFORE the (u, w)
    aggregation — measured 4× faster than probing the aggregate at
    sf0.1 (13.6 s → see ledger): in a co-occurrence graph most wedges
    close into triangles, so the early anti-join (a broadcast probe of
    the |E|-row edge set) prunes the bulk of the stream before the
    collect_list aggregation ever buffers it. At a scale where the
    edge set outgrows the broadcast threshold, flip the order (probe
    the aggregate: |pairs| rows instead of |wedges|) or pre-filter
    with a Bloom filter over edge keys — guide §3.2."""
    adj = edges.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        edges.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    # Explicit broadcast hints (guide §3.1): edges sits behind a
    # join+distinct, so the planner's size estimate is garbage and the
    # static plan picks SortMergeJoin everywhere — shuffling AND
    # sorting the wedge stream for the anti-join. Measured at sf0.1:
    # no hints 10.4 s, deg+probe hinted 4.2 s. deg is |V| rows (tiny at
    # any scale); probe is the |E|-row edge key set the caller already
    # caches — far under the broadcast cap through the 100× sweep. At
    # a scale where |E| outgrows broadcast, drop the probe hint (SMJ
    # anti) or Bloom-pre-filter the wedge stream (guide §3.2).
    deg = F.broadcast(adj.groupBy("a").agg(F.count("*").alias("d")))
    # Wedge (u, z, w): u—z and z—w edges with u < w. The center side
    # carries deg(z) along (one 2|E|-row join, not a |wedge|-row one).
    left = adj.select(F.col("a").alias("u"), F.col("b").alias("z"))
    right = adj.join(deg, "a").select(
        F.col("a").alias("zz"), F.col("b").alias("w"), F.col("d").cast("double").alias("d")
    )
    wedge = (
        left.join(right, F.col("z") == F.col("zz"))
        .filter(F.col("u") < F.col("w"))
        .select("u", "w", "d")
    )
    probe = F.broadcast(edges.select(F.col("u").alias("eu"), F.col("v").alias("ev")))
    nonadj = wedge.join(
        probe,
        (F.col("u") == F.col("eu")) & (F.col("w") == F.col("ev")),
        "left_anti",
    )
    return (
        nonadj.groupBy("u", "w")
        .agg(
            F.count("*").alias("cn"),
            F.sort_array(F.collect_list("d")).alias("ds"),
        )
        .select(
            "u",
            "w",
            "cn",
            F.round(
                F.aggregate(
                    "ds", F.lit(0.0), lambda acc, x: acc + F.lit(1.0) / x
                ),
                6,
            ).alias("ra"),
        )
    )


# HITS fixed-point scale. Smaller than PR_SCALE because the
# max-normalized update multiplies a pre-normalization sum (bounded by
# max_in_degree * HITS_SCALE) by HITS_SCALE before the floor division:
# the product must stay < 2^62, which holds for graphs with max degree
# < ~4.6e6 — documented headroom, raise by lowering the scale if a
# denser graph ever needs it.
HITS_SCALE = 1_000_000


def hits(
    edges: DataFrame,
    iterations: int = 3,
    pin: StorageLevel = StorageLevel.DISK_ONLY,
) -> DataFrame:
    """Deterministic fixed-point HITS (Kleinberg hubs/authorities) →
    ``(node_id, role, score)`` with ``role`` in {'hub','auth'} and
    ``score`` an exact bigint in units of 1/HITS_SCALE, max-normalized
    to HITS_SCALE each half-step.

    ``edges`` must have (src, dst) bigint columns, deduplicated —
    like :func:`kcore`, duplicate edges would silently inflate the
    mutual reinforcement. Update, all in int64 floor division (same
    cross-engine bit-reproducibility contract as :func:`pagerank`):

        auth_t(v) = (Σ_{u→v} hub_{t-1}(u)) * SCALE div max_v(Σ ...)
        hub_t(u)  = (Σ_{u→v} auth_t(v))    * SCALE div max_u(Σ ...)

    Each half-step is one equi-join of the edge list with the current
    score vector plus a partial-aggregated groupBy; the normalizer is
    a broadcast 1-row scalar (crossJoin of an agg), so the rounds
    chain as one lazy DAG and AQE broadcasts the (N-row) score vector
    into the edge join. Hub scores exist for every source node, auth
    scores for every destination node — on a bipartite graph the two
    ID spaces never collide.
    """
    if iterations < 1:
        raise ValueError("hits: iterations must be >= 1 (auth scores only "
                         "exist after the first half-step)")
    # Materialize the edge list ONCE (round 10): hits references
    # ``edges`` 2×/iteration plus the hub init — 7 references at 3
    # iterations, and callers pass an expensive build (orders⋈lineitem
    # + distinct), so un-truncated lineage re-ran that join/dedup 7
    # times per action. ``pin`` rationale — see pagerank().
    edges = edges.localCheckpoint(eager=False, storageLevel=pin)
    hubs = (
        edges.select("src")
        .distinct()
        .select("src", F.lit(HITS_SCALE).cast("long").alias("hub"))
        .localCheckpoint(eager=False)
    )
    auths = None
    for t in range(iterations):
        apre = (
            edges.join(hubs, "src")
            .groupBy("dst")
            .agg(F.sum("hub").alias("pre"))
        )
        amax = apre.agg(F.max("pre").alias("mx"))
        auths = apre.crossJoin(F.broadcast(amax)).select(
            "dst", F.expr(f"(pre * {HITS_SCALE}L) div mx").alias("auth")
        )
        hpre = (
            edges.join(auths, "dst")
            .groupBy("src")
            .agg(F.sum("auth").alias("pre"))
        )
        hmax = hpre.agg(F.max("pre").alias("mx"))
        hubs = hpre.crossJoin(F.broadcast(hmax)).select(
            "src", F.expr(f"(pre * {HITS_SCALE}L) div mx").alias("hub")
        )
        if t + 1 < iterations:
            # auths needs no checkpoint: each round's auth vector is
            # consumed immediately, and the final one's lineage stops
            # at the previous round's checkpointed hub vector.
            hubs = hubs.localCheckpoint(eager=False)
    return (
        hubs.select(
            F.col("src").alias("node_id"),
            F.lit("hub").alias("role"),
            F.col("hub").alias("score"),
        ).unionByName(
            auths.select(
                F.col("dst").alias("node_id"),
                F.lit("auth").alias("role"),
                F.col("auth").alias("score"),
            )
        )
    )
