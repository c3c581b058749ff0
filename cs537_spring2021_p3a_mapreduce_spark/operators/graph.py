"""Iterative graph operators: connected components over near-dup
pairs — the step that turns pairwise dedup output (a_id, b_id) into
per-document cluster assignments so a pipeline can keep ONE document
per duplicate cluster. The reference has nothing iterative (its
engine is one map+reduce pass, mapreduce.c:141-253); this is part of
the mandated LLM-pipeline capability extension.

Scale shape: min-label propagation as a DataFrame loop. Each
iteration is one equi-join (labels ⋈ edges) + one min-aggregate —
both shuffle on vertex id, so a 100 TB edge set runs exactly like
any other keyed join; convergence takes O(component diameter)
iterations, and near-dup clusters are shallow (diameter ≤ a few
hops), not social-graph deep. ``localCheckpoint`` truncates the plan
lineage each round — without it the logical plan doubles per
iteration and Catalyst analysis time explodes long before the data
does. For adversarially deep graphs the large-star/small-star
algorithm (Kiveris et al., "Connected Components in MapReduce and
Beyond", SoCC'14) converges in O(log² n) rounds with the same
join-agg per round — implemented here as
``connected_components_star`` and property-tested against
union-find, including a 120-hop path where plain propagation would
need ~120 shuffles. ``connected_components`` AUTO-ESCALATES to star
contraction when its propagation budget is exhausted, so
``dedup_clusters`` pays the cheap loop on its (shallow) near-dup
clusters yet still terminates on adversarially deep pair graphs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..session import track_persist
from .dedup import dedup_minhash

CC_MAX_ITER = 25


def connected_components(
    edges: DataFrame, src: str, dst: str, max_iter: int = CC_MAX_ITER
) -> DataFrame:
    """(vertex, component) for every vertex in ``edges``; component
    id is the smallest vertex id reachable via undirected edges.

    Pure DataFrame iteration: labels start as identity; each round
    every vertex takes min(own label, neighbors' labels); fixpoint
    when no label changes. The changed-label count rides the round's
    ONE materializing action (an Observation on the localCheckpoint
    job) — the driver only ever sees a scalar, never the data, and
    pays no second per-round job for the convergence check.

    If the component diameter exceeds ``max_iter`` (propagation
    needs O(diameter) rounds), the loop AUTO-ESCALATES to
    large-star/small-star contraction (O(log² n) rounds regardless
    of diameter) instead of raising — shallow near-dup graphs pay
    only the cheap loop, adversarially deep ones still terminate.
    """
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    e = (
        e.unionByName(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
        .distinct()
        .localCheckpoint()  # edges reused every iteration: cut the
        # upstream plan (LSH pipelines are deep) and materialize once
    )
    labels = (
        e.select(F.col("s").alias("v")).distinct().withColumn("lbl", F.col("v"))
    ).localCheckpoint()

    from pyspark.sql import Observation

    for _ in range(max_iter):
        nbr_min = (
            e.join(labels, e["d"] == labels["v"])
            .groupBy("s")
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        obs = Observation()
        stepped = (
            labels.join(nbr_min, labels["v"] == nbr_min["s"], "left")
            .select(
                "v",
                F.least(F.col("lbl"), F.coalesce("nbr_lbl", "lbl")).alias(
                    "lbl"
                ),
                (
                    F.least(F.col("lbl"), F.coalesce("nbr_lbl", "lbl"))
                    != F.col("lbl")
                ).alias("changed"),
            )
            .observe(
                obs,
                F.coalesce(
                    F.sum(F.col("changed").cast("long")), F.lit(0)
                ).alias("n_changed"),
            )
        ).localCheckpoint()
        labels = stepped.select("v", "lbl")
        if obs.get["n_changed"] == 0:
            return labels
    # diameter > max_iter: escalate to star contraction. Star runs on
    # the ORIGINAL edges unioned with the v→lbl shortcut edges the
    # loop already earned — the shortcuts alone can split a component
    # (two adjacent vertices may have propagated disjoint minima), so
    # the originals guarantee correctness and the shortcuts only
    # accelerate contraction.
    shortcuts = labels.where(F.col("v") != F.col("lbl")).select(
        F.col("v").alias("s"), F.col("lbl").alias("d")
    )
    comp = connected_components_star(e.unionByName(shortcuts), "s", "d")
    # star drops self-loop-only vertices (no distinct neighbor ⇒ own
    # component); re-attach them so the vertex set matches the loop's
    singletons = (
        labels.select("v")
        .exceptAll(comp.select("v"))
        .withColumn("lbl", F.col("v"))
    )
    return comp.unionByName(singletons)


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: MinHash-LSH verified pairs → connected
    components → (doc_id, cluster_id) with cluster_id = min doc in
    the component (the canonical "keeper"). Oracle: the same exact
    shingle-Jaccard pair set (proved equal to the LSH output by
    ``dedup_minhash_verify``) closed under a recursive CTE.

    Output: doc_id, cluster_id, is_keeper.
    """
    pairs = dedup_minhash(spark, sf_dir)
    comp = connected_components(pairs, "a_id", "b_id")
    return comp.select(
        F.col("v").alias("doc_id"),
        F.col("lbl").alias("cluster_id"),
        (F.col("v") == F.col("lbl")).alias("is_keeper"),
    )


def dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution SURVIVORSHIP — the step after clustering
    that ``dedup_clusters`` stops short of: within each near-dup
    cluster, the survivor is picked by a DATA rule (longest text,
    ties to the lowest doc_id), not by the id accident of
    min-vertex labeling — "keep the best copy", which is what a
    curation pipeline actually ships. Emits the full replacement
    mapping (every clustered doc → its survivor), the join table a
    downstream pass uses to rewrite references.

    Plan: verified LSH pairs → connected components (both in-tree,
    both verified) → one broadcast join to doc lengths → per-cluster
    ``min_by`` on the (−n_chars, doc_id) rule. Oracle: the recursive
    closure of the exact-Jaccard pair set + the same rule.

    Output (clustered docs only): doc_id, cluster_id, survivor_id,
    is_survivor.
    """
    from ..catalog import table
    from ..operators.dedup import dedup_minhash

    pairs = dedup_minhash(spark, sf_dir)
    comp = connected_components(pairs, "a_id", "b_id").select(
        F.col("v").alias("doc_id"), F.col("lbl").alias("cluster_id")
    )
    lens = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    j = comp.join(lens, "doc_id")
    # the (longest, then lowest-id) rule as ONE bigint key both
    # engines' max_by accept: n_chars·10¹² − doc_id (10¹² > any
    # doc_id, so length dominates and the id breaks ties downward)
    rule = F.col("n_chars") * F.lit(1_000_000_000_000) - F.col("doc_id")
    survivors = j.groupBy("cluster_id").agg(
        F.max_by("doc_id", rule).alias("survivor_id")
    )
    return (
        j.join(F.broadcast(survivors), "cluster_id")
        .select(
            "doc_id",
            "cluster_id",
            "survivor_id",
            (F.col("doc_id") == F.col("survivor_id")).alias("is_survivor"),
        )
        .orderBy("doc_id")
    )


CC_STAR_MAX_ROUNDS = 40


def connected_components_star(
    edges: DataFrame, src: str, dst: str, max_rounds: int = CC_STAR_MAX_ROUNDS
) -> DataFrame:
    """(vertex, component) via alternating LARGE-STAR / SMALL-STAR
    rounds (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14) — the refinement ``connected_components``
    documents for adversarially DEEP graphs: label propagation needs
    O(diameter) rounds (a 10⁶-hop chain = 10⁶ shuffles), star
    contraction converges in O(log² n) rounds regardless of
    diameter, with each round the same one-aggregate + one-join cost
    profile.

    Round body, per the paper, on the directed neighbor multiset:
    - large-star(u): every neighbor v > u re-attaches to
      m = min(N(u) ∪ {u});
    - small-star(u): every neighbor v ≤ u (and u itself)
      attaches to m.
    Edges are kept as (big, small) pairs; fixpoint when the edge set
    stops changing, at which point every edge is (v, root) and the
    root is the component minimum.

    Output: v, lbl (== min vertex id in the component)."""
    # normalize: undirected input → (hi, lo) canonical directed form
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).where(
        F.col("a") != F.col("b")
    )
    e = (
        e.select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        )
        .distinct()
        .localCheckpoint()
    )

    def star(edges_uv: DataFrame, large: bool) -> DataFrame:
        # neighborhoods over BOTH directions, grouped on the center u
        nbrs = edges_uv.unionByName(
            edges_uv.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m = nbrs.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        joined = nbrs.join(m, "u")
        if large:
            out = joined.where(F.col("v") > F.col("u")).select(
                F.col("v").alias("a"), F.col("m").alias("b")
            )
        else:
            out = joined.where(F.col("v") <= F.col("u")).select(
                F.col("v").alias("a"), F.col("m").alias("b")
            ).unionByName(
                m.select(F.col("u").alias("a"), F.col("m").alias("b"))
            )
        return (
            out.where(F.col("a") != F.col("b"))
            .select(
                F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
            )
            .distinct()
        )

    for _ in range(max_rounds):
        stepped = star(star(e, large=True), large=False).localCheckpoint()
        # fixpoint = identical edge set (both canonical + distinct)
        if (
            stepped.count() == e.count()
            and stepped.exceptAll(e).limit(1).count() == 0
        ):
            e = stepped
            break
        e = stepped
    else:
        raise RuntimeError(
            f"star contraction did not converge in {max_rounds} rounds"
        )
    # star graph: every surviving edge is (member, root); roots also
    # label themselves
    members = e.select(F.col("u").alias("v"), F.col("v").alias("lbl"))
    roots = e.select(F.col("v").alias("v")).distinct().withColumn(
        "lbl", F.col("v")
    )
    return members.unionByName(roots).groupBy("v").agg(
        F.min("lbl").alias("lbl")
    )


PR_ITER = 4
PR_SCALE = 10**12  # integer rank mass: 1.0 == 10^12 units
PR_TELEPORT_NUM = 15 * PR_SCALE  # 0.15 · SCALE, divided by 100·n per vertex


def pagerank(
    edges: DataFrame, src: str, dst: str, n_iter: int = PR_ITER
) -> DataFrame:
    """Fixed-iteration PageRank (damping 0.85) in EXACT integer
    arithmetic — every division is an integer DIV, so the result is
    bit-identical across engines, partitionings, and combine orders
    (float PageRank is none of those; the deterministic-moments
    discipline of ``stats_correlation`` / ``embedding_kmeans``
    applied to an iterative graph kernel).

    rank_{t+1}(v) = (15·SCALE) DIV (100·n)
                  + (85 · Σ_{u→v} rank_t(u) DIV outdeg(u)) DIV 100

    Truncation deliberately loses a few units of mass per round —
    the price of cross-engine exactness, documented rather than
    hidden. Dangling vertices (outdeg 0) keep their rank row and
    teleport share but contribute nothing onward (their mass leaks,
    the standard simplification); the unrolled SQL oracle mirrors a
    source-derived vertex set, which coincides with sources ∪
    destinations on the registered both-directions graph.

    Scale shape: each iteration is one equi-join (ranks ⋈ edges on
    the source vertex, both shuffle-partitioned on the same key) +
    one sum-aggregate on the destination — identical cost profile to
    any keyed join at 100 TB; n_iter is fixed, so the whole plan is
    a static n_iter-deep DAG Catalyst sees at once (no driver-side
    convergence actions; the lazy-DAG choice ``embedding_kmeans``
    documents). Vertex count enters via a 1-row broadcast, never a
    driver scalar.

    Plan-growth discipline: rank_{t+1} is rebuilt from the CONSTANT
    (vertex, outdeg, n) base joined to inc_t — never from rank_t
    directly — so rank_t appears exactly once (inside inc_t) in the
    next plan and the lazy DAG grows LINEARLY in n_iter. The naive
    ``ranks.join(inc)`` form references rank_t twice and doubles the
    plan per iteration (2^n_iter subtrees — Catalyst does not
    common-subexpression-eliminate DataFrame subplans).
    """
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    deg = e.groupBy("s").agg(F.count("*").alias("outdeg"))
    # the vertex set is sources ∪ destinations: a sink vertex (no
    # outgoing edges) still receives rank and a teleport share —
    # deriving vertices from sources alone would drop it and leak
    # its incoming mass every round (its outgoing contribution is
    # legitimately zero: outdeg 0 ⇒ no contrib row, the standard
    # dangling-mass-leaks-to-teleport simplification, documented)
    verts = (
        e.select(F.col("s").alias("v"))
        .unionByName(e.select(F.col("d").alias("v")))
        .distinct()
    )
    nv = verts.agg(F.count("*").alias("nv"))
    base = (
        verts.join(deg, verts["v"] == deg["s"], "left")
        .select("v", F.coalesce("outdeg", F.lit(0)).alias("outdeg"))
        .crossJoin(F.broadcast(nv))
    )
    ranks = base.withColumn("rank", F.expr(f"{PR_SCALE} DIV nv"))
    for _ in range(n_iter):
        inc = (
            e.join(ranks, e["s"] == ranks["v"])
            .select(F.col("d").alias("iv"), F.expr("rank DIV outdeg").alias("c"))
            .groupBy("iv")
            .agg(F.sum("c").alias("inc"))
        )
        ranks = (
            base.join(inc, base["v"] == inc["iv"], "left")
            .select(
                "v",
                "outdeg",
                "nv",
                F.expr(
                    f"{PR_TELEPORT_NUM} DIV (100 * nv)"
                    " + (85 * coalesce(inc, 0)) DIV 100"
                ).alias("rank"),
            )
        )
    return ranks.select("v", "rank")


def pagerank_part_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible PageRank entry: the undirected bipartite
    part↔supplier graph induced by lineitem (distinct
    (l_partkey, l_suppkey) pairs, both directions), ranked for
    ``PR_ITER`` rounds. Vertex ids are disjoint by parity:
    part → 2·key, supplier → 2·key+1. Hash-checked against the same
    integer recurrence unrolled as one CTE per iteration in SQL.

    Output: vertex, rank (integer rank units)."""
    from ..catalog import table

    pairs = (
        table(spark, sf_dir, "lineitem")
        .select(
            (F.col("l_partkey") * 2).alias("s"),
            (F.col("l_suppkey") * 2 + 1).alias("d"),
        )
        .distinct()
    )
    edges = pairs.unionByName(
        pairs.select(F.col("d").alias("s"), F.col("s").alias("d"))
    )
    return pagerank(edges, "s", "d").select(
        F.col("v").alias("vertex"), F.col("rank").alias("rank")
    )


BFS_MAX_HOPS = 12
BFS_SOURCE = 0  # part vertex 2·0 in the parity-encoded bipartite graph


def bfs_hops(edges: DataFrame, src: str, dst: str, source_vertex: int,
             max_hops: int = BFS_MAX_HOPS) -> DataFrame:
    """Exact hop distance from one source over undirected edges —
    frontier-expansion BFS as a DataFrame loop (the third graph
    kernel next to connected components and PageRank). Each round
    expands ONLY the current frontier (newly labeled vertices) via
    one keyed join + anti-join against the visited set, so total
    work is O(edges touched), not O(rounds × edges); localCheckpoint
    cuts lineage per round like the CC loop. Stops when the frontier
    empties or max_hops is reached (unreached vertices are simply
    absent — infinite distance).

    Output: v, hops."""
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    e = (
        e.unionByName(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
        .distinct()
        .localCheckpoint()
    )
    visited = (
        e.sparkSession.createDataFrame([(source_vertex, 0)], "v long, hops int")
        .localCheckpoint()
    )
    from pyspark.sql import Observation

    frontier = visited
    for hop in range(1, max_hops + 1):
        # frontier-emptiness check fused into the materializing
        # action: the row count rides the localCheckpoint job as an
        # Observation instead of costing a second job per round
        obs = Observation()
        nxt = (
            e.join(frontier, e["s"] == frontier["v"])
            .select(F.col("d").alias("v"))
            .distinct()
            .join(visited, "v", "left_anti")
            .withColumn("hops", F.lit(hop))
            .observe(obs, F.count(F.lit(1)).alias("n"))
        ).localCheckpoint()
        if obs.get["n"] == 0:
            break
        # visited is a union of ALREADY-CHECKPOINTED frontiers —
        # lineage depth = hops, shallow by construction, so no
        # re-materialization per round (measured ~15% off warm wall-time)
        visited = visited.unionByName(nxt)
        frontier = nxt
    return visited.select("v", F.col("hops").cast("long").alias("hops"))


# Bounded Bellman-Ford rounds (bipartite diameter-ish). Like
# LPA_ROUNDS, the round chain is lazy with no lineage cut: sound only
# while this K stays small and fixed and ONE action consumes the
# result — a larger K grows the plan per round, and a second action
# re-runs the whole chain.
SSSP_HOPS = 4


def sssp_part_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED single-source shortest paths (fifth graph kernel —
    BFS gives hops, this gives min COST): bounded Bellman-Ford over
    the parity-encoded part↔supplier graph with edge weight =
    min line-quantity between the pair (exact integers). Each round
    relaxes every edge once — one keyed join + one min-aggregate —
    and after K rounds dist(v) is EXACTLY the min-cost path using
    ≤K edges (the bounded-hop contract makes the answer closed-form
    and SQL-expressible: the oracle unrolls the same K relaxations
    as CTEs).

    At scale: per-round work is one shuffle of |edges| + |dist|
    rows; K is a constant (graph diameter class), so total work is
    O(K·E) — the textbook distributed Bellman-Ford (Pregel's hello
    world), no priority queue needed or wanted on a cluster.

    The round chain is LAZY (the ``pagerank`` fixed-iteration
    discipline): the relaxation is stated in min-plus matrix-power
    form — the edge set carries a zero-weight SELF-LOOP per vertex,
    so dist_{t+1}(v) = min over e'∋(u,v) of dist_t(u) + w(u,v)
    covers the "keep my current cost" case (the self-loop) and the
    union-with-previous disappears. dist_t is then referenced
    exactly ONCE per round (the naive union form references it
    twice, which doubles the lazy subtree per round — the reason it
    needed a localCheckpoint job per round), the plan grows linearly
    in K, and the whole bounded Bellman-Ford executes inside the
    consumer's one job.

    Output: vertex, min_cost (vertices within SSSP_HOPS edges).
    """
    from ..catalog import table

    li = table(spark, sf_dir, "lineitem")
    e0 = (
        li.groupBy(
            (F.col("l_partkey") * 2).alias("s"),
            (F.col("l_suppkey") * 2 + 1).alias("d"),
        )
        .agg(F.min(F.col("l_quantity").cast("long")).alias("w"))
    )
    e = e0.unionByName(
        e0.select(F.col("d").alias("s"), F.col("s").alias("d"), "w")
    )
    # min-plus identity diagonal: a zero-weight self-loop per vertex
    # (sources ∪ destinations == sources on this both-directions
    # graph, PLUS the source vertex — an edgeless source must still
    # keep its dist-0 row) — "dist_t(v) survives unchanged" becomes
    # an ordinary relaxation over the self-loop instead of a second
    # dist reference
    loops = (
        e.select(F.col("s").alias("s"))
        .unionByName(
            li.sparkSession.createDataFrame([(2 * BFS_SOURCE,)], "s long")
        )
        .distinct()
        .select("s", F.col("s").alias("d"), F.lit(0).cast("long").alias("w"))
    )
    e = e.unionByName(loops).localCheckpoint()
    dist = spark.createDataFrame([(2 * BFS_SOURCE, 0)], "v long, c long")
    for _ in range(SSSP_HOPS):
        dist = (
            e.join(dist, e["s"] == dist["v"])
            .groupBy(F.col("d").alias("dv"))
            .agg(F.min(F.col("c") + F.col("w")).alias("c"))
            .select(F.col("dv").alias("v"), "c")
        )
    return dist.select(F.col("v").alias("vertex"), F.col("c").alias("min_cost"))


def bfs_part_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible BFS entry: hop distances from part vertex 0
    over the same parity-encoded part↔supplier bipartite graph as
    ``pagerank_part_supplier`` (part → 2·key, supplier → 2·key+1).
    Hash-checked against a recursive-CTE shortest-hop oracle.

    Output: vertex, hops."""
    from ..catalog import table

    pairs = (
        table(spark, sf_dir, "lineitem")
        .select(
            (F.col("l_partkey") * 2).alias("s"),
            (F.col("l_suppkey") * 2 + 1).alias("d"),
        )
        .distinct()
    )
    return bfs_hops(pairs, "s", "d", 2 * BFS_SOURCE).select(
        F.col("v").alias("vertex"), "hops"
    )


def triangle_count_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex triangle counts (the clustering-coefficient
    numerator — the fourth graph kernel next to CC, PageRank, BFS)
    over the nation-scoped co-supplier graph: suppliers are adjacent
    iff they supply a common part AND sit in the same nation (the
    nation scope keeps the projection's density structural — an
    unscoped shared-part graph over a random supplier assignment is
    near-complete at every scale, which benchmarks the combinatorial
    blow-up, not the algorithm).

    Scale shape: degree-ordered edge orientation (Suri &
    Vassilvitskii, "Counting Triangles and the Curse of the Last
    Reducer", WWW'11) — every edge is directed from its
    lower-(degree, id) endpoint to the higher, making wedge
    generation per vertex O(out-degree²) where out-degree is
    bounded by √(2·edges) REGARDLESS of how skewed the raw degree
    distribution is; a hub vertex's million neighbors produce
    wedges at its low-degree neighbors, not at the hub. Each
    triangle then has exactly one vertex with both in-triangle
    edges outgoing (its order-minimum), so one wedge⋈edge equi-join
    counts every triangle exactly once — no all-pairs, no double
    counting, three shuffles total (degree, wedge, close).

    Output: s_suppkey, n_triangles (suppliers in ≥1 triangle).
    """
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
    )
    supp = table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("sk"), F.col("s_nationkey").alias("nk")
    )
    ps = li.join(supp, "sk").select("pk", "sk", "nk").distinct()
    a, b = ps.alias("a"), ps.alias("b")
    edges = a.join(
        b,
        (F.col("a.pk") == F.col("b.pk"))
        & (F.col("a.nk") == F.col("b.nk"))
        & (F.col("a.sk") < F.col("b.sk")),
    ).select(F.col("a.sk").alias("u"), F.col("b.sk").alias("v"))
    return triangle_counts(edges).withColumnRenamed("vertex", "s_suppkey")


KCORE_K = 3
KCORE_MAX_ROUNDS = 50


def k_core(edges: DataFrame, src: str, dst: str, k: int = KCORE_K,
           max_rounds: int = KCORE_MAX_ROUNDS) -> DataFrame:
    """The k-CORE of an undirected graph — the maximal subgraph where
    every vertex keeps degree ≥ k — by iterative peeling: drop all
    vertices with degree < k, recompute degrees on the surviving
    subgraph, repeat to fixpoint. (One pass is NOT enough — removing
    a low-degree vertex can strand its neighbors below k; the
    fixpoint is the definition.)

    Shape per round: one degree aggregate + one semi-join restrict —
    the CC loop's cost profile, lineage cut per round with
    localCheckpoint. Convergence (no sub-k vertex) is read from an
    Observation riding the restrict's checkpoint job, so a round is
    ONE job, and the degree aggregate is evaluated twice per round
    (once per semi-join side — Catalyst does not CSE DataFrame
    subplans) instead of the previous three times (the separate
    scalar-count job). Rounds are bounded by the peeling depth
    (≤ |V| pathologically; tiny in practice — each round must delete
    ≥1 vertex or stop).

    Output: vertex, core_degree (its degree WITHIN the k-core).
    """
    from pyspark.sql import Observation

    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    e = (
        e.unionByName(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
        .where(F.col("s") != F.col("d"))
        .distinct()
        .localCheckpoint()
    )
    for _ in range(max_rounds):
        deg = e.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
        obs = Observation()
        # the Observation node sits on ONE semi-join branch only (a
        # duplicated CollectMetrics would double-count); both
        # branches recompute deg, as the old restrict already did
        keep_s = (
            deg.observe(
                obs,
                F.coalesce(
                    F.sum((F.col("deg") < k).cast("long")), F.lit(0)
                ).alias("n_low"),
            )
            .where(F.col("deg") >= k)
            .select("s")
        )
        keep_d = deg.where(F.col("deg") >= k).select(F.col("s").alias("d"))
        e2 = (
            e.join(keep_s, "s", "left_semi")
            .join(keep_d, "d", "left_semi")
            .localCheckpoint()
        )
        if obs.get["n_low"] == 0:
            # fixpoint: e2 == e, so degrees over e2 ARE the core
            # degrees (computed lazily by the caller's action)
            return e2.groupBy("s").agg(
                F.count(F.lit(1)).alias("deg")
            ).select(
                F.col("s").alias("vertex"), F.col("deg").alias("core_degree")
            )
        e = e2
    # Round exhaustion means sub-k vertices may remain — returning the
    # current degrees would hand the caller a non-core with no signal.
    # Match connected_components_star: fail loudly. (Each round deletes
    # ≥1 vertex, so depth ≤ |V|; chain-heavy graphs can genuinely
    # exceed a small bound — raise, don't lie.)
    raise RuntimeError(
        f"k_core did not reach its peeling fixpoint in {max_rounds} rounds"
    )


def k_core_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible entry: the 3-core of the nation-scoped
    co-supplier graph (the sixth graph kernel: CC, PageRank, BFS,
    SSSP, triangles, and now coreness) — the dense backbone a
    community or fraud analysis starts from after peeling hangers-on.
    Hash-exact vs a bounded unrolled peeling CTE (``_kcore_oracle``);
    exactness additionally pinned by a brute-force peeling model on
    random graphs in tests.

    Output: s_suppkey, core_degree.
    """
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
    )
    supp = table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("sk"), F.col("s_nationkey").alias("nk")
    )
    ps = li.join(supp, "sk").select("pk", "sk", "nk").distinct()
    a, b = ps.alias("a"), ps.alias("b")
    edges = a.join(
        b,
        (F.col("a.pk") == F.col("b.pk"))
        & (F.col("a.nk") == F.col("b.nk"))
        & (F.col("a.sk") < F.col("b.sk")),
    ).select(F.col("a.sk").alias("u"), F.col("b.sk").alias("v")).distinct()
    return (
        k_core(edges, "u", "v")
        .withColumnRenamed("vertex", "s_suppkey")
        .orderBy("s_suppkey")
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-vertex triangle counts over an undirected graph given as
    (u, v) pairs (orientation/duplicates of the input don't matter —
    normalized here). Degree-ordered orientation, one wedge⋈edge
    semi-join; see ``triangle_count_suppliers`` for the scale
    argument. Output: vertex, n_triangles (vertices in ≥1 triangle).
    """
    e = edges.select(
        F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v")).distinct()
    und = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    ed = (
        e.join(deg.select(F.col("u").alias("uu"), F.col("d").alias("du")),
               F.col("u") == F.col("uu"))
        .join(deg.select(F.col("u").alias("vv"), F.col("d").alias("dv")),
              F.col("v") == F.col("vv"))
        .select("u", "v", "du", "dv")
    )
    # orient low (deg, id) → high (deg, id); (du, u) == (dv, v) is
    # impossible (u < v), so the order is total
    lower = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    # consumed THREE times below (both wedge sides + the closing
    # probe) — persist so the edge/degree subtree runs once, not 3×
    # (the unpersisted plan re-derives 500+ nodes; bench clears cache
    # between queries)
    oriented = ed.select(
        F.when(lower, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(lower, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(lower, F.col("dv")).otherwise(F.col("du")).alias("ddst"),
    )
    oriented = track_persist(oriented)
    o1, o2 = oriented.alias("o1"), oriented.alias("o2")
    # unordered out-neighbor pairs, once each: (deg, id) order again
    wedges = (
        o1.join(o2, F.col("o1.src") == F.col("o2.src"))
        .filter(
            (F.col("o1.ddst") < F.col("o2.ddst"))
            | (
                (F.col("o1.ddst") == F.col("o2.ddst"))
                & (F.col("o1.dst") < F.col("o2.dst"))
            )
        )
        .select(
            F.col("o1.src").alias("a"),
            F.col("o1.dst").alias("b"),
            F.col("o2.dst").alias("c"),
        )
    )
    closing = oriented.select(
        F.col("src").alias("b"), F.col("dst").alias("c")
    )
    triangles = wedges.join(closing, ["b", "c"], "left_semi")
    verts = triangles.select(
        F.explode(F.array("a", "b", "c")).alias("vertex")
    )
    return verts.groupBy("vertex").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


AFFINITY_TOPK = 3  # strongest partners kept per supplier


def supplier_affinity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED co-supplier projection + per-supplier top-k: edge
    weight = number of distinct parts two same-nation suppliers both
    supply (the bipartite projection the unweighted kernels — LPA,
    triangles, k-core — discard), then each supplier keeps its
    AFFINITY_TOPK strongest partners (weight desc, partner asc
    tie-break). The "who do I co-operate with most" view a
    procurement or fraud analysis starts from.

    Scale shape: the projection is the same (pk, nk)-blocked
    self-join every co-supplier kernel uses (never all-pairs), the
    weight is its group count, and the top-k is one rank window per
    DIRECTED endpoint — partitioned by supplier, so the sort is
    per-key, never global.

    Output: s_suppkey, partner, n_shared_parts, rk.
    """
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
    )
    supp = table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("sk"), F.col("s_nationkey").alias("nk")
    )
    ps = li.join(supp, "sk").select("pk", "sk", "nk").distinct()
    a, b = ps.alias("a"), ps.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.pk") == F.col("b.pk"))
            & (F.col("a.nk") == F.col("b.nk"))
            & (F.col("a.sk") < F.col("b.sk")),
        )
        .groupBy(F.col("a.sk").alias("u"), F.col("b.sk").alias("v"))
        .agg(F.count(F.lit(1)).alias("w"))
    )
    und = pairs.unionByName(
        pairs.select(F.col("v").alias("u"), F.col("u").alias("v"), "w")
    )
    from pyspark.sql.window import Window as W

    rk = F.row_number().over(
        W.partitionBy("u").orderBy(F.desc("w"), F.asc("v"))
    )
    return (
        und.withColumn("rk", rk)
        .where(F.col("rk") <= AFFINITY_TOPK)
        .select(
            F.col("u").alias("s_suppkey"),
            F.col("v").alias("partner"),
            F.col("w").alias("n_shared_parts"),
            "rk",
        )
        .orderBy("s_suppkey", "rk")
    )


_AFFINITY_SQL = f"""
WITH ps AS (
  SELECT DISTINCT l.l_partkey AS pk, l.l_suppkey AS sk, s.s_nationkey AS nk
  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
), pairs AS (
  SELECT a.sk AS u, b.sk AS v, count(*)::BIGINT AS w
  FROM ps a JOIN ps b ON a.pk = b.pk AND a.nk = b.nk AND a.sk < b.sk
  GROUP BY 1, 2
), und AS (
  SELECT u, v, w FROM pairs UNION ALL SELECT v, u, w FROM pairs
), ranked AS (
  SELECT u, v, w,
         row_number() OVER (PARTITION BY u ORDER BY w DESC, v ASC) AS rk
  FROM und
)
SELECT u AS s_suppkey, v AS partner, w AS n_shared_parts, rk::BIGINT AS rk
FROM ranked WHERE rk <= {AFFINITY_TOPK}
ORDER BY 1, 4
"""


# Fixed synchronous rounds: deterministic on both engines. The round
# chain below is lazy, with no lineage cut, which is sound only while
# this K stays small and fixed and ONE action consumes the result: a
# larger K grows the plan per round, and a second action re-runs the
# whole chain.
LPA_ROUNDS = 4


def label_propagation(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation — the
    seventh graph kernel (CC, PageRank, BFS, SSSP, triangles, k-core,
    and now LPA): every vertex starts as its own label; each round,
    every vertex simultaneously adopts the most frequent label among
    its neighbors, ties broken by SMALLEST label. Classic async LPA is
    run-order-dependent; the synchronous fixed-round form here is
    fully deterministic, so an unrolled SQL oracle can mirror it
    exactly (same argmax, same tie-break).

    Shape per round: one keyed join (labels ⋈ edges) + one
    (vertex, label) count aggregate + one per-vertex argmax — the
    argmax is ``max(struct(cnt, -label))`` (maximize count, then
    minimize label; struct comparison IS the tie-break), an aggregate
    rather than a rank window, so each round costs two hash shuffles
    and no sort. The round chain is LAZY (the ``pagerank``
    fixed-iteration discipline): rounds are data-independent with no
    convergence action, and labels_{t} is referenced exactly ONCE by
    round t+1 (inside votes), so the plan grows linearly in rounds
    and the whole fixed-round propagation executes inside the
    consumer's one job — no per-round localCheckpoint job (the
    CC/BFS loops keep theirs because they need a materialized
    convergence scalar each round; this kernel does not).

    Output: vertex, community (the surviving label after LPA_ROUNDS).
    """
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    e = (
        e.unionByName(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
        .where(F.col("s") != F.col("d"))
        .distinct()
        .localCheckpoint()
    )
    labels = e.select(F.col("s").alias("v")).distinct().withColumn(
        "lbl", F.col("v")
    )
    for _ in range(LPA_ROUNDS):
        votes = (
            e.join(labels, e["s"] == labels["v"])
            .groupBy(F.col("d").alias("tv"), "lbl")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        labels = (
            votes.groupBy(F.col("tv").alias("v"))
            .agg(
                F.max(
                    F.struct(F.col("cnt").alias("c"), (-F.col("lbl")).alias("nl"))
                ).alias("m")
            )
            .select("v", (-F.col("m.nl")).alias("lbl"))
        )
    return labels.select(F.col("v").alias("vertex"), F.col("lbl").alias("community"))


def label_propagation_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible entry: communities of the nation-scoped
    co-supplier graph after LPA_ROUNDS synchronous rounds — the
    cluster view next to k_core's dense backbone. Hash-exact vs the
    unrolled oracle (same synchronous argmax, same min-label
    tie-break).

    Output: s_suppkey, community.
    """
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
    )
    supp = table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("sk"), F.col("s_nationkey").alias("nk")
    )
    ps = li.join(supp, "sk").select("pk", "sk", "nk").distinct()
    a, b = ps.alias("a"), ps.alias("b")
    edges = a.join(
        b,
        (F.col("a.pk") == F.col("b.pk"))
        & (F.col("a.nk") == F.col("b.nk"))
        & (F.col("a.sk") < F.col("b.sk")),
    ).select(F.col("a.sk").alias("u"), F.col("b.sk").alias("v")).distinct()
    return (
        label_propagation(edges, "u", "v")
        .withColumnRenamed("vertex", "s_suppkey")
        .orderBy("s_suppkey")
    )


LINKPRED_TOPK = 100  # global top-k scored pairs kept
_RA_SCALE = 1_000_000


def link_prediction_ra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINK PREDICTION by the Resource-Allocation index (Zhou,
    Lü & Zhang 2009) over the part–supplier bipartite graph: a
    same-nation supplier pair's affinity is Σ_{common part} 1/deg(part)
    — common neighbors weighted INVERSELY by how promiscuous they
    are, so sharing a rare part says more than sharing a commodity
    one. The eighth graph kernel; where ``supplier_affinity_topk``
    counts shared parts raw, this is the degree-normalized score
    recommender/fraud pipelines actually rank by (and unlike
    Adamic–Adar's 1/log(deg) it needs NO libm transcendental).

    Scale shape: degrees are one (pk) aggregate; candidate pairs
    come from the same (pk, nk)-blocked self-join every co-supplier
    kernel here uses (never all-pairs — fan-out per part is deg²
    with deg bounded by suppliers-per-part); the global top-k is
    orderBy+limit, which Spark plans as per-partition heap
    TakeOrdered, never a full sort.

    Determinism: each term quantizes to floor(1e6/deg) — an exact
    integer — so the score SUM is combine-order-free.

    Output: u, v, n_common, ra_micro (top LINKPRED_TOPK by
    ra_micro desc, u, v).
    """
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
    )
    supp = table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("sk"), F.col("s_nationkey").alias("nk")
    )
    ps = li.join(supp, "sk").select("pk", "sk", "nk").distinct()
    deg = ps.groupBy("pk").agg(F.count(F.lit(1)).alias("deg"))
    psd = ps.join(deg, "pk").select(
        "pk",
        "sk",
        "nk",
        F.expr(f"{_RA_SCALE}L DIV deg").alias("ra_term"),
    )
    a, b = psd.alias("a"), psd.alias("b")
    return (
        a.join(
            b,
            (F.col("a.pk") == F.col("b.pk"))
            & (F.col("a.nk") == F.col("b.nk"))
            & (F.col("a.sk") < F.col("b.sk")),
        )
        .groupBy(F.col("a.sk").alias("u"), F.col("b.sk").alias("v"))
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum(F.col("a.ra_term")).alias("ra_micro"),
        )
        .orderBy(F.desc("ra_micro"), F.asc("u"), F.asc("v"))
        .limit(LINKPRED_TOPK)
    )


_LINKPRED_SQL = f"""
WITH ps AS (
  SELECT DISTINCT l.l_partkey AS pk, l.l_suppkey AS sk, s.s_nationkey AS nk
  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
), deg AS (
  SELECT pk, count(*)::BIGINT AS deg FROM ps GROUP BY 1
), psd AS (
  SELECT ps.pk, ps.sk, ps.nk, {_RA_SCALE} // deg.deg AS ra_term
  FROM ps JOIN deg USING (pk)
)
SELECT a.sk AS u, b.sk AS v, count(*)::BIGINT AS n_common,
       sum(a.ra_term)::BIGINT AS ra_micro
FROM psd a JOIN psd b ON a.pk = b.pk AND a.nk = b.nk AND a.sk < b.sk
GROUP BY 1, 2
ORDER BY ra_micro DESC, u ASC, v ASC
LIMIT {LINKPRED_TOPK}
"""


def clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex LOCAL CLUSTERING COEFFICIENT over the nation-scoped
    co-supplier graph — cc(v) = 2·T(v) / (deg(v)·(deg(v)−1)), the
    ninth graph kernel: how close each supplier's partners are to a
    clique (the community-tightness signal fraud/collusion analyses
    rank by; the triangle kernel computes the numerator, this closes
    the ratio).

    Scale shape: reuses the degree-ordered triangle machinery
    (wedges O(out-deg²) with out-deg ≤ √(2·edges) regardless of
    skew); degrees are one aggregate over the same edge relation;
    the ratio is a broadcast-free left join on the vertex key. All
    integer: cc quantizes as (2·T·1e6) DIV (d·(d−1)).

    Output (vertices with deg ≥ 2): s_suppkey, degree, n_triangles,
    cc_micro.
    """
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
    )
    supp = table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("sk"), F.col("s_nationkey").alias("nk")
    )
    ps = li.join(supp, "sk").select("pk", "sk", "nk").distinct()
    a, b = ps.alias("a"), ps.alias("b")
    edges = a.join(
        b,
        (F.col("a.pk") == F.col("b.pk"))
        & (F.col("a.nk") == F.col("b.nk"))
        & (F.col("a.sk") < F.col("b.sk")),
    ).select(F.col("a.sk").alias("u"), F.col("b.sk").alias("v")).distinct()
    edges = track_persist(edges)  # feeds degree AND triangle subtrees
    und = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("degree"))
    tri = triangle_counts(edges).select(
        F.col("vertex").alias("u"), F.col("n_triangles").alias("t")
    )
    return (
        deg.where(F.col("degree") >= 2)
        .join(tri, "u", "left")
        .select(
            F.col("u").alias("s_suppkey"),
            "degree",
            F.coalesce(F.col("t"), F.lit(0)).cast("long").alias("n_triangles"),
            F.expr(
                "(2 * coalesce(t, 0) * 1000000) DIV (degree * (degree - 1))"
            ).alias("cc_micro"),
        )
        .orderBy("s_suppkey")
    )


_CLUSTERING_SQL = """
WITH ps AS (
  SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk, s_nationkey AS nk
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
), e AS (
  SELECT DISTINCT a.sk AS u, b.sk AS v
  FROM ps a JOIN ps b ON a.pk = b.pk AND a.nk = b.nk AND a.sk < b.sk
), und AS (
  SELECT u, v FROM e UNION ALL SELECT v, u FROM e
), deg AS (
  SELECT u, count(*)::BIGINT AS degree FROM und GROUP BY 1
), t AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e e1
  JOIN e e2 ON e2.u = e1.v
  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
), x AS (
  SELECT a AS v FROM t
  UNION ALL SELECT b FROM t
  UNION ALL SELECT c FROM t
), tri AS (
  SELECT v, count(*)::BIGINT AS t FROM x GROUP BY v
)
SELECT deg.u AS s_suppkey, degree,
       coalesce(tri.t, 0)::BIGINT AS n_triangles,
       (2 * coalesce(tri.t, 0) * 1000000) // (degree * (degree - 1))
         AS cc_micro
FROM deg LEFT JOIN tri ON tri.v = deg.u
WHERE degree >= 2
ORDER BY 1
"""


QUERIES = {
    "clustering_coefficient": clustering_coefficient,
    "link_prediction_ra": link_prediction_ra,
    "supplier_affinity_topk": supplier_affinity_topk,
    "label_propagation_suppliers": label_propagation_suppliers,
    "dedup_clusters": dedup_clusters,
    "dedup_survivorship": dedup_survivorship,
    "k_core_suppliers": k_core_suppliers,
    "pagerank_part_supplier": pagerank_part_supplier,
    "bfs_part_supplier": bfs_part_supplier,
    "sssp_part_supplier": sssp_part_supplier,
    "triangle_count_suppliers": triangle_count_suppliers,
}


def _sssp_oracle(hops: int = SSSP_HOPS) -> str:
    """Bounded Bellman-Ford unrolled: one relaxation CTE per round,
    identical min/+ integer arithmetic — hash-exact by construction."""
    parts = [
        "WITH e0 AS (\n"
        "  SELECT l_partkey*2 AS s, l_suppkey*2+1 AS d,\n"
        "         min(l_quantity::BIGINT) AS w\n"
        "  FROM lineitem GROUP BY 1, 2\n"
        "), e AS (\n"
        "  SELECT s, d, w FROM e0 UNION ALL SELECT d, s, w FROM e0\n"
        f"), d0 AS (SELECT {2 * BFS_SOURCE}::BIGINT AS v, 0::BIGINT AS c)"
    ]
    for k in range(1, hops + 1):
        parts.append(
            f", d{k} AS (\n"
            f"  SELECT v, min(c)::BIGINT AS c FROM (\n"
            f"    SELECT v, c FROM d{k - 1}\n"
            f"    UNION ALL\n"
            f"    SELECT e.d AS v, d{k - 1}.c + e.w AS c\n"
            f"    FROM d{k - 1} JOIN e ON e.s = d{k - 1}.v\n"
            f"  ) GROUP BY 1\n"
            f")"
        )
    parts.append(f"\nSELECT v AS vertex, c AS min_cost FROM d{hops}")
    return "".join(parts)

def _pagerank_oracle(n_iter: int = PR_ITER) -> str:
    """The integer PageRank recurrence unrolled: one CTE per
    iteration, same DIV-truncation order as the Spark plan, so the
    comparison is hash-exact."""
    ctes = [
        "WITH pairs AS (\n"
        "  SELECT DISTINCT l_partkey*2 AS s, l_suppkey*2+1 AS d FROM lineitem\n"
        "), edges AS (\n"
        "  SELECT s, d FROM pairs UNION ALL SELECT d AS s, s AS d FROM pairs\n"
        "), deg AS (\n"
        "  SELECT s AS v, count(*) AS outdeg FROM edges GROUP BY 1\n"
        "), n AS (SELECT count(*) AS nv FROM deg),\n"
        f"r0 AS (SELECT v, outdeg, {PR_SCALE} // (SELECT nv FROM n) AS pr FROM deg)"
    ]
    for i in range(1, n_iter + 1):
        ctes.append(
            f", r{i} AS (\n"
            f"  SELECT d.v, d.outdeg,\n"
            f"         ({PR_TELEPORT_NUM} // (100 * (SELECT nv FROM n))\n"
            f"          + (85 * coalesce(inc.c, 0)) // 100)::BIGINT AS pr\n"
            f"  FROM deg d LEFT JOIN (\n"
            f"    SELECT e.d AS v, sum(r.pr // r.outdeg) AS c\n"
            f"    FROM edges e JOIN r{i - 1} r ON e.s = r.v GROUP BY 1\n"
            f"  ) inc ON d.v = inc.v\n"
            f")"
        )
    return (
        "".join(ctes)
        + f'\nSELECT v AS vertex, pr::BIGINT AS "rank" FROM r{n_iter}'
    )


# The pair-generation CTEs mirror dedup_minhash_verify's oracle; the
# recursive part computes min-reachable per vertex (UNION dedups, so
# the recursion terminates on cyclic components).
def _lpa_oracle(rounds: int = LPA_ROUNDS) -> str:
    """The synchronous LPA recurrence unrolled (one MATERIALIZED CTE
    per round — each round references the previous twice, so inlining
    would blow up): identical vote count, identical (cnt DESC, lbl
    ASC) argmax via row_number."""
    parts = [
        "WITH ps AS (\n"
        "  SELECT DISTINCT l.l_partkey AS pk, l.l_suppkey AS sk,\n"
        "         s.s_nationkey AS nk\n"
        "  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey\n"
        "), ed AS (\n"
        "  SELECT DISTINCT a.sk AS u, b.sk AS v\n"
        "  FROM ps a JOIN ps b\n"
        "    ON a.pk = b.pk AND a.nk = b.nk AND a.sk < b.sk\n"
        "), e AS MATERIALIZED (\n"
        "  SELECT u AS s, v AS d FROM ed UNION ALL SELECT v, u FROM ed\n"
        "), l0 AS MATERIALIZED (\n"
        "  SELECT DISTINCT s AS v, s AS lbl FROM e\n"
        ")"
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f", l{i} AS MATERIALIZED (\n"
            f"  SELECT v, lbl FROM (\n"
            f"    SELECT v, lbl, row_number() OVER (\n"
            f"      PARTITION BY v ORDER BY cnt DESC, lbl ASC) AS rn\n"
            f"    FROM (\n"
            f"      SELECT e.d AS v, l.lbl AS lbl, count(*)::BIGINT AS cnt\n"
            f"      FROM e JOIN l{i - 1} l ON e.s = l.v GROUP BY 1, 2\n"
            f"    )\n"
            f"  ) WHERE rn = 1\n"
            f")"
        )
    parts.append(
        f"\nSELECT v AS s_suppkey, lbl AS community FROM l{rounds} ORDER BY 1"
    )
    return "".join(parts)


KCORE_ORACLE_ROUNDS = 12


def _kcore_oracle(rounds: int = KCORE_ORACLE_ROUNDS, k: int = KCORE_K) -> str:
    """The peeling fixpoint unrolled as a bounded CTE chain (the
    ``_sssp_oracle`` pattern): round i restricts round i-1's edge set
    to endpoints whose degree within it is ≥ k. The restriction is
    idempotent at the fixpoint, so any unroll ≥ the peeling depth
    yields the exact k-core (depth at the fixtures: 1; synthetic-gate
    graphs stay far under ``rounds``). If a dataset ever out-peels the
    unroll, the oracle is NOT at fixpoint while the Spark side is —
    the gate's hash compare fails loudly rather than silently agreeing.
    """
    parts = [
        "WITH ps AS (\n"
        "  SELECT DISTINCT l.l_partkey AS pk, l.l_suppkey AS sk,\n"
        "         s.s_nationkey AS nk\n"
        "  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey\n"
        "), ed AS (\n"
        "  SELECT DISTINCT a.sk AS u, b.sk AS v\n"
        "  FROM ps a JOIN ps b\n"
        "    ON a.pk = b.pk AND a.nk = b.nk AND a.sk < b.sk\n"
        "), e0 AS MATERIALIZED (\n"
        "  SELECT u AS s, v AS d FROM ed UNION ALL SELECT v, u FROM ed\n"
        ")"
    ]
    # each round references the previous one three times — without
    # MATERIALIZED, DuckDB inlines CTEs and the expansion is 3^rounds
    for i in range(1, rounds + 1):
        parts.append(
            f", keep{i} AS MATERIALIZED (\n"
            f"  SELECT s FROM e{i - 1} GROUP BY s HAVING count(*) >= {k}\n"
            f"), e{i} AS MATERIALIZED (\n"
            f"  SELECT e.s, e.d FROM e{i - 1} e\n"
            f"  WHERE e.s IN (SELECT s FROM keep{i})\n"
            f"    AND e.d IN (SELECT s FROM keep{i})\n"
            f")"
        )
    parts.append(
        f"\nSELECT s AS s_suppkey, count(*)::BIGINT AS core_degree\n"
        f"FROM e{rounds} GROUP BY 1 ORDER BY 1"
    )
    return "".join(parts)


ORACLES = {
    "clustering_coefficient": _CLUSTERING_SQL,
    "link_prediction_ra": _LINKPRED_SQL,
    "supplier_affinity_topk": _AFFINITY_SQL,
    # synchronous LPA unrolled round-by-round — deterministic argmax
    # with min-label tie-break on both engines
    "label_propagation_suppliers": _lpa_oracle(),
    # peeling fixpoint as a bounded unrolled restriction chain —
    # upgrades k_core_suppliers from rows-only to hash-exact
    "k_core_suppliers": _kcore_oracle(),
    # min-hops via a bounded recursive walk: UNION dedups (v, hops)
    # pairs, the hops bound terminates cycles, min() recovers the
    # BFS distance; vertices beyond the bound are absent either way
    "sssp_part_supplier": _sssp_oracle(),
    "bfs_part_supplier": f"""
WITH RECURSIVE pairs AS (
  SELECT DISTINCT l_partkey*2 AS s, l_suppkey*2+1 AS d FROM lineitem
), edges AS (
  SELECT s, d FROM pairs UNION ALL SELECT d AS s, s AS d FROM pairs
), walk AS (
  SELECT {2 * BFS_SOURCE}::BIGINT AS v, 0 AS hops
  UNION
  SELECT e.d AS v, walk.hops + 1 AS hops
  FROM edges e JOIN walk ON e.s = walk.v
  WHERE walk.hops < {BFS_MAX_HOPS}
)
SELECT v AS vertex, min(hops)::BIGINT AS hops FROM walk GROUP BY v
""",
    "pagerank_part_supplier": _pagerank_oracle(),
    # u<v<w triple-join enumeration — each triangle appears exactly
    # once, so the per-vertex counts equal the oriented-wedge count
    # the Spark plan produces
    "triangle_count_suppliers": """
WITH ps AS (
  SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk, s_nationkey AS nk
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
), e AS (
  SELECT DISTINCT a.sk AS u, b.sk AS v
  FROM ps a JOIN ps b ON a.pk = b.pk AND a.nk = b.nk AND a.sk < b.sk
), t AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e e1
  JOIN e e2 ON e2.u = e1.v
  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
), x AS (
  SELECT a AS v FROM t
  UNION ALL SELECT b FROM t
  UNION ALL SELECT c FROM t
)
SELECT v AS s_suppkey, count(*)::BIGINT AS n_triangles FROM x GROUP BY v
""",
    "dedup_clusters": """
WITH RECURSIVE toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS ts
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(
           generate_series(1, greatest(len(ts) - 2, 0)),
           i -> ts[i] || chr(31) || ts[i+1] || chr(31) || ts[i+2]
         )) AS shingle
  FROM toks
), sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
), pairs AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), dup_pairs AS (
  SELECT a_id, b_id
  FROM pairs
  JOIN sizes na ON pairs.a_id = na.doc_id
  JOIN sizes nb ON pairs.b_id = nb.doc_id
  WHERE round(shared / (na.n + nb.n - shared), 6) >= 0.7
), edges AS (
  SELECT a_id AS s, b_id AS d FROM dup_pairs
  UNION
  SELECT b_id AS s, a_id AS d FROM dup_pairs
), reach AS (
  SELECT s AS doc_id, s AS r FROM edges
  UNION
  SELECT e.s, reach.r FROM edges e JOIN reach ON e.d = reach.doc_id
)
SELECT doc_id,
       min(r) AS cluster_id,
       doc_id = min(r) AS is_keeper
FROM reach GROUP BY doc_id
""",
}

_SURVIVOR_SQL = ORACLES["dedup_clusters"].replace(
    """SELECT doc_id,
       min(r) AS cluster_id,
       doc_id = min(r) AS is_keeper
FROM reach GROUP BY doc_id""",
    """, clusters AS (
  SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY doc_id
), ranked AS (
  SELECT c.doc_id, c.cluster_id, d.n_chars FROM clusters c
  JOIN documents d USING (doc_id)
), survivors AS (
  SELECT cluster_id,
         max_by(doc_id, n_chars * 1000000000000 - doc_id) AS survivor_id
  FROM ranked GROUP BY cluster_id
)
SELECT r.doc_id, r.cluster_id, s.survivor_id,
       r.doc_id = s.survivor_id AS is_survivor
FROM ranked r JOIN survivors s USING (cluster_id)
ORDER BY r.doc_id""",
)
ORACLES["dedup_survivorship"] = _SURVIVOR_SQL
