"""Graph analytics over the constructed knowledge graph.

The KG pipeline's output is a graph (entities = nodes, triples/co-mentions
= edges); downstream curation wants graph-shaped signals: entity salience
(PageRank), local clustering (triangles), and seed-expansion neighborhoods
(k-hop BFS) for building focused subcorpora. No reference counterpart —
this extends the pipeline the same way jobs/curate_corpus.py does; the
algorithms are the published MapReduce formulations (Brin & Page 1998;
Suri & Vassilvitskii WWW'11 "Counting triangles and the curse of the last
reducer"; Kiveris et al. SoCC'14 already powers canonicalize.
connected_components).

Scale shape, sized for 100 TB of edges:
* Everything is (long, long) edge rows — node payloads never enter the
  iteration dataframes.
* Two base edge forms, built inside each call: ``_adjacency`` (the
  symmetric rows of an undirected list, hash-partitioned and sorted
  within partitions by src) and ``_directed`` (distinct directed rows
  partitioned by src). Every other frame is derived from one of them
  inside the one operator that needs it — degrees, walks' neighbor
  arrays, triangles' orientation, adamic_adar's wedges, hits' dst copy —
  so aggregations and joins keyed on src inherit the base form's
  partitioning instead of reshuffling it.
* What an operator persists is released in one place (``_cached``) on
  every exit path: the normal return, the empty graph, an early exit,
  an error.
* ``pagerank`` and ``personalized_pagerank`` are one power-iteration
  loop (``_power_iteration``) over the persisted adjacency; the rank
  frame carries each node's degree and teleport mass, so the only
  per-iteration Exchange is the contribution groupBy.
* ``triangle_counts`` orients every edge from lower to higher
  (degree, id) rank before intersecting neighbor lists — the classic
  fix for the curse-of-the-last-reducer: a hub of degree D contributes
  O(D^2) wedges un-oriented, but oriented out-degrees are bounded by
  O(sqrt(E)), so no reducer sees a quadratic bucket.
* ``khop_neighbors`` is frontier BFS: hop i joins ONLY the hop-(i-1)
  frontier (not the whole visited set) against the adjacency, anti-joins
  the visited set, unions. Frontiers are localCheckpointed per hop.
* A scalar a loop needs about a frame it pins (a frontier's emptiness,
  the node count, HITS' normalization totals) is observed by that
  frame's checkpoint jobs (``checkpoint_observed``), never read by a
  second probe job after it.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from generative_ner_spark.plans.session import checkpoint_observed


# PageRank, personalized PageRank and label propagation truncate lineage
# every this-many steps instead of every step, and pin their result once
# at the end: each step's output feeds exactly one consumer, so a short
# lazy chain is planned ONCE by its single downstream action, while a
# per-step checkpoint pays an eager job and a full materialization per
# step for a lineage problem that only exists past ~5 chained steps.
# The frontier operators (khop, walks, closure) materialize every step
# anyway: each step's emptiness, observed by that checkpoint, decides
# whether to go on.
_CHECKPOINT_EVERY = 4


@contextmanager
def _cached():
    """Yield ``keep``, which persists a frame and returns it; every kept
    frame is unpersisted when the block exits, however it exits. A lazy
    frame returned from the block must be pinned (localCheckpoint) first,
    or it recomputes from the raw input once the caches are gone."""
    held: list[DataFrame] = []

    def keep(df: DataFrame) -> DataFrame:
        held.append(df.persist())
        return df

    try:
        yield keep
    finally:
        for df in held:
            df.unpersist()


def cooccurrence_edges(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    max_basket: int | None = None,
    metrics: dict | None = None,
) -> DataFrame:
    """(basket, item) rows -> undirected weighted co-occurrence edges
    ``(src, dst, weight)`` with ``src < dst``; weight = number of baskets
    containing both items. The market-basket / co-mention graph builder:
    for the KG it is "entities mentioned in the same document".

    Distributed shape: distinct (basket, item), self-join within basket
    (src < dst halves the output and canonicalizes in one step), one
    map-side-combined groupBy for the weights. ``max_basket`` bounds the
    quadratic per-basket blowup exactly like the banding families'
    ``capped_self_join_pairs``: baskets above the cap are dropped whole
    (a 10^6-item basket contributes 10^12 pairs otherwise), and
    ``metrics`` receives {"capped_baskets", "capped_rows"}.
    """
    # r6 shape (guide §2.4 "remove shuffles outright"): ONE groupBy folds
    # each basket to its sorted distinct item array (collect_set absorbs
    # the former standalone .distinct() exchange, and size(_its) replaces
    # the separate occupancy-count frame + cap join), then the per-basket
    # pair generation runs IN-ARRAY (sorted array => src < dst by
    # construction) and explodes straight into the weight groupBy. The
    # r5 form paid 4 exchanges (distinct, cap-count join, self-join,
    # weight groupBy) and probed the basket self-join row by row; this
    # pays 2. The quadratic-basket guard is unchanged in meaning:
    # baskets above ``max_basket`` are dropped whole, metrics reports
    # {"capped_baskets", "capped_rows"} (rows = distinct items of the
    # dropped baskets, as before).
    baskets = (
        df.select(F.col(basket_col).alias("_bk"), F.col(item_col).alias("_it"))
        .groupBy("_bk")
        .agg(F.sort_array(F.collect_set("_it")).alias("_its"))
    )
    if max_basket is not None:
        # localCheckpoint, not persist: released by GC when this frame
        # drops out of scope. The capped counts are observed by the
        # checkpoint's own job, so the metrics cost no second job
        over = F.size("_its") > max_basket
        baskets, seen = checkpoint_observed(
            baskets, F.count(F.when(over, 1)).alias("b"),
            F.sum(F.when(over, F.size("_its"))).alias("r"))
        if metrics is not None:
            metrics["capped_baskets"] = seen["b"]
            metrics["capped_rows"] = int(seen["r"] or 0)
        baskets = baskets.where(F.size("_its") <= max_basket)
    pairs = F.flatten(
        F.transform(
            "_its",
            lambda x, i: F.transform(
                F.slice("_its", i + F.lit(2),
                        F.size("_its") - i - F.lit(1)),
                lambda y: F.struct(x.alias("src"), y.alias("dst")),
            ),
        )
    )
    return (
        baskets.select(F.explode(pairs).alias("_p"))
        .groupBy(F.col("_p.src").alias("src"), F.col("_p.dst").alias("dst"))
        .agg(F.count("*").alias("weight"))
    )


def _adjacency(edges: DataFrame) -> DataFrame:
    """Canonical undirected edge list -> the symmetric ``(src, dst)`` rows
    (every edge both ways), hash-partitioned and sorted within partitions
    by ``src`` — the one undirected form. A groupBy or join keyed on src
    reuses its partitioning, and a persisted copy records the sort, so a
    sort-merge join on src skips both exchange and sort on this side."""
    e = edges.select("src", "dst")
    return (
        e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .repartition("src")
        .sortWithinPartitions("src")
    )


def _directed(edges: DataFrame) -> DataFrame:
    """Directed edge list -> distinct ``(src, dst)`` rows partitioned by
    ``src`` — the one directed form. Repartition BEFORE distinct:
    hashpartitioning(src) satisfies the (src, dst) aggregation's
    clustering, so one exchange both deduplicates and partitions."""
    return edges.select("src", "dst").repartition("src").distinct()


def _degrees(adj: DataFrame) -> DataFrame:
    return adj.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("degree"))


def _power_iteration(adj: DataFrame, ranks: DataFrame, n_iter: int,
                     damping: float, round_to: int | None) -> DataFrame:
    """The update shared by ``pagerank`` and ``personalized_pagerank``:
    ``pr'(v) = _t(v) + d * sum_{u~v} pr(u)/deg(u)`` for ``n_iter`` steps
    from the initial ``(node, degree, _t, pr)`` frame, ``_t`` being the
    node's teleport mass -> pinned ``(node, degree, pr)``.

    ONE Exchange per step (the contribution groupBy): ``adj`` is
    partitioned by src and the rank frame arrives hash-partitioned on
    node, so the join aligns both sides without reshuffling. Each step
    joins onto the fixed initial frame, never onto the previous step's
    output, so the lazy chain between checkpoints stays linear."""
    base = ranks.select("node", "degree", "_t")
    for it in range(n_iter):
        contribs = (
            adj.join(ranks.select(F.col("node").alias("src"), "degree", "pr"),
                     "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("pr") / F.col("degree")).alias("_in"))
        )
        ranks = base.join(contribs, "node", "left").select(
            "node", "degree",
            (F.col("_t") + F.lit(damping)
             * F.coalesce(F.col("_in"), F.lit(0.0))).alias("pr"),
        )
        if (it + 1) % _CHECKPOINT_EVERY == 0 and (it + 1) < n_iter:
            ranks = ranks.localCheckpoint()
    return ranks.select(
        "node", "degree",
        (F.round("pr", round_to) if round_to is not None
         else F.col("pr")).alias("pr"),
    ).localCheckpoint()


def pagerank(
    edges: DataFrame,
    n_iter: int = 5,
    damping: float = 0.85,
    round_to: int | None = 6,
) -> DataFrame:
    """Power-iteration PageRank over an undirected (canonical src<dst)
    edge list -> ``(node, degree, pr)``. Uniform 1/N init; per step
    ``pr'(v) = (1-d)/N + d * sum_{u~v} pr(u)/deg(u)``. Nodes are "in the
    graph" iff they appear in an edge, so every node has degree >= 1 and
    there is no dangling mass to redistribute — the update is exactly the
    q58 oracle's unrolled SQL.

    Scale shape: the adjacency is persisted once; degrees come off its
    src partitions into a checkpointed frame whose jobs also count the
    nodes, the rank frame is a projection of it, and the shared
    ``_power_iteration`` pays ONE Exchange per step, with lineage
    truncated every ``_CHECKPOINT_EVERY`` steps.
    """
    with _cached() as keep:
        adj = keep(_adjacency(edges))
        # also materializes adj; the node count rides the same jobs
        deg, seen = checkpoint_observed(_degrees(adj))
        n = seen["n"]
        if n == 0:  # empty graph: empty (node, degree, pr) frame, no 1/0
            return deg.withColumn("pr", F.lit(0.0))
        ranks = deg.select(
            "node", "degree",
            F.lit((1.0 - damping) / float(n)).alias("_t"),
            (F.lit(1.0) / F.lit(float(n))).alias("pr"),
        )
        return _power_iteration(adj, ranks, n_iter, damping, round_to)


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Exact per-node triangle counts ``(node, n_triangles)`` over a
    canonical undirected edge list; nodes in no triangle are omitted.

    Degree-ordered orientation (Suri & Vassilvitskii WWW'11): each edge
    points from its lower (degree, id) endpoint to the higher, so every
    triangle is found exactly once and hub vertices keep O(sqrt(E))
    out-neighbors instead of O(D) — no reducer melts. The orientation is
    derived from the adjacency: degrees come off its src partitions, the
    src-side degree join aligns with it, and only the dst-side join
    moves the 2E rows again. Each triangle then credits its three
    vertices in one explode + groupBy.
    """
    # NO persist of the input here (r6b, measured): this operator runs
    # as ONE action (the output checkpoint), and Spark's exchange reuse
    # dedups the identical adjacency exchanges under the degrees and the
    # ranked frame within a single plan — a persist only added an eager
    # materialization (q59/q73 flat-to-worse at sf0.1). Cross-ACTION
    # reuse, where persist does pay, is the callers' job
    # (clustering_coefficient persists the adjacency; triangle_count_approx
    # persists its sample).
    adj = _adjacency(edges)
    deg = _degrees(adj)
    ranked = (
        adj.join(deg.withColumnRenamed("node", "src")
                    .withColumnRenamed("degree", "_ds"), "src")
        .join(deg.withColumnRenamed("node", "dst")
                 .withColumnRenamed("degree", "_dd"), "dst")
    )
    with _cached() as keep:
        oriented = keep(ranked.where(
            (F.col("_ds") < F.col("_dd"))
            | ((F.col("_ds") == F.col("_dd")) & (F.col("src") < F.col("dst")))
        ).select("src", "dst"))
        # Edge-iterator intersection (the r6 rewrite, guide §2.3 "shuffle
        # fewer bytes"): a triangle {a,b,c} ordered by rank is THREE
        # oriented edges a->b, a->c, b->c, so it is found exactly once at
        # its base edge (a, b) as |out(a) ∩ out(b)| — ONE out-neighbor
        # list aggregation (<= E rows, out-degree O(sqrt E) by the
        # orientation) and two E-row joins whose intersection runs
        # in-memory per edge. Apex a and middle b each get |common|,
        # every c in common gets 1.
        adjl = oriented.groupBy("src").agg(
            F.sort_array(F.collect_list("dst")).alias("_nb"))
        # re-derive each base edge by exploding the adjacency list itself —
        # (src, dst, _nba) comes out of ONE generator over adjl instead of
        # a second E-row join shipping the src-side arrays
        # shuffle_hash hint: Catalyst's size ESTIMATE for adjl ignores the
        # neighbor arrays' real width, so it picks a broadcast build that
        # OOMs the driver on sf1.0's ~200k x 45-long arrays; a
        # per-partition hash build is the right strategy at every scale
        tri = (
            adjl.select("src", F.col("_nb").alias("_nba"),
                        F.explode("_nb").alias("dst"))
            .join(adjl.select(F.col("src").alias("dst"),
                              F.col("_nb").alias("_nbb")).hint("shuffle_hash"),
                  "dst")
            .withColumn("_common", F.array_intersect("_nba", "_nbb"))
            .withColumn("_n", F.size("_common"))
            .where(F.col("_n") > 0)
            .select("src", "dst", "_common", "_n")
        )
        # ONE explode emits all three credits per base edge (a 3-way union
        # of selects over this subtree re-evaluates the join+intersect
        # three times — union branches share exchanges, not compute)
        credit = F.concat(
            F.array(
                F.struct(F.col("src").alias("node"), F.col("_n").alias("_c")),
                F.struct(F.col("dst").alias("node"), F.col("_n").alias("_c")),
            ),
            F.transform(
                "_common",
                lambda c: F.struct(c.alias("node"), F.lit(1).alias("_c")),
            ),
        )
        return (
            tri.select(F.explode(credit).alias("_e"))
            .groupBy(F.col("_e.node").alias("node"))
            .agg(F.sum("_e._c").cast("long").alias("n_triangles"))
        ).localCheckpoint()


def khop_neighbors(
    edges: DataFrame,
    seeds: DataFrame,
    k: int = 3,
    node_col: str = "node",
) -> DataFrame:
    """Minimal-hop BFS from a seed set over a canonical undirected edge
    list -> ``(node, hop)`` for every node within ``k`` hops (seeds at
    hop 0, whether or not they touch an edge). The seed-expansion
    primitive for building focused subcorpora ("every entity within 3
    hops of these companies").

    Frontier BFS: hop i expands ONLY the hop-(i-1) frontier against the
    persisted adjacency and anti-joins the visited set — work per hop is
    O(frontier x avg-degree), never O(visited). Early-exits when a
    frontier empties, as counted by the hop's own checkpoint jobs (no
    separate emptiness job). Each hop's frames are localCheckpointed so
    the final union is k shallow scans, not a k-deep join tree. The cached
    adjacency records its src sort, so when the per-hop join planner
    picks sort-merge (a large frontier at scale), the 2E-row side skips
    both its exchange and its per-hop re-sort — only the slim frontier
    moves.
    """
    with _cached() as keep:
        adj = keep(_adjacency(edges))
        # hop frames accumulate as SEPARATE checkpointed frames (r6b):
        # the per-hop anti-join consumes the visited set as a LAZY union
        # of those shallow scans; only each hop's own (new) frontier is
        # materialized, never the whole history.
        visited = (
            seeds.select(F.col(node_col).alias("node"))
            .distinct()
            .withColumn("hop", F.lit(0))
            .localCheckpoint()
        )
        frontier = visited.select("node")
        for i in range(1, k + 1):
            nxt, seen = checkpoint_observed(
                adj.join(frontier.withColumnRenamed("node", "src"), "src")
                .select(F.col("dst").alias("node"))
                .distinct()
                .join(visited.select("node"), "node", "left_anti")
                .withColumn("hop", F.lit(i))
            )
            if seen["n"] == 0:
                break
            visited = visited.unionByName(nxt)
            frontier = nxt.select("node")
        return visited


def random_walks(
    edges: DataFrame,
    walk_len: int = 4,
    walks_per_node: int = 1,
    seeds: DataFrame | None = None,
    node_col: str = "node",
    salt: str = "walk",
) -> DataFrame:
    """Deterministic "random" walks over a canonical undirected edge
    list -> ``(walk_id, start_node, step, node)``: ``walks_per_node``
    walks of ``walk_len`` steps from every node (or from ``seeds``).
    The DeepWalk/node2vec corpus generator — walk co-windows become
    skip-gram training pairs — restated reproducibly: the neighbor
    chosen at step ``i`` of walk ``w`` is

        rank = md5_60bit(salt:w:i) mod degree(current)

    over the current node's dst-sorted neighbor list. md5 is md5 on
    every engine, so a fixed (edge list, salt) yields byte-identical
    walks on any cluster size — and the q69 DuckDB oracle replays them
    exactly. No RNG state, no driver loop over nodes.

    Scale shape: the adjacency is folded, on its own src partitions,
    into one dst-sorted neighbor ARRAY per node (|V| rows), persisted
    sorted by src so per-step joins skip both exchange and sort on that
    side. Each step is ONE single-key equi-join: the degree is
    ``size(_nb)`` and the chosen neighbor ``element_at(_nb, rank+1)`` —
    both evaluated in the join projection, so no neighbor array ever
    crosses an exchange. A hub's array is one row in one partition; the
    join output projects a single element from it. Frontiers are
    localCheckpointed per step; a walk from a degree-0 seed emits its
    start row only (inner join: no _nb row, walk stops).
    """
    # the ONE md5-prefix hash home (quality._md5_rank) — salt:walk:step
    from generative_ner_spark.operators.quality import _md5_rank

    with _cached() as keep:
        nbrs = keep(
            _adjacency(edges)
            .groupBy("src")
            .agg(F.sort_array(F.collect_list("dst")).alias("_nb"))
            .sortWithinPartitions("src")
        )
        # default start set = every node touching an edge == exactly the
        # arrays' (unique) src keys, read off the persisted frame
        start_nodes = (
            seeds.select(F.col(node_col).alias("node")).distinct()
            if seeds is not None
            else nbrs.select(F.col("src").alias("node"))
        )
        # walk_id is a STRING key ("node:w"): node * walks_per_node + w
        # would be an ANSI long multiply that THROWS on hash-derived ids
        # near the 64-bit range (the CLAUDE.md overflow gotcha)
        walks = start_nodes.select(
            "node",
            F.explode(F.expr(f"sequence(0, {int(walks_per_node) - 1})"))
            .alias("_w"),
        ).select(
            F.concat_ws(":", F.col("node").cast("string"),
                        F.col("_w").cast("string")).alias("walk_id"),
            F.col("node").alias("start_node"),
        )
        # steps accumulate as SEPARATE checkpointed frames, unioned once
        # at the end (r6): the iteration only ever consumes the previous
        # step's frontier, never the visited union, so the final union is
        # walk_len + 1 shallow scans of checkpointed frames.
        steps = [walks.select(
            "walk_id", "start_node", F.lit(0).alias("step"),
            F.col("start_node").alias("node"),
        ).localCheckpoint()]
        frontier = steps[0].select("walk_id", "start_node",
                                   F.col("node").alias("_cur"))
        for i in range(1, walk_len + 1):
            h = _md5_rank(
                F.concat_ws(":", F.col("walk_id").cast("string"),
                            F.lit(str(i))), salt)
            nxt, seen = checkpoint_observed(
                frontier  # inner join: degree-0 walks stop here (no _nb row)
                .join(nbrs.withColumnRenamed("src", "_cur"), "_cur")
                .select(
                    "walk_id", "start_node", F.lit(i).alias("step"),
                    F.element_at(
                        "_nb",
                        (F.pmod(h, F.size("_nb")) + F.lit(1)).cast("int"),
                    ).alias("node"),
                )
            )
            if seen["n"] == 0:
                break
            steps.append(nxt)
            frontier = nxt.select("walk_id", "start_node",
                                  F.col("node").alias("_cur"))
    visited = steps[0]
    for s in steps[1:]:
        visited = visited.unionByName(s)
    return visited


def components(edges: DataFrame, max_iter: int = 20,
               stats: dict | None = None) -> DataFrame:
    """Connected components over a canonical undirected edge list ->
    ``(node, component)`` with component = the minimum member id — the
    dedup-cluster / community-seed primitive, exposed on the graph API.
    Thin adapter over ``canonicalize.connected_components`` (alternating
    large-star/small-star, Kiveris et al. SoCC'14: O(log n) rounds with
    per-round localCheckpoint; small edge sets short-circuit to a
    driver-side union-find). Nodes touching no edge emit no row.
    """
    from generative_ner_spark.operators.canonicalize import (
        connected_components,
    )

    return connected_components(
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b")),
        max_iter=max_iter, stats=stats,
    ).select(F.col("id").alias("node"), "component")


def label_propagation(edges: DataFrame, n_iter: int = 3) -> DataFrame:
    """Semi-synchronous label propagation (Raghavan et al. 2007) with a
    deterministic tie-break -> ``(node, label)`` after exactly
    ``n_iter`` synchronous rounds — the cheap community detector for
    topic-grouping a co-occurrence graph. Labels start as node ids;
    each round every node adopts the most frequent label among its
    neighbors, ties to the SMALLEST label. Classic async LPA is
    run-order-dependent; fixing synchronous rounds + (count desc,
    label asc) argmax makes the output a pure function of (edges,
    n_iter) — reproducible on any cluster size, replayed exactly by
    the q71 oracle's unrolled SQL.

    Scale shape: per round, one join of the persisted adjacency against
    the label frame and TWO map-side-combined aggregates ((node, label)
    counts, then a max_by argmax per node) — all keyed on uniform
    node/label ids. Labels join on ``src`` and the counts group by
    ``dst``: the adjacency is symmetric, so a node's in-neighbors are
    its neighbors, and the src-partitioned adjacency lines up with the
    label frame (hash-partitioned on node by the previous argmax)
    without a reshuffle. The initial label frame is the adjacency's
    distinct src keys, exchange-free for the same reason.
    """
    with _cached() as keep:
        adj = keep(_adjacency(edges))
        labels = (
            adj.select(F.col("src").alias("node")).distinct()
            .withColumn("label", F.col("node"))
            .localCheckpoint()
        )
        for it in range(n_iter):
            nbr = (
                adj.join(labels.withColumnRenamed("node", "src"), "src")
                .groupBy(F.col("dst").alias("node"), "label")
                .agg(F.count("*").alias("cnt"))
            )
            labels = nbr.groupBy("node").agg(F.max_by(
                "label",
                F.struct(F.col("cnt"), (-F.col("label")).alias("_negl")),
            ).alias("label"))
            if (it + 1) % _CHECKPOINT_EVERY == 0 and (it + 1) < n_iter:
                labels = labels.localCheckpoint()
        return labels.localCheckpoint()


def triangle_count_approx(
    edges: DataFrame,
    p: float = 0.5,
    salt: str = "tri",
) -> DataFrame:
    """DOULION-style approximate GLOBAL triangle count (Tsourakakis et
    al. KDD'09): keep each edge independently with probability ``p``,
    count triangles exactly on the sampled subgraph, scale by 1/p^3 ->
    one row ``(n_edges_sampled, n_triangles_sampled, est_triangles)``.
    The scale path when the exact per-node count (``triangle_counts``)
    is too expensive: sampling at p cuts the dominant wedge-join work by
    ~p^2 while the estimator stays unbiased with relative error
    O(1/sqrt(p^3 * T)).

    "Random" but reproducible: the coin for edge (src, dst) is the
    md5-60bit hash of ``salt:src:dst`` against ``p * 2^60`` — the same
    subgraph is sampled on every run, engine, and cluster size, so the
    q73 DuckDB oracle replays the estimate EXACTLY (sampling noise is a
    property of (edges, salt), not of the run).
    """
    if not 0 < p <= 1:
        raise ValueError("need 0 < p <= 1")
    cut = int(p * float(1 << 60))
    # the ONE md5-prefix hash home (quality._md5_rank) — salt:src:dst
    from generative_ner_spark.operators.quality import _md5_rank

    coin = _md5_rank(
        F.concat_ws(":", F.col("src").cast("string"),
                    F.col("dst").cast("string")), salt)
    with _cached() as keep:
        sampled = keep(edges.select("src", "dst").where(coin < cut))
        tri = triangle_counts(sampled)
        n_tri = tri.agg(
            F.coalesce(F.sum("n_triangles"), F.lit(0)).alias("s")
        ).select((F.col("s") / 3).cast("long").alias("t"))  # 3 credits/tri
        return sampled.agg(F.count("*").alias("n_edges_sampled")).crossJoin(
            n_tri
        ).select(
            "n_edges_sampled",
            F.col("t").alias("n_triangles_sampled"),
            F.round(F.col("t") / F.lit(float(p) ** 3), 6)
            .alias("est_triangles"),
        ).localCheckpoint()


def hits(
    edges: DataFrame,
    n_iter: int = 2,
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg JACM'99) over a DIRECTED edge
    list ``(src, dst)`` -> ``(node, hub, auth)`` — the complement of
    PageRank for bipartite-ish link structure (suppliers -> customers,
    pages -> cited pages): a good HUB points at good authorities, a
    good AUTHORITY is pointed at by good hubs.

    Update per iteration: ``auth(v) = Σ_{u→v} hub(u)`` then ``hub(u) =
    Σ_{u→v} auth(v)``, each L1-normalized (scores sum to 1 — the L2
    norm of the classical formulation needs a sqrt that adds nothing
    for ranking and costs cross-engine float parity). Uniform hub init;
    nodes never cited / never linking have auth / hub 0. Deterministic
    for fixed (edges, n_iter) — the q84 oracle replays the unrolled
    rounds.

    Scale shape (the PageRank argument): the directed form (partitioned
    by src) and a dst copy derived from it are persisted — the two keys
    the alternating half-steps join on — so neither half-step reshuffles
    the edges (the score frame arrives hash-partitioned on node from the
    previous groupBy, and both join sides align). Each half-step is ONE
    map-side-combined groupBy whose RAW aggregate is localCheckpointed;
    the checkpoint's own jobs also observe the normalization total, and
    the normalized frame is a lazy projection of it. The node set is
    one observed checkpoint too (its count sets the uniform init), so
    no job runs only to read a scalar.
    """
    with _cached() as keep:
        e_src = keep(_directed(edges))
        # derived FROM the cached src copy (already distinct — one more
        # slim exchange, no second expansion of the upstream edge build)
        e_dst = keep(e_src.repartition("dst"))
        nodes, seen = checkpoint_observed(
            e_src.select(F.col("src").alias("node"))
            .unionByName(e_dst.select(F.col("dst").alias("node")))
            .distinct()
        )
        n = seen["n"]
        if n == 0:
            return nodes.select(
                "node", F.lit(0.0).alias("hub"), F.lit(0.0).alias("auth"))
        hub = nodes.select("node", (F.lit(1.0) / F.lit(float(n))).alias("hub"))
        auth = None
        for _ in range(n_iter):
            araw, seen = checkpoint_observed(
                e_src.join(hub.withColumnRenamed("node", "src"), "src")
                .groupBy(F.col("dst").alias("node"))
                .agg(F.sum("hub").alias("_raw")),
                F.sum("_raw").alias("tot"))
            auth = araw.select("node",
                               (F.col("_raw") / seen["tot"]).alias("auth"))
            hraw, seen = checkpoint_observed(
                e_dst.join(auth.withColumnRenamed("node", "dst"), "dst")
                .groupBy(F.col("src").alias("node"))
                .agg(F.sum("auth").alias("_raw")),
                F.sum("_raw").alias("tot"))
            hub = hraw.select("node",
                              (F.col("_raw") / seen["tot"]).alias("hub"))
        return (
            nodes.join(hub, "node", "left")
            .join(auth, "node", "left")
            .select(
                "node",
                F.round(F.coalesce(F.col("hub"), F.lit(0.0)), 6).alias("hub"),
                F.round(F.coalesce(F.col("auth"), F.lit(0.0)), 6)
                .alias("auth"),
            )
            .localCheckpoint()
        )


def clustering_coefficient(edges: DataFrame) -> DataFrame:
    """Per-node LOCAL clustering coefficient over a canonical undirected
    edge list: ``cc(v) = 2 * T(v) / (deg(v) * (deg(v) - 1))`` — the
    fraction of v's neighbor pairs that are themselves connected, the
    standard "how clique-like is this entity's neighborhood" signal
    (Watts & Strogatz 1998). Output ``(node, degree, n_triangles, cc)``
    for every node in the graph; degree-<2 nodes have cc 0.0 by
    convention (no neighbor pair exists).

    Scale shape: one join on top of the machinery both inputs already
    use at scale — ``triangle_counts`` (degree-ordered orientation,
    O(sqrt E) wedge bound) and the adjacency's degrees; the final
    per-node join is on the uniform node key. Fully SQL-expressible =>
    full q86 oracle.
    """
    with _cached() as keep:
        # persisted once: triangle_counts rebuilds the identical
        # _adjacency(edges) plan, which Spark serves from this cache, and
        # the degrees below read it in the second action
        adj = keep(_adjacency(edges))
        tri = triangle_counts(edges)  # eager: returns a checkpointed frame
        cc = F.when(
            F.col("degree") >= 2,
            (F.lit(2.0) * F.col("n_triangles").cast("double"))
            / (F.col("degree") * (F.col("degree") - F.lit(1))).cast("double"),
        ).otherwise(F.lit(0.0))
        return _degrees(adj).join(tri, "node", "left").select(
            "node", "degree",
            F.coalesce(F.col("n_triangles"), F.lit(0)).alias("n_triangles"),
        ).select(
            "node", "degree", "n_triangles", F.round(cc, 6).alias("cc"),
        ).localCheckpoint()


def adamic_adar(
    edges: DataFrame,
    min_score: float = 0.0,
    round_to: int = 6,
    max_apex_degree: int | None = None,
    metrics: dict | None = None,
) -> DataFrame:
    """Adamic-Adar link prediction (Adamic & Adar 2003) over a canonical
    undirected edge list: for every node pair sharing >= 1 neighbor,
    ``aa(a, b) = Σ_{z ∈ N(a) ∩ N(b)} 1 / ln(deg z)`` — common neighbors
    weighted down by how promiscuous they are, the classic "which KG
    entities should probably be linked" score. Output ``(a, b,
    n_common, aa)`` with a < b; pairs already connected are dropped —
    the link-PREDICTION framing.

    Scale shape: wedges are generated once per apex by a self-join of
    the adjacency on its src key, the apex's degree joined on from the
    adjacency's own src partitions, with a dst < dst ordering (each
    unordered pair once per common neighbor — the same Σ deg² wedge
    budget as exact triangle counting, which is the inherent cost of
    exact common-neighbor scores; cap hub degrees upstream via
    cooccurrence_edges(max_basket=...) exactly like the triangle path);
    the per-pair agg is map-side combined; the existing-edge anti-join
    is on the slim canonical list. ln(deg) from exact integers =>
    only the pair sum carries the round-``round_to`` contract (q90
    oracle).

    ``max_apex_degree`` (r6, closing the one operator left without an
    in-operator hub bound): a single apex of degree D contributes
    C(D, 2) wedge rows — a 10^6-degree hub fed directly as an edge list
    melts one reducer with 5*10^11 rows. Apexes above the cap are
    EXCLUDED whole (their 1/ln(deg) terms are the smallest in any pair's
    sum, so dropping them biases scores down, never up — the same
    drop-don't-sample policy as cooccurrence_edges' basket cap), and
    ``metrics`` receives {"capped_apexes", "capped_wedge_rows"} — the
    reported score-mass loss. None (default) keeps the exact
    definition; callers feeding untrusted edge lists should set it.
    """
    # single-action operator: exchange reuse dedups the repeated
    # adjacency subtrees within the one plan — a persist + checkpoint
    # here measured as pure overhead (see triangle_counts)
    adj = _adjacency(edges)
    deg = _degrees(adj)
    if max_apex_degree is not None:
        if metrics is not None:
            over = (
                deg.where(F.col("degree") > max_apex_degree)
                .agg(
                    F.count("*").alias("n"),
                    F.coalesce(
                        F.sum(F.col("degree") * (F.col("degree") - 1) / 2),
                        F.lit(0.0)).alias("w"),
                )
                .first()
            )
            metrics["capped_apexes"] = over["n"]
            metrics["capped_wedge_rows"] = int(over["w"])
        deg = deg.where(F.col("degree") <= max_apex_degree)
    # wedge at apex=src: every dst pair (a < b) sharing the apex; capped
    # apexes drop out of the left side's degree join, so out of the wedge
    left = adj.join(deg.withColumnRenamed("node", "src"), "src").select(
        F.col("src").alias("_z"), F.col("dst").alias("a"),
        F.col("degree").alias("_dz"))
    right = adj.select(F.col("src").alias("_z"), F.col("dst").alias("b"))
    pairs = (
        left.join(right, "_z")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(
            F.count("*").alias("n_common"),
            F.round(
                F.sum(F.lit(1.0) / F.log(F.col("_dz").cast("double"))),
                round_to,
            ).alias("aa"),
        )
    )
    ex = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    return (pairs.join(ex, ["a", "b"], "left_anti")
            .where(F.col("aa") >= min_score))


def bounded_closure(
    edges: DataFrame,
    max_depth: int = 3,
) -> DataFrame:
    """Bounded transitive closure of a DIRECTED edge list ``(src, dst)``
    -> ``(src, dst, depth)``: every pair connected by a path of length
    <= ``max_depth``, with the MINIMAL path length — the ontology-
    subsumption expansion ("all ancestors within 3 hops of part_of /
    subclass_of") every KG type system materializes for query time.

    Scale shape (the khop argument generalized to all sources at once):
    the directed form (partitioned on src) is persisted; each round
    extends the frontier by ONE join against it and anti-joins pairs
    already reached (minimal depth wins — a pair re-reached by a longer
    path never survives); localCheckpoint truncates lineage per round.
    Rounds = max_depth, each ONE Exchange on the join key. Bounded
    depth keeps the result polynomial — the full closure of a deep
    hierarchy is the caller's (documented) responsibility.
    """
    if int(max_depth) < 1:
        raise ValueError("bounded_closure: max_depth must be >= 1")
    with _cached() as keep:
        adj = keep(_directed(edges))
        reached = adj.select("src", "dst", F.lit(1).alias("depth"))
        reached = reached.localCheckpoint()
        frontier = reached
        for d in range(2, int(max_depth) + 1):
            step, seen = checkpoint_observed(
                frontier.select(F.col("src"), F.col("dst").alias("_mid"))
                .join(adj.select(F.col("src").alias("_mid"),
                                 F.col("dst")), "_mid")
                .select("src", "dst")
                .distinct()
                .where(F.col("src") != F.col("dst"))  # no self-loops
                .join(reached.select("src", "dst"), ["src", "dst"],
                      "left_anti")
                .withColumn("depth", F.lit(d))
            )
            if seen["n"] == 0:  # converged before max_depth: stop expanding
                break
            reached = reached.unionByName(step).localCheckpoint()
            frontier = step
        return reached


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    n_iter: int = 3,
    damping: float = 0.85,
    round_to: int | None = 6,
) -> DataFrame:
    """Personalized PageRank (Haveliwala WWW'02) over an undirected
    canonical edge list: teleport mass returns to the SEED set instead
    of everywhere, so the stationary scores rank nodes by relatedness
    TO THE SEEDS — the KG "entities relevant to this query set"
    primitive behind entity recommendation and query expansion.
    ``seeds`` is a (node) frame; seeds absent from the graph are
    ignored; init = the seed distribution. Output (node, degree, pr).

    Scale shape = pagerank's, through the same ``_power_iteration``:
    the teleport mass ``(1-d) * s(v)`` (``s`` = 1/|seeds in the graph|
    on those seeds, 0 elsewhere) rides in the rank frame. The seeds are
    flagged on the degree frame by one join from a slim broadcast seed
    frame, and the degree checkpoint counts them in its own jobs, so the
    rank frame is a projection of that checkpoint. The q98 oracle
    unrolls the identical updates.
    """
    with _cached() as keep:
        adj = keep(_adjacency(edges))
        flag = seeds.select("node").distinct().withColumn("_seed", F.lit(1))
        deg, seen = checkpoint_observed(
            _degrees(adj).join(F.broadcast(flag), "node", "left"),
            F.count("_seed").alias("ns"))
        if seen["ns"] == 0:
            raise ValueError(
                "personalized_pagerank: no seed appears in the graph")
        s = F.when(F.col("_seed").isNotNull(),
                   F.lit(1.0 / float(seen["ns"]))).otherwise(F.lit(0.0))
        ranks = deg.select("node", "degree",
                           (F.lit(1.0 - damping) * s).alias("_t"),
                           s.alias("pr"))
        return _power_iteration(adj, ranks, n_iter, damping, round_to)
