"""Connected components over near-duplicate pairs: cluster formation.

Pair-level dedup output (``minhash_near_dup_pairs`` et al.) answers
"which documents are near-duplicates of each other"; a curation
pipeline then needs "one canonical survivor per duplicate CLUSTER",
which is connected components over the pair graph (a near-dups b,
b near-dups c => {a,b,c} is one cluster even if a,c never paired).

Algorithm: iterative minimum-label propagation — every node starts
with label = its own id; each round every node adopts the smallest
label among itself and its neighbors; converged when no label changed.
This is the standard large-scale CC shape (the simple variant of
small-star/large-star, Kiveris et al. '14 "Connected Components in
MapReduce and Beyond"):

* the edge list is scanned ONCE: both directions come from one pass
  (an exploded two-element array per edge, never a union of two scans,
  which would replay a lazy pair plan per branch) into an eager
  checkpoint that every round reads;
* round 1 is read straight off that edge list (label = least(u, min v)
  per u, ONE groupBy — no join, no separate vertex pass); every later
  round is ONE join (labels to edges) + ONE groupBy-min — all shuffles
  on uniformly distributed ids, no single-task state;
* rounds needed = graph diameter, and near-dup graphs are
  overwhelmingly star/clique-shaped (diameter 2-3), so the loop
  terminates in a handful of rounds; ``max_iters`` bounds adversarial
  chains, erroring out rather than silently returning unconverged
  labels;
* convergence is a driver-side count of changed labels per round (an
  O(1) scalar per iteration, not a collect of data) — the round's only
  action, which AQE runs as one job per shuffle stage plus a final one;
* labels are persisted per round and the previous round's cache is
  released (bounded memory); ``localCheckpoint`` every few rounds
  truncates the growing lineage so round k's plan does not replay
  rounds 1..k-1.

Deterministic: min() over ids — a pure function of the edge set, so an
external engine (the DuckDB recursive-CTE oracle twin) reproduces it
bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

_CHECKPOINT_EVERY = 4


def _undirected(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Distinct (u, v) rows holding both directions of every edge, built
    from ONE scan of ``edges``. A ``unionByName`` of the two directions
    would plan ``edges`` once per branch (Spark does not reuse the
    exchange across them), replaying a lazy pair-generation plan twice;
    exploding a two-element array per row reads it once."""
    return (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("u"), F.col(dst).alias("v")),
                    F.struct(F.col(dst).alias("u"), F.col(src).alias("v")),
                )
            ).alias("_e")
        )
        .select("_e.u", "_e.v")
        .distinct()
    )


def _release_checkpoint(df: DataFrame) -> None:
    """Free the blocks of an eagerly localCheckpointed ``df`` now instead
    of whenever the ContextCleaner collects it; ``df`` is unusable
    afterwards. Its analyzed plan is the LogicalRDD over the
    checkpointed RDD."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    nodes: DataFrame | None = None,
    node_col: str = "_id",
    max_iters: int = 25,
) -> DataFrame:
    """(node, cluster_id) with cluster_id = min node id reachable
    through ``edges`` (undirected). ``nodes`` optionally supplies
    isolated vertices (they come back as their own singleton cluster);
    otherwise the vertex set is the ids appearing in ``edges``.

    ``edges`` is scanned once, into an eager checkpoint of its
    symmetrized form that every round reads. Round 1 comes straight
    from the edge list (label = least(u, min v) over u's edges, one
    groupBy, no join); round r >= 2 is one join + one groupBy-min.
    Actions: the edge checkpoint, one count per round and the result's
    eager checkpoint. AQE runs each as one job per shuffle stage plus a
    final one: 5 jobs per round r >= 2 on ``local[4]``.

    Raises RuntimeError if not converged within ``max_iters`` rounds,
    round 1 included (near-dup graphs converge in O(diameter) ~ a
    handful)."""
    # The loop runs over EDGE-ENDPOINT vertices only: an isolated vertex
    # can never change label, so carrying the whole corpus through every
    # round's shuffles is pure waste (near-dup pair graphs touch a tiny
    # fraction of a pre-curated corpus). Isolated vertices come back as
    # lazy singleton clusters unioned onto the converged result.
    #
    # The edges are read EVERY round, so checkpointed rather than
    # persisted: each round's plan is then a bare scan of the checkpoint
    # blocks, where a persist would carry the whole pair plan into every
    # round's analysis and cache matching (~0.5 s of driver time per
    # call measured on a 500-doc near-dup graph, 4 cores).
    und = _undirected(edges, src, dst).localCheckpoint(eager=True)
    labels = None
    try:
        for it in range(max_iters):
            if labels is None:
                # round 1: every node adopts the min of its own id and
                # its neighbors' ids, read off the edge list directly.
                # `old` is the round-0 label, the node itself.
                new_labels = (
                    und.groupBy("u")
                    .agg(F.min("v").alias("_m"))
                    .select(
                        F.col("u").alias("node"),
                        F.least("u", "_m").alias("label"),
                        F.col("u").alias("old"),
                    )
                )
            else:
                # neighbor labels: edge (u,v) proposes v's current
                # label to u. The node's OWN previous label rides along
                # (`old`, one non-null per node) so convergence is read
                # off the same aggregate — no labels-to-labels join.
                proposals = und.join(
                    labels.select(F.col("node").alias("v"), "label"), "v"
                ).select(
                    F.col("u").alias("node"),
                    "label",
                    F.lit(None)
                    .cast(labels.schema["label"].dataType)
                    .alias("old"),
                )
                new_labels = (
                    labels.select("node", "label", F.col("label").alias("old"))
                    .unionByName(proposals)
                    .groupBy("node")
                    .agg(
                        F.min("label").alias("label"),
                        F.max("old").alias("old"),
                    )
                )
            if (it + 1) % _CHECKPOINT_EVERY == 0:
                # truncate lineage: round k's plan must not replay 1..k-1
                new_labels = new_labels.localCheckpoint(eager=False)
            new_labels = new_labels.persist()
            changed = new_labels.filter(
                F.col("label") != F.col("old")
            ).count()  # the round's ONLY action: materializes the persist
            if labels is not None:
                labels.unpersist()
            labels = new_labels  # the PERSISTED 3-col frame (unpersistable)
            if changed == 0:
                # hand the caller an eagerly localCheckpointed result —
                # its blocks are released by the ContextCleaner when the
                # caller drops the DataFrame — and free the loop's
                # CacheManager entry (a bare persist would otherwise
                # live for the session; one leak per distinct input)
                cc = labels.select(
                    "node", F.col("label").alias("cluster_id")
                ).localCheckpoint(eager=True)
                if nodes is None:
                    return cc
                iso = (
                    nodes.select(F.col(node_col).alias("node"))
                    .join(cc.select("node"), "node", "left_anti")
                    .select("node", F.col("node").alias("cluster_id"))
                )
                return cc.unionByName(iso)
        raise RuntimeError(
            f"connected_components: not converged after {max_iters} rounds "
            "(pathological chain graph? raise max_iters)"
        )
    finally:
        if labels is not None:
            labels.unpersist()
        _release_checkpoint(und)


def dedup_clusters(
    pairs: DataFrame,
    docs: DataFrame | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Canonical duplicate clusters from near-dup PAIRS:
    (doc_id, cluster_id, is_survivor). Every doc in ``docs`` appears
    (singletons survive as their own cluster); the survivor is the
    min-id member — the same survivorship rule as ``exact_dedup``.

    Prepared-plan reuse (same pattern as the LSH generators): the CC
    loop runs O(diameter) driver-coordinated jobs, so a repeat call
    with the SAME pair/doc plans returns the already-converged
    (checkpoint-backed) result outright instead of re-iterating —
    ``prepared()``'s immutable-source caveat applies."""
    from ._lsh_common import prepared

    def _build() -> DataFrame:
        nodes = (
            docs.select(F.col(id_col).alias("_id"))
            if docs is not None
            else None
        )
        cc = connected_components(pairs, nodes=nodes)
        return cc.select(
            F.col("node").alias(id_col),
            "cluster_id",
            (F.col("node") == F.col("cluster_id")).alias("is_survivor"),
        )

    return prepared(
        "graph:dedup_clusters", (pairs, docs), (id_col,), _build
    )


def pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    iterations: int = 3,
    damping_ppm: int = 850_000,
    rank_scale: int = 1_000_000,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank in EXACT integer micro-units:
    (node, rank_micro) after ``iterations`` synchronous power steps.
    With ``seeds``, the PERSONALIZED variant (random walk with
    restart): restart mass and initial rank land on the seed set
    only, so scores rank proximity to the seeds — the related-items /
    recommendation form (Jeh & Widom WWW'03) — and seed-unreachable
    nodes score exactly 0.

    Integer recurrence (every engine reproduces it bit-for-bit —
    floor division at both the contribution and damping steps):

        contrib(u)  = r_k(u) // out_deg(u)
        r_{k+1}(v)  = base(v) + (damping_ppm * sum_in(v)) // 1_000_000
        base(v)     = rank_scale * (1e6 - damping_ppm) // 1e6,
                      restricted to seeds when personalized
        base        = rank_scale * (1_000_000 - damping_ppm) // 1e6

    Dangling mass (nodes with no out-links) is dropped, the common
    large-scale simplification: redistributing it needs a global
    scalar per round, an O(1) driver value we deliberately omit so
    the oracle twin stays a pure unrolled SQL expression.

    Spark shape at 100 TB: out-degrees are aggregated ONCE and joined
    into the edge table, which persists across iterations; each
    iteration is then ONE equi-join (ranks x edges on src — both
    sides hash-partitioned on uniformly distributed node ids, AQE
    handles stragglers) + ONE groupBy-sum on dst (partial map-side
    aggregation collapses the in-neighbor fan-in) + ONE left join
    back to the node list for no-inlink nodes. The plan GROWS with
    ``iterations`` — bounded by construction (fixed K), unlike the
    convergence-looped connected_components above; K is small (3-10)
    in every ranking use."""
    e0 = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    deg = e0.groupBy("_s").agg(F.count(F.lit(1)).alias("_deg"))
    # Persist and do NOT unpersist here: this function only BUILDS the
    # plan (no action runs inside it), so the cache materializes on
    # the caller's first action and is then reused by all K join
    # references. An unpersist before return would drop the mark at
    # plan-build time — before anything populated it — and every
    # iteration would recompute the edge+degree join. The cache is
    # MEMORY_AND_DISK and sized O(edges); callers iterating many
    # graphs can release it via spark.catalog.clearCache().
    e = e0.join(deg, "_s").persist()

    base = rank_scale * (1_000_000 - damping_ppm) // 1_000_000
    n = nodes.select(F.col(node_col).alias("_n"))
    if seeds is None:
        # classic PageRank: uniform restart — base mass everywhere
        nb = n.withColumn("_b", F.lit(base).cast("long"))
        ranks = nb.select(
            "_n", F.lit(rank_scale).cast("long").alias("_r")
        )
    else:
        # PERSONALIZED PageRank (random walk with restart): the
        # restart mass lands only on the seed set, so scores measure
        # proximity TO THE SEEDS (related-document / recommendation
        # ranking), not global authority. Same recurrence, seed-
        # conditional base; init mass on seeds only. Nodes with no
        # directed path from a seed stay exactly 0 — exact integers
        # make that a clean invariant, not an epsilon.
        s = (
            seeds.select(F.col(node_col).alias("_n"))
            .distinct()
            .withColumn("_sb", F.lit(base).cast("long"))
        )
        nb = n.join(s, "_n", "left").select(
            "_n",
            F.coalesce(F.col("_sb"), F.lit(0).cast("long")).alias("_b"),
        )
        ranks = nb.select(
            "_n",
            F.when(F.col("_b") > 0, F.lit(rank_scale))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("_r"),
        )
    for _ in range(iterations):
        inbound = (
            e.join(ranks, e["_s"] == ranks["_n"])
            # `div`, not `/`: SQL integer division on longs — `/` is
            # DOUBLE division and a cast-truncate could round across
            # an integer boundary; the oracle twin uses `//`.
            .select("_d", F.expr("_r div _deg").alias("_c"))
            .groupBy("_d")
            .agg(F.sum("_c").alias("_sum"))
        )
        # damping in DECIMAL(38,0): _sum for a hub node is bounded
        # only by total mass (N * rank_scale); damping_ppm * _sum
        # passes 2^63 once N exceeds ~1e7 in the worst case, and
        # non-ANSI Spark would wrap silently. `div` on decimals
        # returns the integral quotient as LONG — exact, and the
        # resulting rank is <= base + 0.85 * N * rank_scale, inside
        # LONG for any N below ~1e13 nodes. DuckDB twin: HUGEINT.
        ranks = nb.join(inbound, nb["_n"] == inbound["_d"], "left").select(
            "_n",
            F.expr(
                f"CAST(_b + (({damping_ppm} * CAST(coalesce(_sum, 0)"
                f" AS DECIMAL(38,0))) div 1000000) AS LONG)"
            ).alias("_r"),
        )
    return ranks.select(
        F.col("_n").alias(node_col), F.col("_r").alias("rank_micro")
    )


def triangle_counts(
    edges: DataFrame, src: str = "id_a", dst: str = "id_b"
) -> DataFrame:
    """Exact per-vertex triangle counts (vertex, degree, n_triangles)
    over the undirected simple graph of ``edges``.

    Degree-oriented wedge join (Cohen '09 / Suri-Vassilvitskii WWW'11,
    the standard MapReduce triangle algorithm): every edge is oriented
    from its lower-rank endpoint to the higher, rank = (degree, id).
    A triangle x-y-z with rank x < y < z then exists iff the oriented
    edges x->y, x->z, y->z all exist, so

    * wedges come from ONE self-equi-join of oriented edges on the
      source vertex, and each wedge is generated exactly once
      (rank(y) < rank(z) enforced in the join condition);
    * triangles are the wedges whose (y, z) closure edge exists —
      ONE more equi-join;
    * each triangle is counted exactly once, then exploded back to its
      three corners for the per-vertex rollup.

    100 TB shape: degree orientation bounds per-vertex out-degree by
    O(sqrt(m)) — the hot-vertex wedge explosion a naive neighbor join
    suffers (a degree-10^6 hub would emit 10^12 wedges) is structurally
    avoided; every stage is an equi-join or hash aggregate on vertex /
    edge keys, no cartesian products. Vertices are edge endpoints only
    (an isolated vertex has no triangles by definition).

    The degree tie-break by id makes the orientation — and therefore
    the whole computation — a pure function of the edge set, which the
    DuckDB oracle twin reproduces value-for-value.
    """
    from ._lsh_common import pin_exclusive

    e = pin_exclusive(
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct(),
        site="graph.triangles.edges",
    )
    deg = (
        e.select(F.col("u").alias("vertex"))
        .unionAll(e.select(F.col("v").alias("vertex")))
        .groupBy("vertex")
        .agg(F.count("*").cast("long").alias("degree"))
    )
    du = deg.select(F.col("vertex").alias("u"), F.col("degree").alias("du"))
    dv = deg.select(F.col("vertex").alias("v"), F.col("degree").alias("dv"))
    a_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    # oriented edge a->b with rank(a) < rank(b); rb_deg rides along so
    # the wedge join can compare endpoint ranks without another join
    oriented = pin_exclusive(
        e.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(a_first, F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when(a_first, F.col("v")).otherwise(F.col("u")).alias("b"),
            F.when(a_first, F.col("dv")).otherwise(F.col("du")).alias(
                "rb_deg"
            ),
        ),
        site="graph.triangles.oriented",
    )
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    rank_lt = (F.col("e1.rb_deg") < F.col("e2.rb_deg")) | (
        (F.col("e1.rb_deg") == F.col("e2.rb_deg"))
        & (F.col("e1.b") < F.col("e2.b"))
    )
    wedges = e1.join(
        e2, (F.col("e1.a") == F.col("e2.a")) & rank_lt
    ).select(
        F.col("e1.a").alias("x"),
        F.col("e1.b").alias("y"),
        F.col("e2.b").alias("z"),
    )
    closure = oriented.select(
        F.col("a").alias("y"), F.col("b").alias("z")
    )
    tris = wedges.join(closure, ["y", "z"])
    corners = (
        tris.select(F.col("x").alias("vertex"))
        .unionAll(tris.select(F.col("y").alias("vertex")))
        .unionAll(tris.select(F.col("z").alias("vertex")))
        .groupBy("vertex")
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )
    return deg.join(corners, "vertex", "left").select(
        "vertex",
        "degree",
        F.coalesce(F.col("n_triangles"), F.lit(0).cast("long")).alias(
            "n_triangles"
        ),
    )


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    seed_col: str = "node",
    max_hops: int = 4,
) -> DataFrame:
    """Multi-source BFS hop distances: (node, dist) for every vertex
    reachable from any seed within ``max_hops`` undirected hops
    (dist = minimum hop count; seeds themselves come back with 0).

    The third iterative-graph shape next to label-propagation CC
    (converge-on-stability) and PageRank (fixed-K value recurrence):
    FRONTIER expansion, where per-round work is proportional to the
    newly discovered boundary, not the whole graph. Canonical uses:
    crawl-depth accounting from a seed allowlist, contamination blast
    radius from known-bad documents, link-distance features.

    Each round is ONE equi-join (frontier x edges on uniformly
    distributed vertex ids) + ONE distinct + ONE left-anti join
    against the visited set — all hash-partitionable, no single-task
    state. The frontier SHRINKS once the component is explored: the
    loop exits early on an empty frontier (an O(1) driver-side count
    per round, the connected_components convention), so ``max_hops``
    is a budget, not a fixed cost. Visited sets persist per round and
    the superseded cache is released; lineage is truncated via
    localCheckpoint so round k's plan never replays rounds 1..k-1.

    BFS level order IS minimality: a node is claimed by the first
    round that reaches it, hence dist = min over paths — a pure
    function of (edge set, seed set) that the DuckDB recursive-CTE
    twin (bounded walk + min(d) per node) reproduces exactly.
    """
    # probed EVERY round — never replay pair generation
    und = _undirected(edges, src, dst).persist()
    visited = (
        seeds.select(F.col(seed_col).alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0))
        .persist()
    )
    frontier = visited
    try:
        for hop in range(1, max_hops + 1):
            nxt = (
                frontier.join(und, frontier["node"] == und["u"])
                .select(F.col("v").alias("node"))
                .distinct()
                .join(visited.select("node"), "node", "left_anti")
                .withColumn("dist", F.lit(hop))
            )
            # truncate lineage: round k must not replay rounds 1..k-1
            nxt = nxt.localCheckpoint(eager=True)
            if nxt.isEmpty():  # component fully explored — stop early
                break
            new_visited = visited.unionByName(nxt).persist()
            new_visited.count()  # materialize before releasing parent
            visited.unpersist()
            visited = new_visited
            frontier = nxt
    finally:
        und.unpersist()
    return visited.select(
        "node", F.col("dist").cast("long").alias("dist")
    )


def hits_scores(
    edges: DataFrame,
    nodes: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    iterations: int = 2,
    scale: int = 1_000_000,
) -> DataFrame:
    """Fixed-iteration HITS (Kleinberg JACM'99) in EXACT integer
    micro-units: (node, hub_micro, auth_micro) after ``iterations``
    mutual-reinforcement rounds over the DIRECTED edge set.

    The second ranking family next to PageRank: PageRank propagates a
    single score along out-links with damping; HITS alternates two
    scores — a hub is good because it points at good authorities, an
    authority because good hubs point at it — which separates
    link-directory pages from content pages in webgraph curation.

    Integer recurrence (bit-for-bit reproducible; the DuckDB twin is
    the same recurrence unrolled in CTEs with HUGEINT `//`):

        h'(u) = sum_{u->v} a(v);   h = (h' * scale) div max(h')
        a'(v) = sum_{u->v} h(u);   a = (a' * scale) div max(a')

    Max-normalization replaces the textbook L2 norm — a sqrt would
    leave exact integers — and preserves the ranking (scores scale to
    [0, scale] with the best hub/authority pinned at ``scale``).
    Nodes outside the edge set score 0 on both axes.

    Spark shape at 100 TB: the edge table persists across iterations;
    each half-step is ONE equi-join (scores x edges on uniformly
    distributed node ids) + ONE groupBy-sum with map-side partials +
    ONE single-row max aggregate broadcast back (the bm25 corpus-stats
    pattern). The plan grows with the fixed K — bounded by
    construction, like :func:`pagerank`. Sums live in DECIMAL(38,0):
    a hub's inbound mass is bounded by N * scale, and the * scale
    renormalization product by N * scale^2 ~ 1e25 at a trillion nodes
    — inside 38 digits; `div` returns LONG, exact.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1 (got {iterations})")
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d")).persist()
    n = nodes.select(F.col(node_col).alias("_n"))
    dec = "DECIMAL(38,0)"
    auth = e.select(F.col("_d").alias("_n")).distinct().select(
        "_n", F.lit(scale).cast("long").alias("_a")
    )
    hub = None
    # Each raw half-step table is referenced TWICE (its own max
    # aggregate + the renormalization), and the references compound
    # round over round — the lazily unrolled plan grows ~4^rounds
    # subtrees (measured: 91 executed shuffles for K=2 on a 500-node
    # graph). Eagerly localCheckpoint-ing each O(nodes) raw table
    # truncates the lineage so every half-step is computed exactly
    # once: 2 shuffles per half-step, independent of K — the
    # bfs_distances/dedup_clusters loop discipline, vs pagerank which
    # needs none because its recurrence references each rank once.
    for _ in range(iterations):
        # hub half-step: sum authority over out-neighbors, renormalize
        h_raw = (
            e.join(auth, e["_d"] == auth["_n"])
            .groupBy("_s")
            .agg(F.sum(F.col("_a").cast(dec)).alias("_raw"))
            .localCheckpoint(eager=True)
        )
        h_max = h_raw.agg(F.max("_raw").alias("_mx"))
        hub = h_raw.crossJoin(F.broadcast(h_max)).select(
            F.col("_s").alias("_n"),
            F.call_function(
                "div",
                F.col("_raw") * F.lit(scale).cast(dec),
                F.col("_mx"),
            ).alias("_h"),
        )
        # authority half-step: sum hub over in-neighbors, renormalize
        a_raw = (
            e.join(hub, e["_s"] == hub["_n"])
            .groupBy("_d")
            .agg(F.sum(F.col("_h").cast(dec)).alias("_raw"))
            .localCheckpoint(eager=True)
        )
        a_max = a_raw.agg(F.max("_raw").alias("_mx"))
        auth = a_raw.crossJoin(F.broadcast(a_max)).select(
            F.col("_d").alias("_n"),
            F.call_function(
                "div",
                F.col("_raw") * F.lit(scale).cast(dec),
                F.col("_mx"),
            ).alias("_a"),
        )
    out = (
        n.join(hub.withColumnRenamed("_h", "hub_micro"), "_n", "left")
        .join(auth.withColumnRenamed("_a", "auth_micro"), "_n", "left")
        .select(
            F.col("_n").alias(node_col),
            F.coalesce(F.col("hub_micro"), F.lit(0).cast("long")).alias(
                "hub_micro"
            ),
            F.coalesce(F.col("auth_micro"), F.lit(0).cast("long")).alias(
                "auth_micro"
            ),
        )
    )
    # the checkpointed half-step tables carry the result; the edge
    # cache is only needed during the (eager) loop above
    e.unpersist()
    return out


def label_propagation(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    node_col: str = "node",
    label_col: str = "label",
    iterations: int = 2,
) -> DataFrame:
    """Semi-supervised label spreading: (node, label, round_assigned)
    after ``iterations`` synchronous rounds over the UNDIRECTED edge
    set. Seeds are clamped (round 0, never re-labeled); each round,
    every still-unlabeled node adjacent to labeled nodes adopts the
    MAJORITY label among its labeled neighbors, ties broken by the
    minimum label — a pure function of (edges, seeds), so the DuckDB
    unrolled-CTE twin reproduces it exactly. Seed rows are
    deduplicated per node (conflicting labels for one seed node
    resolve to the min label — the same tie rule the vote uses).

    The curation use: spread sparse human/classifier quality or
    language labels through the near-dup / link graph to cold-start a
    corpus-wide weak label (Zhu & Ghahramani '02 shape, hard labels).
    The fourth iterative-graph discipline in this module: categorical
    state + clamped seeds, next to CC (converge-on-stability),
    PageRank (fixed-K value recurrence) and BFS (frontier expansion).

    Spark shape at 100 TB: per round ONE equi-join (labels x
    symmetrized edges on uniformly distributed node ids) + ONE
    (node, label) count aggregate + ONE argmax-by-struct aggregate +
    ONE left-anti join against the labeled set — all hash-keyed, no
    single-task state. The labeled set is persisted per round, the
    superseded cache released, lineage truncated via localCheckpoint
    (the bfs_distances loop discipline); unlike BFS the per-round
    labeled-neighbor scan cannot shrink to a frontier (a node's
    majority can involve ALL labeled neighbors, old and new), so each
    round joins the full labeled set — still O(edges) per round.
    """
    und = _undirected(edges, src, dst).persist()
    labeled = (
        seeds.select(
            F.col(node_col).alias("node"),
            F.col(label_col).alias("label"),
        )
        # one row per seed node: duplicate seed rows would double-count
        # votes and emit duplicate output rows; conflicting labels for
        # the same seed node resolve deterministically to the MIN label
        # (the tie rule the propagation itself uses)
        .groupBy("node")
        .agg(F.min("label").alias("label"))
        .withColumn("round_assigned", F.lit(0))
        .persist()
    )
    try:
        for rnd in range(1, iterations + 1):
            votes = (
                labeled.join(und, labeled["node"] == und["u"])
                .groupBy(F.col("v").alias("cand"), "label")
                .agg(F.count(F.lit(1)).alias("_cnt"))
            )
            # majority with min-label tie: min over (-count, label)
            # structs — the golden_record survivorship discipline
            winners = (
                votes.groupBy("cand")
                .agg(
                    F.min(
                        F.struct(
                            (-F.col("_cnt")).alias("nc"),
                            F.col("label").alias("lb"),
                        )
                    ).alias("_w")
                )
                .select(
                    F.col("cand").alias("node"),
                    F.col("_w.lb").alias("label"),
                    F.lit(rnd).alias("round_assigned"),
                )
                .join(
                    labeled.select("node"), "node", "left_anti"
                )
                .localCheckpoint(eager=True)
            )
            if winners.isEmpty():
                break
            new_labeled = labeled.unionByName(winners).persist()
            new_labeled.count()  # materialize before releasing parent
            labeled.unpersist()
            labeled = new_labeled
    finally:
        und.unpersist()
    return labeled.select(
        "node", "label", F.col("round_assigned").cast("long").alias(
            "round_assigned"
        )
    )


def kcore_decomposition(
    edges: DataFrame,
    k: int,
    src: str = "id_a",
    dst: str = "id_b",
    max_iters: int = 25,
) -> DataFrame:
    """The k-core: (node, core_degree) for every vertex of the maximal
    subgraph in which each vertex keeps undirected degree >= k —
    core_degree is the degree WITHIN that subgraph.

    The fifth iterative-graph discipline next to CC (stabilize),
    PageRank/HITS (fixed-K recurrence), and BFS (frontier): PEELING —
    repeatedly delete every vertex whose remaining degree is below k
    until a fixpoint. k-cores grade graph cohesion where degree alone
    misleads (a high-degree hub whose neighbors are all leaves
    survives no 2-core): spam-farm and link-ring detection on crawl
    graphs, dense-community extraction, influencer validation.

    Each round is ONE degree aggregate + TWO semi-joins (edges against
    surviving endpoints) — all hash-partitioned on uniformly
    distributed vertex ids, no single-task state. The edge set only
    SHRINKS, so per-round cost falls monotonically; the loop exits
    when a round deletes nothing (an O(1) driver-side scalar per
    round, the connected_components convention) and errors loudly
    after ``max_iters`` rather than returning an unfinished peel —
    real peels converge fast because each round removes whole layers.
    Superseded caches are released each round; the fixpoint edge set
    is what the result aggregates, so its final persist is handed to
    an eager localCheckpoint before release.

    Deterministic: the k-core is a UNIQUE subgraph (the union of all
    subgraphs with min degree >= k), a pure function of the edge set —
    the DuckDB twin reproduces it by unrolling MORE peel rounds than
    convergence needs (extra rounds are no-ops at the fixpoint).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    und = _undirected(
        edges.filter(F.col(src) != F.col(dst)), src, dst
    ).persist()
    cur = und
    n_edges = cur.count()
    # Peel rounds UNROLLED in blocks: each driver-coordinated count
    # job (plus its AQE stage barriers) costs a fixed latency, so
    # checking the fixpoint after EVERY round pays that latency
    # O(rounds) times. Folding `unroll` peels into one lazy plan per
    # count cuts the job count ~unroll-fold; the fixpoint test stays
    # sound because the edge set only shrinks — an unchanged count
    # across a block proves every sub-round (in particular the first)
    # peeled nothing, i.e. the fixpoint was already reached at block
    # entry, and extra peels past the fixpoint are exact no-ops. The
    # worst case does <= unroll-1 no-op rounds of (tiny, post-peel)
    # extra plan depth; each block is lineage-checkpointed.
    unroll = 3
    rounds_done = 0
    try:
        while True:
            if n_edges == 0:
                # empty: no vertex survives any k >= 1 core; eager
                # checkpoint (trivial) so the plan outlives unpersist
                return cur.select(
                    F.col("u").alias("node"),
                    F.lit(0).cast("long").alias("core_degree"),
                ).localCheckpoint(eager=True)
            if rounds_done >= max_iters:
                break
            nxt = cur
            for _ in range(min(unroll, max_iters - rounds_done)):
                # one peel as WINDOW counts: the edge table carries
                # both directions, so count() over partitionBy(u)
                # [resp. v] IS the remaining undirected degree of
                # that endpoint, and the row survives iff both reach
                # k. Crucially this references `nxt` exactly ONCE per
                # round — the groupBy + two-semi-join formulation
                # references it three times, so unrolling it lazily
                # triples the plan per round (measured 3^rounds
                # blow-up); the window chain stays LINEAR in rounds.
                # Per-partition state is one endpoint's edge rows
                # (bounded by max degree; spills via the sort buffer
                # for pathological hubs — same task-state bound as
                # the window dedup survivor pass).
                wu = Window.partitionBy("u")
                wv = Window.partitionBy("v")
                nxt = (
                    nxt.withColumn(
                        "_du", F.count(F.lit(1)).over(wu)
                    )
                    .withColumn("_dv", F.count(F.lit(1)).over(wv))
                    .filter(
                        (F.col("_du") >= k) & (F.col("_dv") >= k)
                    )
                    .drop("_du", "_dv")
                )
                rounds_done += 1
            # truncate lineage: a block must not replay prior blocks
            nxt = nxt.localCheckpoint(eager=False)
            nxt = nxt.persist()
            n_next = nxt.count()  # the block's one job
            if cur is not und:
                cur.unpersist()
            cur = nxt
            if n_next == n_edges:  # nothing peeled: fixpoint
                # eagerly checkpoint the result so its blocks outlive
                # the finally-block unpersist (the CC convention)
                return (
                    cur.groupBy(F.col("u").alias("node"))
                    .agg(F.count(F.lit(1)).alias("core_degree"))
                    .localCheckpoint(eager=True)
                )
            n_edges = n_next
        raise RuntimeError(
            f"k-core peel did not converge in {max_iters} rounds; "
            "raise max_iters (each round deletes at least one whole "
            "layer, so this only bounds degenerate chains)"
        )
    finally:
        if cur is not und:
            cur.unpersist()
        und.unpersist()


def link_prediction_ra(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    top_k: int = 100,
    max_intermediate_degree: int | None = None,
) -> DataFrame:
    """Resource-allocation link prediction (Zhou/Lu/Zhang, EPJ B'09):
    score every NON-adjacent vertex pair (u, v) by
    ``RA(u,v) = sum over common neighbors z of 1/deg(z)`` — the
    common-neighbor count where well-connected intermediates count
    for less — and return the top_k highest-scored missing edges, the
    standard "which links should exist?" primitive (dedup candidates
    the pair generator missed, related-document suggestions, graph
    repair).

    Exactness: per-intermediate weight is the truncating integer
    ``1_000_000 div deg(z)`` and the pair score its BIGINT sum, so the
    DuckDB twin (``//``) is value-identical — RA beats the also-
    published Adamic-Adar (1/log deg) here precisely because it needs
    no transcendental. Ties in the top-k break by (u, v) ascending —
    deterministic at any partition count.

    Spark shape (100 TB):
      * symmetrized adjacency + degree: two hash aggregates on vertex
        keys;
      * wedges: ONE self-equi-join of the adjacency on the center z
        with ``nbr1 < nbr2`` (each unordered pair emitted once);
      * per-pair rollup, then a LEFT ANTI equi-join against the edge
        set removes already-adjacent pairs;
      * top_k via TakeOrderedAndProject — no global sort.

    The wedge fan-out is sum_z C(deg(z), 2): quadratic in hub degree,
    the known cost of EXACT common-neighbor scoring (triangle
    counting escapes it only because orientation lets it discard the
    wedge's identity; here the wedge IS the answer). For power-law
    graphs pass ``max_intermediate_degree`` to drop superstar centers
    before the join — the published mitigation — which LOWERS scores
    (never invents pairs) by at most ``C(n_dropped_hubs * cap, 2)``
    wedges; the default None computes the exact index.
    """
    from ._lsh_common import pin_exclusive

    e = pin_exclusive(
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct(),
        site="graph.linkpred.edges",
    )
    und = e.select(
        F.col("u").alias("z"), F.col("v").alias("nbr")
    ).unionAll(e.select(F.col("v").alias("z"), F.col("u").alias("nbr")))
    deg = und.groupBy("z").agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    )
    centers = deg
    if max_intermediate_degree is not None:
        centers = deg.filter(
            F.col("degree") <= max_intermediate_degree
        )
    # pinned: the wedge self-join consumes adj on BOTH sides and the
    # anti-join re-reads e — without the pins each reference would
    # recompute the distinct + degree subtree from the scan (measured
    # 12 warm shuffles at sf0.1; pinned: the dedup/degree shuffles run
    # once and both join sides read the cache)
    adj = pin_exclusive(
        und.join(centers, "z").select(
            "z",
            "nbr",
            F.call_function(
                "div", F.lit(1000000).cast("long"), F.col("degree")
            ).alias("w"),
        ),
        site="graph.linkpred.adj",
    )
    a1, a2 = adj.alias("a1"), adj.alias("a2")
    wedges = a1.join(
        a2,
        (F.col("a1.z") == F.col("a2.z"))
        & (F.col("a1.nbr") < F.col("a2.nbr")),
    ).select(
        F.col("a1.nbr").alias("u"),
        F.col("a2.nbr").alias("v"),
        F.col("a1.w").alias("w"),
    )
    scored = wedges.groupBy("u", "v").agg(
        F.sum("w").alias("ra_score_micro"),
        F.count(F.lit(1)).cast("long").alias("n_common"),
    )
    missing = scored.join(e, ["u", "v"], "left_anti")
    return missing.orderBy(
        F.col("ra_score_micro").desc(), F.col("u").asc(), F.col("v").asc()
    ).limit(top_k)


def greedy_maximal_matching(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_rounds: int = 24,
) -> DataFrame:
    """Deterministic distributed greedy MAXIMAL matching:
    ``(u, v, match_round)`` — a set of vertex-disjoint edges no
    further edge can extend. The one-to-one assignment primitive a
    curation pipeline needs where CC's transitive closure is too
    coarse: pair each near-dup with ONE merge partner, pair bitext
    segments, cap record-linkage merges at one survivor per record.

    The sixth iterative-graph discipline here (after stabilize /
    fixed-K recurrence / frontier / peeling): LOCAL-MINIMUM edge
    selection (Israeli-Itai '86 lineage; the standard MIS-style
    matching round). Each round an edge joins the matching iff its
    rank is the minimum among ALL edges incident to BOTH endpoints;
    matched vertices leave, incident edges die, repeat to fixpoint.
    Every round's decisions depend only on the surviving edge set, so
    the result is a pure function of the input — partition-layout
    invariant, twin-reproducible (the DuckDB oracle unrolls more
    rounds than convergence needs; post-fixpoint rounds are no-ops).

    Ranks are sha256-derived 60-bit integers of the canonical edge
    (u:v) — DETERMINISTIC but hash-scattered, which is what makes
    local minima plentiful (with ordered ranks an increasing path
    matches ONE edge per round — O(n) rounds; hash ranks remove a
    constant fraction of edges per round in expectation, the
    published analysis). Ties (sha-prefix collisions) break by
    (u, v) inside the min-struct, so even colliding ranks stay
    conflict-free.

    Per round: one vertex-keyed min aggregate + one two-sided match
    join + two anti-joins against the matched-vertex set — all
    hash-partitioned on vertex ids, edge set only shrinks; converged
    when no edges survive, errors loudly past ``max_rounds`` (the CC
    convention — never a silent partial matching).
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .select(
            "u",
            "v",
            F.conv(
                F.substring(
                    F.sha2(
                        F.concat(
                            F.col("u").cast("string"),
                            F.lit(":"),
                            F.col("v").cast("string"),
                        ),
                        256,
                    ),
                    1,
                    15,
                ),
                16,
                10,
            )
            .cast("long")
            .alias("rk"),
        )
        .persist()
    )
    spark = edges.sparkSession
    schema = "u long, v long, match_round int"
    matched_parts: list[DataFrame] = []
    cur = e
    try:
        n_alive = cur.count()
        for rnd in range(1, max_rounds + 1):
            if n_alive == 0:
                break
            key = F.struct("rk", "u", "v")
            inc = cur.select(
                F.col("u").alias("z"), key.alias("k")
            ).unionByName(cur.select(F.col("v").alias("z"), key.alias("k")))
            mins = inc.groupBy("z").agg(F.min("k").alias("mk"))
            m = (
                cur.join(
                    mins.select(F.col("z").alias("u"), F.col("mk").alias("mu")),
                    "u",
                )
                .join(
                    mins.select(F.col("z").alias("v"), F.col("mk").alias("mv")),
                    "v",
                )
                .filter((key == F.col("mu")) & (key == F.col("mv")))
                .select(
                    "u", "v", F.lit(rnd).cast("int").alias("match_round")
                )
                # eager checkpoint: this round's matches are consumed
                # twice (result + vertex removal) and must not replay
                # the whole round chain later
                .localCheckpoint(eager=True)
            )
            matched_parts.append(m)
            mv = (
                m.select(F.col("u").alias("z"))
                .unionByName(m.select(F.col("v").alias("z")))
                .distinct()
            )
            nxt = cur.join(
                mv.select(F.col("z").alias("u")), "u", "left_anti"
            ).join(
                mv.select(F.col("z").alias("v")), "v", "left_anti"
            ).persist()
            n_next = nxt.count()
            if cur is not e:
                cur.unpersist()
            cur = nxt
            if n_next == n_alive:
                # no local-min edge matched yet edges remain: only
                # possible at max_rounds exhaustion below, never at a
                # true fixpoint (a min-rank edge always exists)
                raise RuntimeError(
                    "greedy_maximal_matching made no progress "
                    f"(round {rnd}, {n_alive} edges alive)"
                )
            n_alive = n_next
        else:
            raise RuntimeError(
                f"greedy_maximal_matching not converged after "
                f"{max_rounds} rounds ({n_alive} edges alive)"
            )
        if not matched_parts:
            return spark.createDataFrame([], schema)
        out = matched_parts[0]
        for p in matched_parts[1:]:
            out = out.unionByName(p)
        return out
    finally:
        # per-round matches are EAGER localCheckpoints, so the result
        # no longer references e or any survivor frame — free both
        # CacheManager entries (the CC convention: a bare persist
        # would otherwise live for the session, one leak per call)
        if cur is not e:
            cur.unpersist()
        e.unpersist()
        e.unpersist()


def random_walks(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    walk_len: int = 5,
    walks_per_node: int = 1,
) -> DataFrame:
    """Deterministic DeepWalk-style random-walk generation:
    ``(start_node, rep, walk_path)`` — ``walks_per_node`` walks of
    ``walk_len`` nodes from every non-isolated vertex, each step
    choosing uniformly (by hash) among the current node's neighbors.
    The training-sequence generator for graph embeddings
    (DeepWalk, Perozzi et al. KDD'14; node2vec's p=q=1 case): walks
    become "sentences" fed to a skip-gram trainer, so a data pipeline
    needs them materialized at corpus scale.

    Every next-hop draw is sha256-derived from
    ``(start, rep, step, cur)`` — a pure function of the walk
    coordinate, NOT of partitioning or iteration order, so output is
    deterministic, partition-layout invariant, and twin-reproducible
    (the DuckDB oracle unrolls the same ``walk_len - 1`` joins with
    the identical hash). Including ``cur`` in the draw decorrelates
    revisits (a walk that returns to a node at a different step takes
    a different exit).

    Spark shape, and why it holds at 100 TB: the adjacency build is
    ONE shuffle (distinct + groupBy on the vertex id, map-side
    partial); each of the ``walk_len - 1`` extension steps is ONE
    equi-join of the constant-size walk frontier
    (``n_walks = walks_per_node * |V|`` rows) against the persisted
    adjacency, hash-partitioned on the current node. Neighbor lists
    ride the adjacency side once (sorted arrays, the deg is their
    size); no explosion of the frontier ever happens — walks extend
    in place via ``element_at``. Hot hubs skew the PER-STEP join key
    toward high-degree nodes exactly as the stationary distribution
    demands; AQE's skew-join split handles the residual imbalance
    (same posture as pagerank's contribution join).

    Cache lifetime: like ``pagerank``, this function only BUILDS the
    lazy walk plan — the adjacency persist is read by every extension
    join when the caller executes it, so it is deliberately NOT
    unpersisted here.  Callers that invoke repeatedly should memoize
    via ``_lsh_common.prepared`` (the entry registration does) so one
    adjacency cache serves all invocations.
    """
    if walk_len < 1:
        raise ValueError(f"walk_len must be >= 1, got {walk_len}")
    if walks_per_node < 1:
        raise ValueError(
            f"walks_per_node must be >= 1, got {walks_per_node}"
        )
    adj = (
        _undirected(edges.filter(F.col(src) != F.col(dst)), src, dst)
        .groupBy(F.col("u").alias("node"))
        .agg(F.sort_array(F.collect_list("v")).alias("nbrs"))
        .select("node", "nbrs", F.size("nbrs").alias("deg"))
        .persist()
    )

    w = adj.select(
        F.col("node").alias("start_node"),
        F.explode(
            F.array(*[F.lit(r) for r in range(walks_per_node)])
        ).alias("rep"),
    ).select(
        "start_node",
        "rep",
        F.col("start_node").cast("string").alias("walk_path"),
        F.col("start_node").alias("cur"),
    )
    for t in range(1, walk_len):
        draw = (
            F.conv(
                F.substring(
                    F.sha2(
                        F.concat(
                            F.col("start_node").cast("string"),
                            F.lit(":"),
                            F.col("rep").cast("string"),
                            F.lit(f":{t}:"),
                            F.col("cur").cast("string"),
                        ),
                        256,
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % F.col("deg")
        )
        nxt = F.element_at(F.col("nbrs"), (draw + 1).cast("int"))
        w = (
            w.join(adj, w["cur"] == adj["node"])
            .select(
                "start_node",
                "rep",
                F.concat(
                    F.col("walk_path"), F.lit(">"), nxt.cast("string")
                ).alias("walk_path"),
                nxt.alias("cur"),
            )
        )
    return w.select("start_node", "rep", "walk_path")


def sssp_weighted(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    weight_col: str = "w",
    seed_col: str = "node",
    max_rounds: int = 4,
) -> DataFrame:
    """Weighted single-source (multi-seed) shortest paths by
    synchronous Bellman-Ford relaxation: (node, dist) = the minimum
    path weight from any seed using AT MOST ``max_rounds`` edges —
    the bounded-round semantics is the contract (exact SSSP whenever
    the weighted diameter fits the budget; both the early-exit test
    and the DuckDB unrolled twin observe the same recurrence, so the
    result is engine-exact either way).

    The seventh iterative-graph discipline next to frontier BFS
    (hop counts ignore weights), CC, PageRank, HITS, k-core peeling
    and local-min matching: VALUE relaxation, where per-round work is
    one dist-join + one min-aggregate over uniformly-hashed vertex
    ids — no frontier tracking because a cheaper monotone invariant
    decides convergence: a relaxation round either discovers a node
    (count grows) or lowers a distance (sum shrinks), so the
    (count, sum) pair from ONE aggregate is a sound fixed-point test
    (weights are required non-negative — enforced in-plan — which
    also makes every intermediate dist a bounded long).

    Per round: localCheckpoint(eager) truncates lineage (the HITS
    convention — round k must not replay rounds 1..k-1); the
    symmetrized min-weight edge relation is persisted once and
    released in ``finally``.
    """
    if max_rounds < 1:
        raise ValueError("max_rounds must be >= 1")
    w_ok = F.when(
        F.col("w") < 0,
        F.raise_error(
            F.concat(
                F.lit("sssp_weighted: negative edge weight "),
                F.col("w").cast("string"),
            )
        ).cast("long"),
    ).otherwise(F.col("w"))
    und = (
        edges.select(
            F.col(src).alias("u"),
            F.col(dst).alias("v"),
            F.col(weight_col).cast("long").alias("w"),
        )
        .unionByName(
            edges.select(
                F.col(dst).alias("u"),
                F.col(src).alias("v"),
                F.col(weight_col).cast("long").alias("w"),
            )
        )
        .select("u", "v", w_ok.alias("w"))
        .groupBy("u", "v")
        .agg(F.min("w").alias("w"))  # parallel edges: keep cheapest
        .persist()
    )
    dist = (
        seeds.select(F.col(seed_col).alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
        .localCheckpoint(eager=True)
    )
    prev_stats = None
    try:
        for _ in range(max_rounds):
            cand = dist.join(und, dist["node"] == und["u"]).select(
                F.col("v").alias("node"),
                (F.col("dist") + F.col("w")).alias("dist"),
            )
            new = (
                dist.unionByName(cand)
                .groupBy("node")
                .agg(F.min("dist").alias("dist"))
                .localCheckpoint(eager=True)
            )
            stats = new.agg(
                F.count(F.lit(1)).alias("c"), F.sum("dist").alias("s")
            ).collect()[0]
            dist = new
            if prev_stats == (stats["c"], stats["s"]):
                break  # fixed point: nothing discovered, nothing lowered
            prev_stats = (stats["c"], stats["s"])
    finally:
        und.unpersist()
    return dist


def modularity_score(
    edges: DataFrame,
    labels: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    node_col: str = "node",
    label_col: str = "community",
) -> DataFrame:
    """Newman modularity of a vertex partition, per community, in
    exact cross-multiplied integers — the standard quality metric for
    ANY community assignment (label propagation, CC dedup clusters, a
    source/domain prior): how much denser are intra-community edges
    than a degree-preserving random rewiring?

        Q = sum_c [ e_c / m  -  (d_c / 2m)^2 ]

    (e_c intra-community edges, d_c community degree sum, m total
    undirected edges). Per community this operator emits

        contrib_ppm = (4m * e_c - d_c^2) * 1e6 div (4 * m^2)

    in DECIMAL(38,0) — truncating toward zero, so positive and
    negative contributions are engine-identical and summing the
    column is the (ppm) modularity. The contract: edges between
    differently-labeled or UNLABELED endpoints count in m and in
    degrees but in no community's e_c — dropping them from m would
    overstate Q, the exact failure a quality metric must not have.

    Shape: canonicalize to the undirected simple edge set (one
    distinct), one labels equi-join per endpoint (labels is
    O(vertices), usually the smaller side), degree aggregate + one
    community aggregate; m via a single-row broadcast. No windows.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    lab = labels.select(
        F.col(node_col).alias("n"), F.col(label_col).alias("c")
    ).distinct()
    both = (
        e.join(lab.withColumnRenamed("n", "u").withColumnRenamed("c", "cu"), "u", "left")
        .join(lab.withColumnRenamed("n", "v").withColumnRenamed("c", "cv"), "v", "left")
        # three consumers (m, intra, degree/union) — materialize the
        # labeled edge relation ONCE; eager localCheckpoint blocks are
        # released by the ContextCleaner when the result is dropped
        # (the connected_components convention; a bare persist would
        # leak a CacheManager entry per call)
        .localCheckpoint(eager=True)
    )
    # m and per-community intra-edge counts
    m_df = both.agg(F.count(F.lit(1)).cast("long").alias("m"))
    intra = (
        both.filter(
            F.col("cu").isNotNull() & (F.col("cu") == F.col("cv"))
        )
        .groupBy(F.col("cu").alias("community"))
        .agg(F.count(F.lit(1)).cast("long").alias("intra_edges"))
    )
    # degree sums per community (each canonical edge grants both
    # endpoints one degree)
    deg = (
        both.select(F.col("u").alias("n"), F.col("cu").alias("c"))
        .unionByName(
            both.select(F.col("v").alias("n"), F.col("cv").alias("c"))
        )
        .filter(F.col("c").isNotNull())
        .groupBy(F.col("c").alias("community"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("degree_sum"),
            F.count_distinct(F.col("n")).cast("long").alias("n_nodes"),
        )
    )
    return (
        deg.join(intra, "community", "left")
        .join(F.broadcast(m_df))
        .select(
            "community",
            "n_nodes",
            F.coalesce(F.col("intra_edges"), F.lit(0))
            .cast("long")
            .alias("intra_edges"),
            "degree_sum",
            F.expr(
                "case when m > 0 then cast("
                "((cast(4 as decimal(38,0)) * cast(m as decimal(38,0))"
                " * cast(coalesce(intra_edges, 0) as decimal(38,0)))"
                " - (cast(degree_sum as decimal(38,0))"
                "    * cast(degree_sum as decimal(38,0))))"
                " * cast(1000000 as decimal(38,0))"
                " div (cast(4 as decimal(38,0))"
                " * cast(m as decimal(38,0))"
                " * cast(m as decimal(38,0))) as long) end"
            ).alias("contrib_ppm"),
        )
    )


def cc_incremental(
    labels: DataFrame,
    delta_edges: DataFrame,
    node_col: str = "node",
    label_col: str = "cluster_id",
    src: str = "id_a",
    dst: str = "id_b",
    max_iters: int = 25,
) -> DataFrame:
    """Maintain a min-id connected-components labeling under NEW
    edges without re-running CC over the full graph: (node,
    cluster_id, changed) value-identical to recomputing
    connected_components on (old graph + delta) — the incremental ==
    full identity is the oracle contract, the rollup_incremental
    convention applied to graph state.

    Why it is O(delta): an existing labeling is already a contraction
    of the old graph, so new edges can only merge whole LABELS. The
    delta endpoints are mapped through the labeling (one equi-join;
    unseen nodes label themselves), edges whose endpoints already
    share a label are discarded, and CC runs on the CONTRACTED graph
    — O(|delta|) vertices, not O(corpus). The old-label -> new-label
    mapping that falls out is at most 2|delta| rows and is BROADCAST
    back across the labeling; untouched components never shuffle.
    A daily crawl increment over a 10^12-node identity graph touches
    the delta and the O(n) relabel map-join — not the graph.

    ``changed`` marks rows whose label moved plus newly-appeared
    nodes — the audit column an incremental maintainer owes its
    caller (drop accounting convention).
    """
    lab = labels.select(
        F.col(node_col).alias("n"), F.col(label_col).alias("l")
    )
    de = (
        delta_edges.select(
            F.col(src).alias("a"), F.col(dst).alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    ends = (
        de.select(F.col("a").alias("n"))
        .unionByName(de.select(F.col("b").alias("n")))
        .distinct()
    )
    endlab = ends.join(lab, "n", "left").select(
        "n", F.coalesce(F.col("l"), F.col("n")).alias("el")
    )
    ce = (
        de.join(
            endlab.select(
                F.col("n").alias("a"), F.col("el").alias("la")
            ),
            "a",
        )
        .join(
            endlab.select(
                F.col("n").alias("b"), F.col("el").alias("lb")
            ),
            "b",
        )
        .select("la", "lb")
        .filter(F.col("la") != F.col("lb"))
    )
    merged = connected_components(
        ce, src="la", dst="lb", max_iters=max_iters
    )
    mapping = merged.filter(
        F.col("node") != F.col("cluster_id")
    ).select(
        F.col("node").alias("_old"), F.col("cluster_id").alias("_new")
    )
    relabeled = (
        lab.join(
            F.broadcast(mapping), lab["l"] == mapping["_old"], "left"
        )
        .select(
            F.col("n").alias(node_col),
            F.coalesce(F.col("_new"), F.col("l")).alias(label_col),
            F.col("_new").isNotNull().alias("changed"),
        )
    )
    new_nodes = (
        endlab.join(lab.select("n"), "n", "left_anti")
        .join(
            F.broadcast(mapping),
            endlab["el"] == mapping["_old"],
            "left",
        )
        .select(
            F.col("n").alias(node_col),
            F.coalesce(F.col("_new"), F.col("el")).alias(label_col),
            F.lit(True).alias("changed"),
        )
    )
    return relabeled.unionByName(new_nodes)


def landmark_bfs(
    edges: DataFrame,
    landmarks: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    landmark_col: str = "landmark",
    max_hops: int = 3,
) -> DataFrame:
    """Per-landmark BFS hop distances: (node, landmark, dist) for
    every (reachable node, landmark) pair within ``max_hops``
    undirected hops — the COMPOSITE-STATE variant of frontier
    expansion (``bfs_distances`` collapses to min-over-seeds; this
    keeps the per-landmark distance, the input landmark/pivot
    embeddings, closeness/harmonic centrality, and graph-sketch
    methods need).

    All K landmarks run in ONE frontier loop: state rows are keyed
    (node, landmark), so per-round work is one equi-join of the
    composite frontier with the edge list + one distinct + one
    left-anti join against the visited set — K never multiplies the
    ROUND count, only the state size, which is bounded by
    K x reachable-set and uniformly hash-partitioned on node. Same
    lineage discipline as bfs_distances: per-round localCheckpoint,
    superseded caches released, early exit on an exhausted frontier.
    """
    und = _undirected(edges, src, dst).persist()
    visited = (
        landmarks.select(F.col(landmark_col).alias("landmark"))
        .distinct()
        .select(
            F.col("landmark").alias("node"),
            "landmark",
            F.lit(0).alias("dist"),
        )
        .persist()
    )
    frontier = visited
    try:
        for hop in range(1, max_hops + 1):
            nxt = (
                frontier.join(und, frontier["node"] == und["u"])
                .select(F.col("v").alias("node"), "landmark")
                .distinct()
                .join(
                    visited.select("node", "landmark"),
                    ["node", "landmark"],
                    "left_anti",
                )
                .withColumn("dist", F.lit(hop))
            )
            nxt = nxt.localCheckpoint(eager=True)
            if nxt.isEmpty():
                break
            new_visited = visited.unionByName(nxt).persist()
            new_visited.count()
            visited.unpersist()
            visited = new_visited
            frontier = nxt
    finally:
        und.unpersist()
    return visited.select(
        "node", "landmark", F.col("dist").cast("long").alias("dist")
    )


def harmonic_centrality(
    edges: DataFrame,
    landmarks: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    landmark_col: str = "landmark",
    max_hops: int = 3,
) -> DataFrame:
    """Landmark-estimated harmonic centrality in exact ppm integers:
    (node, harmonic_ppm, n_reached) with
    ``harmonic_ppm = sum over reaching landmarks of 1e6 div dist``
    (truncating division — engine-neutral) and the landmark's own
    dist-0 self row excluded.  With landmarks = all nodes this IS
    Boldi & Vigna's harmonic centrality restricted to ``max_hops``;
    a sampled landmark set is the standard estimator at scale.  One
    (node)-keyed aggregation over the composite BFS state."""
    dists = landmark_bfs(
        edges, landmarks, src, dst, landmark_col, max_hops
    )
    return (
        dists.filter(F.col("dist") > 0)
        .groupBy("node")
        .agg(
            F.sum(
                F.expr("1000000 div dist").cast("long")
            ).alias("harmonic_ppm"),
            F.count("*").alias("n_reached"),
        )
    )


def neighbor_feature_agg(
    vertices: DataFrame,
    edges: DataFrame,
    feat_cols: list[str],
    id_col: str = "id",
    src: str = "src",
    dst: str = "dst",
    rounds: int = 2,
) -> DataFrame:
    """GraphSAGE-style mean-pooling message passing (Hamilton et al.,
    NeurIPS'17 — the "mean" aggregator) in EXACT integer arithmetic:
    per round, every vertex's feature vector becomes

        h_r(v) = (h_{r-1}(v) + sum over in-neighbors h_{r-1}(u))
                   div (1 + indeg(v))

    i.e. the truncated mean over the vertex and its in-neighborhood —
    the standard self-loop-augmented mean aggregation, with ``div``
    (never ``/``) so every engine reproduces the result bit-exactly.
    Graph-feature pipelines use this to propagate quality/spam/topic
    scores a bounded number of hops (fixed ``rounds``, no fixpoint).

    EXACTNESS CONTRACT: features must be NON-NEGATIVE integers
    (micro-unit encode signed scores as offsets) — truncating and
    flooring division agree only on non-negative operands, so the
    cross-engine guarantee holds there. Magnitudes are self-bounded:
    a truncated mean never exceeds max(|feat|), so the per-group sum
    is bounded by max_feat x (1 + max_indeg) — BIGINT-safe for any
    realistic feature scale (1e6) times in-degree (<= 9e12).

    Scale shape: per round ONE src-keyed equi-join (messages) + ONE
    dst-keyed partial-agg sum + ONE id-keyed rejoin — all
    hash-partitioned on vertex ids, no iteration-dependent state; the
    in-degree table is computed once. ``rounds`` is a small constant
    (receptive field), so the plan depth is fixed and needs no
    checkpoint laundering.
    """
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    if not feat_cols:
        raise ValueError("feat_cols must be non-empty")
    cur = vertices.select(
        F.col(id_col).alias("_id"),
        *[F.col(c).cast("long").alias(c) for c in feat_cols],
    )
    # edges whose src has no vertex row carry no message but WOULD
    # count in the divisor — a dangling src would deflate its
    # target's mean every round. One semi-join (outside the loop)
    # restricts both the messages and the degree to the same edge set.
    edges = edges.join(
        cur.select(F.col("_id").alias("_vid")),
        F.col(src) == F.col("_vid"),
        "left_semi",
    )
    deg = edges.groupBy(F.col(dst).alias("_id")).agg(
        F.count(F.lit(1)).alias("_indeg")
    )
    for _ in range(rounds):
        msgs = (
            edges.select(
                F.col(src).alias("_mid"), F.col(dst).alias("_id")
            )
            .join(cur.withColumnRenamed("_id", "_mid"), "_mid")
            .groupBy("_id")
            .agg(*[F.sum(c).alias(f"{c}_s") for c in feat_cols])
        )
        cur = (
            cur.join(msgs, "_id", "left")
            .join(deg, "_id", "left")
            .select(
                "_id",
                *[
                    F.expr(
                        f"({c} + coalesce({c}_s, 0L))"
                        f" div (1 + coalesce(_indeg, 0L))"
                    ).alias(c)
                    for c in feat_cols
                ],
            )
        )
    return cur.select(F.col("_id").alias(id_col), *feat_cols)
