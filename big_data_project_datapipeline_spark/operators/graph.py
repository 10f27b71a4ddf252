"""Iterative graph analytics over (src, dst) edge frames: PageRank,
personalized PageRank, HITS, connected components, k-core and k-truss
peels, triangle census and local clustering, link prediction, BFS,
label propagation, harmonic centrality and modularity.

The iterative operators are Pregel-shaped: rank or label state lives in
a node DataFrame and each iteration is the relational message pass
``edges ⋈ state → groupBy(node)``. No driver-side graph state at all;
the only scalars are bounded O(1)-output counts folded into later
expressions as literals.

Each kernel that several operators run exists once, as a private
helper:

- ``_sym_edges``: both directions of every edge, NULL endpoints and
  self-loops dropped — :func:`connected_components`,
  :func:`kcore_peel`, :func:`label_propagation`, :func:`bfs_distance`,
  :func:`multi_source_bfs`. Each caller adds its own distinct and
  caching tail.
- ``_canon_edges``: the distinct canonical (least, greatest) pairs —
  :func:`triangle_count`, :func:`local_clustering`,
  :func:`neighbor_jaccard`, :func:`ktruss_peel`, :func:`modularity`.
- ``_canon_degree``: node degree over canonical pairs —
  ``_triangles`` and :func:`modularity`.
- ``_triangles``: degree-ordered wedge enumeration and its closing
  semi-join — :func:`triangle_count`, :func:`local_clustering`,
  :func:`ktruss_peel`.
- ``_node_frame``: the distinct endpoints of an edge frame —
  :func:`pagerank`, :func:`personalized_pagerank`, :func:`hits`.
- ``_pagerank_edges``: the persisted, co-partitioned out-degree edge
  frame — :func:`pagerank` (unweighted), :func:`personalized_pagerank`.
- ``_pagerank_sweeps``: the fixed-count rank sweep loop —
  :func:`pagerank`, :func:`personalized_pagerank`.
- ``_frontier_bfs``: the settle-once frontier loop —
  :func:`bfs_distance`, :func:`multi_source_bfs`.

Parity: the PageRank per-target contribution sum accumulates in
DECIMAL(28,12) (cast from the double ``pr/deg`` — the same
order-independence device as functions/text.unigram_logprob_scores),
so partition order cannot wiggle low-order bits and a SQL engine
unrolling the same iterations reproduces every rank bit-for-bit before
the final round(6).

Scale: PageRank edges are repartitioned on src once and persisted —
iterations reuse the co-partitioned edge frame, so each pass shuffles
only the O(nodes) rank frame, never the edge list. Dangling nodes
(out-degree 0) lose their mass, as in the simplified textbook
formulation; feed an undirected (symmetrized) edge list to avoid them
entirely.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from big_data_project_datapipeline_spark.operators.caching import (
    attach_cache_release,
    release_local_checkpoint,
)

# HITS contribution-accumulator type. Module-level so the overflow
# regression test can shrink the ceiling and exercise the NULL-score
# detector without a 1e8-edge graph; production value documented in
# hits()'s docstring.
_HITS_DEC = "decimal(28,12)"


def _sym_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Both directions of every edge as (u, v): NULL endpoints and
    self-loops drop, duplicates stay — each caller adds its own
    distinct and caching tail."""
    a, b = F.col(src), F.col(dst)
    e0 = (
        edges.select(a.alias("u"), b.alias("v"))
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
        .filter(F.col("u") != F.col("v"))
    )
    return e0.union(e0.select(F.col("v").alias("u"), F.col("u").alias("v")))


def _canon_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Distinct canonical (u < v) pairs of an undirected edge list:
    either or both directions and duplicates collapse; NULL endpoints
    and self-loops drop."""
    a, b = F.col(src), F.col(dst)
    return (
        edges.select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _canon_degree(canon: DataFrame) -> DataFrame:
    """(n, d): the degree of every node of a canonical edge set."""
    return (
        canon.select(F.col("u").alias("n"))
        .union(canon.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )


def _triangles(canon: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Degree-ordered triangle enumeration over a canonical edge set
    (the node-iterator++ of Suri & Vassilvitskii 2011): returns the
    degree frame (n, d) and one (p, x, y) row per triangle, p its
    lowest-(degree, id) vertex and x < y the other two.

    Every edge is oriented from the endpoint with the smaller
    (degree, id) to the larger, so each triangle has exactly ONE vertex
    with two out-edges — wedges are enumerated only there, bounding the
    wedge count by O(m^1.5) regardless of hot hubs (a star graph
    generates ZERO wedges at the hub, because all its edges point
    toward it)."""
    deg = _canon_degree(canon)
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    # orient low (deg, id) -> high (deg, id)
    oriented = (
        canon.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("s"), F.col("v").alias("t")),
            )
            .otherwise(
                F.struct(F.col("v").alias("s"), F.col("u").alias("t"))
            )
            .alias("e")
        )
        .select(F.col("e.s").alias("s"), F.col("e.t").alias("t"))
    )
    w1 = oriented.select(F.col("s").alias("p"), F.col("t").alias("x"))
    w2 = oriented.select(F.col("s").alias("p"), F.col("t").alias("y"))
    wedges = w1.join(w2, "p").filter(F.col("x") < F.col("y"))
    # close the wedge: the third edge is oriented x->y or y->x; both
    # endpoints rank above the pivot, so check the UNDIRECTED canonical
    # pair against the oriented set symmetrized once (small relative to
    # wedges).
    closing = oriented.select(
        F.col("s").alias("x"), F.col("t").alias("y")
    ).union(
        oriented.select(F.col("t").alias("x"), F.col("s").alias("y"))
    )
    return deg, wedges.join(closing, ["x", "y"], "left_semi")


def _node_frame(e: DataFrame, src: str, dst: str) -> DataFrame:
    """(node): the distinct endpoints of an edge frame."""
    return (
        e.select(F.col(src).alias("node"))
        .union(e.select(F.col(dst).alias("node")))
        .distinct()
    )


def _pagerank_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """The persisted PageRank edge frame: distinct (src, dst) rows with
    the src's out-degree as ``deg``, hash-partitioned and sorted on
    src."""
    # One-exchange edge prep (guide §2.4): repartition the
    # RAW edges on src FIRST, then dedup — hash(src) partitioning
    # satisfies the (src, dst) dedup's clustering requirement, so the
    # aggregate runs partition-local on the one exchange. The
    # out-degree then comes from a WINDOW over the same partitioning.
    # Deriving deg as a SECOND aggregate branch joined back would count
    # on ReusedExchange to share the repartition — but AQE does not
    # reuse it (verified in the executed plan:
    # two independent ShuffleQueryStages, the entire upstream edge
    # build executed twice). count(*) OVER (PARTITION BY src) needs no
    # second branch, no join, and its required sort IS the
    # sortWithinPartitions the cached frame wants anyway. Same-session
    # A/B at sf0.1 (q87 co-purchase build, noop sink): join-deg
    # 5.53/2.69 s vs window-deg 2.29/1.25 s, values identical.
    #
    # The one-time sort makes the cached frame BOTH hash-partitioned
    # AND sorted on the join key; InMemoryTableScan exposes the cached
    # plan's outputPartitioning/outputOrdering, so every iteration's
    # SortMergeJoin skips exchange AND sort on the O(edges) side —
    # only the O(nodes) rank frame shuffles+sorts per sweep. Without
    # it each sweep re-sorted the edge side: an sf10 attribution run
    # measured 78 GB of external-sort spill across 3
    # iterations on the 60M-edge co-purchase graph; the one-time sort
    # at cache fill removes all of it. At gate SFs AQE broadcasts the
    # rank side instead and the sort is simply unused.
    return (
        edges.select(src, dst)
        .repartition(F.col(src))
        .distinct()
        .withColumn("deg", F.count(F.lit(1)).over(Window.partitionBy(src)))
        .sortWithinPartitions(src)
        .persist()
    )


def _pagerank_sweeps(
    e: DataFrame,
    nodes: DataFrame,
    ranks: DataFrame,
    teleport: Column,
    msg: Column,
    src: str,
    dst: str,
    damping: float,
    n_iter: int,
    checkpoint_every: int,
) -> DataFrame:
    """``n_iter`` sweeps pr = teleport + damping·Σ msg from the
    (node, pr) frame ``ranks``, over the persisted edge frame ``e``
    (``msg`` reads its columns and ``pr``) and the persisted O(nodes)
    frame ``nodes``. Returns (node, pr) with pr round(6), releasing
    ``e``, ``nodes`` and the sweep snapshots with the result."""
    # LAZY per-sweep checkpoints (the kcore_peel device): the
    # iteration count is fixed, so no sweep needs an action of its own.
    # Lazy does not mean deferred to the caller, though. Under AQE,
    # building a checkpoint calls queryExecution.toRdd, which runs
    # every upstream shuffle stage of the sweep right away, one job
    # each; only the sweep's final, shuffle-free stage waits, and the
    # next sweep's first stage computes it. So the sweeps run in order
    # while this loop builds the plan, and only the last sweep's final
    # stage runs at the caller's action: a cold q87 at sf0.001 runs 19
    # jobs while it is built and 1 at its toPandas. What eager adds is
    # one more job and AQE replan per sweep, to fill each snapshot.
    # Cold-path A/B at sf0.1 (same session, q87 build): eager 12.4 s
    # vs lazy 5.8 s first run, 4.7 s both warm — the eager jobs only re-paid
    # driver planning. Plan depth stays O(1) per sweep either way
    # (LogicalRDD leaf). Snapshots ride on the result and free
    # (blocking) with it — so all n_iter of them stay pinned until
    # then (see the Memory note of pagerank's docstring).
    snaps: list[DataFrame] = []
    for _i in range(n_iter):
        contrib = (
            e.join(ranks.withColumnRenamed("node", src), src)
            .select(
                F.col(dst).alias("node"),
                msg.cast("decimal(28,12)").alias("w"),
            )
        )
        sums = contrib.groupBy("node").agg(
            F.sum("w").cast("double").alias("s")
        )
        ranks = (
            nodes.join(sums, "node", "left")
            .select(
                "node",
                (
                    teleport
                    + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("pr"),
            )
        )
        if checkpoint_every and (_i + 1) % checkpoint_every == 0:
            ranks = ranks.localCheckpoint(eager=False)
            snaps.append(ranks)
    out = ranks.select("node", F.round("pr", 6).alias("pr"))
    # The persisted edge/node frames must not pin executor memory for
    # the session lifetime; eager checkpointing here was measured 1.9x
    # slower at sf0.1, so instead their release is tied to the result's
    # lifetime (auto on GC, or operators.caching.release_caches for
    # explicit control) — as are the sweep snapshots the result's plan
    # reads, which would otherwise drain only via ContextCleaner GC and
    # accumulate across runs.
    return attach_cache_release(out, (e, nodes), snapshots=snaps)


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    n_iter: int = 3,
    checkpoint_every: int = 1,
    weight: str | None = None,
) -> DataFrame:
    """Fixed ``n_iter`` PageRank sweeps over a (src, dst) edge list
    (deduplicated internally). Returns (node, pr) with pr round(6).

    ``weight``: optional edge-weight column — contributions become
    ``pr(src) · w(src,dst) / Σ_dst w(src,·)`` (duplicate (src,dst)
    rows SUM their weights; integral weights recommended so the
    weight totals are exact and only the one contribution division is
    IEEE, the same parity budget as the unweighted ``pr/deg``).
    Default None keeps the unweighted plan byte-identical.

    ``checkpoint_every=k`` localCheckpoints the rank frame every k
    iterations (the q119 lineage-cap device): the O(nodes) state
    truncates to a LogicalRDD leaf, so the plan stays O(k) deep at
    any sweep count. Default ON (k=1): in an interleaved sf0.1 A/B on
    the q87 co-purchase graph (two sessions, best-of-2 each,
    clearCache between runs), checkpointed took 7.32/5.92 s best vs
    unrolled 7.60/7.69 s, and the
    COLD first run is where the unrolled plan really pays — its
    299-Exchange plan string costs planner/codegen time every fresh
    session while the checkpointed plan is 0 post-loop Exchanges.
    Values are bit-identical (checkpointing only snapshots the same
    partitions). localCheckpoint is executor-local (not recomputable
    on executor loss) — on an unreliable cluster swap in
    ``setCheckpointDir`` + ``.checkpoint()``, or set k=0 to keep the
    pure-lineage unrolled plan (ReusedExchange still shares each
    shuffle within the single action, so k=0 only re-pays plan cost,
    not execution).

    Memory: the per-sweep snapshots fill while the loop builds the
    plan (the last one at the caller's action; see the comment in
    ``_pagerank_sweeps``), and every one stays pinned until the result
    is released
    (``operators.caching.release_caches``) or garbage-collected.
    Executor storage therefore holds O(``n_iter``) O(nodes) frames at
    once (spilling to disk under ``MEMORY_AND_DISK``, not failing); for
    deep sweep counts on large graphs, raise ``checkpoint_every`` or
    run fewer sweeps per call.
    """
    if weight is not None:
        # duplicate (src,dst) rows sum their weights; "deg" becomes the
        # src's total outgoing weight so the unweighted sweep runs
        # unchanged (contribution = pr·w/deg with w folded in).
        # Integral weights (recommended, see docstring) keep the window
        # fold exact; float weights sum in unspecified order. Same
        # one-exchange, sorted prep as _pagerank_edges.
        e = (
            edges.repartition(F.col(src))
            .groupBy(src, dst)
            .agg(F.sum(weight).alias("__w"))
            .withColumn("deg", F.sum("__w").over(Window.partitionBy(src)))
            .sortWithinPartitions(src)
            .persist()
        )
        # Weight validation: a NULL weight NULLs the whole
        # (src,dst) group sum, NULL/zero totals NULL the contribution
        # (silently dropped from the rank SUM), and negative weights
        # break the stochastic-matrix semantics — all three would ship
        # silently-wrong ranks. One bounded O(1)-output action on the
        # already-persisted edge frame (weighted path only; it doubles
        # as the cache fill the node distinct below reads through).
        w = e.agg(
            F.sum(F.col("__w").isNull().cast("int")).alias("nnull"),
            F.min("__w").alias("wmin"),
        ).first()
        if (w["nnull"] or 0) > 0 or (
            w["wmin"] is not None and w["wmin"] <= 0
        ):
            e.unpersist()
            raise ValueError(
                "pagerank(weight=): edge weights must be non-NULL and "
                f"strictly positive (saw nulls={w['nnull'] or 0}, "
                f"min={w['wmin']}) — NULL/zero out-weight totals drop "
                "contributions from the rank sums silently and "
                "negative weights break the stochastic-matrix "
                "semantics."
            )
        msg = F.col("pr") * F.col("__w") / F.col("deg")
    else:
        e = _pagerank_edges(edges, src, dst)
        msg = F.col("pr") / F.col("deg")
    # nodes is an O(nodes) frame referenced by EVERY unrolled iteration
    # — persist it or the final plan recomputes the edge distinct once
    # per iteration.
    nodes = _node_frame(e, src, dst).persist()
    # The node count folds in as a LITERAL (one bounded O(1)-output
    # action on the already-persisted node frame) instead of a 1-row
    # crossJoin(broadcast(agg)) referenced by every unrolled iteration —
    # that shape would re-run the count subtree + a broadcast exchange
    # n_iter+1 times.
    # Parity: (1-damping)/n and 1/n are IEEE double divisions whether
    # evaluated in Python or in the engine, so ranks are bit-identical
    # to the crossJoin formulation and to the unrolled SQL oracle.
    n = nodes.count()
    return _pagerank_sweeps(
        e,
        nodes,
        nodes.select("node", F.lit(1.0 / n).alias("pr")),
        F.lit((1.0 - damping) / n),
        msg,
        src,
        dst,
        damping,
        n_iter,
        checkpoint_every,
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "node",
    damping: float = 0.85,
    n_iter: int = 3,
    checkpoint_every: int = 1,
) -> DataFrame:
    """Fixed ``n_iter`` personalized-PageRank sweeps: the teleport
    mass returns to the SEED set instead of the whole graph, so the
    stationary direction measures proximity *to the seeds* — the
    standard seed-expansion / related-items primitive a global
    pagerank cannot express (its ranks are query-independent).
    Returns (node, pr) with pr round(6).

    Semantics: restart vector r(v) = 1/|S| for v in S (seeds
    intersected with the graph's node set; duplicates collapse),
    0 elsewhere; pr_0 = r; each sweep pr = (1-d)·r + d·M·pr with the
    same simplified-textbook dangling treatment, decimal(28,12)
    contribution accumulation, co-partitioned+sorted persisted edge
    frame, and per-sweep localCheckpoint default as :func:`pagerank`
    (the same ``_pagerank_edges`` and ``_pagerank_sweeps``). |S| folds
    in as a literal from one bounded count on the persisted
    seed-flagged node frame — the q87 node-count device.

    Raises ValueError when no seed is present in the graph (a PPR
    over an empty restart set has no meaning; returning the zero
    vector silently would hide a wiring bug upstream).

    Memory: as :func:`pagerank`, all O(``n_iter``) sweep snapshots stay
    pinned until the result is released or garbage-collected.
    """
    e = _pagerank_edges(edges, src, dst)
    seed_nodes = seeds.select(F.col(seed_col).alias("node")).distinct()
    nodes = (
        _node_frame(e, src, dst)
        .join(seed_nodes.withColumn("__seed", F.lit(1)), "node", "left")
        .select("node", F.coalesce(F.col("__seed"), F.lit(0)).alias("__seed"))
        .persist()
    )
    ns = nodes.agg(F.sum("__seed").alias("s")).first()["s"] or 0
    if ns == 0:
        # release before raising: the error path must not leak the two
        # persisted frames for the session lifetime
        e.unpersist()
        nodes.unpersist()
        raise ValueError(
            "personalized_pagerank(): no seed appears in the graph's "
            "node set — the restart vector would be empty."
        )
    # restart term per node, folded as literals: seeds get 1/|S|
    restart = F.when(
        F.col("__seed") == 1, F.lit(1.0 / ns)
    ).otherwise(F.lit(0.0))
    return _pagerank_sweeps(
        e,
        nodes,
        nodes.select("node", restart.alias("pr")),
        F.lit(1.0 - damping) * restart,
        F.col("pr") / F.col("deg"),
        src,
        dst,
        damping,
        n_iter,
        checkpoint_every,
    )


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 3,
    checkpoint_every: int = 1,
) -> DataFrame:
    """Fixed ``n_iter`` HITS sweeps (Kleinberg 1999) over a DIRECTED
    (src, dst) edge list (deduplicated internally): authority(v) =
    Σ_{u→v} hub(u), then hub(u) = Σ_{u→v} authority(v) — the mutual
    reinforcement that PageRank's single rank vector cannot express
    (a node can be a great *pointer* without being a great *target*;
    on a bipartite purchase graph hubs are the broad buyers and
    authorities the widely-bought items). Returns (node, hub, auth),
    both L1-normalized and round(6).

    Iterations run UNNORMALIZED and the L1 normalization happens once
    at the end: per-step scalars factor out of the linear updates, so
    in exact arithmetic the final direction is identical, and skipping
    the per-step scalar keeps the unrolled plan literal-free (no
    mid-plan aggregate scalars; the two final sums fold in as literals
    from one bounded action on the persisted result — the q87 node-
    count device). Magnitude headroom: values grow ~(in·out degree)
    per sweep; contributions are cast DECIMAL(28,12) (the pagerank
    order-independence device — partition order cannot wiggle bits)
    and Spark/DuckDB both widen the SUM to (38,12), so 3 sweeps stay
    exact-representable up to ~1e12-degree-product graphs. That bound
    is ENFORCED, not just documented: with ``n_iter > 3``
    the hub frame is L1-normalized after every sweep (one bounded
    action per sweep; the scalar folds in as a literal, so the final
    direction is unchanged in exact arithmetic), and overflow-to-NULL
    under non-ANSI execution is detected EXACTLY via a sticky
    per-node overflow flag threaded through every sweep (presence
    markers on the final frame alone would witness only NULLs that
    SURVIVED to the last sweep — an intermediate NULL is dropped by
    the next sweep's SUM and can heal into depressed-but-non-NULL
    final scores). The flag costs one int column and two expressions
    per sweep — zero extra jobs: a contribution row is flagged when
    its input score is NULL, already-flagged, or NULLed by the
    decimal cast, and a node's new flag ORs its inputs' flags with
    the sum-overflow witness (``SUM`` returning NULL). Any flag
    reaching the final state raises. The final bounded action also
    still reads max(|h|), max(|a|) and raises at 1e15 — within 10x of
    decimal(28,12)'s 1e16 ceiling — as an early warning BEFORE a
    hotter graph or one more sweep would overflow. (Under Spark 4's
    default ANSI mode the overflow raises at execution; both devices
    are defense-in-depth for non-ANSI deployments.)

    Scale: the :func:`pagerank` shape with one twist — HITS alternates
    its message-pass join key (auth pass joins edges on src, hub pass
    on dst), so ONE co-partitioned edge copy would re-shuffle the
    whole edge list every other half-sweep. Two persisted copies, one
    partitioned per key (2x edge storage, the standard trade), make
    every half-sweep one equi-join + one map-side-combinable groupBy
    that shuffles only the O(nodes) score frame — measured 11.4 s →
    ~7 s warm at sf0.1 for 3 sweeps.

    ``checkpoint_every=1`` (default) localCheckpoints the hub frame
    after every sweep — the q119 lineage-cap device. An interleaved
    sf0.1 A/B (two sessions, best-of-2 each, clearCache between
    runs) measured: plan string 749 → 89 Exchanges, warm best 8.87/7.61 s vs unrolled 9.26/7.62 s, and the
    COLD first run falls 14.7/13.5 s → 8.9/8.7 s because the
    749-Exchange unrolled plan re-pays planner/codegen every fresh
    session (execution itself was already shared via ReusedExchange —
    the q121 finding — so the win is plan cost, not saved shuffles).
    Values bit-identical. Deeper sweeps grow the unrolled plan
    without bound; the checkpointed plan stays O(1). k=0 restores the
    pure-lineage shape; on clusters with preemptible executors swap
    in ``setCheckpointDir`` + ``.checkpoint()``.

    Memory: as :func:`pagerank`, all O(``n_iter``) sweep snapshots stay
    pinned until the result is released or garbage-collected.
    """
    if n_iter < 1:
        raise ValueError("n_iter must be >= 1")
    # sortWithinPartitions: the cached copies expose partitioning AND
    # ordering on their half-sweep join key, so each sweep's
    # SortMergeJoin shuffles+sorts only the O(nodes) score frame (see
    # _pagerank_edges — an sf10 attribution run measured ~68 GB of per-sweep
    # edge-side sort spill without this; at small scale AQE broadcasts
    # the score side and the sort is unused). repartition RAW rows
    # before the dedup so the dedup runs partition-local on the one
    # exchange (the _pagerank_edges one-shuffle prep).
    e_src = (
        edges.select(src, dst)
        .repartition(F.col(src))
        .distinct()
        .sortWithinPartitions(src)
        .persist()
    )
    # The dst-partitioned copy derives from the CACHED src copy: two
    # independent persists of the raw edges would each re-run the whole
    # upstream lineage (edge-build join + distinct) on first
    # materialization — profiled at sf1 as ~140 MB of duplicate
    # shuffle, 18% of the query total. Reading through e_src's
    # InMemoryRelation computes the lineage once and charges only the
    # unavoidable second repartition.
    e_dst = e_src.repartition(F.col(dst)).sortWithinPartitions(dst).persist()
    nodes = _node_frame(e_src, src, dst).persist()
    # The loop propagates RAW sums through inner joins: a node absent
    # from a sum frame has score exactly 0 and contributes nothing to
    # the next pass, so completing each frame to all nodes with
    # coalesce-0 rows (two extra joins per sweep) changes no value —
    # the zero-fill happens ONCE on the final frames instead (measured
    # 11.4 s -> ~7 s warm at sf0.1).
    hubs = nodes.select(
        "node", F.lit(1.0).alias("h"), F.lit(0).alias("__hovf")
    )
    auths = None
    per_sweep_norm = n_iter > 3
    sweep_persists: list[DataFrame] = []
    snaps: list[DataFrame] = []  # lazy sweep snapshots, as _pagerank_sweeps

    def _sweep(ed, key, out_node, score_in, ovf_in, score_out, ovf_out):
        # One half-sweep with the sticky overflow flag: a contribution
        # row is flagged when its input score is NULL / already
        # flagged / NULLed by the decimal cast (w NULL covers all
        # three); the node's new flag ORs its inputs' flags with the
        # sum-overflow witness (SUM over decimals returning NULL under
        # non-ANSI). Same join + map-side-combinable groupBy as
        # before — the flag adds expressions, not jobs or shuffles.
        return (
            ed.select(
                F.col(out_node).alias("node"),
                F.col(score_in).cast(_HITS_DEC).alias("w"),
                F.greatest(
                    F.col(ovf_in), F.col(score_in).cast(_HITS_DEC).isNull().cast("int")
                ).alias("row_ovf"),
            )
            .groupBy("node")
            .agg(
                F.sum("w").alias("raw"),
                F.max("row_ovf").alias("in_ovf"),
            )
            .select(
                "node",
                F.col("raw").cast("double").alias(score_out),
                F.greatest(
                    F.col("in_ovf"), F.col("raw").isNull().cast("int")
                ).alias(ovf_out),
            )
        )

    for _i in range(n_iter):
        auths = _sweep(
            e_src.join(hubs.withColumnRenamed("node", src), src),
            src, dst, "h", "__hovf", "a", "__aovf",
        )
        if _i == n_iter - 1:
            # The final auths frame has TWO consumers — the hub
            # half-sweep just below and the state join after the loop
            # — and an unpersisted plan node with two consumers
            # recomputes its whole upstream chain once per consumer
            # (profiled: every loop stage TWICE with identical bytes,
            # ~204 MB = half the loop shuffle at sf1). Persist must
            # happen HERE, before the half-sweep, so BOTH consumers
            # read the cache: the half-sweep's shuffle stage, which
            # runs when its checkpoint is built (or at the post-loop
            # bounded action when this sweep is not checkpointed),
            # fills the cache for the other consumer (Spark serializes
            # concurrent fills per partition).
            auths = auths.persist()
        hubs = _sweep(
            e_dst.join(auths.withColumnRenamed("node", dst), dst),
            dst, src, "a", "__aovf", "h", "__hovf",
        )
        ckpted = checkpoint_every and (_i + 1) % checkpoint_every == 0
        if ckpted:
            # lazy — building it runs the sweep's shuffle stages now,
            # and the next sweep (or the post-loop bounded action)
            # computes its final stage (see _pagerank_sweeps; cold-path
            # job/replan cost, not execution, is what eagerness pays)
            hubs = hubs.localCheckpoint(eager=False)
            snaps.append(hubs)
        if per_sweep_norm:
            # overflow guard for deep runs: rescale the carrier frame
            # to L1 = 1 after every sweep so per-sweep growth is
            # bounded by the edge count, never the degree-product
            # power. One bounded O(nodes) action; the scalar folds in
            # as a literal, keeping the remaining plan literal-free.
            # (A just-checkpointed frame is already materialized
            # executor-side — persisting it again would only double
            # the O(nodes) storage.)
            if not ckpted:
                hubs = hubs.persist()
                sweep_persists.append(hubs)
            s = hubs.agg(
                F.sum(F.col("h").cast(_HITS_DEC))
                .cast("double")
                .alias("s")
            ).first()["s"]
            hubs = hubs.select(
                "node",
                (F.col("h") / F.lit(s or 1.0)).alias("h"),
                "__hovf",
            )
    # (auths was persisted inside the loop, before the final hub
    # half-sweep — see the comment there.)
    # The sticky __hovf/__aovf flags arrive here having witnessed
    # EVERY overflow-to-NULL event across all sweeps (including
    # intermediate ones that healed into depressed-but-non-NULL final
    # scores, which final-frame presence markers would miss). A
    # left-join miss is a node with no in/out edges —
    # score exactly 0, no sweep ever touched it — so its flag
    # coalesces to 0.
    state = (
        nodes.join(hubs, "node", "left")
        .join(auths, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("h"), F.lit(0.0)).alias("h"),
            F.coalesce(F.col("a"), F.lit(0.0)).alias("a"),
            F.coalesce(F.col("__hovf"), F.lit(0)).alias("__hnull"),
            F.coalesce(F.col("__aovf"), F.lit(0)).alias("__anull"),
        )
        .persist()
    )
    sums = state.agg(
        F.sum(F.col("h").cast(_HITS_DEC)).cast("double").alias("sh"),
        F.sum(F.col("a").cast(_HITS_DEC)).cast("double").alias("sa"),
        F.max(F.abs(F.col("h"))).alias("mh"),
        F.max(F.abs(F.col("a"))).alias("ma"),
        F.sum("__hnull").alias("nh"),
        F.sum("__anull").alias("na"),
    ).first()
    if (sums["nh"] or 0) + (sums["na"] or 0) > 0:
        raise ValueError(
            "hits(): NULL hub/auth contribution detected during the "
            f"sweeps — a {_HITS_DEC} cast or sum overflowed mid-run "
            "(Spark's non-ANSI overflow-to-NULL; later sweeps silently "
            "drop NULL terms, so final scores would be depressed). "
            "Rerun with n_iter > 3 (per-sweep normalization) or "
            "pre-scale the graph."
        )
    if not per_sweep_norm and max(sums["mh"] or 0.0, sums["ma"] or 0.0) >= 1e15:
        raise ValueError(
            "hits(): unnormalized scores reached 1e15 — within 10x of "
            "the decimal(28,12) ceiling where Spark's non-ANSI "
            "overflow-to-NULL silently drops sum terms. This graph's "
            "degree products are too hot for the unnormalized "
            f"{n_iter}-sweep fast path; rerun with n_iter > 3 "
            "(per-sweep normalization) or pre-scale the graph."
        )
    sh = sums["sh"] or 1.0
    sa = sums["sa"] or 1.0
    out = state.select(
        "node",
        F.round(F.col("h") / F.lit(sh), 6).alias("hub"),
        F.round(F.col("a") / F.lit(sa), 6).alias("auth"),
    )
    return attach_cache_release(
        out,
        (e_src, e_dst, nodes, auths, state, *sweep_persists),
        snapshots=snaps,
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 20,
    nodes: DataFrame | None = None,
    node_col: str = "node",
) -> DataFrame:
    """Connected components of a GENERAL undirected graph (cycles
    welcome — the companion `functions/dedup.resolve_dup_clusters`
    only handles parent forests): returns (node, component) where
    ``component`` is the smallest node id in the node's component.
    Input may carry either or both edge directions plus duplicates;
    self-loops and NULL endpoints are dropped. By default nodes are
    DEFINED by the edge set; pass the optional ``nodes`` frame (one
    ``node_col`` column — e.g. the entity table's key column, which
    at 100 TB always has degree-0 members an edge list can't
    represent) to emit isolated vertices too, each as its own
    singleton component. The isolated remainder joins in AFTER the
    fixpoint (one anti-join + union), so the iteration loop never
    carries degree-0 rows and the default plan is unchanged.

    Algorithm: min-label propagation fused with pointer jumping
    (the hash-to-min family, Rastogi et al. 2012). Each round
    1. pulls the min label across edges (one equi-join on the
       symmetrized edge list + one map-side-combinable groupBy MIN —
       the only O(edges) shuffle per round), then
    2. pointer-jumps label(u) <- label(label(u)) (one O(nodes)
       self-join), halving label-tree depth,
    so rounds needed are O(log diameter), not O(diameter). Labels
    only decrease and are always ids from the same component, so the
    fixpoint is exactly the component minimum.

    Scale shape: the symmetrized edge list is repartitioned on the
    join key once and persisted (every round's propagate joins it —
    the pagerank device); per-round state is O(nodes) and is
    ``localCheckpoint``ed (per-round caching cannot
    bound the unrolled plan either way — leaked caches nest a level
    per round, correctly-unpersisted caches re-inline upstream
    lineage into dependents), so the plan stays O(1) at any depth;
    each superseded round's snapshot is freed EAGERLY (blocking) as
    soon as the next round materializes, so executor storage is O(1)
    rounds too — including on the non-convergence raise path. The
    convergence probe materializes the round it checks.

    Raises ``ValueError`` if the fixpoint is not reached within
    ``max_iters`` rounds, rather than return not-yet-merged labels. Pointer jumping needs ~log2 of
    the label-tree depth rounds, so the default 20 covers any graph a
    pathological input short of ~2^20 effective depth; raise
    ``max_iters`` rather than trusting truncated labels.
    """
    # partitioned AND sorted on the per-round join key (the
    # _pagerank_edges device: the cached ordering lets every round's
    # SortMergeJoin skip the O(edges)-side sort)
    sym = (
        _sym_edges(edges, src, dst)
        .repartition(F.col("u"))
        .distinct()
        .sortWithinPartitions("u")
        .persist()
    )
    parent = (
        sym.select(F.col("u").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("comp"))
        .localCheckpoint()
    )
    # handle on the round's snapshot so each superseded round frees
    # EAGERLY (blocking) inside the loop rather than waiting on
    # ContextCleaner GC — bounds executor storage at O(1) rounds and
    # makes the raise path deterministic
    prev_snap = parent
    for _ in range(max_iters):
        nb_min = (
            sym.join(
                parent.select(
                    F.col("node").alias("u"), F.col("comp").alias("nc")
                ),
                "u",
            )
            .groupBy(F.col("v").alias("node"))
            .agg(F.min("nc").alias("nb"))
        )
        pulled = (
            parent.join(nb_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("comp"), F.coalesce(F.col("nb"), F.col("comp"))
                ).alias("comp"),
                F.col("comp").alias("old_comp"),
            )
        )
        jumped = (
            pulled.alias("x")
            .join(
                pulled.select(
                    F.col("node").alias("comp"), F.col("comp").alias("cc")
                ).alias("y"),
                "comp",
                "left",
            )
            .select(
                F.col("x.node").alias("node"),
                F.least(
                    F.col("comp"), F.coalesce(F.col("cc"), F.col("comp"))
                ).alias("comp"),
                F.col("x.old_comp").alias("old_comp"),
            )
        )
        # The convergence probe RIDES the checkpoint's materialization
        # job via df.observe: a separate filter(...).limit(1).count()
        # would be a second O(nodes) action per round — one job per
        # round instead of two, same decision (changed > 0), values
        # untouched (observe is a pure metric).
        obs = Observation()
        jumped = jumped.observe(
            obs,
            F.sum(
                (F.col("comp") != F.col("old_comp")).cast("long")
            ).alias("changed"),
        ).localCheckpoint()
        changed = int(obs.get["changed"] or 0)
        # jumped materialized at its eager localCheckpoint above, so
        # the previous round's snapshot is unreferenced by any future
        # computation — free its blocks now
        release_local_checkpoint(prev_snap)
        prev_snap = jumped
        parent = jumped.select("node", "comp")
        if changed == 0:
            break
    else:
        # release before raising: the error path must not
        # leak the persisted symmetrized edge frame — nor the final
        # round's snapshot (no result escapes, so nothing needs it)
        release_local_checkpoint(prev_snap)
        sym.unpersist()
        raise ValueError(
            f"connected_components(): labels did not converge within "
            f"max_iters={max_iters} rounds — the returned components "
            "would be silently under-merged. Raise max_iters "
            "(pointer jumping needs ~log2(label-tree depth) rounds)."
        )
    out = parent.select("node", F.col("comp").alias("component"))
    if nodes is not None:
        isolated = (
            nodes.select(F.col(node_col).alias("node"))
            # NULL node ids drop, matching the edge path's NULL-endpoint
            # filter (a NULL here would emit a (NULL, NULL) singleton
            # while the edge path drops NULLs — inconsistent semantics
            # for the same bad input)
            .filter(F.col("node").isNotNull())
            .distinct()
            .join(parent.select("node"), "node", "left_anti")
            .select("node", F.col("node").alias("component"))
        )
        out = out.unionByName(isolated)
    # the final round's snapshot backs the result's plan — its blocks
    # free (blocking) with the result instead of draining via
    # ContextCleaner GC and accumulating across runs
    return attach_cache_release(out, (sym,), snapshots=(prev_snap,))


def kcore_peel(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    k: int = 2,
    n_rounds: int = 8,
    check_converged: bool = True,
) -> DataFrame:
    """k-core of an undirected graph by bounded-round peeling: each
    round drops every node with degree < k and every edge touching
    one, the textbook iterative peel (Matula & Beck 1983; the
    MapReduce shape of Montresor et al. 2013). Returns the surviving
    (node, degree) rows — degree measured INSIDE the core, as k-core
    semantics require. Input may carry either or both directions plus
    duplicates; self-loops and NULL endpoints are dropped.

    Runs EXACTLY ``n_rounds`` rounds (peeling is idempotent once the
    fixpoint is reached, so extra rounds are free of semantic cost) —
    a fixed round count keeps the operator bit-reproducible against a
    round-unrolled SQL twin. With ``check_converged`` (default) a
    final degree pass verifies the fixpoint and raises if one more
    round would still drop nodes (the convergence-guard contract:
    never silently return a not-yet-core superset); peeling
    removes at least one node per non-converged round, so rounds
    needed ≤ nodes, and real graphs converge in a handful.

    Scale shape: each round is one map-side-combinable degree groupBy
    + two semi-joins on the shrinking edge frame — all equi-joins on
    uniform keys, O(edges_r) per round, monotonically non-increasing.
    Per-round state is localCheckpoint-bounded (the q119 device), so
    the plan stays O(1) at any depth.
    """
    cur = _sym_edges(edges, src, dst).distinct().localCheckpoint(eager=False)
    # round snapshots ride on the result and free (blocking) with it —
    # a lazy checkpoint fills when the next round's shuffle stage runs
    # (at that round's checkpoint build, under AQE) or at the caller's
    # action, so in-loop release has no hook; the guarded release skips
    # any that never computed, and none drains only via ContextCleaner GC
    snaps = [cur]
    for _ in range(n_rounds):
        keep = (
            cur.groupBy("u")
            .agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") >= k)
            .select("u")
        )
        # lazy: unlike the convergence-probed loops (CC/resolve),
        # no round needs an action of its own; building the checkpoint
        # still runs the round's shuffle stages now (see _pagerank_sweeps)
        cur = (
            cur.join(keep, "u", "left_semi")
            .join(keep.withColumnRenamed("u", "v"), "v", "left_semi")
            .select("u", "v")
            .localCheckpoint(eager=False)
        )
        snaps.append(cur)
    if check_converged:
        dropped = (
            cur.groupBy("u")
            .agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") < k)
            .limit(1)
            .count()
        )
        if dropped:
            # release before raising: the probe above materialized the
            # whole chain, and no result escapes to carry the handles
            for s in snaps:
                release_local_checkpoint(s)
            raise ValueError(
                f"kcore_peel(): not at fixpoint after n_rounds="
                f"{n_rounds} — one more round would still drop nodes, "
                "so the survivors are a SUPERSET of the k-core. Raise "
                "n_rounds (each non-converged round removes >= 1 node)."
            )
    return attach_cache_release(
        cur.groupBy(F.col("u").alias("node")).agg(
            F.count(F.lit(1)).cast("long").alias("degree")
        ),
        (),
        snapshots=snaps,
    )


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Global triangle count over an undirected edge list (input may
    contain either or both directions + duplicates; self-loops and NULL
    endpoints are dropped). Returns one row: (n_nodes, n_edges,
    n_triangles).

    Algorithm: the degree-ordered orientation of ``_triangles`` — each
    triangle is enumerated once, at its lowest-(degree, id) vertex.

    Scale shape: canonicalize + distinct (1 shuffle), degree agg
    (1 shuffle), orientation join, wedge self-join on the pivot, and a
    closing semi-join on the oriented edge set — every join is an
    equi-join on edge/vertex keys; no cartesian anywhere. ``canon``
    and ``oriented`` each have 3-4 plan consumers; they are
    deliberately NOT persisted:
    Catalyst's ReusedExchange already computes each underlying shuffle
    ONCE and shares its files across all consumers within the single
    materializing action, so only cheap post-shuffle merge/map work
    repeats — and an interleaved A/B at sf0.1 measured the
    persisted variants consistently SLOWER (5.7-6.0 s vs 4.2-5.3 s;
    cache write+read overhead exceeds the saved recompute, and at
    100 TB an O(edges) cache adds memory pressure the reused shuffle
    files don't). The 141-Exchange q121 plan STRING is repeated
    printing of the same reused subtrees, not repeated execution."""
    canon = _canon_edges(edges, src, dst)
    deg, tri = _triangles(canon)
    return (
        tri.agg(F.count(F.lit(1)).alias("n_triangles"))
        .crossJoin(F.broadcast(deg.agg(F.count(F.lit(1)).alias("n_nodes"))))
        .crossJoin(
            F.broadcast(canon.agg(F.count(F.lit(1)).alias("n_edges")))
        )
        .select(
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.col("n_edges").cast("long").alias("n_edges"),
            F.col("n_triangles").cast("long").alias("n_triangles"),
        )
    )


def local_clustering(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node triangle counts and local clustering coefficient
    (Watts & Strogatz 1998): clustering(v) = 2·T(v) / (d(v)·(d(v)−1)),
    the fraction of a node's neighbor pairs that are themselves
    connected — the local-density readout the global census
    (:func:`triangle_count`) aggregates away. Degree-1 nodes have no
    neighbor pair; their coefficient is defined 0.0 here. Returns
    (node, degree, triangles, clustering); the coefficient is a single
    IEEE division of exact integers (bit-deterministic cross-engine,
    no rounding needed).

    Enumeration is :func:`triangle_count`'s (``_triangles``: wedges
    only at each triangle's lowest-(degree, id) vertex — O(m^1.5)
    bound, hub-proof); each closed wedge (p, x, y) is one distinct
    triangle and credits all three vertices via a map-only 3-way
    union + one groupBy.
    """
    deg, tri = _triangles(_canon_edges(edges, src, dst))
    credits = (
        tri.select(F.col("p").alias("n"))
        .union(tri.select(F.col("x").alias("n")))
        .union(tri.select(F.col("y").alias("n")))
    )
    tcount = credits.groupBy("n").agg(F.count(F.lit(1)).alias("t"))
    return (
        deg.join(tcount, "n", "left")
        .select(
            F.col("n").alias("node"),
            F.col("d").cast("long").alias("degree"),
            F.coalesce(F.col("t"), F.lit(0)).cast("long").alias("triangles"),
            F.when(
                F.col("d") >= 2,
                (F.lit(2) * F.coalesce(F.col("t"), F.lit(0))).cast("double")
                / (F.col("d") * (F.col("d") - 1)),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering"),
        )
    )


def degree_assortativity(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002) of an undirected
    graph: the Pearson correlation of endpoint degrees across the
    symmetrized edge list — do high-degree nodes attach to high-degree
    nodes (assortative, r > 0) or to low-degree ones (disassortative,
    r < 0)? Returns one row ``(n_edges, assortativity)`` with n_edges
    counted over the symmetrized list (2m).

    Determinism: all moment sums accumulate EXACTLY in decimal(38,0)
    (degrees are integers), convert to double once, and the closing
    Pearson formula is one expression both engines share; round(6) on
    the sqrt output. Factored out of the q199 entry — expression
    structure is the entry's verbatim.

    Scale shape: one map-side-combinable degree count, two equi-joins
    of the O(2m) edge list against the O(nodes) degree frame, one
    6-moment fold — no windows, no driver state.
    """
    ed = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    sym = ed.union(
        ed.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    j = (
        sym.join(deg.select(F.col("src"), F.col("d").alias("x")), "src")
        .join(
            deg.select(
                F.col("src").alias("dst"), F.col("d").alias("y")
            ),
            "dst",
        )
    )
    dec = "decimal(38,0)"
    s = j.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("x").cast(dec)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(dec)).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).cast("double").alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).cast("double").alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(dec)).cast("double").alias("syy"),
    )
    return s.select(
        F.col("n").cast("long").alias("n_edges"),
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (
                F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * F.sqrt(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
            ),
            6,
        ).alias("assortativity"),
    )


def neighbor_jaccard(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    top_k: int = 100,
    max_pivot_degree: int | None = None,
) -> DataFrame:
    """Link prediction by neighborhood overlap (Liben-Nowell & Kleinberg
    2003): for every NON-adjacent canonical pair (u < v) sharing at
    least one neighbor, the common-neighbor count and the neighbor-set
    Jaccard |N(u)∩N(v)| / |N(u)∪N(v)|; the ``top_k`` highest-scoring
    candidate links, ordered (jaccard desc, common desc, u, v) — a
    total order, so the cut is deterministic under ties. Input may
    carry either/both directions plus duplicates; self-loops and NULL
    endpoints drop.

    Jaccard is chosen over Adamic-Adar deliberately: both numerator
    and denominator are exact integers (|N(u)∪N(v)| =
    d(u)+d(v)−common), so the score is ONE IEEE division — bit-exact
    cross-engine (the local_clustering device) — where Adamic-Adar's
    Σ 1/ln(d) is an order-dependent float sum with a non-correctly-
    rounded transcendental inside.

    Scale shape: wedge enumeration at each shared-neighbor pivot w is
    O(Σ d(w)²) — unlike the triangle census, overlap counting NEEDS
    every wedge, so degree-ordered orientation cannot bound it. Hot
    hubs are the known hazard (a degree-10⁶ hub alone yields 5·10¹¹
    wedges); ``max_pivot_degree`` excludes pivots above the cap, the
    standard production mitigation (a super-hub certifies almost
    nothing about pair affinity anyway — its 1/|N∪N| contribution is
    tiny — while costing d² wedges). Default None = exact. Everything
    else is equi-joins + one map-side-combinable groupBy; the final
    cut is TakeOrdered(top_k), no global sort materialized.
    """
    canon = _canon_edges(edges, src, dst)
    sym = canon.union(
        canon.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = sym.groupBy(F.col("u").alias("n")).agg(
        F.count(F.lit(1)).alias("d")
    )
    piv = sym.select(F.col("u").alias("p"), F.col("v").alias("x"))
    if max_pivot_degree is not None:
        keep = deg.filter(F.col("d") <= max_pivot_degree).select(
            F.col("n").alias("p")
        )
        piv = piv.join(keep, "p", "left_semi")
    pairs = (
        piv.join(piv.select(F.col("p"), F.col("x").alias("y")), "p")
        .filter(F.col("x") < F.col("y"))
        .groupBy(F.col("x").alias("u"), F.col("y").alias("v"))
        .agg(F.count(F.lit(1)).alias("common"))
        .join(canon, ["u", "v"], "left_anti")
    )
    scored = (
        pairs.join(deg.select(F.col("n").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("n").alias("v"), F.col("d").alias("dv")), "v")
        .select(
            "u",
            "v",
            F.col("common").cast("long").alias("common_neighbors"),
            (
                F.col("common").cast("double")
                / (F.col("du") + F.col("dv") - F.col("common"))
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(
        F.col("jaccard").desc(), F.col("common_neighbors").desc(), "u", "v"
    ).limit(top_k)


def _frontier_bfs(
    sym: DataFrame, dist: DataFrame, keys: list[str], n_rounds: int
) -> DataFrame:
    """Settle-once frontier BFS over the checkpointed symmetrized edge
    frame ``sym`` (u, v), from the seed rows ``dist`` (*keys, node,
    dist = 0). A (*keys, node) row settles exactly once: round k joins only
    the rows first reached at round k−1, then anti-joins the settled
    set. ``keys`` ([] or ["seed"]) rides through every join, so one
    loop serves the nearest-seed and the per-seed distance."""
    snaps = [sym, dist]  # the kcore_peel release device
    frontier = dist.select(*keys, "node")
    for k in range(1, n_rounds + 1):
        new = (
            sym.join(frontier.withColumnRenamed("node", "u"), "u")
            .select(*keys, F.col("v").alias("node"))
            .distinct()
            .join(dist, [*keys, "node"], "left_anti")
            .select(*keys, "node", F.lit(k).cast("int").alias("dist"))
            .localCheckpoint(eager=False)
        )
        dist = dist.union(new).localCheckpoint(eager=False)
        snaps.extend((new, dist))
        frontier = new.select(*keys, "node")
    return attach_cache_release(dist, (), snapshots=snaps)


def bfs_distance(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    n_rounds: int = 3,
) -> DataFrame:
    """Nearest-seed BFS: exact hop distance from the nearest seed, for
    every node within ``n_rounds`` hops over the undirected graph —
    (node, dist) with dist ∈ [0, n_rounds]. The k-hop cap is the
    SEMANTICS (bounded-radius reachability), not a convergence
    shortcut, so the output is bit-reproducible against a
    round-unrolled SQL twin by construction. Seeds outside the edge
    list are kept at dist 0 (the q189 universe contract); NULL seeds
    and NULL edge endpoints drop; duplicate seeds/edges collapse.

    Scale shape: FRONTIER propagation, not full min-fold — a node's
    distance settles exactly once, so round k joins only the nodes
    first reached at round k−1 against the symmetrized edge frame
    (lazy-localCheckpointed once, computed once), then anti-joins the
    settled set. Total edge traffic is O(m) across ALL rounds (each
    edge crosses the join at most twice, once per endpoint) versus
    O(m·rounds) for the fold-everything variant; per-round state is
    localCheckpoint-bounded (the kcore_peel device), so the plan stays
    O(1) at any depth.
    """
    sym = _sym_edges(edges, src, dst).distinct().localCheckpoint(eager=False)
    dist = (
        seeds.select(F.col(node_col).alias("node"))
        .filter(F.col("node").isNotNull())
        .distinct()
        .select("node", F.lit(0).cast("int").alias("dist"))
        .localCheckpoint(eager=False)
    )
    return _frontier_bfs(sym, dist, [], n_rounds)


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_rounds: int = 3,
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) over the
    undirected graph, run EXACTLY ``n_rounds`` rounds: every node
    starts labeled with its own id; each round every node adopts its
    neighbors' modal label, ties broken by the SMALLEST label — the
    deterministic variant (the randomized-order original is
    irreproducible by design; fixed rounds + min-tie-break make the
    output bit-stable against a round-unrolled SQL twin). A node's own
    current label does not vote (neighbors only, the classic
    formulation). Self-loops, NULL endpoints, duplicate edges drop;
    nodes appear in the output iff they have ≥1 neighbor.

    Unlike connected_components (which converges to the same fixpoint
    regardless of path), LPA's round count is part of the semantics —
    communities denser than their surroundings stabilize early, and
    bounded rounds are the standard production cut (GraphFrames' LPA
    exposes maxIter the same way).

    Scale shape: per round one equi-join (edges ⋈ labels, shuffling
    only the O(nodes) label frame against the once-checkpointed edge
    frame), one map-side-combinable (node, label) count, and one
    row_number window PARTITIONED by node (full-cardinality key — no
    global window). Per-round state is localCheckpoint-bounded.
    """
    sym = _sym_edges(edges, src, dst).distinct().localCheckpoint(eager=False)
    labels = sym.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    ).localCheckpoint(eager=False)
    snaps = [sym, labels]  # the kcore_peel release device
    w = Window.partitionBy("node").orderBy(
        F.col("votes").desc(), F.col("label").asc()
    )
    for _ in range(n_rounds):
        labels = (
            sym.join(labels.withColumnRenamed("node", "u"), "u")
            .groupBy(F.col("v").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("votes"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "label")
            .localCheckpoint(eager=False)
        )
        snaps.append(labels)
    return attach_cache_release(labels, (), snapshots=snaps)


def ktruss_peel(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    k: int = 4,
    n_rounds: int = 6,
    check_converged: bool = True,
) -> DataFrame:
    """k-truss of an undirected graph by bounded-round edge peeling
    (Cohen 2008): each round recomputes per-edge triangle support over
    the surviving edges and drops every edge supported by fewer than
    k−2 triangles; the fixpoint is the maximal subgraph where every
    edge closes ≥ k−2 triangles — the EDGE-cohesion analogue of the
    k-core's vertex degree (a k-truss is always inside the (k−1)-core,
    but far denser: bridges and loose tendrils that survive coreness
    die here). Returns surviving (u, v, support) canonical edges with
    support measured INSIDE the truss. Input may carry either/both
    directions + duplicates; self-loops and NULL endpoints drop.

    Runs EXACTLY ``n_rounds`` rounds (peeling is idempotent at the
    fixpoint) for bit-reproducibility against a round-unrolled SQL
    twin; ``check_converged`` (default) re-derives support once more
    and raises if another round would still drop edges — the kcore
    convergence-guard contract: never silently return a superset.

    Scale shape: per-round support is the ``_triangles`` wedge device
    (degree-ordered orientation — wedges only at each triangle's
    lowest-(degree, id) vertex, O(m_r^1.5) bound, hub-proof), then a
    map-side-combinable per-edge credit groupBy and one semi-join to
    drop weak edges; the edge frame shrinks monotonically and each
    round's state is a lazy localCheckpoint (the kcore_peel device) so
    the plan stays O(1) at any depth.
    """
    if k < 3:
        raise ValueError("ktruss_peel(): k must be >= 3 (k-2 >= 1 triangles)")
    cur = _canon_edges(edges, src, dst).localCheckpoint(eager=False)
    snaps = [cur]  # the kcore_peel release device

    def _support(canon: DataFrame) -> DataFrame:
        """Per-edge triangle support over a canonical (u<v) edge set:
        (u, v, sup) for edges in >= 1 triangle."""
        _, tri = _triangles(canon)
        credits = (
            tri.select(
                F.least("p", "x").alias("u"), F.greatest("p", "x").alias("v")
            )
            .union(
                tri.select(
                    F.least("p", "y").alias("u"), F.greatest("p", "y").alias("v")
                )
            )
            .union(tri.select(F.col("x").alias("u"), F.col("y").alias("v")))
        )
        return credits.groupBy("u", "v").agg(F.count(F.lit(1)).alias("sup"))

    for _ in range(n_rounds):
        keep = _support(cur).filter(F.col("sup") >= k - 2).select("u", "v")
        cur = (
            cur.join(keep, ["u", "v"], "left_semi")
            .localCheckpoint(eager=False)
        )
        snaps.append(cur)
    sup = _support(cur)
    out = (
        cur.join(sup, ["u", "v"], "left")
        .select(
            "u",
            "v",
            F.coalesce(F.col("sup"), F.lit(0)).cast("long").alias("support"),
        )
        .localCheckpoint(eager=False)
    )
    snaps.append(out)
    if check_converged:
        weak = out.filter(F.col("support") < k - 2).limit(1).count()
        if weak:
            # release before raising: the probe above materialized the
            # whole chain, and no result escapes to carry the handles
            for s in snaps:
                release_local_checkpoint(s)
            raise ValueError(
                f"ktruss_peel(): not at fixpoint after n_rounds={n_rounds} "
                "— one more round would still drop edges, so the survivors "
                "are a SUPERSET of the k-truss. Raise n_rounds (each "
                "non-converged round removes >= 1 edge)."
            )
    return attach_cache_release(out, (), snapshots=snaps)


def multi_source_bfs(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    n_rounds: int = 3,
) -> DataFrame:
    """Per-seed bounded BFS: exact hop distance (seed, node, dist) from
    EVERY seed independently — the state :func:`bfs_distance` cannot
    give (its single-frontier min collapses "nearest seed" over the
    cohort; centrality needs each landmark's own distance). Same
    frontier device with the seed id threaded through the key: a
    (seed, node) pair settles exactly once, round k joins only pairs
    first reached at k−1, per-round state localCheckpoint-bounded.

    Scale contract: total edge traffic is O(|seeds| · m) across all
    rounds — a LANDMARK operator, priced for a small deterministic
    seed set (the harmonic_centrality consumer caps it); never run it
    with an unbounded seed frame. Seeds outside the edge list persist
    at dist 0 (the q189 universe contract); NULL seeds/endpoints drop;
    duplicate seeds/edges collapse.
    """
    sym = _sym_edges(edges, src, dst).distinct().localCheckpoint(eager=False)
    dist = (
        seeds.select(F.col(node_col).alias("seed"))
        .filter(F.col("seed").isNotNull())
        .distinct()
        .select(
            "seed",
            F.col("seed").alias("node"),
            F.lit(0).cast("int").alias("dist"),
        )
        .localCheckpoint(eager=False)
    )
    return _frontier_bfs(sym, dist, ["seed"], n_rounds)


def harmonic_centrality(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    n_rounds: int = 3,
) -> DataFrame:
    """Landmark harmonic centrality (Boldi & Vigna 2014 estimator
    shape): for every node within ``n_rounds`` hops of the landmark
    set, harmonic = Σ_{s : d(s,v) > 0} 1/d(s,v) over the landmarks —
    the closeness-family score that handles disconnection natively
    (unreached landmarks contribute 0, no infinite-distance fixups).
    Exact over the landmark set by :func:`multi_source_bfs`; the
    landmark restriction IS the 100 TB strategy (full all-pairs
    closeness is O(n·m) and never runs at scale).

    Parity: distances are exact integers; each 1/d term is one
    correctly-rounded IEEE division folded with the
    ``round(·, 12)``-then-decimal device (the landmark fold order can't flip
    a bit). n_reached counts landmarks at positive distance; a
    landmark's own row excludes its 0-distance self term (standard
    harmonic convention).
    """
    d = multi_source_bfs(
        edges, seeds, src=src, dst=dst, node_col=node_col,
        n_rounds=n_rounds,
    )
    pos = d.filter(F.col("dist") > 0)
    out = pos.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("n_reached"),
        F.round(
            F.sum(
                F.round(
                    F.lit(1.0) / F.col("dist").cast("double"), 12
                ).cast("decimal(20,12)")
            ).cast("double"),
            6,
        ).alias("harmonic"),
    )
    # the BFS frame's snapshot releases must not fire while this
    # derived result is alive (upstream chain)
    return attach_cache_release(out, (), upstream=(d,))


def modularity(
    edges: DataFrame,
    labels: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    label_col: str = "label",
) -> DataFrame:
    """Newman–Girvan modularity of a community assignment — the
    quality score of a partition (LPA q203, CC q187, or any label
    frame): Q = Σ_c [ e_c/m − (D_c/2m)² ], e_c = within-community
    edges, D_c = community degree sum, m = |edges|. Q ≈ 0 means the
    partition is no better than random wiring; this is the readout
    that tells you whether to TRUST the communities before acting on
    them. Returns one row per community (n_nodes, inner_edges,
    degree_sum, contribution) with the scalar ``modularity`` stamped
    on every row (the q137 broadcast-scalar shape).

    Exactness: the per-community contribution is the exact integer
    rational (4·m·e_c − D_c²) / (4m²) — numerator folded in
    decimal(38,0) (Σ_c is therefore order-free and EXACT; a float
    Σ of per-community doubles would be fold-order-dependent), ONE
    IEEE division at the surface, floor-quantized (contribution 9
    digits, modularity 6) because round(double, k) is the engine-split
    q217 trap. D_c² <= (2m)², so decimal(38,0) holds to ~1.5e18
    edges.

    Scale shape: canonical dedup (1 shuffle), degree agg, two
    label-keyed joins of the edge list, two O(communities) aggregates;
    the m scalar and the total fold broadcast back. Nodes in
    ``labels`` but outside ``edges`` contribute degree 0; edges whose
    endpoints are missing from ``labels`` are EXCLUDED from e_c (and
    from nothing else — document your label universe).
    """
    canon = _canon_edges(edges, src, dst)
    deg = _canon_degree(canon)
    m_frame = canon.agg(F.count(F.lit(1)).cast("long").alias("__m"))
    lab = labels.select(
        F.col(node_col).alias("n"), F.col(label_col).alias("community")
    )
    within = (
        canon.join(
            lab.select(F.col("n").alias("u"), F.col("community").alias("cu")),
            "u",
        )
        .join(
            lab.select(F.col("n").alias("v"), F.col("community").alias("cv")),
            "v",
        )
        .filter(F.col("cu") == F.col("cv"))
        .groupBy(F.col("cu").alias("community"))
        .agg(F.count(F.lit(1)).cast("long").alias("inner_edges"))
    )
    comm = (
        lab.join(deg, "n", "left")
        .groupBy("community")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum(F.coalesce(F.col("d"), F.lit(0)))
            .cast("long")
            .alias("degree_sum"),
        )
    )
    dec = "decimal(38,0)"
    closing = (
        comm.join(within, "community", "left")
        .crossJoin(F.broadcast(m_frame))
        .select(
            "community",
            "n_nodes",
            F.coalesce(F.col("inner_edges"), F.lit(0))
            .cast("long")
            .alias("inner_edges"),
            "degree_sum",
            (
                F.lit(4).cast(dec)
                * F.col("__m").cast(dec)
                * F.coalesce(F.col("inner_edges"), F.lit(0)).cast(dec)
                - F.col("degree_sum").cast(dec)
                * F.col("degree_sum").cast(dec)
            ).alias("__num"),
            F.col("__m"),
        )
    )
    tot = closing.agg(
        F.sum("__num").cast(dec).alias("__tnum"), F.max("__m").alias("__m2")
    )

    def _q(x, digits):
        s = F.lit(float(10 ** digits))
        return F.signum(x) * F.floor(F.abs(x) * s + F.lit(0.5)) / s

    denom = (
        F.lit(4).cast("long") * F.col("__m") * F.col("__m")
    ).cast("double")
    denom2 = (
        F.lit(4).cast("long") * F.col("__m2") * F.col("__m2")
    ).cast("double")
    out = (
        closing.crossJoin(F.broadcast(tot))
        .select(
            "community",
            "n_nodes",
            "inner_edges",
            "degree_sum",
            _q(F.col("__num").cast("double") / denom, 9).alias(
                "contribution"
            ),
            _q(F.col("__tnum").cast("double") / denom2, 6).alias(
                "modularity"
            ),
        )
    )
    # the labels/edges arguments commonly carry their own attached
    # releases (label_propagation snapshots, support-edge handles) and
    # are dropped at the call site — modularity(ed, label_propagation(
    # ed)) — while this result's plan still reads them; the upstream
    # chain defers their release to this result's lifetime
    return attach_cache_release(out, (), upstream=(edges, labels))
