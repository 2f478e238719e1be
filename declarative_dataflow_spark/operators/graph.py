"""Graph analytics over edge DataFrames: recursive aggregation.

Beyond-reference extension: recursion whose per-iteration combine is
an AGGREGATE (min) rather than set union — the lattice-monotone class
(shortest paths, reachability-with-cost) that set-semantics semi-naive
cannot express but converges under delta-driven relaxation.

Spark-first shape (delta Bellmann-Ford):

    dist_0  = edges (hop 1)
    cand_i  = delta_i ⋈ edges      (relax only rows that IMPROVED)
    dist_i+1 = min-combine(dist_i ∪ cand_i)
    delta_i+1 = dist_i+1 \\ dist_i  (strictly improved rows)

Each round is one join + one min-combine shuffle (map-side partial
aggregation), work proportional to the improved rows, and
``materialize`` truncates lineage per round — the same recursion
discipline as the engine fixpoint (engine.py::semi_naive).
Convergence in <= graph-diameter rounds.

The connected-components operator lives in dedup.py
(hash-min label propagation); this module holds the weighted variants.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, functions as F

from ..scratch import materialize, materialize_count

# PageRank update arithmetic, shared verbatim by the batch operator,
# the DuckDB oracle, and the incremental maintainer so all three agree
# bit-for-bit. Double SUMs are partition-order-dependent and rank
# updates frequently land EXACTLY on a .5e-6 rounding boundary (ranks
# are 6-decimal rationals divided by small integer degrees), so a
# float in_sum makes the final digit depend on the physical plan.
# Instead: each contribution rank/deg is rounded to 15 decimals in
# DOUBLE (exact across engines: quotients of scale-6 ranks by degrees
# whose 2^a5^b factor stays <= ~10^9 terminate before digit 15, and
# repeating quotients are never rounding midpoints), then cast to
# DECIMAL(24,15) and summed EXACTLY — decimal addition is associative
# and commutative, so any partitioning yields the same in_sum — and
# the final damping/base combine and HALF_UP round also run in
# decimal. Explicit casts pin every intermediate type so Spark and
# DuckDB cannot diverge through their different implicit
# precision-adjustment rules.
PR_CONTRIB_SQL = "CAST(round({rank} / {deg}, 15) AS DECIMAL(24,15))"


def pr_rank_sql(
    base: str, damping: float, scale: int, in_sum: str = "in_sum"
) -> str:
    """SQL for one node's next rank given its exact decimal ``in_sum``
    (NULL for no in-edges): runs in both Spark and DuckDB."""

    return (
        f"CAST(round(CAST('{base}' AS DECIMAL({scale + 2},{scale})) + "
        f"CAST('{damping:.8f}' AS DECIMAL(10,8)) * "
        f"coalesce(CAST({in_sum} AS DECIMAL(24,15)), "
        f"CAST(0 AS DECIMAL(24,15))), {scale}) AS DOUBLE)"
    )


def shortest_hops(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 100,
    sources: DataFrame | None = None,
) -> DataFrame:
    """Minimum hop count between every reachable (x, y) pair:
    (x, y, hops) — :func:`shortest_paths` over unit costs, one
    relaxation per round. Terminates on any graph (cycles included)
    because hop counts only improve.

    The OUTPUT is all-pairs distances — inherently quadratic in
    reachable pairs. ``sources`` (a one-column frame of start nodes)
    restricts x to a set of interest, bounding state to
    |sources| x |reachable| — the lever a 100 TB caller uses. Per
    round the state is the pair-distance table partitioned by the
    join key; AQE handles skewed hub nodes, and rounds are bounded by
    the diameter, not the data size.
    """

    unit = edges.select(
        F.col(src).alias("s"), F.col(dst).alias("t"), F.lit(1).alias("w")
    )
    return shortest_paths(
        unit, "s", "t", "w", max_iters=max_iters, sources=sources, step=1
    ).withColumnRenamed("cost", "hops")


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 10,
    damping: float = 0.85,
    scale: int = 6,
) -> DataFrame:
    """PageRank with a FIXED iteration count: (node, rank).

    Fixed iterations (not convergence-tested) keep the result a pure
    deterministic function of the edge set; each iteration's ranks
    round to ``scale`` decimals AND the incoming-contribution sum runs
    in exact decimal (PR_CONTRIB_SQL above) so the result is
    reproducible across engines and partitionings — floating-point
    addition order cannot leak into the output even when an update
    lands exactly on a rounding midpoint (which 6-decimal ranks over
    small integer degrees do routinely). Same determinism discipline
    as the IVF k-means refinement (similarity.py::ivf_centroids).

    Per iteration: one shuffle (sum of incoming contributions) + one
    broadcast-able join against out-degrees. Dangling nodes (no
    out-edges) keep the random-jump term only, matching the simple
    formulation PR(v) = (1-d)/N + d * sum_in PR(u)/outdeg(u).
    """

    e = edges.select(
        F.col(src).alias("s"), F.col(dst).alias("t")
    ).distinct()
    nodes, n = materialize_count(
        e.select(F.col("s").alias("node"))
        .unionByName(e.select(F.col("t").alias("node")))
        .distinct()
    )
    outdeg = e.groupBy(F.col("s").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    base = f"{round((1.0 - damping) / n, scale):.{scale}f}"
    ranks = nodes.select("node", F.lit(round(1.0 / n, scale)).alias("rank"))
    for _ in range(iters):
        contrib = (
            ranks.join(outdeg, "node")
            .join(e, ranks["node"] == e["s"])
            .select(
                F.col("t").alias("node"),
                F.expr(
                    PR_CONTRIB_SQL.format(rank="rank", deg="deg")
                ).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("in_sum"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                F.expr(pr_rank_sql(base, damping, scale)).alias("rank"),
            )
            # Lazy: fixed iteration count means no per-round action is
            # needed; the checkpoint still truncates lineage when the
            # final action runs, but the 10 rounds execute as one job
            # instead of ten serial materializations.
            .transform(materialize, eager=False)
        )
    return ranks


def shortest_paths(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    cost: str = "cost",
    max_iters: int = 100,
    sources: DataFrame | None = None,
    step: int = 4,
) -> DataFrame:
    """Minimum total cost between reachable (x, y) pairs over a
    non-negative cost column: (x, y, cost). Delta-driven relaxation
    (:func:`_relax`); non-negative costs guarantee termination.

    Unlike hop counts (which converge in diameter rounds), min-cost
    tables keep improving for as many rounds as the HOP LENGTH of the
    cheapest path — many short cheap edges beat one expensive edge —
    so the loop is round-dominated at small scale. ``step`` unrolls
    that many relaxations into ONE Spark job; driver rounds drop by
    ``step`` while per-round work gains only the extra in-job
    shuffles, which AQE sizes to the actual deltas. The inner unroll
    min-combines WITHIN each hop extension (the per-step groupBy) but
    does not re-prune against the accumulated minimum until the final
    merge, so on dense graphs one job can expand candidates by up to
    fanout^step before merging. A fixed step beats adapting it to the
    frontier size: every inner step is a shuffle, and steps joined
    past convergence are pure waste (measured on the sf0.1 benchmark
    graph, cheapest paths ~17-20 hops: an adaptive step capped at 8
    ran 1.5x slower than fixed 4)."""

    e = edges.select(
        F.col(src).alias("s"),
        F.col(dst).alias("t"),
        F.col(cost).alias("w"),
    ).groupBy("s", "t").agg(F.min("w").alias("w"))
    seed = e
    if sources is not None:
        src_col = sources.columns[0]
        seed = e.join(
            sources.select(F.col(src_col).alias("s")).distinct(), "s"
        )
    dist = seed.select(
        F.col("s").alias("x"), F.col("t").alias("y"), F.col("w").alias("cost")
    # Lazy (r12, the scc defer discipline): round 1's merge job
    # materializes it.
    ).transform(materialize, eager=False)
    return _relax(dist, dist, e, max(1, step), max_iters)


def _relax(
    dist: DataFrame,
    delta: DataFrame,
    edges: DataFrame,
    step: int,
    max_iters: int,
) -> DataFrame:
    """The one min-lattice relaxation loop: extend the improved rows
    ``delta`` of the (x, y, cost) table ``dist`` along the (s, t, w)
    ``edges`` until no pair improves; returns the converged table.
    ``delta`` must already be merged into ``dist``. Each round unrolls
    ``step`` extensions into one Spark job."""

    ctype = dict(dist.dtypes)["cost"]
    for _ in range(max_iters):
        # The round-start cost rides along as a tag column that
        # extension rows carry as NULL, so min(tag) recovers the
        # previous distance inside the SAME min-combine (the
        # connected_components change-flag shape, r12): the improved
        # set is then a FILTER over the materialized merge — the
        # per-round (x, y, cost) anti-join against the full distance
        # table (two more exchanges of pair-sized state) and the
        # separate delta checkpoint are gone. Improved ⟺ the pair is
        # new (tag NULL) or its min cost strictly dropped — exactly
        # the rows the anti-join kept.
        acc = dist.select(
            "x", "y", "cost", F.col("cost").alias("__old")
        )
        ext = delta
        for i in range(step):
            ext = ext.join(edges, ext["y"] == edges["s"]).select(
                "x",
                F.col("t").alias("y"),
                (F.col("cost") + F.col("w")).alias("cost"),
            )
            if i < step - 1:
                # The last extension needs no min-combine of its own:
                # the merge below takes the minimum over its rows.
                ext = ext.groupBy("x", "y").agg(F.min("cost").alias("cost"))
            acc = acc.unionByName(
                ext.select(
                    "x",
                    "y",
                    "cost",
                    F.expr(f"CAST(NULL AS {ctype})").alias("__old"),
                )
            )
        improved = F.col("__old").isNull() | (F.col("cost") < F.col("__old"))
        merged, n_improved = materialize_count(
            acc.groupBy("x", "y").agg(
                F.min("cost").alias("cost"),
                F.min("__old").alias("__old"),
            ),
            improved,
        )
        dist = merged.select("x", "y", "cost")
        if not n_improved:
            return dist
        delta = merged.filter(improved).select("x", "y", "cost")
    raise RuntimeError(f"relaxation did not converge in {max_iters} rounds")


def kcore(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 30,
    require_convergence: bool = True,
) -> DataFrame:
    """k-core decomposition: the maximal subgraph in which every node
    keeps at least ``k`` neighbors — the standard graph-density gate
    (spam/bot subgraph mining, community pre-filtering, and coreness
    features). Input is a directed edge list; it is symmetrized and
    deduplicated first, so degree means DISTINCT undirected neighbors
    and self-loops never count. Returns (node, deg): the surviving
    nodes with their within-core degree.

    Peeling is NOT monotone (removing a node lowers neighbors'
    degrees), so this cannot ride the engine's semi-naive set
    fixpoint; it is the complementary shrink-to-fixpoint loop. Each
    round: one uniform-key degree aggregation + two equi-joins that
    restrict edges to surviving endpoints — all shuffle-partitioned
    by node id, no broadcast of anything data-sized, AQE sizes the
    shrinking edge table. Each round's degree table is materialized
    eagerly, and the same jobs count its entries under k (never a full
    edge count). Rounds are bounded by the peel depth — for real
    graphs a handful — never by node count.
    """

    und = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .union(edges.select(F.col(dst).alias("src"), F.col(src).alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        # Lazy (r12): round 1's degree aggregate materializes it.
        .transform(materialize, eager=False)
    )
    deg = None
    converged = False
    for _ in range(max_iters):
        # The NODE-sized degree table counts its entries under k while
        # it is materialized, so the fixpoint is detected BEFORE paying
        # a no-op restriction join; the table then serves the
        # keep-filter and (on convergence) the final result.
        deg, under_k = materialize_count(
            und.groupBy("src").agg(F.count(F.lit(1)).alias("deg")),
            F.col("deg") < k,
        )
        if not under_k:
            converged = True
            break
        keep = deg.filter(F.col("deg") >= k).select("src")
        und = (
            und.join(keep, "src")
            .join(keep.withColumnRenamed("src", "dst"), "dst")
            .select("src", "dst")
            # Lazy (r12): the next round's degree aggregate is the
            # first consumer.
            .transform(materialize, eager=False)
        )
    if require_convergence and not converged:
        raise RuntimeError(
            f"kcore: no fixpoint within {max_iters} rounds"
        )
    return deg.select(F.col("src").alias("node"), "deg")


def scc(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 40,
    max_inner: int = 200,
    require_convergence: bool = True,
    state_dir: str | None = None,
) -> DataFrame:
    """Strongly connected components of a DIRECTED graph: (node, scc)
    with ``scc`` the minimum node id in the component — the directed
    complement of :func:`dedup.connected_components` (cycle detection
    in dependency/citation/link graphs, condensation before DAG
    algorithms). The reference reaches the same answers through
    Datalog mutual-reachability rules; materializing that closure is
    quadratic per component, so this runs the iterative FW-BW
    coloring scheme (Fleischer-Hendrickson-Pinar divide-and-conquer
    made iterative; Orzan's coloring) instead.

    Each outer round, on the remaining subgraph:

    1. TRIM to fixpoint: a node with no in-edges or no out-edges
       cannot sit on a cycle — it is its own SCC. Trimming first
       collapses the acyclic fringe (most of a random graph) without
       any propagation.
    2. COLOR forward: color(v) = min node id that reaches v, computed
       as a min-propagation fixpoint (one edge-join + min-aggregate
       per step, converges in O(longest path) steps).
    3. EXTRACT backward, all classes in parallel: each color class c
       has exactly one root (color(c) == c); the members of c's class
       that reach the root back — a backward fixpoint restricted to
       same-color edges — are PRECISELY the root's SCC (anything
       outside the SCC but in the class either can't return to r, or
       would have a smaller color). Assign and remove them.

    Every step is an equi-join keyed on node id plus a map-side-
    combining min aggregate; state is one row per remaining node and
    edge, lineage truncated per round (localCheckpoint). Worst case
    (a long chain of SCCs) needs O(chain) outer rounds — the known
    FW-BW pathology, bounded by ``max_rounds``; real graphs finish in
    a handful because trim eats the fringe and every color class
    extracts one SCC per round.

    STATE REBASE (measured, Spark 4.1): chaining many generations of
    localCheckpoint frames through self-referential fixpoint plans
    makes Catalyst's per-iteration optimize/execute cost DOUBLE per
    generation (profiled on this operator: 5s -> 14s -> 47s -> 161s
    per backward step after ~25 upstream generations; plan strings,
    lineage, partition counts, and cached blocks all constant —
    the cost rides JVM-side plan ancestry that both localCheckpoint
    and reliable checkpoint() retain). A parquet round-trip produces
    a LogicalRelation that carries nothing, restoring flat ~0.5s
    iterations, so the node-sized fixpoint outputs are REBASED
    through ``state_dir`` (a temp dir by default; pass a cluster-FS
    path in multi-node deployments) once per fixpoint — the same
    periodic-checkpoint discipline GraphFrames' connected components
    uses for the same reason. The result is materialized (eager
    localCheckpoint) before the temp dir is removed.
    """

    import shutil
    import tempfile

    _FIX_STEP = 3

    E = (
        edges.select(
            F.col(src).cast("long").alias("a"),
            F.col(dst).cast("long").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        # Lazy (r12): the nodes distinct below is the first consumer.
        .transform(materialize, eager=False)
    )
    nodes = (
        E.select(F.col("a").alias("v"))
        .union(E.select(F.col("b").alias("v")))
        .distinct()
        # Lazy (r12): the first trim round materializes it.
        .transform(materialize, eager=False)
    )
    spark = edges.sparkSession
    out_schema = "v long, scc long"
    done = spark.createDataFrame([], out_schema)
    converged = False
    own_dir = state_dir is None
    base = state_dir or tempfile.mkdtemp(prefix="scc_state_")
    _seq = [0]

    def _rebase(df: DataFrame) -> DataFrame:
        _seq[0] += 1
        path = f"{base}/g{_seq[0]}"
        df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    def _min_fixpoint(state: DataFrame, edges_ab: DataFrame) -> DataFrame:
        """Min-label fixpoint in connected_components' EXACT shape:
        ``_FIX_STEP`` label pushes fused per materialized round, each
        push a union + min-aggregate (min is monotone and idempotent,
        so over-pushing is harmless), the change flag riding as a tag
        column that pushed rows carry as NULL (min(tag) recovers the
        round-start label — no probe join), and one pointer jump per
        non-final round (c <- c(c), valid because "reaches" is
        transitive) so rounds are O(log longest-path). The
        union/inner-join shape is deliberate: the left-join + coalesce
        formulation of the same relaxation triggers a Spark 4.1
        planner pathology where per-round optimize cost DOUBLES with
        checkpoint ancestry (measured on this operator; see STATE
        REBASE below) — the union shape, proven by
        connected_components across 25-round marathons, does not."""

        cur = state
        ctype = dict(cur.dtypes)["c"]
        for _i in range(max_inner):
            work = cur.withColumn("__old", F.col("c"))
            for _s in range(_FIX_STEP):
                pushed = edges_ab.join(
                    work.withColumnRenamed("v", "a"), "a"
                ).select(
                    F.col("b").alias("v"),
                    "c",
                    F.expr(f"CAST(NULL AS {ctype})").alias("__old"),
                )
                work = (
                    work.select("v", "c", "__old")
                    .union(pushed)
                    .groupBy("v")
                    .agg(
                        F.min("c").alias("c"),
                        F.min("__old").alias("__old"),
                    )
                )
            cur, changed = materialize_count(
                work, F.col("c") < F.col("__old")
            )
            if not changed:
                return cur.select("v", "c")
            cur = cur.select("v", "c")
            # pointer jump: c <- c(c) (inner self-join; every label is
            # a node id whose own label exists, is <= it, and reaches
            # everything it reaches). LAZY checkpoint (r12): the jump
            # reads only the already-materialized round checkpoint, so
            # deferring its materialization into the next round's
            # checkpoint job removes one job launch per non-final
            # round without re-computation (both self-join sides read
            # the same cached blocks).
            cur = (
                cur.join(cur.toDF("c", "__c2"), "c")
                .select("v", F.col("__c2").alias("c"))
                .transform(materialize, eager=False)
            )
        return cur

    for _round in range(max_rounds):
        if nodes.limit(1).isEmpty():
            converged = True
            break
        # --- 1. trim the acyclic fringe to fixpoint ---
        # A node with no in- or no out-edges is its own SCC; removing
        # it can expose more. Two peel layers fuse into ONE
        # materialized round (inner joins only), and the whole block's
        # removals come out of a single before/after anti-join — the
        # fixpoint probe is empty-trivial ⟺ the first fused layer was
        # already a no-op.
        for _t in range(max_inner):
            work_e = E
            for _layer in range(2):
                cyc = (
                    work_e.select(F.col("a").alias("v"))
                    .distinct()
                    .join(
                        work_e.select(F.col("b").alias("v")).distinct(),
                        "v",
                    )
                )
                work_e = (
                    work_e.join(cyc.withColumnRenamed("v", "a"), "a")
                    .join(cyc.withColumnRenamed("v", "b"), "b")
                    .select("a", "b")
                )
            # Lazy (r12): the trivial-set probe below materializes it.
            new_nodes = materialize(nodes.join(cyc, "v"), eager=False)
            trivial = nodes.join(new_nodes, "v", "left_anti")
            if trivial.limit(1).isEmpty():
                break
            done = done.union(
                trivial.select("v", F.col("v").alias("scc"))
            ).transform(materialize, eager=False)
            nodes = new_nodes
            # Lazy (r12): materializes inside the next trim round's
            # nodes-checkpoint job (or the forward fixpoint's first
            # round) instead of as its own job.
            E = materialize(work_e, eager=False)
        if nodes.limit(1).isEmpty():
            converged = True
            break
        # --- 2. forward min-color fixpoint (pointer-jumped) ---
        colors = _min_fixpoint(
            nodes.select("v", F.col("v").alias("c")), E
        )
        # Rebase the converged coloring: everything downstream (class
        # edges, the backward fixpoint, extraction) re-references it
        # several times per iteration — see STATE REBASE above.
        colors = _rebase(colors)
        # --- 3. backward extraction within color classes ---
        ec = (
            E.join(
                colors.select(
                    F.col("v").alias("a"), F.col("c").alias("ca")
                ),
                "a",
            )
            .join(
                colors.select(
                    F.col("v").alias("b"), F.col("c").alias("cb")
                ),
                "b",
            )
            .filter(F.col("ca") == F.col("cb"))
            .select("a", "b")
            # Lazy (r12): the backward fixpoint's first-round
            # checkpoint job materializes it; later rounds reuse the
            # cached blocks.
            .transform(materialize, eager=False)
        )
        # Backward pass as a MIN fixpoint rather than a frontier BFS so
        # it pointer-jumps too: bc(v) = min id reachable FROM v along
        # same-color edges (REVERSED class edges feed the same helper).
        # Within class c the root c is the class's minimum id (a
        # smaller member would have recolored the class), so bc(v) == c
        # exactly when v reaches the root back — the SCC.
        bc = _min_fixpoint(
            colors.select("v", F.col("v").alias("c")),
            ec.select(
                F.col("b").alias("a"), F.col("a").alias("b")
            ),
        )
        marked = (
            bc.withColumnRenamed("c", "bc")
            .join(colors, "v")
            .filter(F.col("bc") == F.col("c"))
            .select("v")
            .transform(materialize, eager=False)
        )
        found = colors.join(marked, "v").select("v", F.col("c").alias("scc"))
        done = materialize(done.union(found), eager=False)
        # Round boundary: rebase the shrunken node set so the next
        # round's trim/color chains start from a clean relation.
        nodes = _rebase(nodes.join(marked, "v", "left_anti"))
        E = (
            E.join(nodes.withColumnRenamed("v", "a"), "a")
            .join(nodes.withColumnRenamed("v", "b"), "b")
            .select("a", "b")
            # Lazy (r12): first consumer in the next outer round's
            # trim materializes it; empty-graph exits never pay it.
            .transform(materialize, eager=False)
        )
    try:
        if require_convergence and not converged:
            raise RuntimeError(
                f"scc: no fixpoint within {max_rounds} rounds"
            )
        # Materialize before the state dir disappears: the union plan
        # reads the rebased parquet generations.
        return done.select(
            F.col("v").alias("node"), "scc"
        ).transform(materialize)
    finally:
        if own_dir:
            shutil.rmtree(base, ignore_errors=True)


def link_prediction(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    top_k: int = 100,
    max_center_degree: Optional[int] = 64,
) -> DataFrame:
    """Link prediction by the Resource-Allocation index (Zhou/Lü/Zhang
    2009): for every NON-adjacent pair (u, w) sharing at least one
    neighbor, score = sum over common neighbors v of 1/deg(v), plus
    the common-neighbor count over the SAME capped center set — with
    ``max_center_degree`` set, ``cn`` counts only common neighbors of
    degree <= the cap (hub-mediated common neighbors are excluded from
    cn exactly as from ra; one wedge pass feeds both aggregates — an
    uncapped cn would reintroduce the hub wedge blowup the cap
    removes). Pass ``max_center_degree=None`` for the exact textbook
    pair. Returns the ``top_k`` candidate links as (u, w, cn, ra),
    u < w, ordered by (ra desc, u, w).
    RA is chosen over Adamic-Adar (1/ln deg) deliberately: 1/deg is a
    rational quotient, so the per-neighbor contribution can be
    round()ed to 15 decimals and summed as an EXACT decimal — the
    PageRank determinism discipline (see PR_CONTRIB_SQL above) — while
    ln() would make the score depend on the engine's libm.

    Shape: symmetrize+dedup the edge list, one degree aggregation,
    then the wedge join adj(v,u) x adj(v,w) on the CENTER v with
    u < w — candidate volume is sum_v deg(v)^2, so hubs are the
    skew/scale hazard. ``max_center_degree`` is the lever: centers
    above the cap are excluded from wedge generation (a documented
    approximation — a hub shared by millions of pairs carries ~zero
    RA weight anyway, 1/deg -> 0), bounding work at n*cap^2 on any
    corpus. Every join/agg keys on a node id (uniform after the cap);
    the final top-k lowers to TakeOrderedAndProject — no global sort.
    Existing edges leave via a left-anti join against the symmetric
    edge set (one direction suffices since u < w and the set is
    symmetric). Beyond-reference operator; the graph-analytics family
    companion to kcore/scc (reference anchor for the family:
    experiments/src/bin/labelprop.rs:23-47).
    """

    und = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .union(edges.select(F.col(dst).alias("src"), F.col(src).alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .transform(materialize, eager=False)  # deg, two wedge sides, anti-join
    )
    deg = und.groupBy(F.col("src").alias("v")).agg(
        F.count(F.lit(1)).alias("d")
    )
    if max_center_degree is not None:
        deg = deg.filter(F.col("d") <= max_center_degree)
    # Exact-decimal per-center contribution: 1/d is a correctly-rounded
    # IEEE quotient in both engines; round-to-15 then DECIMAL(24,15)
    # makes the sum associative/commutative => partition-order-free.
    centers = deg.select(
        "v",
        F.expr(
            "CAST(round(CAST(1 AS DOUBLE) / d, 15) AS DECIMAL(24,15))"
        ).alias("contrib"),
    )
    a1 = und.select(F.col("src").alias("v"), F.col("dst").alias("u"))
    a2 = und.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    wedges = (
        a1.join(a2, "v")
        .filter(F.col("u") < F.col("w"))
        .join(centers, "v")  # also applies the degree cap to centers
    )
    scored = wedges.groupBy("u", "w").agg(
        F.count(F.lit(1)).alias("cn"),
        F.sum("contrib").alias("ra_sum"),
    )
    non_adjacent = scored.join(
        und.select(F.col("src").alias("u"), F.col("dst").alias("w")),
        ["u", "w"],
        "left_anti",
    )
    return (
        non_adjacent.select(
            "u",
            "w",
            "cn",
            F.expr("CAST(ra_sum AS DOUBLE)").alias("ra"),
        )
        .orderBy(F.desc("ra"), "u", "w")
        .limit(top_k)
    )


def edge_triangle_support(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-edge triangle support: for every undirected edge {a, b}
    (canonicalized a < b, self-loops dropped), the number of common
    neighbors of its endpoints — the number of triangles the edge
    closes, and the quantity k-truss peeling (:func:`ktruss`)
    thresholds on. Returns (a, b, support), support 0 for edges in no
    triangle (kept via the left join — a cohesion report that silently
    drops the acyclic fringe would overstate density).

    Shape: two node-keyed equi-joins enumerate the wedges that close
    each edge (cost ~ sum over edges of the smaller endpoint degree —
    the standard triangle-enumeration bound) and one uniform (a, b)
    count; nothing sorts, nothing broadcasts data-sized state.
    Reference anchor for the triangle family:
    experiments/src/bin/graphs-interactive-neu.rs (Hector's triangle
    queries); this is the per-EDGE aggregate of the same wedge
    closure.
    """

    und = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .union(edges.select(F.col(dst).alias("src"), F.col(src).alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .transform(materialize, eager=False)  # feeds canon + both wedge sides
    )
    canon = und.filter(F.col("src") < F.col("dst")).select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    )
    return support_of(und, canon)


def support_of(und: DataFrame, canon: DataFrame) -> DataFrame:
    """Triangle support for a SUBSET of canonical edges over the full
    symmetric adjacency ``und`` (src, dst): the edge_triangle_support
    core factored so the incremental maintainer can recount ONLY the
    touched edges while the wedge joins still see every neighbor.
    ``canon`` carries (a, b) with a < b; returns (a, b, support) for
    exactly those rows, zero-support kept."""

    n1 = und.select(F.col("src").alias("a"), F.col("dst").alias("v"))
    n2 = und.select(F.col("src").alias("b"), F.col("dst").alias("v"))
    tri = (
        canon.join(n1, "a")
        .join(n2, ["b", "v"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("support"))
    )
    return (
        canon.join(tri, ["a", "b"], "left")
        .select(
            "a",
            "b",
            F.coalesce(F.col("support"), F.lit(0)).alias("support"),
        )
    )


def clustering_coefficient(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-node LOCAL clustering coefficient over the symmetrized
    simple graph: cc(v) = 2·T(v) / (deg(v)·(deg(v)−1)) where T(v) is
    the number of edges among v's neighbors — the standard
    Watts-Strogatz local density measure (community tightness, spam
    ring detection, the per-node view of the triangle family).
    Returns (node, degree, triangles, cc) for every node; deg < 2
    nodes get cc = 0.0 (no possible wedge), and cc rounds to 6
    decimals — one IEEE double division of exact integers (correctly
    rounded, engine-independent) then one half-up round, the repo's
    cross-engine float discipline.

    Shape: T(v) counts wedges (u, w) ∈ N(v)² with u < w whose closing
    edge {u, w} exists — two node-keyed equi-joins (the
    :func:`edge_triangle_support` wedge machinery centered on v
    instead of the edge) plus a LEFT SEMI join against the canonical
    edge set, then one uniform per-node count. Cost is the standard
    sum-of-deg² wedge bound; every join keys on a node id, nothing
    sorts globally, nothing broadcasts data-sized state. Beyond-
    reference graph-family operator (reference triangle anchor:
    experiments/src/bin/graphs-interactive-neu.rs)."""

    und = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .union(edges.select(F.col(dst).alias("src"), F.col(src).alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        # feeds deg, both wedge sides, closure probe
        .transform(materialize, eager=False)
    )
    deg = und.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    canon = und.filter(F.col("src") < F.col("dst")).select(
        F.col("src").alias("u"), F.col("dst").alias("w")
    )
    a1 = und.select(F.col("src").alias("node"), F.col("dst").alias("u"))
    a2 = und.select(F.col("src").alias("node"), F.col("dst").alias("w"))
    tri = (
        a1.join(a2, "node")
        .filter(F.col("u") < F.col("w"))
        .join(canon, ["u", "w"], "left_semi")
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    return deg.join(tri, "node", "left").select(
        "node",
        "degree",
        F.coalesce(F.col("triangles"), F.lit(0)).alias("triangles"),
        F.when(
            F.col("degree") >= 2,
            F.round(
                F.lit(2.0)
                * F.coalesce(F.col("triangles"), F.lit(0))
                / (F.col("degree") * (F.col("degree") - F.lit(1))),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("cc"),
    )


def ktruss(
    edges: DataFrame,
    t: int,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 30,
    require_convergence: bool = True,
) -> DataFrame:
    """k-truss: the maximal subgraph in which every edge closes at
    least ``t`` triangles WITHIN the subgraph — the edge-cohesion
    analog of :func:`kcore` (a (t+2)-truss edge set is denser than any
    same-k core; community cores, spam cliques). Returns the surviving
    (a, b, support) with a < b.

    Peeling is non-monotone (dropping an edge lowers neighbors'
    support), so this is kcore's shrink-to-fixpoint loop with
    :func:`edge_triangle_support` as the per-round measure: recompute
    support on the surviving edges, drop those under ``t``, stop when
    the support table's own materialization counts nothing under
    threshold. Rounds are bounded
    by peel depth; each round is the triangle-enumeration joins on a
    SHRINKING edge set, lineage truncated per round.

    ``max_iters`` must be >= 1 (validated — 0 would return nothing
    meaningful). With ``require_convergence=False`` a NON-converged
    run returns the last support snapshot, which may still contain
    edges with support < ``t`` (the peel was cut mid-flight); callers
    that need the contract guaranteed keep the default."""

    if max_iters < 1:
        raise ValueError(f"ktruss: max_iters must be >= 1, got {max_iters}")
    cur = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .transform(materialize, eager=False)
    )
    sup = None
    converged = False
    for _ in range(max_iters):
        sup, under_t = materialize_count(
            edge_triangle_support(cur), F.col("support") < t
        )
        if not under_t:
            converged = True
            break
        cur = (
            sup.filter(F.col("support") >= t)
            .select(F.col("a").alias("src"), F.col("b").alias("dst"))
            # Lazy (r12): next round's support computation is the
            # first consumer.
            .transform(materialize, eager=False)
        )
    if require_convergence and not converged:
        raise RuntimeError(f"ktruss: no fixpoint within {max_iters} rounds")
    return sup


def degree_assortativity(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002): the Pearson
    correlation of endpoint degrees over the symmetrized edge list —
    positive = hubs link hubs (social graphs), negative = hubs link
    leaves (the web, biology). Returns ONE row (m_edges,
    assortativity); m_edges counts directed representations (2x the
    undirected edge count, the standard convention).

    Determinism discipline: every moment (Σdudv, Σdu, Σdu², ...) is an
    EXACT integer sum — degree products cast to DECIMAL(38,0) before
    summing so the aggregation is associative/commutative at any
    partitioning and the SUMS never overflow BIGINT at web scale (sxy
    <= m * max_deg^2 stays under 1e38 for any real graph). The final
    combination divides each sum through by m BEFORE multiplying
    (per-mean doubles <= max_deg^2 — a raw DECIMAL product m*sxy
    would cap at precision 38 and NULL silently), so the float ops
    are a handful of correctly-rounded IEEE divisions/products/sqrt's
    identical in both engines, rounded to 6.
    Shape: one degree aggregation, two node-keyed joins to attach
    endpoint degrees, one keyless moment aggregation — nothing sorts,
    nothing broadcasts data-sized state."""

    und = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .union(edges.select(F.col(dst).alias("src"), F.col(src).alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .transform(materialize, eager=False)  # feeds deg + the pair scan
    )
    deg = und.groupBy(F.col("src").alias("n")).agg(
        F.count(F.lit(1)).alias("d")
    )
    pairs = (
        und.join(deg.withColumnRenamed("n", "src"), "src")
        .withColumnRenamed("d", "du")
        .join(
            deg.select(F.col("n").alias("dst"), F.col("d").alias("dv")),
            "dst",
        )
    )
    dec = "DECIMAL(38,0)"
    m = pairs.agg(
        F.count(F.lit(1)).alias("m_edges"),
        F.sum(F.expr(f"CAST(du AS {dec}) * CAST(dv AS {dec})")).alias("sxy"),
        F.sum(F.expr(f"CAST(du AS {dec})")).alias("sx"),
        F.sum(F.expr(f"CAST(dv AS {dec})")).alias("sy"),
        F.sum(F.expr(f"CAST(du AS {dec}) * CAST(du AS {dec})")).alias("sxx"),
        F.sum(F.expr(f"CAST(dv AS {dec}) * CAST(dv AS {dec})")).alias("syy"),
    )
    # Combine the exact sums by dividing through by m BEFORE any
    # multiplication: r = (E[xy] - E[x]E[y]) / (sd(x) * sd(y)). A
    # DECIMAL(38,0) product m_edges * sxy is capped at precision 38
    # and Spark's non-ANSI decimal overflow returns NULL silently —
    # per-mean doubles instead stay <= max_degree^2 at ANY scale, so
    # nothing can overflow; the only cost is IEEE rounding in the
    # final combination, far below the round-6 output for any graph
    # with non-degenerate degree variance.
    mean = "(CAST({s} AS DOUBLE) / m_edges)"
    exy, ex, ey = (mean.format(s=s) for s in ("sxy", "sx", "sy"))
    exx, eyy = (mean.format(s=s) for s in ("sxx", "syy"))
    return m.select(
        "m_edges",
        F.expr(
            f"round(({exy} - {ex} * {ey}) / "
            f"nullif(sqrt({exx} - {ex} * {ex}) * "
            f"sqrt({eyy} - {ey} * {ey}), 0.0), 6)"
        ).alias("assortativity"),
    )


def node_similarity(
    edges: DataFrame,
    top_k: int = 5,
    src: str = "src",
    dst: str = "dst",
    max_center_degree: Optional[int] = 64,
) -> DataFrame:
    """Neighborhood-Jaccard node similarity: for every node, the
    ``top_k`` most similar OTHER nodes by |N(u) ∩ N(w)| / |N(u) ∪ N(w)|
    — structural-role detection, account-correlation, the graph
    analog of document Jaccard. Returns (node, other, inter, jac,
    rank), rank by (jac desc, other asc); jac = round of one IEEE
    division of exact integers.

    Shape: the link_prediction wedge machinery — candidates are pairs
    sharing >= 1 common neighbor (wedge join on the center), counted
    once per unordered pair then mirrored for the per-node rank
    window (per-node partitions, wedge-bounded width — never a global
    sort). ``max_center_degree`` caps wedge volume at n·cap² exactly
    as in link_prediction, and as there the intersection counts only
    sub-cap centers when the cap is set (a hub shared by millions of
    pairs contributes the same tiny Jaccard mass to all of them);
    degrees in the union stay EXACT. Pass ``max_center_degree=None``
    for the textbook measure."""

    und = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .union(edges.select(F.col(dst).alias("src"), F.col(src).alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .transform(materialize, eager=False)  # feeds deg + both wedge sides
    )
    deg = und.groupBy(F.col("src").alias("n")).agg(
        F.count(F.lit(1)).alias("d")
    )
    centers = deg
    if max_center_degree is not None:
        centers = deg.filter(F.col("d") <= max_center_degree)
    a1 = und.select(F.col("src").alias("v"), F.col("dst").alias("u"))
    a2 = und.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    inter = (
        a1.join(a2, "v")
        .filter(F.col("u") < F.col("w"))
        .join(centers.select(F.col("n").alias("v")), "v", "left_semi")
        .groupBy("u", "w")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    both = inter.union(
        inter.select(
            F.col("w").alias("u"), F.col("u").alias("w"), "inter"
        )
    )
    scored = (
        both.join(deg.select(F.col("n").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("n").alias("w"), F.col("d").alias("dw")), "w")
        .select(
            F.col("u").alias("node"),
            F.col("w").alias("other"),
            "inter",
            F.round(
                F.col("inter").cast("double")
                / (F.col("du") + F.col("dw") - F.col("inter")).cast(
                    "double"
                ),
                6,
            ).alias("jac"),
        )
    )
    from pyspark.sql.window import Window

    w_rk = Window.partitionBy("node").orderBy(
        F.desc("jac"), F.asc("other")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w_rk).cast("long"))
        .filter(F.col("rank") <= top_k)
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: list,
    iters: int = 6,
    damping: float = 0.85,
    scale: int = 6,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Personalized PageRank: PageRank whose random jump returns to a
    SEED SET instead of the uniform vector — the locality-aware
    importance behind related-item recommendation, local community
    scoring, and seed-expansion labeling (one labeled account, a
    thousand candidates ranked by proximity). Returns (node, rank);
    nodes unreachable from the seeds score 0.

    p(v) = (1-d)·s(v) + d·Σ_{u→v} p(u)/outdeg(u), with s(v) = 1/|seeds|
    on the seed set and 0 elsewhere — the only change from
    :func:`pagerank` is the teleport vector, and the determinism
    discipline is IDENTICAL (the PR_CONTRIB_SQL round-15 exact-decimal
    contribution sums, per-iteration round-6 ranks, fixed iteration
    count — reproducible across engines and partitionings). Per
    iteration one contribution shuffle + one broadcast-able outdegree
    join; the seed indicator is a CASE over a literal list (seed sets
    are human-sized by construction — validate upstream if not).
    """

    if not seeds:
        raise ValueError("personalized_pagerank: seeds must be non-empty")
    e = edges.select(
        F.col(src).alias("s"), F.col(dst).alias("t")
    ).distinct()
    nodes = (
        e.select(F.col("s").alias("node"))
        .unionByName(e.select(F.col("t").alias("node")))
        .distinct()
        # Lazy (r12): iteration 1's contribution join materializes it.
        .transform(materialize, eager=False)
    )
    outdeg = e.groupBy(F.col("s").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    seed_lits = ", ".join(str(int(x)) for x in sorted(set(seeds)))
    base = f"{round((1.0 - damping) / len(set(seeds)), scale):.{scale}f}"
    seed_term = (
        f"CASE WHEN node IN ({seed_lits}) "
        f"THEN CAST('{base}' AS DECIMAL({scale + 2},{scale})) "
        f"ELSE CAST(0 AS DECIMAL({scale + 2},{scale})) END"
    )
    init = f"{round(1.0 / len(set(seeds)), scale):.{scale}f}"
    ranks = nodes.select(
        "node",
        F.expr(
            f"CASE WHEN node IN ({seed_lits}) THEN CAST('{init}' AS DOUBLE) "
            "ELSE CAST(0.0 AS DOUBLE) END"
        ).alias("rank"),
    )
    for _ in range(iters):
        contrib = (
            ranks.join(outdeg, "node")
            .join(e, ranks["node"] == e["s"])
            .select(
                F.col("t").alias("node"),
                F.expr(
                    PR_CONTRIB_SQL.format(rank="rank", deg="deg")
                ).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("in_sum"))
        )
        ranks = nodes.join(contrib, "node", "left").select(
            "node",
            F.expr(
                f"CAST(round({seed_term} + "
                f"CAST('{damping:.8f}' AS DECIMAL(10,8)) * "
                "coalesce(CAST(in_sum AS DECIMAL(24,15)), "
                f"CAST(0 AS DECIMAL(24,15))), {scale}) AS DOUBLE)"
            ).alias("rank"),
        )
    return ranks


def hits(
    edges: DataFrame,
    iters: int = 2,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """HITS (Kleinberg 1999): hub and authority scores by mutual
    reinforcement — a good hub points at good authorities, a good
    authority is pointed at by good hubs. The directed-graph dual of
    PageRank for citation/link corpora: authorities are the canonical
    pages, hubs the curated link lists. Returns (node, hub,
    authority), max-normalized to 1.0, after ``iters`` fixed
    iterations (the pagerank/ivf_centroids determinism discipline —
    no convergence test, a pure function of the edge set).

    Per half-iteration: authority(v) = Σ_{u→v} hub(u), then hub(u) =
    Σ_{u→v} authority(v), each a single node-keyed shuffle of exact
    DECIMAL(18,6) values (scores round to 6 before summing, so the
    Σ is associative at any partitioning); the max for normalization
    is a 1-row broadcast and the one float op per half-step is the
    correctly-rounded division. Isolated nodes on the missing side
    score 0 via the left join + coalesce.
    """

    e = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("t"))
        .filter(F.col("s") != F.col("t"))
        .distinct()
        .transform(materialize, eager=False)
    )
    nodes = (
        e.select(F.col("s").alias("node"))
        .unionByName(e.select(F.col("t").alias("node")))
        .distinct()
        # Lazy (r12): half-iteration 1's hub join materializes it.
        .transform(materialize, eager=False)
    )
    dec = "DECIMAL(18,6)"
    hub = nodes.select("node", F.expr(f"CAST(1 AS {dec})").alias("h"))
    auth = None
    for _ in range(max(1, iters)):
        # Lazy checkpoint (r12): asum feeds BOTH the max broadcast
        # and the normalization join — without it the edge⋈hub
        # shuffle+aggregate computes twice per half-iteration.
        asum = (
            e.join(hub.withColumnRenamed("node", "s"), "s")
            .groupBy(F.col("t").alias("node"))
            .agg(F.sum("h").alias("a_raw"))
            .transform(materialize, eager=False)
        )
        amax = asum.agg(F.max("a_raw").alias("mx"))
        auth = (
            nodes.join(asum, "node", "left")
            .crossJoin(F.broadcast(amax))
            .select(
                "node",
                F.expr(
                    "CAST(round(CAST(coalesce(a_raw, 0) AS DOUBLE) / "
                    f"CAST(mx AS DOUBLE), 6) AS {dec})"
                ).alias("a"),
            )
            # Lazy (r12): consumed by hsum and (last iteration) the
            # final projection — cache the node-scale table.
            .transform(materialize, eager=False)
        )
        # Lazy (r12): same double-compute as asum.
        hsum = (
            e.join(auth.withColumnRenamed("node", "t"), "t")
            .groupBy(F.col("s").alias("node"))
            .agg(F.sum("a").alias("h_raw"))
            .transform(materialize, eager=False)
        )
        hmax = hsum.agg(F.max("h_raw").alias("mx"))
        hub = (
            nodes.join(hsum, "node", "left")
            .crossJoin(F.broadcast(hmax))
            .select(
                "node",
                F.expr(
                    "CAST(round(CAST(coalesce(h_raw, 0) AS DOUBLE) / "
                    f"CAST(mx AS DOUBLE), 6) AS {dec})"
                ).alias("h"),
            )
            .transform(materialize, eager=False)
        )
    return (
        nodes.join(hub, "node", "left")
        .join(auth.withColumnRenamed("a", "authority"), "node", "left")
        .select(
            "node",
            F.expr("CAST(coalesce(h, 0) AS DOUBLE)").alias("hub"),
            F.expr("CAST(coalesce(authority, 0) AS DOUBLE)").alias(
                "authority"
            ),
        )
    )
