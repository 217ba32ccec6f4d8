"""Connected components — min-label propagation with pointer-jump shortcut.

Semantics match reference apps/cc.gt (plain label propagation) and
apps/cc_lp_pj.gt (label propagation + pointer-jumping):

    init:      IDs[v] = v                              (cc.gt init)
    propagate: IDs[dst] min= IDs[src] over all edges   (cc.gt updateEdge)
    shortcut:  IDs[v] = IDs[IDs[v]] until stable       (cc_lp_pj.gt pjump)
    repeat until no label changes (frontier empty).

The reference traverses the directed edges as stored and relies on GAPBS
symmetrizing undirected inputs (-s); we symmetrize explicitly so
components are the weakly-connected fixpoint — cc_verifier.cpp checks only
the converged state, and BSP vs async iteration order doesn't change it.

Spark plan per round: frontier-restricted gather (min) + change-tracking
join produces the next frontier (change_tracking_lower.cpp:38-75); the
pointer-jump rounds are label⋈label self-joins that halve path lengths,
turning O(diameter) propagation into O(log n) rounds on long chains.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from graphit_spark.graph import LinkGraph
from graphit_spark.plans.fixpoint import iterate
from graphit_spark.plans.state import fresh_checkpoint
from graphit_spark.checkpoint import SnapshotStore
from graphit_spark.plans.traversal import choose_direction

# pointer-jump parent maps up to this many distinct labels are broadcast;
# above it the jump is skipped for the round (propagation still converges)
_PJ_BROADCAST_LIMIT = 1_000_000


def _pointer_jump(labels: DataFrame) -> DataFrame:
    """Path-halving over (id, comp, old_comp): comp[v] <- comp[comp[v]],
    twice (cc_lp_pj.gt:21-28). A naive self-join on comp shuffles the
    whole table keyed by the giant component's label — maximal key skew.
    Instead the parent mapping is restricted to the DISTINCT label values
    (they collapse geometrically) and broadcast, so each hop is one
    narrow V-scan: no shuffle, no skewed key. Each hop references its
    input twice (as parent map and as left side), so every hop input is
    checkpointed first (the gather lazily: the distinct-label
    checkpoint reads all of it); returns the last hop's checkpoint,
    intermediate ones released."""
    labels = fresh_checkpoint(labels, eager=False)
    dcomp = (
        labels.select(F.col("comp").alias("pid"))
        .distinct()
        .transform(fresh_checkpoint)
    )
    if dcomp.count() <= _PJ_BROADCAST_LIMIT:
        for _ in range(2):
            parent = F.broadcast(
                labels.join(
                    F.broadcast(dcomp), labels["id"] == dcomp["pid"]
                ).select("pid", F.col("comp").alias("pcomp"))
            )
            left = labels.alias("l")
            hop = left.join(
                parent, F.col("l.comp") == F.col("pid"), "left"
            ).select(
                F.col("l.id").alias("id"),
                F.coalesce(F.col("pcomp"), F.col("l.comp")).alias("comp"),
                F.col("l.old_comp").alias("old_comp"),
            ).transform(fresh_checkpoint)
            labels.unpersist()
            labels = hop
    # else: labels haven't consolidated yet — plain propagation
    # continues and PJ kicks in once distinct labels fit a
    # broadcast (power-law graphs get there in 1-2 rounds).
    dcomp.unpersist()
    return labels


def connected_components(
    graph: LinkGraph,
    *,
    symmetrize: bool = True,
    pointer_jump: bool = True,
    max_iters: int = 200,
    store: SnapshotStore | None = None,
    resume: bool = False,
    init_labels: DataFrame | None = None,
    metrics_out: dict | None = None,
) -> DataFrame:
    """Returns (id, comp) where comp = min vertex id in the component.

    init_labels: warm start from a previous run's (id, comp) after an
    edge-ADDITION delta (growing crawl); vertices not in init_labels
    start at their own id. Same fixpoint as a cold run — see the
    inline note — in fewer rounds. Not valid after edge removals.

    metrics_out: if given, filled with {"iterations", "final_frontier"}
    (rounds run in THIS call — after `resume`/warm start, the
    incremental rounds only).

    Converges when a propagation round changes no label (frontier empty,
    cc.gt main loop). With pointer_jump=True each round also shortcuts
    labels through their parents until stable (cc_lp_pj.gt:21-28), which
    bounds rounds by O(log n) instead of O(diameter).
    """
    g = graph.symmetrize() if symmetrize else graph
    own_cache = g.ensure_persisted()
    num_edges = g.num_edges

    start_iter = 0
    if resume and store is not None and store.latest() is not None:
        start_iter = store.latest() + 1
        labels = store.read(g.spark, store.latest())
    elif init_labels is not None:
        # Warm start for EDGE-ADDITION deltas: min-label propagation
        # from any per-vertex upper bound of the final component min
        # converges to min-over-component of the init labels. Old
        # labels are min ids of the old sub-components, so the fixpoint
        # is exactly the merged component's min vertex id — the cold
        # answer, in rounds ~ the diameter of the merge graph, not the
        # full graph. NOT valid after edge removals (labels would be
        # stale lower... too-small values that nothing re-raises).
        labels = (
            graph.vertices()
            .join(init_labels.select("id", "comp"), "id", "left")
            .select("id", F.coalesce("comp", "id").alias("comp"))
        )
    else:
        labels = graph.vertices().select("id", F.col("id").alias("comp"))

    # same strategy choice as kernels/pagerank.py: the V-sized label side
    # joins the cached edge partitioning via per-partition hash build
    # (no E-sized sort, no driver broadcast build)
    big_v = graph.num_vertices > 500_000
    # The frontier is the previous round's changed vertices
    # (applyModified contract); round 0 (and a resume or warm start,
    # conservatively) has every vertex active, which the direction rule
    # always plans dense. The degree sum only decides sparse-vs-dense
    # when the frontier SIZE alone is below the Ligra threshold —
    # compute the V-sized degree join only then (the frontier is small,
    # so the join is too); a big frontier is dense regardless.
    front = {"ids": None, "size": graph.num_vertices, "deg": num_edges}

    def step(labels: DataFrame, _i: int) -> DataFrame:
        size = front["size"]
        if front["deg"] is None:
            front["deg"] = num_edges if size > num_edges / 20 else int(
                front["ids"].join(g.out_degrees(), "id", "left")
                .agg(F.coalesce(F.sum("out_degree"), F.lit(0)).alias("d"))
                .collect()[0]["d"]
            )
        direction = front["direction"] = choose_direction(size, front["deg"], num_edges)
        src_labels = labels.select(F.col("id").alias("src"), "comp")
        # Frontier restriction lives on the V-sized LABEL side, never as a
        # separate E-sized semi-join: the inner gather join below already
        # drops every edge whose src carries no label row, so one E-scan
        # per round suffices.
        if direction == "sparse":
            # push-like: broadcast-prune the edge scan with the small
            # frontier, and broadcast the (equally small) label rows.
            fr = front["ids"].select(F.col("id").alias("src"))
            active_edges = g.edges.join(F.broadcast(fr), "src", "left_semi")
            src_labels = F.broadcast(src_labels.join(F.broadcast(fr), "src"))
        else:
            active_edges = g.edges
            if size < graph.num_vertices:
                src_labels = src_labels.join(
                    front["ids"].select(F.col("id").alias("src")), "src", "left_semi"
                )
            if big_v:
                src_labels = src_labels.hint("shuffle_hash")
        mins = (
            active_edges.join(src_labels, "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("comp").alias("nbr_min"))
        )
        new_labels = labels.join(mins, "id", "left").select(
            "id",
            F.least(F.col("comp"), F.coalesce("nbr_min", F.col("comp"))).alias("comp"),
            F.col("comp").alias("old_comp"),
        )
        # the gather is materialized ONCE before pointer jumping, so the
        # hops do not recompute the E-sized gather
        return _pointer_jump(new_labels) if pointer_jump else new_labels

    def changed(labels: DataFrame) -> int:
        front["ids"] = labels.filter(F.col("comp") != F.col("old_comp")).select("id")
        front["size"], front["deg"] = front["ids"].count(), None
        return front["size"]

    run = iterate(
        step, labels, range(start_iter, max_iters), measure=changed,
        store=store, kernel="cc", snapshot=("id", "comp"),
        record=lambda n: {"frontier_size": n, "direction": front["direction"]},
        metrics_out=metrics_out, final_key="final_frontier",
    )
    if own_cache:
        g.unpersist()
    return run.state.select("id", "comp")
