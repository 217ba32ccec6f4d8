"""Strongly connected components — forward/backward min-label peeling.

The reference ships weakly-connected components only (apps/cc.gt,
apps/cc_lp_pj.gt; GAPBS cc.cc + cc_verifier); for a directed web link
graph the bowtie decomposition needs SCC. This kernel extends the same
min-label propagation machinery (kernels/components.py) to directed
MUTUAL reachability via the classic FW-BW refinement (Fleischer/
Hendrickson/Pinar divide-and-conquer SCC; the Pregel "coloring"
variant): per outer round, over the still-unassigned subgraph,

    F(v) = min id with a directed path to v   (forward min fixpoint)
    B(v) = min id v has a directed path to    (same, on the transpose)

and every vertex with F(v) == B(v) == c is assigned scc = c: F(v)=c
means c reaches v and B(v)=c means v reaches c, so every match is
genuine mutual reachability with c (a label value is only ever copied
along real edges, so lab(v)=u always witnesses a real path u ->* v).
The PEEL, however, must remove whole SCCs: at the converged fixpoint
F and B are constant on each SCC, so the matched set is a union of
complete SCCs, and removing complete SCCs can never split another
(every vertex on a v -> w path between mutually-reachable v, w is
itself in their SCC) — an UNCONVERGED fixpoint could match a partial
SCC whose removal cuts its remaining members apart, so the kernel
raises rather than peel one (see strongly_connected_components).
The minimum unassigned id always matches itself, so every outer
round peels at least one SCC — the peel terminates and is exact.

Spark plan: the F and B fixpoints run FUSED in one loop — both
directions' frontier-restricted gathers land in the same superstep
state, so each round pays ONE checkpoint and ONE driver action for
both directions (the separate-loop form paid two of each), and the
F==B match at the end is a filter on the fused state instead of a
V⋈V join. Each gather is the connected_components shape (direction
switch at the Ligra 1/20 threshold — the frontier's degree sum is
estimated as size x avg-degree here to avoid a per-round scalar
action; shuffle-hash V-side build on big graphs; one E-scan per
direction per round). Per outer round two semi-joins shrink the
checkpointed edge table to the unassigned subgraph, so later rounds
rescan only the residual graph (the FW-BW work bound), never the full
crawl. A direction that converges early stops gathering while the
other finishes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from graphit_spark.graph import LinkGraph
from graphit_spark.plans.fixpoint import Fixpoint, iterate
from graphit_spark.plans.state import fresh_checkpoint, union_checkpoints
from graphit_spark.plans.traversal import choose_direction


#: fixpoint round index at which pointer jumps engage (rounds before
#: this run the plain gather — free for shallow graphs)
_JUMP_FROM = 8


def _fw_bw_fixpoint(
    edges: DataFrame,
    tedges: DataFrame,
    verts: DataFrame,
    num_edges: int,
    num_verts: int,
    big_v: bool,
    max_iters: int,
) -> Fixpoint:
    """Joint fixpoint of lab[dst] min= lab[src] over `edges` (flab) and
    `tedges` (blab), both starting from lab = id; the state is
    (id, flab, blab, fchg, bchg), the flags marking this round's
    changes. One checkpoint + one count action per round covers both
    directions. Returns the driver's Fixpoint: its state is the bound
    final checkpoint."""
    avg_deg = max(num_edges / max(num_verts, 1), 1.0)
    # changed-row count per direction; a direction that changed nothing
    # is done (its labels stay put, so it stays at 0)
    sizes = {"flab": num_verts, "blab": num_verts}

    def gather(state: DataFrame, e: DataFrame, labcol: str, tag: str) -> DataFrame:
        size = sizes[labcol]
        direction = choose_direction(size, int(size * avg_deg), num_edges)
        src_labels = state.select(
            F.col("id").alias("src"), F.col(labcol).alias("lab")
        )
        front = state.filter(f"{tag}chg").select(F.col("id").alias("src"))
        if direction == "sparse":
            active = e.join(F.broadcast(front), "src", "left_semi")
            src_labels = F.broadcast(src_labels.join(F.broadcast(front), "src"))
        else:
            active = e
            if size < num_verts:
                src_labels = src_labels.join(front, "src", "left_semi")
            if big_v:
                src_labels = src_labels.hint("shuffle_hash")
        return (
            active.join(src_labels, "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("lab").alias(f"{tag}cand"))
        )

    def step(state: DataFrame, rnd: int) -> DataFrame:
        joined = state
        for labcol, e, tag in (("flab", edges, "f"), ("blab", tedges, "b")):
            if sizes[labcol] > 0:
                joined = joined.join(gather(state, e, labcol, tag), "id", "left")
        # gather step: fold the edge candidates into the labels, keep
        # the round's starting labels for the change test after jumps
        gcols = [F.col("id")]
        for labcol, tag in (("flab", "f"), ("blab", "b")):
            if sizes[labcol] == 0:
                gcols += [F.col(labcol), F.col(labcol).alias(f"o{labcol}")]
            else:
                cand = F.coalesce(f"{tag}cand", F.col(labcol))
                gcols += [
                    F.least(F.col(labcol), cand).alias(labcol),
                    F.col(labcol).alias(f"o{labcol}"),
                ]
        gath = joined.select(*gcols)
        # pointer-jump shortcutting (the cc_lp_pj.gt doubling trick,
        # promoted from "documented scale-up path" to the default):
        # lab(v)=u witnesses u ->* v and lab(u)=w witnesses w ->* u, so
        # lab(v) min= lab(lab(v)) is a valid relabel that composes the
        # two paths — a depth-d chain converges in O(log d)-ish rounds
        # instead of d. The jump side carries ONLY the rows this
        # round's gather improved (a jump through an unchanged pointer
        # target cannot lower anything the gather has not already
        # delivered, and completeness rests on the gather alone — the
        # jump is purely an accelerator), so the join side shrinks
        # with the frontier and AQE broadcasts it once labels settle;
        # the measured V-sized-side variant cost ~50% per round on
        # shallow graphs for the same effect. Jumps only engage once
        # the round count passes _JUMP_FROM: a shallow fixpoint (the
        # common web case — effective diameter well under 10) never
        # pays the extra join at all, while a deep chain switches to
        # the doubling regime after a constant prefix. A converged
        # direction skips its jump.
        jumping = rnd >= _JUMP_FROM
        jcols = [F.col("id"), F.col("oflab"), F.col("oblab")]
        for labcol in ("flab", "blab"):
            if sizes[labcol] == 0 or not jumping:
                jcols.append(F.col(labcol))
            else:
                jmp = gath.filter(
                    F.col(labcol) < F.col(f"o{labcol}")
                ).select(
                    F.col("id").alias(f"j_{labcol}_id"),
                    F.col(labcol).alias(f"j_{labcol}"),
                )
                gath = gath.join(
                    jmp, gath[labcol] == jmp[f"j_{labcol}_id"], "left"
                )
                jcols.append(
                    F.least(
                        F.col(labcol),
                        F.coalesce(f"j_{labcol}", F.col(labcol)),
                    ).alias(labcol)
                )
        return gath.select(*jcols).select(
            "id",
            "flab",
            "blab",
            (F.col("flab") < F.col("oflab")).alias("fchg"),
            (F.col("blab") < F.col("oblab")).alias("bchg"),
        )

    def changed(state: DataFrame) -> int:
        row = state.agg(
            F.sum(F.col("fchg").cast("int")).alias("fc"),
            F.sum(F.col("bchg").cast("int")).alias("bc"),
        ).collect()[0]
        sizes["flab"], sizes["blab"] = int(row["fc"] or 0), int(row["bc"] or 0)
        return sizes["flab"] + sizes["blab"]

    init = verts.select(
        "id", F.col("id").alias("flab"), F.col("id").alias("blab"),
        F.lit(True).alias("fchg"), F.lit(True).alias("bchg"),
    )
    return iterate(step, init, range(max_iters), measure=changed)


def strongly_connected_components(
    graph: LinkGraph,
    *,
    max_outer: int | None = None,
    max_prop: int = 100,
    metrics_out: dict | None = None,
) -> DataFrame:
    """Returns (id, scc) for every vertex in [0, n); scc = min vertex
    id of the strongly connected component (trivial SCCs map to the
    vertex itself).

    Correctness requires the F/B fixpoints to CONVERGE before a peel:
    matched vertices are always genuinely in SCC(c), but peeling a
    PARTIAL SCC would cut paths between its remaining members, so an
    unconverged fixpoint raises instead of mis-peeling (at the
    converged fixpoint F and B are constant on each SCC, so the
    matched set is a union of whole SCCs). The fixpoint runs WITH
    label shortcutting (pointer jumps — O(log d) rounds on depth-d
    residuals), so max_prop=100 is a safety net, not a tuning dial.

    The outer peel is the FW-BW divide-and-conquer flattened into BSP:
    survivors refine a partition key with their (flab, blab) pair —
    every SCC has constant labels at the converged fixpoint, so it
    lies entirely inside one class — and the next fixpoint runs over
    intra-class edges only, peeling from every class at once. Deep
    condensation chains (the plain peel's O(depth) wall) shatter into
    singleton classes after one refinement and finish in 2-3 outer
    rounds. The peel needs no size-based budget: every class's
    converged round assigns at least its minimum-id vertex's SCC (its
    flab and blab are both itself), so progress per round is
    guaranteed; a round that assigns nothing raises (a broken
    fixpoint, not a deep graph). max_outer stays available as an
    explicit fail-fast cap."""
    own_cache = graph.ensure_persisted()
    # verts carries a PARTITION KEY alongside each id: the classic
    # FW-BW divide-and-conquer, flattened into BSP. After a fixpoint,
    # every SCC has constant (flab, blab) and therefore lies entirely
    # inside one (pk, flab, blab) class — so the survivors' pk is
    # refined with the label pair and the next round's fixpoint runs
    # over INTRA-CLASS edges only, peeling one-or-more SCCs from EVERY
    # class simultaneously. A depth-d condensation chain that the
    # plain peel walked in d outer rounds (one "locally minimal" SCC
    # per round — the round-5 sf0.1 bowtie paid ~150) splits into
    # singleton classes after one refinement and finishes in 2-3. A
    # 64-bit hash collision merging two classes costs rounds, never
    # correctness (a merged class still contains only whole SCCs).
    verts = (
        graph.vertices()
        .select("id", F.lit(0).cast("long").alias("pk"))
        .transform(fresh_checkpoint)
    )
    # lazy: the loop's first count materializes it
    edges = fresh_checkpoint(graph.edges.select("src", "dst"), eager=False)
    cedges = edges
    n_active = graph.num_vertices
    assigned_parts: list[DataFrame] = []
    outer = 0
    while n_active > 0:
        num_edges = edges.count()
        if num_edges and max_outer is not None and outer >= max_outer:
            raise RuntimeError(
                f"SCC did not finish within max_outer={max_outer} rounds "
                f"({n_active} vertices unassigned)"
            )
        big_v = n_active > 500_000
        if outer == 0 or num_edges == 0:
            # a single class (or no edges left): the residual IS the
            # class-restricted graph
            cedges, num_cedges = edges, num_edges
        else:
            cedges = fresh_checkpoint(
                edges.join(
                    verts.select(
                        F.col("id").alias("src"), F.col("pk").alias("pks")
                    ),
                    "src",
                )
                .join(
                    verts.select(
                        F.col("id").alias("dst"), F.col("pk").alias("pkd")
                    ),
                    "dst",
                )
                .filter(F.col("pks") == F.col("pkd"))
                .select("src", "dst"),
                eager=False,
            )
            num_cedges = cedges.count()  # materializes cedges
        if num_cedges == 0:
            # no intra-class edges anywhere: every remaining vertex is
            # a trivial SCC (an SCC never spans classes)
            assigned_parts.append(
                verts.select("id", F.col("id").alias("scc"))
                .transform(fresh_checkpoint)
            )
            break
        tedges = cedges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst")
        )
        fix = _fw_bw_fixpoint(
            cedges, tedges, verts.select("id"), num_cedges, n_active,
            big_v, max_prop,
        )
        labs = fix.state
        if not fix.converged:
            labs.unpersist()
            raise RuntimeError(
                f"SCC fixpoint did not converge within max_prop={max_prop} "
                "rounds — peeling an unconverged (partial) SCC would split "
                "it; raise max_prop above the residual directed diameter"
            )
        matched = (
            labs.filter(F.col("flab") == F.col("blab"))
            .select("id", F.col("flab").alias("scc"))
            .transform(fresh_checkpoint)
        )
        assigned_parts.append(matched)
        new_verts = (
            verts.join(labs, "id")
            .join(matched.select("id"), "id", "left_anti")
            .select(
                "id", F.xxhash64("pk", "flab", "blab").alias("pk")
            )
            .transform(fresh_checkpoint)
        )
        new_edges = (
            edges.join(
                new_verts.select(F.col("id").alias("src")), "src", "left_semi"
            )
            .join(
                new_verts.select(F.col("id").alias("dst")), "dst", "left_semi"
            )
            .select("src", "dst")
            .transform(fresh_checkpoint)
        )
        for df in (cedges, verts, edges, labs):
            df.unpersist()
        verts, edges = new_verts, new_edges
        prev_active = n_active
        n_active = verts.count()
        if n_active == prev_active:
            # every class's converged fixpoint matches at least the
            # class-minimum's SCC, so zero progress means a broken
            # fixpoint, never a deep graph — fail instead of spinning
            raise RuntimeError(
                "SCC peel made no progress in a converged round "
                f"({n_active} vertices unassigned)"
            )
        outer += 1
    for df in (cedges, edges, verts):
        df.unpersist()
    if own_cache:
        graph.unpersist()
    if metrics_out is not None:
        metrics_out["outer_rounds"] = outer
    return union_checkpoints(assigned_parts)


def condensation_layers(
    graph: LinkGraph,
    labels: DataFrame | None = None,
    *,
    max_rounds: int = 24,
) -> DataFrame:
    """Condensation-DAG topological depth: (id, scc, layer) with
    layer = length of the longest SCC-chain leading into the vertex's
    component (sources at 0) — the web-graph processing order: layer L
    can only be influenced by layers < L, so crawl analyses and
    incremental recomputations sweep layers in order. Contracting SCCs
    always yields a DAG, so the recurrence

        layer(c) = max(layer(c), 1 + max over predecessors)

    is monotone, idempotent past its fixpoint, and converges in
    depth-of-DAG rounds. ``max_rounds`` is the shared round budget with
    the SQL twin; the driver early-stops on no-change, which by
    idempotence equals running the full budget.

    Spark plan: two V-sized label joins project the edge table onto
    components once (distinct → the condensation is usually orders of
    magnitude smaller than E), then each round is one broadcast-sized
    join + map-side-combined groupBy(max) over the condensation — the
    per-round cost scales with the DAG, not the graph. One scalar
    action per round; superseded checkpoints released.
    """
    own_cache = graph.ensure_persisted()
    if labels is None:
        labels = strongly_connected_components(graph)
    labels = labels.transform(fresh_checkpoint)
    ls = labels.select(F.col("id").alias("src"), F.col("scc").alias("cu"))
    ld = labels.select(F.col("id").alias("dst"), F.col("scc").alias("cv"))
    cond = (
        graph.edges.join(ls, "src")
        .join(ld, "dst")
        .filter(F.col("cu") != F.col("cv"))
        .select("cu", "cv")
        .distinct()
        .transform(fresh_checkpoint)
    )
    layer = (
        labels.select(F.col("scc").alias("c"))
        .distinct()
        .withColumn("layer", F.lit(0).cast("long"))
        .transform(fresh_checkpoint)
    )
    for _ in range(max_rounds):
        cand = (
            cond.join(layer, cond["cu"] == layer["c"])
            .groupBy(F.col("cv").alias("c"))
            .agg((F.max("layer") + 1).alias("cand"))
        )
        new_layer = (
            layer.join(cand, "c", "left")
            .select(
                "c",
                F.greatest(
                    F.col("layer"), F.coalesce("cand", F.lit(0))
                ).alias("layer"),
            )
            .transform(fresh_checkpoint)
        )
        changed = (
            new_layer.join(
                layer.select("c", F.col("layer").alias("old")), "c"
            )
            .filter(F.col("layer") != F.col("old"))
            .count()
        )
        layer.unpersist()
        layer = new_layer
        if changed == 0:
            break
    out = (
        labels.join(layer, labels["scc"] == layer["c"])
        .select("id", "scc", "layer")
        .transform(fresh_checkpoint)
    )
    labels.unpersist()
    cond.unpersist()
    layer.unpersist()
    if own_cache:
        graph.unpersist()
    return out
