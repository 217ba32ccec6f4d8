"""The benchmark's workloads: generated inputs, the timed call, the check.

Each workload makes its inputs from the seed alone, builds them in
`setup` (repeated by the runner; the median is `setup_s`), runs the
engine's public calls in `call` (timed), and compares every output with
an oracle in `check` (untimed). Why each workload exists, and what it
measures, is in perfbench/README.md.
"""

from __future__ import annotations

import math
import os
import random
import shutil

import numpy as np
from pyspark.sql import DataFrame, functions as F

from graphit_spark import LinkGraph, SnapshotStore
from graphit_spark.datagen import gen_pages, golden_pages_edge_ids
from graphit_spark.extract import pages_to_edges
from graphit_spark.kernels import (
    connected_components,
    k_truss,
    label_propagation,
    pagerank,
    triangle_count,
)
from graphit_spark.synth import synth_edges

from perfbench import oracles

# Input sizes. A run times one call, and the whole benchmark
# (2 workloads x 22 runs + 4) must finish in under an hour at local[4];
# at these sizes per-superstep Spark job overhead dominates each call,
# as it does for the engine at scale.
PR_VERTICES = 20_000  # synth_edges: ~343k edges, 11 supersteps to 1e-6
PR_TOL = 1e-6
CRAWL_PAGES = 600  # 10k edges after squish; the 4-truss peel takes 3 rounds
CRAWL_FIRST_LEG = 3  # supersteps before the resumed call
CRAWL_SUPERSTEPS = 6
LPA_ROUNDS = 3
TRUSS_K = 4

def seeded_relabel(edges: DataFrame, n: int, seed: int) -> DataFrame:
    """Renumber vertex ids by v -> (a*v + b) mod n, a bijection on [0, n)
    drawn from the seed: same graph, different ids and partitioning."""
    rng = random.Random(seed)
    a = rng.randrange(1, n)
    while math.gcd(a, n) != 1:
        a = rng.randrange(1, n)
    b = rng.randrange(n)

    def f(c):
        return F.pmod(F.col(c) * F.lit(a) + F.lit(b), F.lit(n)).alias(c)

    return edges.select(f("src"), f("dst"))


def edge_arrays(edges: DataFrame) -> tuple[np.ndarray, np.ndarray]:
    pdf = edges.select("src", "dst").toPandas()
    return pdf["src"].to_numpy(np.int64), pdf["dst"].to_numpy(np.int64)


def warm_graph(edges: DataFrame) -> LinkGraph:
    """LinkGraph with its edge cache and out-degrees materialized."""
    g = LinkGraph(edges)
    g.num_edges
    g.out_degrees().count()
    return g


class Workload:
    """One benchmark workload. Subclasses fill in the hooks below."""

    name = ""

    def __init__(self, spark, seed: int, work_dir: str, tracer):
        self.spark = spark
        self.seed = seed
        self.work_dir = work_dir
        self.tracer = tracer
        self.graph: LinkGraph | None = None

    def setup(self) -> None:
        """Generate the inputs and build what the timed call starts from."""
        raise NotImplementedError

    def prepare_oracle(self) -> None:
        """Compute the reference results (untimed)."""
        raise NotImplementedError

    def warm_up(self) -> None:
        """Untimed work after set-up that compiles the call's plans."""

    def call(self) -> dict:
        """The timed section: public engine calls, outputs collected.
        The result's "rounds" maps each kernel layer to the supersteps or
        rounds it ran (one-shot kernels count 1)."""
        raise NotImplementedError

    def check(self, out: dict) -> list[str]:
        """Mismatches between `out` and the oracle; empty when correct."""
        raise NotImplementedError

    def edge_passes(self, out: dict) -> int:
        """Edges traversed in the call: edges x supersteps, summed over
        kernels (one-shot kernels count one superstep)."""
        raise NotImplementedError

    def details(self, out: dict) -> dict:
        """Layer numbers only this workload has (traced run)."""
        return {}

    def layer_probes(self) -> tuple[dict, list[str]]:
        """Traced runs only: direct calls into layers the timed call does
        not use, each in its own span and checked against the oracle.
        Returns (rounds per layer, mismatches)."""
        return {}, []

    def after_call(self, out: dict) -> None:
        """Release what one call created (untimed)."""

    def release(self) -> None:
        if self.graph is not None:
            self.graph.unpersist()
            self.graph = None

    def state_frame(self) -> DataFrame:
        """A V-sized frame shaped like PageRank's state, for the direct
        plans.state and checkpoint probes of the traced run."""
        g = self.graph
        return g.out_degrees().withColumn("rank", F.lit(1.0 / g.num_vertices))


def _mismatch(name: str, got: np.ndarray, want: np.ndarray) -> list[str]:
    if got.shape != want.shape:
        return [f"{name}: {got.shape[0]} rows, oracle has {want.shape[0]}"]
    bad = int((got != want).sum())
    return [f"{name}: {bad} of {len(want)} differ"] if bad else []


def _ranks_close(name: str, pdf, want: np.ndarray, rtol: float) -> list[str]:
    pdf = pdf.sort_values("id")
    ids = pdf["id"].to_numpy(np.int64)
    if len(ids) != len(want) or not np.array_equal(ids, np.arange(len(want))):
        return [f"{name}: {len(ids)} ids, oracle has {len(want)}"]
    got = pdf["rank"].to_numpy(np.float64)
    if not np.allclose(got, want, rtol=rtol, atol=0.0):
        worst = float(np.max(np.abs(got - want) / want))
        return [f"{name}: max relative error {worst:.3g} > {rtol:g}"]
    return []


class PrConverge(Workload):
    name = "pr_converge"

    def _edges(self) -> DataFrame:
        return seeded_relabel(synth_edges(self.spark, PR_VERTICES), PR_VERTICES, self.seed)

    def setup(self) -> None:
        self.release()
        edges = self._edges()
        with self.tracer.span("graph"):
            self.graph = warm_graph(edges)

    def prepare_oracle(self) -> None:
        src, dst = edge_arrays(self._edges())
        n = oracles.universe(src, dst)
        self.num_edges = len(oracles.squish(src, dst, n)[0])
        self.ref_rank, self.ref_iters, _ = oracles.pagerank(src, dst, tol=PR_TOL)

    def warm_up(self) -> None:
        """Two supersteps: every plan of the timed call (gather, state
        checkpoint, L1 action) runs once, at a fifth of the call's cost."""
        pagerank(self.graph, tol=PR_TOL, max_iters=2).toPandas()

    def call(self) -> dict:
        m: dict = {}
        with self.tracer.span("pagerank"):
            ranks = pagerank(self.graph, tol=PR_TOL, max_iters=100, metrics_out=m).toPandas()
        return {"ranks": ranks, "l1": m["final_err"], "rounds": {"pagerank": m["iterations"]}}

    def check(self, out: dict) -> list[str]:
        errs = _ranks_close("pagerank", out["ranks"], self.ref_rank, 1e-6)
        iters = out["rounds"]["pagerank"]
        if iters != self.ref_iters:
            errs.append(f"pagerank: {iters} supersteps, oracle {self.ref_iters}")
        if not out["l1"] <= PR_TOL:
            errs.append(f"pagerank: final L1 {out['l1']} above {PR_TOL}")
        return errs

    def edge_passes(self, out: dict) -> int:
        return self.num_edges * out["rounds"]["pagerank"]

    def details(self, out: dict) -> dict:
        return {"pagerank.final_l1": out["l1"]}


class CrawlToRank(Workload):
    name = "crawl_to_rank"

    def setup(self) -> None:
        """Materializes the crawl as parquet, rows in a seeded order."""
        self.pages_dir = os.path.join(self.work_dir, "pages")
        pages = gen_pages(self.spark, CRAWL_PAGES)
        order = F.xxhash64(F.lit(self.seed), F.col("url"))
        pages.orderBy(order).write.mode("overwrite").parquet(self.pages_dir)
        self._calls = 0

    def prepare_oracle(self) -> None:
        gold = np.array(golden_pages_edge_ids(CRAWL_PAGES), dtype=np.int64)
        src, dst = gold[:, 0], gold[:, 1]
        self.gold_key = np.sort(src * CRAWL_PAGES + dst)
        n = oracles.universe(src, dst)
        self.num_edges = len(oracles.squish(src, dst, n)[0])
        self.ref_rank, _, _ = oracles.pagerank(src, dst, iters=CRAWL_SUPERSTEPS)
        self.ref_cc = oracles.components(src, dst)
        self.ref_lpa = oracles.label_propagation(src, dst, LPA_ROUNDS)
        self.ref_tri = oracles.triangles(src, dst)
        self.ref_truss = oracles.k_truss(src, dst, TRUSS_K)

    def _extract(self) -> DataFrame:
        edges, _url_ids = pages_to_edges(self.spark.read.parquet(self.pages_dir))
        return edges

    def call(self) -> dict:
        self._calls += 1
        store = SnapshotStore(os.path.join(self.work_dir, "snapshots"), f"call{self._calls}")
        with self.tracer.span("extract"):
            edges = self._extract()
        with self.tracer.span("graph"):
            self.graph = LinkGraph(edges)
            self.graph.num_edges
        with self.tracer.span("pagerank"):
            pagerank(self.graph, max_iters=CRAWL_FIRST_LEG, store=store)
        with self.tracer.span("pagerank_resume"):
            ranks = pagerank(
                self.graph, max_iters=CRAWL_SUPERSTEPS, store=store, resume=True
            ).toPandas()
        rounds = {
            "pagerank": CRAWL_FIRST_LEG,
            "pagerank_resume": CRAWL_SUPERSTEPS - CRAWL_FIRST_LEG,
        }
        return {"edges": edges, "store": store, "ranks": ranks, "rounds": rounds}

    def check(self, out: dict) -> list[str]:
        src, dst = edge_arrays(out["edges"])
        errs = []
        if not np.array_equal(np.sort(src * CRAWL_PAGES + dst), self.gold_key):
            errs.append(f"extract: {len(src)} edges, golden {len(self.gold_key)}, contents differ")
        done = out["store"].complete_iterations()
        if done != list(range(CRAWL_SUPERSTEPS)):
            errs.append(f"snapshot: committed iterations {done}")
        return errs + _ranks_close("pagerank_resume", out["ranks"], self.ref_rank, 1e-9)

    def edge_passes(self, out: dict) -> int:
        return self.num_edges * CRAWL_SUPERSTEPS

    def details(self, out: dict) -> dict:
        store = out["store"]
        its = store.complete_iterations()
        size = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(store.dir)
            for f in files
        )
        return {
            "extract.links": len(self.gold_key),
            "snapshot.manifest_write_s": sum(
                store.manifest(i)["elapsed_write_sec"] for i in its
            ),
            "snapshot.run_mb": size / (1024.0 * 1024.0),
        }

    def after_call(self, out: dict) -> None:
        shutil.rmtree(out["store"].dir, ignore_errors=True)
        self.release()

    def state_frame(self) -> DataFrame:
        if self.graph is None:
            self.graph = warm_graph(self._extract())
        return super().state_frame()

    def layer_probes(self) -> tuple[dict, list[str]]:
        """The frontier, argmax, intersection and peel kernels on the
        crawl graph: CC to convergence, LPA, triangle count, 4-truss."""
        if self.graph is None:
            self.graph = warm_graph(self._extract())
        span = self.tracer.span
        cc_m: dict = {}
        truss_m: dict = {}
        with span("components"):
            cc = connected_components(self.graph, metrics_out=cc_m).toPandas()
        with span("labelprop"):
            lpa = label_propagation(self.graph, rounds=LPA_ROUNDS).toPandas()
        with span("triangles"):
            tri = int(triangle_count(self.graph).first()["triangles"])
        with span("truss"):
            truss = k_truss(self.graph, TRUSS_K, metrics_out=truss_m).toPandas()
        rounds = {
            "components": cc_m["iterations"],
            "labelprop": LPA_ROUNDS,
            "triangles": 1,
            "truss": truss_m["rounds"],
        }
        cc = cc.sort_values("id")["comp"].to_numpy(np.int64)
        lpa = lpa.sort_values("id")["label"].to_numpy(np.int64)
        errs = _mismatch("components", cc, self.ref_cc)
        errs += _mismatch("labelprop", lpa, self.ref_lpa)
        if tri != self.ref_tri:
            errs.append(f"triangles: {tri}, oracle {self.ref_tri}")
        got = set(zip(truss["src"].tolist(), truss["dst"].tolist(), truss["support"].tolist()))
        if got != self.ref_truss:
            errs.append(
                f"truss: {len(got ^ self.ref_truss)} rows differ "
                f"({len(got)} vs oracle {len(self.ref_truss)})"
            )
        return rounds, errs


WORKLOADS = {w.name: w for w in (PrConverge, CrawlToRank)}
