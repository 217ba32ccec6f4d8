"""What an iterative kernel leaves cached once its caller is done with it.

Each kernel runs on a small hand graph; the result is dropped and both
the Python and the JVM garbage collectors run once. The JVM's cleaner
unpersists unreachable RDDs only later and asynchronously, so the RDDs
still listed right after are the ones the kernel persisted and did not
release itself. They must be no more than the checkpoints its returned
frame read: one per kernel, one per assigned part for SCC. A superseded
round state that the kernel left to the garbage collector shows up
here."""

import gc

import pytest

from graphit_spark import LinkGraph
from graphit_spark.kernels import (
    bowtie_classes,
    connected_components,
    label_propagation,
    label_spreading,
    pagerank,
    pagerank_delta,
    personalized_pagerank,
    personalized_pagerank_batch,
    strongly_connected_components,
    trustrank,
    weighted_label_propagation,
    weighted_pagerank,
)

# three cycles {0,1,2}, {3,4}, {5,6,7} chained 2->3->...->5, plus a sink 8
EDGES = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 3), (4, 5),
         (5, 6), (6, 7), (7, 5), (1, 8)]
WEIGHTED = [(s, d, 1 + (s + d) % 3) for s, d in EDGES]

KERNELS = {
    "pagerank": (EDGES, lambda g: pagerank(g, max_iters=2, tol=1e-12)),
    "weighted_pagerank": (WEIGHTED, lambda g: weighted_pagerank(g, max_iters=2)),
    "personalized_pagerank": (
        EDGES, lambda g: personalized_pagerank(g, 0, max_iters=2)),
    "trustrank": (WEIGHTED, lambda g: trustrank(g, [0, 5], max_iters=2)),
    "pagerank_delta": (EDGES, lambda g: pagerank_delta(g, max_iters=2)),
    "personalized_pagerank_batch": (
        EDGES, lambda g: personalized_pagerank_batch(g, [0, 5], max_iters=2)),
    "label_propagation": (EDGES, lambda g: label_propagation(g, rounds=2)),
    "weighted_label_propagation": (
        WEIGHTED, lambda g: weighted_label_propagation(g, rounds=2)),
    "label_spreading": (
        EDGES,
        lambda g: label_spreading(
            g, g.spark.createDataFrame([(0, 1), (5, 2)], "id long, label long"),
            rounds=2,
        ),
    ),
    "connected_components": (EDGES, connected_components),
    "strongly_connected_components": (EDGES, strongly_connected_components),
    "bowtie_classes": (EDGES, bowtie_classes),
}


def _persistent(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


@pytest.mark.parametrize("name", sorted(KERNELS))
def test_kernel_leaves_only_its_result_cached(spark, name):
    pairs, run = KERNELS[name]
    g = LinkGraph.from_pairs(spark, pairs)
    g.num_edges, g.out_degrees().count()
    before = _persistent(spark)

    result = run(g)
    result.collect()
    backing = result._jdf.queryExecution().analyzed().toString().count("LogicalRDD")
    assert backing >= 1
    del result
    gc.collect()
    spark.sparkContext._jvm.System.gc()

    left = _persistent(spark) - before
    g.unpersist()
    assert len(left) <= backing, f"{name}: {len(left)} RDDs left, result reads {backing}"
