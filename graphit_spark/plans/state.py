"""Iteration-state checkpointing that stays flat over hundreds of rounds.

Root cause this module exists for (measured on Spark 4.1.2, see
BENCH/PLANS.md "iterated checkpoint" entry): ``df.localCheckpoint()``
truncates the plan to a ``LogicalRDD`` but INHERITS the original plan's
``Statistics``. Join stats compose as PRODUCTS of child ``sizeInBytes``
(SizeInBytesOnlyStatsPlanVisitor), so when a fixpoint kernel's round
plan references its own state more than once — CC's gather + two
pointer-jump hops (state appears twice per join), k-truss's decrement
(scored joined against peel-derived-from-scored), BFS/SSSP's
merge-with-candidates — the checkpointed state's inherited sizeInBytes
bit-length MULTIPLIES each round. The number stays a BigInteger, so
nothing overflows; instead every stats call (join planning,
InjectRuntimeFilter, AQE) pays Toom-Cook multiplication on an integer
whose bit-length grows geometrically: profiled at 2.0 s → 6.3 s →
28 s → 90 s per pointer-jump hop on a 1.5k-vertex warm CC run, with a
jstack showing 380+ s of driver CPU inside BigInteger.multiply under
``SizeInBytesOnlyStatsPlanVisitor``, and an OutOfMemoryError at
default driver memory. Flat 42-node plans, bounded storage, constant
job counts — exactly the "iterated localCheckpoint chain degrades
superlinearly" symptom kernels/truss.py previously worked around with
a parquet spill (parquet reads reset stats to real file sizes, which
is why that worked).

``fresh_checkpoint`` fixes it at the source: checkpoint eagerly, then
rebuild the DataFrame from the SAME checkpointed InternalRow RDD via
``SparkSession.internalCreateDataFrame`` — no recomputation, no
Python-side row round-trip, and the rebuilt ``LogicalRDD`` carries no
inherited stats (it reports the session default sizeInBytes, a
CONSTANT, so round N+1's products are the same size as round 1's).
Kernels that want a broadcast of the small state still get one: they
hint it explicitly (F.broadcast), which bypasses size estimation.

``internalCreateDataFrame`` is ``private[sql]`` in Scala — public in
bytecode, reachable from py4j, and stable across Spark 3.x/4.x — but
guard anyway: any failure falls back to the plain checkpointed frame,
which is merely slower, never wrong.

Release semantics (measured, Spark 4.1.2): ``DataFrame.unpersist()`` on
a localCheckpointed frame — stripped or not — only touches the SQL
cacheManager and is a NO-OP for the checkpoint's RDD blocks; the blocks
otherwise linger until the JVM ContextCleaner garbage-collects the RDD
(async, unbounded lag under driver memory pressure — the exact moment
you need the release). ``fresh_checkpoint`` therefore captures the
persisted RDD (``LogicalRDD.rdd()``) and binds an instance-level
``unpersist`` on the returned frame that unpersists THAT RDD — a real,
immediate release, but only through that very frame: ``unpersist()`` on
a frame derived from it (a select, a filter) is still the no-op above.
Releasing a localCheckpointed RDD makes it unrecomputable (Spark logs a
warning we silence once), which is exactly the contract: only
SUPERSEDED state is released, and every consumer of live state holds
a checkpoint of its own, materialized before anything it was computed
from is released. A lazy checkpoint (``eager=False``) is materialized
by the first action that reads all of it — a round's convergence
count — which saves the separate materializing job. For round state
that release lives in one place, the superstep driver
(``plans/fixpoint.iterate``): it keeps the bound frame of every round
and releases it once the next round's checkpoint is materialized, so
no kernel loop releases state by hand.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_WARN_SILENCED = False


def _silence_unpersist_warning(spark) -> None:
    """The 'locally checkpointed ... cannot be recomputed' WARN fires on
    every intentional release — once per superseded round. Lower that
    one logger to ERROR (log4j2), best-effort."""
    global _WARN_SILENCED
    if _WARN_SILENCED:
        return
    _WARN_SILENCED = True
    try:  # pragma: no cover - logging cosmetics only
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.rdd.MapPartitionsRDD",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:
        pass


def fresh_checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """localCheckpoint(eager) + strip inherited Statistics.

    Drop-in replacement for ``df.localCheckpoint(eager=True)`` in
    fixpoint loops. Returns a DataFrame over the checkpointed RDD whose
    stats do not compound across rounds (see module docstring), and
    whose ``unpersist()`` actually frees the checkpoint's blocks.
    ``eager=False`` leaves the blocks to the first action that reads
    every partition (it caches them and truncates the lineage as it
    goes), saving the materializing job when such an action follows."""
    ck = df.localCheckpoint(eager=eager)
    try:
        spark = ck.sparkSession
        jdf = ck._jdf
        ck_rdd = jdf.queryExecution().analyzed().rdd()  # the persisted RDD
        stripped = spark._jsparkSession.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False
        )
        out = DataFrame(stripped, spark)
    except Exception:  # pragma: no cover - py4j surface drift
        return ck

    def _unpersist(blocking: bool = False):
        _silence_unpersist_warning(spark)
        try:
            ck_rdd.unpersist(blocking)
        except Exception:  # pragma: no cover - already released / gone
            pass
        return out

    out.unpersist = _unpersist
    return out


def union_checkpoints(parts: list[DataFrame]) -> DataFrame:
    """unionByName of ``fresh_checkpoint`` frames, whose ``unpersist()``
    releases every part (a result assembled from per-round parts stays
    releasable by its consumer)."""
    out = parts[0]
    for part in parts[1:]:
        out = out.unionByName(part)
    if len(parts) > 1:
        releases = [part.unpersist for part in parts]

        def _unpersist(blocking: bool = False):
            for release in releases:
                release(blocking)
            return out

        out.unpersist = _unpersist
    return out
