"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload pr_converge --seed 1 --seconds 1 --trace 0

Run from the repository root. The engine runs at local[4] with a 2 GB
driver heap in this one process. `--trace 0` times whole calls and
reports the end-to-end metrics; `--trace 1` wraps every layer call in its
own Spark job group, prints the per-layer table and reports the
per-layer metrics. The last line of stdout is the result object; all
other diagnostics go before it. Everything the run writes lives under
.bench_work/ in the current directory and is removed at exit. See
perfbench/README.md for the workloads and what each metric means.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

MASTER_CORES = 4
DRIVER_MEMORY = "2g"
SETUP_REPS = 3
PROBE_REPS = 3  # direct plans.state / checkpoint probe calls (traced run)
PROBE_DEADLINE_S = 100  # traced runs skip the layer probes after this
KERNEL_LAYERS = ("pagerank", "pagerank_resume")  # kernel calls inside the timed call
LAYER_STATS = ("wall_s", "jobs", "stages", "tasks", "driver_s", "cpu_s", "gc_s",
               "shuffle_write_mb", "spill_mb", "cached_mb", "slot_util")


def cpu_probe() -> float:
    """Seconds for a fixed single-threaded integer loop: a record of the
    host's speed in this run's time window (median of three)."""
    times = []
    for _ in range(3):
        t = time.perf_counter()
        x = 0
        for i in range(1_000_000):
            x = (x * 31 + i) & 0xFFFFFFFF
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def tail_percentile(values: list[float]) -> str:
    """The highest percentile with at least ten samples beyond it."""
    n = len(values)
    if n < 11:
        return f"n={n}, too few samples for a tail percentile"
    p = 1.0 - 10.0 / n
    v = sorted(values)[min(n - 1, int(p * n))]
    return f"n={n}, p{100 * p:.0f}={v:.4f}"


def start_spark(work: str):
    from graphit_spark import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{MASTER_CORES}]",
        shuffle_partitions=MASTER_CORES,
        driver_memory=DRIVER_MEMORY,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # k_truss runs ~hundreds of jobs per call; keep them all
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.local.dir": os.path.join(work, "spark"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # a pinned heap: a growing one made peak RSS follow GC sizing
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY}",
        },
    )


def stop_spark(spark) -> None:
    """Stop the context, then end the JVM and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when stdin closes
        proc.wait(timeout=60)


def timed_calls(wl, tracer, stats, seconds: float) -> list[dict]:
    """Repeat the workload's call until `seconds` have passed, at least
    once; each call's output is checked after its timing ends."""
    records = []
    t_end = time.perf_counter() + seconds
    while not records or time.perf_counter() < t_end:
        group = tracer.call_group("call")
        start_ms = time.time() * 1e3
        t0 = time.perf_counter()
        try:
            out = wl.call()
            errs = None
        except Exception:  # the engine failed this call: count it, go on
            out, errs = None, [traceback.format_exc()]
        wall = time.perf_counter() - t0
        if errs is None:
            errs = wl.check(out)
        rec = {"wall_s": wall, "errors": errs}
        rec["counters"] = stats.group_counters(group, start_ms, start_ms + wall * 1e3)
        rec["spans"] = tracer.take_spans()
        if out is not None:
            rec["layer_rounds"] = out["rounds"]
            rec["edge_passes"] = wl.edge_passes(out)
            rec["details"] = wl.details(out)
            wl.after_call(out)
        records.append(rec)
        for e in errs:
            print(f"FAILED call {len(records)}: {e}", file=sys.stderr)
    return records


def layer_rows(records: list[dict]) -> tuple[dict[str, dict], dict]:
    """Per layer: counters of the call with the median wall; and that call."""
    rec = sorted(records, key=lambda r: r["wall_s"])[(len(records) - 1) // 2]
    rows = {}
    for sp in rec["spans"]:
        rows[sp.layer] = dict(sp.counters, wall_s=sp.wall_s, cached_mb=sp.cached_mb)
    covered = sum(sp.wall_s for sp in rec["spans"])
    rows["(outside layers)"] = dict(rec["counters"], wall_s=rec["wall_s"] - covered, cached_mb=0.0)
    return rows, rec


def derive(row: dict, cores: int) -> dict:
    wall = row["wall_s"]
    return {
        "driver_s": max(wall - row["job_busy_s"], 0.0),
        "slot_util": row["run_s"] / (wall * cores) if wall > 0 else 0.0,
    }


def print_layer_table(rows: dict, cores: int) -> None:
    cols = LAYER_STATS
    print("layer".ljust(18) + "".join(c.rjust(17) for c in cols))
    total = 0.0
    for name, row in rows.items():
        row = dict(row, **derive(row, cores))
        total += row["wall_s"]
        cells = "".join(
            (f"{row[c]:17d}" if isinstance(row[c], int) else f"{row[c]:17.4f}") for c in cols
        )
        print(name.ljust(18) + cells)
    print(f"rows sum to {total:.4f} s")


def add_layer_numbers(layers: dict, rows: dict, rounds: dict, cores: int) -> None:
    """Name every layer's numbers `<layer>.<stat>`, plus rounds and jobs
    per round for the layers that report rounds."""
    for name, row in rows.items():
        d = dict(row, **derive(row, cores))
        for k in LAYER_STATS:
            layers[f"{name}.{k}"] = d[k]
    for name, n in rounds.items():
        layers[f"{name}.rounds"] = n
        layers[f"{name}.jobs_per_round"] = rows[name]["jobs"] / n


def median_probe(tracer, layer: str, fn, reps: int) -> tuple[float, dict]:
    """Run fn `reps` times in its own span; wall and counters of the median."""
    tracer.enabled = True
    tracer.call_group("probe")
    for _ in range(reps):
        with tracer.span(layer):
            fn()
    spans = sorted(tracer.take_spans(), key=lambda s: s.wall_s)
    mid = spans[(len(spans) - 1) // 2]
    return mid.wall_s, mid.counters


def traced_metrics(wl, tracer, stats, records, setup_spans, session_s, probe_s, work, started):
    """The per-layer metrics of BENCHMARK.json for one traced run, and the
    mismatches of the workload's direct layer probes."""
    from graphit_spark import SnapshotStore
    from graphit_spark.plans.state import fresh_checkpoint

    cores = MASTER_CORES
    rows, rec = layer_rows(records)
    print(f"per-layer table, traced call with the median wall ({rec['wall_s']:.4f} s):")
    print_layer_table(rows, cores)
    layers = dict(rec["details"])
    inside = {name: row for name, row in rows.items() if not name.startswith("(")}
    add_layer_numbers(layers, inside, rec["layer_rounds"], cores)

    # graph build: the traced set-up rep, or the timed call's own build
    graph = next((s for s in setup_spans if s.layer == "graph"), None)
    if graph is not None:
        graph_row = dict(graph.counters, wall_s=graph.wall_s, cached_mb=graph.cached_mb)
    else:
        graph_row = rows["graph"]

    frame = wl.state_frame()

    def checkpoint_once():
        fresh_checkpoint(frame).unpersist()

    ck_s, ck = median_probe(tracer, "state", checkpoint_once, PROBE_REPS)
    store = SnapshotStore(os.path.join(work, "probe_snapshots"), "state")
    w_s, _ = median_probe(tracer, "snapshot_write", lambda: store.write(frame, 0), 1)
    r_s, _ = median_probe(
        tracer, "snapshot_read", lambda: store.read(wl.spark, store.latest()).count(), 1
    )
    snap_mb = sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(store.dir) for f in fs
    ) / (1024.0 * 1024.0)

    # the probes cost ~30-60 s; a run must end within 180 s even when the
    # host is slow, so they are skipped once the run is past PROBE_DEADLINE_S
    tracer.call_group("probe")
    if time.perf_counter() - started < PROBE_DEADLINE_S:
        probe_rounds, probe_errs = wl.layer_probes()
    else:
        print("layer probes skipped: the run is already past "
              f"{PROBE_DEADLINE_S} s", file=sys.stderr)
    probe_spans = tracer.take_spans()
    if not probe_spans:
        probe_errs = None
    else:
        print("direct layer probes (untimed; not part of the call above):")
        probe_rows = {
            sp.layer: dict(sp.counters, wall_s=sp.wall_s, cached_mb=sp.cached_mb)
            for sp in probe_spans
        }
        print_layer_table(probe_rows, cores)
        add_layer_numbers(layers, probe_rows, probe_rounds, cores)
    for e in probe_errs or ():
        print(f"FAILED layer probe: {e}", file=sys.stderr)
    print("layers " + json.dumps(layers, sort_keys=True))

    kernel = [rows[k] for k in rows if k in KERNEL_LAYERS]
    k_wall = sum(r["wall_s"] for r in kernel)
    k_rounds = sum(n for k, n in rec["layer_rounds"].items() if k in KERNEL_LAYERS)
    k_jobs = sum(r["jobs"] for r in kernel)

    coverage = sum(sp.wall_s for sp in rec["spans"]) / rec["wall_s"]
    print(f"layer rows cover {100 * coverage:.1f}% of the traced call")

    wl.release()
    del frame
    leftover = stats.settle_storage()
    for r in leftover:
        name = (r["name"] or "").splitlines()[0]
        print(f"retained rdd id={r['id']} mb={r['mb']:.3f} name={name}")

    return probe_errs, {
        "session.start_s": (session_s, "s"),
        "host.probe_s": (probe_s, "s"),
        "graph.build_s": (graph_row["wall_s"], "s"),
        "graph.build_jobs": (graph_row["jobs"], "count"),
        "graph.shuffle_write_mb": (graph_row["shuffle_write_mb"], "MB"),
        "graph.cached_mb": (graph_row["cached_mb"], "MB"),
        "state.checkpoint_s": (ck_s, "s"),
        "state.checkpoint_jobs": (ck["jobs"], "count"),
        "snapshot.write_s": (w_s, "s"),
        "snapshot.read_s": (r_s, "s"),
        "snapshot.mb": (snap_mb, "MB"),
        "kernel.s": (k_wall, "s"),
        "kernel.rounds": (k_rounds, "count"),
        "kernel.jobs": (k_jobs, "count"),
        "kernel.jobs_per_round": (k_jobs / k_rounds, "count"),
        "kernel.stages": (sum(r["stages"] for r in kernel), "count"),
        "kernel.tasks": (sum(r["tasks"] for r in kernel), "count"),
        "kernel.driver_s": (sum(derive(r, cores)["driver_s"] for r in kernel), "s"),
        "kernel.cpu_s": (sum(r["cpu_s"] for r in kernel), "s"),
        "kernel.gc_s": (sum(r["gc_s"] for r in kernel), "s"),
        "kernel.shuffle_write_mb": (sum(r["shuffle_write_mb"] for r in kernel), "MB"),
        "kernel.slot_util": (sum(r["run_s"] for r in kernel) / (k_wall * cores), "ratio"),
        "trace.call_s": (rec["wall_s"], "s"),
        "trace.coverage": (coverage, "ratio"),
        "retained.cache_mb": (sum(r["mb"] for r in leftover), "MB"),
        "retained.rdds": (len(leftover), "count"),
    }


def run(args, work: str) -> dict:
    from perfbench.sparkstats import SparkStats, Tracer
    from perfbench.workloads import WORKLOADS

    started = time.perf_counter()
    probe_s = cpu_probe()
    t0 = time.perf_counter()
    spark = start_spark(work)
    session_s = time.perf_counter() - t0
    try:
        stats = SparkStats(spark)
        tracer = Tracer(stats, enabled=False)
        wl = WORKLOADS[args.workload](spark, args.seed, work, tracer)
        setup_times = []
        for i in range(SETUP_REPS):
            # only the last rep is traced, so set-up timing stays untraced
            tracer.enabled = args.trace == 1 and i == SETUP_REPS - 1
            tracer.call_group("setup")
            t = time.perf_counter()
            wl.setup()
            if not tracer.enabled:
                setup_times.append(time.perf_counter() - t)
        setup_spans = tracer.take_spans()
        wl.prepare_oracle()
        wl.warm_up()
        tracer.enabled = args.trace == 1
        records = timed_calls(wl, tracer, stats, args.seconds)
        attempted = len(records)
        failed = sum(1 for r in records if r["errors"])
        print(f"workload {args.workload} seed {args.seed}: {len(records)} calls, "
              f"{failed} failed; host probe {probe_s:.4f} s; session start {session_s:.4f} s; "
              f"set-up reps {[round(t, 4) for t in setup_times]}")
        # a call whose output failed its check still counts for timing;
        # one that raised has no output and no edge count
        done = [r for r in records if "edge_passes" in r]
        if not done:
            raise RuntimeError(f"all {len(records)} calls raised")
        walls = [r["wall_s"] for r in done]
        print(f"wall_s per call {[round(w, 4) for w in walls]} ({tail_percentile(walls)})")
        if args.trace:
            probe_errs, metrics = traced_metrics(
                wl, tracer, stats, done, setup_spans, session_s, probe_s, work, started
            )
            if probe_errs is not None:  # the probes were one more checked call
                attempted += 1
                failed += bool(probe_errs)
        else:
            metrics = {
                "wall_s": (statistics.median(walls), "s"),
                "edges_per_s": (
                    statistics.median(r["edge_passes"] / r["wall_s"] for r in done), "1/s"
                ),
                "setup_s": (session_s + statistics.median(setup_times), "s"),
                "executor_cpu_s": (
                    statistics.median(r["counters"]["cpu_s"] for r in done), "s"
                ),
                "peak_rss_mb": (stats.peak_rss_mb(), "MB"),
            }
    finally:
        stop_spark(spark)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "graphit_spark", "__init__.py")):
        print("perfbench: graphit_spark/ not found; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    work = os.path.join(root, ".bench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # every temp file of Python, Spark and both JVMs (the launcher's too)
    # goes to the run dir; no hsperfdata files in the system temp dir
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    os.environ["SPARK_GRAFT_CPUS"] = str(MASTER_CORES)
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # another run may still use it
            os.rmdir(os.path.dirname(work))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
