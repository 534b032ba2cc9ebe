"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line: {"metric", "value", "unit", "queries", "sf"}.

Per query we time plan + FULL execution via the ``noop`` sink
(``df.write.format("noop")``): every operator in the plan runs and
every output row is produced, but nothing is persisted or collected.
``count()`` is NOT a valid probe here — Catalyst prunes unevaluated
projections under count, so projection-shaped queries would be
measured as bare scans.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from emma_spark.session import get_spark
    from emma_spark.workloads import load_all

    # r13 (VERDICT r12 ask #2): pass the master EXPLICITLY — the old
    # SPARK_GRAFT_MASTER setdefault was dead wiring (nothing read it;
    # the cpus contract held only via session.py's import-time env
    # read). The resolved master + cpus are echoed into the JSON line
    # below so the driver's scaling check can verify them directly.
    spark = get_spark("bench", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    registry = load_all()
    headline = {n: q for n, q in registry.items() if q.headline}

    # warm-up: run every headline query once at the smallest SF so the
    # JVM JITs / codegen-compiles the exact plan shapes being measured
    # (steady-state throughput is the quantity of interest)
    def force(df) -> None:
        """Fully evaluate the plan without collecting: noop sink."""
        df.write.mode("overwrite").format("noop").save()

    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir):
        for name, q in headline.items():
            try:
                force(q.fn(spark, warm_dir))
            except Exception as ex:  # pragma: no cover
                print(f"# warmup {name} failed: {ex}", file=sys.stderr)
        spark.catalog.clearCache()

    # warm the MEASURED scale factor's page cache once (one scan per
    # table): otherwise the first measured query pays all the cold
    # parquet IO and the comparison across queries is order-biased —
    # r4 A/B measurements showed 3-4x first-run penalties
    try:
        import glob as _glob

        for p in sorted(_glob.glob(os.path.join(sf_dir, "*.parquet"))):
            spark.read.parquet(p).write.mode("overwrite").format("noop").save()
    except Exception as ex:  # pragma: no cover
        print(f"# sf warmup failed: {ex}", file=sys.stderr)

    # machine-speed calibration anchor: a FIXED trivial job (full
    # lineitem scan + one hash agg), best-of-3 — cross-round grading
    # can divide headline times by this to cancel container drift
    # (r4's +58% "regression" was pure machine drift; VERDICT r4
    # asked for exactly this normalizer)
    from pyspark.sql import functions as F

    calib = None
    for _ in range(3):
        t0 = time.perf_counter()
        force(
            spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
            .groupBy("l_returnflag")
            .agg(F.sum("l_quantity"), F.count(F.lit(1)))
        )
        dt = time.perf_counter() - t0
        calib = dt if calib is None else min(calib, dt)
    calib = round(calib, 3)
    print(f"# calibration_scan: {calib}s", file=sys.stderr)

    # Execution-bound parallel probe (r13, VERDICT r12 ask #2c): every
    # sf0.1 parquet input is a single row group, so the headline
    # queries are 1-task scans + driver plan construction and their
    # 8-core/32-core ratios sit at ~1 — structurally uninformative
    # (PERF_r12 suspect_cpus_ignored). This probe is pure multi-task
    # executor compute (md5 over a generated range split into
    # defaultParallelism tasks, no IO, no shuffle beyond the 1-row
    # agg), so its low/high core ratio DOES show parallelism. Fixed
    # work, best-of-3; reported as its own JSON key — NOT added to
    # "queries" (it is a harness probe, not a declared query).
    # Sizing: fitting T(c) = F + W/c to a 2M-row pilot gave fixed job
    # overhead F ~ 0.17 s and serial work W ~ 0.8 s — overhead-bound,
    # ratio only ~1.4x. 16M rows puts W ~ 6.5 s so the 8-vs-32-core
    # ratio lands ~2.5-3x while costing < 0.4 s at 32 cores.
    par = spark.sparkContext.defaultParallelism
    probe = None
    for _ in range(3):
        t0 = time.perf_counter()
        force(
            spark.range(0, 16_000_000, 1, par)
            .select(F.md5(F.col("id").cast("string")).alias("h"))
            .agg(F.count(F.lit(1)), F.max("h"))
        )
        dt = time.perf_counter() - t0
        probe = dt if probe is None else min(probe, dt)
    probe = round(probe, 3)
    print(f"# parallel_probe: {probe}s ({par} tasks)", file=sys.stderr)

    # Variance protocol (r7 verdict ask): queries that are DRIVER-LOOP
    # bound (many small jobs, convergence probes, per-iteration
    # checkpoints) showed ±25% run-to-run variance even as min-of-3 —
    # scheduler/GC noise multiplies across their dozens of tiny jobs
    # instead of averaging out within one big one. Those take
    # min-of-5; everything else stays min-of-3 (r4 A/B: run1 can read
    # 3.1s where steady state is 0.95s, the min is the steady-state
    # number). Cross-round comparisons should use queries_normalized
    # (÷ calibration_scan_sec) and treat <±25% moves on the LOOPY set
    # as noise-band.
    LOOPY = {"ml_kmeans_assign", "ml_gbdt_residual_boost"}

    timings: dict[str, float] = {}
    for name, q in headline.items():
        best = None
        for _ in range(5 if name in LOOPY else 3):
            # queries are independent jobs: drop any persisted
            # intermediates (auto-cache is per-query state)
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            force(q.fn(spark, sf_dir))
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)
        print(f"# {name}: {timings[name]}s", file=sys.stderr)

    # sf from dir name, e.g. .../sf0.1 -> 0.1
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        sf = float(base.replace("sf", ""))
    except ValueError:
        sf = None

    total = round(sum(timings.values()), 3)
    # normalized twin of every timing: query_time / calibration_scan —
    # a dimensionless machine-speed-independent number, so cross-round
    # and cross-container comparisons stop needing forensic A/Bs
    # (r5 verdict ask #7). Raw seconds stay the headline metric.
    norm = (
        {n: round(t / calib, 2) for n, t in timings.items()} if calib else {}
    )
    print(
        json.dumps(
            {
                "metric": "headline_total_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "calibration_scan_sec": calib,
                "master": spark.sparkContext.master,
                # the raw string when not an integer (e.g. "*")
                "cpus": int(cpus) if cpus.isdigit() else cpus,
                "parallel_probe_sec": probe,
                "queries_normalized": norm,
                "normalized_total": round(total / calib, 2) if calib else None,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
