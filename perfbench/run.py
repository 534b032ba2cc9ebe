"""emma_spark benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload olap_sf1 --seed 1 --seconds 10 --trace 0

Run from the repository root. A run:

1. builds the inputs under ``perfbench/.work`` if their stamp is stale
   (seed-42 sf0.1 tables shaped like the test data, and sf1 through
   ``tools/gen_sf.py``);
2. starts one Spark session on ``local[<cores>]`` and runs two untimed
   warm-up passes at the measured scale (``setup_s`` ends here);
3. runs timed passes until ``--seconds`` have passed (at least three),
   each pass executing every workload query once in an order drawn
   from ``--seed``, with a calibration scan before and after each pass;
4. checks outputs: the DuckDB oracle verdict (see ``check.py``) and a
   fingerprint of every query's output in this run;
5. prints the result as the last stdout line.

With ``--trace 1`` passes alternate between traced and untraced, and
the result carries the per-layer metrics instead; the span tree goes
to ``perfbench/.work/trace/``. Everything else goes to stderr.
"""

from __future__ import annotations

import argparse
import functools
import json
import math
import os
import random
import shutil
import subprocess
import sys
import time
from statistics import median

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", ".work")

# Each workload: scale factor of its inputs and the queries of one pass.
# The streaming drains ride in iterative_sf01: like the PageRank and
# k-means loops, all of their cost is build time, and a third workload's
# JVM start and cold warm-up did not fit the benchmark's time budget.
WORKLOADS = {
    "olap_sf1": (
        "1",
        ["groupby_agg_pricing", "incremental_merge_upsert", "events_bitmap_dau"],
    ),
    "iterative_sf01": (
        "0.1",
        [
            "graph_pagerank_sf", "ml_kmeans_assign",
            "stream_tumbling_counts", "stream_watermark_append",
        ],
    ),
}
ALL_QUERIES = [q for _, qs in WORKLOADS.values() for q in qs]
MIN_PASSES = 3
# one warm-up pass left the next pass 25-40% slower than later ones in a
# fresh JVM (JIT and codegen caches still filling), so set-up runs two
WARMUP_PASSES = 2


def log(msg: str) -> None:
    print(f"# [{time.perf_counter() - T_START:7.2f}s] {msg}", file=sys.stderr, flush=True)


def resolve_cores(raw: str | None) -> int:
    """``SPARK_GRAFT_CPUS`` as a core count: defaults to the cores this
    process may use and never exceeds them; ``*`` means all of them."""
    avail = len(os.sched_getaffinity(0))
    try:
        n = int(raw) if raw not in (None, "", "*") else avail
    except ValueError:
        n = avail
    return max(1, min(n, avail))


def isolate_environment(cores: int) -> None:
    """Keep every file the run and Spark write inside ``WORK``."""
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    for d in ("tmp", "spark-local", "ckpt"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        SPARK_GRAFT_STREAM_CKPT=os.path.join(WORK, "ckpt"),
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM="4g",
        PYSPARK_SUBMIT_ARGS=(
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    )
    import tempfile

    tempfile.tempdir = tmp


def force(df) -> None:
    """Fully evaluate the plan without collecting: every operator runs
    and every output row is produced into the ``noop`` sink."""
    df.write.mode("overwrite").format("noop").save()


def calibrate(spark, sf01_dir: str) -> float:
    """Machine-speed anchor: min-of-3 of a fixed sf0.1 lineitem scan plus
    one hash aggregation."""
    from pyspark.sql import functions as F

    best = math.inf
    for _ in range(3):
        t0 = time.perf_counter()
        force(
            spark.read.parquet(os.path.join(sf01_dir, "lineitem.parquet"))
            .groupBy("l_returnflag")
            .agg(F.sum("l_quantity"), F.count(F.lit(1)))
        )
        best = min(best, time.perf_counter() - t0)
    return best


class Bench:
    """Runs the workload's queries and counts attempts and failures."""

    def __init__(self, spark, tracer, registry, names, sf_dir):
        self.spark = spark
        self.tracer = tracer
        self.registry = registry
        self.names = names
        self.sf_dir = sf_dir
        self.attempted = 0
        self.failed = 0
        self.cache_peaks: list[tuple[float, int]] = []

    def run_query(self, name: str, pass_index: int) -> float:
        """Build, plan and execute one query; returns its wall seconds."""
        tr = self.tracer
        self.spark.catalog.clearCache()
        self.attempted += 1
        with tr.span("query", query=name, pass_index=pass_index) as qs:
            try:
                with tr.span("build"):
                    df = self.registry[name].fn(self.spark, self.sf_dir)
                with tr.span("plan"):
                    df._jdf.queryExecution().executedPlan()
                with tr.span("exec"):
                    force(df)
                if tr.enabled:
                    infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
                    mb = sum(i.memSize() + i.diskSize() for i in infos) / 1e6
                    self.cache_peaks.append((mb, len(infos)))
            except Exception as ex:  # noqa: BLE001 - a failed query is counted, the run goes on
                self.failed += 1
                log(f"FAILED {name}: {ex!r}"[:400])
        self.spark.catalog.clearCache()
        return qs.dur

    def run_pass(self, index: int, order: list[str]) -> dict:
        with self.tracer.span("pass", index=index, traced=self.tracer.enabled) as ps:
            walls = {q: self.run_query(q, index) for q in order}
        return {"index": index, "traced": self.tracer.enabled, "wall": ps.dur, "queries": walls}


def run_passes(bench: Bench, calib, rng, min_passes: int, seconds: float, alternate: bool):
    """Passes with a calibration before the first and after each one,
    until ``seconds`` have passed and at least ``min_passes`` ran; with
    ``alternate`` every other pass is traced, starting untraced."""
    calibs = [calib()]
    passes = []
    t0 = time.perf_counter()
    while len(passes) < min_passes or time.perf_counter() - t0 < seconds:
        i = len(passes)
        bench.tracer.set_enabled(alternate and i % 2 == 1)
        p = bench.run_pass(i, rng.sample(bench.names, len(bench.names)))
        bench.tracer.set_enabled(False)
        calibs.append(calib())
        p["calib"] = (calibs[-2] + calibs[-1]) / 2
        passes.append(p)
        log(f"pass {i} traced={p['traced']} wall={p['wall']:.3f}s calib={calibs[-1]:.3f}s "
            + " ".join(f"{q}={w:.3f}" for q, w in p["queries"].items()))
    return passes, calibs


def check_outputs(bench: Bench, verdicts: dict) -> None:
    """Fingerprint every query's output once and compare it with the
    oracle-checked fingerprint."""
    from perfbench.check import fingerprint

    for name in bench.names:
        v = verdicts[name]
        bench.spark.catalog.clearCache()
        bench.attempted += 1
        try:
            fp = fingerprint(bench.registry[name].fn(bench.spark, bench.sf_dir))
        except Exception as ex:  # noqa: BLE001 - counted as a failed check
            fp = repr(ex)[:200]
        bench.spark.catalog.clearCache()
        ok = v["status"] == "ok" and fp == v["fingerprint"]
        if not ok:
            bench.failed += 1
        log(f"check {name}: oracle={v['status']} fingerprint={'match' if ok else fp} ({v['detail'][:80]})")


def end_to_end(passes: list, setup_s: float, bench: Bench) -> dict:
    plain = [p for p in passes if not p["traced"]]
    per_query = {
        q: median(p["queries"][q] / p["calib"] for p in plain) for q in bench.names
    }
    geomean = math.exp(sum(math.log(v) for v in per_query.values()) / len(per_query))
    return {
        "setup_s": (setup_s, "s"),
        "pass_norm": (median(p["wall"] / p["calib"] for p in plain), "ratio"),
        "query_geomean_norm": (geomean, "ratio"),
        "ok_ratio": ((bench.attempted - bench.failed) / bench.attempted, "ratio"),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("emma_spark/__init__.py", "tools/gen_sf.py", "tools/diffcheck.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            log(f"{need} not found under {ROOT}: run from a full checkout")
            return 2

    # stdout carries only the result: the JVM, DuckDB and the query
    # code may print, so fd 1 points at stderr until the end
    result_fd = os.dup(1)
    os.dup2(2, 1)
    sys.path.insert(0, ROOT)
    cores = resolve_cores(os.environ.get("SPARK_GRAFT_CPUS"))
    isolate_environment(cores)

    from perfbench import data

    t0 = time.perf_counter()
    dirs = data.ensure(os.path.join(WORK, "data"))
    data_s = time.perf_counter() - t0
    scale, names = WORKLOADS[args.workload]
    sf_dir = dirs[scale]
    log(f"workload={args.workload} seed={args.seed} sf={scale} queries={names}")
    log("tables " + json.dumps(data.table_stats(sf_dir)))

    from emma_spark.session import get_spark
    from emma_spark.workloads import load_all
    from pyspark import SparkContext

    from perfbench import check
    from perfbench.spans import Tracer

    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    session_start = time.perf_counter() - t0
    gateway = SparkContext._gateway
    try:
        log(f"master={spark.sparkContext.master} cores={cores}")
        registry = load_all()
        tracer = Tracer(spark)
        bench = Bench(spark, tracer, registry, names, sf_dir)
        calibrate_now = functools.partial(calibrate, spark, dirs["0.1"])
        # warm-up runs the timed loop itself, calibrations included: a
        # calibration scan between passes slowed the next pass by 30-40%
        # until the JIT had seen both mixed together
        rng = random.Random(args.seed)
        run_passes(bench, calibrate_now, rng, WARMUP_PASSES, 0.0, False)
        # input generation is the benchmark's own set-up, not the system's
        setup_s = time.perf_counter() - T_START - data_s
        log(f"setup_s={setup_s:.3f} (session start {session_start:.3f}, inputs {data_s:.3f})")

        passes, calibs = run_passes(
            bench, calibrate_now, rng, MIN_PASSES, args.seconds, bool(args.trace)
        )
        # every workload's verdict is settled here, so only the first run
        # in a checkout pays for the oracle comparisons
        stamp = check.code_stamp(ROOT, dirs.values())
        verdicts = {
            w: check.oracle_verdicts(
                spark, {q: registry[q] for q in qs}, dirs[sf],
                os.path.join(WORK, f"verdict_{w}.json"), stamp,
            )
            for w, (sf, qs) in WORKLOADS.items()
        }
        check_outputs(bench, verdicts[args.workload])

        if args.trace:
            from perfbench.layers import per_layer

            metrics = per_layer(tracer, passes, calibs, bench, session_start, cores, ALL_QUERIES)
            tracer.close()
            os.makedirs(os.path.join(WORK, "trace"), exist_ok=True)
            path = os.path.join(WORK, "trace", f"{args.workload}-seed{args.seed}.json")
            with open(path, "w") as f:
                json.dump({**tracer.to_json(), "passes": passes, "calibrations": calibs,
                           "metrics": metrics}, f, indent=1)
            log(f"spans written to {path}")
        else:
            metrics = end_to_end(passes, setup_s, bench)
    finally:
        spark.stop()
        stop_jvm(gateway)
        shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)
        shutil.rmtree(os.path.join(WORK, "ckpt"), ignore_errors=True)

    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    os.write(result_fd, (json.dumps(result) + "\n").encode())
    return 0


def stop_jvm(gateway) -> None:
    """Shut the py4j gateway and wait for the JVM it launched to exit."""
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


if __name__ == "__main__":
    sys.exit(main())
