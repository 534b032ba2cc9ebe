"""Per-layer metrics of a traced run, named after emma_spark's modules.

Every metric is the median over the run's traced passes of a per-pass
total, except the calibration readings, the session figures and the
peaks. Layers:

* ``session`` — start-up of the Spark session (``session.py``);
* ``workloads`` — the ``q.fn(spark, dir)`` call that builds a query;
  its jobs are pins, schema inference and streaming drains;
* ``sources.io`` — parquet schema-inference jobs and rows scanned;
* ``spark`` — Catalyst planning (``executedPlan``) and the ``noop``
  execution, with its jobs, stages, tasks, shuffle and spill;
* ``plans.cache`` — RDD blocks stored when a query finishes;
* ``streaming`` — micro-batch progress of the drains (``streaming.api``);
* ``trace`` — what tracing itself costs.
"""

from __future__ import annotations

from statistics import median

from perfbench.spans import Span, Tracer, union_ms

MB = 1e6


def _pass_layers(tr: Tracer, ps: Span, cores: int) -> dict:
    queries = ps.find("query")
    builds = [b for q in queries for b in q.find("build")]
    plans = [b for q in queries for b in q.find("plan")]
    execs = [b for q in queries for b in q.find("exec")]

    build_s = sum(b.dur for b in builds)
    build_job_s = sum(
        union_ms(
            [
                (max(j.start_ms, b.epoch0_ms), min(j.end_ms, b.epoch1_ms))
                for j in tr.span_jobs([b])
            ]
        )
        for b in builds
    ) / 1000
    exec_s = sum(e.dur for e in execs)
    stages = tr.span_stages(execs)
    run_s = sum(s.run_ms for s in stages) / 1000

    progress = [p for sp, p in tr.progress if sp in queries]
    last_batch: dict[str, dict] = {}
    for p in progress:
        if p["batch"] >= last_batch.get(p["run_id"], {"batch": -1})["batch"]:
            last_batch[p["run_id"]] = p
    trigger_s = sum(p["trigger_ms"] for p in progress) / 1000
    stream_queries = {sp.attrs["query"] for sp, p in tr.progress if sp in queries}
    stream_build_s = sum(
        b.dur for q in queries if q.attrs["query"] in stream_queries for b in q.find("build")
    )

    out = {
        "workloads.build_s": build_s,
        "workloads.build_jobs": len(tr.span_jobs(builds)),
        "workloads.build_job_s": build_job_s,
        "workloads.build_self_s": build_s - build_job_s,
        "sources.io.schema_jobs": sum(
            j.name.startswith("parquet at ") for j in tr.span_jobs(queries)
        ),
        # rows, not bytes: Spark's inputBytes misses vectored parquet
        # reads (a 6M-row sf1 lineitem scan reports 180 KB)
        "sources.io.input_rows": sum(s.input_rows for s in tr.span_stages(queries)),
        "spark.plan_s": sum(p.dur for p in plans),
        "spark.exec_s": exec_s,
        "spark.exec_jobs": len(tr.span_jobs(execs)),
        "spark.stages": len(stages),
        "spark.tasks": sum(s.tasks for s in stages),
        "spark.executor_run_s": run_s,
        "spark.cpu_util": run_s / (exec_s * cores) if exec_s else 0.0,
        "spark.shuffle_read_mb": sum(s.shuffle_read_bytes for s in stages) / MB,
        "spark.shuffle_write_mb": sum(s.shuffle_write_bytes for s in stages) / MB,
        "spark.spill_mb": sum(s.spill_bytes for s in stages) / MB,
        "streaming.batches": len(progress),
        "streaming.input_rows": sum(p["input_rows"] for p in progress),
        "streaming.trigger_s": trigger_s,
        "streaming.add_batch_s": sum(p["add_batch_ms"] for p in progress) / 1000,
        "streaming.commit_s": sum(p["commit_ms"] for p in progress) / 1000,
        "streaming.state_rows": sum(p["state_rows"] for p in last_batch.values()),
        "streaming.state_mb": sum(p["state_bytes"] for p in last_batch.values()) / MB,
        "streaming.drain_overhead_s": stream_build_s - trigger_s if progress else 0.0,
    }
    for q in queries:
        name = q.attrs["query"]
        out[f"workloads.{name}.wall_s"] = q.dur
        out[f"workloads.{name}.build_s"] = sum(b.dur for b in q.find("build"))
        out[f"workloads.{name}.exec_s"] = sum(b.dur for b in q.find("exec"))
    return out


def per_layer(tr: Tracer, passes: list, calibs: list, bench, session_start: float,
              cores: int, all_queries: list) -> dict:
    """``{name: (value, unit)}`` for every per-layer metric; per-query
    metrics of queries outside this workload read 0."""
    traced = [ps for ps in tr.root.find("pass") if ps.attrs["traced"]]
    rows = [_pass_layers(tr, ps, cores) for ps in traced]
    jvm = tr.spark._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
    jvm_peak = sum(jvm.get(i).getPeakUsage().getUsed() for i in range(jvm.size()))
    plain = [p["wall"] for p in passes if not p["traced"]]
    traced_walls = [p["wall"] for p in passes if p["traced"]]

    out = {
        "session.start_s": (session_start, "s"),
        "session.jvm_hwm_mb": (jvm_peak / MB, "MB"),
        "spark.calib_scan_s": (median(calibs), "s"),
        "spark.calib_scan_start_s": (calibs[0], "s"),
        "spark.calib_scan_mid_s": (calibs[len(calibs) // 2], "s"),
        "spark.calib_scan_end_s": (calibs[-1], "s"),
        "plans.cache.stored_mb_peak": (max((mb for mb, _ in bench.cache_peaks), default=0.0), "MB"),
        "plans.cache.rdds_peak": (max((n for _, n in bench.cache_peaks), default=0), "count"),
        # raw seconds follow machine drift (the same code read 2.6 s and
        # 5.3 s in one series), so pass_s is reported here, ungated
        "pass_s": (median(plain), "s"),
        "trace.overhead_s": (median(traced_walls) - median(plain), "s"),
    }
    units = {"_s": "s", "_mb": "MB", "cpu_util": "ratio"}
    for key in rows[0]:
        unit = next((u for suffix, u in units.items() if key.endswith(suffix)), "count")
        out[key] = (median(r[key] for r in rows), unit)
    for q in all_queries:
        for part in ("wall_s", "build_s", "exec_s"):
            out.setdefault(f"workloads.{q}.{part}", (0.0, "s"))
    return out
