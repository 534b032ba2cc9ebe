"""Self-test of the benchmark's job attribution.

    python3 -m pytest perfbench/test_spans.py -q

Checks that a traced build counts the jobs it opens, both the schema
inference of ``spark.read.parquet`` and the micro-batch jobs of a
streaming drain (which carry a job group).
"""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    from emma_spark.session import get_spark

    s = get_spark("perfbench-selftest", master="local[2]")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def _traced_query(spark, build):
    """One traced pass of one query whose build step is ``build()``;
    returns the pass's layer metrics."""
    from perfbench.layers import _pass_layers
    from perfbench.run import force
    from perfbench.spans import Tracer

    tr = Tracer(spark)
    tr.set_enabled(True)
    with tr.span("pass", traced=True) as ps:
        with tr.span("query", query="probe"):
            with tr.span("build"):
                df = build()
            with tr.span("plan"):
                df._jdf.queryExecution().executedPlan()
            with tr.span("exec"):
                force(df)
    tr.set_enabled(False)
    return _pass_layers(tr, ps, cores=2)


def test_schema_inference_job_lands_in_build(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(100).write.parquet(path)

    m = _traced_query(spark, lambda: spark.read.parquet(path))

    assert m["workloads.build_jobs"] >= 1
    assert m["sources.io.schema_jobs"] >= 1
    assert m["spark.exec_jobs"] >= 1


def test_drain_jobs_are_counted(spark, tmp_path, monkeypatch):
    from emma_spark.streaming import api as S
    from pyspark.sql import functions as F

    monkeypatch.setenv("SPARK_GRAFT_STREAM_CKPT", str(tmp_path))
    src = str(tmp_path / "src")
    spark.range(1000).withColumn("k", F.col("id") % 7).write.parquet(src)
    schema = spark.read.parquet(src).schema

    def drain():
        stream = S.read_stream_parquet(spark, src, schema)
        S.run_to_memory(
            stream.groupBy("k").count(), "perfbench_selftest", output_mode="complete"
        )
        return spark.table("perfbench_selftest")

    m = _traced_query(spark, drain)

    assert m["workloads.build_jobs"] >= 1
    assert m["streaming.batches"] >= 1
    assert m["streaming.input_rows"] == 1000
    assert m["streaming.state_rows"] == 7
