"""Build-job census: the Spark jobs each registry query opens while it
is built (``q.fn(spark, sf_dir).schema``), counted from the application
status store the way ``perfbench/spans.py`` counts them.

Jobs named ``parquet at …`` are left out of the count, because how many
of them open depends on what the process did before:

* a parquet read infers its schema with a job only the first time the
  process reads that path (``sources.io`` memoizes the metadata), and
* a staging write such as ``workloads.streaming._stage_events`` runs
  once per process, in the first build that stages that file version.

``tests/build_jobs.json`` holds the census at sf0.001, taken after the
ten harness tables are loaded (as the tier-1 ``tables`` fixture does);
tier-1 fails when a query's count rises above it. Regenerate it with

    python tools/buildjobs.py

The tool sweeps the registry twice in one session and writes the file
only when every query opened the same number of jobs in both sweeps;
otherwise it names each query that moved, with both counts, writes
nothing and exits 1, because a count taken on a low run would make a
later ordinary run fail tier-1's ratchet.
"""

from __future__ import annotations

import json
import os
import sys
from dataclasses import dataclass
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from tools.scanaudit import SF_DIR  # noqa: E402  (the sf0.001 harness data)

CENSUS = Path(__file__).resolve().parents[1] / "tests" / "build_jobs.json"
HISTORY_JOB_PREFIX = "parquet at "


@dataclass
class Build:
    schema: object  # StructType, or the exception the build raised
    jobs: int  # jobs the build opened, history-dependent ones left out


class JobCounter:
    """Newest job id and job names from the application status store
    (streaming micro-batch jobs carry a job group, so the status
    tracker's ungrouped list would miss them)."""

    def __init__(self, spark):
        sc = spark.sparkContext._jsc.sc()
        self._store = sc.statusStore()
        self._bus = sc.listenerBus()

    def newest(self) -> int:
        self._bus.waitUntilEmpty()
        jobs = self._store.jobsList(None)
        return jobs.head().jobId() if jobs.nonEmpty() else -1

    def counted(self, lo: int, hi: int) -> int:
        """Jobs with ids in (lo, hi] that are not history-dependent."""
        return sum(
            not self._store.job(j).name().startswith(HISTORY_JOB_PREFIX)
            for j in range(lo + 1, hi + 1)
        )


def build_all(spark, sf_dir: str) -> dict[str, Build]:
    """Build every registry query once: its schema or error, and the
    jobs the build opened."""
    from emma_spark.workloads import load_all

    counter = JobCounter(spark)
    out: dict[str, Build] = {}
    for name, q in load_all().items():
        lo = counter.newest()
        try:
            schema = q.fn(spark, sf_dir).schema
        except Exception as ex:  # noqa: BLE001 — record, keep sweeping
            schema = ex
        out[name] = Build(schema, counter.counted(lo, counter.newest()))
    return out


def census(spark, path: Path = CENSUS) -> int:
    """Sweep the registry twice and write the per-query job counts to
    ``path`` if both sweeps agree; else report the queries that moved
    and leave ``path`` as it was. Returns the exit status."""
    first = build_all(spark, SF_DIR)
    second = build_all(spark, SF_DIR)
    moved = sorted(n for n in first if first[n].jobs != second[n].jobs)
    if moved:
        for n in moved:
            print(f"{n}: {first[n].jobs} then {second[n].jobs} jobs")
        print(f"{len(moved)} queries opened a different number of jobs in "
              f"the second sweep; {path} left as it was")
        return 1
    counts = {name: b.jobs for name, b in sorted(first.items())}
    path.write_text(json.dumps(counts, indent=1) + "\n")
    print(f"{path}: {sum(counts.values())} jobs in "
          f"{sum(1 for n in counts.values() if n)} of {len(counts)} queries")
    return 0


def main() -> int:
    from emma_spark.session import get_spark
    from emma_spark.sources import io

    # the session tier-1 builds (tests/conftest.py)
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE_PARTITIONS", "4")
    spark = get_spark("buildjobs")
    spark.sparkContext.setLogLevel("ERROR")
    io.load_tables(spark, SF_DIR)
    try:
        return census(spark)
    finally:
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
