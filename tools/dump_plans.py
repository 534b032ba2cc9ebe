"""Dump ``explain("formatted")`` for headline (or named) queries into a
directory — the before/after plan evidence for optimization rounds.

    python tools/dump_plans.py OUTDIR SUFFIX [query ...]

Writes OUTDIR/<query>_<SUFFIX>.txt for each query (default: headliners).
Explain-only: nothing is executed.
"""
from __future__ import annotations

import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> int:
    outdir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(outdir, exist_ok=True)

    from emma_spark.session import get_spark
    from emma_spark.workloads import load_all

    spark = get_spark("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    registry = load_all()
    if not names:
        names = [n for n, q in registry.items() if q.headline]
    for name in names:
        df = registry[name].fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
