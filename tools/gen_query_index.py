"""Regenerate docs/QUERIES.md from the workload registry."""
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from emma_spark.workloads import load_all  # noqa: E402

q = load_all()
lines = [
    "# Query registry — coverage map",
    "",
    "Auto-generated view of `emma_spark.workloads` (regenerate: see",
    "`tools/gen_query_index.py`). `window` = inside the driver's 50-row",
    "correctness window this round; rotated-out queries carry earlier-round",
    "green driver rows and stay covered by `tools/diffcheck.py --vanilla`.",
    "",
    "## TPC-H coverage",
    "",
    "Q1–Q11, Q13–Q20, and Q22 have registered shapes (exact integer/",
    "decimal quantization where float rounding would diverge between",
    "engines). **Q12 and Q21 are deliberately absent**: both hinge on",
    "columns this corpus's `lineitem` does not carry — Q12 needs",
    "`l_shipmode` and the `l_commitdate`/`l_receiptdate` comparison, Q21",
    "needs `l_receiptdate > l_commitdate` for the late-supplier predicate.",
    "Synthesizing stand-in columns would test nothing the other 20 shapes",
    "don't already cover, so the gap is recorded here instead of faked.",
    "",
    "| # | query | oracle | window | module |",
    "|---|---|---|---|---|",
]
for i, (name, item) in enumerate(q.items()):
    oracle = "full SQL" if item.oracle else "rows-only"
    win = "yes" if i < 50 else ""
    mod = item.fn.__module__.replace("emma_spark.workloads.", "")
    lines.append(f"| {i} | {name} | {oracle} | {win} | {mod} |")
open("docs/QUERIES.md", "w").write("\n".join(lines) + "\n")
print(f"wrote {len(q)} entries")
