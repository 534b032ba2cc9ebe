"""Generate docs/REGISTRY.md — the auto-built inventory of every
registered query: family, one-line purpose (docstring first line),
oracle status, bench-headline flag. Regenerate after adding queries:

    python tools/registry_inventory.py
"""

from __future__ import annotations

import sys
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))


def main() -> None:
    from emma_spark.workloads import load_all

    reg = load_all()
    fams: dict[str, list] = defaultdict(list)
    for name, q in reg.items():
        fam = q.fn.__module__.rsplit(".", 1)[-1]
        doc = (q.fn.__doc__ or "").strip().splitlines()
        first = doc[0].strip() if doc else ""
        # extend one-liner with following lines until a sentence end
        for ln in doc[1:4]:
            if first.endswith((".", ":", ";")) or len(first) > 140:
                break
            first += " " + ln.strip()
        fams[fam].append((name, first, q.headline))

    lines = [
        "# Registry inventory (auto-generated — tools/registry_inventory.py)",
        "",
        f"{len(reg)} queries; every one paired with a DuckDB oracle",
        "(`oracle_sql()`), hash-differentially checked at sf0.001 /",
        "sf0.01-vanilla / sf0.1. ★ = bench.py headliner.",
        "",
    ]
    for fam in sorted(fams):
        lines.append(f"## workloads/{fam}.py ({len(fams[fam])})")
        lines.append("")
        for name, first, headline in sorted(fams[fam]):
            star = " ★" if headline else ""
            lines.append(f"- **{name}**{star} — {first}")
        lines.append("")
    with open(ROOT / "docs" / "REGISTRY.md", "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"wrote docs/REGISTRY.md: {len(reg)} queries, {len(fams)} families")


if __name__ == "__main__":
    main()
