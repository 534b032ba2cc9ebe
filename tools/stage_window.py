"""Stage the NEXT driver window mechanically — the rotation recipe
(docs/ROTATION.md) as one command instead of a per-round hand
derivation:

    1. reds        — failures in the latest CORRECTNESS_r0N.json
    2. changed     — tools/staleness.py STALE-UNCOVERED names (a
                     stale green is not a green)
    3. never-checked — registry order, minus anything with a driver
                     row in any round
    4. keepers     — standing canaries guarding known comparator
                     equivalences (DATE==midnight-timestamp; the qsum
                     two-aggregate guard)

Prints the proposed 50-name `_PRIORITY` block ready to paste into
emma_spark/workloads/__init__.py (read-only — this tool never edits;
the staged window should be reviewed, tri-SF swept, and committed
explicitly).

    python tools/stage_window.py [--size 50]
"""
import json
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

KEEPERS = ["click_count_diffs", "groupby_agg_pricing"]


def latest_correctness():
    files = sorted(REPO.glob("CORRECTNESS_r*.json"))
    return files[-1] if files else None


def ever_checked() -> set:
    names = set()
    for p in REPO.glob("CORRECTNESS_r*.json"):
        names |= set(json.load(open(p)).keys())
    return names


def reds_of(path) -> list:
    d = json.load(open(path))
    return [
        n for n, v in d.items()
        if v.get("err") or not (
            v.get("rows_match") and v.get("schema_match", True)
            and v.get("hash_match", v.get("rows_match"))
        )
    ]


def main() -> int:
    size = 50
    for a in sys.argv[1:]:
        if a.startswith("--size"):
            size = int(a.split("=", 1)[1])

    latest = latest_correctness()
    reds = reds_of(latest) if latest else []

    # check=True: a staleness.py crash must ABORT the staging, not
    # silently stage an empty 'changed' tier — treating empty output
    # as 'nothing stale' is exactly the stale-green-is-not-a-green
    # failure mode this tool exists to prevent.
    proc = subprocess.run(
        [sys.executable, str(REPO / "tools" / "staleness.py"), "--list"],
        capture_output=True, text=True, cwd=REPO,
    )
    if proc.returncode != 0:
        print(
            f"FATAL: staleness.py exited {proc.returncode}; refusing to "
            f"stage a window with an unknown changed tier\n{proc.stderr}",
            file=sys.stderr,
        )
        return 1
    changed = proc.stdout.split()

    from emma_spark.workloads import load_all

    registry = list(load_all().keys())
    checked = ever_checked()
    never = [n for n in registry if n not in checked]

    window, seen = [], set()

    def take(names, tier):
        for n in names:
            if n in seen or n not in registry:
                continue
            if len(window) >= size:
                return
            window.append((n, tier))
            seen.add(n)

    take(reds, "red")
    take(changed, "changed")
    take(never, "never-checked")
    take(KEEPERS, "keeper")

    n_by = {}
    for _, t in window:
        n_by[t] = n_by.get(t, 0) + 1
    print(f"# proposed window from {latest.name if latest else '-'}: "
          + ", ".join(f"{v} {k}" for k, v in n_by.items())
          + f"; {len(never) - n_by.get('never-checked', 0)} never-checked remain after")
    print("_PRIORITY = [")
    for n, t in window:
        print(f'    "{n}",  # {t}')
    print("]")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
