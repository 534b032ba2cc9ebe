"""Oracle portability lint — bans the construct classes behind every
cross-engine hash red to date.

Each rule targets a way two engines (or two versions of one engine) can
legally disagree while both "work":

- regex shorthand classes (``\\s`` etc.): Java regex ``\\s`` is
  ``[ \\t\\n\\x0B\\f\\r]`` while DuckDB's RE2 ``\\s`` is ``[\\t\\n\\f\\r ]``
  — one edge character shifts every downstream token count. Use the
  explicit class ``emma_spark.llm.text.WS_RE``.
- DuckDB list comprehensions (``[x FOR i IN range(..)]``): version-
  sensitive syntax; rewrite as
  ``list_transform(generate_series(a, b), i -> x)``.
- string-built JSON paths (``'$.' || k``): break on keys containing
  ``.`` or quotes; pass the bare key (``json_extract_string(j, k)``).
- ``CAST(json_extract(..) AS <numeric>``: DuckDB ROUNDS json->int where
  Python/Spark truncate; extract as string and make the truncation
  explicit (see udtf_expand_props / variant_ops_surface).

Usage: ``python tools/oraclelint.py`` — exits non-zero on any hit.
Also imported by tests/test_oracle_lint.py so new queries cannot
reintroduce the classes.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

RULES: list[tuple[str, re.Pattern[str]]] = [
    (
        "regex shorthand class (use the explicit WS_RE class)",
        # \s \S \w \W \d \D \b \B — but allow \1.. backrefs
        re.compile(r"\\[sSwWdDbB]"),
    ),
    (
        "DuckDB list comprehension (use list_transform(generate_series))",
        re.compile(r"\bFOR\s+\w+\s+IN\b"),
    ),
    (
        "string-built JSON path (pass the bare key instead)",
        re.compile(r"'\$\.'\s*\|\|"),
    ),
    (
        "CAST(json_extract(..)) — DuckDB rounds where Spark truncates;"
        " extract as string + explicit trunc",
        re.compile(r"CAST\s*\(\s*json_extract\s*\(", re.IGNORECASE),
    ),
    (
        "lower()/upper() — Unicode case mapping is engine-sensitive"
        " (Java: İ→i+dot, final-sigma context; DuckDB: neither);"
        " use translate() ASCII folding (llm/text.sql_ascii_lower)",
        re.compile(r"(?<![\w.])(?:lower|upper)\s*\("),
    ),
    # one-arg trim handled below (needs paren matching, not a regex)
]


def _ungated_props_json(sql: str) -> re.Match | None:
    """Exotic-props finds: ``props`` is an ingest-boundary column —
    a 100 TB corpus contains malformed / non-object / duplicate-key
    documents, and DuckDB's ``json_*`` functions RAISE on malformed
    input (``''::JSON`` included) while Spark-side guards yield
    NULL/zero rows — a one-sided crash class. Any oracle applying a
    ``json_`` function to ``props`` must carry a ``json_valid`` gate
    (see udtf_expand_props / variant_ops_surface for the gated CTE
    idiom and the full quarantine contract)."""
    if not re.search(r"\bprops\b", sql):
        return None
    if "json_valid" in sql:
        return None
    return re.search(r"\bjson_\w+\s*\(", sql)


def _one_arg_trim(sql: str) -> re.Match | None:
    """DuckDB's 1-arg trim strips UNICODE space characters (U+00A0,
    U+1680, U+3000, ...) while Spark's F.trim strips only ASCII space —
    found by the unicode fuzz. Require the explicit 2-arg form."""
    for m in re.finditer(r"\btrim\s*\(", sql):
        i, depth, has_second = m.end(), 1, False
        while depth and i < len(sql):
            c = sql[i]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            elif c == "," and depth == 1:
                has_second = True
            i += 1
        if not has_second:
            return m
    return None


def lint_oracles() -> list[str]:
    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    from emma_spark.workloads import load_all

    problems = []
    for name, q in load_all().items():
        if not q.oracle:
            continue
        for label, pat in RULES:
            m = pat.search(q.oracle)
            if m:
                ctx = q.oracle[max(0, m.start() - 40) : m.end() + 40]
                problems.append(f"{name}: {label}: ...{ctx!r}...")
        m = _one_arg_trim(q.oracle)
        if m:
            ctx = q.oracle[max(0, m.start() - 40) : m.end() + 40]
            problems.append(
                f"{name}: 1-arg trim() strips Unicode spaces in DuckDB"
                f" but not in Spark — use trim(x, ' ' || chr(9)...) or"
                f" trim(x, ' '): ...{ctx!r}..."
            )
        m = _ungated_props_json(q.oracle)
        if m:
            ctx = q.oracle[max(0, m.start() - 40) : m.end() + 40]
            problems.append(
                f"{name}: json_* on props without a json_valid gate —"
                f" corrupt documents crash DuckDB one-sidedly; use the"
                f" quarantine-gated CTE idiom (udtf_expand_props):"
                f" ...{ctx!r}..."
            )
    return problems


def main() -> int:
    problems = lint_oracles()
    for p in problems:
        print(f"LINT  {p}")
    n = len(problems)
    print(f"{n} problem(s) across the oracle registry" if n else "oracle lint clean")
    return 1 if n else 0


if __name__ == "__main__":
    raise SystemExit(main())
