"""Stale-green detector: which driver-green rows predate the code
they certify? ("a stale green is not a green",
and deriving the changed tier by hand each round kept missing names.)

For every registry query this tool computes a CONTENT HASH of the
query's transitive source — the registered function's own source
(including its ``@query`` decorator, which embeds the oracle SQL),
plus the source of every emma_spark-package definition it references,
followed transitively (rd/qsum helpers, lib/ algorithms, llm/
kernels, …) — at two states:

  * HEAD (the working tree), and
  * the end-of-round snapshot commit of the round that produced the
    query's most recent driver-green row (CORRECTNESS_r0N.json).

A hash mismatch means code or oracle the query depends on changed
since the driver last certified it: the query belongs in the next
window's CHANGED tier (docs/ROTATION.md step 2), ahead of the
never-checked queue.

Resolution is STATIC (``git show`` + ast; old code is never
imported). Names that cannot be resolved to a package definition
(stdlib, pyspark, dynamic dispatch) hash as their bare name — a
change hiding exclusively behind such a name is invisible to this
tool, which is why the fuzz/diffcheck sweeps still run every round.

Usage:
  python tools/staleness.py            # report stale greens vs HEAD
  python tools/staleness.py --list     # just the names, one per line
"""

from __future__ import annotations

import ast
import json
import re
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "emma_spark"


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], cwd=REPO, check=True, capture_output=True, text=True
    ).stdout


def round_refs() -> dict[int, str | None]:
    """round number -> commit holding that round's checked code state
    (the end-of-round snapshot; the verdict commit — docs only — as
    fallback for rounds whose snapshot message differs).

    WORKING-TREE FALLBACK: the
    CURRENT round's CORRECTNESS file lands before its snapshot commit
    exists, so mid-cycle runs used to orphan the newest greens —
    shared helpers they re-certify transiently reported
    STALE-UNCOVERED (14 phantom names in one audit). If the
    max round seen in CORRECTNESS files has no snapshot/verdict
    commit yet, map it to ``None`` = the working tree: a green taken
    THIS round certifies the code as it is NOW, which is exactly
    what ``ModuleIndex(None)`` indexes."""
    out: dict[int, str | None] = {}
    log = _git("log", "--all", "--format=%H %s")
    for line in log.splitlines():
        sha, _, subj = line.partition(" ")
        m = re.match(r"round (\d+): end-of-round snapshot", subj)
        if m:
            out.setdefault(int(m.group(1)), sha)
    for line in log.splitlines():  # fallback only where no snapshot
        sha, _, subj = line.partition(" ")
        m = re.match(r"round (\d+): verdict/advice", subj)
        if m:
            out.setdefault(int(m.group(1)), sha)
    rounds = [
        int(re.search(r"r(\d+)", p.name).group(1))
        for p in REPO.glob("CORRECTNESS_r*.json")
    ]
    if rounds and max(rounds) not in out:
        out[max(rounds)] = None  # this round: greens cover HEAD
    return out


def last_green_round() -> dict[str, int]:
    """query name -> most recent round with a green driver row."""
    greens: dict[str, int] = {}
    for p in sorted(REPO.glob("CORRECTNESS_r*.json")):
        n = int(re.search(r"r(\d+)", p.name).group(1))
        data = json.loads(p.read_text())
        for name, row in data.items():
            if not isinstance(row, dict) or row.get("err"):
                continue
            if row.get("rows_match") and row.get("hash_match") is not False \
               and row.get("schema_match") is not False:
                greens[name] = max(greens.get(name, 0), n)
    return greens


_LINE = re.compile(r"[^\r\n]*(?:\r\n|\r|\n)|[^\r\n]+\Z")


def _split_lines(src: str) -> list[str]:
    """``src`` split once into lines with their endings, on the same
    boundaries ``ast.get_source_segment`` uses (no form feed)."""
    return _LINE.findall(src)


def _segment(lines: list[str], node: ast.AST) -> str:
    """``ast.get_source_segment`` over pre-split lines: the source of
    ``node``, whose column offsets count UTF-8 bytes."""
    first, last = node.lineno - 1, node.end_lineno - 1
    head = lines[first].encode()
    if first == last:
        return head[node.col_offset:node.end_col_offset].decode()
    tail = lines[last].encode()[:node.end_col_offset].decode()
    return "".join(
        [head[node.col_offset:].decode(), *lines[first + 1:last], tail])


class ModuleIndex:
    """Package sources at one git ref (or the working tree for ref
    None): per-module AST, top-level definition segments, and import
    aliasing — enough to statically resolve `name` / `mod.attr`
    references to defining source segments."""

    def __init__(self, ref: str | None):
        self.ref = ref
        self._src: dict[str, str | None] = {}
        self._mod: dict[str, dict] = {}

    def source(self, relpath: str) -> str | None:
        if relpath not in self._src:
            try:
                if self.ref is None:
                    self._src[relpath] = (REPO / relpath).read_text()
                else:
                    self._src[relpath] = _git("show", f"{self.ref}:{relpath}")
            except (OSError, subprocess.CalledProcessError):
                self._src[relpath] = None
        return self._src[relpath]

    @staticmethod
    def mod_to_path(mod: str) -> list[str]:
        base = mod.replace(".", "/")
        return [f"{base}.py", f"{base}/__init__.py"]

    def module(self, mod: str) -> dict | None:
        """-> {'defs': name -> (segment, own_module)', 'imports':
        alias -> ('mod', dotted) | ('name', dotted_mod, orig_name)}"""
        if mod in self._mod:
            return self._mod[mod] or None
        info = None
        for rel in self.mod_to_path(mod):
            src = self.source(rel)
            if src is None:
                continue
            try:
                tree = ast.parse(src)
            except SyntaxError:
                break
            is_pkg = rel.endswith("__init__.py")
            lines = _split_lines(src)
            defs: dict[str, str] = {}
            imports: dict[str, tuple] = {}
            for node in tree.body:
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                     ast.ClassDef)):
                    defs[node.name] = _segment(lines, node)
                elif isinstance(node, ast.Assign):
                    seg = _segment(lines, node)
                    for t in node.targets:
                        if isinstance(t, ast.Name):
                            defs[t.id] = seg
                elif isinstance(node, ast.AnnAssign) and isinstance(
                        node.target, ast.Name):
                    defs[node.target.id] = _segment(lines, node)
                elif isinstance(node, ast.Import):
                    for a in node.names:
                        imports[(a.asname or a.name).split(".")[0]] = (
                            "mod", a.name)
                elif isinstance(node, ast.ImportFrom):
                    if node.level:
                        parts = mod.split(".")
                        # relative: level 1 = this package (for a pkg
                        # __init__) or the containing package (for a
                        # module, the module's own name strips too)
                        strip = node.level - (1 if is_pkg else 0)
                        base_parts = (
                            parts[: len(parts) - strip] if strip else parts)
                        target = ".".join(
                            base_parts + ([node.module] if node.module else []))
                    else:
                        target = node.module or ""
                    for a in node.names:
                        if a.name == "*":
                            continue
                        imports[a.asname or a.name] = ("name", target, a.name)
            info = {"defs": defs, "imports": imports, "src": src,
                    "tree": tree, "lines": lines}
            break
        self._mod[mod] = info or False
        return info

    def resolve(self, mod: str, name: str, depth: int = 0):
        """-> (qualified_id, segment | None, defining_mod | None)"""
        if depth > 8:
            return (f"{mod}.{name}", None, None)
        info = self.module(mod)
        if not info:
            return (f"{mod}.{name}", None, None)
        if name in info["defs"]:
            return (f"{mod}.{name}", info["defs"][name], mod)
        imp = info["imports"].get(name)
        if imp:
            if imp[0] == "mod":
                return (imp[1], None, imp[1])  # a module alias
            tgt_mod, orig = imp[1], imp[2]
            if tgt_mod.startswith(PKG):
                # `from .x import y` may bind a SUBMODULE, not a def
                sub = f"{tgt_mod}.{orig}"
                if self.module(sub):
                    hit = self.resolve(tgt_mod, orig, depth + 1)
                    if hit[1] is not None:
                        return hit
                    return (sub, None, sub)
                return self.resolve(tgt_mod, orig, depth + 1)
            return (f"{tgt_mod}.{orig}", None, None)
        return (f"{mod}.{name}", None, None)


import builtins

_BUILTINS = frozenset(dir(builtins))


def _refs_in(
    src_seg: str,
) -> tuple[set[str], dict[str, set[str]], list[tuple]]:
    """FREE names, attribute roots, and segment-local imports of a
    source segment: (plain names, root -> attrs accessed on it,
    [(alias, level, module, orig_name)] for in-segment from-imports).
    Locally-bound names (params, assignments, comprehension vars,
    local defs, import aliases) and builtins are excluded from the
    free names — they are not module-level dependencies and would
    otherwise leak into the closure as pseudo-deps; in-segment imports
    are returned separately so the closure walk can resolve their
    TARGETS (workload fns import lib algorithms locally all over)."""
    try:
        tree = ast.parse(src_seg)
    except SyntaxError:
        return set(), {}, []
    names: set[str] = set()
    attrs: dict[str, set[str]] = {}
    bound: set[str] = set()
    local_imports: list[tuple] = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            if isinstance(node.ctx, ast.Load):
                names.add(node.id)
            else:
                bound.add(node.id)
        elif isinstance(node, ast.Attribute) and isinstance(
                node.value, ast.Name) and isinstance(
                node.value.ctx, ast.Load):
            attrs.setdefault(node.value.id, set()).add(node.attr)
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                               ast.ClassDef)):
            bound.add(node.name)
            if hasattr(node, "args"):
                a = node.args
                for arg in (*a.posonlyargs, *a.args, *a.kwonlyargs,
                            *((a.vararg,) if a.vararg else ()),
                            *((a.kwarg,) if a.kwarg else ())):
                    bound.add(arg.arg)
        elif isinstance(node, ast.Lambda):
            a = node.args
            for arg in (*a.posonlyargs, *a.args, *a.kwonlyargs,
                        *((a.vararg,) if a.vararg else ()),
                        *((a.kwarg,) if a.kwarg else ())):
                bound.add(arg.arg)
        elif isinstance(node, ast.ExceptHandler) and node.name:
            bound.add(node.name)
        elif isinstance(node, ast.ImportFrom):
            for al in node.names:
                alias = al.asname or al.name
                bound.add(alias)
                local_imports.append(
                    (alias, node.level, node.module or "", al.name))
        elif isinstance(node, ast.Import):
            for al in node.names:
                alias = (al.asname or al.name).split(".")[0]
                bound.add(alias)
                if al.name.startswith(PKG):
                    local_imports.append((alias, 0, al.name, None))
    drop = bound | _BUILTINS
    names -= drop
    local_attrs = {k: v for k, v in attrs.items() if k in bound}
    attrs = {k: v for k, v in attrs.items() if k not in drop}
    return names, attrs, [
        (*imp, local_attrs.get(imp[0], set())) for imp in local_imports
    ]


def query_sources(idx: ModuleIndex) -> dict[str, tuple[str, str]]:
    """query name -> (defining module, decorated-function segment)."""
    out: dict[str, tuple[str, str]] = {}
    wl = f"{PKG}.workloads"
    init = idx.module(wl)
    if not init:
        return out
    mods = [wl]
    # the registry modules listed in load_all's import
    for sub in re.findall(r"\b([a-z_]+)\b",
                          ",".join(re.findall(r"from \. import \(([^)]*)\)",
                                              init["src"]))):
        mods.append(f"{wl}.{sub}")
    for mod in mods:
        info = idx.module(mod)
        if not info:
            continue
        lines = info["lines"]
        for node in info["tree"].body:
            if not isinstance(node, ast.FunctionDef):
                continue
            for dec in node.decorator_list:
                if (isinstance(dec, ast.Call)
                        and isinstance(dec.func, ast.Name)
                        and dec.func.id == "query" and dec.args
                        and isinstance(dec.args[0], ast.Constant)):
                    seg = _segment(lines, node)
                    dseg = _segment(lines, dec)
                    out[dec.args[0].value] = (mod, dseg + "\n" + seg)
    return out


def closure_parts(idx: ModuleIndex, mod: str, seg: str) -> dict[str, str]:
    """qualified name -> source segment, over the transitive closure."""
    seen: set[tuple[str, str]] = set()
    parts: dict[str, str] = {"__root__": seg}
    work = [(mod, seg)]

    def follow_module(target_mod: str, used_attrs: set[str]) -> None:
        for attr in sorted(used_attrs):
            q2, b2, m2 = idx.resolve(target_mod, attr)
            if b2 is not None and q2 not in parts:
                parts[q2] = b2
                work.append((m2, b2))
            elif b2 is None:
                parts.setdefault(q2, "")

    while work:
        cur_mod, cur_seg = work.pop()
        names, attrs, local_imports = _refs_in(cur_seg)
        for name in sorted(names | set(attrs)):
            key = (cur_mod, name)
            if key in seen:
                continue
            seen.add(key)
            qid, body, def_mod = idx.resolve(cur_mod, name)
            if body is not None:
                if qid not in parts:
                    parts[qid] = body
                    work.append((def_mod, body))
            elif def_mod is not None and def_mod.startswith(PKG):
                # module alias: resolve the attributes accessed on it
                follow_module(def_mod, attrs.get(name, set()))
            else:
                parts.setdefault(qid, "")
        # in-segment imports: resolve targets against the segment's
        # OWN module context (level-relative), then treat exactly like
        # module-level resolution
        for alias, level, module, orig, used in local_imports:
            key = (cur_mod, f"@{alias}:{level}:{module}:{orig}")
            if key in seen:
                continue
            seen.add(key)
            if level:
                p = cur_mod.split(".")
                base = p[: len(p) - level] if len(p) > level else []
                target = ".".join(base + ([module] if module else []))
            else:
                target = module
            if not target.startswith(PKG):
                continue
            if orig is None:  # `import emma_spark.x as alias`
                follow_module(target, used)
                continue
            sub = f"{target}.{orig}"
            if idx.module(sub):  # bound a submodule
                follow_module(sub, used)
                continue
            qid, body, def_mod = idx.resolve(target, orig)
            if body is not None:
                if qid not in parts:
                    parts[qid] = body
                    work.append((def_mod, body))
            else:
                parts.setdefault(qid, "")
    return parts


def changed_deps(old: dict[str, str], new: dict[str, str]) -> set[str]:
    """Qualified ids whose segment differs (or exists on one side)."""
    return {
        qid
        for qid in set(old) | set(new)
        if old.get(qid) != new.get(qid)
    }


# A dependency referenced by at least this many registry queries is
# "universal plumbing" (core.py, sources/io.py, the T loader, the
# @query decorator, ...): any 50-query driver window exercises it
# dozens of times, so a change there cannot hide behind old greens the
# way a per-query rewrite can. Universal-only staleness is REPORTED
# (second tier) but does not demand a window slot per consumer —
# keepers + the window itself cover it.
UNIVERSAL_FANIN = 150


def main() -> int:
    list_only = "--list" in sys.argv
    greens = last_green_round()
    refs = round_refs()
    head = ModuleIndex(None)
    head_q = query_sources(head)
    head_parts = {
        name: closure_parts(head, mod, seg)
        for name, (mod, seg) in head_q.items()
    }
    fanin: dict[str, int] = {}
    for parts in head_parts.values():
        for qid in parts:
            fanin[qid] = fanin.get(qid, 0) + 1
    ref_idx: dict[int, ModuleIndex] = {}
    ref_q: dict[int, dict] = {}
    old_parts: dict[str, dict[str, str]] = {}
    gone = []
    for name, rnd in sorted(greens.items()):
        if name not in head_q:
            gone.append(name)  # retired/renamed since its green
            continue
        if rnd not in refs:
            continue
        sha = refs[rnd]  # None = working tree (current-round greens)
        if rnd not in ref_idx:
            ref_idx[rnd] = ModuleIndex(sha)
            ref_q[rnd] = query_sources(ref_idx[rnd])
        old = ref_q[rnd].get(name)
        if old is not None:
            old_parts[name] = closure_parts(ref_idx[rnd], *old)

    # head segment per dep (identical across queries — source of def)
    head_seg: dict[str, str] = {}
    for parts in head_parts.values():
        head_seg.update(parts)
    # a dep's CURRENT source is "driver-covered" if some query whose
    # green-round closure contained that exact segment has a green —
    # i.e. the driver already certified this version of the helper
    # through another consumer, just not through this query
    covered: set[str] = set()
    for q2, parts in old_parts.items():
        for d, seg in parts.items():
            if d != "__root__" and seg == head_seg.get(d):
                covered.add(d)

    stale, stale_cov, infra_only, fresh = [], [], [], 0
    for name, parts_old in sorted(old_parts.items()):
        rnd = greens[name]
        diff = changed_deps(parts_old, head_parts[name])
        if not diff:
            fresh += 1
            continue
        # the query's OWN decorated source ("__root__") always
        # triggers, whatever its nominal fan-in — it appears in every
        # closure but identifies only this query's code/oracle
        targeted = sorted(
            d for d in diff
            if d == "__root__" or fanin.get(d, 0) < UNIVERSAL_FANIN)
        if not targeted:
            infra_only.append((name, rnd, sorted(diff)))
        elif all(d in covered for d in targeted):
            stale_cov.append((name, rnd, targeted))
        else:
            stale.append(
                (name, rnd, [d for d in targeted if d not in covered]))
    if list_only:
        for name, _, _ in stale:
            print(name)
        return 0
    print(
        f"# staleness: {fresh} green-and-current, {len(stale)} STALE-"
        f"UNCOVERED (no green anywhere certifies the changed dep's "
        f"current code -> window slot), {len(stale_cov)} stale-covered "
        f"(dep re-certified through newer greens of other consumers), "
        f"{len(infra_only)} stale-infra-only (universal plumbing; "
        f"keepers cover), {len(gone)} retired, {len(greens)} ever-green")
    for name, rnd, deps in stale:
        short = ", ".join(d.removeprefix("emma_spark.") for d in deps[:4])
        more = f" (+{len(deps) - 4})" if len(deps) > 4 else ""
        print(f"STALE  {name} (green r{rnd}): {short}{more}")
    for name, rnd, deps in stale_cov:
        short = ", ".join(d.removeprefix("emma_spark.") for d in deps[:4])
        more = f" (+{len(deps) - 4})" if len(deps) > 4 else ""
        print(f"covered {name} (green r{rnd}): {short}{more}")
    infra_deps: dict[str, int] = {}
    for _, _, deps in infra_only:
        for d in deps:
            infra_deps[d] = infra_deps.get(d, 0) + 1
    if infra_deps:
        print("# stale-infra-only consumers by changed universal dep:")
        for d, n in sorted(infra_deps.items(), key=lambda kv: -kv[1]):
            print(f"#   {d.removeprefix('emma_spark.')}: {n} consumers")
    for name in gone:
        print(f"GONE   {name}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
