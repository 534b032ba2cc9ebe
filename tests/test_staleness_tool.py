"""Unit coverage for tools/staleness.py's static analysis — the parts
that must stay correct for the driver-window changed tier to be
derived rather than hand-listed. The git-walking
end-to-end path runs in the round-close ritual; here we pin the
resolution semantics that broke during development:

* relative-import stripping for MODULES vs package __init__ (the bug
  that hid every `from . import qsum` consumer on the first run),
* free-name extraction excluding locals/params/builtins,
* segment-local imports resolved as real dependencies,
* closure reachability through module aliases.
"""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from tools.staleness import (  # noqa: E402
    ModuleIndex, _refs_in, closure_parts, changed_deps, query_sources,
)


def test_refs_in_excludes_bound_names_and_builtins():
    names, attrs, imports = _refs_in(
        "def f(a, b=2):\n"
        "    c = a + helper(b)\n"
        "    xs = [y for y in c if y]\n"
        "    return float(c) + CONST + mod.attr_fn(c)\n"
    )
    assert "helper" in names and "CONST" in names
    # params, locals, comprehension vars, builtins: not dependencies
    for bound in ("a", "b", "c", "xs", "y", "float", "f"):
        assert bound not in names, bound
    assert attrs == {"mod": {"attr_fn"}}
    assert imports == []


def test_refs_in_returns_segment_local_imports():
    names, attrs, imports = _refs_in(
        "def f():\n"
        "    from ..lib.graphs import page_rank_int\n"
        "    from . import qsum as q\n"
        "    return page_rank_int(q.x)\n"
    )
    # aliases are bound (not free names) but surface as import deps
    assert "page_rank_int" not in names and "q" not in names
    got = {(alias, level, module, orig) for alias, level, module, orig, _
           in imports}
    assert ("page_rank_int", 2, "lib.graphs", "page_rank_int") in got
    assert ("q", 1, "", "qsum") in got


def test_module_relative_import_resolution_strips_module_name():
    """`from . import qsum` inside emma_spark.workloads.relational must
    resolve against emma_spark.workloads (the package), NOT against
    the module itself — the first-run bug that classified every
    rd/qsum consumer as fresh."""
    idx = ModuleIndex(None)
    qid, body, def_mod = idx.resolve("emma_spark.workloads.relational", "qsum")
    assert qid == "emma_spark.workloads.qsum"
    assert def_mod == "emma_spark.workloads"
    assert body and "coalesce" in body  # the two-aggregate form


def test_closure_reaches_shared_helpers_and_oracle():
    idx = ModuleIndex(None)
    qsrc = query_sources(idx)
    mod, seg = qsrc["groupby_agg_pricing"]
    parts = closure_parts(idx, mod, seg)
    assert "emma_spark.workloads.qsum" in parts
    assert "emma_spark.workloads._nonfinite" in parts
    # the decorator segment embeds the oracle SQL in the root
    assert "sum_disc" in parts["__root__"]


def test_changed_deps_detects_one_sided_and_differing():
    old = {"a": "1", "b": "2", "c": "3"}
    new = {"a": "1", "b": "CHANGED", "d": "4"}
    assert changed_deps(old, new) == {"b", "c", "d"}


def test_release_handle_change_marks_graph_queries():
    """An edit to the release-handle code must appear in the fixpoint
    consumers' closures — the property that let the tool catch
    graph_ppr_seed when a hand-derived verdict list missed it. The
    handle is made by plans.cache.pin (reached through fixpoint) and
    copied onto derived frames by carry_ckpt."""
    idx = ModuleIndex(None)
    qsrc = query_sources(idx)
    mod, seg = qsrc["graph_transitive_closure"]
    parts = closure_parts(idx, mod, seg)
    assert "emma_spark.plans.cache.pin" in parts
    assert "emma_spark.plans.iterate.fixpoint" in parts
    mod, seg = qsrc["graph_kcore"]
    parts = closure_parts(idx, mod, seg)
    assert "emma_spark.plans.iterate.carry_ckpt" in parts


def test_segments_match_ast_get_source_segment():
    """ModuleIndex slices segments from lines split once per module;
    each slice must equal what ``ast.get_source_segment`` returns."""
    import ast
    from pathlib import Path

    from tools.staleness import REPO, _segment, _split_lines

    pkg = Path(REPO) / "emma_spark"
    paths = [pkg / "workloads" / "graph.py", *sorted((pkg / "plans").glob("*.py"))]
    checked = 0
    for path in paths:
        src = path.read_text()
        lines = _split_lines(src)
        for node in ast.parse(src).body:
            for n in [node, *getattr(node, "decorator_list", [])]:
                assert _segment(lines, n) == ast.get_source_segment(src, n), (
                    path.name, n.lineno)
                checked += 1
    assert checked > 100


def test_no_module_defines_a_top_level_name_twice():
    """A second top-level definition shadows the first at import time,
    and the index keeps only the last: the first one's consumers would
    hash the wrong source."""
    import ast
    from collections import Counter
    from pathlib import Path

    from tools.staleness import REPO

    dupes = []
    for path in sorted((Path(REPO) / "emma_spark").rglob("*.py")):
        seen = Counter()
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                seen[node.name] += 1
            elif isinstance(node, ast.Assign):
                seen.update(t.id for t in node.targets if isinstance(t, ast.Name))
            elif isinstance(node, ast.AnnAssign) and isinstance(
                    node.target, ast.Name):
                seen[node.target.id] += 1
        dupes += [f"{path.name}:{k}" for k, v in seen.items() if v > 1]
    assert not dupes, dupes


def test_random_walks_closure_holds_its_own_hop():
    """graph_random_walks' oracle is built by the 'wk|' hop helper; the
    corpus walk's 'walk|' hop is a different helper."""
    idx = ModuleIndex(None)
    mod, seg = query_sources(idx)["graph_random_walks"]
    parts = closure_parts(idx, mod, seg)
    hop = parts["emma_spark.workloads.graph._walk_step_sql"]
    assert "'wk|'" in hop and "'walk|'" not in hop
