"""Registry-module hygiene: the consolidated domain modules concatenate
many former batches, so a later section redefining an earlier section's
module-level helper silently wins at QUERY RUNTIME while each oracle
froze its own value at decoration time — a guaranteed hash mismatch
(bit us twice in round 5: _LATE_DAYS across TPC-H batches,
_PACK_BUDGET across packing batches). These checks make the collision
class a test failure instead of a driver-round surprise. Pure AST —
no Spark session needed."""

from __future__ import annotations

import ast
import glob
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

REGISTRY_FILES = sorted(
    f
    for f in glob.glob(os.path.join(REPO, "datas_spark", "registry_*.py"))
    if not f.endswith("registry_core.py")
) + [os.path.join(REPO, "datas_spark", "registry.py")]


@pytest.mark.parametrize(
    "path", REGISTRY_FILES, ids=[os.path.basename(p) for p in REGISTRY_FILES]
)
def test_no_duplicate_toplevel_definitions(path):
    tree = ast.parse(open(path).read())
    seen: dict[str, int] = {}
    dups = []
    for node in tree.body:
        names = []
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names = [node.name]
        elif isinstance(node, ast.Assign):
            names = [t.id for t in node.targets if isinstance(t, ast.Name)]
        for n in names:
            if n in seen:
                dups.append(f"{n} (lines {seen[n]} and {node.lineno})")
            seen[n] = node.lineno
    assert not dups, (
        f"{os.path.basename(path)} redefines module-level names — the last "
        f"binding wins at query runtime while oracles froze their own: {dups}"
    )


@pytest.mark.parametrize(
    "path", REGISTRY_FILES, ids=[os.path.basename(p) for p in REGISTRY_FILES]
)
def test_no_conflicting_import_aliases(path):
    tree = ast.parse(open(path).read())
    bound: dict[str, str] = {}
    conflicts = []
    for node in ast.walk(tree):
        pairs = []
        if isinstance(node, ast.ImportFrom):
            pairs = [(a.asname or a.name, f"{node.module}.{a.name}") for a in node.names]
        elif isinstance(node, ast.Import):
            pairs = [(a.asname or a.name.split(".")[0], a.name) for a in node.names]
        for name, target in pairs:
            if name in bound and bound[name] != target:
                conflicts.append(
                    f"{name}: {bound[name]} vs {target} (line {node.lineno})"
                )
            bound[name] = target
    assert not conflicts, (
        f"{os.path.basename(path)} rebinds an import alias to a different "
        f"target — runtime name lookups take the LAST binding: {conflicts}"
    )


def _registered_names(path) -> set[str]:
    """Names passed as the first arg of @register(...) in a file."""
    tree = ast.parse(open(path).read())
    names = set()
    for node in ast.walk(tree):
        for dec in getattr(node, "decorator_list", []):
            if (
                isinstance(dec, ast.Call)
                and getattr(dec.func, "id", "") == "register"
                and dec.args
                and isinstance(dec.args[0], ast.Constant)
            ):
                names.add(dec.args[0].value)
    return names


def test_query_homing_locked():
    """Queries live in the registry module of their DOMAIN (VERDICT r7
    #5: `user_cohort_retention` sat in registry_similarity for four
    rounds). Lock the re-homed entries, and mechanically forbid the
    known cross-domain drift classes: no event-analytics rollups in the
    similarity registry, and no query registered twice anywhere."""
    by_file = {
        os.path.basename(p): _registered_names(p) for p in REGISTRY_FILES
    }
    events = by_file.get("registry_events.py", set())
    similarity = by_file.get("registry_similarity.py", set())
    # the re-homed entry and the operator query it is subsumed by
    assert "user_cohort_retention" in events
    assert "events_retention_cohorts" in events
    assert "user_cohort_retention" not in similarity
    # similarity must hold no cohort/retention/funnel rollups at all
    strays = {
        n for n in similarity
        if any(k in n for k in ("cohort", "retention", "funnel", "sessionize"))
    }
    assert not strays, f"event-analytics queries in registry_similarity: {strays}"
    # and a name registered in two files is a latent last-import-wins bug
    seen: dict[str, str] = {}
    dups = []
    for fname, names in sorted(by_file.items()):
        for n in names:
            if n in seen:
                dups.append(f"{n} ({seen[n]} and {fname})")
            seen[n] = fname
    assert not dups, f"queries registered in two files: {dups}"


# Public functions that nothing outside the tests reaches, each with
# its decision (ROADMAP): test references, code to wire into the DataS
# flow, and code to delete next. A new function must be reached from a
# registered query, the pipeline, the benchmark or a script, or join
# this list on purpose.
UNREACHED_RESIDUE = {
    # test references
    "datas_spark.operators.dedup.k_core",
    "datas_spark.operators.sketches.bloom_fpr",
    "datas_spark.plans.audit.broadcast_join_count",
    "datas_spark.plans.audit.global_window_violations",
    "datas_spark.plans.audit.plan_text",
    "datas_spark.plans.audit.scan_info",
    "datas_spark.plans.audit.shuffle_count",
    "datas_spark.plans.audit.walk_plan",
    # to wire into the DataS flow
    "datas_spark.operators.clustering.tsne_viz",
    "datas_spark.operators.evol.evol_prompt",
    "datas_spark.operators.evol.evol_round_pools",
    "datas_spark.operators.scoring.make_model_scorer",
    # to delete next
    "datas_spark.functions.arrays.arr_add",
    "datas_spark.functions.arrays.arr_max",
    "datas_spark.functions.arrays.arr_min",
    "datas_spark.functions.arrays.arr_scale",
    "datas_spark.functions.arrays.arr_sub",
    "datas_spark.functions.text.direct_answer_text",
    "datas_spark.functions.text.shingles",
    "datas_spark.functions.text.whole_text",
    "datas_spark.operators.artifacts.merge_into_components_artifact",
    "datas_spark.operators.cdc.scd2_repair_partitioned",
    "datas_spark.operators.conversations.regroup_turns",
    "datas_spark.operators.layout.zone_minmax",
    "datas_spark.operators.layout.zorder_write",
    "datas_spark.operators.scoring.with_scores_map",
    "datas_spark.operators.similarity.ivfpq_topk_fixed",
    "datas_spark.operators.splits.split_leakage_counts",
    "datas_spark.operators.taskvector.fisher_from_grads",
    "datas_spark.operators.taskvector.ties_disjoint_merge",
    "datas_spark.operators.taskvector.ties_elect_sign",
    "datas_spark.operators.taskvector.ties_topk_mask",
    "datas_spark.plans.audit.has_node",
}


def _import_time(stmts):
    """The AST nodes that run when a module is imported: each
    statement outside a function body, with the decorators of
    functions and classes and the bases of classes."""
    for st in stmts:
        if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef)):
            yield from st.decorator_list
        elif isinstance(st, ast.ClassDef):
            yield from st.decorator_list + st.bases
            yield from _import_time(st.body)
        else:
            yield st


def _check_oracle():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(REPO, "scripts", "check_oracle.py")
    )
    co = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(co)
    return co


@pytest.mark.parametrize(
    "hunk,changed",
    [
        # a deleted function between a (lines 1-5) and b (8-12), seen
        # from either end of the blank run between them
        ("@@ -6,4 +5,0 @@\n-\n-def gone():\n-    pass\n-", set()),
        ("@@ -8,3 +7,0 @@\n-def gone():\n-    pass\n-", set()),
        # a deleted decorated function before the blank run marks nothing
        ("@@ -6,4 +5,0 @@\n-@F.udf\n-def gone():\n-    pass\n-", set()),
        # a deleted statement inside a, and a's deleted last statement
        ("@@ -3 +2,0 @@\n-    x = 1", {"a"}),
        ("@@ -6 +5,0 @@\n-    return x", {"a"}),
        # b's deleted decorator (b now starts at its def), also with a
        # multi-line call and an indented method decorator
        ("@@ -8 +7,0 @@\n-@F.pandas_udf(DoubleType())", {"b"}),
        ("@@ -8,3 +7,0 @@\n-@F.pandas_udf(\n-    DoubleType()\n-)", {"b"}),
        ("@@ -8 +7,0 @@\n-    @staticmethod", {"b"}),
        # added or replaced lines mark the node holding them
        ("@@ -9 +9,2 @@\n-    y = 1\n+    y = 2\n+    z = 3", {"b"}),
        ("@@ -6,0 +6,2 @@\n+\n+", set()),
    ],
)
def test_touched_hunks_mark_only_changed_nodes(hunk, changed):
    """``check_oracle --touched`` maps each ``git diff -U0`` hunk to the
    nodes it changes: a pure deletion marks no neighbour it only
    borders."""
    co = _check_oracle()
    diff = "diff --git a/pkg/mod.py b/pkg/mod.py\n--- a/pkg/mod.py\n+++ b/pkg/mod.py\n" + hunk
    nodes = {"pkg.mod": [("a", 1, 5), ("b", 8, 12)]}
    assert co._changed_nodes(diff, nodes) == {("pkg.mod", n) for n in changed}


def test_public_functions_are_reached():
    """Every public top-level function of ``datas_spark/`` is reached,
    through the AST call graph of ``scripts/check_oracle.py``, from a
    registered query's builder, ``datas_spark/pipeline/``, a
    module-level statement or decorator, or a package name that
    ``perfbench/``, ``scripts/``, ``bench.py`` or ``__spark_entry__.py``
    loads. A name in a docstring or an ``__all__`` list does not count."""
    co = _check_oracle()
    trees, edges, refs = co.call_graph()

    roots = {
        (fn.__module__, fn.__qualname__.split(".<locals>")[0])
        for fn in co.entrymod.queries().values()
    }
    for mod, tree in trees.items():
        if mod.startswith("datas_spark.pipeline"):
            roots |= {(mod, name) for name, *_ in co._nodes(tree)}
        for node in _import_time(tree.body):
            roots |= refs(mod, node)
    outside = glob.glob(os.path.join(REPO, "perfbench", "*.py")) + glob.glob(
        os.path.join(REPO, "scripts", "*.py")
    ) + [os.path.join(REPO, "bench.py"), os.path.join(REPO, "__spark_entry__.py")]
    for path in outside:
        roots |= refs(None, ast.parse(open(path).read()))

    seen, todo = set(roots), list(roots)
    while todo:
        for nxt in edges.get(todo.pop(), ()):
            if nxt not in seen:
                seen.add(nxt)
                todo.append(nxt)
    unreached = {
        f"{mod}.{st.name}"
        for mod, tree in trees.items()
        for st in tree.body
        if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef))
        and not st.name.startswith("_")
        and (mod, st.name) not in seen
    }
    assert unreached == UNREACHED_RESIDUE, (
        f"newly unreached: {sorted(unreached - UNREACHED_RESIDUE)}; "
        f"reached now, drop from the residue: {sorted(UNREACHED_RESIDUE - unreached)}"
    )
