"""Local stand-in for the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` twin on DuckDB at
the same sf, compare row count + sorted-column value multiset.

Usage: python scripts/check_oracle.py [sf_dir] [query ...]
       python scripts/check_oracle.py [sf_dir] --sample N --seed S
       python scripts/check_oracle.py [sf_dir] --touched REV

``--sample N --seed S`` checks a deterministic rotating subset of N
registered queries (seeded shuffle of the sorted name list) — the
round-verify recipe runs one rotated sample per round at sf0.1 so
every query is eventually exercised at a scale beyond the driver's
fixed 50-query sf0.01 window (VERDICT r6 "Next round" #8). Use the
round number as the seed so consecutive rounds cover different slices.

``--touched REV`` checks the registered queries whose builders reach a
function of ``datas_spark/`` that changed since git revision REV
(committed or not), through the AST call graph: every top-level
function, method and module-level assignment is a node, and a node
references each package name it loads (imports, module aliases and
``self.`` methods resolved; nested functions and lambdas count as their
enclosing function). A changed line marks the node whose source span
holds it in the work tree.
"""

from __future__ import annotations

import ast
import math
import os
import random
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import duckdb

import __spark_entry__ as entrymod
from datas_spark.session import get_spark
from datas_spark.io.sources import TPCH_TABLES


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    if isinstance(v, list):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(_norm(r[i]) for i in order) for r in rows)


def _module(path):
    return path[:-3].replace(os.sep, ".").removesuffix(".__init__")


def _nodes(tree):
    """``(name, start, end, ast)`` per top-level function, method
    (``Class.method``) and module-level assignment of a parsed module."""
    for st in tree.body:
        start = min([st.lineno] + [d.lineno for d in getattr(st, "decorator_list", [])])
        if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef)):
            yield st.name, start, st.end_lineno, st
        elif isinstance(st, ast.ClassDef):
            for m in st.body:
                if isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    lo = min([m.lineno] + [d.lineno for d in m.decorator_list])
                    yield f"{st.name}.{m.name}", lo, m.end_lineno, m
        elif isinstance(st, (ast.Assign, ast.AnnAssign)):
            targets = st.targets if isinstance(st, ast.Assign) else [st.target]
            for t in targets:
                for n in ast.walk(t):
                    if isinstance(n, ast.Name):
                        yield n.id, start, st.end_lineno, st


def _bindings(stmts, modules):
    """Names bound by the import statements among ``stmts``: a module
    as ``(module, None)``, an imported name as ``(module, name)``."""
    out = {}
    for st in stmts:
        if isinstance(st, ast.Import):
            for a in st.names:
                if a.asname:
                    out[a.asname] = (a.name, None)
        elif isinstance(st, ast.ImportFrom) and st.module:
            for a in st.names:
                sub = f"{st.module}.{a.name}"
                out[a.asname or a.name] = (sub, None) if sub in modules else (st.module, a.name)
    return out


def call_graph():
    """The AST call graph of ``datas_spark/``: ``(trees, edges, refs)``.

    ``trees`` maps each module name to its parsed source and ``edges``
    maps each ``(module, name)`` node of ``_nodes`` to the set of nodes
    it references. ``refs(mod, node, cls=None)`` gives the nodes that
    any AST ``node`` loads when read in module ``mod`` (``None`` for a
    file outside the package, whose own imports then bind its names)."""
    trees = {}
    for d, _, files in os.walk(os.path.join(ROOT, "datas_spark")):
        for f in files:
            if f.endswith(".py"):
                with open(os.path.join(d, f)) as fh:
                    trees[_module(os.path.relpath(os.path.join(d, f), ROOT))] = ast.parse(fh.read())
    nodes = {mod: {n: node for n, _, _, node in _nodes(t)} for mod, t in trees.items()}
    imports = {mod: _bindings(t.body, trees) for mod, t in trees.items()}

    def resolve(mod, name, depth=0):
        if name in nodes.get(mod, {}):
            return (mod, name)
        target = imports.get(mod, {}).get(name)
        if target and target[1] and depth < 8:
            return resolve(*target, depth + 1)
        return None

    def refs(mod, node, cls=None):
        local = {**imports.get(mod, {}), **_bindings(ast.walk(node), trees)}
        out = set()
        for n in ast.walk(node):
            if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
                target = local.get(n.id)
                if target is None:
                    out.add(resolve(mod, n.id))
                elif target[1]:
                    out.add(resolve(*target))
            elif isinstance(n, ast.Attribute) and isinstance(n.value, ast.Name):
                base = n.value.id
                if cls and base in ("self", "cls"):
                    out.add(resolve(mod, f"{cls}.{n.attr}"))
                elif base in local and local[base][1] is None:
                    out.add(resolve(local[base][0], n.attr))
        return out - {None}

    edges = {
        (mod, name): refs(mod, node, name.split(".")[0] if "." in name else None)
        for mod, defs in nodes.items()
        for name, node in defs.items()
    }
    return trees, edges, refs


def _changed_nodes(diff, nodes):
    """The nodes a ``git diff -U0`` text changes. ``nodes`` maps a module
    name to its ``(name, start, end)`` spans in the work tree.

    A hunk that adds lines marks each node holding one of them. A pure
    deletion (``+c,0``) sits between new lines c and c + 1: it marks
    only a node whose span holds both, so a deletion between two
    functions marks neither. A deletion whose first non-blank line is
    indented continues the node holding line c, so dropping the last
    statements of a function still marks that function; one whose first
    non-blank line is a decorator (``@`` after any indent) belongs to the
    node starting at line c + 1, so dropping a function's decorators
    still marks that function."""
    marks, path, hunk = [], None, None
    for line in diff.splitlines():
        if line.startswith("+++ "):
            path = line[6:] if line.startswith("+++ b/") and line.endswith(".py") else None
            continue
        m = re.match(r"@@ -\S+ \+(\d+),?(\d*) @@", line)
        if m:
            hunk = None
            if path:
                start, count = int(m[1]), 1 if m[2] == "" else int(m[2])
                hunk = [_module(path), start, count, None]
                marks.append(hunk)
        elif hunk and hunk[2] == 0 and hunk[3] is None and line.startswith("-") and line[1:].strip():
            hunk[3] = line[1:]
    changed = set()
    for mod, start, count, first in marks:
        indented = first is not None and first[0].isspace()
        decorator = first is not None and first.lstrip().startswith("@")
        for name, lo, hi in nodes.get(mod, ()):
            if count:
                hit = lo <= start + count - 1 and start <= hi
            else:
                hit = (
                    lo <= start and (start + 1 <= hi or (indented and start <= hi))
                ) or (decorator and start + 1 == lo)
            if hit:
                changed.add((mod, name))
    return changed


def _touched_queries(rev, queries):
    """Registered query names whose builders reach a node changed since
    ``rev``."""
    trees, edges, _ = call_graph()
    diff = subprocess.run(
        ["git", "diff", "-U0", rev, "--", "datas_spark"],
        cwd=ROOT, capture_output=True, text=True, check=True,
    ).stdout
    changed = _changed_nodes(
        diff, {mod: [(n, lo, hi) for n, lo, hi, _ in _nodes(t)] for mod, t in trees.items()}
    )

    out = set()
    for qname, fn in queries.items():
        start = (fn.__module__, fn.__qualname__.split(".<locals>")[0])
        seen, todo = {start}, [start]
        while todo:
            cur = todo.pop()
            if cur in changed:
                out.add(qname)
                break
            for nxt in edges.get(cur, ()):
                if nxt not in seen:
                    seen.add(nxt)
                    todo.append(nxt)
    return out


def main() -> int:
    args = sys.argv[1:]
    sample_n, seed = None, 0
    if "--sample" in args:
        i = args.index("--sample")
        sample_n = int(args[i + 1])
        del args[i : i + 2]
    if "--seed" in args:
        i = args.index("--seed")
        seed = int(args[i + 1])
        del args[i : i + 2]
    touched = None
    if "--touched" in args:
        i = args.index("--touched")
        touched = args[i + 1]
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    if touched is not None:
        hits = _touched_queries(touched, entrymod.queries())
        print(f"touched since {touched}: {len(hits)} queries: {' '.join(sorted(hits))}")
        if not hits:
            return 0
        only |= hits
    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TPCH_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    queries, oracles = entrymod.queries(), entrymod.oracle_sql()
    unknown = only - set(queries)
    if unknown:
        print(f"FATAL unknown query names: {sorted(unknown)}")
        return 2
    if sample_n is not None:
        names = sorted(queries)
        random.Random(seed).shuffle(names)
        only = set(names[:sample_n]) | only
        print(f"sample: {sample_n} queries, seed {seed}")
    failed = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failed.append(name)
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(srows)} rows (no oracle)")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failed.append(name)
            continue
        if sorted(scols) != sorted(ocols):
            print(f"FAIL  {name}: columns {sorted(scols)} vs {sorted(ocols)}")
            failed.append(name)
            continue
        srow_py = [[r[c] for c in scols] for r in srows]
        a, b = _canon(srow_py, scols), _canon(orows, ocols)
        if len(a) != len(b):
            print(f"FAIL  {name}: rowcount {len(a)} vs {len(b)}")
            failed.append(name)
        elif a != b:
            diff = next(i for i, (x, y) in enumerate(zip(a, b)) if x != y)
            print(f"FAIL  {name}: value mismatch at sorted row {diff}:")
            print(f"      spark : {a[diff][:200]}")
            print(f"      duckdb: {b[diff][:200]}")
            failed.append(name)
        else:
            print(f"OK    {name}: {len(a)} rows match")
    spark.stop()
    if failed:
        print(f"\n{len(failed)} FAILED: {failed}")
        return 1
    print("\nall queries match")
    return 0


if __name__ == "__main__":
    sys.exit(main())
