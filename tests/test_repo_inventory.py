"""Repo inventory: every script is documented and compiles, the docs name
only scripts that exist, tests and scripts name no checkout path, and the
engine reads only its documented env vars.

Round records (ROUND_NOTES, OPTIMIZATION_r*, VERDICT, CHANGES) describe
scripts as they were and are not checked.
"""

from __future__ import annotations

import ast
import glob
import os
import py_compile
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = sorted(
    os.path.basename(p) for p in glob.glob(os.path.join(ROOT, "scripts", "*.py"))
)
DOCS = ("README.md", "COVERAGE.md", "SCALE.md", ".claude/skills/verify/SKILL.md")
#: What ``milvus_cdc_spark/`` may read from the environment (``session.py``);
#: a read or write of any other name, ``PYTHONPATH`` included, fails.
ENGINE_ENV = {"SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY", "SPARK_GRAFT_EXTRA_CONF"}


def _read(rel: str) -> str:
    with open(os.path.join(ROOT, rel)) as f:
        return f.read()


def _python_files(top: str):
    for d, subdirs, files in os.walk(top):
        subdirs[:] = [s for s in subdirs if not s.startswith((".", "__"))]
        yield from (os.path.join(d, f) for f in files if f.endswith(".py"))


def test_every_script_documented_and_compiles(tmp_path):
    lines = _read("README.md").split("## Verification layers", 1)[1].splitlines()
    table = "\n".join(
        line for line in lines[1:] if line.startswith("|")
    )
    assert table, "README has no verification table"
    missing = [s for s in SCRIPTS if f"scripts/{s}" not in table]
    assert not missing, f"not in README's verification table: {missing}"
    for s in SCRIPTS:
        py_compile.compile(
            os.path.join(ROOT, "scripts", s), cfile=str(tmp_path / f"{s}c"),
            doraise=True,
        )


def test_no_script_shadows_a_stdlib_module():
    # a script runs with scripts/ first on sys.path, so a script named
    # like a stdlib module (profile.py, say) breaks every import of it,
    # pyspark's own included
    shadowing = [s for s in SCRIPTS if s[:-3] in sys.stdlib_module_names]
    assert not shadowing, shadowing


def test_named_scripts_exist():
    sources = {os.path.relpath(p, ROOT): open(p).read() for p in _python_files(ROOT)}
    sources.update({d: _read(d) for d in DOCS if os.path.exists(os.path.join(ROOT, d))})
    stale = sorted(
        (where, f"scripts/{name}.py")
        for where, text in sources.items()
        # not preceded by a path: tests/scripts/x.py is the reference's
        for name in set(re.findall(r"(?<![\w/])scripts/(\w+)\.py", text))
        if f"{name}.py" not in SCRIPTS
    )
    assert not stale, f"names of scripts that do not exist: {stale}"


def test_tests_and_scripts_find_the_checkout_from_file():
    """Tests and scripts derive the checkout root from ``__file__``. A
    literal checkout path would make a second checkout (a parent commit's,
    say) import and run the first one's engine instead of its own."""
    literal = re.compile(re.escape(ROOT) + r"(?![\w.-])")
    hits = sorted(
        os.path.relpath(p, ROOT)
        for top in ("tests", "scripts")
        for p in _python_files(os.path.join(ROOT, top))
        if literal.search(open(p).read())
    )
    assert not hits, f"files naming the checkout path {ROOT}: {hits}"


def _env_reads(path: str) -> set:
    """Names of the env vars a module reads or writes through
    ``os.environ`` / ``os.getenv``; a non-literal name is reported as is."""
    names = set()
    for node in ast.walk(ast.parse(open(path).read())):
        key = None
        if isinstance(node, ast.Subscript) and getattr(node.value, "attr", None) == "environ":
            key = node.slice
        elif isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            owner = node.func.value
            if node.func.attr == "getenv" or getattr(owner, "attr", None) == "environ":
                key = node.args[0] if node.args else node.func
        if key is not None:
            names.add(key.value if isinstance(key, ast.Constant) else ast.dump(key))
    return names


def test_engine_reads_only_documented_env_vars():
    reads = {
        name: os.path.relpath(p, ROOT)
        for p in _python_files(os.path.join(ROOT, "milvus_cdc_spark"))
        for name in _env_reads(p)
    }
    extra = {k: v for k, v in reads.items() if k not in ENGINE_ENV}
    assert not extra, f"env reads beyond {sorted(ENGINE_ENV)}: {extra}"


#: Where a call of an engine function may live.
CALLER_ROOTS = ("milvus_cdc_spark", "scripts", "perfbench", "tests")
CALLER_FILES = ("bench.py", "__spark_entry__.py")


def test_every_engine_function_is_named_elsewhere():
    """A module-level function that no code, script or test names is dead:
    its only mention is its own ``def`` line."""
    from collections import Counter

    paths = [p for top in CALLER_ROOTS for p in _python_files(os.path.join(ROOT, top))]
    paths += [os.path.join(ROOT, f) for f in CALLER_FILES]
    words = Counter()
    for p in paths:
        words.update(re.findall(r"\w+", open(p).read()))
    engine = os.path.join(ROOT, "milvus_cdc_spark")
    unnamed = []
    for p in _python_files(engine):
        lines = open(p).read().splitlines()
        for node in ast.parse("\n".join(lines)).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                own = re.findall(r"\w+", lines[node.lineno - 1]).count(node.name)
                if words[node.name] <= own:
                    unnamed.append(f"{os.path.relpath(p, ROOT)}:{node.name}")
    assert not unnamed, f"functions nothing names: {sorted(unnamed)}"


def _release_call_sites(path: str) -> list:
    """``(module, enclosing function)`` of every call of
    ``cache_registry.release`` in ``path``, under any import alias."""
    tree = ast.parse(open(path).read())
    modules, funcs = set(), set()
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == "milvus_cdc_spark":
            modules |= {a.asname or a.name for a in node.names if a.name == "cache_registry"}
        elif isinstance(node, ast.ImportFrom) and node.module == "milvus_cdc_spark.cache_registry":
            funcs |= {a.asname or a.name for a in node.names if a.name == "release"}
        elif isinstance(node, ast.Import):
            modules |= {
                a.asname for a in node.names
                if a.name == "milvus_cdc_spark.cache_registry" and a.asname
            }
    sites = []

    def visit(node, owner):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, owner or child.name)
                continue
            if isinstance(child, ast.Call):
                f = child.func
                if (isinstance(f, ast.Name) and f.id in funcs) or (
                    isinstance(f, ast.Attribute) and f.attr == "release"
                    and isinstance(f.value, ast.Name) and f.value.id in modules
                ):
                    sites.append((os.path.relpath(path, ROOT), owner))
            visit(child, owner)

    visit(tree, None)
    return sites


def test_one_persist_ledger_released_only_at_dispatch():
    """The engine keeps ONE persist ledger (``cache_registry``) and
    releases it in ONE place: the registry dispatch that ``suite.q``
    stores in ``QuerySpec.fn``. A second ``threading.local()`` or a
    ``CacheRegistry`` would bring back per-family ledgers; a release
    inside an operator or a query would drop frames a caller may still
    be reading."""
    engine = os.path.join(ROOT, "milvus_cdc_spark")
    ledgers, sites = [], []
    for p in _python_files(engine):
        sites += _release_call_sites(p)
        if os.path.basename(p) == "cache_registry.py":
            continue
        for node in ast.walk(ast.parse(open(p).read())):
            name = getattr(node, "id", None) or getattr(node, "attr", None)
            owner = getattr(getattr(node, "value", None), "id", None)
            if (
                name == "CacheRegistry"
                or (name == "local" and owner == "threading")
                or (isinstance(node, ast.ImportFrom) and node.module == "threading"
                    and "local" in {a.name for a in node.names})
            ):
                ledgers.append(f"{os.path.relpath(p, ROOT)}:{node.lineno}")
    assert not ledgers, f"a second ledger: {ledgers}"
    assert sites == [("milvus_cdc_spark/suite.py", "q")], sites


_SCOPES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)


def _unused_imports(path: str) -> list:
    """``path:line name`` of every import that its own scope never names.
    A module-scope import counts as named anywhere in the module; a
    function-scope import only inside that function. A bare ``_ = name``
    discard is not a use. ``from __future__`` and lines marked ``# noqa``
    (imports for effect) are skipped."""
    src = open(path).read()
    lines = src.splitlines()
    tree = ast.parse(src)
    discarded = {
        id(n.value) for n in ast.walk(tree)
        if isinstance(n, ast.Assign) and isinstance(n.value, ast.Name)
        and [getattr(t, "id", None) for t in n.targets] == ["_"]
    }

    def own_imports(node):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.Import, ast.ImportFrom)):
                yield child
            elif not isinstance(child, _SCOPES):
                yield from own_imports(child)

    unused = []
    for scope in [tree] + [n for n in ast.walk(tree) if isinstance(n, _SCOPES)]:
        named = {
            n.id for n in ast.walk(scope)
            if isinstance(n, ast.Name) and id(n) not in discarded
        }
        for imp in own_imports(scope):
            if isinstance(imp, ast.ImportFrom) and imp.module == "__future__":
                continue
            if any("# noqa" in line for line in lines[imp.lineno - 1 : imp.end_lineno]):
                continue
            for a in imp.names:
                bound = a.asname or a.name.split(".")[0]
                if bound != "*" and bound not in named:
                    unused.append(f"{os.path.relpath(path, ROOT)}:{imp.lineno} {bound}")
    return unused


def test_no_unused_imports():
    paths = [
        p for top in ("milvus_cdc_spark", "scripts")
        for p in _python_files(os.path.join(ROOT, top))
    ]
    paths.append(os.path.join(ROOT, "bench.py"))
    unused = [u for p in paths for u in _unused_imports(p)]
    assert not unused, f"imports their scope never names: {unused}"


def _zip_with_folds(path: str) -> dict:
    """``{"l2": [...], "product": [...]}``: ``path:line`` of every
    ``zip_with`` whose lambda is a squared difference,
    ``(a - b) * (a - b)`` (an inline squared-L2 fold), or the bare
    product of its two parameters, ``a * b`` (an inline integer inner
    product; the float dot casts its operands first)."""
    hits = {"l2": [], "product": []}
    for node in ast.walk(ast.parse(open(path).read())):
        f = getattr(node, "func", None)
        if getattr(f, "attr", getattr(f, "id", None)) != "zip_with":
            continue
        for lam in (a for a in node.args if isinstance(a, ast.Lambda)):
            b = lam.body
            if not (isinstance(b, ast.BinOp) and isinstance(b.op, ast.Mult)):
                continue
            where = f"{os.path.relpath(path, ROOT)}:{node.lineno}"
            params = [a.arg for a in lam.args.args]
            if (
                isinstance(b.left, ast.BinOp) and isinstance(b.left.op, ast.Sub)
                and ast.dump(b.left) == ast.dump(b.right)
            ):
                hits["l2"].append(where)
            elif [getattr(b.left, "id", None), getattr(b.right, "id", None)] == params:
                hits["product"].append(where)
    return hits


def test_squared_l2_folded_only_in_vector_functions():
    """Squared L2 and the exact integer inner product are each written
    once in ``functions/vector.py`` (``l2_squared``, ``dot_i64``); every
    other distance calls them, so the fold order (and with it the
    bit-exact match with a serial engine) has one home."""
    vector = os.path.join(ROOT, "milvus_cdc_spark", "functions", "vector.py")
    own = _zip_with_folds(vector)
    assert len(own["l2"]) == 1, "detector lost l2_squared"
    assert len(own["product"]) == 1, "detector lost dot_i64"
    inline = [
        h for p in _python_files(os.path.join(ROOT, "milvus_cdc_spark"))
        if p != vector for hits in _zip_with_folds(p).values() for h in hits
    ]
    assert not inline, f"inline squared-L2 or integer-product folds: {inline}"


def _name(node) -> str | None:
    f = getattr(node, "func", None)
    return getattr(f, "attr", getattr(f, "id", None))


def _is_row_number_over(node) -> bool:
    return (
        _name(node) == "over"
        and isinstance(node.func, ast.Attribute)
        and _name(node.func.value) == "row_number"
    )


#: Hand-written cuts that stay beside ``windows.top_k`` because routing
#: them would change more of the plan than the rank column's name:
#: ``paged_topk``'s two-sided range would have its Filter conjuncts
#: reordered.
_KEPT_CUTS = {"milvus_cdc_spark/analytics/similarity.py:paged_topk"}


def _row_number_cuts(path: str) -> list:
    """``path:line function`` of every ``.filter``/``.where`` that cuts a
    ``row_number()`` column with ``<=``, ``<`` or ``==`` against a bound
    that names no column: a hand-written bounded per-key selection.
    A bound that reads a column (the dedup prefix lengths) is not one,
    nor is a comparison outside a filter (a flag in a ``select``)."""
    rel = os.path.relpath(path, ROOT)
    hits = set()
    for fn in ast.walk(ast.parse(open(path).read())):
        if not isinstance(fn, ast.FunctionDef) or f"{rel}:{fn.name}" in _KEPT_CUTS:
            continue
        ranks, assigned = set(), {}
        for node in ast.walk(fn):
            if isinstance(node, ast.Assign):
                for t in node.targets:
                    if isinstance(t, ast.Name):
                        assigned[t.id] = node.value
            if _name(node) == "withColumn" and len(node.args) == 2:
                if _is_row_number_over(node.args[1]):
                    ranks.add(ast.dump(node.args[0]))
            elif _name(node) == "alias" and node.args:
                if _is_row_number_over(node.func.value):
                    ranks.add(ast.dump(node.args[0]))
        for node in ast.walk(fn):
            if _name(node) not in ("filter", "where"):
                continue
            for cmp in (c for a in node.args for c in ast.walk(a)):
                if not (
                    isinstance(cmp, ast.Compare) and len(cmp.ops) == 1
                    and isinstance(cmp.ops[0], (ast.Lt, ast.LtE, ast.Eq))
                ):
                    continue
                col, bound = cmp.left, cmp.comparators[0]
                if not (
                    _name(col) == "col" and col.args
                    and ast.dump(col.args[0]) in ranks
                ):
                    continue
                parts = [
                    assigned.get(b.id, b) if isinstance(b, ast.Name) else b
                    for b in ast.walk(bound)
                ]
                if not any(
                    _name(b) in ("col", "expr") for p in parts for b in ast.walk(p)
                ):
                    hits.add(f"{rel}:{cmp.lineno} {fn.name}")
    return sorted(hits)


def test_bounded_selection_only_in_windows_top_k():
    """A per-key top-k or top-1 is ``operators/windows.top_k``; every
    other module calls it, so how a bounded selection ranks and cuts
    (``row_number``, ``rank <= k``) has one home."""
    win = os.path.join(ROOT, "milvus_cdc_spark", "operators", "windows.py")
    assert len(_row_number_cuts(win)) == 1, "detector lost top_k's cut"
    inline = [
        h for p in _python_files(os.path.join(ROOT, "milvus_cdc_spark"))
        if p != win for h in _row_number_cuts(p)
    ]
    assert not inline, f"hand-written row_number cuts: {inline}"


def _scratch_sites(path: str) -> list:
    """``path:line owner`` of every ``mkdtemp`` or ``TemporaryDirectory``
    (``owner`` is the enclosing function) and of every module-level
    ``*_STAGE_CACHE`` assignment: disk scratch made or memoized outside
    the one owner."""
    rel = os.path.relpath(path, ROOT)
    tree = ast.parse(open(path).read())
    hits = [
        f"{rel}:{node.lineno} {t.id}"
        for node in tree.body if isinstance(node, (ast.Assign, ast.AnnAssign))
        for t in getattr(node, "targets", [getattr(node, "target", None)])
        if isinstance(t, ast.Name) and t.id.endswith("_STAGE_CACHE")
    ]

    def visit(node, owner):
        for child in ast.iter_child_nodes(node):
            name = getattr(child, "attr", None) or getattr(child, "id", None)
            if name in ("mkdtemp", "TemporaryDirectory"):
                hits.append(f"{rel}:{child.lineno} {owner}")
            is_def = isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef))
            visit(child, child.name if is_def else owner)

    visit(tree, None)
    return hits


def test_disk_scratch_only_in_catalog():
    """Every staged fixture and per-call work dir of the engine lives
    under the one process root that ``catalog.scratch_dir`` and
    ``catalog.staged`` own and remove at exit; a ``mkdtemp`` elsewhere
    would leak, and a module-level stage memo would be a second owner."""
    sites = [
        h for p in _python_files(os.path.join(ROOT, "milvus_cdc_spark"))
        for h in _scratch_sites(p)
    ]
    catalog = [h for h in sites if h.startswith("milvus_cdc_spark/catalog.py:")]
    assert [h for h in sites if h not in catalog] == [], "scratch outside catalog"
    assert [h.split(" ")[1] for h in catalog] == ["_scratch_root"], catalog


#: Functions that may write a replay-shaped term outside
#: ``operators/apply.py``, each with its reason.
_OWN_RULES = {
    "milvus_cdc_spark/control/msgcount.py:count_messages":
        "counts delete rows per vchannel; it replays nothing",
    "milvus_cdc_spark/suite_eval.py:delete_by_expr_replay":
        "its own rule: strict 'insert' only, and a delete wins ties",
}


def _is_delete_eq(node) -> bool:
    return (
        isinstance(node, ast.Compare) and isinstance(node.ops[0], ast.Eq)
        and any(
            isinstance(x, ast.Constant) and x.value == "delete"
            for x in [node.left, *node.comparators]
        )
    )


def _replay_rule_sites(path: str) -> list:
    """``path:line function`` of every hand-written piece of the per-pk
    replay rule: a ``when(<op_type == "delete">, col(..))`` delete term,
    an alive predicate ``ld.isNull() | (li >= ld)``, or a drop cut
    ``li >= greatest(coalesce(..), ..)``. Local names are followed to what
    they were assigned, so ``is_del = .. == "delete"; when(is_del, ..)``
    counts."""
    rel = os.path.relpath(path, ROOT)
    tree = ast.parse(open(path).read())
    hits = {}
    for fn in [tree] + [n for n in ast.walk(tree) if isinstance(n, _SCOPES)]:
        assigned = {}
        for node in ast.walk(fn):
            if isinstance(node, ast.Assign):
                for t in node.targets:
                    if isinstance(t, ast.Name):
                        assigned.setdefault(t.id, []).append(node.value)

        def resolved(node):
            out, todo, names = [], [node], set()
            while todo:
                for n in ast.walk(todo.pop()):
                    out.append(n)
                    if isinstance(n, ast.Name) and n.id not in names:
                        names.add(n.id)
                        todo += assigned.get(n.id, [])
            return out

        for node in ast.walk(fn):
            if _name(node) == "when" and len(node.args) == 2:
                hit = _name(node.args[1]) == "col" and any(
                    _is_delete_eq(n) for n in resolved(node.args[0])
                )
            elif isinstance(node, ast.BinOp) and isinstance(node.op, ast.BitOr):
                left, right = node.left, node.right
                hit = (
                    _name(left) == "isNull" and isinstance(right, ast.Compare)
                    and isinstance(right.ops[0], ast.GtE)
                    and ast.dump(right.comparators[0]) == ast.dump(left.func.value)
                )
            elif isinstance(node, ast.Compare) and isinstance(node.ops[0], ast.GtE):
                cut = node.comparators[0]
                cuts = assigned.get(cut.id, []) if isinstance(cut, ast.Name) else [cut]
                hit = any(
                    _name(c) == "greatest"
                    and all(_name(a) == "coalesce" for a in c.args)
                    for c in cuts
                )
            else:
                hit = False
            if hit:
                hits[node.lineno] = getattr(fn, "name", "<module>")
    return [f"{rel}:{line} {name}" for line, name in sorted(hits.items())]


def test_replay_rule_only_in_apply():
    """The per-pk replay rule — the terms one op adds to its pk's state,
    the alive predicate and the drop cutoff — is written once, in
    ``operators/apply.py``; the batch replays, the streaming state and
    alive() read, the consistency reads and data_diff call it, so the
    incremental and the batch answer agree by construction."""
    apply = os.path.join(ROOT, "milvus_cdc_spark", "operators", "apply.py")
    kernel = [h.split(" ")[1] for h in _replay_rule_sites(apply)]
    assert kernel == ["replay_terms", "is_alive", "drop_cutoff"], kernel
    paths = [
        p for top in ("milvus_cdc_spark", "scripts")
        for p in _python_files(os.path.join(ROOT, top)) if p != apply
    ]
    sites = [h for p in paths for h in _replay_rule_sites(p)]
    inline = [
        h for h in sites
        if f"{h.split(':')[0]}:{h.split(' ')[1]}" not in _OWN_RULES
    ]
    assert not inline, f"replay rule written outside operators/apply.py: {inline}"


_SIM = "milvus_cdc_spark/analytics/similarity.py"


def _is_col(node, name_re: str) -> bool:
    return (
        _name(node) == "col" and len(node.args) == 1
        and isinstance(node.args[0], ast.Constant)
        and isinstance(node.args[0].value, str)
        and re.fullmatch(name_re, node.args[0].value) is not None
    )


def _search_rule_sites(path: str) -> list:
    """``path:line function`` of every ``<col> != col("query_id")``
    self-exclusion and of every ``count(col("<alias>.neighbor_id"))``
    recall block."""
    rel = os.path.relpath(path, ROOT)
    hits = {}
    for fn in ast.walk(ast.parse(open(path).read())):
        if not isinstance(fn, ast.FunctionDef):
            continue
        for node in ast.walk(fn):
            if (
                isinstance(node, ast.Compare) and len(node.ops) == 1
                and isinstance(node.ops[0], ast.NotEq)
                and any(_is_col(x, "query_id") for x in (node.left, *node.comparators))
            ) or (
                _name(node) == "count" and node.args
                and _is_col(node.args[0], r"\w+\.neighbor_id")
            ):
                hits.setdefault(node.lineno, fn.name)
    return [f"{rel}:{line} {name}" for line, name in sorted(hits.items())]


def test_search_pairing_and_recall_only_in_similarity():
    """Every query x corpus pairing drops the query's own row in ONE
    place, ``similarity.search_pairs``, and every recall@k is ONE rule,
    ``similarity.recall_at_k``: a new scorer or recall query calls them
    instead of pasting the ``!= query_id`` filter or the left-join count.
    (``superstructure_search`` pairs by hand but writes no self-exclusion:
    each query must match its own stored row at distance 0.) The two
    kernels must still be found, so the guard cannot go stale."""
    allowed = {f"{_SIM}:search_pairs", f"{_SIM}:recall_at_k"}
    owners = {
        h: f"{h.split(':')[0]}:{h.split(' ')[1]}"
        for p in _python_files(os.path.join(ROOT, "milvus_cdc_spark"))
        for h in _search_rule_sites(p)
    }
    assert allowed <= set(owners.values()), allowed - set(owners.values())
    inline = [h for h, owner in owners.items() if owner not in allowed]
    assert not inline, f"pairings or recall blocks outside similarity.py: {inline}"
