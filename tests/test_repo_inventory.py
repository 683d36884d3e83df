"""Repo inventory: every script is documented and compiles, the docs name
only scripts that exist, and the engine reads only its documented env vars.

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
#: ``PYTHONPATH`` is edited so Python workers find the protobuf shim.
ENGINE_ENV = {
    "SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY", "SPARK_GRAFT_EXTRA_CONF",
    "PYTHONPATH",
}


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
        if os.path.relpath(p, engine).split(os.sep)[0] == "vendor":
            continue
        lines = open(p).read().splitlines()
        for node in ast.parse("\n".join(lines)).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                own = re.findall(r"\w+", lines[node.lineno - 1]).count(node.name)
                if words[node.name] <= own:
                    unnamed.append(f"{os.path.relpath(p, ROOT)}:{node.name}")
    assert not unnamed, f"functions nothing names: {sorted(unnamed)}"
