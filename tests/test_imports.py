"""Dangling-import guard: every ``schema_fantasy_spark`` import in the
repo's Python files resolves, including the function-local imports that
most entry-module queries use, and every entry-module query has an
oracle. Parses with ``ast`` and imports engine modules only; starts no
Spark session."""

import ast
import importlib
import importlib.util
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "schema_fantasy_spark"
SCANNED = [PKG, "jobs", "tools", "perfbench", "tests"]


def _py_files():
    yield os.path.join(ROOT, "__spark_entry__.py")
    for top in SCANNED:
        for d, _, names in os.walk(os.path.join(ROOT, top)):
            yield from (os.path.join(d, n) for n in sorted(names) if n.endswith(".py"))


def _package_of(path):
    """Dotted package a file's relative imports resolve against."""
    rel = os.path.relpath(os.path.dirname(path), ROOT)
    return rel.replace(os.sep, ".")


def _resolves(module, name=None):
    """``import module`` (name None) or ``from module import name`` works."""
    try:
        spec = importlib.util.find_spec(module)
    except ModuleNotFoundError:  # a parent package is missing
        return False
    if spec is None:
        return False
    if name is None or name == "*":
        return True
    if spec.submodule_search_locations is not None and (
        importlib.util.find_spec(f"{module}.{name}") is not None
    ):
        return True
    return hasattr(importlib.import_module(module), name)


def package_imports(source, package):
    """(lineno, module, name) for each schema_fantasy_spark import in
    ``source``, at any nesting depth; relative imports resolve against
    ``package``."""
    found = []
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Import):
            found += [(node.lineno, a.name, None) for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            module = node.module or ""
            if node.level:
                base = package.split(".")[: len(package.split(".")) - node.level + 1]
                module = ".".join(base + ([module] if module else []))
            found += [(node.lineno, module, a.name) for a in node.names]
    return [f for f in found if f[1] == PKG or f[1].startswith(PKG + ".")]


def test_guard_flags_a_dangling_import():
    src = "def q():\n    from schema_fantasy_spark.ops import no_such_module\n"
    ((lineno, module, name),) = package_imports(src, "")
    assert (lineno, module, name) == (2, f"{PKG}.ops", "no_such_module")
    assert not _resolves(module, name)
    assert _resolves(f"{PKG}.sources", "pages")


def test_every_package_import_resolves():
    files = list(_py_files())
    assert len(files) > 50
    dangling = []
    for path in files:
        with open(path, encoding="utf-8") as f:
            src = f.read()
        for lineno, module, name in package_imports(src, _package_of(path)):
            if not _resolves(module, name):
                target = module if name is None else f"{module} import {name}"
                dangling.append(f"{os.path.relpath(path, ROOT)}:{lineno}: {target}")
    assert not dangling, "\n".join(dangling)


def test_every_query_has_an_oracle(monkeypatch):
    monkeypatch.syspath_prepend(ROOT)
    entry = importlib.import_module("__spark_entry__")
    assert set(entry.queries()) == set(entry.oracle_sql())


def test_pyfiles_zip_imports_alone(tmp_path):
    """``tools/make_pyfiles.sh`` builds the ``--py-files`` artifact, and the
    modules a spark-submit job reaches import from that zip alone."""
    subprocess.run([os.path.join(ROOT, "tools", "make_pyfiles.sh")], check=True,
                   capture_output=True)
    env = {**os.environ, "PYTHONPATH": os.path.join(ROOT, "dist", f"{PKG}.zip")}
    modules = ["engine", "manifest", "suite", "sources.iceberg",
               "sources.iceberg_lite", "compiler.http"]
    probe = (
        "import importlib, sys\n"
        f"for m in {modules!r}:\n"
        f"    importlib.import_module('{PKG}.' + m)\n"
        f"print(sys.modules['{PKG}'].__file__)\n"
    )
    out = subprocess.run([sys.executable, "-c", probe], cwd=tmp_path, env=env,
                         check=True, capture_output=True, text=True).stdout
    assert out.strip() == os.path.join(env["PYTHONPATH"], PKG, "__init__.py")
    job = subprocess.run([sys.executable, os.path.join(ROOT, "jobs", "validate_job.py"),
                          "--help"], cwd=tmp_path, env=env, capture_output=True, text=True)
    assert job.returncode == 0 and "--schema-file" in job.stdout, job.stderr
