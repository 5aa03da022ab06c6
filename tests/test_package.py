"""The spark-submit --py-files zip imports and loads its package data,
every library module is reachable from an entry point, and only
session.get_spark builds a SparkSession.

zipimport has no filesystem paths, so package data must load through
importlib.resources; a filesystem pytest run can never see a break there.
No Spark session is needed: the probe only imports and reads data, and the
other checks only parse source.
"""

import ast
import importlib.util
import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

PROBE = """
import sys
sys.path.insert(0, sys.argv[1])
import trident_spark
assert trident_spark.__file__.startswith(sys.argv[1]), trident_spark.__file__
import trident_spark.pipeline
import trident_spark.query.sparql
import trident_spark.functions.iri_funcs
import trident_spark.functions.langtag_funcs
from trident_spark.kernels.langtag import load_registry
assert load_registry()
"""


def test_zip_imports_kg_modules_and_registry(tmp_path):
    spec = importlib.util.spec_from_file_location(
        "package", REPO / "scripts" / "package.py")
    package = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(package)
    package.main()
    zip_path = REPO / "dist" / "trident_spark.zip"
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", PROBE, str(zip_path)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr


# What runs the library: the driver's query registry, the spark-submit
# scripts, the benchmark (its own unit tests excluded) and the user-facing
# Graph API, which users import directly (README layout).
ENTRY_POINTS = [
    REPO / "__spark_entry__.py",
    REPO / "trident_spark" / "graph.py",
    *sorted((REPO / "scripts").glob("*.py")),
    *sorted(p for p in (REPO / "kgbench").glob("*.py")
            if p.name != "test_harness.py"),
]


def _module_file(name: str, root: Path) -> Path | None:
    base = root.joinpath(*name.split("."))
    for path in (base.with_suffix(".py"), base / "__init__.py"):
        if path.is_file():
            return path
    return None


def _imported_files(path: Path) -> set[Path]:
    """Repo files that `path` imports, at module level or inside functions.

    Importing a submodule also runs each parent package's __init__.py.  A
    script (a file outside any package) also imports its siblings, since
    its directory is on sys.path when it runs."""
    in_package = (path.parent / "__init__.py").is_file()
    roots = (REPO,) if in_package else (REPO, path.parent)
    names = []
    for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
        if isinstance(node, ast.Import):
            names += [alias.name for alias in node.names]
        elif isinstance(node, ast.ImportFrom):
            module = node.module or ""
            if node.level:
                package = path.parents[node.level - 1].relative_to(REPO)
                module = ".".join([*package.parts, *filter(None, [module])])
            # `from pkg import name` imports pkg, and pkg.name if a module
            names += [module, *(f"{module}.{a.name}" for a in node.names)]
    found = set()
    for name in names:
        parts = name.split(".")
        for i in range(1, len(parts) + 1):
            for root in roots:
                hit = _module_file(".".join(parts[:i]), root)
                if hit is not None:
                    found.add(hit)
    return found


def test_every_library_module_is_reachable_from_an_entry_point():
    reached, todo = set(), list(ENTRY_POINTS)
    while todo:
        path = todo.pop()
        if path not in reached:
            reached.add(path)
            todo += _imported_files(path)
    library = set((REPO / "trident_spark").rglob("*.py"))
    dead = sorted(str(p.relative_to(REPO)) for p in library - reached)
    assert not dead, f"modules no entry point imports: {dead}"


def test_query_modules_take_term_ids_from_kg_term_id():
    """One term-id space: no module under trident_spark/query/ hashes a
    term itself (a call to xxhash64, or SQL text calling it); term ids
    come only from kg.term_id."""
    for path in sorted((REPO / "trident_spark" / "query").rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if isinstance(node, ast.Call):
                fn = node.func
                name = fn.attr if isinstance(fn, ast.Attribute) else \
                    getattr(fn, "id", None)
                assert name != "xxhash64", f"{path}:{node.lineno}"
            elif isinstance(node, ast.Constant) \
                    and isinstance(node.value, str):
                assert "xxhash64(" not in node.value.lower(), \
                    f"{path}:{node.lineno}"


def test_only_session_module_builds_a_spark_session():
    """Every entry point gets its session from session.get_spark, so each
    gets the session-wide static settings (the codegen cache size among
    them): no other module references SparkSession.builder."""
    files = [REPO / "__spark_entry__.py",
             *(p for d in ("trident_spark", "scripts", "tests", "kgbench")
               for p in (REPO / d).rglob("*.py"))]
    allowed = REPO / "trident_spark" / "session.py"
    for path in sorted(set(files) - {allowed}):
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if isinstance(node, ast.Attribute) and node.attr == "builder":
                base = node.value
                name = base.attr if isinstance(base, ast.Attribute) else \
                    getattr(base, "id", None)
                assert name != "SparkSession", f"{path}:{node.lineno}"


def test_query_modules_never_decode_the_graph():
    """No module under trident_spark/query/ references kg.decode_triples:
    every query element reads the edge ids and the term dictionary."""
    for path in sorted((REPO / "trident_spark" / "query").rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            name = (node.attr if isinstance(node, ast.Attribute)
                    else node.id if isinstance(node, ast.Name)
                    else node.name if isinstance(node, ast.alias) else None)
            assert name != "decode_triples", f"{path}:{node.lineno}"
