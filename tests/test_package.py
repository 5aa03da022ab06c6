"""The spark-submit --py-files zip imports and loads its package data.

zipimport has no filesystem paths, so package data must load through
importlib.resources; a filesystem pytest run can never see a break there.
No Spark session is needed: the probe only imports and reads data.
"""

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
