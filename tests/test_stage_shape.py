"""Every Python stage in ``ocr_spark`` has one shape: ``mapInPandas``,
started by ``udfs.map_batches`` or, for its per-task lineage, by the
extraction job. The scan is syntactic over every tracked
``ocr_spark/*.py``:

- no name or attribute ``pandas_udf`` (a call, a decorator or an
  import of it);
- a ``.mapInPandas(`` call only inside ``udfs.map_batches`` and
  ``job.run_extraction``.
"""

from __future__ import annotations

import ast
import subprocess
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

MAP_IN_PANDAS_CALLERS = {
    ("ocr_spark/udfs.py", "map_batches"),
    ("ocr_spark/job.py", "run_extraction"),
}


def stage_shape_violations(root: Path = ROOT) -> list[str]:
    """``file:line what`` for each ``pandas_udf`` use and each
    ``.mapInPandas(`` call outside ``MAP_IN_PANDAS_CALLERS``."""
    files = subprocess.run(
        ["git", "ls-files", "ocr_spark/*.py"], cwd=root,
        capture_output=True, text=True, check=True,
    ).stdout.split()
    found: list[str] = []
    for f in files:
        tree = ast.parse((root / f).read_text(), f)
        top = {}  # node -> name of its enclosing module-level function
        for fn in tree.body:
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for node in ast.walk(fn):
                    top[node] = fn.name
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Name) and node.id == "pandas_udf"
                or isinstance(node, ast.Attribute) and node.attr == "pandas_udf"
                or isinstance(node, ast.alias) and node.name == "pandas_udf"
            ):
                found.append(f"{f}:{node.lineno} pandas_udf")
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "mapInPandas"
                and (f, top.get(node)) not in MAP_IN_PANDAS_CALLERS
            ):
                found.append(f"{f}:{node.lineno} mapInPandas in {top.get(node)}")
    return found


def test_one_python_stage_shape_in_the_source():
    assert stage_shape_violations() == []


def test_scan_flags_a_scalar_udf_and_a_stray_map(tmp_path):
    """The scan itself: a scratch repo with one of each violation."""
    pkg = tmp_path / "ocr_spark"
    pkg.mkdir()
    (pkg / "udfs.py").write_text(
        "def map_batches(df, fn, schema):\n"
        "    return df.mapInPandas(fn, schema)\n"
    )
    (pkg / "ops.py").write_text(
        "from pyspark.sql.functions import pandas_udf\n"
        "\n"
        "@pandas_udf('int')\n"
        "def f(s):\n"
        "    return s\n"
        "\n"
        "def g(df):\n"
        "    return df.mapInPandas(f, 'x int')\n"
    )
    subprocess.run(["git", "init", "-q"], cwd=tmp_path, check=True)
    subprocess.run(["git", "add", "."], cwd=tmp_path, check=True)
    assert stage_shape_violations(tmp_path) == [
        "ocr_spark/ops.py:1 pandas_udf",
        "ocr_spark/ops.py:3 pandas_udf",
        "ocr_spark/ops.py:8 mapInPandas in g",
    ]
