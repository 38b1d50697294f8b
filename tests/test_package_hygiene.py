"""Spark-free checks on the package as a whole: no module reaches into
another module's private names, every ``module.name`` a caller uses
exists, the nearest-centroid rule has one home, and integer env knobs
fail by name."""

import ast
import importlib
from pathlib import Path

import pytest

from readwise_vector_db_spark.session import env_int

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "readwise_vector_db_spark"


def test_no_cross_module_private_imports():
    """A ``from readwise_vector_db_spark.… import _name`` couples a module
    to another's internals; a name used across modules is public."""
    found = []
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(node, ast.ImportFrom):
                continue
            if node.level == 0 and not (node.module or "").startswith(
                "readwise_vector_db_spark"
            ):
                continue
            for alias in node.names:
                if alias.name.startswith("_") and not alias.name.startswith("__"):
                    found.append(
                        f"{path.relative_to(PACKAGE.parent)}:{node.lineno} "
                        f"{node.module}.{alias.name}"
                    )
    assert found == []


def test_env_int(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_TEST_KNOB", raising=False)
    assert env_int("SPARK_GRAFT_TEST_KNOB", 7) == 7
    monkeypatch.setenv("SPARK_GRAFT_TEST_KNOB", "")
    assert env_int("SPARK_GRAFT_TEST_KNOB", 7) == 7
    monkeypatch.setenv("SPARK_GRAFT_TEST_KNOB", " 42 ")
    assert env_int("SPARK_GRAFT_TEST_KNOB", 7) == 42
    monkeypatch.setenv("SPARK_GRAFT_TEST_KNOB", "4k")
    with pytest.raises(ValueError, match="SPARK_GRAFT_TEST_KNOB='4k'"):
        env_int("SPARK_GRAFT_TEST_KNOB", 7)


def test_argmin_only_in_quantizer():
    """Which centroid is nearest is decided in ``operators/quantizer.py``
    alone; an ``argmin`` call anywhere else in the package is a hand copy
    of that rule, free to drift in dtype or tie-break."""
    home = PACKAGE / "operators" / "quantizer.py"
    found = []
    for path in sorted(PACKAGE.rglob("*.py")):
        if path == home:
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")
                if name == "argmin":
                    found.append(f"{path.relative_to(ROOT)}:{node.lineno}")
    assert found == []


def _package_module(name: str):
    try:
        return importlib.import_module(name)
    except ImportError:
        return None  # a function or constant, not a module


def test_module_attributes_exist():
    """Every ``<module>.<name>`` read through a package module bound by an
    import (``from readwise_vector_db_spark.operators import pq``) names
    something the module defines, so a caller left using a name that
    moved to another module fails here, not at run time."""
    files = [
        *PACKAGE.rglob("*.py"),
        *(ROOT / "tests").glob("*.py"),
        *(ROOT / "tools").glob("*.py"),
        *(ROOT / "perfbench").glob("*.py"),
        ROOT / "bench.py",
        ROOT / "__spark_entry__.py",
    ]
    missing = []
    for path in sorted(files):
        tree = ast.parse(path.read_text(), str(path))
        modules, others = {}, set()
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom):
                pkg = node.module or ""
                for a in node.names:
                    bound = a.asname or a.name
                    mod = None
                    if node.level == 0 and pkg.startswith("readwise_vector_db_spark"):
                        mod = _package_module(f"{pkg}.{a.name}")
                    if mod is None:
                        others.add(bound)
                    else:
                        modules[bound] = mod
            elif isinstance(node, ast.Import):
                for a in node.names:
                    others.add(a.asname or a.name.split(".")[0])
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Attribute)
                and isinstance(node.ctx, ast.Load)
                and isinstance(node.value, ast.Name)
                and node.value.id in modules
                and node.value.id not in others
                and not hasattr(modules[node.value.id], node.attr)
            ):
                missing.append(
                    f"{path.relative_to(ROOT)}:{node.lineno} "
                    f"{modules[node.value.id].__name__}.{node.attr}"
                )
    assert missing == []
