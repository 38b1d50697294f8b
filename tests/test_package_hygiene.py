"""Spark-free checks on the package as a whole: no module reaches into
another module's private names, and integer env knobs fail by name."""

import ast
import os
import subprocess
import sys
from pathlib import Path

import pytest

from readwise_vector_db_spark.session import env_int

PACKAGE = Path(__file__).resolve().parent.parent / "readwise_vector_db_spark"


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


def test_bad_knob_named_at_import():
    """A malformed knob read at import time names itself in the error
    instead of breaking the import with an anonymous ``int()`` error."""
    env = dict(os.environ, SPARK_GRAFT_ISIN_PUSHDOWN_MAX_IDS="many")
    proc = subprocess.run(
        [sys.executable, "-c", "import readwise_vector_db_spark.operators.pq"],
        cwd=PACKAGE.parent, env=env, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert "SPARK_GRAFT_ISIN_PUSHDOWN_MAX_IDS='many'" in proc.stderr
