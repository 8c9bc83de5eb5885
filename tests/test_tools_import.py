"""Every script under tools/ still imports.

Each tool keeps its Spark work behind a ``__main__`` guard, so importing
it only resolves its imports. Deleting or renaming a package helper that
a kept tool uses then fails here instead of at the tool's next run.
"""

from __future__ import annotations

import importlib.util
from pathlib import Path

import pytest

TOOLS = sorted((Path(__file__).resolve().parents[1] / "tools").glob("*.py"))


def test_tools_directory_is_not_empty():
    assert TOOLS


@pytest.mark.parametrize("path", TOOLS, ids=[p.stem for p in TOOLS])
def test_tool_imports(path):
    spec = importlib.util.spec_from_file_location(f"tools_{path.stem}", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    assert callable(getattr(module, "main", None))
