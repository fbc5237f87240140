"""Every tools/*.py module imports cleanly (each guards its work under
``__main__``), so a deleted module another tool still imports fails
here rather than at the next hand-run."""

from __future__ import annotations

import importlib
import pathlib

import pytest

TOOLS = sorted(
    p.stem
    for p in (pathlib.Path(__file__).resolve().parent.parent / "tools").glob("*.py")
    if p.stem != "__init__"
)


@pytest.mark.parametrize("name", TOOLS)
def test_tool_imports(name):
    importlib.import_module(f"tools.{name}")
