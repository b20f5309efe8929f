"""The scripts under tools/ run outside the test suite, so a package
name they import can be deleted without any test noticing. Scan every
`from etl_pipeline_mini_project_01_spark... import X` in tools/*.py -
function-local imports included - and check that each X still
resolves."""

from __future__ import annotations

import ast
import glob
import importlib
import os

PKG = "etl_pipeline_mini_project_01_spark"
TOOLS = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools")


def _package_imports() -> list[tuple[str, int, str, str]]:
    """(tool file, line, module, name) for every package from-import."""
    found = []
    for path in sorted(glob.glob(os.path.join(TOOLS, "*.py"))):
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), filename=path)
        for node in ast.walk(tree):
            if (isinstance(node, ast.ImportFrom) and node.level == 0
                    and node.module
                    and node.module.split(".")[0] == PKG):
                found += [(os.path.basename(path), node.lineno,
                           node.module, alias.name)
                          for alias in node.names]
    return found


def _resolves(module: str, name: str) -> bool:
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return True
    try:  # `from pkg import submodule`
        importlib.import_module(f"{module}.{name}")
        return True
    except ModuleNotFoundError:
        return False


def test_tools_import_only_existing_package_names():
    imports = _package_imports()
    assert imports, "the scan found no package imports under tools/"
    missing = [f"{tool}:{line} from {module} import {name}"
               for tool, line, module, name in imports
               if not _resolves(module, name)]
    assert not missing, missing
