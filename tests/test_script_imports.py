"""Every package name a script imports must exist, and every script the
docs name must exist.

The scripts, the bench entry points, the benchmark harness and
``__spark_entry__.py`` are not imported by any other test, so a package
name deleted or renamed under them would only surface when someone runs
the script.  This parses each file (no Spark session) and resolves every
``from spellchecker_wasm_spark… import name`` and
``import spellchecker_wasm_spark…`` against the package.  A deleted
script would likewise only surface when someone follows a doc that still
names it, so every ``scripts/<name>.py`` and ``perfbench/<name>.py`` path
in the README and the verify recipe must exist.
"""

import ast
import importlib
import importlib.util
import re
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "spellchecker_wasm_spark"
FILES = sorted([*ROOT.glob("scripts/*.py"), *ROOT.glob("bench*.py"),
                *ROOT.glob("perfbench/*.py"), ROOT / "__spark_entry__.py"])


def _package_imports(path: Path):
    """(line, module, name) for each package import in ``path``; name is
    None for a plain ``import module``."""
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.ImportFrom) and node.level == 0 \
                and (node.module or "").split(".")[0] == PACKAGE:
            for alias in node.names:
                yield node.lineno, node.module, alias.name
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == PACKAGE:
                    yield node.lineno, alias.name, None


def _resolves(module: str, name: str | None) -> bool:
    if importlib.util.find_spec(module) is None:
        return False
    if name is None or name == "*":
        return True
    return (hasattr(importlib.import_module(module), name)
            or importlib.util.find_spec(f"{module}.{name}") is not None)


@pytest.mark.parametrize("path", FILES,
                         ids=lambda p: str(p.relative_to(ROOT)))
def test_script_package_imports_resolve(path):
    missing = [f"{path.name}:{line}: {module}" + (f".{name}" if name else "")
               for line, module, name in _package_imports(path)
               if not _resolves(module, name)]
    assert not missing, missing


DOCS = [ROOT / "README.md", *sorted(ROOT.glob(".*/skills/*/SKILL.md"))]
_SCRIPT_PATH = re.compile(r"\b(?:scripts|perfbench)/\w+\.py\b")


@pytest.mark.parametrize("doc", DOCS, ids=lambda p: str(p.relative_to(ROOT)))
def test_documented_scripts_exist(doc):
    missing = sorted({m for m in _SCRIPT_PATH.findall(doc.read_text())
                      if not (ROOT / m).exists()})
    assert not missing, f"{doc.name} names missing scripts: {missing}"
