"""Environment settings are read in one place: ``session.py``.

A module that reads ``os.environ`` (or ``os.getenv``) on its own adds a
setting no caller can see in the session builder and no test pins; this
parses every package module (no Spark session) and allows such reads
only in ``spellchecker_wasm_spark/session.py``.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "spellchecker_wasm_spark"


def _env_reads(path: Path):
    """Line numbers of ``os.environ``/``os.getenv``/``os.putenv``
    references in ``path``, however ``os`` was imported."""
    tree = ast.parse(path.read_text(), str(path))
    os_names = {"os"}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            os_names |= {a.asname or a.name for a in node.names
                         if a.name == "os"}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == "os" \
                and any(a.name in ("environ", "getenv", "putenv")
                        for a in node.names):
            yield node.lineno
        elif isinstance(node, ast.Attribute) \
                and node.attr in ("environ", "getenv", "putenv") \
                and isinstance(node.value, ast.Name) \
                and node.value.id in os_names:
            yield node.lineno


def test_only_session_reads_the_environment():
    found = [f"{p.relative_to(ROOT)}:{line}"
             for p in sorted(PACKAGE.rglob("*.py"))
             if p != PACKAGE / "session.py"
             for line in _env_reads(p)]
    assert not found, found


def test_env_read_detector_sees_aliased_imports(tmp_path):
    src = tmp_path / "m.py"
    src.write_text("import os as _os\nfrom os import getenv\n"
                   "x = _os.environ.get('K')\n")
    assert sorted(_env_reads(src)) == [2, 3]
