"""Every name a top-level script imports from ``mel_spark`` still exists.

The bench, tool, job and contract scripts are not imported by any other test,
so deleting an operator or option they use would otherwise surface only when
someone runs the script. This parses each script with ``ast`` (imports nested
in functions included, since most scripts import lazily) and checks each
``from mel_spark.… import name`` against the imported module. No SparkSession.
"""

import ast
import glob
import importlib
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = sorted(
    os.path.relpath(p, ROOT)
    for pattern in ("bench*.py", "tools/*.py", "jobs/*.py", "perfbench/*.py",
                    "__spark_entry__.py")
    for p in glob.glob(os.path.join(ROOT, pattern))
)


def _mel_spark_imports(path: str) -> list[tuple[int, str, str | None]]:
    """(line, module, name) for every mel_spark import in the file; name is
    None for a plain ``import mel_spark.x``."""
    with open(os.path.join(ROOT, path)) as f:
        tree = ast.parse(f.read(), filename=path)
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and node.module and (
            node.module == "mel_spark" or node.module.startswith("mel_spark.")
        ):
            out.extend((node.lineno, node.module, a.name) for a in node.names)
        elif isinstance(node, ast.Import):
            out.extend(
                (node.lineno, a.name, None) for a in node.names
                if a.name == "mel_spark" or a.name.startswith("mel_spark.")
            )
    return out


def test_scripts_found():
    assert "__spark_entry__.py" in SCRIPTS
    assert any(s.startswith("jobs/") for s in SCRIPTS)


@pytest.mark.parametrize("script", SCRIPTS)
def test_script_imports_resolve(script):
    missing = []
    for line, module, name in _mel_spark_imports(script):
        mod = importlib.import_module(module)
        if name is None or name == "*" or hasattr(mod, name):
            continue
        try:  # a submodule not yet bound on its package
            importlib.import_module(f"{module}.{name}")
        except ModuleNotFoundError:
            missing.append(f"{script}:{line}: {module}.{name}")
    assert not missing, "scripts import names mel_spark no longer has:\n" + "\n".join(missing)
