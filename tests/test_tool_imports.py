"""The scripts under ``tools/`` and ``examples/`` import only package names
that exist.

No test runs those scripts, so retiring or renaming a public name would
break them silently.  This parses each script with ``ast`` and resolves
every ``from label_maker_dask_spark... import name`` (and every plain
``import label_maker_dask_spark...``) against the package; it needs no
Spark session.
"""

import ast
import importlib
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = "label_maker_dask_spark"


def _package_imports(path: pathlib.Path):
    """(line, module, name) for each package import in ``path``; name is
    None for a plain ``import module``."""
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.ImportFrom) and node.level == 0:
            if (node.module or "").split(".")[0] == PACKAGE:
                for alias in node.names:
                    yield node.lineno, node.module, alias.name
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == PACKAGE:
                    yield node.lineno, alias.name, None


def _resolves(module: str, name) -> bool:
    try:
        mod = importlib.import_module(module)
    except ImportError:
        return False
    if name is None or hasattr(mod, name):
        return True
    try:  # ``from package import submodule``
        importlib.import_module(f"{module}.{name}")
    except ImportError:
        return False
    return True


def test_tools_and_examples_import_existing_package_names():
    scripts = sorted(ROOT.glob("tools/*.py")) + sorted(
        ROOT.glob("examples/*.py")
    )
    assert scripts
    checked, missing = 0, []
    for script in scripts:
        for line, module, name in _package_imports(script):
            checked += 1
            if not _resolves(module, name):
                where = f"{script.relative_to(ROOT)}:{line}"
                missing.append(f"{where} {module} {name or ''}".rstrip())
    assert checked > 0
    assert not missing, "unresolved package imports:\n" + "\n".join(missing)
