"""Every module of the package is imported by code that ships: the
package itself, tools/, perfbench/, __spark_entry__.py or bench.py. A
module only tests import is dead code with a test suite."""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = "ocr_processing_pipeline_spark"


def _module_name(path: pathlib.Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _imported(path: pathlib.Path) -> set[str]:
    """Dotted names a file imports, relative imports resolved; for
    ``from X import y`` both X and X.y (y may be a module)."""
    # the package a relative import in this file starts from
    own = path.relative_to(ROOT).with_suffix("").parts[:-1]
    names = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = (list(own[:len(own) - node.level + 1])
                    if node.level else [])
            if node.module:
                base += node.module.split(".")
            names.add(".".join(base))
            names.update(".".join([*base, a.name]) for a in node.names)
    return names


def test_every_module_has_a_non_test_importer():
    modules = {_module_name(p) for p in (ROOT / PACKAGE).rglob("*.py")
               if p.name != "__init__.py"}
    importers = [*(ROOT / PACKAGE).rglob("*.py"),
                 *(ROOT / "tools").glob("*.py"),
                 *(p for p in (ROOT / "perfbench").glob("*.py")
                   if not p.name.startswith("test_")),
                 ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    used = set()
    for path in importers:
        used |= _imported(path) - {_module_name(path)}
    assert sorted(modules - used) == []
