"""Every ``from osm_addr_tools_spark… import name`` in the package, tools,
tests and bench.py must resolve — function-local (lazy) imports included,
which otherwise fail only when their function is first called."""

import ast
import importlib
import importlib.util
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "osm_addr_tools_spark"


def _sources():
    for d in (PKG, "tools", "tests"):
        yield from sorted((ROOT / d).rglob("*.py"))
    yield ROOT / "bench.py"


def _engine_imports(path: Path):
    """(lineno, module, name or None) for every engine import in ``path``."""
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
            if node.module == PKG or node.module.startswith(PKG + "."):
                for alias in node.names:
                    yield node.lineno, node.module, alias.name
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name == PKG or alias.name.startswith(PKG + "."):
                    yield node.lineno, alias.name, None


def _resolves(module: str, name: str | None) -> bool:
    try:
        mod = importlib.import_module(module)
    except ImportError:
        return False
    if name is None or name == "*" or hasattr(mod, name):
        return True
    # ``from package import submodule``
    return hasattr(mod, "__path__") and (
        importlib.util.find_spec(f"{module}.{name}") is not None
    )


def test_every_engine_import_resolves():
    checked, dangling = 0, []
    for path in _sources():
        for lineno, module, name in _engine_imports(path):
            checked += 1
            if not _resolves(module, name):
                target = module if name is None else f"{module}.{name}"
                dangling.append(f"{path.relative_to(ROOT)}:{lineno} {target}")
    assert checked > 100, checked
    assert not dangling, "\n".join(dangling)
