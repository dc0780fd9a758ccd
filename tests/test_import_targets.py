"""Every ``from osm_addr_tools_spark… import name`` in the package, tools,
tests, perfbench and bench.py must resolve — function-local (lazy) imports
included, which otherwise fail only when their function is first called —
and every keyword a call there passes to an engine function must name a
parameter of that function (unless it takes ``**kwargs``), so removing an
option cannot leave a caller that only fails when it runs."""

import ast
import importlib
import importlib.util
import inspect
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "osm_addr_tools_spark"


def _sources():
    for d in (PKG, "tools", "tests", "perfbench"):
        yield from sorted((ROOT / d).rglob("*.py"))
    yield ROOT / "bench.py"


def _is_engine(module: str) -> bool:
    return module == PKG or module.startswith(PKG + ".")


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), str(path))


def _engine_imports(tree: ast.Module):
    """(lineno, module, name or None, asname or None) for every engine
    import in ``tree``."""
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
            if _is_engine(node.module):
                for alias in node.names:
                    yield node.lineno, node.module, alias.name, alias.asname
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if _is_engine(alias.name):
                    yield node.lineno, alias.name, None, alias.asname


def _import_name(module: str, name: str):
    """``from module import name``: the attribute, or the submodule."""
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return getattr(mod, name)
    return importlib.import_module(f"{module}.{name}")


def _resolves(module: str, name: str | None) -> bool:
    try:
        if name is None or name == "*":
            importlib.import_module(module)
        else:
            _import_name(module, name)
    except ImportError:
        return False
    return True


def test_every_engine_import_resolves():
    checked, dangling = 0, []
    for path in _sources():
        for lineno, module, name, _ in _engine_imports(_parse(path)):
            checked += 1
            if not _resolves(module, name):
                target = module if name is None else f"{module}.{name}"
                dangling.append(f"{path.relative_to(ROOT)}:{lineno} {target}")
    assert checked > 100, checked
    assert not dangling, "\n".join(dangling)


# ---------------------------------------------------------------------------
# keyword arguments of calls into the engine
# ---------------------------------------------------------------------------


def _bindings(path: Path, tree: ast.Module) -> dict:
    """Name → object for what a file can call into the engine: its engine
    imports (lazy ones included, file-wide) and, for package files, the
    module's own globals (same-module calls)."""
    names = {}
    rel = path.relative_to(ROOT).with_suffix("")
    if rel.parts[0] == PKG:
        parts = rel.parts[:-1] if rel.name == "__init__" else rel.parts
        names.update(vars(importlib.import_module(".".join(parts))))
    for _, module, name, asname in _engine_imports(tree):
        if not _resolves(module, name) or name == "*":
            continue  # a dangling import is test_every_engine_import_resolves'
        if name is not None:
            names[asname or name] = _import_name(module, name)
        elif asname is not None:
            names[asname] = importlib.import_module(module)
        else:  # ``import a.b`` binds ``a``
            names[PKG] = importlib.import_module(PKG)
    return names


def _dict_keys(expr):
    """Keys of a ``**`` operand written as a literal: ``{"k": …}``,
    ``dict(k=…)`` or a conditional of two such; None when not literal."""
    if isinstance(expr, ast.Dict):
        keys = [k.value for k in expr.keys
                if isinstance(k, ast.Constant) and isinstance(k.value, str)]
        return keys if len(keys) == len(expr.keys) else None
    if (isinstance(expr, ast.Call) and isinstance(expr.func, ast.Name)
            and expr.func.id == "dict" and not expr.args):
        return [kw.arg for kw in expr.keywords if kw.arg is not None]
    if isinstance(expr, ast.IfExp):
        a, b = _dict_keys(expr.body), _dict_keys(expr.orelse)
        return None if a is None or b is None else a + b
    return None


class _Calls(ast.NodeVisitor):
    """(call, keyword names) for every call; ``**name`` expands when
    ``name`` was bound to a literal dict earlier in an enclosing scope."""

    def __init__(self):
        self.scopes, self.calls = [{}], []

    def visit_FunctionDef(self, node):
        self.scopes.append({})
        self.generic_visit(node)
        self.scopes.pop()

    visit_AsyncFunctionDef = visit_FunctionDef

    def visit_Assign(self, node):
        keys = _dict_keys(node.value)
        if keys is not None:
            for t in node.targets:
                if isinstance(t, ast.Name):
                    self.scopes[-1][t.id] = keys
        self.generic_visit(node)

    def visit_Call(self, node):
        kws = []
        for kw in node.keywords:
            if kw.arg is not None:
                kws.append(kw.arg)
                continue
            keys = _dict_keys(kw.value)
            if keys is None and isinstance(kw.value, ast.Name):
                keys = next((s[kw.value.id] for s in reversed(self.scopes)
                             if kw.value.id in s), None)
            kws.extend(keys or [])
        self.calls.append((node, kws))
        self.generic_visit(node)


def _callee(func: ast.expr, names: dict):
    """(object, dotted name) for ``f(…)`` / ``mod.f(…)`` reaching into the
    engine; object None when an engine module lacks the attribute; (None,
    None) when the call does not reach the engine."""
    chain = []
    while isinstance(func, ast.Attribute):
        chain.append(func.attr)
        func = func.value
    if not isinstance(func, ast.Name) or func.id not in names:
        return None, None
    obj, dotted = names[func.id], func.id
    for attr in reversed(chain):
        dotted += "." + attr
        if not inspect.ismodule(obj):
            return None, None
        if not hasattr(obj, attr):
            if not _is_engine(obj.__name__):
                return None, None
            try:
                obj = importlib.import_module(f"{obj.__name__}.{attr}")
            except ImportError:
                return None, dotted
        else:
            obj = getattr(obj, attr)
    return obj, dotted


def _engine_params(obj):
    """Keyword-passable parameter names of an engine function or class, or
    None when anything goes (``**kwargs``) or ``obj`` is not engine code."""
    if not (inspect.isfunction(obj) or inspect.isclass(obj)):
        return None
    if not _is_engine(getattr(obj, "__module__", "") or ""):
        return None
    try:
        params = inspect.signature(obj).parameters.values()
    except (TypeError, ValueError):
        return None
    if any(p.kind is p.VAR_KEYWORD for p in params):
        return None
    return {p.name for p in params
            if p.kind in (p.POSITIONAL_OR_KEYWORD, p.KEYWORD_ONLY)}


def test_every_engine_call_keyword_names_a_parameter():
    checked, bad = 0, []
    for path in _sources():
        tree = _parse(path)
        names = _bindings(path, tree)
        visitor = _Calls()
        visitor.visit(tree)
        for call, kws in visitor.calls:
            obj, dotted = _callee(call.func, names)
            where = f"{path.relative_to(ROOT)}:{call.lineno} {dotted}"
            if dotted is not None and obj is None:
                bad.append(f"{where}: no such engine function")
                continue
            params = _engine_params(obj)
            if params is None:
                continue
            checked += 1
            bad += [f"{where}: unknown keyword {k!r}" for k in kws
                    if k not in params]
    assert checked > 500, checked
    assert not bad, "\n".join(bad)
