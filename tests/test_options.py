"""Every defaulted parameter of a module-level ``ocr_spark`` function
needs a call somewhere in the tracked sources that sets it.

A default no call overrides is a constant written as an option: it
doubles the configurations the tests claim to cover while only one is
ever run. The scan is syntactic over every tracked ``*.py``:

- a call matches a definition by name (``f(...)`` or ``mod.f(...)``);
  a positional argument sets the parameter at its index, a keyword
  argument the parameter it names;
- ``_on(loader, op, *args, **kw)`` in ``ocr_spark/queries.py`` is a
  call of ``op`` whose positional arguments start after the loaded
  frames: at its second parameter, or after N frames when ``loader``
  is a literal tuple of N loaders;
- passing ``x=x`` (or ``x`` at ``x``'s index) from an enclosing
  function's own parameter ``x`` sets it only if that parameter is
  required or itself set by some caller (resolved to a fixpoint);
- an argument whose value equals the default does not set it. Values
  are compared where both sides resolve: literals, and upper-case
  module constants (``_MAX_WEIGHT``, ``SHINGLE_N``, ``C.OVERLAP_MAX_SOURCES``)
  followed through ``from ... import`` and module aliases.
"""

from __future__ import annotations

import ast
import subprocess
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


_UNKNOWN = object()


def _defaulted(fn: ast.FunctionDef) -> tuple[list[str], dict[str, ast.expr]]:
    """Positional parameter names, and each defaulted parameter's
    default expression."""
    a = fn.args
    pos = [p.arg for p in a.posonlyargs + a.args]
    dflt = dict(zip(pos[len(pos) - len(a.defaults) :], a.defaults))
    dflt |= {p.arg: d for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None}
    return pos, dflt


def _bindings(trees: dict[str, ast.Module]) -> dict[str, dict[str, tuple]]:
    """Per file, what each module-level name is bound to: an assigned
    expression, a name imported from another tracked file, or a
    tracked module."""
    out: dict[str, dict[str, tuple]] = {}
    for f, tree in trees.items():
        b = out[f] = {}
        for node in tree.body:
            if isinstance(node, (ast.Assign, ast.AnnAssign)) and node.value is not None:
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                for t in targets:
                    if isinstance(t, ast.Name):
                        b[t.id] = ("expr", node.value)
            elif isinstance(node, ast.ImportFrom) and node.module:
                src = node.module.replace(".", "/")
                for a in node.names:
                    sub = f"{src}/{a.name}.py"
                    b[a.asname or a.name] = (
                        ("module", sub) if sub in trees else ("name", f"{src}.py", a.name)
                    )
    return out


def _value(node: ast.expr, f: str, bindings: dict[str, dict[str, tuple]]):
    """The value of ``node`` in file ``f`` if it is a literal or an
    upper-case module constant, else ``_UNKNOWN``."""

    def lookup(f: str, name: str):
        bound = bindings.get(f, {}).get(name)
        if name.upper() != name or bound is None:
            return _UNKNOWN
        if bound[0] == "expr":
            return _value(bound[1], f, bindings)
        if bound[0] == "name":
            return lookup(bound[1], bound[2])
        return _UNKNOWN

    try:
        return ast.literal_eval(node)
    except (ValueError, TypeError, SyntaxError):
        pass
    if isinstance(node, ast.Name):
        return lookup(f, node.id)
    if isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name):
        bound = bindings[f].get(node.value.id)
        if bound is not None and bound[0] == "module":
            return lookup(bound[1], node.attr)
    return _UNKNOWN


def _callee(node: ast.expr) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


def unset_parameters(root: Path = ROOT) -> list[str]:
    """``file:line func(param)`` for each defaulted parameter of a
    module-level ``ocr_spark`` function that no call sets."""
    files = subprocess.run(
        ["git", "ls-files", "*.py"], cwd=root, capture_output=True, text=True, check=True
    ).stdout.split()
    trees = {f: ast.parse((root / f).read_text(), f) for f in files}
    bindings = _bindings(trees)

    # name -> [(file, def, positional names, defaulted names)]
    defs: dict[str, list] = {}
    for f, tree in trees.items():
        if f.startswith("ocr_spark/"):
            for node in tree.body:
                if isinstance(node, ast.FunctionDef):
                    pos, dflt = _defaulted(node)
                    if dflt:
                        defs.setdefault(node.name, []).append((f, node, pos, dflt))

    # (def key, param, (enclosing func name, param) if a pass-through)
    sets: list[tuple] = []

    class Calls(ast.NodeVisitor):
        def __init__(self, file: str) -> None:
            self.file = file
            self.stack: list[ast.FunctionDef] = []

        def visit_FunctionDef(self, node: ast.FunctionDef) -> None:
            self.stack.append(node)
            self.generic_visit(node)
            self.stack.pop()

        def _through(self, value: ast.expr, param: str):
            if not isinstance(value, ast.Name) or value.id != param:
                return None
            for fn in reversed(self.stack):
                a = fn.args
                if param in {p.arg for p in a.posonlyargs + a.args + a.kwonlyargs}:
                    return (fn.name, param)
            return None

        def _record(self, name, args, keywords) -> None:
            for f, fn, pos, dflt in defs.get(name, []):
                key = (f, name)

                def sets_param(param: str, arg: ast.expr) -> None:
                    given = _value(arg, self.file, bindings)
                    default = _value(dflt[param], f, bindings)
                    if given is not _UNKNOWN and type(given) is type(default) and given == default:
                        return
                    sets.append((key, param, self._through(arg, param)))

                for i, arg in args:
                    if isinstance(arg, ast.Starred):
                        break
                    if i < len(pos) and pos[i] in dflt:
                        sets_param(pos[i], arg)
                for kw in keywords:
                    if kw.arg in dflt:
                        sets_param(kw.arg, kw.value)

        def visit_Call(self, node: ast.Call) -> None:
            name = _callee(node.func)
            if name:
                self._record(name, list(enumerate(node.args)), node.keywords)
                if name == "_on" and len(node.args) >= 2:
                    op = _callee(node.args[1])
                    first = node.args[0]
                    n_in = len(first.elts) if isinstance(first, ast.Tuple) else 1
                    extra = [(i + n_in, a) for i, a in enumerate(node.args[2:])]
                    self._record(op, extra, node.keywords)
            self.generic_visit(node)

    for f, tree in trees.items():
        Calls(f).visit(tree)

    done: set = set()
    changed = True
    while changed:
        changed = False
        for key, param, through in sets:
            if (key, param) in done:
                continue
            if through is not None:
                fname, p = through
                outer = [(f, fname) for f, _, _, dflt in defs.get(fname, []) if p in dflt]
                if outer and not any((k, p) in done for k in outer):
                    continue
            done.add((key, param))
            changed = True

    return sorted(
        f"{f}:{fn.lineno} {name}({p})"
        for name, entries in defs.items()
        for f, fn, _, dflt in entries
        for p in sorted(dflt)
        if ((f, name), p) not in done
    )


def test_every_defaulted_parameter_has_a_caller_that_sets_it():
    unset = unset_parameters()
    assert not unset, (
        f"{len(unset)} defaulted parameter(s) no call sets — make each a "
        "constant or a literal in the body:\n" + "\n".join(unset)
    )
