"""Every defaulted parameter of an engine function is set by some call
site in the package, ``bench.py``, ``perfbench/`` or ``tests/``. A value
no caller sets is an option no test or benchmark covers: inline it.

Functions are matched by name; one referenced as a value (passed, stored
or shadowed by a variable of the same name) counts as fully set."""

from __future__ import annotations

import ast
import pathlib
from collections import defaultdict

ROOT = pathlib.Path(__file__).resolve().parents[1]
PKG = ROOT / "kafka_connect_minio_pipeline_spark"
ENGINE = [PKG / "tables.py"]
for d in ("operators", "functions", "pipeline"):
    ENGINE += (PKG / d).rglob("*.py")
CALLERS = [ROOT / "bench.py"]
for d in (PKG, ROOT / "perfbench", ROOT / "tests"):
    CALLERS += d.rglob("*.py")


def _name(node: ast.AST) -> str | None:
    return node.id if isinstance(node, ast.Name) else getattr(node, "attr", None)


def test_every_defaulted_parameter_has_a_caller():
    keywords, n_positional, as_value = defaultdict(set), defaultdict(int), set()
    for path in CALLERS:
        tree = ast.parse(path.read_text())
        calls = [n for n in ast.walk(tree) if isinstance(n, ast.Call)]
        for c in calls:
            name = _name(c.func)
            keywords[name].update(k.arg for k in c.keywords)  # None: a **splat
            starred = any(isinstance(a, ast.Starred) for a in c.args)
            n_positional[name] = max(n_positional[name], len(c.args) + starred * 999)
        called = {id(c.func) for c in calls}
        for n in ast.walk(tree):
            if isinstance(n, (ast.Name, ast.Attribute)) and id(n) not in called:
                as_value.add(_name(n))
    unset = []
    for path in ENGINE:
        for fn in ast.walk(ast.parse(path.read_text())):
            if not isinstance(fn, ast.FunctionDef) or fn.name in as_value:
                continue
            kw, a = keywords[fn.name], fn.args
            pos = a.posonlyargs + a.args
            first = len(pos) - len(a.defaults)
            params = [(i, p.arg) for i, p in enumerate(pos) if i >= first]
            params += [(None, p.arg) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d]
            for i, p in params:
                by_position = i is not None and n_positional[fn.name] > i
                if None not in kw and p not in kw and not by_position:
                    unset.append(f"{path.relative_to(ROOT)}: {fn.name}({p})")
    assert not unset, "defaulted parameters no call site sets:\n" + "\n".join(unset)
