"""Options lint: a defaulted parameter that no call passes is a constant.

Every module-level function in the operator, twin and query layers
(``ext/``, ``operators/``, ``ml/``, ``functions/``, ``queries/``) may keep a
default only if some call in the repo passes that parameter, by keyword or
by position. Callers are matched by function name alone (``f(...)`` and
``obj.f(...)`` both count), which keeps a parameter whenever any same-named
call passes it. A call that spreads ``*args`` counts as passing every
positional parameter, and one that spreads ``**kw`` as passing every
parameter.
"""

from __future__ import annotations

import ast
from collections import defaultdict
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = REPO / "scala_data_pipeline_spark"
LAYERS = ("ext", "operators", "ml", "functions", "queries")


def _caller_files(repo: Path) -> list[Path]:
    """Every Python file that may call into the layers."""
    files = [p for p in repo.glob("*.py")]
    for sub in ("scala_data_pipeline_spark", "tests", "scripts", "perfbench"):
        files += (repo / sub).rglob("*.py")
    return sorted(files)


def _passed(files: list[Path]) -> dict:
    """name -> (keywords passed, max positional count, spreads *args,
    spreads **kw), over every call in ``files``."""
    seen: dict = defaultdict(lambda: [set(), 0, False, False])
    for path in files:
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.Call):
                continue
            func = node.func
            name = func.attr if isinstance(func, ast.Attribute) else getattr(
                func, "id", None
            )
            if name is None:
                continue
            rec = seen[name]
            for kw in node.keywords:
                if kw.arg is None:
                    rec[3] = True
                else:
                    rec[0].add(kw.arg)
            if any(isinstance(a, ast.Starred) for a in node.args):
                rec[2] = True
            rec[1] = max(rec[1], len(node.args))
    return seen


def _defaulted(fn: ast.FunctionDef) -> list[tuple[str, int | None]]:
    """(name, positional index or None for keyword-only) of each defaulted
    parameter of ``fn``."""
    a = fn.args
    positional = a.posonlyargs + a.args
    out = [
        (arg.arg, i)
        for i, arg in enumerate(positional)
        if i >= len(positional) - len(a.defaults)
    ]
    out += [
        (arg.arg, None)
        for arg, d in zip(a.kwonlyargs, a.kw_defaults)
        if d is not None
    ]
    return out


def never_passed(layer_files: list[Path], caller_files: list[Path]) -> list[str]:
    """``layer/module.py:function(param)`` for each defaulted parameter of a
    module-level function in ``layer_files`` that no call passes."""
    seen = _passed(caller_files)
    hits = []
    for path in layer_files:
        for fn in ast.parse(path.read_text()).body:
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            kws, npos, star, dstar = seen.get(fn.name, (set(), 0, False, False))
            for name, idx in _defaulted(fn):
                if dstar or name in kws:
                    continue
                if idx is not None and (star or npos > idx):
                    continue
                hits.append(
                    f"{path.parent.name}/{path.name}:{fn.name}({name})"
                )
    return hits


def _layer_files(pkg: Path) -> list[Path]:
    return sorted(p for layer in LAYERS for p in (pkg / layer).rglob("*.py"))


def test_lint_catches_planted_option(tmp_path):
    mod = tmp_path / "mod.py"
    mod.write_text(
        "def f(df, col='x', *, salt='s', used=1):\n    return df\n"
        "def g(df, a=1, b=2):\n    return df\n"
        "def h(df, c=3):\n    return df\n"
    )
    caller = tmp_path / "caller.py"
    caller.write_text(
        "f(df, used=2)\nobj.g(df, 1)\nh(*args)\n"
    )
    hits = never_passed([mod], [mod, caller])
    assert [h.split("/")[-1] for h in hits] == [
        "mod.py:f(col)", "mod.py:f(salt)", "mod.py:g(b)",
    ]
    caller.write_text("f(df, **kw)\ng(df, 1, 2)\nh(df, c=4)\n")
    assert never_passed([mod], [mod, caller]) == []


def test_every_default_has_a_caller():
    hits = never_passed(_layer_files(PKG), _caller_files(REPO))
    assert hits == [], f"{len(hits)} never-passed defaulted parameters"
