"""The engine's settable surface holds only what some caller sets.

An optional parameter that no call site passes is a knob nobody turns:
it widens every signature, forks the code under it, and never gets
exercised. This guard scans the package's function definitions and every
call site in the package, ``perfbench/``, ``bench.py``,
``__spark_entry__.py`` and ``tests/``, and fails on an optional parameter
that no call passes. Drop such a parameter to the value it defaulted to.
"""

import ast
import collections
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "reddit_data_pipeline_engineering_spark"

# (module path relative to the repo root, function, parameter) -> reason.
# Every entry needs a one-line reason.
ALLOWED: dict[tuple[str, str, str], str] = {}


def _optional(fn: ast.FunctionDef) -> list[str]:
    a = fn.args
    positional = a.posonlyargs + a.args
    opt = [p.arg for p in positional[len(positional) - len(a.defaults):]]
    opt += [p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return opt


def _called_name(call: ast.Call) -> str | None:
    fn = call.func
    if isinstance(fn, ast.Name):
        return fn.id
    if isinstance(fn, ast.Attribute):
        return fn.attr
    return None


def _unpassed() -> list[tuple[str, str, str]]:
    defs = collections.defaultdict(list)
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = str(path.relative_to(ROOT))
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                defs[node.name].append((rel, node))

    callers = [
        *sorted(PACKAGE.rglob("*.py")),
        *sorted((ROOT / "perfbench").rglob("*.py")),
        ROOT / "bench.py",
        ROOT / "__spark_entry__.py",
        *sorted((ROOT / "tests").rglob("*.py")),
    ]
    calls = collections.defaultdict(list)
    for path in callers:
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Call) and _called_name(node):
                calls[_called_name(node)].append(node)

    unpassed = []
    for name, found in defs.items():
        if len(found) != 1:  # a shared name cannot be told apart by call
            continue
        rel, fn = found[0]
        opt = _optional(fn)
        if not opt:
            continue
        params = [p.arg for p in fn.args.posonlyargs + fn.args.args]
        if params and params[0] in ("self", "cls"):
            params = params[1:]
        passed: set[str] = set()
        for call in calls[name]:
            splat = any(isinstance(x, ast.Starred) for x in call.args) or any(
                k.arg is None for k in call.keywords
            )
            if splat:
                passed.update(opt)
                continue
            passed.update(params[: len(call.args)])
            passed.update(k.arg for k in call.keywords)
        unpassed += [(rel, name, p) for p in opt if p not in passed]
    return unpassed


def test_every_optional_parameter_is_passed_somewhere():
    unpassed = [u for u in _unpassed() if u not in ALLOWED]
    assert not unpassed, (
        f"{len(unpassed)} optional parameters no call site passes:\n"
        + "\n".join(f"  {rel}: {fn}({p})" for rel, fn, p in unpassed)
    )

