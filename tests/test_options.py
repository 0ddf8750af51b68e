"""Every defaulted parameter in the package has a caller that sets it.

An option no caller sets is a configuration no test or benchmark runs, so
it becomes a constant. The scan reads source only (no Spark): for each
package function with defaulted parameters whose name is defined once in
the package, it walks every call by that name in the package, tests/,
scripts/, perfbench/ and bench.py. A parameter is unused when no call
passes it, by keyword or by position, or when every call passes the source
text of its default. A call that splats `*args` or `**kwargs` may pass any
parameter of that kind, so it counts as setting all of them: options
reached only through forwarding (`heart_rate_alerts(**window_kwargs)` ->
`windowed_vitals`) are checked by hand, not here.

`KEPT` lists the unused parameters that stay, each with its reason:
safety code (optimistic concurrency, bounded retries) and the SQL twin of
a Spark helper, which keeps its pair's signature.
"""

from __future__ import annotations

import ast
import functools
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "hw_kafka_flink_health_spark"
CALLER_ROOTS = (PACKAGE, ROOT / "tests", ROOT / "scripts", ROOT / "perfbench")
CALLER_FILES = (ROOT / "bench.py",)

_OCC = "optimistic concurrency: the commit fails if another writer moved the head"
_RETRY = "bounded retries: a lost commit race is retried at most this often"

KEPT: dict[tuple[str, str, str], str] = {
    ("operators/versioned.py", "delete_where", "expect_version"): _OCC,
    ("operators/versioned.py", "merge_into", "expect_version"): _OCC,
    ("operators/versioned.py", "commit_snapshot_checked", "expect_version"): _OCC,
    ("operators/versioned.py", "restore_snapshot", "max_retries"): _RETRY,
    ("operators/versioned.py", "commit_to_branch", "max_retries"): _RETRY,
    ("operators/versioned.py", "merge_branch", "max_retries"): _RETRY,
    ("operators/versioned.py", "rebase_branch", "max_retries"): _RETRY,
    ("queries/_shared.py", "money_cents_sql", "scale"): (
        "Spark/SQL twin: keeps the signature of money_cents, whose scale tests set"
    ),
}


def _files():
    for root in CALLER_ROOTS:
        yield from sorted(root.rglob("*.py"))
    yield from CALLER_FILES


@functools.cache
def _index(path: Path) -> tuple[list[ast.FunctionDef], list[ast.Call]]:
    """The function definitions and the calls in one file."""
    defs, calls = [], []
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            defs.append(node)
        elif isinstance(node, ast.Call):
            calls.append(node)
    return defs, calls


def _defaulted(fn: ast.FunctionDef) -> dict[str, tuple[int | None, str]]:
    """name -> (positional index or None for keyword-only, default source)."""
    a = fn.args
    positional = a.posonlyargs + a.args
    out: dict[str, tuple[int | None, str]] = {}
    first = len(positional) - len(a.defaults)
    for i, (arg, default) in enumerate(zip(positional[first:], a.defaults)):
        out[arg.arg] = (first + i, ast.unparse(default))
    for arg, default in zip(a.kwonlyargs, a.kw_defaults):
        if default is not None:
            out[arg.arg] = (None, ast.unparse(default))
    return out


def unused_options() -> set[tuple[str, str, str]]:
    defs: dict[str, list[tuple[str, ast.FunctionDef]]] = defaultdict(list)
    for path in sorted(PACKAGE.rglob("*.py")):
        module = path.relative_to(PACKAGE).as_posix()
        for node in _index(path)[0]:
            defs[node.name].append((module, node))
    targets = {
        name: (module, fn, params)
        for name, found in defs.items()
        if len(found) == 1
        for module, fn in found
        if (params := _defaulted(fn))
    }
    # (function, parameter) -> set of source texts callers pass
    passed: dict[tuple[str, str], set[str]] = defaultdict(set)
    for path in _files():
        for node in _index(path)[1]:
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name not in targets:
                continue
            _, fn, params = targets[name]
            shift = 1 if (
                isinstance(f, ast.Attribute)
                and fn.args.args
                and fn.args.args[0].arg in ("self", "cls")
            ) else 0
            star = any(isinstance(a, ast.Starred) for a in node.args)
            splat = any(k.arg is None for k in node.keywords)
            for p, (idx, _) in params.items():
                if (star and idx is not None) or splat:
                    passed[name, p].add("<splat>")
            for i, a in enumerate(node.args):
                if isinstance(a, ast.Starred):
                    break
                for p, (idx, _) in params.items():
                    if idx == i + shift:
                        passed[name, p].add(ast.unparse(a))
            for k in node.keywords:
                if k.arg in params:
                    passed[name, k.arg].add(ast.unparse(k.value))
    return {
        (module, name, p)
        for name, (module, _, params) in targets.items()
        for p, (_, default) in params.items()
        if not (passed[name, p] - {default})
    }


def test_every_option_has_a_caller():
    unused = unused_options() - set(KEPT)
    assert not unused, (
        f"{len(unused)} defaulted parameters no caller sets; make them "
        "constants or add them to KEPT with a reason:\n"
        + "\n".join(f"  {m}:{f}({p}=)" for m, f, p in sorted(unused))
    )


def test_kept_options_exist():
    defined = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        module = path.relative_to(PACKAGE).as_posix()
        for node in _index(path)[0]:
            defined |= {(module, node.name, p) for p in _defaulted(node)}
    assert not set(KEPT) - defined, sorted(set(KEPT) - defined)
