"""Every package def and every path option must have a non-test caller.

Roots are the registry (``__spark_entry__.py``), ``bench.py``,
``scripts/``, ``perfbench/`` and the package's own top-level statements
other than defs and imports (so an ``__init__`` re-export is not a
caller).  A def is reached when its name appears among the identifiers
of a root or of a reached def.  This is sound here because none of the
roots dispatch by ``getattr`` or ``importlib``.  ``plans/`` is exempt:
its helpers are the assertions the plan tests use.

A path option is a defaulted parameter of a top-level function whose
default is ``None``, a bool or a str literal, and whose name appears in
the test of an ``if``, a conditional expression or a ``while`` in that
function.  It is used when a call from a root or a reached def passes a
value whose source differs from the default.  Forwarding the caller's
own parameter with the same default does not count (the caller's option
is the one that selects); ``*args``/``**kwargs`` do.

``KNOWN_TEST_ONLY`` and ``KNOWN_TEST_ONLY_OPTIONS`` list the reviewed
exceptions and are asserted exact in both directions: a new test-only
def or option fails, and so does an entry that was deleted or gained a
caller.  The lists may only shrink.
"""

from __future__ import annotations

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "wistia_video_analytics_project_spark")
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)

KNOWN_TEST_ONLY = {
    # the streaming tier's distributed merge sink
    "streaming/jobs.py:foreach_batch_parquet_upsert",
}

KNOWN_TEST_ONLY_OPTIONS = {
    # a deployment setting: the cluster master URL
    "session.py:get_spark:master",
    # __main__ sets it through get_spark's `or`, which the forward rule
    # cannot see
    "session.py:configure_runtime:shuffle_partitions",
    # fault-detection out-param: the only way to tell a truncated peel
    # from a true k-core
    "operators/graph.py:k_core:stats",
}


def _names(nodes) -> set[str]:
    return {n.id if isinstance(n, ast.Name) else n.attr
            for node in nodes for n in ast.walk(node)
            if isinstance(n, (ast.Name, ast.Attribute))}


def _parse(path: str) -> ast.Module:
    with open(path) as fh:
        return ast.parse(fh.read(), path)


def _walk():
    """Return (root trees, package defs by key, keys of reached defs)."""
    root_files = [os.path.join(REPO, "__spark_entry__.py"), os.path.join(REPO, "bench.py")]
    root_files += glob.glob(os.path.join(REPO, "scripts", "*.py"))
    root_files += glob.glob(os.path.join(REPO, "perfbench", "*.py"))
    roots: list[ast.AST] = [_parse(p) for p in root_files]
    defs: dict[str, list[ast.AST]] = {}
    for path in glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, PKG)
        for stmt in _parse(path).body:
            if isinstance(stmt, DEFS):
                defs.setdefault(f"{rel}:{stmt.name}", []).append(stmt)
            elif not isinstance(stmt, (ast.Import, ast.ImportFrom)):
                roots.append(stmt)
    reached = _names(roots)
    pending = dict(defs)
    while True:
        hit = [key for key in pending if key.split(":")[1] in reached]
        if not hit:
            break
        for key in hit:
            reached |= _names(pending.pop(key))
    return roots, defs, set(defs) - set(pending)


def unreached_defs() -> list[str]:
    _, defs, reached = _walk()
    return sorted(key for key in defs
                  if key not in reached and not key.startswith("plans" + os.sep))


def _defaults(fn: ast.FunctionDef) -> dict[str, ast.expr]:
    args = fn.args
    pos = args.posonlyargs + args.args
    out = {a.arg: d for a, d in zip(pos[len(pos) - len(args.defaults):], args.defaults)}
    out.update({a.arg: d for a, d in zip(args.kwonlyargs, args.kw_defaults) if d is not None})
    return out


def _options(fn: ast.FunctionDef) -> dict[str, str]:
    """The path options of ``fn``: name -> source of its default."""
    tested = _names(n.test for n in ast.walk(fn) if isinstance(n, (ast.If, ast.IfExp, ast.While)))
    return {name: ast.unparse(d) for name, d in _defaults(fn).items()
            if name in tested and isinstance(d, ast.Constant)
            and (d.value is None or isinstance(d.value, (bool, str)))}


def _calls(scope: ast.AST, name: str):
    """Yield (call, innermost enclosing function or None) for calls to ``name``."""
    stack = [(scope, scope if isinstance(scope, FUNCS) else None)]
    while stack:
        node, fn = stack.pop()
        if isinstance(node, ast.Call):
            f = node.func
            if (f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)) == name:
                yield node, fn
        for child in ast.iter_child_nodes(node):
            stack.append((child, child if isinstance(child, FUNCS) else fn))


def _selects(value: ast.expr, default: str, caller) -> bool:
    if ast.unparse(value) == default:
        return False
    own = _defaults(caller) if caller is not None else {}
    return not (isinstance(value, ast.Name) and value.id in own
                and ast.unparse(own[value.id]) == default)


def unselected_options() -> list[str]:
    roots, defs, reached = _walk()
    callers = roots + [node for key in reached for node in defs[key]]
    by_name: dict[str, list[str]] = {}
    for key in defs:
        by_name.setdefault(key.split(":")[1], []).append(key)
    flagged = []
    for key, nodes in sorted(defs.items()):
        name = key.split(":")[1]
        if key.startswith("plans" + os.sep) or len(by_name[name]) > 1:
            continue
        fn = nodes[0]
        if not isinstance(fn, FUNCS):
            continue
        options = _options(fn)
        if not options:
            continue
        positional = [a.arg for a in fn.args.posonlyargs + fn.args.args]
        used: set[str] = set()
        for scope in callers:
            for call, caller in _calls(scope, name):
                if any(isinstance(a, ast.Starred) for a in call.args) or any(
                        kw.arg is None for kw in call.keywords):
                    used |= set(options)
                    continue
                passed = dict(zip(positional, call.args))
                passed.update((kw.arg, kw.value) for kw in call.keywords)
                used |= {opt for opt, default in options.items()
                         if opt in passed and _selects(passed[opt], default, caller)}
        flagged += [f"{key}:{opt}" for opt in sorted(set(options) - used)]
    return flagged


def test_every_package_def_has_a_non_test_caller():
    unreached = unreached_defs()
    for key in unreached:
        print(key)
    new = sorted(set(unreached) - KNOWN_TEST_ONLY)
    assert not new, f"{len(new)} defs only tests reach: {new}"
    stale = sorted(KNOWN_TEST_ONLY - set(unreached))
    assert not stale, f"KNOWN_TEST_ONLY entries now reached or gone: {stale}"


def test_every_path_option_has_a_non_test_caller():
    flagged = unselected_options()
    for key in flagged:
        print(key)
    new = sorted(set(flagged) - KNOWN_TEST_ONLY_OPTIONS)
    assert not new, f"{len(new)} path options only tests select: {new}"
    stale = sorted(KNOWN_TEST_ONLY_OPTIONS - set(flagged))
    assert not stale, f"KNOWN_TEST_ONLY_OPTIONS entries now selected or gone: {stale}"
