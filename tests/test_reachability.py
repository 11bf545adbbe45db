"""Every package def must be reachable from a non-test caller.

Roots are the registry (``__spark_entry__.py``), ``bench.py``,
``scripts/``, ``perfbench/`` and the package's own top-level statements
other than defs and imports (so an ``__init__`` re-export is not a
caller).  A def is reached when its name appears among the identifiers
of a root or of a reached def.  This is sound here because none of the
roots dispatch by ``getattr`` or ``importlib``.  ``plans/`` is exempt:
its helpers are the assertions the plan tests use.

``KNOWN_TEST_ONLY`` lists the reviewed exceptions and is asserted exact
in both directions: a new test-only def fails, and so does an entry
whose def was deleted or gained a caller.  The list may only shrink.
"""

from __future__ import annotations

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "wistia_video_analytics_project_spark")
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)

KNOWN_TEST_ONLY = {
    # the gold truncate-then-load SQL copy of the reference (PAPER.md §0)
    "sinks/__init__.py:jdbc_truncate_load",
    # the streaming tier's stateful operators and its distributed merge sink
    "streaming/jobs.py:foreach_batch_parquet_upsert",
    "streaming/stateful.py:running_engagement_score",
    "streaming/stateful.py:streaming_sessionize",
    # second implementations of live operators (brute_force_topk, as_of_join)
    "operators/similarity.py:brute_force_topk_np",
    "operators/temporal.py:as_of_join_pandas",
    # operators no binding calls; candidates for the next cut
    "operators/dedup.py:shingles",
    "operators/linalg.py:project",
    "operators/multimodal.py:encode_ppm",
    "operators/multimodal.py:resize_images",
    "operators/unigram.py:unigram_encode",
}


def _names(nodes) -> set[str]:
    return {n.id if isinstance(n, ast.Name) else n.attr
            for node in nodes for n in ast.walk(node)
            if isinstance(n, (ast.Name, ast.Attribute))}


def _parse(path: str) -> ast.Module:
    with open(path) as fh:
        return ast.parse(fh.read(), path)


def unreached_defs() -> list[str]:
    root_files = [os.path.join(REPO, "__spark_entry__.py"), os.path.join(REPO, "bench.py")]
    root_files += glob.glob(os.path.join(REPO, "scripts", "*.py"))
    root_files += glob.glob(os.path.join(REPO, "perfbench", "*.py"))
    reached = set().union(*(_names([_parse(p)]) for p in root_files))
    defs: dict[str, list[ast.AST]] = {}
    for path in glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, PKG)
        for stmt in _parse(path).body:
            if isinstance(stmt, DEFS):
                defs.setdefault(f"{rel}:{stmt.name}", []).append(stmt)
            elif not isinstance(stmt, (ast.Import, ast.ImportFrom)):
                reached |= _names([stmt])
    pending = dict(defs)
    while True:
        hit = [key for key in pending if key.split(":")[1] in reached]
        if not hit:
            break
        for key in hit:
            reached |= _names(pending.pop(key))
    return sorted(key for key in pending if not key.startswith("plans" + os.sep))


def test_every_package_def_has_a_non_test_caller():
    unreached = unreached_defs()
    for key in unreached:
        print(key)
    new = sorted(set(unreached) - KNOWN_TEST_ONLY)
    assert not new, f"{len(new)} defs only tests reach: {new}"
    stale = sorted(KNOWN_TEST_ONLY - set(unreached))
    assert not stale, f"KNOWN_TEST_ONLY entries now reached or gone: {stale}"
