"""Reach rules: every ``wotan_spark`` module, and every public top-level
``def``/``class`` in it, must be reached by an entry point — the driver
contract, a bench, a script or tool, the package itself, or the DEPLOY.md
streaming entry.  Both checks are static (stdlib ``ast``, no Spark): a
module reached only by tests (unless it is on ``PENDING_DELETION``), or a
public def that no file of the entry points' import closure names, fails
and is named in the message."""

from __future__ import annotations

import ast
import functools
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT_GLOBS = ("__spark_entry__.py", "bench*.py", "perfbench/*.py",
              "scripts/*.py", "tools/*.py", "wotan_spark/__init__.py",
              "wotan_spark/__main__.py", "wotan_spark/spark/streaming.py")
# Modules no entry point imports, kept only until their tests are retired
# (a module listed here is exempt from the def rule below).  The set must
# match exactly: deleting a module means taking it off the list.
PENDING_DELETION = {
    "codecs/png.py",    # last media codec; its 27 test items go with it
}
# Public defs no entry point names, each kept for the reason beside it.
# The set must match exactly: a newly unreached def fails, and a deleted or
# newly reached one must leave the set.
UNREACHED_DEFS = {
    # Called only by the ref-exact suites (tests/test_kernels_parity.py,
    # tests/test_property_parity.py), which compare against the reference
    # checkout and skip without it, so a port of those calls could not be
    # re-checked where the reference is absent.
    "kernels/windows.py::running_slider",            # batch-of-one slider
    "kernels/windows.py::running_slider_iterative",  # same, iterative
    "kernels/series.py::segment_ids",                # gap segment labels
    "kernels/robust.py::huber_location_1d",          # one-window Huber
    "kernels/robust.py::irls_intercept_1d",          # one-window IRLS
    # Operator entry points that DEPLOY.md documents.
    "spark/streaming.py::run_ingestion",             # "Streaming"
    "spark/streaming.py::run_pipeline_ingestion",    # "Streaming"
    "spark/retention.py::expire_snapshots",          # "Snapshot expiry"
    # Tested public helpers that engine docstrings point users to.
    "spark/datapipe.py::bucket_size_stats",   # audit before max_bucket
    "spark/datapipe.py::clear_block_caches",  # release the block-cache LRU
    "spark/gapfill.py::gapfill_sequences",    # packed twin of resample_ffill
    "spark/sources.py::write_sequences",      # writer twin of read_sequences
}


def _module_file(base: str, dotted: str) -> str | None:
    """File of module ``dotted`` under directory ``base``, or None."""
    path = os.path.join(base, *dotted.split("."))
    for cand in (path + ".py", os.path.join(path, "__init__.py")):
        if os.path.isfile(cand):
            return cand
    return None


def _package_inits(path: str) -> list[str]:
    """``__init__.py`` of every package enclosing ``path`` inside the repo:
    importing a module runs them."""
    out, d = [], os.path.dirname(path)
    while d.startswith(REPO) and d != REPO:
        init = os.path.join(d, "__init__.py")
        if not os.path.isfile(init):
            break
        out.append(init)
        d = os.path.dirname(d)
    return out


@functools.lru_cache(maxsize=None)
def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), filename=path)


def _imports(path: str) -> set[str]:
    """Repo files that ``path`` imports anywhere in its body (lazy imports
    inside functions count); relative imports resolve against its
    package."""
    tree = _parse(path)
    found: set[str] = set()

    def add(base: str, dotted: str) -> bool:
        f = _module_file(base, dotted)
        if f is not None:
            found.add(f)
        return f is not None

    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                add(REPO, alias.name)
        elif isinstance(node, ast.ImportFrom):
            base = REPO
            if node.level:
                base = os.path.dirname(path)
                for _ in range(node.level - 1):
                    base = os.path.dirname(base)
            mod = node.module or ""
            if mod and not add(base, mod):
                continue
            # ``from pkg import sub`` imports the submodule ``sub``
            for alias in node.names:
                add(base, f"{mod}.{alias.name}" if mod else alias.name)
    return found


def reach_closure() -> set[str]:
    todo = [os.path.abspath(p) for g in ROOT_GLOBS
            for p in glob.glob(os.path.join(REPO, g))]
    seen: set[str] = set()
    while todo:
        f = todo.pop()
        if f in seen:
            continue
        seen.add(f)
        todo.extend(_package_inits(f))
        todo.extend(_imports(f))
    return seen


def test_every_package_module_is_reached_by_an_entry_point():
    reached = reach_closure()
    modules = glob.glob(os.path.join(REPO, "wotan_spark", "**", "*.py"),
                        recursive=True)
    assert modules
    unreached = sorted(os.path.relpath(m, os.path.join(REPO, "wotan_spark"))
                       for m in modules if os.path.abspath(m) not in reached)
    assert set(unreached) == PENDING_DELETION, (
        "modules no entry point imports (only tests reach them): "
        + ", ".join(sorted(set(unreached) - PENDING_DELETION))
        + "; pending deletion but reached or gone: "
        + ", ".join(sorted(PENDING_DELETION - set(unreached))))


_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _names(node: ast.AST) -> list[str]:
    """Names ``node`` refers to: a bare name, an attribute, an import alias,
    or a string constant (``getattr`` and registry dispatch)."""
    if isinstance(node, ast.Name):
        return [node.id]
    if isinstance(node, ast.Attribute):
        return [node.attr]
    if isinstance(node, ast.alias):
        return [node.name]
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return [node.value]
    return []


def _references(path: str) -> set[str]:
    """Every name ``path`` refers to, leaving out a top-level def's
    references to itself (recursion does not reach a def)."""
    refs: set[str] = set()
    for top in _parse(path).body:
        own = top.name if isinstance(top, _DEFS) else None
        refs.update(n for node in ast.walk(top) for n in _names(node)
                    if n != own)
    return refs


def test_every_public_def_is_reached_by_an_entry_point():
    """Conservative: any occurrence of the name counts, even an unrelated
    attribute that shares it, so the rule misses such dead code rather
    than flag live code.  A def reached only through a computed name (an
    f-string ``getattr``) needs an ``UNREACHED_DEFS`` entry."""
    reached = reach_closure()
    refs: set[str] = set().union(*(_references(f) for f in reached))
    pkg = os.path.join(REPO, "wotan_spark")
    unreached = set()
    for path in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        if os.path.relpath(path, pkg) in PENDING_DELETION:
            continue
        for top in _parse(path).body:
            if (isinstance(top, _DEFS) and not top.name.startswith("_")
                    and top.name not in refs):
                unreached.add(f"{os.path.relpath(path, pkg)}::{top.name}")
    assert unreached == UNREACHED_DEFS, (
        "public defs no entry point names (only tests reach them): "
        + ", ".join(sorted(unreached - UNREACHED_DEFS))
        + "; allowlisted but reached or gone: "
        + ", ".join(sorted(UNREACHED_DEFS - unreached)))
