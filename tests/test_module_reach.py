"""Module rule: every ``wotan_spark`` module must be reached by an entry
point — the driver contract, a bench, a script or tool, the package itself,
or the DEPLOY.md streaming entry.  The check is a static import closure
(stdlib ``ast``, no Spark), so a module that only tests import fails it and
is named in the message."""

from __future__ import annotations

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT_GLOBS = ("__spark_entry__.py", "bench*.py", "perfbench/*.py",
              "scripts/*.py", "tools/*.py", "wotan_spark/__init__.py",
              "wotan_spark/__main__.py", "wotan_spark/spark/streaming.py")
# Media plumbing that only tests reach; it is still awaiting its own
# deletion change (ROADMAP direction 4).  The list must match exactly, so a
# newly unreached module fails and a deleted one must leave the list.
PENDING_DELETION = ("codecs/jpeg.py", "codecs/png.py", "codecs/wavpcm.py",
                    "spark/multimodal.py")


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


def _imports(path: str) -> set[str]:
    """Repo files that ``path`` imports anywhere in its body (lazy imports
    inside functions count); relative imports resolve against its
    package."""
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), filename=path)
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
    assert unreached == sorted(PENDING_DELETION), (
        "modules no entry point imports (only tests reach them): "
        + ", ".join(unreached))
