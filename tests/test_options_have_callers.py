"""Every defaulted parameter in the library has a caller that sets it.

A default that no call site ever overrides is a constant with extra
syntax: it widens the API, and any branch that only it can select is
untested code.  This guard parses ``medtype_spark/`` (except
``oracles.py``, the DuckDB spec) and every call in the checkout, and
fails on each defaulted parameter that no same-named call sets, unless
``ALLOWED`` names it with a reason.  It also fails on a stale
``ALLOWED`` entry.

A call sets a parameter when it passes it by keyword, covers its
position with positional arguments, or passes ``*args`` (positional
parameters) or ``**kwargs`` (all parameters).  Calls are matched by
name only (``f(...)`` and ``obj.f(...)``), which over-counts when two
functions share a name; the guard errs towards passing.

Run ``python tests/test_options_have_callers.py`` to list the unset
parameters.  No Spark is needed.
"""
from __future__ import annotations

import ast
import os
import sys
from functools import lru_cache

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LIBRARY = "medtype_spark"
SPEC = os.path.join(LIBRARY, "oracles.py")
SKIP_DIRS = {".git", ".work", "__pycache__"}

_RUN_LINKAGE_MIRROR = (
    "mirrors a run_linkage setting that perfbench's workloads set, and "
    "feeds the stage fingerprints")
ALLOWED = {
    ("plans/checkpoints.py", "run_linkage_checkpointed", "score_threshold"):
        "mirrors run_linkage's edge threshold, and feeds the stage fingerprints",
    ("plans/checkpoints.py", "run_linkage_checkpointed", "hot_threshold"): _RUN_LINKAGE_MIRROR,
    ("plans/checkpoints.py", "run_linkage_checkpointed", "target_cell"): _RUN_LINKAGE_MIRROR,
    ("plans/checkpoints.py", "run_linkage_checkpointed", "type_scorer"): _RUN_LINKAGE_MIRROR,
    ("plans/checkpoints.py", "run_linkage_checkpointed", "matcher"): _RUN_LINKAGE_MIRROR,
    ("sources/pages_table.py", "write_pages_table", "mode"):
        "deployment setting: append to or replace an existing table",
    ("evaluation/annotations.py", "write_annotation_tsv", "mode"):
        "deployment setting: append to or replace an existing output",
}


def _python_files():
    for dirpath, dirnames, filenames in os.walk(ROOT):
        dirnames[:] = sorted(d for d in dirnames if d not in SKIP_DIRS)
        for name in sorted(filenames):
            if name.endswith(".py"):
                yield os.path.relpath(os.path.join(dirpath, name), ROOT)


def _parse(rel):
    with open(os.path.join(ROOT, rel), encoding="utf-8") as fh:
        return ast.parse(fh.read(), filename=rel)


def _defaulted(fn):
    """(name, positional index or None) of each defaulted parameter."""
    a = fn.args
    positional = a.posonlyargs + a.args
    first = len(positional) - len(a.defaults)
    out = [(p.arg, i) for i, p in enumerate(positional) if i >= first]
    out += [(p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults)
            if d is not None]
    return out


def library_options():
    """[(module, function, parameter, positional index, is_method)]."""
    out = []
    for rel in _python_files():
        if not rel.startswith(LIBRARY + os.sep) or rel == SPEC:
            continue
        module = os.path.relpath(rel, LIBRARY).replace(os.sep, "/")
        tree = _parse(rel)
        methods = {id(f) for c in ast.walk(tree) if isinstance(c, ast.ClassDef)
                   for f in c.body
                   if isinstance(f, (ast.FunctionDef, ast.AsyncFunctionDef))}
        for fn in ast.walk(tree):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for name, index in _defaulted(fn):
                    out.append((module, fn.name, name, index, id(fn) in methods))
    return out


def call_sites():
    """{callee name: [(n positional, has *args, keywords, has **kwargs)]}."""
    sites = {}
    for rel in _python_files():
        for node in ast.walk(_parse(rel)):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.id if isinstance(f, ast.Name) else (
                f.attr if isinstance(f, ast.Attribute) else None)
            if name is None:
                continue
            star = any(isinstance(a, ast.Starred) for a in node.args)
            n_pos = sum(not isinstance(a, ast.Starred) for a in node.args)
            kws = {k.arg for k in node.keywords if k.arg is not None}
            dstar = any(k.arg is None for k in node.keywords)
            sites.setdefault(name, []).append((n_pos, star, kws, dstar))
    return sites


@lru_cache(maxsize=1)
def unset_options() -> tuple:
    """(module, function, parameter) of every defaulted parameter that
    no call site sets."""
    sites = call_sites()
    unset = []
    for module, fn, param, index, is_method in library_options():
        shift = 1 if is_method else 0
        is_set = False
        for n_pos, star, kws, dstar in sites.get(fn, ()):
            if param in kws or dstar:
                is_set = True
            elif index is not None and (star or n_pos > index - shift):
                is_set = True
            if is_set:
                break
        if not is_set:
            unset.append((module, fn, param))
    return tuple(unset)


def test_every_defaulted_parameter_has_a_caller():
    unset = set(unset_options())
    missing = sorted(unset - set(ALLOWED))
    assert not missing, (
        "defaulted parameters that no call site sets; make each the constant "
        "it always is, or add a caller:\n"
        + "\n".join(f"  {m}:{f}({p}=)" for m, f, p in missing))


def test_allowlist_is_current():
    stale = sorted(set(ALLOWED) - set(unset_options()))
    assert not stale, (
        "allowlisted parameters that are now set by a caller or gone:\n"
        + "\n".join(f"  {m}:{f}({p}=)" for m, f, p in stale))
    assert all(reason.strip() for reason in ALLOWED.values())


if __name__ == "__main__":
    rows = unset_options()
    for m, f, p in rows:
        print(f"{m}:{f}({p}=)" + ("   [allowed]" if (m, f, p) in ALLOWED else ""))
    print(len(rows), "unset;", len(library_options()), "defaulted", file=sys.stderr)
