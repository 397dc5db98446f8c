"""Every defaulted parameter in the library has a caller that sets it.

A default that no call site ever overrides is a constant with extra
syntax: it widens the API, and any branch that only it can select is
untested code.  This guard parses ``medtype_spark/`` (except
``oracles.py``, the DuckDB spec) and every call in the checkout, and
fails on each defaulted parameter that no same-named call sets, unless
``ALLOWED`` names it with a reason.  It also fails on a stale
``ALLOWED`` entry.

A call sets a parameter when it passes, by keyword or by position, a
literal that is not equal to the default (both read with
``ast.literal_eval``) or any non-literal expression, or when it spreads
``*args`` (positional parameters) or ``**kwargs``.  A ``**kwargs``
spread sets only the keys of a workload's ``linkage`` and ``datagen``
settings in ``perfbench/spec.json``: every spread outside the tests
carries one of those dicts.  Passing the default itself sets nothing,
and a call in ``tests/`` or ``perfbench/test_*.py`` sets nothing at
all: a test exercises an option, it does not need it.  Calls are
matched by name only (``f(...)`` and ``obj.f(...)``), which
over-counts when two functions share a name; the guard errs towards
passing.

Run ``python tests/test_options_have_callers.py`` to list the unset
parameters, each with the ``file:line`` of every call that passes it
its default.  No Spark is needed.
"""
from __future__ import annotations

import ast
import fnmatch
import json
import os
import sys
from functools import lru_cache

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LIBRARY = "medtype_spark"
SPEC = os.path.join(LIBRARY, "oracles.py")
SKIP_DIRS = {".git", ".work", "__pycache__"}
TEST_FILES = ("tests/*", "perfbench/test_*.py")

ALLOWED = {
    ("pipeline.py", "run_linkage", "with_candidate_filter"):
        "the only reader of run_linkage's entity_types, which perfbench passes "
        "to every run; goes when a benchmark change stops passing it",
    ("sources/pages_table.py", "write_pages_table", "mode"):
        "deployment setting: append to or replace an existing table",
    ("evaluation/annotations.py", "write_annotation_tsv", "mode"):
        "deployment setting: append to or replace an existing output",
}


def spread_keys():
    """The keys a ``**kwargs`` spread can carry: every workload's
    ``linkage`` and ``datagen`` settings."""
    with open(os.path.join(ROOT, "perfbench", "spec.json"), encoding="utf-8") as fh:
        workloads = json.load(fh)["workloads"].values()
    return frozenset(k for w in workloads for group in ("linkage", "datagen")
                     for k in w.get(group, {}))


def _is_test(rel):
    return any(fnmatch.fnmatch(rel.replace(os.sep, "/"), p) for p in TEST_FILES)


def _checkout_trees():
    """{path relative to the checkout: parsed module} of every .py file."""
    trees = {}
    for dirpath, dirnames, filenames in os.walk(ROOT):
        dirnames[:] = sorted(d for d in dirnames if d not in SKIP_DIRS)
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                rel = os.path.relpath(path, ROOT)
                with open(path, encoding="utf-8") as fh:
                    trees[rel] = ast.parse(fh.read(), filename=rel)
    return trees


_NOT_LITERAL = object()


def _literal(node):
    """The value of a literal expression, or ``_NOT_LITERAL``."""
    try:
        return ast.literal_eval(node)
    except (ValueError, TypeError, SyntaxError, MemoryError, RecursionError):
        return _NOT_LITERAL


def _is_default(node, default):
    value = _literal(node)
    return (value is not _NOT_LITERAL and default is not _NOT_LITERAL
            and type(value) is type(default) and value == default)


def _defaulted(fn):
    """(name, positional index or None, default value) of each defaulted
    parameter."""
    a = fn.args
    positional = a.posonlyargs + a.args
    first = len(positional) - len(a.defaults)
    out = [(p.arg, i, _literal(a.defaults[i - first]))
           for i, p in enumerate(positional) if i >= first]
    out += [(p.arg, None, _literal(d)) for p, d in zip(a.kwonlyargs, a.kw_defaults)
            if d is not None]
    return out


def library_options(trees):
    """[(module, function, parameter, positional index, default, is_method)]."""
    out = []
    for rel, tree in trees.items():
        if not rel.startswith(LIBRARY + os.sep) or rel == SPEC:
            continue
        module = os.path.relpath(rel, LIBRARY).replace(os.sep, "/")
        methods = {id(f) for c in ast.walk(tree) if isinstance(c, ast.ClassDef)
                   for f in c.body
                   if isinstance(f, (ast.FunctionDef, ast.AsyncFunctionDef))}
        for fn in ast.walk(tree):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for name, index, default in _defaulted(fn):
                    out.append((module, fn.name, name, index, default,
                                id(fn) in methods))
    return out


def call_sites(trees):
    """{callee name: [(file:line, positional args before any *args, has
    *args, {keyword: arg}, has **kwargs)]} of every call outside the
    tests."""
    sites = {}
    for rel, tree in trees.items():
        if _is_test(rel):
            continue
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.id if isinstance(f, ast.Name) else (
                f.attr if isinstance(f, ast.Attribute) else None)
            if name is None:
                continue
            star = next((i for i, a in enumerate(node.args)
                         if isinstance(a, ast.Starred)), None)
            positional = node.args if star is None else node.args[:star]
            kws = {k.arg: k.value for k in node.keywords if k.arg is not None}
            dstar = any(k.arg is None for k in node.keywords)
            sites.setdefault(name, []).append(
                (f"{rel}:{node.lineno}", positional, star is not None, kws, dstar))
    return sites


def unset_options(trees, spread):
    """[(module, function, parameter, [file:line of each call that passes
    the default])] of every defaulted parameter that no call sets;
    ``spread`` holds the parameters a ``**kwargs`` spread sets."""
    sites = call_sites(trees)
    unset = []
    for module, fn, param, index, default, is_method in library_options(trees):
        pos = None if index is None else index - (1 if is_method else 0)
        is_set, passes_default = False, []
        for where, positional, star, kws, dstar in sites.get(fn, ()):
            arg = kws.get(param)
            if arg is None and pos is not None and 0 <= pos < len(positional):
                arg = positional[pos]
            if (dstar and param in spread) or (star and pos is not None and arg is None):
                is_set = True
            elif arg is not None:
                if not _is_default(arg, default):
                    is_set = True
                else:
                    passes_default.append(where)
            if is_set:
                break
        if not is_set:
            unset.append((module, fn, param, passes_default))
    return unset


@lru_cache(maxsize=1)
def checkout_unset() -> tuple:
    return tuple((m, f, p, tuple(w))
                 for m, f, p, w in unset_options(_checkout_trees(), spread_keys()))


def _unset_keys():
    return {(m, f, p) for m, f, p, _where in checkout_unset()}


# the rule on canned sources: one library function, one caller per case
_CANNED_LIBRARY = """
def f(df, a=3, b="x", *, c=None):
    pass

class K:
    def g(self, k=5):
        pass
"""


def _unset_given(caller, path="caller.py", spread=frozenset()):
    trees = {os.path.join(LIBRARY, "m.py"): ast.parse(_CANNED_LIBRARY),
             path: ast.parse(caller)}
    return {(f, p): where for _m, f, p, where in unset_options(trees, spread)}


def test_the_default_sets_nothing():
    every = {("f", "a"), ("f", "b"), ("f", "c"), ("g", "k")}
    assert set(_unset_given("f(df)\nK().g()")) == every
    # the default, by position and by keyword
    got = _unset_given("f(df, 3, 'x')\nf(df, a=3, b='x', c=None)\nK().g(5)")
    assert set(got) == every
    assert got[("f", "a")] == ["caller.py:1", "caller.py:2"]
    assert got[("f", "c")] == ["caller.py:2"]
    assert got[("g", "k")] == ["caller.py:3"]
    # an equal value of another type is not the default
    assert ("f", "a") not in _unset_given("f(df, 3.0)")


def test_a_different_literal_a_name_or_a_spread_sets():
    assert set(_unset_given("f(df, 4)\nK().g(k=6)")) == {("f", "b"), ("f", "c")}
    assert set(_unset_given("f(df, b=name, c=-1)")) == {("f", "a"), ("g", "k")}
    assert set(_unset_given("f(df, 3, c=x.y)")) == {("f", "a"), ("f", "b"), ("g", "k")}
    # *args covers every positional parameter
    assert set(_unset_given("f(*args)\nK().g(*args)")) == {("f", "c")}


def test_a_spread_sets_only_the_spec_keys():
    every = {("f", "a"), ("f", "b"), ("f", "c"), ("g", "k")}
    assert set(_unset_given("f(df, **kw)\nK().g(**kw)")) == every
    got = _unset_given("f(df, **kw)\nK().g(**kw)", spread=frozenset({"a", "c"}))
    assert set(got) == {("f", "b"), ("g", "k")}
    # the checkout's spread keys are the workloads' linkage and datagen
    # settings, run_linkage's and synth_pages' parameters
    assert {"type_scorer", "matcher", "hot_threshold", "target_cell",
            "cc_small_graph_threshold", "mentions_per_page"} <= spread_keys()


def test_a_call_in_the_tests_sets_nothing():
    every = {("f", "a"), ("f", "b"), ("f", "c"), ("g", "k")}
    caller = "f(df, 4, b=name, c=-1)\nK().g(k=6)\nf(*args, **kw)"
    assert set(_unset_given(caller)) == set()
    for path in (os.path.join("tests", "test_m.py"), os.path.join("tests", "conftest.py"),
                 os.path.join("perfbench", "test_smoke.py")):
        got = _unset_given(caller, path, spread=frozenset({"a", "b", "c", "k"}))
        assert set(got) == every, path
    # a perfbench module that is not a test still calls
    assert set(_unset_given(caller, os.path.join("perfbench", "run.py"))) == set()


def test_every_defaulted_parameter_has_a_caller():
    missing = sorted(_unset_keys() - set(ALLOWED))
    assert not missing, (
        "defaulted parameters that no call site sets to anything but the "
        "default; make each the constant it always is, or add a caller:\n"
        + "\n".join(f"  {m}:{f}({p}=)" for m, f, p in missing))


def test_allowlist_is_current():
    stale = sorted(set(ALLOWED) - _unset_keys())
    assert not stale, (
        "allowlisted parameters that are now set by a caller or gone:\n"
        + "\n".join(f"  {m}:{f}({p}=)" for m, f, p in stale))
    assert all(reason.strip() for reason in ALLOWED.values())


if __name__ == "__main__":
    rows = checkout_unset()
    for m, f, p, where in rows:
        line = f"{m}:{f}({p}=)" + ("   [allowed]" if (m, f, p) in ALLOWED else "")
        if where:
            line += "   default passed at " + ", ".join(where)
        print(line)
    print(len(rows), "unset;", len(library_options(_checkout_trees())), "defaulted",
          file=sys.stderr)
