"""Every top-level definition in the library has a caller outside the
tests.

A function that only ``tests/`` call is code the product never runs:
it widens the library and its tests guard nothing a user sees.  This
guard parses the checkout and walks names from the roots, the code
that runs in production:

- every file outside ``medtype_spark/`` that is not a test
  (``tools/``, ``perfbench/``, ``bench*.py``, ``__spark_entry__.py``);
- ``medtype_spark/queries.py`` and ``medtype_spark/oracles.py``, whole;
- the module-level code of every other library module: each top-level
  statement that is not a function or class definition.

A root that names a top-level ``medtype_spark/`` function or class (a
load of ``name`` or ``obj.name``) reaches it, and a reached definition
reaches every name in its own source, decorators and defaults
included.  Imports are not uses, so neither is a re-export in a
package's ``__init__.py``.  Names are matched without their module,
which over-counts when two definitions share a name; the guard errs
towards passing.

The guard fails on each definition that no root reaches, unless
``ALLOWED_UNREACHED`` names it with a reason, and on a stale
``ALLOWED_UNREACHED`` entry.  Run ``python tests/test_reachable.py``
to list the unreached definitions.  No Spark is needed.
"""
from __future__ import annotations

import ast
import os

from test_options_have_callers import LIBRARY, _checkout_trees, _is_test

ROOT_MODULES = ("queries.py", "oracles.py")
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)

_REFERENCE = ("the plain-Python reference that a test compares the "
              "Spark implementation against")
ALLOWED_UNREACHED = {
    ("dedup/minhash.py", "minhash_signatures"):
        _REFERENCE + " (the explode + groupBy form that "
        "minhash_signatures_local must equal)",
    ("functions/text.py", "clean_text_py"): _REFERENCE,
    ("functions/text.py", "collapse_char_py"): _REFERENCE,
}

def _names(node):
    """Every name ``node`` loads: ``name`` and the ``attr`` of
    ``obj.attr``."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
            out.add(n.id)
        elif isinstance(n, ast.Attribute) and isinstance(n.ctx, ast.Load):
            out.add(n.attr)
    return out


def _split(trees):
    """({(module, name): names its source loads} of the checked
    definitions, names the roots load)."""
    defs, roots = {}, set()
    for rel, tree in trees.items():
        if _is_test(rel):
            continue
        if not rel.startswith(LIBRARY + os.sep):
            roots |= _names(tree)
            continue
        module = os.path.relpath(rel, LIBRARY).replace(os.sep, "/")
        if module in ROOT_MODULES:
            roots |= _names(tree)
            continue
        for stmt in tree.body:
            if isinstance(stmt, _DEFS):
                defs[(module, stmt.name)] = _names(stmt)
            else:
                roots |= _names(stmt)
    return defs, roots


def unreached(trees):
    """Sorted (module, name) of every checked definition no root
    reaches."""
    defs, reached = _split(trees)
    by_name = {}
    for key, uses in defs.items():
        by_name.setdefault(key[1], []).append(uses)
    frontier = set(reached)
    while frontier:
        new = set()
        for name in frontier:
            for uses in by_name.pop(name, ()):
                new |= uses
        frontier = new - reached
        reached |= new
    return sorted(key for key in defs if key[1] not in reached)


def allowlist_problems(trees, allowed):
    """(unreached definitions ``allowed`` does not name, ``allowed``
    entries that are reached or gone)."""
    found = unreached(trees)
    return ([k for k in found if k not in allowed],
            sorted(set(allowed) - set(found)))


# the rule on canned sources: library module m.py, one caller per case
_CANNED_LIBRARY = """
import os

LIMIT = helper_for_module_code(3)

def helper_for_module_code(n):
    return n

def used_by_tool(x):
    return inner(x)

def inner(x):
    return x

def used_by_test():
    pass

class Sink:
    def write(self):
        return inner(1)
"""


def _problems_given(files, allowed=None):
    trees = {os.path.join(LIBRARY, "m.py"): ast.parse(_CANNED_LIBRARY)}
    trees.update({path.replace("/", os.sep): ast.parse(src) for path, src in files.items()})
    return allowlist_problems(trees, allowed or {})


def test_a_definition_reached_only_from_the_tests_fails():
    caller = "from medtype_spark.m import used_by_test, Sink\nused_by_test()\nSink().write()"
    for path in ("tests/test_m.py", "tests/conftest.py", "perfbench/test_smoke.py"):
        missing, _ = _problems_given({path: caller})
        assert ("m.py", "used_by_test") in missing, path
        assert ("m.py", "Sink") in missing, path


def test_a_tool_reaches_and_so_does_a_reached_definition():
    missing, _ = _problems_given({"tools/job.py": "m.used_by_tool(1)\nSink()"})
    # used_by_tool by attribute, inner through it, Sink by name, and
    # helper_for_module_code from the library's own module-level code
    assert missing == [("m.py", "used_by_test")]
    # a perfbench module that is not a test, and the query registry,
    # are roots too
    for path in ("perfbench/run.py", f"{LIBRARY}/queries.py"):
        missing, _ = _problems_given({path: "used_by_tool(1)"})
        assert ("m.py", "inner") not in missing, path


def test_an_import_or_reexport_is_not_a_use():
    reexport = "from medtype_spark.m import used_by_tool, inner  # noqa: F401\n"
    for path in (f"{LIBRARY}/__init__.py", "tools/job.py"):
        missing, _ = _problems_given({path: reexport})
        assert {("m.py", "used_by_tool"), ("m.py", "inner")} <= set(missing), path


def test_a_stale_allowlist_entry_fails():
    allowed = {("m.py", "used_by_test"): "reason", ("m.py", "used_by_tool"): "reason",
               ("m.py", "gone"): "reason"}
    missing, stale = _problems_given({"tools/job.py": "used_by_tool(1)"}, allowed)
    assert ("m.py", "used_by_test") not in missing
    assert stale == [("m.py", "gone"), ("m.py", "used_by_tool")]


def test_every_library_definition_is_reached():
    missing, stale = allowlist_problems(_checkout_trees(), ALLOWED_UNREACHED)
    assert not missing, (
        "library definitions that only the tests reach; give each a caller "
        "outside the tests, move it into the test that uses it, or delete it:\n"
        + "\n".join(f"  {m}:{n}" for m, n in missing))
    assert not stale, (
        "ALLOWED_UNREACHED entries that a root now reaches, or that are gone:\n"
        + "\n".join(f"  {m}:{n}" for m, n in stale))
    assert all(reason.strip() for reason in ALLOWED_UNREACHED.values())


if __name__ == "__main__":
    for m, n in unreached(_checkout_trees()):
        print(f"{m}:{n}" + ("   [allowed]" if (m, n) in ALLOWED_UNREACHED else ""))
