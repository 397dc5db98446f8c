"""The library's callers still bind to its signatures.

``perfbench/`` is the benchmark's own directory and changes only with
the benchmark, yet it calls ``run_linkage``, ``fused_mention_scan``,
``block_pairs`` and other library functions directly.  The query
registry (``medtype_spark/queries.py``), the driver entry point, the
bench scripts and ``tools/`` call into the library too, and most
queries run only under ``tools/check_oracles.py``, not in tier-1.
This guard parses those files and binds every call of a name imported
from ``medtype_spark`` to the function's current signature (the
call's positional count and keyword names), and checks that each
workload's ``linkage`` and ``datagen`` settings in
``perfbench/spec.json`` are parameters of ``run_linkage`` and
``synth_pages``.  No Spark is needed.
"""
from __future__ import annotations

import ast
import glob
import importlib
import inspect
import json
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
CALLERS = ("perfbench/*.py", "medtype_spark/queries.py", "__spark_entry__.py",
           "bench*.py", "tools/*.py")

# the library functions the benchmark is known to call; the guard fails
# if the parse stops finding any of them
EXPECTED = {
    "run_linkage", "fused_mention_scan", "block_pairs", "connected_components",
    "jaro_winkler_udf", "evaluate_linkage", "synth_pages", "build_lexicon",
    "entity_types_df", "get_spark",
}


def _library_calls():
    """(file, line, function, call node) for every call in ``CALLERS``
    of a name imported from medtype_spark."""
    paths = sorted({p for pattern in CALLERS for p in glob.glob(os.path.join(ROOT, pattern))})
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), filename=path)
        imported = {}
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(
                "medtype_spark"
            ):
                mod = importlib.import_module(node.module)
                for alias in node.names:
                    imported[alias.asname or alias.name] = getattr(mod, alias.name)
            elif isinstance(node, ast.Import):
                assert not any(a.name.startswith("medtype_spark") for a in node.names), (
                    f"{path}:{node.lineno}: module import of the library; "
                    "extend this guard to follow attribute calls")
        for node in ast.walk(tree):
            if isinstance(node, ast.Call) and isinstance(node.func, ast.Name):
                fn = imported.get(node.func.id)
                if callable(fn):
                    yield os.path.relpath(path, ROOT), node.lineno, fn, node


def test_benchmark_calls_bind_to_library_signatures():
    seen = set()
    for rel, line, fn, call in _library_calls():
        if rel.startswith("perfbench" + os.sep):
            seen.add(fn.__name__)
        n_pos = sum(not isinstance(a, ast.Starred) for a in call.args)
        names = [kw.arg for kw in call.keywords if kw.arg is not None]
        # *args / **kwargs may supply any missing argument: bind partially
        spread = len(names) < len(call.keywords) or n_pos < len(call.args)
        sig = inspect.signature(fn)
        bind = sig.bind_partial if spread else sig.bind
        try:
            bind(*[None] * n_pos, **dict.fromkeys(names))
        except TypeError as exc:
            raise AssertionError(f"{rel}:{line}: {fn.__name__}{sig}: {exc}") from None
    assert EXPECTED <= seen, sorted(EXPECTED - seen)


def test_spec_settings_are_parameters():
    from medtype_spark.datagen.pages import synth_pages
    from medtype_spark.pipeline import run_linkage

    with open(os.path.join(BENCH, "spec.json"), encoding="utf-8") as fh:
        workloads = json.load(fh)["workloads"]
    assert workloads
    for section, fn in (("linkage", run_linkage), ("datagen", synth_pages)):
        params = inspect.signature(fn).parameters
        for name, spec in workloads.items():
            unknown = set(spec[section]) - set(params)
            assert not unknown, f"{name}.{section}: {sorted(unknown)} not in {fn.__name__}"
