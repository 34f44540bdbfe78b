"""The worker-side zip-finder drop (operators/agg.py ``_drops_zip_finders``).

A wrapped per-partition function drops every ``zipimporter`` from
``sys.path_importer_cache`` once its iterator ends, closes or raises, so a
reused Python worker's next task does not re-read the archives' central
directories in ``importlib.invalidate_caches()``. Checked here without
Spark; the AST lint keeps every ``mapInArrow`` / ``mapInPandas`` call of
the library on the wrapper.
"""

import ast
import importlib
import os
import sys
import uuid
import zipfile
import zipimport
from importlib.machinery import FileFinder

import pytest

from ddsketch_ruby_spark.operators.agg import _drops_zip_finders

PACKAGE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "ddsketch_ruby_spark"
)


@pytest.fixture
def zipped_modules(tmp_path):
    """Two modules in a zip on ``sys.path``, the first one imported; yields
    (zip path, second module's name). Restores ``sys.path`` and
    ``sys.modules``."""
    tag = uuid.uuid4().hex[:8]
    first, second = f"zf_first_{tag}", f"zf_second_{tag}"
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{first}.py", "VALUE = 1\n")
        z.writestr(f"{second}.py", "VALUE = 2\n")
    saved = list(sys.path)
    sys.path.insert(0, archive)
    try:
        assert importlib.import_module(first).__file__.startswith(archive)
        assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)
        yield archive, second
    finally:
        sys.path[:] = saved
        for name in (first, second):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def _double(batches):
    for b in batches:
        yield 2 * b


@pytest.mark.parametrize("how", ["exhaust", "close", "raise"])
def test_wrapped_function_drops_only_zip_finders(zipped_modules, how):
    archive, second = zipped_modules
    wrapped = _drops_zip_finders(_double)
    if how == "exhaust":
        assert list(wrapped(iter([1, 2, 3]))) == [2, 4, 6]
    elif how == "close":
        out = wrapped(iter([1, 2, 3]))
        assert next(out) == 2
        assert any(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())
        out.close()
    else:
        with pytest.raises(TypeError):
            list(wrapped(iter([1, None])))
    finders = list(sys.path_importer_cache.values())
    assert not any(isinstance(f, zipimport.zipimporter) for f in finders)
    assert any(isinstance(f, FileFinder) for f in finders)
    assert importlib.import_module(second).__file__.startswith(archive)


def _map_calls():
    """(file:line, first argument) of every ``.mapInArrow(`` /
    ``.mapInPandas(`` call in the library."""
    for root, _, files in os.walk(PACKAGE):
        for name in sorted(files):
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("mapInArrow", "mapInPandas")
                ):
                    args = node.args or [k.value for k in node.keywords if k.arg == "func"]
                    where = f"{os.path.relpath(path, PACKAGE)}:{node.lineno}"
                    yield where, args[0] if args else None


def test_every_map_call_goes_through_the_wrapper():
    calls = list(_map_calls())
    assert calls
    bare = [
        where
        for where, fn in calls
        if not (
            isinstance(fn, ast.Call)
            and isinstance(fn.func, ast.Name)
            and fn.func.id == "_drops_zip_finders"
        )
    ]
    assert not bare, f"not wrapped by _drops_zip_finders: {bare}"
