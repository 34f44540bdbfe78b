"""Every name a ddsketch_ruby_spark module lists in ``__all__`` resolves.

A deleted function whose name stays in ``__all__`` breaks
``from module import *`` and misleads readers; this catches it for every
module in the package, not only the ones a test happens to import."""

import importlib
import pkgutil

import ddsketch_ruby_spark


def _modules():
    yield ddsketch_ruby_spark
    for info in pkgutil.walk_packages(
        ddsketch_ruby_spark.__path__, prefix="ddsketch_ruby_spark."
    ):
        yield importlib.import_module(info.name)


def test_every_all_name_resolves():
    exported = 0
    missing = []
    for mod in _modules():
        for name in getattr(mod, "__all__", ()):
            exported += 1
            if not hasattr(mod, name):
                missing.append(f"{mod.__name__}.{name}")
    assert not missing, missing
    assert exported > 100  # the walk really reached the package's modules
