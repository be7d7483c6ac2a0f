"""Every module under ``bytehub_spark`` imports, and every name in each
module's ``__all__`` resolves: a re-export of a deleted name or an import
of a deleted module fails here, also in a module no other test imports."""

import importlib
import pkgutil

import pytest

import bytehub_spark

MODULES = sorted(
    m.name
    for m in pkgutil.walk_packages(bytehub_spark.__path__, bytehub_spark.__name__ + ".")
)


def test_every_module_is_found():
    assert {"bytehub_spark.core", "bytehub_spark.sources.tables"} <= set(MODULES)


@pytest.mark.parametrize("name", ["bytehub_spark", *MODULES])
def test_module_imports_and_exports_resolve(name):
    module = importlib.import_module(name)
    missing = [n for n in getattr(module, "__all__", ()) if not hasattr(module, n)]
    assert not missing, f"{name}.__all__ names missing attributes: {missing}"
