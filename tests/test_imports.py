"""Every module of the package imports cleanly, so an import of a module
that no longer exists fails here rather than at its first call."""

from __future__ import annotations

import importlib
import pkgutil

import pytest

import whoosh_novo_spark

MODULES = sorted(
    m.name
    for m in pkgutil.walk_packages(whoosh_novo_spark.__path__, "whoosh_novo_spark.")
)


def test_walk_finds_the_package():
    assert "whoosh_novo_spark.operators.query" in MODULES


@pytest.mark.parametrize("name", MODULES)
def test_module_imports(name):
    importlib.import_module(name)
