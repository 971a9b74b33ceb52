"""Catalog registry invariants: one registration path that refuses a
duplicate name, and a query order that does not depend on the order in
which the family modules are imported."""

import json
import os
import subprocess
import sys
import textwrap

import pytest

# Prints the registry built by importing the family modules in reverse
# name order, as JSON: the QUERIES order and every oracle. A bare
# package module stands in for the package __init__, so nothing else
# imports them first; the window is rotated by hand.
_REVERSED_IMPORT = textwrap.dedent(
    """
    import importlib, importlib.util, json, pkgutil, sys, types

    PKG = "knime_core_columnar_spark.catalog"
    spec = importlib.util.find_spec(PKG)
    stub = types.ModuleType(PKG)
    stub.__path__ = list(spec.submodule_search_locations)
    sys.modules[PKG] = stub
    families = sorted(
        m.name for m in pkgutil.iter_modules(stub.__path__)
        if m.name not in ("_registry", "rotation")
    )
    for fam in reversed(families):
        importlib.import_module(f"{PKG}.{fam}")
    importlib.import_module(f"{PKG}.rotation").rotate_window()
    reg = importlib.import_module(f"{PKG}._registry")
    print(json.dumps({"order": list(reg.QUERIES), "oracles": reg.ORACLES}))
    """
)


def test_query_rejects_duplicate_name():
    from knime_core_columnar_spark.catalog import _registry

    name = next(iter(_registry.QUERIES))
    fn, oracle = _registry.QUERIES[name], _registry.ORACLES[name]
    with pytest.raises(ValueError, match=name):
        _registry.query(name, "SELECT 1")(lambda spark, sf_dir: None)
    assert _registry.QUERIES[name] is fn
    assert _registry.ORACLES[name] == oracle


def test_registry_independent_of_family_import_order():
    from knime_core_columnar_spark import catalog

    out = subprocess.run(
        [sys.executable, "-c", _REVERSED_IMPORT],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        check=True, capture_output=True, text=True,
    ).stdout
    reverse = json.loads(out.strip().splitlines()[-1])
    assert reverse["order"] == list(catalog.QUERIES)
    assert reverse["oracles"] == catalog.ORACLES
    assert reverse["order"] == sorted(
        catalog.QUERIES, key=lambda n: (catalog.EVIDENCE.get(n, 0), n)
    )
