"""Offline public-surface guard: every name frozen in
tests/public_surface.json must still resolve on its module. The
reference-tree parity audit (test_namespace_parity.py) skips where
the dask sources are absent; this manifest, taken while that audit
passed, keeps a deleted dask-parity name from going unnoticed.
Regenerate with ``python scripts/public_surface.py`` only when a name
is removed on purpose."""

from __future__ import annotations

import importlib
import json

import pytest

from scripts.public_surface import MANIFEST, MODULES, public_names

_FROZEN = json.loads(MANIFEST.read_text())


def test_manifest_covers_every_module():
    assert sorted(_FROZEN) == sorted(MODULES)


@pytest.mark.parametrize("name", MODULES)
def test_public_names_still_resolve(name):
    # a submodule is an attribute of its package only once imported,
    # as when the manifest was taken
    for m in MODULES:
        importlib.import_module(m)
    mod = importlib.import_module(name)
    missing = [n for n in _FROZEN[name] if not hasattr(mod, n)]
    assert not missing, (
        f"{name} lost {len(missing)} public names: {missing}"
    )


def test_import_helpers_are_not_public():
    """The filter drops what a module imported for its own use, and
    keeps plain values and numpy re-exports of the dask surface."""
    import dask_spark.array as da
    import dask_spark.utils as du

    names = set(public_names(da))
    assert {"nan", "newaxis", "float64", "lib", "sum", "from_array"} <= names
    assert not {"F", "math", "annotations", "Sequence"} & names
    assert not {"os", "Any"} & set(public_names(du))
