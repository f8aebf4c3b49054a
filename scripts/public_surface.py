"""Freeze the public names of the dask-parity modules into a JSON
manifest, the offline guard behind tests/test_public_surface.py.

A public name is a non-underscore entry of the module's ``dir()``
(which includes names served by a module ``__dir__``/``__getattr__``),
minus what the module merely imported for its own use: standard-library
and pyspark modules and objects, and ``__future__`` features. Plain
values (``nan``, ``newaxis``) and numpy re-exports (dtypes, ``lib``)
are part of the dask surface and are kept.

Usage: python scripts/public_surface.py [out.json]
(default out: tests/public_surface.json). Regenerate only when a name
is removed on purpose, and say which in the change's notes.
"""

from __future__ import annotations

import importlib
import json
import sys
import types
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

MODULES = (
    "dask_spark", "dask_spark.array", "dask_spark.dataframe",
    "dask_spark.bag", "dask_spark.utils", "dask_spark.diagnostics",
)
MANIFEST = Path(__file__).resolve().parent.parent / "tests" / \
    "public_surface.json"
_PRIVATE_HOMES = set(sys.stdlib_module_names) | {"pyspark", "__future__"}


def _home(value) -> str:
    if isinstance(value, types.ModuleType):
        return value.__name__
    return getattr(value, "__module__", None) or ""


def public_names(mod) -> list[str]:
    return sorted(
        n for n in dir(mod)
        if not n.startswith("_")
        and _home(getattr(mod, n)).split(".")[0] not in _PRIVATE_HOMES
    )


def surface() -> dict[str, list[str]]:
    mods = [importlib.import_module(m) for m in MODULES]
    return {m.__name__: public_names(m) for m in mods}


if __name__ == "__main__":
    out = Path(sys.argv[1]) if len(sys.argv) > 1 else MANIFEST
    out.write_text(json.dumps(surface(), indent=1) + "\n")
    print(f"wrote {out}")
