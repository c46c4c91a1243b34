"""The per-layer tracer (``perfbench/trace.py``) wraps engine functions
by name; a rename in the engine must fail here, not mid-way through a
traced benchmark run."""

import importlib

from perfbench.trace import LAYERS, PKG


def test_traced_functions_exist():
    missing = [f"{layer}.{fn}" for layer, fns in LAYERS.items()
               for fn in fns
               if not callable(getattr(importlib.import_module(f"{PKG}.{layer}"),
                                       fn, None))]
    assert not missing
