"""The benchmark's layer tracer (perfbench/tracing.py) wraps engine
functions by module attribute name. A rename or removal of one of them
breaks every traced benchmark run, so every name it hooks must exist."""

from __future__ import annotations

import importlib.util
import os

TRACING = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "perfbench", "tracing.py")


def test_layer_hook_names_exist():
    spec = importlib.util.spec_from_file_location("perfbench_tracing",
                                                  TRACING)
    tracing = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tracing)
    hooked = []

    class Stub:
        def hook(self, module, attr, layer):
            getattr(module, attr)  # AttributeError names the missing hook
            hooked.append(f"{module.__name__.rsplit('.', 1)[-1]}.{attr}")

    tracing.install_layer_hooks(Stub())
    assert {"api.wand_topk", "phrase.phrase_topk",
            "phrase.phrase_topk_many"} <= set(hooked), hooked
