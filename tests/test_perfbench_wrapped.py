"""perfbench's traced mode wraps engine functions by name: every name it
lists must resolve, or each ``--trace 1`` run fails at startup."""

from __future__ import annotations

import importlib
import importlib.util
import os

RUN_PY = os.path.join(os.path.dirname(__file__), os.pardir, "perfbench", "run.py")


def test_every_wrapped_engine_function_resolves():
    spec = importlib.util.spec_from_file_location("perfbench_run", RUN_PY)
    run = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(run)
    assert run.WRAPPED
    for module, _prefix, names in run.WRAPPED:
        mod = importlib.import_module(module)
        for name in names:
            assert callable(getattr(mod, name, None)), f"{module}.{name}"
