"""The benchmark's traced run (``perfbench/run.py --trace 1``) wraps
package functions and methods by attribute name. A rename or move in
the package must fail here, not only crash a traced benchmark run."""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

PERFBENCH = Path(__file__).resolve().parents[1] / "perfbench"


def _load(name: str):
    spec = importlib.util.spec_from_file_location(
        f"perfbench_{name}", PERFBENCH / f"{name}.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_tracer_installs_and_restores_every_traced_name(monkeypatch):
    monkeypatch.setattr(sys, "path", list(sys.path))  # run.py prepends its dir
    spans, run = _load("spans"), _load("run")
    tracer = spans.Tracer(lambda: 0)
    try:
        tracer.install(run.package_modules())
        patched = list(tracer._patched)
        assert patched
        for owner, attr, orig in patched:
            assert vars(owner)[attr] is not orig, (owner, attr)
    finally:
        tracer.uninstall()
    for owner, attr, orig in patched:
        assert vars(owner)[attr] is orig, (owner, attr)
