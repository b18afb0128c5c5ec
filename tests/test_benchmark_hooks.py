"""The traced benchmark run (``perfbench/run.py --trace 1``) times each
kernel layer by patching the ``(module, attr)`` pairs in
``perfbench.tracing.KERNEL_CALLS``. A rename in the package must fail here
instead of silently breaking that run."""

import importlib

import pytest

from perfbench.tracing import KERNEL_CALLS


@pytest.mark.parametrize(
    "module,attr", [(m, a) for m, a, _ in KERNEL_CALLS],
    ids=[f"{m}.{a}" for m, a, _ in KERNEL_CALLS],
)
def test_kernel_call_hook_resolves(module, attr):
    assert callable(getattr(importlib.import_module(module), attr))
