"""Test-only loader for the reference's pure-Python algorithm modules.

Loads ``REFERENCE``/pdfplumber/{utils/*,table.py} under a synthetic
package name with pdfminer stubbed, so tests can differential-check our
vectorized kernels against the reference semantics as an executable spec.
Used ONLY by tests — the engine itself never imports the reference.
"""

from __future__ import annotations

import importlib
import os
import sys
import types

# the reference checkout: its pdfplumber sources, tests and fixture PDFs
REFERENCE = os.environ.get("SPARK_GRAFT_REFERENCE", "/root/reference")
REF_PATH = os.path.join(REFERENCE, "pdfplumber")
PKG = "refpp"


def _ensure_pdfminer_stub() -> None:
    if "pdfminer" in sys.modules:
        return
    pdfminer = types.ModuleType("pdfminer")
    pdftypes = types.ModuleType("pdfminer.pdftypes")
    psparser = types.ModuleType("pdfminer.psparser")
    putils = types.ModuleType("pdfminer.utils")

    class PDFObjRef:  # noqa: D401 - stub
        def resolve(self):
            return None

    class PSLiteral:
        def __init__(self, name):
            self.name = name

    pdftypes.PDFObjRef = PDFObjRef
    psparser.PSLiteral = PSLiteral
    putils.PDFDocEncoding = {i: chr(i) for i in range(256)}
    pdfminer.pdftypes = pdftypes
    pdfminer.psparser = psparser
    pdfminer.utils = putils
    sys.modules["pdfminer"] = pdfminer
    sys.modules["pdfminer.pdftypes"] = pdftypes
    sys.modules["pdfminer.psparser"] = psparser
    sys.modules["pdfminer.utils"] = putils


def _ensure_pkg() -> None:
    if PKG in sys.modules:
        return
    _ensure_pdfminer_stub()
    pkg = types.ModuleType(PKG)
    pkg.__path__ = [REF_PATH]
    sys.modules[PKG] = pkg
    utils_pkg = types.ModuleType(f"{PKG}.utils")
    utils_pkg.__path__ = [f"{REF_PATH}/utils"]
    sys.modules[f"{PKG}.utils"] = utils_pkg


def ref_module(name: str):
    """Import e.g. 'utils.clustering', 'utils.text', 'table'."""
    _ensure_pkg()
    return importlib.import_module(f"{PKG}.{name}")


def ref_utils():
    """A namespace object equivalent to `pdfplumber.utils` for table.py."""
    _ensure_pkg()
    full = f"{PKG}.utils"
    mod = sys.modules[full]
    if not hasattr(mod, "cluster_objects"):
        for sub in ("clustering", "generic", "geometry", "text"):
            m = importlib.import_module(f"{full}.{sub}")
            for k in dir(m):
                if not k.startswith("_"):
                    setattr(mod, k, getattr(m, k))
    return mod


def ref_table():
    """Load reference table.py (needs `from . import utils` to resolve)."""
    ref_utils()
    return ref_module("table")
