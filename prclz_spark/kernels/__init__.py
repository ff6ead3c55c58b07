"""Geometry and graph kernels. `planar_fast` is the optional C module behind
their inner loops (kernels/planar_fast.c, built by tools/build_native.py);
every entry point has a bit-exact pure-Python fallback."""

from __future__ import annotations

import importlib
import logging
import warnings

log = logging.getLogger(__name__)


def load_native(user: str, required: str | None = None):
    """The planar_fast module, or None when it does not import or lacks the
    `required` entry point (a stale build). The fallback is loud: the
    pure-Python loops run about 13x slower, so it warns and logs, naming
    `user`. Each user calls this once, at import, so each warns once."""
    try:
        mod = importlib.import_module(".planar_fast", __name__)
        if required is not None and not hasattr(mod, required):
            raise ImportError(f"stale build without {required!r}")
        return mod
    except ImportError as ex:  # missing, incompatible (dlopen) or stale build
        msg = (
            f"{user}: native planar_fast kernels unavailable ({type(ex).__name__}: {ex}); "
            "using the pure-Python fallback, about 13x slower"
        )
        warnings.warn(msg, RuntimeWarning, stacklevel=2)
        log.warning(msg)
        return None
