"""One scratch root per process for the stores the engine writes on the
local disk: served indexes, stream checkpoints and sinks, rollup and
snapshot tables, the package zip shipped to Python workers.

The root is created under ``tempfile.gettempdir()`` on first use and
removed with everything under it when the interpreter exits, so a
process leaves no store behind however many it built.
"""

from __future__ import annotations

import atexit
import functools
import shutil
import tempfile


@functools.cache
def _root() -> str:
    root = tempfile.mkdtemp(prefix="bosql_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


def scratch_dir(name: str) -> str:
    """A new, empty directory ``<root>/<name>_<random>``."""
    return tempfile.mkdtemp(prefix=f"{name}_", dir=_root())
