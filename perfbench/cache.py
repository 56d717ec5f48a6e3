"""Seed-independent generated data, built once per checkout."""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable


def build_once(path: str, build: Callable[[str], object]) -> str:
    """Return ``path``, first calling ``build(tmp)`` and renaming ``tmp``
    to ``path`` when it does not exist yet, so a run that dies halfway
    never leaves a partial directory behind under ``path``."""
    if not os.path.isdir(path):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        build(tmp)
        try:
            os.rename(tmp, path)
        except OSError:  # another run finished first
            shutil.rmtree(tmp, ignore_errors=True)
    return path
