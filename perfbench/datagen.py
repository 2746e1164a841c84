"""Seeded star-schema tables and corpora from the repository's generator
(``tools/gen_testdata.generate``), imported unchanged."""

from __future__ import annotations

import importlib.util
import os

from .harness import REPO


def tables(out_root: str, sf: float, seed: int) -> str:
    """Write every table at scale ``sf``; returns the sf directory."""
    path = os.path.join(REPO, "tools", "gen_testdata.py")
    spec = importlib.util.spec_from_file_location("gen_testdata", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.generate(out_root, sf, seed)
