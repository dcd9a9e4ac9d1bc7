"""Seeded inputs for the benchmark workloads.

Tables come from the repository's own generator (``tools/gen_sf.py``),
with its seed set from the benchmark's ``--seed``.
"""

from __future__ import annotations

import contextlib
import importlib.util
import os
import shutil
import sys

DOCS_PER_SF = 50_000  # gen_sf's documents rows at sf=1


def load_generator(root: str):
    """Import ``tools/gen_sf.py`` from the checkout at ``root``."""
    spec = importlib.util.spec_from_file_location(
        "gen_sf", os.path.join(root, "tools", "gen_sf.py")
    )
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    # generate() ends by invalidating the engine's guard and count
    # memos. The benchmark generates before any session exists and
    # calls no memo or cache helper, so that hook is not run.
    gen._invalidate_guard_memos = lambda: None
    return gen


def generate_tables(gen, seed: int, sf: float, out: str, tables=None) -> None:
    """gen_sf tables at ``sf`` (``tables``: a subset, or all) into
    ``out``, drawn from ``seed``."""
    gen.SEED = seed
    gen.TABLES_WANTED = set(tables) if tables else None
    with contextlib.redirect_stdout(sys.stderr):
        gen.generate(sf, out)


def copy_tables(src: str, dst: str) -> str:
    """A byte-identical copy of a table directory under a new path,
    so that no per-input memo filled on ``src`` applies to it."""
    shutil.copytree(src, dst)
    return dst
