"""Spans and counters recorded from the benchmark's side of each call
into the engine.

``Spans`` accumulates seconds and counts per metric name for the pass in
progress. ``patch_calls`` swaps a public engine function for a wrapper
in every engine module that imported it, for the traced passes only.
"""

from __future__ import annotations

import sys
import time
from collections import defaultdict
from contextlib import contextmanager


class Spans:
    def __init__(self):
        self._pass: dict[str, float] = defaultdict(float)

    @contextmanager
    def __call__(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._pass[name] += time.perf_counter() - t0

    def add(self, name: str, value: float = 1) -> None:
        self._pass[name] += value

    def take(self) -> dict[str, float]:
        """The pass's spans and counts; starts the next pass empty."""
        out = dict(self._pass)
        self._pass.clear()
        return out


def patch_calls(package: str, func, wrapper) -> list[tuple[object, str]]:
    """Point every ``package`` module attribute bound to ``func`` at
    ``wrapper``; returns what ``unpatch`` needs to undo it."""
    patched = []
    for name, mod in list(sys.modules.items()):
        if mod is None or not (name == package or name.startswith(package + ".")):
            continue
        for attr, val in list(vars(mod).items()):
            if val is func:
                setattr(mod, attr, wrapper)
                patched.append((mod, attr))
    return patched


def unpatch(patched: list[tuple[object, str]], func) -> None:
    for mod, attr in patched:
        setattr(mod, attr, func)
