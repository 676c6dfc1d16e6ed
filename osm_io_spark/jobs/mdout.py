"""Regeneration-safe markdown output for the bench jobs.

`stagebench` regenerates only its measured tables, but BENCH/*.md
also carries hand-appended evidence sections (band salting, batched
kernels, conversions) that used to be silently destroyed on
regeneration (bitten in round 2 — see CLAUDE.md). Everything at and
below HAND_MARKER survives a rewrite.
"""
from __future__ import annotations

import os

HAND_MARKER = "<!-- hand-appended sections below: preserved on regeneration -->"


def write_preserving(path: str, generated: str) -> None:
    """Write ``generated`` to ``path``, preserving any previously
    hand-appended tail (the marker line and everything after it)."""
    tail = ""
    if os.path.exists(path):
        with open(path) as fh:
            old = fh.read()
        idx = old.find(HAND_MARKER)
        if idx != -1:
            tail = old[idx:]
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    if not generated.endswith("\n"):
        generated += "\n"
    with open(path, "w") as fh:
        fh.write(generated)
        if tail:
            fh.write("\n" + tail)
        else:
            # seed the marker so the NEXT regeneration has an anchor
            fh.write("\n" + HAND_MARKER + "\n")
