"""Build settings — mirrors the reference's BuildSettings semantics.

Reference: /root/reference/src/build/util/BuildSettings.h:160-168
(maxTiles 65535, minTileDensity 75000, rtreeBranchSize 16, zoom subset
user-chosen; tests there use ``-l 0,3,6,9,12``, test/test_save.py:20).

The reference defaults are planet-scale; fixture-scale runs pass a much
lower ``min_tile_density`` so the pyramid actually splits/merges on
60k-row inputs (same dynamics, smaller threshold).
"""

from __future__ import annotations

from dataclasses import dataclass


# Zoom subset used throughout (parent step = 3 → 64 children), matching the
# reference's own test configuration (test/test_save.py:20).
ZOOM_LEVELS: tuple[int, ...] = (12, 9, 6, 3, 0)

# Non-root zooms, deepest first — the probe order for survivor lookups
# (root, zoom 0 / tile_id 0, is every lookup's fallback).  Single source
# of truth: pyramid construction and tile_lookup must probe the SAME
# ladder or assignments silently fall back to ancestors.
LADDER: tuple[int, ...] = tuple(z for z in ZOOM_LEVELS if z > 0)

# World coordinate space: x/y are 31-bit non-negative ints ([0, 2^31)),
# analogous to the reference's int32 scaled Web-Mercator space
# (src/build/analyze/FastTileCalculator.h:31-51) shifted to be non-negative
# so integer division == floor division in every SQL dialect.
WORLD_BITS = 31
WORLD = 1 << WORLD_BITS
LEAF_ZOOM = 12          # leaf statistics grid is 4096×4096 cells
LEAF_GRID = 1 << LEAF_ZOOM
CELL_SHIFT = WORLD_BITS - LEAF_ZOOM  # 19: x >> 19 == zoom-12 column


@dataclass(frozen=True)
class BuildSettings:
    """Knobs controlling pyramid construction and tile assignment."""

    min_tile_density: int = 75_000   # reference default (BuildSettings.h:165)
    max_tiles: int = 65_535          # reference default (BuildSettings.h:162)
    zoom_levels: tuple[int, ...] = ZOOM_LEVELS
    rtree_branch_size: int = 16      # Hilbert leaf run (BuildSettings.h:166)

    @staticmethod
    def for_fixture(density: int = 500, max_tiles: int = 65_535) -> "BuildSettings":
        return BuildSettings(min_tile_density=density, max_tiles=max_tiles)


def parse_levels(s: str) -> tuple[int, ...]:
    """The build ``-l`` option: comma- or slash-separated zoom levels
    (ZoomLevelsParser.cpp:8-25 — each must be an integer 0..12;
    ``gol build -l bad`` exits 2, test_build.py:22-24).  The combined
    check mirrors the GOL spec's pyramid constraints: root level 0
    present, at most 8 levels, consecutive levels at most 3 apart (a
    tile index child mask covers 8×8 = 3 zoom steps).

    Returns the ladder in this engine's descending convention.  NOTE:
    execution is currently pinned to the reference's DEFAULT ladder
    0/3/6/9/12 (every pyramid derivation and oracle is single-sourced
    on it); any other VALID ladder raises a clear error instead of
    building a store that silently disagrees with the spec.
    """
    out: list[int] = []
    for tok in s.replace("/", ",").split(","):
        tok = tok.strip()
        try:
            v = float(tok)
        except ValueError:
            raise ValueError(
                f"Expected number (0 to 12 inclusive): {tok!r}") from None
        # bounds first: int(inf) raises OverflowError, and nan fails every
        # comparison — both must surface as the same clean ValueError
        if not 0 <= v <= 12 or v != int(v):
            raise ValueError(f"Expected number (0 to 12 inclusive): {tok!r}")
        out.append(int(v))
    levels = tuple(sorted(set(out) | {0}))
    if len(levels) > 8:
        raise ValueError(f"at most 8 zoom levels, got {len(levels)}")
    for a, b in zip(levels, levels[1:]):
        if b - a > 3:
            raise ValueError(
                f"consecutive zoom levels at most 3 apart: {a} -> {b}")
    ladder = tuple(reversed(levels))
    if ladder != ZOOM_LEVELS:
        raise ValueError(
            f"this engine is pinned to the reference default ladder "
            f"{'/'.join(map(str, reversed(ZOOM_LEVELS)))}; got "
            f"{'/'.join(map(str, levels))}")
    return ladder


def tile_id(zoom: int, col: int, row: int) -> int:
    """Pack (zoom, col, row) into one int: zoom<<24 | row<<12 | col."""
    return (zoom << 24) | (row << 12) | col


def tile_zoom(tid: int) -> int:
    return tid >> 24


def tile_col(tid: int) -> int:
    return tid & 0xFFF


def tile_row(tid: int) -> int:
    return (tid >> 12) & 0xFFF
