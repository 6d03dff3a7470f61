"""Local (numpy/python) compact / uncompact — reference G4/G5 semantics
(``/root/reference/geoparse/gindex.py:335-455``).

Complete sibling families roll up into their parent, iterated bottom-up:
geohash has 32 children per parent (string prefix), S2 has 4 (bit math,
``gindex.py:374-378``).  The distributed version lives in
``operators/compact.py`` as iterative DataFrame algebra; this local version
is the test oracle and the driver-side path for tiny cell sets.
"""

from __future__ import annotations

from collections import Counter

import numpy as np

from . import s2 as s2k
from .geohash import BASE32


def compact_geohash(cells: list[str]) -> list[str]:
    """Assumes uniform precision input (reference assumption)."""
    cur = set(cells)
    if not cur:
        return []
    res = len(next(iter(cur)))
    for _ in range(res, 1, -1):
        parents = Counter(c[:-1] for c in cur)
        full = {p for p, n in parents.items() if n == 32}
        if not full:
            break
        cur = {c for c in cur if c[:-1] not in full} | full
    return sorted(cur)


def uncompact_geohash(cells: list[str], precision: int) -> list[str]:
    out: set[str] = set()
    frontier = list(cells)
    while frontier:
        c = frontier.pop()
        if len(c) == precision:
            out.add(c)
        elif len(c) < precision:
            frontier.extend(c + ch for ch in BASE32)
        else:
            raise ValueError(f"cell {c} finer than target precision {precision}")
    return sorted(out)


_U64 = (1 << 64) - 1


def _u(v) -> int:
    """Unsigned 64-bit value of a (possibly signed) cell id — pure-python
    masking instead of np.uint64(<negative>) scalar conversion, which numpy
    deprecates (round-2 advice: will become an error on a future numpy)."""
    return int(v) & _U64


def _as_i64(cell_ids) -> np.ndarray:
    """int64 ndarray from any mix of signed/unsigned 64-bit cell values.
    astype() between int64/uint64 wraps silently (allowed); only array
    construction from out-of-range python ints is deprecated — route those
    through the mask."""
    arr = np.asarray(cell_ids)
    if arr.dtype == np.uint64 or arr.dtype.kind == "i":
        return arr.astype(np.int64)
    return np.array([_u(v) for v in arr], dtype=np.uint64).astype(np.int64)


def compact_s2(cell_ids) -> np.ndarray:
    """Uniform-level input (reference reads level from cells[0],
    gindex.py:376)."""
    cur = set(_u(c) for c in _as_i64(cell_ids))
    if not cur:
        return np.array([], dtype=np.int64)
    lvl = int(s2k.level(np.array([next(iter(cur))], dtype=np.uint64).astype(np.int64))[0])
    for lv in range(lvl, 0, -1):
        arr = np.array(sorted(cur), dtype=np.uint64).astype(np.int64)
        lvls = s2k.level(arr)
        at = arr[lvls == lv]
        if at.size == 0:
            break
        parents = s2k.parent(at, lv - 1)
        cnt = Counter(_u(p) for p in parents)
        full = {p for p, n in cnt.items() if n == 4}
        if not full:
            break
        keep = {_u(c) for c, p in zip(at, parents) if _u(p) not in full}
        others = cur - {_u(c) for c in at}
        cur = others | keep | full
    return np.array(sorted(cur), dtype=np.uint64).astype(np.int64)


def uncompact_s2(cell_ids, level: int) -> np.ndarray:
    """Reference G5 (gindex.py:414-455): expand every cell to `level`."""
    ids = _as_i64(cell_ids)
    if ids.size == 0:
        return ids
    lvls = s2k.level(ids)
    out = []
    for lv in np.unique(lvls):
        group = ids[lvls == lv]
        if lv > level:
            raise ValueError("input cell finer than target level")
        out.append(s2k.children(group, level).ravel())
    allc = np.concatenate(out)
    return np.unique(allc.astype(np.uint64)).astype(np.int64)
