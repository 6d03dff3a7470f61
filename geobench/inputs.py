"""Seeded input generation.  The same seed gives byte-identical files.

``documents``/``events`` follow the schema of the testdata tables the
pages builder reads (``sources.pages``).  ``doc_id`` values are a seeded
sample of a wide id space: ``page_id = doc_id * 16 + replica`` drives the
builder's mention draws, so a new seed moves which cities pages mention
and how hard the megacity cells are hit.

Everything else a workload needs is derived from the seed here too and
handed to the program as files: the geo_serve query sample (JSON) and the
point files its stream reads.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window order data column join small big customer query filter "
    "stream group vector"
).split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.15, 0.15, 0.14, 0.12)
EVENT_TYPES = ("click", "view", "error", "signup", "purchase")
DOC_ID_SPACE = 1 << 24


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


def sha256_files(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def documents_table(rng: np.random.Generator, n_docs: int) -> pa.Table:
    doc_id = np.sort(rng.choice(DOC_ID_SPACE, size=n_docs, replace=False)).astype(np.int64)
    n_words = rng.integers(8, 92, size=n_docs)
    words = rng.integers(0, len(VOCAB), size=int(n_words.sum()))
    texts, at = [], 0
    for n in n_words:
        texts.append(" ".join(VOCAB[w] for w in words[at : at + n]))
        at += n
    lang = rng.choice(len(LANGS), size=n_docs, p=LANG_P)
    return pa.table(
        {
            "doc_id": doc_id,
            "text": texts,
            "lang": [LANGS[i] for i in lang],
            "source": [f"src{i}" for i in doc_id % 5],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def events_table(rng: np.random.Generator, n_events: int) -> pa.Table:
    base = dt.datetime(2024, 1, 1)
    gaps_us = rng.integers(1, 260_000_000, size=n_events).cumsum()
    return pa.table(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": pa.array([base + dt.timedelta(microseconds=int(g)) for g in gaps_us], pa.timestamp("us")),
            "user_id": rng.integers(0, 150, size=n_events).astype(np.int64),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, size=n_events)],
            "value": np.round(rng.exponential(50.0, size=n_events), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n_events)],
        }
    )


def write_pages_inputs(out_dir: str, seed: int, n_docs: int, n_events: int) -> list[str]:
    """documents.parquet + events.parquet for ``sources.pages``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    paths = [f"{out_dir}/documents.parquet", f"{out_dir}/events.parquet"]
    _write(documents_table(rng, n_docs), paths[0])
    _write(events_table(rng, n_events), paths[1])
    return paths


def signed_s2_range(cell_id: int) -> tuple[int, int]:
    """[lo, hi] leaf-id range of an S2 cell, in the signed int64 order the
    points table stores ids in.  A cell never spans two faces, so its range
    never straddles the 2^63 sign seam (the face 3 / face 4 boundary)."""
    lsb = cell_id & -cell_id

    def signed(u: int) -> int:
        return u - (1 << 64) if u >= 1 << 63 else u

    return signed(cell_id - lsb + 1), signed(cell_id + lsb - 1)


def s2_cell_at(lat: float, lon: float, level: int) -> int:
    """S2 cell id (unsigned) at ``level``: face/ij quantization with the
    quadratic projection, computed independently of the program's kernel
    so query ranges do not depend on the code under test."""
    x, y, z = _xyz(lat, lon)
    ax, ay, az = abs(x), abs(y), abs(z)
    face = (0 if ax >= ay and ax >= az else 1 if ay >= az else 2) + (
        3 if (x, y, z)[0 if ax >= ay and ax >= az else 1 if ay >= az else 2] < 0 else 0
    )
    u, v = {
        0: (y / x, z / x), 1: (-x / y, z / y), 2: (-x / z, -y / z),
        3: (z / x, y / x), 4: (z / y, -x / y), 5: (-y / z, -x / z),
    }[face]

    def st(uv: float) -> float:
        return 0.5 * np.sqrt(1 + 3 * uv) if uv >= 0 else 1 - 0.5 * np.sqrt(1 - 3 * uv)

    i = min((1 << 30) - 1, max(0, int(np.floor((1 << 30) * st(u)))))
    j = min((1 << 30) - 1, max(0, int(np.floor((1 << 30) * st(v)))))
    leaf = _hilbert_leaf(face, i, j)
    lsb = 1 << (2 * (30 - level))
    return (leaf & ~(2 * lsb - 1)) | lsb


def _xyz(lat: float, lon: float) -> tuple[float, float, float]:
    la, lo = np.radians(lat), np.radians(lon)
    return float(np.cos(la) * np.cos(lo)), float(np.cos(la) * np.sin(lo)), float(np.sin(la))


def _hilbert_leaf(face: int, i: int, j: int) -> int:
    """Leaf cell id from face and (i, j) by the S2 Hilbert walk, one bit
    pair per level (swap/invert orientation masks as in the S2 spec)."""
    pos = 0
    orientation = face & 1
    for k in range(29, -1, -1):
        ij = (((i >> k) & 1) << 1) | ((j >> k) & 1)
        p = _IJ_TO_POS[orientation][ij]
        pos = (pos << 2) | p
        orientation ^= _POS_TO_ORIENT[p]
    return (face << 61) | (pos << 1) | 1


_IJ_TO_POS = ((0, 1, 3, 2), (0, 3, 1, 2), (2, 3, 1, 0), (2, 1, 3, 0))
_POS_TO_ORIENT = (1, 0, 0, 3)


# the query mix: every aligned block of MIX_BLOCK queries holds exactly
# 8 range, 6 pip, 3 knn and 3 tiles queries (40/30/15/15 %), and of each
# kind MEGACITY[kind] on a megacity's cell (10 of the 20), so every block
# asks for the same kinds of work whatever the seed
MIX = {"range": 8, "pip": 6, "knn": 3, "tiles": 3}
MEGACITY = {"range": 4, "pip": 3, "knn": 2, "tiles": 1}
MIX_BLOCK = sum(MIX.values())


def query_sample(seed: int, n_queries: int, megacities: list[tuple[str, float, float]]) -> list[dict]:
    """Seeded query mix: each aligned block of MIX_BLOCK queries holds the
    MIX counts, MEGACITY of each kind on a megacity's cell and the rest on
    a uniformly drawn one, in seeded order."""
    rng = np.random.default_rng([seed, 2])
    block = [(k, i < MEGACITY[k]) for k, n in MIX.items() for i in range(n)]
    slots: list[tuple[str, bool]] = []
    while len(slots) < n_queries:
        slots += [block[i] for i in rng.permutation(len(block))]
    out = []
    for qi, (kind, megacity) in enumerate(slots[:n_queries]):
        if megacity:
            _, lat, lon = megacities[int(rng.integers(len(megacities)))]
            level = int(rng.integers(3, 6))
        else:
            lat = float(np.degrees(np.arcsin(rng.uniform(-0.87, 0.94))))
            lon = float(rng.uniform(-180.0, 180.0))
            level = int(rng.integers(1, 3))
        lo, hi = signed_s2_range(s2_cell_at(lat, lon, level))
        out.append({"id": qi, "kind": kind, "lo": lo, "hi": hi, "megacity": megacity})
    return out


def write_query_sample(path: str, queries: list[dict]) -> None:
    with open(path, "w") as f:
        json.dump(queries, f, sort_keys=True)


STREAM_SCHEMA = "point_id bigint, url string, entity string, lat double, lon double"


def stream_points_table(rng: np.random.Generator, n_points: int, gazetteer: list[tuple]) -> pa.Table:
    """Geocoded points shaped like the points stage output, keyed by a
    dense ``point_id``: each lies within ~1 degree (normal jitter) of a
    gazetteer city, a quarter of them around the megacities (skew), so
    they fall in region rings as well as in the regions' holes."""
    n_gaz = len(gazetteer)
    mega = np.array([i for i, g in enumerate(gazetteer) if g[0] >= 256])
    pick = np.where(
        rng.random(n_points) < 0.25,
        mega[rng.integers(0, len(mega), n_points)],
        rng.integers(0, n_gaz, n_points),
    )
    lat = np.array([gazetteer[i][2] for i in pick]) + rng.normal(0.0, 1.0, n_points)
    lon = np.array([gazetteer[i][3] for i in pick]) + rng.normal(0.0, 1.0, n_points)
    page = rng.integers(0, 1 << 28, n_points)
    return pa.table(
        {
            "point_id": np.arange(n_points, dtype=np.int64),
            "url": [f"https://example.org/s/{p}" for p in page],
            "entity": [gazetteer[i][1] for i in pick],
            "lat": np.clip(lat, -89.9, 89.9),
            "lon": (lon + 180.0) % 360.0 - 180.0,
        }
    )


def write_stream_files(out_dir: str, seed: int, n_points: int, n_files: int, gazetteer: list[tuple]) -> list[str]:
    """``n_files`` parquet files in point_id order with pinned, increasing
    mtimes (the file stream source orders files by modification time)."""
    os.makedirs(out_dir, exist_ok=True)
    table = stream_points_table(np.random.default_rng([seed, 3]), n_points, gazetteer)
    per = -(-n_points // n_files)
    paths = []
    for k in range(n_files):
        p = f"{out_dir}/part-{k:04d}.parquet"
        _write(table.slice(k * per, per), p)
        os.utime(p, (1_700_000_000 + k, 1_700_000_000 + k))
        paths.append(p)
    return paths
