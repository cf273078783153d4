"""Seeded input generators for the benchmark workloads.

Pure numpy/pandas: nothing here imports the engine or reads a file, so the
engine only ever sees the tables these functions return.  The same
``(seed, size)`` always yields byte-identical tables (pinned by
``test_gen.py``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

# --------------------------------------------------------------------------
# ways: seeded street blocks of roads plus paths
# --------------------------------------------------------------------------

# metres -> degrees near lat 52 (the engine's EPSG:25833 region)
_DEG_LAT = 1.0 / 111_320.0
_DEG_LON = 1.0 / 68_535.0
_BLOCK_DEG = 0.02          # block origins ~1.4 km x 2.2 km apart: blocks
#                            never come within 22 m of each other, so any
#                            set of whole blocks is closed under the join
_BLOCK_M = 600.0           # street grid extent inside a block
_STREETS = 4               # horizontal and vertical streets per block
_SEGS = 4                  # road ways per street
_ROADS = 2 * _STREETS * _SEGS
_PATHS = 22                # road ways of a block with a path beside them
_NEAR = 11                 # ... of which run inside the join radius

# tag vocabulary: values drawn from the engine's rule tables (config.py)
_ROAD_PROFILES = [
    {"highway": "residential", "maxspeed": "30", "surface": "asphalt"},
    {"highway": "residential", "maxspeed": "30", "surface": "sett",
     "parking:both": "lane", "parking:both:orientation": "parallel"},
    {"highway": "residential", "surface": "paving_stones", "oneway": "yes",
     "oneway:bicycle": "no"},
    {"highway": "living_street", "surface": "paving_stones"},
    {"highway": "tertiary", "maxspeed": "50", "surface": "asphalt",
     "lanes": "2", "cycleway:right": "lane", "cycleway:right:lane":
     "exclusive", "cycleway:right:width": "1.6"},
    {"highway": "tertiary", "maxspeed": "30", "surface": "asphalt",
     "sidewalk:both": "separate", "lit": "yes"},
    {"highway": "secondary", "maxspeed": "50", "surface": "asphalt",
     "lanes": "4", "cycleway:both": "track", "cycleway:both:surface":
     "paving_stones", "cycleway:both:width": "2"},
    {"highway": "secondary", "maxspeed": "50", "surface": "asphalt",
     "lanes": "2", "width": "12", "sidewalk:both": "separate"},
    {"highway": "primary", "maxspeed": "60", "surface": "asphalt",
     "lanes": "4", "oneway": "yes", "cycleway:right": "separate"},
    {"highway": "primary", "maxspeed": "50", "surface": "concrete",
     "lanes": "2", "bicycle": "use_sidepath"},
    {"highway": "unclassified", "maxspeed": "70", "surface": "asphalt"},
    {"highway": "service", "surface": "asphalt", "access": "private"},
    {"highway": "track", "tracktype": "grade2", "surface": "gravel"},
]
_ROAD_WEIGHTS = np.array([8, 3, 3, 2, 3, 2, 3, 2, 2, 1, 1, 2, 1], float)
_PATH_PROFILES = [
    {"highway": "cycleway", "surface": "asphalt", "width": "2.5",
     "is_sidepath": "yes", "is_sidepath:of": "secondary"},
    {"highway": "cycleway", "surface": "paving_stones", "width": "1.6",
     "oneway": "yes"},
    {"highway": "cycleway", "surface": "asphalt", "smoothness": "good",
     "segregated": "no", "foot": "designated"},
    {"highway": "footway", "surface": "paving_stones", "bicycle": "yes",
     "footway": "sidewalk"},
    {"highway": "footway", "surface": "paving_stones"},
    {"highway": "footway", "footway": "crossing",
     "crossing": "traffic_signals", "bicycle": "yes"},
    {"highway": "path", "bicycle": "designated", "foot": "designated",
     "segregated": "yes", "surface": "asphalt", "width": "3"},
    {"highway": "path", "surface": "compacted", "smoothness": "intermediate"},
    {"highway": "path", "surface": "ground", "bicycle": "yes"},
    {"highway": "bridleway", "surface": "dirt"},
    {"highway": "steps", "surface": "concrete"},
]
_PATH_WEIGHTS = np.array([4, 3, 2, 3, 2, 1, 2, 2, 1, 1, 1], float)
_STREET_NAMES = ["Hauptstrasse", "Bahnhofstrasse", "Gartenweg",
                 "Schulstrasse", "Lindenallee", "Kirchplatz", "Am Markt",
                 "Parkstrasse"]

WAY_COLUMNS = sorted({k for p in _ROAD_PROFILES + _PATH_PROFILES for k in p}
                     | {"id", "name", "layer"})


def ways(seed: int, n_blocks: int) -> pd.DataFrame:
    """``n_blocks`` street blocks as one way table.

    Columns: ``id`` plus string tag columns (``WAY_COLUMNS``) and
    ``geom_lonlat``, a flat float64 array of interleaved lon, lat.
    Each block holds the same number of ways, so seeds differ in content,
    not volume: a grid of ``_ROADS`` road ways, ``_PATHS`` of them with a
    path beside.  ``_NEAR`` of those paths run 6-16 m from the road
    (inside the 22 m join radius), the rest 30-60 m away (cell-join
    candidates that the exact refine drops).  A few paths sit on bridges
    (``layer=1``), which the layer guard keeps from matching the roads
    below.
    """
    rng = np.random.default_rng(seed)
    road_p = _ROAD_WEIGHTS / _ROAD_WEIGHTS.sum()
    path_p = _PATH_WEIGHTS / _PATH_WEIGHTS.sum()
    rows: list[dict] = []
    for b in range(n_blocks):
        lon0 = 13.0 + _BLOCK_DEG * (b % 40)
        lat0 = 52.0 + _BLOCK_DEG * (b // 40)
        order = rng.permutation(_ROADS)
        kind = np.zeros(_ROADS, dtype=int)      # 0 none, 1 near, 2 far
        kind[order[:_NEAR]] = 1
        kind[order[_NEAR:_PATHS]] = 2
        k = 0
        for axis in (0, 1):
            for s in range(_STREETS):
                cross = (s + 0.5) * _BLOCK_M / _STREETS \
                    + rng.uniform(-10.0, 10.0)
                prof = int(rng.choice(len(_ROAD_PROFILES), p=road_p))
                name = _STREET_NAMES[int(rng.integers(len(_STREET_NAMES)))]
                cuts = np.concatenate([
                    [0.0],
                    np.arange(1, _SEGS) * _BLOCK_M / _SEGS
                    + rng.uniform(-40.0, 40.0, _SEGS - 1),
                    [_BLOCK_M]])
                for along0, along1 in zip(cuts[:-1], cuts[1:]):
                    road_id = f"r{b}_{axis}_{s}_{int(along0)}"
                    tags = dict(_ROAD_PROFILES[prof], name=name)
                    if rng.random() < 0.03:
                        tags["layer"] = "-1"
                    rows.append(_way(road_id, tags, lon0, lat0, axis,
                                     along0, along1 - along0, cross, rng))
                    if kind[k]:
                        off = (rng.uniform(6.0, 16.0) if kind[k] == 1
                               else rng.uniform(30.0, 60.0))
                        off *= 1.0 if rng.random() < 0.5 else -1.0
                        ptags = dict(_PATH_PROFILES[int(rng.choice(
                            len(_PATH_PROFILES), p=path_p))])
                        if rng.random() < 0.03:
                            ptags["layer"] = "1"
                        rows.append(_way(f"p{road_id}", ptags, lon0, lat0,
                                         axis, along0, along1 - along0,
                                         cross + off, rng))
                    k += 1
    df = pd.DataFrame(rows)
    for c in WAY_COLUMNS:
        if c not in df.columns:
            df[c] = None
    geoms = df.pop("geom_lonlat")
    df = df[WAY_COLUMNS].astype(object).where(df[WAY_COLUMNS].notna(), None)
    df["geom_lonlat"] = geoms
    return df


def _way(way_id: str, tags: dict, lon0: float, lat0: float, axis: int,
         along0: float, length: float, cross: float,
         rng: np.random.Generator) -> dict:
    """One polyline of 2-5 vertices along ``axis`` with a small jitter."""
    n = int(rng.integers(2, 6))
    along = np.linspace(along0, along0 + length, n)
    lateral = cross + rng.uniform(-1.5, 1.5, n)
    x, y = (along, lateral) if axis == 0 else (lateral, along)
    g = np.empty(2 * n, dtype=np.float64)
    g[0::2] = np.round(lon0 + x * _DEG_LON, 7)
    g[1::2] = np.round(lat0 + y * _DEG_LAT, 7)
    return dict(tags, id=way_id, geom_lonlat=g)


def block_of(way_id: str) -> int:
    """Block number encoded in a generated way id (``r<b>_*``, ``pr<b>_*``)."""
    return int(way_id.lstrip("pr").split("_", 1)[0])


# --------------------------------------------------------------------------
# documents: mostly unique text plus seeded near-duplicates
# --------------------------------------------------------------------------

_VOCAB = 30_000
_VOCAB_SEED = 20_250_101
_TOKENS = 60
# substitutions k on a 60-distinct-token doc give Jaccard (60-k)/(60+k):
# k <= 3 passes the 0.9 bound, k >= 4 fails it (0.875); deleting 6 tokens
# lands exactly on 0.9 (54/60), the verify's inclusive boundary
_EDITS = [("sub", 1), ("sub", 2), ("sub", 3), ("del", 6),
          ("sub", 4), ("sub", 6), ("del", 8)]
# share of documents that are an edited copy of an earlier one
_DUP_SHARE = 0.15


def _vocab() -> np.ndarray:
    """The vocabulary in rank order.  It is the same for every seed: which
    words are frequent, and so how large the hottest LSH buckets grow, is
    a property of the language, not of one corpus drawn from it."""
    rng = np.random.default_rng(_VOCAB_SEED)
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
    words: set[str] = set()
    while len(words) < _VOCAB:
        codes = letters[rng.integers(0, 26, size=(_VOCAB, 9))]
        lens = rng.integers(3, 10, size=_VOCAB)
        words.update(bytes(c[:n]).decode("ascii")
                     for c, n in zip(codes, lens))
    return np.array(sorted(words)[:_VOCAB])


def documents(seed: int, n_docs: int) -> pd.DataFrame:
    """``n_docs`` documents (``doc_id`` int64 0..n-1, ``text``).

    Tokens follow a Zipf-like law over a fixed 30k-word vocabulary
    (``_vocab``), so unrelated documents share common words and still
    collide in some LSH bands.  A ``_DUP_SHARE`` of documents is an
    edited copy of an earlier document: token substitutions or deletions,
    some inside the 0.9 Jaccard bound and some outside it.  Every copy
    points at a smaller ``doc_id``, so any prefix ``doc_id < n`` is itself
    a corpus of this generator.
    """
    rng = np.random.default_rng(seed)
    vocab = _vocab()
    cdf = np.cumsum(1.0 / np.arange(1, _VOCAB + 1, dtype=np.float64) ** 0.9)
    cdf /= cdf[-1]
    texts: list[list[str]] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < _DUP_SHARE:
            src = list(texts[int(rng.integers(max(0, i - 5000), i))])
            kind, k = _EDITS[int(rng.integers(len(_EDITS)))]
            pos = rng.choice(len(src), size=min(k, len(src) - 1),
                             replace=False)
            if kind == "sub":
                for j in pos:
                    src[j] = f"{vocab[int(rng.integers(_VOCAB))]}x{i}"
            else:
                src = [t for j, t in enumerate(src) if j not in set(pos)]
            texts.append(src)
            continue
        draw = np.searchsorted(cdf, rng.random(_TOKENS * 3), side="right")
        _, first = np.unique(draw, return_index=True)
        texts.append(list(vocab[draw[np.sort(first)][:_TOKENS]]))
    return pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": [" ".join(t) for t in texts]})
