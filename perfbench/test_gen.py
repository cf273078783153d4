"""The generators are pure functions of their seed, pinned to the bytes
the benchmark's figures were measured on.

    python3 -m pytest perfbench/test_gen.py
"""

import hashlib
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402


def _digest(df) -> str:
    """sha256 of the table's column names and values, independent of any
    library's file format: strings as UTF-8, ``None`` as a marker byte,
    numbers and arrays as little-endian int64 / float64."""
    h = hashlib.sha256()
    for col in df.columns:
        h.update(b"\x1ecol\x1f" + col.encode("utf-8"))
        for v in df[col]:
            if v is None:
                h.update(b"\x00")
            elif isinstance(v, str):
                h.update(b"\x01" + v.encode("utf-8") + b"\x1f")
            else:
                a = np.asarray(v)
                h.update(b"\x02" + a.astype(a.dtype.newbyteorder("<"))
                         .tobytes())
    return h.hexdigest()


# sha256 of the inputs the benchmark's baselines were measured on: any
# change to a generator changes the workloads, so it must fail here
WAYS_7_6 = ("da6053add8113988c176c75bc1719fcd"
            "8400937574f9211c1cd9e526b8f688ce")
DOCS_7_3000 = ("4d7e23630379eed3f0190af8289a4f95"
               "0b1a05da05bbb292f5416ff1e284dfe1")


def test_ways_pinned_bytes():
    assert _digest(gen.ways(7, 6)) == WAYS_7_6


def test_documents_pinned_bytes():
    assert _digest(gen.documents(7, 3000)) == DOCS_7_3000


def test_ways_other_seed_other_bytes():
    assert _digest(gen.ways(7, 6)) != _digest(gen.ways(8, 6))


def test_documents_other_seed_other_bytes():
    assert _digest(gen.documents(7, 3000)) != _digest(gen.documents(8, 3000))


def test_documents_prefix_is_a_corpus():
    # the dedup checks grade the prefix doc_id < n against the oracle
    full = gen.documents(7, 3000)
    assert full.iloc[:1000].equals(gen.documents(7, 1000))


def test_documents_hold_near_duplicates_on_both_sides_of_the_bound():
    docs = gen.documents(7, 1200)
    toks = [set(t.split(" ")) for t in docs["text"]]
    jac = []
    for i, t in enumerate(toks):
        for j in range(max(0, i - 5000), i):
            inter = len(t & toks[j])
            if inter > 30:
                jac.append(inter / len(t | toks[j]))
    assert any(j >= 0.9 for j in jac)
    assert any(0.8 <= j < 0.9 for j in jac)


def test_ways_blocks_are_apart():
    ways = gen.ways(7, 3)
    for b in range(3):
        ids = [i for i in ways["id"] if gen.block_of(i) == b]
        assert ids, b
    lons = {}
    for wid, g in zip(ways["id"], ways["geom_lonlat"]):
        lo = lons.setdefault(gen.block_of(wid), [1e9, -1e9])
        lo[0] = min(lo[0], g[0::2].min())
        lo[1] = max(lo[1], g[0::2].max())
    spans = sorted(lons.values())
    for (_, hi), (lo, _) in zip(spans, spans[1:]):
        # 22 m is ~3.2e-4 degrees of longitude here
        assert lo - hi > 1e-3
