"""Perceptual image hashing (dHash) over binary image payloads — the
multimodal leg of the dedup suite (round-9 verdict item 2).

The kernel is a genuine byte-level computation: parse the 24-bit BMP
(BITMAPINFOHEADER, bottom-up BGR rows, 4-byte padding — the same container
operators/multimodal.synth_bmp_payloads writes and decode_bmp_stats reads),
sample a fixed gray grid with the floor nearest-neighbor map (the
operators/multimodal_resize convention), and emit the difference hash:
bit(x, y) = gray(x+1, y) > gray(x, y).

Geometry: a ``grid_w x grid_h`` gray grid gives ``(grid_w-1) * grid_h``
bits. The dHash 7x10 grid (PH_GRID_W x PH_GRID_H) yields 60 bits —
deliberately 60, not the classic 9x8=64: 60-bit values stay exact in a
signed BIGINT in BOTH engines (the operators/similarity.BIT_POWERS
rationale) and split into
the same 4x15-bit blocks the SimHash index uses, so the Hamming blocking
downstream is shared machinery (pairs within Hamming <= 3 must share a
block by pigeonhole; the verify gate is bit_count(xor)).

Gray is the channel sum r+g+b (order-free, exact integer) — monotone in
luminance for the synthetic gradient payloads and closed-form mirrorable
in SQL, which is what makes the REAL byte path differentially testable.

Lives in its own module (not multimodal.py / similarity.py) so adding it
cannot re-stale their driver-green consumers.

Scale notes: mapInPandas streams Arrow batches — per-row work is bounded
by the grid (70 samples), payloads never round-trip through Python rows,
zero shuffle. The downstream dedup (plans/round16q.dedup_image_phash)
collapses exact hash classes FIRST (one groupBy) and Hamming-joins only
the distinct-hash roster — the production order for a 100 TB image corpus.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

#: Default dHash grid: 7 gray columns x 10 rows -> 6*10 = 60 bits.
PH_GRID_W = 7
PH_GRID_H = 10
PH_BITS = (PH_GRID_W - 1) * PH_GRID_H
PH_BLOCK_BITS = 15
PH_N_BLOCKS = PH_BITS // PH_BLOCK_BITS

#: aHash grid: 6x10 CELLS -> 60 bits (bit = cell gray above the grid mean,
#: compared exactly as g*60 > sum(g) — all integer, no division).
AH_GRID_W = 6
AH_GRID_H = 10
AH_BITS = AH_GRID_W * AH_GRID_H


def dhash_bmp(df: DataFrame) -> DataFrame:
    """(doc_id, payload) -> (doc_id, dhash): difference hash of a 24-bit
    uncompressed BMP. Gray grid sampled at (x*w // PH_GRID_W,
    y*h // PH_GRID_H) in image coordinates (floor NN map); bit index
    y*(PH_GRID_W-1) + x set when gray(x+1, y) > gray(x, y)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hashes = []
            for p in pdf["payload"]:
                raw = bytes(p)
                g = _grid_grays(raw, *_parse_bmp(raw), PH_GRID_W, PH_GRID_H)
                hsh = 0
                for yr in range(PH_GRID_H):
                    r0 = yr * PH_GRID_W
                    for xc in range(PH_GRID_W - 1):
                        if g[r0 + xc + 1] > g[r0 + xc]:
                            hsh |= 1 << (yr * (PH_GRID_W - 1) + xc)
                hashes.append(hsh)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].astype("int64"), "dhash": pd.array(hashes, dtype="int64")}
            )

    return df.select("doc_id", "payload").mapInPandas(kernel, "doc_id long, dhash long")


def _parse_bmp(raw: bytes) -> tuple[int, int, int, int]:
    """(pixel offset, width, height, padded row length) of a 24-bit BMP."""
    import struct

    assert raw[:2] == b"BM"
    off = struct.unpack_from("<I", raw, 10)[0]
    w, h = struct.unpack_from("<ii", raw, 18)
    bpp = struct.unpack_from("<H", raw, 28)[0]
    assert bpp == 24 and w > 0 and h > 0
    return off, w, h, (w * 3 + 3) & ~3


def _grid_grays(raw: bytes, off: int, w: int, h: int, row_len: int,
                grid_w: int, grid_h: int) -> list[int]:
    """Row-major gray (r+g+b) grid under the floor NN map."""
    out = []
    for yr in range(grid_h):
        base = off + (h - 1 - yr * h // grid_h) * row_len
        for xc in range(grid_w):
            sx3 = (xc * w // grid_w) * 3
            out.append(raw[base + sx3] + raw[base + sx3 + 1] + raw[base + sx3 + 2])
    return out


def phashes_bmp(df: DataFrame) -> DataFrame:
    """(doc_id, payload) -> (doc_id, dhash, ahash): BOTH perceptual
    fingerprints from ONE byte parse — the dHash of ``dhash_bmp`` (7x10
    grid, horizontal gradient signs) plus the 60-bit average hash (6x10
    cell grid, bit = cell gray strictly above the grid mean, compared as
    the exact integer inequality g*60 > sum(g)). Two independent
    fingerprint families over the same image let downstream dedup audit
    their agreement (plans/round17q.dedup_image_ahash)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            dhs, ahs = [], []
            for p in pdf["payload"]:
                raw = bytes(p)
                off, w, h, row_len = _parse_bmp(raw)
                dg = _grid_grays(raw, off, w, h, row_len, PH_GRID_W, PH_GRID_H)
                dh = 0
                for yr in range(PH_GRID_H):
                    r0 = yr * PH_GRID_W
                    for xc in range(PH_GRID_W - 1):
                        if dg[r0 + xc + 1] > dg[r0 + xc]:
                            dh |= 1 << (yr * (PH_GRID_W - 1) + xc)
                ag = _grid_grays(raw, off, w, h, row_len, AH_GRID_W, AH_GRID_H)
                tot = sum(ag)
                ah = 0
                for i, g in enumerate(ag):
                    if g * AH_BITS > tot:
                        ah |= 1 << i
                dhs.append(dh)
                ahs.append(ah)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "dhash": pd.array(dhs, dtype="int64"),
                    "ahash": pd.array(ahs, dtype="int64"),
                }
            )

    return df.select("doc_id", "payload").mapInPandas(
        kernel, "doc_id long, dhash long, ahash long"
    )
