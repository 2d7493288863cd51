"""Perceptual audio fingerprinting over binary WAV payloads — the audio leg
of the perceptual-dedup suite (round-10 verdict item 3), the temporal twin of
operators/phash.py's image hashes.

The kernel is a genuine codec path: each payload is a REAL 16-bit mono PCM
WAV container (the one operators/multimodal.synth_wav_payloads writes with
the stdlib ``wave`` codec), parsed back through ``wave`` + ``struct``. The
fingerprint is the difference hash of the ENERGY ENVELOPE — the dHash idea
applied to the time axis instead of the x axis:

- the clip's n samples split into ``AF_WINDOWS`` windows under the same
  floor nearest-neighbor boundary map the image grids use
  (window j = samples[j*n//W : (j+1)*n//W)); n >= 100 > W, so windows are
  never empty on this corpus;
- window energy E_j = sum of |sample| over the window (exact integer —
  no floats anywhere);
- bit j set when E_{j+1} > E_j: 61 windows -> 60 bits, deliberately 60 so
  the value is exact in a signed BIGINT in both engines and splits into
  the SAME 4x15-bit blocks the SimHash/dHash Hamming index uses
  (plans/round16q._blocked_near_frame is shared downstream machinery).

The synthetic signal has a closed form (sample_i = (((doc_id*31 + i*7) %
256) - 128) * 256, n = 100 + doc_id % 50), so the DuckDB oracle derives the
fingerprint independently in SQL and the REAL byte path is differentially
checked end to end — the WAV analog of round16q's ``_sql_gray`` regime.

Scale notes: mapInPandas streams Arrow batches; per-row work is linear in
the clip length, payloads never round-trip through Python rows, zero
shuffle. Downstream dedup collapses exact fingerprint classes FIRST and
Hamming-joins only the distinct-fingerprint roster (plans/round19q).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

#: 61 energy windows -> 60 difference bits (4 x 15-bit Hamming blocks).
AF_WINDOWS = 61
AF_BITS = AF_WINDOWS - 1

#: Average-hash flavor: 60 windows -> 60 bits (bit = window energy strictly
#: above the clip mean, compared exactly as E_j * 60 > sum(E) — all integer,
#: no division; the operators/phash.py aHash inequality on the time axis).
AF_A_WINDOWS = 60
AF_A_BITS = AF_A_WINDOWS


def afp_wav(df: DataFrame) -> DataFrame:
    """(doc_id, payload) -> (doc_id, afp): 60-bit energy-envelope difference
    hash of a 16-bit mono PCM WAV, parsed with the stdlib codec."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io
        import struct
        import wave

        for pdf in batches:
            fps = []
            for p in pdf["payload"]:
                with wave.open(io.BytesIO(bytes(p)), "rb") as r:
                    n = r.getnframes()
                    assert r.getnchannels() == 1 and r.getsampwidth() == 2
                    raw = r.readframes(n)
                samples = struct.unpack(f"<{n}h", raw)
                e = [
                    sum(abs(s) for s in samples[j * n // AF_WINDOWS : (j + 1) * n // AF_WINDOWS])
                    for j in range(AF_WINDOWS)
                ]
                fp = 0
                for j in range(AF_WINDOWS - 1):
                    if e[j + 1] > e[j]:
                        fp |= 1 << j
                fps.append(fp)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].astype("int64"), "afp": pd.array(fps, dtype="int64")}
            )

    return df.select("doc_id", "payload").mapInPandas(kernel, "doc_id long, afp long")


def afps_wav(df: DataFrame) -> DataFrame:
    """(doc_id, payload) -> (doc_id, afp, aafp): BOTH perceptual audio
    fingerprints from ONE codec parse — the energy-envelope difference
    hash of ``afp_wav`` (61 windows, consecutive-energy signs) plus the
    60-bit average hash (60 windows, bit = window energy strictly above
    the clip mean via the exact integer inequality E_j * 60 > sum(E)).
    Two independent fingerprint families over the same clip let downstream
    dedup audit their agreement — the audio twin of
    operators/phash.phashes_bmp."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io
        import struct
        import wave

        for pdf in batches:
            dfs, afs = [], []
            for p in pdf["payload"]:
                with wave.open(io.BytesIO(bytes(p)), "rb") as r:
                    n = r.getnframes()
                    assert r.getnchannels() == 1 and r.getsampwidth() == 2
                    raw = r.readframes(n)
                samples = struct.unpack(f"<{n}h", raw)
                de = [
                    sum(abs(s) for s in samples[j * n // AF_WINDOWS : (j + 1) * n // AF_WINDOWS])
                    for j in range(AF_WINDOWS)
                ]
                dfp = 0
                for j in range(AF_WINDOWS - 1):
                    if de[j + 1] > de[j]:
                        dfp |= 1 << j
                ae = [
                    sum(abs(s) for s in samples[j * n // AF_A_WINDOWS : (j + 1) * n // AF_A_WINDOWS])
                    for j in range(AF_A_WINDOWS)
                ]
                tot = sum(ae)
                afp = 0
                for j, e in enumerate(ae):
                    if e * AF_A_BITS > tot:
                        afp |= 1 << j
                dfs.append(dfp)
                afs.append(afp)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "afp": pd.array(dfs, dtype="int64"),
                    "aafp": pd.array(afs, dtype="int64"),
                }
            )

    return df.select("doc_id", "payload").mapInPandas(
        kernel, "doc_id long, afp long, aafp long"
    )
