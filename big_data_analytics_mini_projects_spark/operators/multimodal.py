"""Multimodal column plumbing (beyond-reference suite).

Images/audio/video are opaque ``binary`` columns with typed metadata; decode
and feature-extraction run as Arrow-batched pandas UDFs over ``mapInPandas``.
No codec library (PIL/soundfile/av) is a dependency: the Spark-side
plumbing (schemas, binary payloads, batch iteration, one-to-many expansion)
is differentially tested via a deterministic fake decoder whose outputs are
reproducible in SQL, and the WAV/BMP/PNG round trips below use stdlib
codecs only.

Scale notes: mapInPandas streams Arrow batches — memory is bounded by batch
size (spark.sql.execution.arrow.maxRecordsPerBatch), not partition size;
binary payloads never round-trip through Python rows. Partition by storage
locality before decode so each task reads contiguous blobs.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

META_SCHEMA = "doc_id long, byte_len long, sig string, fake_width long, fake_height long"
FRAMES_SCHEMA = "doc_id long, frame_idx long, frame_sig string"

def with_binary_payload(docs: DataFrame) -> DataFrame:
    """Attach the opaque binary column (here: utf-8 bytes of ``text``
    standing in for an image payload)."""
    return docs.withColumn("payload", F.encode(F.col("text"), "utf-8"))


def extract_binary_meta(df: DataFrame) -> DataFrame:
    """Deterministic fake 'decode': byte length, md5 signature, fake
    dimensions derived from the signature — the exact shape a real
    image-metadata extractor has (bytes in, typed struct out)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [bytes(p) for p in pdf["payload"]]
            digests = [hashlib.md5(p).hexdigest() for p in payloads]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "byte_len": [len(p) for p in payloads],
                    "sig": [d[:8] for d in digests],
                    "fake_width": [int(d[8:12], 16) % 1024 for d in digests],
                    "fake_height": [int(d[12:16], 16) % 1024 for d in digests],
                }
            )

    return df.select("doc_id", "payload").mapInPandas(kernel, META_SCHEMA)


WAV_SCHEMA = "doc_id long, n_samples long, framerate long, abs_sum long"
BMP_SCHEMA = "doc_id long, width long, height long, px_sum long"

#: Deterministic synthesis parameters (mirrored in closed form by the SQL
#: oracles — the differential test checks the REAL codec round trip against
#: an independent derivation of the same signal).
WAV_RATE = 8000


def _wav_samples(doc_id: int) -> list[int]:
    n = 100 + doc_id % 50
    return [(((doc_id * 31 + i * 7) % 256) - 128) * 256 for i in range(n)]


def synth_wav_payloads(docs: DataFrame) -> DataFrame:
    """(doc_id, payload): a REAL 16-bit mono PCM WAV container per doc,
    written with the stdlib ``wave`` codec — an actual audio file, not a
    fake blob. Content is a deterministic signal derived from doc_id."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io
        import struct
        import wave

        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                samples = _wav_samples(int(doc_id))
                buf = io.BytesIO()
                with wave.open(buf, "wb") as w:
                    w.setnchannels(1)
                    w.setsampwidth(2)
                    w.setframerate(WAV_RATE)
                    w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
                payloads.append(buf.getvalue())
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].astype("int64"), "payload": payloads}
            )

    return docs.select("doc_id").mapInPandas(kernel, "doc_id long, payload binary")


def decode_wav_stats(df: DataFrame) -> DataFrame:
    """REAL audio decode — parses the WAV container with the stdlib codec
    (header + PCM frames) and aggregates per-file sample statistics. This is
    the decode kernel shape the PIL/soundfile stubs reserve, actually running
    end to end: bytes in -> typed stats out, Arrow-batched, no external libs."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io
        import struct
        import wave

        for pdf in batches:
            ns, rates, sums = [], [], []
            for p in pdf["payload"]:
                with wave.open(io.BytesIO(bytes(p)), "rb") as r:
                    n = r.getnframes()
                    rates.append(r.getframerate())
                    raw = r.readframes(n)
                samples = struct.unpack(f"<{n}h", raw)
                ns.append(n)
                sums.append(sum(abs(s) for s in samples))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "n_samples": ns,
                    "framerate": rates,
                    "abs_sum": sums,
                }
            )

    return df.select("doc_id", "payload").mapInPandas(kernel, WAV_SCHEMA)


def _bmp_dims(doc_id: int) -> tuple[int, int]:
    return 4 + doc_id % 4, 2 + doc_id % 3


def _bmp_pixel(doc_id: int, x: int, y: int) -> tuple[int, int, int]:
    return (
        (doc_id + 3 * x + 7 * y) % 256,
        (doc_id * 2 + x + y) % 256,
        (x * y + doc_id) % 256,
    )


def synth_bmp_payloads(docs: DataFrame) -> DataFrame:
    """(doc_id, payload): a REAL 24-bit uncompressed BMP (BITMAPINFOHEADER,
    BGR rows bottom-up, 4-byte row padding) per doc — stdlib struct only."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w, h = _bmp_dims(d)
                row_len = (w * 3 + 3) & ~3
                img_size = row_len * h
                header = struct.pack(
                    "<2sIHHI", b"BM", 14 + 40 + img_size, 0, 0, 14 + 40
                ) + struct.pack(
                    "<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0
                )
                rows = []
                for y in range(h - 1, -1, -1):  # bottom-up per the format
                    row = bytearray()
                    for x in range(w):
                        r, g, b = _bmp_pixel(d, x, y)
                        row += bytes((b, g, r))  # BGR order
                    row += b"\x00" * (row_len - len(row))
                    rows.append(bytes(row))
                payloads.append(header + b"".join(rows))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].astype("int64"), "payload": payloads}
            )

    return docs.select("doc_id").mapInPandas(kernel, "doc_id long, payload binary")


def decode_bmp_stats(df: DataFrame) -> DataFrame:
    """REAL image decode — parses the BMP header and pixel array (stdlib
    struct): dimensions from BITMAPINFOHEADER, per-pixel RGB sum over the
    padded bottom-up rows. The image twin of decode_wav_stats."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        for pdf in batches:
            ws, hs, sums = [], [], []
            for p in pdf["payload"]:
                raw = bytes(p)
                assert raw[:2] == b"BM"
                off = struct.unpack_from("<I", raw, 10)[0]
                w, h = struct.unpack_from("<ii", raw, 18)
                bpp = struct.unpack_from("<H", raw, 28)[0]
                assert bpp == 24
                row_len = (w * 3 + 3) & ~3
                total = 0
                for row_i in range(h):
                    base = off + row_i * row_len
                    total += sum(raw[base : base + w * 3])
                ws.append(w)
                hs.append(h)
                sums.append(total)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "width": ws,
                    "height": hs,
                    "px_sum": sums,
                }
            )

    return df.select("doc_id", "payload").mapInPandas(kernel, BMP_SCHEMA)


def sample_frames(df: DataFrame) -> DataFrame:
    """One-to-many frame sampling (video-style UDTF shape): each payload
    yields (byte_len % 3) + 1 deterministic fake frames."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, sigs = [], [], []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                payload = bytes(p)
                n = (len(payload) % 3) + 1
                for i in range(n):
                    ids.append(int(doc_id))
                    idxs.append(i)
                    sigs.append(
                        hashlib.md5(payload + f":{i}".encode()).hexdigest()[:8]
                    )
            yield pd.DataFrame({"doc_id": ids, "frame_idx": idxs, "frame_sig": sigs})

    return df.select("doc_id", "payload").mapInPandas(kernel, FRAMES_SCHEMA)


PNG_SCHEMA = "doc_id long, width long, height long, px_sum long"


def _png_dims(doc_id: int) -> tuple[int, int]:
    return 3 + doc_id % 5, 2 + doc_id % 4


def _png_pixel(doc_id: int, x: int, y: int) -> tuple[int, int, int]:
    return (
        (doc_id * 5 + x * 11 + y) % 256,
        (doc_id + x + y * 13) % 256,
        (doc_id * 3 + x * y) % 256,
    )


def synth_png_payloads(docs: DataFrame) -> DataFrame:
    """(doc_id, payload): a REAL zlib-compressed 8-bit RGB PNG per doc —
    signature + IHDR + IDAT (deflate of filter-0 scanlines) + IEND with
    CRC32s, stdlib struct+zlib only. Unlike the BMP twin this is an actual
    COMPRESSED container: the decoder must inflate to reach the pixels."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct
        import zlib

        def chunk(tag: bytes, body: bytes) -> bytes:
            return (
                struct.pack(">I", len(body))
                + tag
                + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
            )

        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w, h = _png_dims(d)
                ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit RGB
                raw = b"".join(
                    b"\x00"  # filter type 0 per scanline
                    + bytes(
                        c for x in range(w) for c in _png_pixel(d, x, y)
                    )
                    for y in range(h)
                )
                payloads.append(
                    b"\x89PNG\r\n\x1a\n"
                    + chunk(b"IHDR", ihdr)
                    + chunk(b"IDAT", zlib.compress(raw))
                    + chunk(b"IEND", b"")
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].astype("int64"), "payload": payloads}
            )

    return docs.select("doc_id").mapInPandas(kernel, "doc_id long, payload binary")


def decode_png_stats(df: DataFrame) -> DataFrame:
    """REAL compressed-image decode — walks the chunk stream, reads IHDR,
    inflates the concatenated IDAT data with stdlib zlib, strips the
    per-scanline filter bytes (type 0 enforced), and aggregates the RGB sum.
    The compression makes this the strongest of the three codec round trips:
    byte offsets into the payload are useless until inflate succeeds."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct
        import zlib

        for pdf in batches:
            ws, hs, sums = [], [], []
            for p in pdf["payload"]:
                raw = bytes(p)
                assert raw[:8] == b"\x89PNG\r\n\x1a\n"
                off, w = 8, 0
                h = 0
                idat = b""
                while off < len(raw):
                    (ln,) = struct.unpack_from(">I", raw, off)
                    tag = raw[off + 4 : off + 8]
                    body = raw[off + 8 : off + 8 + ln]
                    if tag == b"IHDR":
                        w, h, depth, ctype = struct.unpack_from(">IIBB", body)
                        assert depth == 8 and ctype == 2
                    elif tag == b"IDAT":
                        idat += body
                    off += 12 + ln
                scan = zlib.decompress(idat)
                stride = 1 + w * 3
                total = 0
                for y in range(h):
                    row = scan[y * stride : (y + 1) * stride]
                    assert row[0] == 0  # filter type 0
                    total += sum(row[1:])
                ws.append(w)
                hs.append(h)
                sums.append(total)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "width": ws,
                    "height": hs,
                    "px_sum": sums,
                }
            )

    return df.select("doc_id", "payload").mapInPandas(kernel, PNG_SCHEMA)
