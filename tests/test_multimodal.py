"""Multimodal plumbing tests: deterministic fake decode."""

from __future__ import annotations

import hashlib

from big_data_analytics_mini_projects_spark.operators.multimodal import (
    extract_binary_meta,
    sample_frames,
    with_binary_payload,
)


def test_extract_binary_meta_deterministic(spark):
    docs = spark.createDataFrame(
        [(1, "hello world"), (2, "spark engine")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in extract_binary_meta(with_binary_payload(docs)).collect()}
    for doc_id, text in [(1, "hello world"), (2, "spark engine")]:
        d = hashlib.md5(text.encode()).hexdigest()
        assert out[doc_id]["byte_len"] == len(text.encode())
        assert out[doc_id]["sig"] == d[:8]
        assert out[doc_id]["fake_width"] == int(d[8:12], 16) % 1024
        assert out[doc_id]["fake_height"] == int(d[12:16], 16) % 1024


def test_sample_frames_expansion(spark):
    docs = spark.createDataFrame([(1, "abcd")], "doc_id long, text string")  # 4 % 3 + 1 = 2
    rows = sample_frames(with_binary_payload(docs)).collect()
    assert [r["frame_idx"] for r in sorted(rows, key=lambda r: r["frame_idx"])] == [0, 1]
    assert rows[0]["frame_sig"] == hashlib.md5(b"abcd:0").hexdigest()[:8] or True
    sigs = {r["frame_idx"]: r["frame_sig"] for r in rows}
    assert sigs[0] == hashlib.md5(b"abcd:0").hexdigest()[:8]
    assert sigs[1] == hashlib.md5(b"abcd:1").hexdigest()[:8]
