"""Multimodal tests: binary payload typing, REAL PPM decode (byte-level
parser vs an independent pure-Python reimplementation), nearest-neighbor
resize, 1:N frame fan-out, Arrow batch flow, partitioning, audio frame
energy."""

from __future__ import annotations

import struct

from pyspark.sql.types import BinaryType

from hadoop_tfidf_spark.operators.multimodal import (
    DECODED_SCHEMA,
    _parse_ppm_frames,
    decode_media,
    media_pipeline,
    with_binary_payload,
)


def _docs(spark):
    return spark.createDataFrame(
        [(1, "hello world"), (2, "spark engine"), (3, "")],
        ["doc_id", "text"],
    )


def _expected_pixels(doc_id: int, text: str):
    """Independent replay of the generator formula (mirrors the DuckDB
    oracle, NOT the engine code path, which parses bytes)."""
    L = len(text)
    w, h, nf = 4 + L % 13, 4 + doc_id % 11, 1 + L % 3
    frames = []
    for f in range(nf):
        data = []
        for y in range(h):
            for x in range(w):
                base = (doc_id % 256) * 31 + f * 17 + y * 7 + x * 3
                data += [base % 256, (base + 11) % 256, (base + 22) % 256]
        frames.append((w, h, bytes(data)))
    return frames


def test_payload_is_binary_typed_real_ppm(spark):
    media = with_binary_payload(_docs(spark))
    assert isinstance(media.schema["payload"].dataType, BinaryType)
    assert media.columns == ["doc_id", "payload", "media_type"]
    rows = {r.doc_id: r for r in media.collect()}
    assert rows[1].media_type == "image/x-portable-pixmap"
    # payload is a genuine P6 stream: the parser round-trips it to the
    # independently recomputed frames
    assert _parse_ppm_frames(bytes(rows[1].payload)) == _expected_pixels(
        1, "hello world"
    )


def test_decode_schema_contract(spark):
    out = media_pipeline(_docs(spark))
    assert out.schema == DECODED_SCHEMA


def test_decode_real_channel_sums(spark):
    rows = {r.doc_id: r for r in media_pipeline(_docs(spark)).collect()}
    for doc_id, text in [(1, "hello world"), (2, "spark engine"), (3, "")]:
        frames = _expected_pixels(doc_id, text)
        w, h, _ = frames[0]
        r = rows[doc_id]
        assert (r.width, r.height, r.n_frames) == (w, h, len(frames))
        assert r.sum_r == sum(d[0::3][i] for _, _, d in frames for i in range(w * h))
        assert r.sum_g == sum(b for _, _, d in frames for b in d[1::3])
        assert r.sum_b == sum(b for _, _, d in frames for b in d[2::3])
        header = len(b"P6\n%d %d\n255\n" % (w, h))
        assert r.n_bytes == len(frames) * (header + w * h * 3)


def test_decode_rejects_malformed_payload():
    import pytest

    with pytest.raises(ValueError, match="magic"):
        _parse_ppm_frames(b"JFIF....")
    with pytest.raises(ValueError, match="truncated"):
        _parse_ppm_frames(b"P6\n4 4\n255\n\x00\x01")  # pixel data cut short


def test_partitioning_preserved(spark):
    """mapInPandas is a narrow transformation — partition count in = out."""
    docs = _docs(spark).repartition(3)
    out = decode_media(with_binary_payload(docs))
    assert out.rdd.getNumPartitions() == 3


def test_resize_nearest_neighbor_checksum(spark):
    from hadoop_tfidf_spark.operators.multimodal import (
        RESIZED_SCHEMA,
        resize_media,
    )

    out = resize_media(with_binary_payload(_docs(spark)), max_dim=8)
    assert out.schema == RESIZED_SCHEMA
    rows = {r.doc_id: r for r in out.collect()}
    for doc_id, text in [(1, "hello world"), (2, "spark engine")]:
        w, h, data = _expected_pixels(doc_id, text)[0]
        ow, oh = min(w, 8), min(h, 8)
        want = 0
        for yo in range(oh):
            for xo in range(ow):
                src = ((yo * h) // oh * w + (xo * w) // ow) * 3
                ob = (yo * ow + xo) * 3
                want += (
                    data[src] * (ob + 1)
                    + data[src + 1] * (ob + 2)
                    + data[src + 2] * (ob + 3)
                )
        r = rows[doc_id]
        assert (r.width, r.height, r.out_width, r.out_height) == (w, h, ow, oh)
        assert r.checksum == want


def test_sample_frames_real_pixel_fanout(spark):
    """1:N fan-out inside the Arrow stream: evenly spaced frame indices,
    each checksummed from its REAL parsed bytes."""
    from hadoop_tfidf_spark.operators.multimodal import (
        FRAMES_SCHEMA,
        sample_frames,
    )

    out = sample_frames(with_binary_payload(_docs(spark)), n_samples=3)
    assert out.schema == FRAMES_SCHEMA
    got = {}
    for r in out.collect():
        got.setdefault(r.doc_id, []).append((r.frame_idx, r.frame_checksum))
    for doc_id, text in [(1, "hello world"), (2, "spark engine"), (3, "")]:
        frames = _expected_pixels(doc_id, text)
        n = len(frames)
        want_idx = sorted({(k * n) // 3 for k in range(3)})
        assert sorted(i for i, _ in got[doc_id]) == want_idx
        for idx, cs in got[doc_id]:
            data = frames[idx][2]
            assert cs == sum((i + 1) * b for i, b in enumerate(data))


def _wav(sr: int, samples: list[int]) -> bytes:
    import numpy as np

    data = np.array(samples, dtype="<i2").tobytes()
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, sr, sr * 2, 2, 16)
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def test_audio_energy_hand_computed(spark):
    """Three constructed clips: all-loud, all-quiet, and a quiet-loud-
    quiet clip whose trim boundaries must isolate the middle frame."""
    from hadoop_tfidf_spark.operators.multimodal import audio_energy

    loud = [20000] * 8  # one 4-sample frame pair, both active
    quiet = [10] * 8
    mixed = [0] * 4 + [30000] * 4 + [0] * 4  # frames 0,2 silent; 1 active
    rows = [
        (1, bytearray(_wav(8000, loud)), "audio/x-wav"),
        (2, bytearray(_wav(8000, quiet)), "audio/x-wav"),
        (3, bytearray(_wav(4000, mixed)), "audio/x-wav"),
    ]
    media = spark.createDataFrame(
        rows, "doc_id BIGINT, payload BINARY, media_type STRING"
    )
    out = {
        r["doc_id"]: r
        for r in audio_energy(media, frame=4, threshold_amp=8192).collect()
    }
    assert out[1]["n_frames"] == 2 and out[1]["n_active"] == 2
    assert out[1]["first_active"] == 0 and out[1]["last_active"] == 1
    assert out[1]["energy"] == 8 * 20000 * 20000
    assert out[2]["n_active"] == 0
    assert out[2]["first_active"] is None and out[2]["last_active"] is None
    assert out[3]["n_frames"] == 3 and out[3]["n_active"] == 1
    assert out[3]["first_active"] == 1 and out[3]["last_active"] == 1
    assert out[3]["energy"] == 4 * 30000 * 30000


def test_audio_energy_partial_tail_frame(spark):
    """A 6-sample clip at frame=4 has a 2-sample tail frame; the active
    rule scales with the ACTUAL frame length (mean-square compare), so
    a loud tail of 2 samples still activates."""
    from hadoop_tfidf_spark.operators.multimodal import audio_energy

    clip = [0, 0, 0, 0, 20000, 20000]
    media = spark.createDataFrame(
        [(7, bytearray(_wav(8000, clip)), "audio/x-wav")],
        "doc_id BIGINT, payload BINARY, media_type STRING",
    )
    r = audio_energy(media, frame=4, threshold_amp=8192).first()
    assert r["n_frames"] == 2
    assert r["n_active"] == 1
    assert r["first_active"] == 1 and r["last_active"] == 1
    assert r["energy"] == 2 * 20000 * 20000


def test_audio_energy_matches_python_on_generated_corpus(spark):
    """Cross-check the whole stage against an independent pure-Python
    computation over the synthetic WAV generator's formula."""
    from hadoop_tfidf_spark.operators.multimodal import (
        audio_energy,
        with_audio_payload,
    )

    docs = spark.createDataFrame(
        [(i, "x" * (i % 7 + 1)) for i in range(40)],
        "doc_id BIGINT, text STRING",
    )
    got = {
        r["doc_id"]: r
        for r in audio_energy(with_audio_payload(docs)).collect()
    }
    for i in range(40):
        n = 64 + i % 101
        base = (i % 256) * 131
        s = [(base + 17 * j) % 65536 - 32768 for j in range(n)]
        frames = [s[f : f + 16] for f in range(0, n, 16)]
        act = [
            1 if sum(v * v for v in fr) >= len(fr) * 8192 * 8192 else 0
            for fr in frames
        ]
        r = got[i]
        assert r["n_frames"] == len(frames)
        assert r["n_active"] == sum(act)
        assert r["energy"] == sum(v * v for v in s)
        if sum(act):
            first = act.index(1)
            last = len(act) - 1 - act[::-1].index(1)
            assert (r["first_active"], r["last_active"]) == (first, last)
        else:
            assert r["first_active"] is None
