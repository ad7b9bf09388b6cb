"""Multimodal plumbing tests: binary schema, Arrow batch kernel
contract, and the stubbed decode kernel's pinned semantics."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE
from workshop3_etl_spark.operators.multimodal import (
    decode_media_real,
    media_frame,
    multimodal_decode_features,
)


def test_binary_schema(spark):
    media = media_frame(spark, SF_SMOKE)
    kinds = dict(media.dtypes)
    assert kinds["payload"] == "binary"
    assert kinds["n_bytes"] == "bigint"
    assert media.count() == 500


def test_decode_stub_checksum_pinned(spark):
    """The fake header parse is deterministic: checksum == byte-sum
    mod 2^31 recomputed driver-side for a sample."""
    media = media_frame(spark, SF_SMOKE).limit(20).collect()
    from workshop3_etl_spark.operators.multimodal import (
        _DECODE_SCHEMA,
        decode_media_stub,
    )
    import pyarrow as pa

    from workshop3_etl_spark.functions.arrow_kernel import arrow_schema, to_batch

    batch = pa.RecordBatch.from_pydict(
        {
            "media_id": [r["media_id"] for r in media],
            "media_type": [r["media_type"] for r in media],
            "n_bytes": [r["n_bytes"] for r in media],
            "payload": [bytes(r["payload"]) for r in media],
        }
    )
    out = to_batch(
        decode_media_stub(batch), arrow_schema(_DECODE_SCHEMA)
    ).to_pandas()
    for i, r in enumerate(media):
        assert out["checksum_mod"][i] == sum(bytes(r["payload"])) % 2_147_483_647
        assert out["header_byte"][i] == bytes(r["payload"])[0]


def test_decode_features_runs_distributed(spark):
    out = multimodal_decode_features(spark, SF_SMOKE).collect()
    assert sum(r["n_media"] for r in out) == 500
    assert {r["media_type"] for r in out} == {
        "image/fake", "audio/fake", "video/fake"
    }


def test_real_decode_unknown_codec_is_explicit_stub():
    """Formats without a stdlib parser stay an HONEST stub."""
    with pytest.raises(NotImplementedError):
        decode_media_real(b"\xff\xd8\xff\xe0 not a bmp or wav")


def test_real_decode_bmp_fixture_bytes():
    """Golden hand-assembled 2x1 24-bit BMP: the parser must read the
    actual header fields and pixel bytes (padding stripped)."""
    import struct

    from workshop3_etl_spark.operators.multimodal import decode_media_real

    # pixels: (1,2,3) (4,5,6); row stride pads 6 -> 8 bytes
    rows = bytes([1, 2, 3, 4, 5, 6, 0, 0])
    info = struct.pack("<IiiHHIIiiII", 40, 2, 1, 1, 24, 0, 8, 2835, 2835, 0, 0)
    head = struct.pack("<2sIHHI", b"BM", 54 + 8, 0, 0, 54)
    f = decode_media_real(head + info + rows)
    assert (f["width"], f["height"], f["bit_depth"]) == (2, 1, 24)
    assert f["px_checksum"] == 1 + 2 + 3 + 4 + 5 + 6  # pad excluded


def test_real_decode_wav_fixture_bytes():
    """Golden hand-assembled 3-sample PCM16 mono WAV at 8 kHz; chunk
    walk must find fmt/data wherever they sit."""
    import struct

    from workshop3_etl_spark.operators.multimodal import decode_media_real

    samples = struct.pack("<3h", -256, 0, 256)
    fmt = struct.pack("<4sIHHIIHH", b"fmt ", 16, 1, 1, 8000, 16000, 2, 16)
    data = struct.pack("<4sI", b"data", len(samples)) + samples
    riff = struct.pack("<4sI4s", b"RIFF", 4 + len(fmt) + len(data), b"WAVE")
    f = decode_media_real(riff + fmt + data)
    assert (f["bit_depth"], f["sample_rate"], f["n_samples"]) == (16, 8000, 3)
    assert f["duration_ms"] == 3 * 1000 // 8000
    assert f["px_checksum"] == sum(samples) % 2_147_483_647


def test_encode_decode_roundtrip_matches_strlen_prediction():
    """The synthesized BMP/WAV must decode back to exactly the
    strlen-predicted dimensions the oracle uses."""
    from workshop3_etl_spark.operators.multimodal import (
        _encode_bmp,
        _encode_wav,
        decode_media_real,
    )

    for text in ("a", "hello world", "x" * 137, "y" * 4096):
        data = text.encode()
        bmp = decode_media_real(_encode_bmp(data))
        assert bmp["width"] == 1 + (len(data) % 16)
        assert bmp["height"] == 1 + ((len(data) // 16) % 8)
        wav = decode_media_real(_encode_wav(data))
        assert wav["n_samples"] == len(data)
        assert wav["duration_ms"] == len(data) * 1000 // 8000


def test_frame_sample_matches_python_recomputation(spark):
    """The distributed frame-sample summary must equal a pure-Python
    recomputation over the same payloads — exact, not approximate."""
    from workshop3_etl_spark.operators.multimodal import (
        _FRAME_BYTES,
        _FRAME_STRIDE,
        _MAX_FRAMES,
        multimodal_frame_sample,
    )

    media = media_frame(spark, SF_SMOKE).collect()
    n_videos = 0
    n_frames = 0
    max_idx = -1
    checksum = 0
    for r in media:
        if r["media_type"] != "video/fake":
            continue
        payload = bytes(r["payload"])
        total = (len(payload) + _FRAME_BYTES - 1) // _FRAME_BYTES
        sampled = list(range(0, total, _FRAME_STRIDE))[:_MAX_FRAMES]
        if sampled:
            n_videos += 1
        for fi in sampled:
            n_frames += 1
            max_idx = max(max_idx, fi)
            chunk = payload[fi * _FRAME_BYTES : (fi + 1) * _FRAME_BYTES]
            checksum += sum(chunk) % 2_147_483_647
    row = multimodal_frame_sample(spark, SF_SMOKE).collect()[0]
    assert row["n_videos"] == n_videos
    assert row["n_frames_sampled"] == n_frames
    assert row["max_frame_idx"] == max_idx
    assert row["sum_frame_checksum"] == checksum


def test_resize_matches_python_recomputation(spark):
    from workshop3_etl_spark.operators.multimodal import (
        _RESIZE_STRIDE,
        multimodal_resize_stats,
    )

    media = media_frame(spark, SF_SMOKE).collect()
    n_images = 0
    orig = 0
    thumb = 0
    checksum = 0
    for r in media:
        if r["media_type"] != "image/fake":
            continue
        payload = bytes(r["payload"])
        t = payload[::_RESIZE_STRIDE]
        n_images += 1
        orig += len(payload)
        thumb += len(t)
        checksum += sum(t) % 2_147_483_647
    row = multimodal_resize_stats(spark, SF_SMOKE).collect()[0]
    assert row["n_images"] == n_images
    assert row["total_orig_bytes"] == orig
    assert row["total_thumb_bytes"] == thumb
    assert row["sum_thumb_checksum"] == checksum


def test_resize_bmp_half_exact_pixels():
    """2x nearest-neighbor downscale keeps exactly pixels (2i, 2j):
    pinned on a hand-built 3x2 BMP."""
    from workshop3_etl_spark.operators.multimodal import (
        _pack_bmp,
        decode_media_real,
        resize_bmp_half,
    )

    # 3x2 image; rows bottom-up in BMP but subsampling is row-index
    # based so the check is layout-agnostic: keep rows 0 and... h=2 ->
    # rows {0}, cols {0, 2}
    row0 = bytes([1, 2, 3, 4, 5, 6, 7, 8, 9])
    row1 = bytes([10, 11, 12, 13, 14, 15, 16, 17, 18])
    src = _pack_bmp(3, 2, row0 + row1)
    thumb = resize_bmp_half(src)
    f = decode_media_real(thumb)
    assert (f["width"], f["height"]) == (2, 1)
    # kept pixels: row 0, cols 0 and 2 -> (1,2,3) and (7,8,9)
    assert f["px_checksum"] == sum([1, 2, 3, 7, 8, 9])


def test_resize_bmp_roundtrip_dims():
    from workshop3_etl_spark.operators.multimodal import (
        _encode_bmp,
        decode_media_real,
        resize_bmp_half,
    )

    for n in (1, 17, 137, 4096):
        src = _encode_bmp(b"z" * n)
        s = decode_media_real(src)
        t = decode_media_real(resize_bmp_half(src))
        assert t["width"] == (s["width"] + 1) // 2
        assert t["height"] == (s["height"] + 1) // 2


def test_decimate_wav_half_exact_samples():
    """Decimation keeps exactly samples 0, 2, 4, ... at half the rate
    — pinned on a hand-built 5-sample WAV."""
    import struct

    from workshop3_etl_spark.operators.multimodal import (
        _WAV_OFS,
        _WAV_SCALE,
        _encode_wav,
        decimate_wav_half,
        decode_media_real,
    )

    src = _encode_wav(bytes([10, 20, 30, 40, 50]))
    out = decode_media_real(decimate_wav_half(src))
    assert out["n_samples"] == 3
    assert out["sample_rate"] == 4000
    kept = struct.pack(
        "<3h",
        (10 - _WAV_OFS) * _WAV_SCALE,
        (30 - _WAV_OFS) * _WAV_SCALE,
        (50 - _WAV_OFS) * _WAV_SCALE,
    )
    assert out["px_checksum"] == sum(kept) % 2_147_483_647
    assert out["duration_ms"] == 3 * 1000 // 4000


def test_decode_rejects_non_24bit_bmp():
    """8/32-bit or compressed BMPs must raise (the parser's stride
    math is 24-bit-only) — never return confidently wrong pixels."""
    import struct

    from workshop3_etl_spark.operators.multimodal import decode_media_real

    info = struct.pack(
        "<IiiHHIIiiII", 40, 1, 1, 1, 32, 0, 4, 2835, 2835, 0, 0
    )
    head = struct.pack("<2sIHHI", b"BM", 54 + 4, 0, 0, 54)
    with pytest.raises(NotImplementedError, match="24-bit"):
        decode_media_real(head + info + b"\x01\x02\x03\x04")


def test_bmp_wav_roundtrip_property():
    """Property check over arbitrary blobs: encode->decode round-trips
    the strlen-predicted dimensions AND the exact cycled-pixel /
    scaled-sample checksums (pure Python, no Spark)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from workshop3_etl_spark.operators.multimodal import (
        _WAV_OFS,
        _WAV_SCALE,
        _encode_bmp,
        _encode_wav,
        decode_media_real,
    )

    @settings(max_examples=60, deadline=None)
    @given(st.binary(min_size=0, max_size=700))
    def check(data):
        bmp = decode_media_real(_encode_bmp(data))
        w = 1 + (len(data) % 16)
        h = 1 + ((len(data) // 16) % 8)
        assert (bmp["width"], bmp["height"], bmp["bit_depth"]) == (w, h, 24)
        n_px = w * h * 3
        exp_px = (
            sum(data[i % len(data)] for i in range(n_px)) if data else 0
        )
        assert bmp["px_checksum"] == exp_px % 2_147_483_647

        wav = decode_media_real(_encode_wav(data))
        assert wav["n_samples"] == len(data)
        assert wav["sample_rate"] == 8000
        assert wav["duration_ms"] == len(data) * 1000 // 8000
        import struct

        raw = b"".join(
            struct.pack("<h", (b - _WAV_OFS) * _WAV_SCALE)
            for b in data
        )
        assert wav["px_checksum"] == sum(raw) % 2_147_483_647

    check()


def test_real_decode_rejects_truncated_wav():
    """A data chunk whose declared size exceeds the bytes actually
    present must raise, not return a header-derived sample count with
    a checksum over fewer bytes (r4 ADVICE: decode_media_real is the
    designated real-ingest parse path, so inconsistent features on
    truncation are a silent-corruption bug)."""
    import pytest

    from workshop3_etl_spark.operators.multimodal import (
        _encode_wav,
        decode_media_real,
    )

    full = _encode_wav(bytes([10, 20, 30, 40, 50]))
    with pytest.raises(ValueError, match="truncated WAV"):
        decode_media_real(full[:-4])
    # truncation INSIDE the data chunk header (loop exits before the
    # body guard) must raise too, not decode as an empty WAV
    with pytest.raises(ValueError, match="truncated WAV"):
        decode_media_real(full[:40])
    # cut at an exact chunk boundary BEFORE the data chunk: parseable
    # walk, but no data chunk — still an error
    with pytest.raises(ValueError, match="missing fmt or data"):
        decode_media_real(full[:36])


def test_wav_samples_roundtrip_and_features(spark):
    """_wav_samples must invert _encode_wav exactly, and the feature
    kernel arithmetic must match hand-computed energy / strict
    zero-crossing counts (zeros break runs without counting)."""
    import pyarrow as pa

    from workshop3_etl_spark.functions.arrow_kernel import arrow_schema, to_batch
    from workshop3_etl_spark.operators.multimodal import (
        _WAV_FEATURES_SCHEMA,
        _WAV_OFS,
        _WAV_SCALE,
        _encode_wav,
        _wav_samples,
        wav_features_kernel,
    )

    # signs relative to _WAV_OFS = 79: -, 0, +, -, +, 0
    data = bytes([32, 79, 126, 60, 100, 79])
    samples = _wav_samples(_encode_wav(data))
    assert samples == [(b - _WAV_OFS) * _WAV_SCALE for b in data]

    batch = pa.RecordBatch.from_pydict(
        {
            "media_id": [1, 2],
            "media_type": ["audio/wav", "audio/wav"],
            "payload": [_encode_wav(data), _encode_wav(b"")],
        }
    )
    out = to_batch(
        wav_features_kernel(batch), arrow_schema(_WAV_FEATURES_SCHEMA)
    ).to_pandas()
    row = out[out.media_id == 1].iloc[0]
    expect_s = [(b - _WAV_OFS) * _WAV_SCALE for b in data]
    assert row["n_samples"] == len(expect_s)
    assert row["energy"] == sum(v * v for v in expect_s)
    # signs: -, 0, +, -, +, 0 -> strict crossings at (+,-) and (-,+)
    assert row["zcr"] == sum(
        1 for a, b in zip(expect_s, expect_s[1:]) if a * b < 0
    ) == 2
    empty = out[out.media_id == 2].iloc[0]
    assert (
        empty["n_samples"], empty["energy"], empty["zcr"]
    ) == (0, 0, 0)


def test_wav_samples_skips_odd_chunk_with_pad_byte():
    """A standard WAV with an odd-sized chunk before `data` carries a
    pad byte the size field does not count; the chunk walk must skip
    it (r9 ADVICE: `off += size` alone misparses such files)."""
    import struct

    from workshop3_etl_spark.operators.multimodal import (
        _WAV_OFS,
        _WAV_SCALE,
        _encode_wav,
        _wav_samples,
    )

    data = bytes([40, 90, 120])
    full = _encode_wav(data)
    fmt_and_data = full[12:]
    odd = struct.pack("<4sI", b"LIST", 3) + b"odd" + b"\x00"  # pad
    payload = (
        struct.pack(
            "<4sI4s", b"RIFF", 4 + len(odd) + len(fmt_and_data), b"WAVE"
        )
        + odd
        + fmt_and_data
    )
    assert _wav_samples(payload) == [
        (b - _WAV_OFS) * _WAV_SCALE for b in data
    ]


def test_bmp_dhash_kernel_known_image_and_text_prediction(spark):
    """dHash ground truths: (a) a hand-built horizontal-gradient BMP
    whose every gradient sign is positive left-to-right must hash to
    all-ones columns; (b) for synthesized payloads the kernel's
    decode-path hash must equal the hash predicted straight from the
    source bytes (the oracle's derivation, here in Python)."""
    import pyarrow as pa

    from workshop3_etl_spark.functions.arrow_kernel import arrow_schema, to_batch
    from workshop3_etl_spark.operators.multimodal import (
        _BMP_H_MOD,
        _DHASH_SCHEMA,
        _BMP_W_MOD,
        _encode_bmp,
        _pack_bmp,
        bmp_dhash_kernel,
    )

    # (a) 9x8 image, pixel value = 3 * (8 - x): strictly decreasing
    # left-to-right, constant per column => every g(gx) > g(gx+1).
    w, h = 9, 8
    px = bytes(
        min(255, 8 - x) for y in range(h) for x in range(w) for _ in range(3)
    )
    grad = _pack_bmp(w, h, px)
    out = to_batch(
        bmp_dhash_kernel(
            pa.RecordBatch.from_pydict({"media_id": [1], "payload": [grad]})
        ),
        arrow_schema(_DHASH_SCHEMA),
    ).to_pandas()
    assert out["dhash"][0] == "1" * 64

    # (b) decode-path hash == source-byte prediction for real texts.
    texts = ["hello world this is a test doc", "a" * 37, "xyz" * 50]
    payloads = [_encode_bmp(t.encode()) for t in texts]
    out = to_batch(
        bmp_dhash_kernel(
            pa.RecordBatch.from_pydict(
                {
                    "media_id": list(range(len(texts))),
                    "payload": payloads,
                }
            )
        ),
        arrow_schema(_DHASH_SCHEMA),
    ).to_pandas()
    for t, got in zip(texts, out["dhash"]):
        data = t.encode()
        ln = len(data)
        iw = 1 + (ln % _BMP_W_MOD)
        ih = 1 + ((ln // _BMP_W_MOD) % _BMP_H_MOD)

        def g(sy, sx):
            k = sy * iw + sx
            return sum(data[(3 * k + j) % ln] for j in range(3))

        bits = []
        for gy in range(8):
            sy = (gy * ih) // 8
            vals = [g(sy, (gx * iw) // 9) for gx in range(9)]
            bits += ["1" if vals[i] > vals[i + 1] else "0" for i in range(8)]
        assert got == "".join(bits)


def test_bmp_dhash_neardup_pigeonhole_and_dup_detection(spark):
    """The registered audit finds the planted duplicates: identical
    texts (mod-3-aligned) produce identical BMPs, so n_identical >=
    the number of exact-dup image pairs recomputed from the raw
    corpus; and every identical pair is also within 3."""
    from collections import Counter

    import pandas as pd

    from workshop3_etl_spark.operators.multimodal import (
        multimodal_bmp_dhash_neardup,
    )

    row = multimodal_bmp_dhash_neardup(spark, SF_SMOKE).collect()[0]
    pdf = pd.read_parquet(SF_SMOKE + "/documents.parquet",
                          columns=["doc_id", "text"])
    texts = Counter(
        t for d, t in zip(pdf["doc_id"], pdf["text"]) if d % 3 == 0
    )
    exact_pairs = sum(n * (n - 1) // 2 for n in texts.values())
    n_imgs = sum(texts.values())
    assert row["n_images"] == n_imgs
    assert row["n_distinct_hashes"] <= n_imgs
    assert row["n_identical"] >= exact_pairs
    assert row["n_within_3"] >= row["n_identical"]
    assert row["n_candidate_pairs"] >= row["n_within_3"]


def test_bmp_sobel_kernel_matches_numpy_convolution(spark):
    """Drive the Sobel kernel directly with a hand-built BMP (vertical
    step edge) and check the statistics against an independent numpy
    convolution — the kernel-ground-truth check that does not go
    through the cycling synthesis."""
    import numpy as np
    import pyarrow as pa

    from workshop3_etl_spark.functions.arrow_kernel import arrow_schema, to_batch
    from workshop3_etl_spark.operators.multimodal import (
        _SOBEL_EDGE_THRESH,
        _SOBEL_SCHEMA,
        _pack_bmp,
        bmp_sobel_kernel,
    )

    w, h = 7, 5
    # left half dark (10,10,10), right half bright (200,200,200)
    px = bytearray()
    for r in range(h):
        for c in range(w):
            v = 10 if c < w // 2 else 200
            px += bytes((v, v, v))
    payload = _pack_bmp(w, h, bytes(px))

    out = to_batch(
        bmp_sobel_kernel(
            pa.RecordBatch.from_pydict({"media_id": [7], "payload": [payload]})
        ),
        arrow_schema(_SOBEL_SCHEMA),
    ).to_pandas()
    assert len(out) == 1
    row = out.iloc[0]
    assert (row["width"], row["height"]) == (w, h)
    assert row["n_interior"] == (w - 2) * (h - 2)

    luma = np.array(
        [[30 if c < w // 2 else 600 for c in range(w)] for r in range(h)],
        dtype=np.int64,
    )
    kx = np.array([[-1, 0, 1], [-2, 0, 2], [-1, 0, 1]], dtype=np.int64)
    ky = kx.T
    g1 = np.zeros((h, w), dtype=np.int64)
    for r in range(1, h - 1):
        for c in range(1, w - 1):
            win = luma[r - 1 : r + 2, c - 1 : c + 2]
            g1[r, c] = abs(int((kx * win).sum())) + abs(
                int((ky * win).sum())
            )
    interior = g1[1 : h - 1, 1 : w - 1]
    assert row["grad_l1_sum"] == int(interior.sum())
    assert row["grad_l1_max"] == int(interior.max())
    assert row["n_edge"] == int((interior > _SOBEL_EDGE_THRESH).sum())
    # the step edge must actually register as edge pixels
    assert row["n_edge"] > 0
