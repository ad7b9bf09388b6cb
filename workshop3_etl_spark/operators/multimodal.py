"""Multimodal-column plumbing: opaque binary payloads + typed metadata.

The 100 TB-pipeline pattern for image/audio/video (BASELINE.json north
star): store media as opaque ``binary`` columns beside typed metadata;
decode / feature-extract / resize / frame-sample run as Arrow batch
kernels (``functions.arrow_kernel.map_batches``) so the heavy Python
work streams through fixed-size batches instead of materializing
partitions. Each kernel takes one ``pa.RecordBatch`` and returns its
output columns in the order of a DDL schema declared once beside it.

The stub decode kernel is a clearly-marked STUB (deterministic fake
header parse); the real BMP/WAV codecs below are stdlib-only, and
other formats raise NotImplementedError — but everything Spark-side
is real and tested: the binary schema, the kernel contract, batch
shapes, partition behavior, and the metadata aggregates.

Payloads are synthesized from documents.text bytes (the only blob
source in the testdata).
"""

from __future__ import annotations

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from workshop3_etl_spark.functions.arrow_kernel import map_batches
from workshop3_etl_spark.plans.registry import register
from workshop3_etl_spark.sources.tables import load_table


def media_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (media_id, payload binary, media_type, n_bytes).

    Stand-in for ``spark.read.format('binaryFile')`` over an object
    store; the schema & downstream plumbing are the real thing.
    """
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("payload"),
        F.when(F.col("doc_id") % 3 == 0, "image/fake")
        .when(F.col("doc_id") % 3 == 1, "audio/fake")
        .otherwise("video/fake")
        .alias("media_type"),
        F.length(F.encode("text", "utf-8")).cast("long").alias("n_bytes"),
    )


_DECODE_SCHEMA = (
    "media_id bigint, media_type string, n_bytes bigint,"
    " header_byte int, checksum_mod bigint"
)


def decode_media_stub(batch: pa.RecordBatch) -> list:
    """STUB decode kernel (Arrow batch contract).

    Parses a deterministic fake "header" (first byte + byte-sum mod
    2^31) per payload. A real deployment replaces the body with
    PIL/ffmpeg decoding — same signature, same batch shape.
    """
    payloads = batch.column("payload").to_pylist()
    return [
        batch.column("media_id"),
        batch.column("media_type"),
        batch.column("n_bytes"),
        [p[0] if len(p) else -1 for p in payloads],
        [sum(p) % 2_147_483_647 for p in payloads],
    ]


# --------------------------------------------------------------------
# REAL decode: stdlib-only BMP and WAV codecs (struct header + payload
# parse). Exotic formats (JPEG/MP4/...) still raise NotImplementedError
# — that remaining stub is the slot a PIL/ffmpeg deployment fills.
# --------------------------------------------------------------------

_BMP_W_MOD = 16
_BMP_H_MOD = 8
_WAV_RATE = 8000
# Sample synthesis: byte b -> (b - _WAV_OFS) * _WAV_SCALE. The
# offset 79 sits inside printable ASCII [32, 126] so synthesized
# samples carry BOTH signs and zero (b = 'O') — with the historical
# 128 every printable byte mapped negative and the zcr gate column
# was structurally zero (ADVICE r9), leaving the zero-crossing logic
# exercised only by unit tests, never by the oracle hash. The scale
# 128 keeps (b - 79) * scale inside int16 for EVERY byte value
# (max |b - 79| = 176), so the encoder stays total on arbitrary
# blobs, not just ASCII.
_WAV_OFS = 79
_WAV_SCALE = 128
_CHECKSUM_MOD = 2_147_483_647


def _pack_bmp(w: int, h: int, px: bytes) -> bytes:
    """Assemble a real 24-bit BI_RGB BMP from a raw w*h*3 pixel
    stream (rows padded to 4-byte alignment)."""
    import struct

    row_raw = w * 3
    pad = (4 - row_raw % 4) % 4
    rows = b"".join(
        px[r * row_raw : (r + 1) * row_raw] + b"\x00" * pad
        for r in range(h)
    )
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(rows), 2835, 2835, 0, 0
    )
    head = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(rows), 0, 0, 54)
    return head + info + rows


def _encode_bmp(data: bytes) -> bytes:
    """A real 24-bit BI_RGB BMP whose dimensions derive from the blob
    length and whose pixel bytes cycle the blob — deterministic, so
    the decode features are predictable from strlen alone."""
    w = 1 + (len(data) % _BMP_W_MOD)
    h = 1 + ((len(data) // _BMP_W_MOD) % _BMP_H_MOD)
    n_px = w * h * 3
    px = (
        bytes(data[i % len(data)] for i in range(n_px))
        if data
        else bytes(n_px)
    )
    return _pack_bmp(w, h, px)


def _bmp_pixels(payload: bytes) -> tuple[int, int, list[bytes]]:
    """Parse a BMP payload into (width, height, unpadded pixel rows)
    — the shared pixel-access path for checksumming and resizing.

    Only uncompressed 24-bit BI_RGB is parsed; any other bit depth or
    compression raises like the unknown-codec path does (the stride
    math below is 3-bytes-per-pixel — silently applying it to an
    8/32-bit or RLE BMP would return confidently wrong pixels)."""
    import struct

    _, _, _, _, off = struct.unpack_from("<2sIHHI", payload, 0)
    _, w, h, _, bpp, compression = struct.unpack_from(
        "<IiiHHI", payload, 14
    )
    if bpp != 24 or compression != 0:
        raise NotImplementedError(
            f"only uncompressed 24-bit BI_RGB BMPs are parsed "
            f"(got bpp={bpp}, compression={compression})"
        )
    row_raw = w * 3
    stride = row_raw + (4 - row_raw % 4) % 4
    rows = [
        payload[off + r * stride : off + r * stride + row_raw]
        for r in range(h)
    ]
    return w, h, rows


def resize_bmp_half(payload: bytes) -> bytes:
    """REAL nearest-neighbor 2x downscale of a BMP: decode the actual
    pixel rows, keep every second pixel of every second row, re-encode
    as a valid BMP. Output dims: ceil(w/2) x ceil(h/2)."""
    w, h, rows = _bmp_pixels(payload)
    tw, th = (w + 1) // 2, (h + 1) // 2
    out = bytearray()
    for r in range(0, h, 2):
        row = rows[r]
        for c in range(0, w, 2):
            out += row[c * 3 : c * 3 + 3]
    return _pack_bmp(tw, th, bytes(out))


def _encode_wav(data: bytes) -> bytes:
    """A real PCM16 mono RIFF/WAVE: one sample per blob byte
    (centered and scaled), 8 kHz."""
    import struct

    samples = b"".join(
        struct.pack("<h", (b - _WAV_OFS) * _WAV_SCALE) for b in data
    )
    fmt = struct.pack(
        "<4sIHHIIHH", b"fmt ", 16, 1, 1, _WAV_RATE, _WAV_RATE * 2, 2, 16
    )
    datac = struct.pack("<4sI", b"data", len(samples)) + samples
    riff = struct.pack("<4sI4s", b"RIFF", 4 + len(fmt) + len(datac), b"WAVE")
    return riff + fmt + datac


def decode_media_real(payload: bytes) -> dict:
    """Parse a media payload's ACTUAL bytes (stdlib struct only).

    BMP: file+info headers, then the pixel array (row padding
    stripped, checksum over real pixel bytes). WAV: RIFF chunk walk
    to fmt/data (not fixed offsets — chunk order independent). Any
    other format raises NotImplementedError — the honest stub edge
    where PIL/ffmpeg would plug in.
    """
    import struct

    out = {
        "width": None,
        "height": None,
        "bit_depth": None,
        "n_samples": None,
        "sample_rate": None,
        "duration_ms": None,
        "px_checksum": None,
    }
    if payload[:2] == b"BM":
        _, w, h, _, bpp = struct.unpack_from("<IiiHH", payload, 14)
        _, _, rows = _bmp_pixels(payload)
        acc = 0
        for row in rows:
            acc = (acc + sum(row)) % _CHECKSUM_MOD
        out.update(
            width=w, height=h, bit_depth=bpp, px_checksum=acc
        )
        return out
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        pos = 12
        rate = bits = None
        n_samples = acc = 0
        data_seen = False
        while pos + 8 <= len(payload):
            cid, size = struct.unpack_from("<4sI", payload, pos)
            body = payload[pos + 8 : pos + 8 + size]
            if cid == b"fmt ":
                _, channels, rate, _, block, bits = struct.unpack_from(
                    "<HHIIHH", body, 0
                )
            elif cid == b"data":
                # A truncated payload must not yield a sample count
                # from the header but a checksum over fewer bytes —
                # mirror the BMP bpp/compression strictness and raise.
                if size > len(body):
                    raise ValueError(
                        f"truncated WAV data chunk: header declares "
                        f"{size} bytes, payload holds {len(body)}"
                    )
                n_samples = size // 2
                acc = sum(body) % _CHECKSUM_MOD
                data_seen = True
            pos += 8 + size + (size % 2)  # RIFF chunks are word-aligned
        # Truncation INSIDE a chunk header (leftover bytes the loop
        # can't parse) or a file cut before its data chunk must also
        # raise — returning a silent zero-sample decode is the same
        # corruption class as the short-body case above.
        if pos != len(payload):
            raise ValueError(
                f"truncated WAV: chunk walk ended at byte {pos} of "
                f"{len(payload)} — chunk structure does not cover the "
                "payload exactly"
            )
        if rate is None or not data_seen:
            raise ValueError("WAV missing fmt or data chunk")
        out.update(
            bit_depth=bits,
            n_samples=n_samples,
            sample_rate=rate,
            duration_ms=n_samples * 1000 // rate if rate else None,
            px_checksum=acc,
        )
        return out
    raise NotImplementedError(
        "unknown codec (not BMP/WAV) — requires PIL/ffmpeg; wire it "
        "into decode_real_kernel"
    )


_MM_ORACLE = """
SELECT
  CASE WHEN doc_id % 3 = 0 THEN 'image/fake'
       WHEN doc_id % 3 = 1 THEN 'audio/fake'
       ELSE 'video/fake' END AS media_type,
  CAST(COUNT(*) AS BIGINT) AS n_media,
  CAST(SUM(CAST(strlen(text) AS BIGINT)) AS BIGINT) AS total_bytes,
  CAST(MAX(strlen(text)) AS BIGINT) AS max_bytes
FROM documents
GROUP BY 1
ORDER BY media_type
"""


@register("multimodal_payload_stats", oracle=_MM_ORACLE)
def multimodal_payload_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-level stats over the binary payload column (pure JVM —
    proves the binary schema flows through scan/agg untouched)."""
    media = media_frame(spark, sf_dir)
    return (
        media.groupBy("media_type")
        .agg(
            F.count(F.lit(1)).alias("n_media"),
            F.sum("n_bytes").cast("long").alias("total_bytes"),
            F.max("n_bytes").cast("long").alias("max_bytes"),
        )
        .orderBy("media_type")
    )


# Oracle over the stub-decode byte math (round 5 — same technique
# that graduated frame_sample/resize_stats): header byte = first
# payload byte from hex(encode(text)); checksum = whole-payload byte
# sum mod 2^31-1, recomputed per row with a list comprehension.
_DECODE_FEATURES_ORACLE = """
WITH m AS (
  SELECT
    CASE WHEN doc_id % 3 = 0 THEN 'image/fake'
         WHEN doc_id % 3 = 1 THEN 'audio/fake'
         ELSE 'video/fake' END AS media_type,
    hex(encode(text)) AS h,
    octet_length(encode(text)) AS nb
  FROM documents
)
SELECT
  media_type,
  CAST(COUNT(*) AS BIGINT) AS n_media,
  CAST(MIN(CASE WHEN nb = 0 THEN -1
                ELSE CAST('0x' || substring(h, 1, 2) AS INT) END)
    AS INT) AS min_header_byte,
  CAST(MAX(CASE WHEN nb = 0 THEN -1
                ELSE CAST('0x' || substring(h, 1, 2) AS INT) END)
    AS INT) AS max_header_byte,
  CAST(SUM(COALESCE(list_sum([
    CAST('0x' || substring(h, 2 * p + 1, 2) AS INT)
    FOR p IN range(0, nb)
  ]), 0) % 2147483647) AS BIGINT) AS sum_checksum_mod
FROM m
GROUP BY media_type
ORDER BY media_type
"""


@register("multimodal_decode_features", oracle=_DECODE_FEATURES_ORACLE)
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched decode (stub kernel), then a
    JVM-side aggregate over the extracted features. Fully oracled:
    the stub features are pure byte math over the synthetic payload
    (documents.text utf-8 bytes), which DuckDB recomputes from
    hex(encode(text)); tests/test_multimodal.py additionally pins the
    kernel's checksum semantics row-by-row.
    """
    media = media_frame(spark, sf_dir)
    decoded = map_batches(
        media,
        ["media_id", "media_type", "n_bytes", "payload"],
        _DECODE_SCHEMA,
        decode_media_stub,
    )
    return (
        decoded.groupBy("media_type")
        .agg(
            F.count(F.lit(1)).alias("n_media"),
            F.min("header_byte").alias("min_header_byte"),
            F.max("header_byte").alias("max_header_byte"),
            F.sum("checksum_mod").cast("long").alias("sum_checksum_mod"),
        )
        .orderBy("media_type")
    )


# --------------------------------------------------------------------
# Real-decode pipeline: synthesize ACTUAL BMP/WAV files as the binary
# payload column (the ingest stand-in), then decode them back by
# parsing their real bytes. Because the synthesis is deterministic in
# the blob length, the decoded width/height/duration are predictable
# from strlen alone — which makes the decode hash-checkable against a
# DuckDB oracle: if the struct parsing misreads a single header field,
# the hash comparison fails.
# --------------------------------------------------------------------

_MEDIA_SCHEMA = "media_id bigint, media_type string, payload binary"


def encode_media_kernel(batch: pa.RecordBatch) -> list:
    """Ingest kernel: document text bytes -> real BMP
    (doc_id % 3 == 0) or real WAV (doc_id % 3 == 1) payloads."""
    ids: list[int] = []
    types: list[str] = []
    blobs: list[bytes] = []
    for mid, text in zip(
        batch.column("doc_id").to_pylist(), batch.column("text").to_pylist()
    ):
        data = text.encode("utf-8")
        if mid % 3 == 0:
            types.append("image/bmp")
            blobs.append(_encode_bmp(data))
        elif mid % 3 == 1:
            types.append("audio/wav")
            blobs.append(_encode_wav(data))
        else:
            continue
        ids.append(mid)
    return [ids, types, blobs]


def encode_media(docs: DataFrame) -> DataFrame:
    """(doc_id, text) -> (media_id, media_type, payload) via
    encode_media_kernel."""
    return map_batches(
        docs, ["doc_id", "text"], _MEDIA_SCHEMA, encode_media_kernel
    )


_MEDIA_COLUMNS = ["media_id", "media_type", "payload"]


def _media_rows(batch: pa.RecordBatch):
    """(media_id, media_type, payload) Python tuples of a media batch."""
    return zip(*(batch.column(c).to_pylist() for c in _MEDIA_COLUMNS))


_DECODE_REAL_SCHEMA = (
    "media_id bigint, media_type string, width int, height int,"
    " bit_depth int, n_samples bigint, sample_rate int, duration_ms bigint,"
    " px_checksum bigint"
)


def decode_real_kernel(batch: pa.RecordBatch) -> list:
    """Decode kernel: struct-parse every payload's actual bytes via
    decode_media_real (whose feature keys are in schema order; a
    feature a format lacks is a null)."""
    feats = [decode_media_real(p) for p in batch.column("payload").to_pylist()]
    return [
        batch.column("media_id"),
        batch.column("media_type"),
        *zip(*(f.values() for f in feats)),
    ]


_DECODE_REAL_ORACLE = f"""
SELECT
  CASE WHEN doc_id % 3 = 0 THEN 'image/bmp' ELSE 'audio/wav' END
    AS media_type,
  CAST(COUNT(*) AS BIGINT) AS n_media,
  CAST(SUM(CASE WHEN doc_id % 3 = 0
                THEN 1 + (strlen(text) % {_BMP_W_MOD}) END) AS BIGINT)
    AS sum_width,
  CAST(SUM(CASE WHEN doc_id % 3 = 0
                THEN 1 + ((strlen(text) // {_BMP_W_MOD}) % {_BMP_H_MOD})
           END) AS BIGINT) AS sum_height,
  CAST(SUM(CASE WHEN doc_id % 3 = 1
                THEN (strlen(text) * 1000) // {_WAV_RATE} END) AS BIGINT)
    AS sum_duration_ms
FROM documents
WHERE doc_id % 3 < 2
GROUP BY 1
ORDER BY media_type
"""


@register("multimodal_decode_bmp_wav", oracle=_DECODE_REAL_ORACLE)
def multimodal_decode_bmp_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media decode, end-to-end and fully oracled: text bytes ->
    actual BMP/WAV files (encode kernel) -> struct header+payload
    parse (decode kernel) -> JVM aggregate of the DECODED dimensions.

    The oracle predicts width/height/duration from strlen (the
    synthesis is deterministic in blob length), so a misparsed header
    field fails the hash gate — this is the honest version of "decode
    works", not a checksum of opaque bytes. Both kernels are
    Arrow batch kernels; at 100 TB the encode stage is the binaryFile
    scan and the decode stage is unchanged.
    """
    media = encode_media(load_table(spark, sf_dir, "documents"))
    decoded = map_batches(
        media, _MEDIA_COLUMNS, _DECODE_REAL_SCHEMA, decode_real_kernel
    )
    return (
        decoded.groupBy("media_type")
        .agg(
            F.count(F.lit(1)).alias("n_media"),
            F.sum("width").cast("long").alias("sum_width"),
            F.sum("height").cast("long").alias("sum_height"),
            F.sum("duration_ms").cast("long").alias("sum_duration_ms"),
        )
        .orderBy("media_type")
    )


def decimate_wav_half(payload: bytes) -> bytes:
    """REAL audio downsample: parse the PCM sample stream, keep every
    second 16-bit sample, re-encode at half the sample rate (so
    duration is preserved up to rounding) — the stdlib analog of a
    resample kernel."""
    import struct

    f = decode_media_real(payload)
    rate, n = f["sample_rate"], f["n_samples"]
    # locate the data chunk again to extract raw samples
    pos, samples = 12, b""
    while pos + 8 <= len(payload):
        cid, size = struct.unpack_from("<4sI", payload, pos)
        if cid == b"data":
            samples = payload[pos + 8 : pos + 8 + size]
            break
        pos += 8 + size + (size % 2)
    kept = b"".join(
        samples[i * 2 : i * 2 + 2] for i in range(0, n, 2)
    )
    new_rate = max(1, rate // 2)
    fmt = struct.pack(
        "<4sIHHIIHH", b"fmt ", 16, 1, 1, new_rate, new_rate * 2, 2, 16
    )
    datac = struct.pack("<4sI", b"data", len(kept)) + kept
    riff = struct.pack(
        "<4sI4s", b"RIFF", 4 + len(fmt) + len(datac), b"WAVE"
    )
    return riff + fmt + datac


_DECIMATE_WAV_SCHEMA = (
    "media_id bigint, n_samples bigint, out_samples bigint, out_rate int,"
    " out_duration_ms bigint, out_checksum bigint"
)


def decimate_wav_kernel(batch: pa.RecordBatch) -> list:
    """Decimate each WAV payload and round-trip the result through the
    decoder (the output must itself be a valid WAV)."""
    ids, ns, outs, rates, durs, cks = [], [], [], [], [], []
    for mid, mtype, payload in _media_rows(batch):
        if mtype != "audio/wav":
            continue
        src = decode_media_real(payload)
        out = decode_media_real(decimate_wav_half(payload))
        ids.append(mid)
        ns.append(src["n_samples"])
        outs.append(out["n_samples"])
        rates.append(out["sample_rate"])
        durs.append(out["duration_ms"])
        cks.append(out["px_checksum"])
    return [ids, ns, outs, rates, durs, cks]


_DECIMATE_WAV_ORACLE = f"""
SELECT
  CAST(COUNT(*) AS BIGINT) AS n_audio,
  CAST(SUM(strlen(text)) AS BIGINT) AS sum_samples,
  CAST(SUM((strlen(text) + 1) // 2) AS BIGINT) AS sum_out_samples,
  CAST(SUM(((strlen(text) + 1) // 2) * 1000 // {_WAV_RATE // 2})
    AS BIGINT) AS sum_out_duration_ms
FROM documents
WHERE doc_id % 3 = 1
"""


@register("multimodal_decimate_wav", oracle=_DECIMATE_WAV_ORACLE)
def multimodal_decimate_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio downsample, oracled: synthesize WAVs from document
    bytes, keep every second PCM sample at half the rate, round-trip
    through the decoder, and aggregate the DECODED output properties.
    The oracle predicts sample counts and durations from strlen; a
    chunk-walk or sample-stride bug breaks the hash."""
    media = encode_media(load_table(spark, sf_dir, "documents"))
    outs = map_batches(
        media, _MEDIA_COLUMNS, _DECIMATE_WAV_SCHEMA, decimate_wav_kernel
    )
    return outs.agg(
        F.count(F.lit(1)).alias("n_audio"),
        F.sum("n_samples").cast("long").alias("sum_samples"),
        F.sum("out_samples").cast("long").alias("sum_out_samples"),
        F.sum("out_duration_ms").cast("long").alias("sum_out_duration_ms"),
    )


_RESIZE_BMP_SCHEMA = (
    "media_id bigint, width int, height int, thumb_w int, thumb_h int,"
    " thumb_checksum bigint"
)


def resize_bmp_kernel(batch: pa.RecordBatch) -> list:
    """Decode each BMP payload, 2x-downscale its REAL pixels,
    re-encode, and re-decode the thumbnail (round-trip through the
    codec proves the output is itself a valid BMP)."""
    ids, ws, hs, tws, ths, cks = [], [], [], [], [], []
    for mid, mtype, payload in _media_rows(batch):
        if mtype != "image/bmp":
            continue
        src = decode_media_real(payload)
        dst = decode_media_real(resize_bmp_half(payload))
        ids.append(mid)
        ws.append(src["width"])
        hs.append(src["height"])
        tws.append(dst["width"])
        ths.append(dst["height"])
        cks.append(dst["px_checksum"])
    return [ids, ws, hs, tws, ths, cks]


_RESIZE_BMP_ORACLE = f"""
SELECT
  CAST(COUNT(*) AS BIGINT) AS n_images,
  CAST(SUM(1 + (strlen(text) % {_BMP_W_MOD})) AS BIGINT) AS sum_width,
  CAST(SUM(1 + ((strlen(text) // {_BMP_W_MOD}) % {_BMP_H_MOD}))
    AS BIGINT) AS sum_height,
  CAST(SUM((1 + (strlen(text) % {_BMP_W_MOD}) + 1) // 2) AS BIGINT)
    AS sum_thumb_w,
  CAST(SUM((1 + ((strlen(text) // {_BMP_W_MOD}) % {_BMP_H_MOD}) + 1) // 2)
    AS BIGINT) AS sum_thumb_h
FROM documents
WHERE doc_id % 3 = 0
"""


@register("multimodal_resize_bmp", oracle=_RESIZE_BMP_ORACLE)
def multimodal_resize_bmp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize, oracled: synthesize BMPs from document
    bytes, nearest-neighbor 2x-downscale their actual pixel arrays,
    re-encode, and round-trip the thumbnails through the decoder. The
    oracle predicts source and thumbnail dimensions from strlen
    (synthesis is deterministic in blob length), so a stride/padding
    bug anywhere in decode -> subsample -> re-encode -> re-decode
    breaks the hash. Thumbnail pixel checksums are additionally pinned
    exactly in tests/test_multimodal.py (not SQL-expressible)."""
    media = encode_media(load_table(spark, sf_dir, "documents"))
    thumbs = map_batches(
        media, _MEDIA_COLUMNS, _RESIZE_BMP_SCHEMA, resize_bmp_kernel
    )
    return thumbs.agg(
        F.count(F.lit(1)).alias("n_images"),
        F.sum("width").cast("long").alias("sum_width"),
        F.sum("height").cast("long").alias("sum_height"),
        F.sum("thumb_w").cast("long").alias("sum_thumb_w"),
        F.sum("thumb_h").cast("long").alias("sum_thumb_h"),
    )


# --------------------------------------------------------------------
# Frame sampling + resize plumbing. Unlike decode, these kernels are
# NOT stubs: byte-range frame extraction and stride downsampling are
# real payload operations a pipeline runs BEFORE any codec work
# (sampling which byte ranges to decode). Deterministic byte math,
# pinned exactly in tests/test_multimodal.py.
# --------------------------------------------------------------------

_FRAME_BYTES = 256  # fixed-size frame chunks within a video payload
_FRAME_STRIDE = 4  # keep every 4th frame
_MAX_FRAMES = 8  # per-video cap

_FRAME_SCHEMA = (
    "media_id bigint, frame_idx int, frame_n_bytes int, frame_checksum bigint"
)


def sample_frames_kernel(batch: pa.RecordBatch) -> list:
    """Fan-out kernel: one input media row -> up to _MAX_FRAMES
    sampled-frame rows (video payloads only). The Arrow batch contract
    stays row-count-free: a kernel may emit more rows than it
    receives."""
    ids: list[int] = []
    idxs: list[int] = []
    sizes: list[int] = []
    sums: list[int] = []
    for mid, mtype, payload in _media_rows(batch):
        if mtype != "video/fake" or payload is None:
            continue
        n_frames = (len(payload) + _FRAME_BYTES - 1) // _FRAME_BYTES
        for k, fi in enumerate(range(0, n_frames, _FRAME_STRIDE)):
            if k >= _MAX_FRAMES:
                break
            chunk = payload[fi * _FRAME_BYTES : (fi + 1) * _FRAME_BYTES]
            ids.append(mid)
            idxs.append(fi)
            sizes.append(len(chunk))
            sums.append(sum(chunk) % 2_147_483_647)
    return [ids, idxs, sizes, sums]


_RESIZE_SCHEMA = (
    "media_id bigint, orig_bytes bigint, thumb_bytes bigint,"
    " thumb_checksum bigint"
)

_RESIZE_STRIDE = 8  # keep every 8th byte — the stand-in "downscale"


def resize_kernel(batch: pa.RecordBatch) -> list:
    """Resize kernel for image payloads: stride downsampling of the
    byte stream (a real pixel resize drops into the same slot —
    identical signature, batch shape, and schema)."""
    ids, origs, thumbs = [], [], []
    for mid, mtype, payload in _media_rows(batch):
        if mtype == "image/fake" and payload is not None:
            ids.append(mid)
            origs.append(len(payload))
            thumbs.append(payload[::_RESIZE_STRIDE])
    return [
        ids,
        origs,
        [len(t) for t in thumbs],
        [sum(t) % 2_147_483_647 for t in thumbs],
    ]


# Oracle strategy (graduates the query from rows-only to
# hash-checked, like the r4 ANN work): the payload is the utf-8 bytes
# of documents.text, so every frame/thumbnail statistic is pure byte
# math DuckDB can recompute from hex(encode(text)) with a
# list-comprehension over byte positions. Per-frame checksums are
# mod 2^31-1 but a 256-byte frame sums to < 2^16, so the mod is the
# identity and the cross-frame SUM is a plain byte-range sum.
_FRAME_ORACLE = f"""
WITH v AS (
  SELECT
    hex(encode(text)) AS h,
    octet_length(encode(text)) AS nb,
    (octet_length(encode(text)) + {_FRAME_BYTES} - 1) // {_FRAME_BYTES}
      AS n_frames
  FROM documents
  WHERE doc_id % 3 = 2 AND text IS NOT NULL
    AND octet_length(encode(text)) > 0
),
per AS (
  SELECT
    LEAST((n_frames + {_FRAME_STRIDE} - 1) // {_FRAME_STRIDE},
          {_MAX_FRAMES}) AS n_sampled,
    COALESCE(list_sum([
      CAST('0x' || substring(h, 2 * p + 1, 2) AS INT)
      FOR p IN range(0, nb)
      IF (p // {_FRAME_BYTES}) % {_FRAME_STRIDE} = 0
         AND (p // {_FRAME_BYTES})
             < {_FRAME_STRIDE} * {_MAX_FRAMES}
    ]), 0) AS cksum
  FROM v
)
SELECT
  CAST(COUNT(*) AS BIGINT) AS n_videos,
  CAST(SUM(n_sampled) AS BIGINT) AS n_frames_sampled,
  CAST(MAX({_FRAME_STRIDE} * (n_sampled - 1)) AS INT) AS max_frame_idx,
  CAST(SUM(cksum) AS BIGINT) AS sum_frame_checksum
FROM per
"""


@register("multimodal_frame_sample", oracle=_FRAME_ORACLE)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled-frame summary over video payloads: Arrow-batched
    fan-out (a kernel emitting up to _MAX_FRAMES rows per video),
    then a JVM aggregate. Fully oracled: the synthetic payload is
    documents.text utf-8 bytes, so DuckDB recomputes every sampled
    byte range from hex(encode(text)). tests/test_multimodal.py
    additionally pins per-frame rows against a pure-Python
    recomputation."""
    media = media_frame(spark, sf_dir)
    frames = map_batches(
        media, _MEDIA_COLUMNS, _FRAME_SCHEMA, sample_frames_kernel
    )
    return frames.agg(
        F.countDistinct("media_id").alias("n_videos"),
        F.count(F.lit(1)).alias("n_frames_sampled"),
        F.max("frame_idx").alias("max_frame_idx"),
        F.sum("frame_checksum").cast("long").alias("sum_frame_checksum"),
    )


_RESIZE_STATS_ORACLE = f"""
WITH img AS (
  SELECT
    hex(encode(text)) AS h,
    octet_length(encode(text)) AS nb
  FROM documents
  WHERE doc_id % 3 = 0 AND text IS NOT NULL
)
SELECT
  CAST(COUNT(*) AS BIGINT) AS n_images,
  CAST(SUM(nb) AS BIGINT) AS total_orig_bytes,
  CAST(SUM((nb + {_RESIZE_STRIDE} - 1) // {_RESIZE_STRIDE}) AS BIGINT)
    AS total_thumb_bytes,
  CAST(SUM(COALESCE(list_sum([
    CAST('0x' || substring(h, 2 * p + 1, 2) AS INT)
    FOR p IN range(0, nb) IF p % {_RESIZE_STRIDE} = 0
  ]), 0) % 2147483647) AS BIGINT) AS sum_thumb_checksum
FROM img
"""


@register("multimodal_resize_stats", oracle=_RESIZE_STATS_ORACLE)
def multimodal_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thumbnail summary over image payloads (stride-downsample
    kernel). Fully oracled — the stride-8 thumbnail is the bytes at
    positions p % 8 = 0, which DuckDB recomputes from
    hex(encode(text)); exact per-row byte semantics additionally
    pinned in tests/test_multimodal.py."""
    media = media_frame(spark, sf_dir)
    thumbs = map_batches(media, _MEDIA_COLUMNS, _RESIZE_SCHEMA, resize_kernel)
    return thumbs.agg(
        F.count(F.lit(1)).alias("n_images"),
        F.sum("orig_bytes").cast("long").alias("total_orig_bytes"),
        F.sum("thumb_bytes").cast("long").alias("total_thumb_bytes"),
        F.sum("thumb_checksum").cast("long").alias("sum_thumb_checksum"),
    )


# --------------------------------------------------------------------
# REAL audio feature extraction: short-time energy + zero-crossing
# count over the DECODED PCM sample stream — the first actual DSP
# feature in the multimodal family (decode/resize/decimate above are
# codec plumbing). The kernel chunk-walks the RIFF container and
# unpacks the int16 samples (stdlib struct, an Arrow batch kernel);
# energy and crossings are exact integer arithmetic
# over those samples.
#
# Oracle honesty: the synthesis maps each text byte b to the sample
# (b - _WAV_OFS) * _WAV_SCALE and the corpus is pure printable ASCII
# (verified: every doc matches ^[ -~]*$, so byte == code point), so
# DuckDB can predict both features per document from the text
# characters alone — a misparsed sample stream (wrong endianness,
# off-by-one chunk walk, dropped sample) fails the hash gate, not
# just a length check. The offset sits mid-ASCII so both signs occur
# and zcr carries real signal in the gate (see _WAV_OFS).
# --------------------------------------------------------------------


def _wav_samples(payload: bytes) -> list[int]:
    """Chunk-walk a RIFF/WAVE payload and unpack the PCM16 samples."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    off = 12
    while off + 8 <= len(payload):
        cid, size = struct.unpack_from("<4sI", payload, off)
        off += 8
        if cid == b"data":
            return list(struct.unpack_from(f"<{size // 2}h", payload, off))
        # RIFF chunks are word-aligned: odd-sized chunks carry one
        # pad byte that the size field does not count (ADVICE r9) —
        # the in-repo encoder emits even chunks, but a standard WAV
        # with an odd-length chunk before `data` must still parse.
        off += size + (size & 1)
    return []


_WAV_FEATURES_SCHEMA = (
    "media_id bigint, n_samples bigint, energy bigint, zcr bigint"
)


def wav_features_kernel(batch: pa.RecordBatch) -> list:
    """DSP kernel: decoded-sample energy (sum of squares) and strict
    zero crossings (adjacent products < 0)."""
    ns, es, zs = [], [], []
    for payload in batch.column("payload").to_pylist():
        s = _wav_samples(payload)
        ns.append(len(s))
        es.append(sum(v * v for v in s))
        zs.append(sum(1 for a, b in zip(s, s[1:]) if a * b < 0))
    return [batch.column("media_id"), ns, es, zs]


_WAV_FEATURES_ORACLE = f"""
WITH wav AS (
  SELECT doc_id, text,
         CASE WHEN strlen(text) = 0 THEN []
              ELSE list_transform(generate_series(1, strlen(text)),
                     i -> ord(substr(text, CAST(i AS INT), 1))
                          - {_WAV_OFS})
         END AS bs
  FROM documents WHERE doc_id % 3 = 1
)
SELECT doc_id AS media_id,
       CAST(strlen(text) AS BIGINT) AS n_samples,
       CAST(CASE WHEN strlen(text) = 0 THEN 0
            ELSE list_reduce(
              list_transform(bs,
                b -> CAST(b AS BIGINT) * {_WAV_SCALE}
                     * CAST(b AS BIGINT) * {_WAV_SCALE}),
              (a, c) -> a + c)
            END AS BIGINT) AS energy,
       CAST(CASE WHEN strlen(text) <= 1 THEN 0
            ELSE len(list_filter(generate_series(1, strlen(text) - 1),
                                 i -> bs[i] * bs[i + 1] < 0))
            END AS BIGINT) AS zcr
FROM wav
ORDER BY media_id
"""


@register("multimodal_wav_energy_zcr", oracle=_WAV_FEATURES_ORACLE)
def multimodal_wav_energy_zcr(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-audio-document DSP features from the REAL decoded PCM
    stream: (media_id, n_samples, energy, zcr) — encode kernel
    synthesizes actual RIFF/WAVE payloads, the feature kernel
    chunk-walks and unpacks them, and the oracle independently
    predicts both features from the source characters (see the
    section design comment). Map-only end to end: two Arrow-batched
    kernels, no shuffle before the final ORDER BY."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter("doc_id % 3 = 1")
    )
    feats = map_batches(
        encode_media(docs),
        ["media_id", "payload"],
        _WAV_FEATURES_SCHEMA,
        wav_features_kernel,
    )
    return feats.orderBy("media_id")


# --------------------------------------------------------------------
# Perceptual-hash (dHash) near-duplicate detection over the REAL
# decoded BMP pixels — the image sibling of dedup_simhash_hamming_
# pairs, closing the multimodal dedup gap: text dedup has
# exact/MinHash/SimHash families, images get the standard
# difference-hash. The pipeline is the real-decode arc: synthesize
# actual BI_RGB payloads, struct-parse them back, nearest-neighbor
# downsample the pixel grid to 9x8 luma cells (integer channel sums
# — no libm), hash the horizontal gradient signs into a 64-bit
# signature, then pigeonhole-block on 16-bit signature quarters
# (any pair with hamming <= 3 shares >= 1 exact quarter — the same
# no-false-negative guarantee as the SimHash blocker).
#
# Oracle honesty (the WAV-energy recipe): the synthesis cycles the
# document's bytes through the pixel stream, so the oracle predicts
# every grid cell — and therefore the full 64-bit hash — from the
# source CHARACTERS (pixel k's channels are text[(3k+j) mod L]; the
# corpus is pure printable ASCII, verified r9). A single misparsed
# header field, row-padding slip, or resampling off-by-one produces
# different signatures and fails the hash gate.
#
# Scale: signature extraction is map-only Arrow kernels; the blocked
# self-join touches 4 x 16-bit band buckets (bucket sizes are
# hash-distribution-bounded — measured max 21 of 167 images at
# sf0.01; a skewed bucket at 100 TB gets the LSH family's logged cap
# treatment). Output is a 1-row audit, not the pair list.
# --------------------------------------------------------------------

_DHASH_SCHEMA = "media_id bigint, dhash string"


def bmp_dhash_kernel(batch: pa.RecordBatch) -> list:
    """Decode each BMP payload's actual bytes and emit the 64-char
    '0'/'1' dHash string (9x8 nearest-neighbor grid, horizontal
    gradient signs, row-major gy then gx)."""
    hs = []
    for payload in batch.column("payload").to_pylist():
        w, h, rows = _bmp_pixels(payload)
        bits = []
        for gy in range(8):
            sy = (gy * h) // 8
            row = rows[sy]
            vals = []
            for gx in range(9):
                sx = (gx * w) // 9
                vals.append(row[3 * sx] + row[3 * sx + 1] + row[3 * sx + 2])
            bits.extend(
                "1" if vals[i] > vals[i + 1] else "0" for i in range(8)
            )
        hs.append("".join(bits))
    return [batch.column("media_id"), hs]


_BMP_DHASH_ORACLE = f"""
WITH imgs AS (
  SELECT doc_id, text, CAST(strlen(text) AS BIGINT) AS l,
         CAST(1 + (strlen(text) % {_BMP_W_MOD}) AS BIGINT) AS w,
         CAST(1 + ((strlen(text) // {_BMP_W_MOD}) % {_BMP_H_MOD})
              AS BIGINT) AS h
  FROM documents WHERE doc_id % 3 = 0
),
cells AS (
  SELECT i.doc_id, g.gy, g.gx,
         (SELECT SUM(ord(substr(i.text,
                  CAST(((3 * (((g.gy * i.h) // 8) * i.w
                         + ((g.gx * i.w) // 9)) + j.j) % i.l) + 1
                       AS INT), 1)))
          FROM (SELECT unnest(range(3)) AS j) j) AS g
  FROM imgs i,
       (SELECT gys.gy, gxs.gx
        FROM (SELECT unnest(range(8)) AS gy) gys,
             (SELECT unnest(range(9)) AS gx) gxs) g
),
sigs AS (
  SELECT a.doc_id AS media_id,
         string_agg(CASE WHEN a.g > b.g THEN '1' ELSE '0' END, ''
                    ORDER BY a.gy, a.gx) AS dhash
  FROM cells a JOIN cells b
    ON a.doc_id = b.doc_id AND a.gy = b.gy AND b.gx = a.gx + 1
  WHERE a.gx < 8
  GROUP BY a.doc_id
),
blocks AS (
  SELECT media_id, dhash, q AS quarter_id,
         substr(dhash, q * 16 + 1, 16) AS quarter
  FROM sigs, (SELECT unnest([0, 1, 2, 3]) AS q)
),
cands AS (
  SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
         a.dhash AS sig_a, b.dhash AS sig_b
  FROM blocks a JOIN blocks b
    ON a.quarter_id = b.quarter_id AND a.quarter = b.quarter
   AND a.media_id < b.media_id
),
measured AS (
  SELECT id_a, id_b, hamming(sig_a, sig_b) AS dist FROM cands
)
SELECT
  (SELECT CAST(COUNT(*) AS BIGINT) FROM sigs) AS n_images,
  (SELECT CAST(COUNT(DISTINCT dhash) AS BIGINT) FROM sigs)
    AS n_distinct_hashes,
  CAST(COUNT(*) AS BIGINT) AS n_candidate_pairs,
  CAST(COALESCE(SUM(CASE WHEN dist <= 3 THEN 1 ELSE 0 END), 0)
       AS BIGINT) AS n_within_3,
  CAST(COALESCE(SUM(CASE WHEN dist = 0 THEN 1 ELSE 0 END), 0)
       AS BIGINT) AS n_identical
FROM measured
"""


@register("multimodal_bmp_dhash_neardup", oracle=_BMP_DHASH_ORACLE)
def multimodal_bmp_dhash_neardup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Image near-duplicate audit via 64-bit dHash over the real
    decoded BMP pixels: (n_images, n_distinct_hashes,
    n_candidate_pairs, n_within_3, n_identical) with 16-bit-quarter
    pigeonhole blocking (exact recall for hamming <= 3). The oracle
    predicts every signature from the source characters — see the
    section design comment.

    scan_parallel was TRIED here and reverted (interleaved A/B:
    4.2-5.1s bare vs 5.3-6.2s repartitioned) — the Arrow kernel
    over the 1/3 media slice is fast enough that the extra shuffle
    of the text plus wider downstream map sides costs more than the
    kernel parallelism buys."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter("doc_id % 3 = 0")
    )
    sigs = map_batches(
        encode_media(docs),
        ["media_id", "payload"],
        _DHASH_SCHEMA,
        bmp_dhash_kernel,
    ).persist()
    try:
        counts = sigs.agg(
            F.count(F.lit(1)).cast("long").alias("n_images"),
            F.countDistinct("dhash").cast("long").alias(
                "n_distinct_hashes"
            ),
        )
        blocks = sigs.select(
            "media_id",
            "dhash",
            F.posexplode(
                F.array(
                    *[
                        F.substring("dhash", q * 16 + 1, 16)
                        for q in range(4)
                    ]
                )
            ).alias("quarter_id", "quarter"),
        )
        a = blocks.alias("a")
        b = blocks.alias("b")
        cands = (
            a.join(
                b,
                (F.col("a.quarter_id") == F.col("b.quarter_id"))
                & (F.col("a.quarter") == F.col("b.quarter"))
                & (F.col("a.media_id") < F.col("b.media_id")),
            )
            .select(
                F.col("a.media_id").alias("id_a"),
                F.col("b.media_id").alias("id_b"),
                F.col("a.dhash").alias("sig_a"),
                F.col("b.dhash").alias("sig_b"),
            )
            .distinct()
        )
        dist = F.expr(
            "aggregate(sequence(1, 64), 0, (acc, i) -> acc +"
            " IF(substring(sig_a, i, 1) = substring(sig_b, i, 1), 0, 1))"
        )
        pairstats = cands.select(dist.alias("dist")).agg(
            F.count(F.lit(1)).cast("long").alias("n_candidate_pairs"),
            F.coalesce(
                F.sum(F.expr("case when dist <= 3 then 1 else 0 end")),
                F.lit(0),
            )
            .cast("long")
            .alias("n_within_3"),
            F.coalesce(
                F.sum(F.expr("case when dist = 0 then 1 else 0 end")),
                F.lit(0),
            )
            .cast("long")
            .alias("n_identical"),
        )
        out = counts.crossJoin(F.broadcast(pairstats))
        from workshop3_etl_spark.functions.cache import (
            materialize_and_release,
        )

        out = materialize_and_release(out, sigs)
    except Exception:
        sigs.unpersist()
        raise
    return out


# --------------------------------------------------------------------
# Sobel edge statistics over the REAL decoded BMP pixels — the
# feature-extraction sibling of the dHash signature: where dHash
# reduces the image to a comparable fingerprint, this extracts the
# interior gradient field (the classic 3x3 Sobel kernels on integer
# channel-sum luma) and reports per-image edge statistics, the
# filter-feature an image-quality gate runs at ingest (blank /
# low-texture image detection).
#
# Integer-exact end to end: luma = r+g+b in [0, 765], Gx/Gy are
# +-1/+-2 integer convolutions (|G| <= 3060), per-image sums are
# exact int64. Oracle honesty (the dHash/WAV recipe): the synthesis
# cycles document bytes through the pixel stream, so the oracle
# predicts EVERY interior gradient from the source characters via a
# bounded per-image pixel spine (<= 16x8 cells) and a 9-row Sobel
# coefficient spine — a misparsed header, stride slip, or
# convolution off-by-one changes the sums and fails the hash gate.
#
# Scale: encode + Sobel are map-only Arrow kernels (no shuffle
# before the final ORDER BY); per-image work is bounded by the
# synthesized dims. Images too small for an interior (w < 3 or
# h < 3) report zero edge pixels rather than being dropped.
# --------------------------------------------------------------------

_SOBEL_EDGE_THRESH = 1020  # |Gx| + |Gy| above this = edge pixel

_SOBEL_SCHEMA = (
    "media_id bigint, width int, height int, n_interior bigint,"
    " grad_l1_sum bigint, grad_l1_max bigint, n_edge bigint"
)

_SOBEL_KX = ((-1, 0, 1), (-2, 0, 2), (-1, 0, 1))
_SOBEL_KY = ((-1, -2, -1), (0, 0, 0), (1, 2, 1))


def bmp_sobel_kernel(batch: pa.RecordBatch) -> list:
    """Decode each BMP payload's actual bytes, build the integer luma
    grid, convolve the interior with the two Sobel kernels, emit
    per-image edge statistics."""
    recs = []
    for payload in batch.column("payload").to_pylist():
        w, h, rows = _bmp_pixels(payload)
        luma = [
            [
                rows[r][3 * c] + rows[r][3 * c + 1] + rows[r][3 * c + 2]
                for c in range(w)
            ]
            for r in range(h)
        ]
        n_int = s = mx = ne = 0
        for r in range(1, h - 1):
            for c in range(1, w - 1):
                gx = gy = 0
                for dr in (-1, 0, 1):
                    for dc in (-1, 0, 1):
                        v = luma[r + dr][c + dc]
                        gx += _SOBEL_KX[dr + 1][dc + 1] * v
                        gy += _SOBEL_KY[dr + 1][dc + 1] * v
                g1 = abs(gx) + abs(gy)
                n_int += 1
                s += g1
                mx = max(mx, g1)
                ne += 1 if g1 > _SOBEL_EDGE_THRESH else 0
        recs.append((w, h, n_int, s, mx, ne))
    return [batch.column("media_id"), *zip(*recs)]


def _sobel_coef_values() -> str:
    vals = []
    for dr in (-1, 0, 1):
        for dc in (-1, 0, 1):
            vals.append(
                f"({dr}, {dc}, {_SOBEL_KX[dr + 1][dc + 1]},"
                f" {_SOBEL_KY[dr + 1][dc + 1]})"
            )
    return ", ".join(vals)


_BMP_SOBEL_ORACLE = f"""
WITH imgs AS (
  SELECT doc_id, text, CAST(strlen(text) AS BIGINT) AS l,
         CAST(1 + (strlen(text) % {_BMP_W_MOD}) AS BIGINT) AS w,
         CAST(1 + ((strlen(text) // {_BMP_W_MOD}) % {_BMP_H_MOD})
              AS BIGINT) AS h
  FROM documents WHERE doc_id % 3 = 0
),
px AS (
  SELECT i.doc_id, r.r, c.c,
         (SELECT SUM(ord(substr(i.text,
                  CAST((3 * (r.r * i.w + c.c) + j.j) % i.l + 1 AS INT),
                  1)))
          FROM (SELECT unnest(range(3)) AS j) j) AS luma
  FROM imgs i,
       (SELECT unnest(range({_BMP_H_MOD})) AS r) r,
       (SELECT unnest(range({_BMP_W_MOD})) AS c) c
  WHERE r.r < i.h AND c.c < i.w
),
coef(dr, dc, cx, cy) AS (VALUES {_sobel_coef_values()}),
grads AS (
  SELECT p.doc_id, p.r, p.c,
         CAST(SUM(k.cx * q.luma) AS BIGINT) AS gx,
         CAST(SUM(k.cy * q.luma) AS BIGINT) AS gy
  FROM px p
  JOIN imgs i ON i.doc_id = p.doc_id
  JOIN coef k ON TRUE
  JOIN px q ON q.doc_id = p.doc_id
           AND q.r = p.r + k.dr AND q.c = p.c + k.dc
  WHERE p.r >= 1 AND p.r <= i.h - 2 AND p.c >= 1 AND p.c <= i.w - 2
  GROUP BY p.doc_id, p.r, p.c
),
agg AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_interior,
         CAST(SUM(ABS(gx) + ABS(gy)) AS BIGINT) AS grad_l1_sum,
         CAST(MAX(ABS(gx) + ABS(gy)) AS BIGINT) AS grad_l1_max,
         CAST(COUNT(CASE WHEN ABS(gx) + ABS(gy) > {_SOBEL_EDGE_THRESH}
                    THEN 1 END) AS BIGINT) AS n_edge
  FROM grads GROUP BY doc_id
)
SELECT i.doc_id AS media_id,
       CAST(i.w AS INT) AS width, CAST(i.h AS INT) AS height,
       COALESCE(a.n_interior, 0) AS n_interior,
       COALESCE(a.grad_l1_sum, 0) AS grad_l1_sum,
       COALESCE(a.grad_l1_max, 0) AS grad_l1_max,
       COALESCE(a.n_edge, 0) AS n_edge
FROM imgs i LEFT JOIN agg a USING (doc_id)
ORDER BY media_id
"""


@register("multimodal_bmp_sobel_stats", oracle=_BMP_SOBEL_ORACLE)
def multimodal_bmp_sobel_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-image Sobel edge statistics from the REAL decoded BMP
    pixels: (media_id, width, height, n_interior, grad_l1_sum,
    grad_l1_max, n_edge) — encode kernel synthesizes actual BI_RGB
    payloads, the Sobel kernel struct-parses and convolves them, and
    the oracle independently predicts every gradient from the source
    characters. Map-only end to end; see the section comment.

    scan_parallel was TRIED here and reverted (interleaved A/B:
    1.3-1.4s bare vs 3.7-3.9s repartitioned) — the map-only kernel
    chain has NO downstream shuffle to amortize the repartition, so
    the added exchange is pure loss."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter("doc_id % 3 = 0")
    )
    feats = map_batches(
        encode_media(docs),
        ["media_id", "payload"],
        _SOBEL_SCHEMA,
        bmp_sobel_kernel,
    )
    return feats.orderBy("media_id")
