"""Constraint checks on binary media columns, with no codec.

Media rides as an opaque ``BinaryType`` column next to a typed metadata
struct.  What is checked is the container, never the pixels or samples:

- :func:`attach_media_meta` adds ``media_meta`` (media type sniffed from
  the magic bytes, byte length, md5 digest) as pure JVM expressions, so
  it runs at scan speed;
- :func:`parse_media_header` reads a container header with stdlib
  ``struct`` (PNG / JPEG / GIF / BMP / WAV / RIFF-AVI / MP4-MOV) and
  returns its media type, dimensions and frame count, or ``None`` for
  bytes it does not recognise;
- :func:`byte_features` computes a byte-value histogram per payload in
  one ``mapInPandas`` pass, a cheap near-duplicate or corruption signal.

Pixel or sample decoding and model inference are out of scope.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "MEDIA_META_SCHEMA",
    "attach_media_meta",
    "parse_media_header",
    "byte_features",
]

#: typed metadata carried alongside every binary payload
MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("media_type", T.StringType()),  # image|audio|video|unknown
        T.StructField("byte_len", T.LongType()),
        T.StructField("digest", T.StringType()),  # md5 hex of payload
    ]
)

def attach_media_meta(
    df: DataFrame, payload_col: str = "payload"
) -> DataFrame:
    """Attach the typed metadata struct for a binary payload column —
    pure JVM expressions (no decode), so it runs at scan speed and the
    metadata can be written back as a real table column for pruning."""
    p = F.col(payload_col)
    media_type = (
        F.when(
            F.startswith(p, F.lit(b"\x89PNG"))
            | F.startswith(p, F.lit(b"\xff\xd8\xff"))
            | F.startswith(p, F.lit(b"GIF8"))
            | F.startswith(p, F.lit(b"BM")),
            F.lit("image"),
        )
        .when(
            F.startswith(p, F.lit(b"RIFF"))
            & (F.substring(p, 9, 4) == F.lit(b"AVI ")),
            F.lit("video"),
        )
        .when(
            F.startswith(p, F.lit(b"RIFF"))
            & (F.substring(p, 9, 4) == F.lit(b"WAVE")),
            F.lit("audio"),
        )
        .when(
            F.startswith(F.substring(p, 5, 4), F.lit(b"ftyp")), F.lit("video")
        )
        .otherwise(F.lit("unknown"))
    )
    return df.withColumn(
        "media_meta",
        F.struct(
            media_type.alias("media_type"),
            F.octet_length(p).cast("long").alias("byte_len"),
            F.md5(p).alias("digest"),
        ),
    )


def parse_media_header(
    payload: bytes,
) -> tuple[str, int, int, int] | None:
    """REAL container-header parse — pure stdlib ``struct``, no codec
    libraries.  Returns ``(media_type, width, height, n_frames)`` for
    recognised containers, ``None`` for unknown bytes.

    Formats (dimension fields per the public container specs):

    - **PNG**: 8-byte signature, IHDR chunk → width/height BE u32.
    - **JPEG**: marker scan to the first SOF frame header (C0-CF minus
      C4/C8/CC) → height/width BE u16.
    - **GIF** (87a/89a): logical-screen width/height LE u16 at offset 6.
    - **BMP**: BITMAPINFOHEADER width/height LE i32 at offsets 18/22
      (height's sign only encodes row order).
    - **WAV** (RIFF/WAVE): chunk walk; ``width`` reports channels,
      ``height`` the sample rate, ``n_frames`` the sample-frame count
      from the data chunk (documented mapping onto the fixed schema).
    - **RIFF-AVI**: ``avih`` width/height and total frames, or the
      count of stream-0 frame chunks when ``avih`` reports none
      (:func:`_avi_info`).
    - **MP4/MOV** (ftyp): the first video track's ``tkhd`` size and
      ``stsz`` sample count (:func:`_mp4_video_meta`); zeros when there
      is no ``moov``.
    """
    p = payload
    if p.startswith(b"\x89PNG\r\n\x1a\n") and len(p) >= 24 and p[12:16] == b"IHDR":
        w, h = struct.unpack(">II", p[16:24])
        return "image", w, h, 1
    if p.startswith(b"\xff\xd8"):
        i = 2
        while i + 9 <= len(p):
            if p[i] != 0xFF:
                break
            m = p[i + 1]
            if m == 0xFF:  # fill byte
                i += 1
                continue
            if 0xD0 <= m <= 0xD9 or m == 0x01:  # standalone markers
                i += 2
                continue
            if 0xC0 <= m <= 0xCF and m not in (0xC4, 0xC8, 0xCC):
                h, w = struct.unpack(">HH", p[i + 5 : i + 9])
                return "image", w, h, 1
            (seg,) = struct.unpack(">H", p[i + 2 : i + 4])
            i += 2 + seg
        return None
    if p[:6] in (b"GIF87a", b"GIF89a") and len(p) >= 10:
        w, h = struct.unpack("<HH", p[6:10])
        return "image", w, h, 1
    if p.startswith(b"BM") and len(p) >= 26:
        w, h = struct.unpack("<ii", p[18:26])
        return "image", w, abs(h), 1
    if p.startswith(b"RIFF") and p[8:12] == b"AVI ":
        info = _avi_info(p)
        if info is None:
            return None
        w, h, nf = info
        return "video", w, h, nf
    if p.startswith(b"RIFF") and p[8:12] == b"WAVE":
        i, channels, rate, block_align, data_size = 12, 0, 0, 0, 0
        while i + 8 <= len(p):
            cid, size = p[i : i + 4], struct.unpack("<I", p[i + 4 : i + 8])[0]
            if cid == b"fmt " and i + 22 <= len(p):
                channels, rate = struct.unpack("<HI", p[i + 10 : i + 16])
                if i + 22 <= len(p):
                    (block_align,) = struct.unpack("<H", p[i + 20 : i + 22])
            elif cid == b"data":
                data_size = size
            i += 8 + size + (size & 1)  # chunks are word-aligned
        frames = data_size // block_align if block_align else 0
        return "audio", channels, rate, frames
    if len(p) >= 12 and p[4:8] == b"ftyp":
        w, h, frames = _mp4_video_meta(p)
        return "video", w, h, frames
    return None


def _avi_info(p: bytes):
    """RIFF-AVI header parse — pure stdlib ``struct`` (OpenDML/AVI RIFF
    spec): walks the chunk tree, reads ``avih`` (dwTotalFrames at +16,
    dwWidth/dwHeight at +32/+36) and counts the stream-0 video frame
    chunks (``00dc``/``00db``, including ones nested in ``rec ``
    grouping lists).

    Returns ``(width, height, n_frames)`` — ``n_frames`` falls back to
    the chunk count when ``avih`` reports 0 — or ``None`` when the
    payload is not a RIFF-AVI or has neither frames nor dimensions."""
    if not (p.startswith(b"RIFF") and p[8:12] == b"AVI "):
        return None
    width = height = total = n_chunks = 0
    # iterative walk: (start, end, in_movi) frames of LIST bodies
    stack = [(12, len(p), False)]
    while stack:
        i, end, in_movi = stack.pop()
        while i + 8 <= end:
            cid = p[i : i + 4]
            (size,) = struct.unpack("<I", p[i + 4 : i + 8])
            body, bend = i + 8, i + 8 + size
            if bend > end:
                break  # truncated chunk: stop this level
            if cid == b"LIST" and size >= 4:
                ltype = p[body : body + 4]
                stack.append(
                    (
                        body + 4,
                        bend,
                        in_movi or ltype in (b"movi", b"rec "),
                    )
                )
            elif cid == b"avih" and size >= 40:
                (total,) = struct.unpack("<I", p[body + 16 : body + 20])
                width, height = struct.unpack(
                    "<II", p[body + 32 : body + 40]
                )
            elif in_movi and cid[:2] == b"00" and cid[2:4] in (
                b"dc",
                b"db",
            ):
                n_chunks += 1
            i = bend + (size & 1)  # chunks are word-aligned
    if not n_chunks and not (width or height):
        return None
    return width, height, (total or n_chunks)


_MP4_CONTAINERS = frozenset(
    (b"moov", b"trak", b"mdia", b"minf", b"stbl")
)


def _mp4_boxes(p: bytes, start: int, end: int):
    """Yield ``(type, body_start, body_end)`` for the ISO-BMFF boxes in
    ``p[start:end]`` (ISO 14496-12 §4.2: 32-bit size, ``size==1`` →
    64-bit largesize, ``size==0`` → to end)."""
    i = start
    while i + 8 <= end:
        (size,) = struct.unpack(">I", p[i : i + 4])
        btype = p[i + 4 : i + 8]
        body = i + 8
        if size == 1:
            if i + 16 > end:
                return
            (size,) = struct.unpack(">Q", p[i + 8 : i + 16])
            body = i + 16
        elif size == 0:
            size = end - i
        if size < body - i or i + size > end:
            return  # corrupt/truncated: stop the walk
        yield btype, body, i + size
        i += size


def _mp4_video_meta(p: bytes) -> tuple[int, int, int]:
    """REAL MP4/MOV metadata via a recursive ISO-BMFF box walk — pure
    ``struct``, no demuxer: per-trak ``tkhd`` presentation size (16.16
    fixed point, version 0/1 layouts), ``hdlr`` handler type, ``stbl/
    stsz`` sample count.  Returns ``(width, height, n_frames)`` of the
    first video (``vide``) track — falling back to the first track with
    a nonzero tkhd size — or zeros when there is no ``moov`` (e.g. a
    bare ``ftyp`` probe or a streaming fragment)."""
    tracks = []

    def walk_trak(b0: int, b1: int):
        w = h = frames = 0
        handler = b""
        stack = [(b0, b1)]
        while stack:
            s0, s1 = stack.pop()
            for btype, c0, c1 in _mp4_boxes(p, s0, s1):
                if btype in _MP4_CONTAINERS:
                    stack.append((c0, c1))
                elif btype == b"tkhd" and c1 - c0 >= 84:
                    ver = p[c0]
                    # fullbox(4) + times/id/duration (20 v0 / 32 v1)
                    # + reserved/layer/group/volume (16) + matrix (36)
                    off = c0 + (76 if ver == 0 else 88)
                    if off + 8 <= c1:
                        wf, hf = struct.unpack(">II", p[off : off + 8])
                        w, h = wf >> 16, hf >> 16
                elif btype == b"hdlr" and c1 - c0 >= 12:
                    handler = p[c0 + 8 : c0 + 12]
                elif btype == b"stsz" and c1 - c0 >= 12:
                    fixed, count = struct.unpack(">II", p[c0 + 4 : c0 + 12])
                    frames = count
        tracks.append((handler, w, h, frames))

    for btype, b0, b1 in _mp4_boxes(p, 0, len(p)):
        if btype == b"moov":
            for ctype, c0, c1 in _mp4_boxes(p, b0, b1):
                if ctype == b"trak":
                    walk_trak(c0, c1)
    for handler, w, h, frames in tracks:
        if handler == b"vide":
            return w, h, frames
    for handler, w, h, frames in tracks:
        if w and h:
            return w, h, frames
    return 0, 0, 0


def byte_features(
    df: DataFrame, payload_col: str = "payload", id_col: str = "id", bins: int = 16
) -> DataFrame:
    """Coarse byte-histogram features for a binary column, as one
    vectorized pandas pass (``mapInPandas``): ``(id, byte_len,
    histogram: array<double>)`` with ``bins`` equal-width byte-value
    bins, L1-normalised.  Useful as a cheap near-dup / corruption signal
    on media payloads without any codec."""
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("byte_len", T.LongType()),
            T.StructField("histogram", T.ArrayType(T.DoubleType())),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = []
            for rid, payload in zip(pdf[id_col], pdf[payload_col]):
                if payload is None:
                    out.append((int(rid), 0, [0.0] * bins))
                    continue
                arr = np.frombuffer(bytes(payload), dtype=np.uint8)
                hist, _ = np.histogram(arr, bins=bins, range=(0, 256))
                total = max(int(hist.sum()), 1)
                out.append(
                    (int(rid), int(arr.size), (hist / total).tolist())
                )
            yield pd.DataFrame(out, columns=["id", "byte_len", "histogram"])

    return df.select(id_col, payload_col).mapInPandas(run, schema)
