"""documents -> deterministic REAL media payloads (BMP/PNG/WAV).

Synthesizes valid container files whose header metadata is closed-form
in ``doc_id``, so the ``media_decode`` query has an exact DuckDB
oracle:

* ``doc_id % 3 == 0`` -> BMP (RLE8-compressed palette at
                         ``doc_id % 12 == 6``; real-LZW GIF when
                         ``doc_id % 6 == 3``, interlaced at
                         ``doc_id % 12 == 9``),
                         width = 1 + doc_id % 64, height = 1 + doc_id % 48
* ``doc_id % 3 == 1`` -> PNG (Adam7-interlaced at ``doc_id % 12 == 7``),
                         or JPEG when ``doc_id % 6 == 4``
                         (4:2:0 when ``doc_id % 12 == 10``, grayscale
                         when ``doc_id % 24 == 16``, restart markers
                         when ``doc_id % 24 == 4``, PROGRESSIVE SOF2
                         when ``doc_id % 24 in (10, 22)`` with full
                         successive approximation at ``%24 == 22`` —
                         every flavor the decoder supports appears in
                         the corpus); same dimension formulas
* ``doc_id % 3 == 2`` and ``doc_id % 6 == 5`` -> AVI video,
                         n_frames = 3 + doc_id % 5 @ 25 fps (40 ms/frame),
                         same dimension formulas -> duration_ms = 40 * n_frames
* ``doc_id % 12 == 8`` -> MP3 (round 6), n_frames = 3 + doc_id % 5:
                         MPEG-1 Layer III @ 32 kHz / 64 kbps when
                         ``doc_id % 24 == 8`` (1152 samples/frame ->
                         36 ms/frame), MPEG-2 @ 24 kHz / 48 kbps with
                         an ID3v2 prefix when ``doc_id % 24 == 20``
                         (576 samples/frame -> 24 ms/frame); the
                         frame-header walk yields the duration without
                         decoding audio, so duration_ms =
                         n_frames * (36 | 24) exactly
* ``doc_id % 24 == 14`` -> MP4/H.264 (round 6): ISO-BMFF container
                         with a REAL High-monochrome SPS in avcC —
                         width/height (odd dims included) parse back
                         exactly via the Exp-Golomb bit parser
                         (``kernel/h264.py``), n_frames = 3 + doc_id % 5
                         @ 40 ms/frame -> duration_ms = 40 * n_frames
                         from mvhd; slice decode honestly refused
* ``doc_id % 3 == 2`` otherwise -> WAV, n_samples = 1000 + (doc_id % 5) * 400
                         @ 8 kHz mono -> duration_ms = round(n_samples / 8)

Round 4: payload CONTENT is closed-form too, so the pixel/sample
decode is exactly oracle-checkable — image pixel (x, y) carries gray
value ``(doc_id + 3x + 7y) mod 256`` (kernel ``synthetic_luma``), AVI
frame f's pixel (x, y) carries ``(doc_id + 11f + 3x + 7y) mod 256``,
and WAV sample i carries ``((doc_id*31 + i*17) mod 2^16) - 2^15``
(``synthetic_sample``).

Round 5: JPEG joins the mix with BLOCK-constant content — pixel
(x, y) carries ``(doc_id + 3*(x//8) + 7*(y//8)) mod 256`` — because
constant 8x8 blocks round-trip bit-exactly through the lossy DCT path
(see :mod:`..kernel.jpeg`), keeping the decoded-pixel oracle exact for
a genuinely lossy codec.

Payload construction is a row generator on the Arrow boundary
(:func:`operators.adaptive.map_rows`; binary building is per-row
Python, but tiny: images are <= 64x48).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..kernel.jpeg import build_jpeg
from ..kernel.media import (
    build_avi,
    build_bmp,
    build_bmp_rle8,
    build_gif,
    build_mp3,
    build_mp4,
    build_png,
    build_wav,
)
from ..operators.multimodal import MEDIA_SCHEMA


def media_dims(doc_id: int):
    return 1 + doc_id % 64, 1 + doc_id % 48


def media_samples(doc_id: int) -> int:
    return 1000 + (doc_id % 5) * 400


def media_frames(doc_id: int) -> int:
    return 3 + doc_id % 5


def _media_rows(rows):
    for (doc_id,) in rows:
        width, height = media_dims(doc_id)
        sel = doc_id % 3
        if sel == 0 and doc_id % 6 == 3:
            payload, kind, mime = (
                build_gif(width, height, seed=doc_id, interlaced=doc_id % 12 == 9),
                "image",
                "image/gif",
            )
        elif sel == 0 and doc_id % 12 == 6:
            payload, kind, mime = build_bmp_rle8(width, height, seed=doc_id), "image", "image/bmp"
        elif sel == 0:
            payload, kind, mime = build_bmp(width, height, seed=doc_id), "image", "image/bmp"
        elif sel == 1 and doc_id % 6 == 4:
            payload, kind, mime = (
                build_jpeg(
                    width,
                    height,
                    seed=doc_id,
                    gray=doc_id % 24 == 16,
                    subsampling=(2, 2) if doc_id % 12 == 10 else (1, 1),
                    restart_interval=2 if doc_id % 24 == 4 else 0,
                    progressive=doc_id % 24 in (10, 22),
                    successive=doc_id % 24 == 22,
                ),
                "image",
                "image/jpeg",
            )
        elif sel == 1:
            payload, kind, mime = (
                build_png(width, height, seed=doc_id, interlaced=doc_id % 12 == 7),
                "image",
                "image/png",
            )
        elif doc_id % 6 == 5:
            payload, kind, mime = (
                build_avi(width, height, media_frames(doc_id), seed=doc_id),
                "video",
                "video/avi",
            )
        elif doc_id % 12 == 8:
            payload, kind, mime = (
                build_mp3(
                    media_frames(doc_id),
                    version=1 if doc_id % 24 == 8 else 2,
                    rate=32000 if doc_id % 24 == 8 else 24000,
                    bitrate=64000 if doc_id % 24 == 8 else 48000,
                    seed=doc_id,
                    id3=doc_id % 24 == 20,
                ),
                "audio",
                "audio/mpeg",
            )
        elif doc_id % 24 == 14:
            payload, kind, mime = (
                build_mp4(width, height, media_frames(doc_id), seed=doc_id),
                "video",
                "video/mp4",
            )
        else:
            payload, kind, mime = build_wav(media_samples(doc_id), seed=doc_id), "audio", "audio/wav"
        yield doc_id, kind, payload, mime


def documents_as_media(documents: DataFrame) -> DataFrame:
    from ..operators.adaptive import adaptive_repartition, map_rows

    base = adaptive_repartition(documents.select("doc_id"), cols=("doc_id",))
    return map_rows(base, _media_rows, MEDIA_SCHEMA)
