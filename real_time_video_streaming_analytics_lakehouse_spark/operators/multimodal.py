"""Multimodal (image/audio/video) column plumbing.

Part of the training-pipeline surface (BASELINE.json north star): treat
media as opaque ``binary`` columns with typed metadata, and run decode /
feature-extraction as Arrow-batched ``mapInPandas`` — the one place in
this engine where Python legitimately enters the data path, because no
built-in expression can decode media.

Decoding is REAL for the library-free formats
(:mod:`.media_codecs`): binary PPM, 24-bit BMP, and PCM WAV need only
struct/numpy/stdlib-``wave``, so payloads tagged ``ppm``/``bmp``/
``wav`` are genuinely parsed — true width/height (audio: channels ×
frames) from the bytes, real pixel/sample access for resize and
features. Compressed formats (jpeg/png/mp4) still need PIL/ffmpeg,
which this container cannot install: for those, ``fake=True``
(default) derives deterministic pseudo-features from the first bytes
of the payload so the pipeline is end-to-end verifiable (and, because
the test payloads are ``unhex(md5(text))``, reproducible in the DuckDB
oracle via hex arithmetic); ``fake=False`` raises
``NotImplementedError`` at the decode site, clearly marking where the
real decoder plugs in.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DECODED_SCHEMA = (
    "doc_id BIGINT, media_format STRING, payload_bytes INT, "
    "width INT, height INT, n_frames INT"
)


def attach_fake_media(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Synthesize an opaque media column + metadata from text content.

    ``payload = unhex(md5(text))`` — a deterministic stand-in for real
    image bytes, with the same schema shape a real pipeline would use:
    (id, payload binary, media_format string, payload_len int).
    """
    payload = F.unhex(F.md5(F.col(text_col)))
    return df.select(
        F.col(id_col),
        payload.alias("payload"),
        F.when(F.col(id_col) % 3 == 0, "png")
        .when(F.col(id_col) % 3 == 1, "jpeg")
        .otherwise("mp4")
        .alias("media_format"),
        F.length(payload).alias("payload_len"),
    )


#: formats decodable with zero external dependencies (media_codecs)
REAL_FORMATS = ("ppm", "bmp", "wav")


def _decode_real(fmt: str, payload: bytes) -> tuple[int, int, int]:
    """(width, height, n_frames) truly parsed from the bytes. Audio
    maps naturally onto the same schema: width = channels, height =
    sample rate, n_frames = PCM frames."""
    from . import media_codecs as mc

    if fmt in mc.IMAGE_FORMATS:
        a = mc.decode_image(fmt, payload)
        return a.shape[1], a.shape[0], 1
    rate, ch, samples = mc.decode_wav(payload)
    return ch, rate, samples.shape[0]


def decode_media_features(media: DataFrame, fake: bool = True) -> DataFrame:
    """Decode media payloads into features via Arrow-batched mapInPandas.

    Formats in :data:`REAL_FORMATS` are decoded FOR REAL (pure-Python
    codecs — see :mod:`.media_codecs`), regardless of ``fake``.
    Compressed formats need PIL/ffmpeg, absent here: ``fake=False``
    raises ``NotImplementedError`` inside the UDF to mark the plug-in
    point, while the fake path derives (width, height, n_frames) from
    the first three payload bytes — exercising the exact batch shapes,
    schema contract, and binary transfer a real decoder would use.
    """

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            widths, heights, frames = [], [], []
            for fmt, payload in zip(pdf["media_format"], pdf["payload"]):
                if fmt in REAL_FORMATS:
                    w, h, n = _decode_real(fmt, bytes(payload))
                elif not fake:
                    # Plug-in point for a real decoder:
                    #   from PIL import Image; Image.open(io.BytesIO(b))
                    raise NotImplementedError(
                        f"decoding {fmt!r} requires PIL/ffmpeg, not "
                        f"present in this environment"
                    )
                else:
                    w = payload[0] % 128 + 1
                    h = payload[1] % 128 + 1
                    n = payload[2] % 120 + 1
                widths.append(w)
                heights.append(h)
                frames.append(n)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_format": pdf["media_format"],
                    "payload_bytes": pdf["payload"].map(len).astype("int32"),
                    "width": pd.Series(widths, dtype="int32"),
                    "height": pd.Series(heights, dtype="int32"),
                    "n_frames": pd.Series(frames, dtype="int32"),
                }
            )

    return media.mapInPandas(decode, schema=DECODED_SCHEMA)


def sample_frames(
    media: DataFrame, max_frames: int = 4, fake: bool = True
) -> DataFrame:
    """Uniform-stride frame sampling: one output row per sampled frame
    (1→N mapInPandas explode with per-frame fingerprints).

    A real implementation reads the container's frame count and decodes
    the selected frames (ffmpeg seek); the fake derives ``n_frames``
    from payload byte 2 (same rule as :func:`decode_media_features`)
    and fingerprints each sampled frame as
    ``md5(hex(payload) + ':' + idx)`` — reproducible in the DuckDB
    oracle via string md5. Stride = ceil(n/max_frames), so sampling is
    uniform and at most ``max_frames`` frames emit per doc.

    Partition-preserving: no shuffle; output size is bounded by
    ``max_frames`` × input rows regardless of media length.
    """

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib
        import math

        for pdf in batches:
            if not fake:
                raise NotImplementedError(
                    "real frame sampling requires ffmpeg, not present in "
                    "this environment"
                )
            ids, idxs, fps = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n = payload[2] % 120 + 1
                stride = math.ceil(n / max_frames)
                for i in range(0, n, stride):
                    ids.append(doc_id)
                    idxs.append(i)
                    fps.append(
                        hashlib.md5(
                            f"{payload.hex()}:{i}".encode()
                        ).hexdigest()
                    )
            import numpy as np

            yield pd.DataFrame(
                {
                    "doc_id": np.array(ids, dtype="int64"),
                    "frame_idx": np.array(idxs, dtype="int32"),
                    "frame_fp": fps,
                }
            )

    return media.mapInPandas(
        sample, schema="doc_id BIGINT, frame_idx INT, frame_fp STRING"
    )


def resize_images(
    media: DataFrame, max_w: int = 64, max_h: int = 64, fake: bool = True
) -> DataFrame:
    """Aspect-preserving fit-to-box resize (integer arithmetic only, so
    the DuckDB oracle reproduces the dimensions exactly).

    ``new_h = min(h, max_h)`` when height is the binding constraint
    (``w*max_h <= h*max_w``), else ``new_w = min(w, max_w)``; the other
    side scales by integer floor division.

    ``ppm``/``bmp`` payloads are resized FOR REAL: decoded with the
    pure-Python codecs, nearest-neighbor resampled, RE-ENCODED in the
    same format, and fingerprinted over the actual resized bytes.
    Compressed formats fingerprint a stand-in
    (``md5(hex(payload) + ':WxH')``) — the PIL plug-in point.
    """

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        from . import media_codecs as mc

        for pdf in batches:
            rows = {k: [] for k in
                    ("doc_id", "media_format", "width", "height",
                     "new_width", "new_height", "resized_fp")}
            for doc_id, fmt, payload in zip(
                pdf["doc_id"], pdf["media_format"], pdf["payload"]
            ):
                arr = None
                if fmt in mc.IMAGE_FORMATS:
                    arr = mc.decode_image(fmt, bytes(payload))
                    h, w = arr.shape[:2]
                elif not fake:
                    raise NotImplementedError(
                        f"resizing {fmt!r} requires PIL, not present in "
                        f"this environment"
                    )
                else:
                    w = payload[0] % 128 + 1
                    h = payload[1] % 128 + 1
                if w <= max_w and h <= max_h:
                    nw, nh = w, h
                elif w * max_h <= h * max_w:  # height binds
                    nh = max_h
                    nw = max(1, (w * max_h) // h)
                else:
                    nw = max_w
                    nh = max(1, (h * max_w) // w)
                rows["doc_id"].append(doc_id)
                rows["media_format"].append(fmt)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["new_width"].append(nw)
                rows["new_height"].append(nh)
                if arr is not None:
                    resized = mc.resize_nearest(arr, nw, nh)
                    out_bytes = mc.encode_image(fmt, resized)
                    rows["resized_fp"].append(
                        hashlib.md5(out_bytes).hexdigest()
                    )
                else:
                    rows["resized_fp"].append(
                        hashlib.md5(
                            f"{payload.hex()}:{nw}x{nh}".encode()
                        ).hexdigest()
                    )
            yield pd.DataFrame(rows).astype(
                {
                    "doc_id": "int64",
                    "width": "int32",
                    "height": "int32",
                    "new_width": "int32",
                    "new_height": "int32",
                }
            )

    return media.mapInPandas(
        resize,
        schema=(
            "doc_id BIGINT, media_format STRING, width INT, height INT, "
            "new_width INT, new_height INT, resized_fp STRING"
        ),
    )


def media_embeddings(
    media: DataFrame, dim: int = 8, fake: bool = True
) -> DataFrame:
    """Feature-extraction stub: payload → ``array<double>`` embedding.

    ``ppm``/``bmp``/``wav`` payloads embed REAL content statistics
    (channel means + luminance mean/std for images, RMS + zero-crossing
    rate + geometry for audio — scaled to [0, 1] and padded to
    ``dim``), so two structurally similar images genuinely land near
    each other. For compressed formats the fake embeds the first
    ``dim`` payload bytes scaled to [0, 1] (byte/255 — identical IEEE
    division in any engine); a real implementation runs a vision/audio
    encoder per Arrow batch. Output feeds the similarity family
    (:mod:`.similarity`) directly, which is the point: multimodal
    dedup = decode → embed → cosine near-dup.
    """

    def embed(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from . import media_codecs as mc

        def pad(vals: list[float]) -> list[float]:
            return (vals + [0.0] * dim)[:dim]

        def one(fmt: str, payload: bytes) -> list[float]:
            if fmt in mc.IMAGE_FORMATS:
                a = mc.decode_image(fmt, payload)
                f = mc.image_features(a)
                return pad([
                    f["mean_r"] / 255.0, f["mean_g"] / 255.0,
                    f["mean_b"] / 255.0, f["luma_mean"] / 255.0,
                    f["luma_std"] / 255.0,
                    min(a.shape[1], 4096) / 4096.0,
                    min(a.shape[0], 4096) / 4096.0,
                ])
            if fmt == "wav":
                rate, ch, samples = mc.decode_wav(payload)
                f = mc.audio_features(samples)
                n = max(1, samples.shape[0])
                return pad([
                    f["rms"], f["zero_crossings"] / n,
                    ch / 8.0, min(rate, 48000) / 48000.0,
                    min(n, 1 << 20) / float(1 << 20),
                ])
            if not fake:
                raise NotImplementedError(
                    f"embedding {fmt!r} requires a media encoder, not "
                    f"present in this environment"
                )
            return [b / 255.0 for b in payload[:dim]]

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "embedding": [
                        one(fmt, bytes(payload))
                        for fmt, payload in zip(
                            pdf["media_format"], pdf["payload"]
                        )
                    ],
                }
            )

    return media.mapInPandas(
        embed, schema="doc_id BIGINT, embedding ARRAY<DOUBLE>"
    )
