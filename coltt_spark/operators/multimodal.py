"""Multimodal (image/audio/video) column plumbing.

Media are opaque ``binary`` payload columns with typed metadata; the
decode / feature-extract / resize / frame-sample stages run as
Arrow-batched ``mapInPandas`` so a real decoder (PIL / torchaudio /
pyav) drops in without touching the Spark plan. Those libraries are
not in this container, so the decode kernel is a DETERMINISTIC FAKE
(clearly marked below): it derives "pixels" from the payload bytes.
The Spark-side contract — schema, partitioning, UDF signatures, Arrow
batch shape — is real and tested.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_TYPES = ("image", "audio", "video")

#: schema of a decoded-feature row
FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("features", T.ArrayType(T.FloatType()), False),
    ]
)


def media_table(documents: DataFrame) -> DataFrame:
    """Fabricate a media table from documents: a deterministic binary
    payload (md5 digest bytes of the text — stand-in for real bytes)
    plus typed metadata (width/height/duration derived from payload
    hash, media_type round-robin)."""
    h = F.md5(F.col("text"))
    return documents.select(
        F.col("doc_id"),
        F.element_at(F.array(*[F.lit(t) for t in MEDIA_TYPES]), (F.col("doc_id") % 3 + 1).cast("int")).alias("media_type"),
        F.unhex(h).alias("payload"),
        F.struct(
            (F.conv(F.substring(h, 1, 2), 16, 10).cast("long") % 512 + 1).alias("width"),
            (F.conv(F.substring(h, 3, 2), 16, 10).cast("long") % 512 + 1).alias("height"),
            (F.conv(F.substring(h, 5, 2), 16, 10).cast("long") % 300 + 1).alias("duration_s"),
        ).alias("meta"),
    )


def _fake_decode(payload: bytes, out_len: int) -> np.ndarray:
    """DETERMINISTIC FAKE decoder — replace with PIL/pyav in a real
    deployment. Tiles the payload bytes to ``out_len`` float32s in
    [0, 1]."""
    raw = np.frombuffer(payload, dtype=np.uint8)
    tiled = np.resize(raw, out_len)
    return (tiled / 255.0).astype(np.float32)


def extract_features(media: DataFrame, *, dim: int = 16, decoder=None) -> DataFrame:
    """Decode + feature-extract per media row (Arrow-batched). With a
    real decoder this is where image embeddings / mel spectrograms
    are computed; the plan shape (scan → mapInPandas → downstream) is
    identical.

    ``decoder`` is the injection seam: a picklable callable
    ``(payload: bytes, out_len: int) -> np.ndarray[float32]`` run
    inside the Arrow batch kernel on executors. Default is the
    deterministic fake; a real deployment passes e.g. a PIL/pyav
    wrapper and nothing else changes — same schema, same plan.
    Dependency-free REAL decoders ship in
    :mod:`coltt_spark.operators.media_codecs`: ``image_decoder``
    (BMP/PPM/PNG/GIF/TIFF/JPEG → luma features) and
    ``audio_decoder`` (WAV/AIFF/AU → resampled waveform features).
    """
    decode = decoder if decoder is not None else _fake_decode

    def kernel(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            feats = pdf["payload"].map(lambda b: decode(b, dim))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "features": feats,
                }
            )

    return media.select("doc_id", "media_type", "payload").mapInPandas(
        kernel, FEATURES_SCHEMA
    )


#: schema of a decoded audio-stats row
AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_samples", T.LongType(), False),
        T.StructField("sample_rate", T.LongType(), False),
        T.StructField("duration_s", T.DoubleType(), False),
        T.StructField("rms", T.DoubleType(), False),
        T.StructField("zcr", T.DoubleType(), False),
        T.StructField("peak", T.DoubleType(), False),
    ]
)


def audio_wav_table(documents: DataFrame, *, n_blocks: int = 4, rate: int = 8000) -> DataFrame:
    """Fabricate REAL RIFF/WAVE payloads for the audio rows
    (``doc_id % 3 == 1``, matching :func:`media_table`'s round-robin),
    alternating ENCODING and CONTAINER flavor per row: odd ``doc_id``
    is PCM16 — ``8 * n_blocks`` int16 samples taken as big-endian
    pairs of ``md5(text || ':' || block)`` digest bytes — wrapped as
    RIFF/WAVE when ``doc_id % 8 == 1``, as a real FLAC stream
    (Rice-coded predictive compression, CRC-8/16 + PCM-MD5 verified
    on decode) when ``doc_id % 8 == 5``, and as big-endian AIFF when
    ``doc_id % 4 == 3``; even ``doc_id`` stores ``8 * n_blocks``
    G.711 companded CODES from ``md5(text || ':g711:' || block)``
    digest bytes (μ-law when ``doc_id % 4 == 0``, A-law otherwise),
    wrapped as WAV or AU/Sun alternating on ``doc_id % 8``. The
    SAMPLE STREAMS only depend on the encoding class, so one SQL
    oracle covers every container — the driver-checked audio entry
    exercises all three container walks of ``decode_audio`` plus
    both companding laws. Deterministic by construction: the oracle
    regenerates the samples from the hash stream (replaying the
    G.711 expansion formulas in integer SQL) while the Spark path
    must decode the actual container bytes — any header/offset/
    endianness/companding bug in any decoder breaks value parity."""
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("payload", T.BinaryType(), False),
        ]
    )

    def kernel(batches: Iterator) -> Iterator:
        import hashlib

        import pandas as pd

        from coltt_spark.operators.flac_codec import encode_flac
        from coltt_spark.operators.media_codecs import (
            encode_aiff,
            encode_au,
            encode_wav,
            encode_wav_g711,
        )

        n_codes = 8 * n_blocks
        for pdf in batches:
            if len(pdf) == 0:
                continue
            payloads = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                d = int(doc_id)
                if d % 2:
                    raw = b"".join(
                        hashlib.md5(f"{text}:{b}".encode()).digest()
                        for b in range(n_blocks)
                    )
                    # big-endian pairs == the '0x'||substr(hex,4i+1,4) parse
                    samples = np.frombuffer(raw, dtype=">i2").astype(np.int16)
                    if d % 8 == 1:
                        payloads.append(encode_wav(samples, rate))
                    elif d % 8 == 5:
                        payloads.append(encode_flac(samples, rate))
                    else:
                        payloads.append(encode_aiff(samples, rate))
                else:
                    raw = b"".join(
                        hashlib.md5(f"{text}:g711:{b}".encode()).digest()
                        for b in range(-(-n_codes // 16))
                    )[:n_codes]
                    codes = np.frombuffer(raw, dtype=np.uint8)
                    law = "mu" if d % 4 == 0 else "a"
                    if d % 8 in (0, 2):
                        payloads.append(encode_wav_g711(codes, rate, law=law))
                    else:
                        payloads.append(encode_au(codes, rate, law=law))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    audio = documents.filter(F.col("doc_id") % 3 == 1).select("doc_id", "text")
    return audio.mapInPandas(kernel, out_schema)


def audio_features(audio: DataFrame, *, decoder=None) -> DataFrame:
    """Per-clip audio statistics (Arrow-batched ``mapInPandas``):
    sample count, duration, RMS level, zero-crossing rate, peak — the
    quality/filtering signals an audio training pipeline gates on.

    ``decoder`` is the injection seam, ``(payload: bytes) ->
    (np.int16 samples, sample_rate)``; the default is the REAL
    dependency-free magic-sniffing dispatch over RIFF/WAVE, AIFF/
    AIFC, and AU/Sun containers
    (:func:`coltt_spark.operators.media_codecs.decode_audio`) —
    unlike the image path there is no fake here, the containers are
    decodable with stdlib ``struct``. The exact-integer statistics
    contract requires ≤16-bit samples; 24/32-bit decodes (int32)
    raise rather than silently losing exactness.

    Float-parity note: every statistic derives from EXACT integer
    aggregates (sum of int16 squares ≤ 2^53 for clips under ~2.6e6
    samples, crossing counts, peak magnitude), so the final doubles
    are identical across engines regardless of summation order — the
    float-parity recipe holds by construction. Clips longer than
    that would need a wider accumulator; this kernel raises rather
    than silently losing exactness."""

    def kernel(batches: Iterator) -> Iterator:
        import math

        import pandas as pd

        from coltt_spark.operators.media_codecs import decode_audio

        decode = decoder if decoder is not None else decode_audio
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = {k: [] for k in
                    ("doc_id", "n_samples", "sample_rate", "duration_s", "rms", "zcr", "peak")}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                samples, rate = decode(bytes(payload))
                if samples.dtype != np.int16:
                    raise ValueError(
                        f"doc {doc_id}: {samples.dtype} samples — exact "
                        "integer stats require 16-bit audio"
                    )
                s = samples.astype(np.int64)
                n = len(s)
                if n == 0 or n > 2_600_000:
                    raise ValueError(f"doc {doc_id}: {n} samples outside exact-sum range")
                sumsq = int(np.sum(s * s))
                crossings = int(np.sum(s[:-1] * s[1:] < 0)) if n > 1 else 0
                rows["doc_id"].append(doc_id)
                rows["n_samples"].append(n)
                rows["sample_rate"].append(rate)
                rows["duration_s"].append(n / rate)
                rows["rms"].append(math.sqrt(sumsq / n) / 32768.0)
                rows["zcr"].append(crossings / (n - 1) if n > 1 else 0.0)
                rows["peak"].append(int(np.max(np.abs(s))) / 32768.0)
            yield pd.DataFrame(rows)

    return audio.select("doc_id", "payload").mapInPandas(kernel, AUDIO_FEATURES_SCHEMA)


#: schema of a decoded per-frame stats row
FRAME_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("frame_idx", T.LongType(), False),
        T.StructField("width", T.LongType(), False),
        T.StructField("height", T.LongType(), False),
        T.StructField("r_sum", T.LongType(), False),
        T.StructField("g_sum", T.LongType(), False),
        T.StructField("b_sum", T.LongType(), False),
        T.StructField("luma", T.DoubleType(), False),
    ]
)


def video_avi_table(
    documents: DataFrame, *, n_frames: int = 4, width: int = 4, height: int = 4, fps: float = 5.0
) -> DataFrame:
    """Fabricate REAL AVI containers for the video rows
    (``doc_id % 3 == 2``, matching :func:`media_table`'s round-robin):
    each of ``n_frames`` frames is ``width×height`` RGB with pixel
    bytes from ``md5(text || ':' || frame || ':' || block)`` digests
    (16 bytes per digest, row-major RGB). Rows alternate CONTAINER
    flavor: even ``doc_id`` packs uncompressed 24-bit DIB chunks in
    an AVI — EXCEPT ``doc_id % 12 == 8``, which emits MOTION JPEG
    (16×16 frames of 2×2 DC-only 8×8 blocks whose YCbCr triples come
    from ``md5(text || ':mjpg:' || frame)``, each frame an
    independent baseline JPEG under q[0]=8 — DC-only blocks decode
    bit-exactly, the same contract as ``jpeg_image_table``) — and
    odd ``doc_id`` quantizes the frames' distinct colors into a
    shared palette (≤ width·height·n_frames ≤ 256 entries) and emits
    an animated GIF89a (LZW frames + per-frame Graphic Control
    Extensions) — so the driver-checked video entry exercises ALL
    THREE decode paths of the :func:`decode_video` dispatch against
    one oracle. Deterministic, so a SQL oracle regenerates the
    PIXELS from the hash streams (replaying the pinned YCbCr→RGB
    rounding for the MJPEG rows) while the Spark path must decode
    the actual containers — any header/row-order/channel-order/LZW/
    Huffman/IDCT bug in any codec breaks value parity."""
    n_bytes = width * height * 3
    n_blocks = -(-n_bytes // 16)  # ceil
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("payload", T.BinaryType(), False),
        ]
    )

    def kernel(batches: Iterator) -> Iterator:
        import hashlib

        import pandas as pd

        from coltt_spark.operators.media_codecs import (
            encode_avi,
            encode_avi_mjpeg,
            encode_gif_frames,
            encode_jpeg,
        )

        qt = np.full(64, 8, dtype=np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            payloads = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if int(doc_id) % 12 == 8:
                    jpegs = []
                    for f in range(n_frames):
                        raw = hashlib.md5(f"{text}:mjpg:{f}".encode()).digest()[:12]
                        ycc = np.frombuffer(raw, dtype=np.uint8).reshape(2, 2, 3)
                        img = np.repeat(np.repeat(ycc, 8, axis=0), 8, axis=1)
                        jpegs.append(
                            encode_jpeg(
                                img,
                                input_color="ycbcr",
                                luma_quant=qt,
                                chroma_quant=qt,
                            )
                        )
                    payloads.append(encode_avi_mjpeg(jpegs, 16, 16, fps))
                    continue
                frames = []
                for f in range(n_frames):
                    raw = b"".join(
                        hashlib.md5(f"{text}:{f}:{b}".encode()).digest()
                        for b in range(n_blocks)
                    )[:n_bytes]
                    frames.append(
                        np.frombuffer(raw, dtype=np.uint8).reshape(height, width, 3)
                    )
                # same pixels, GIF flavor on odd rows: shared palette
                # of the frames' distinct colors, one LZW image per
                # frame (GIF caps palettes at 256 — larger geometries
                # keep the AVI container)
                palette = inverse = None
                if int(doc_id) % 2:
                    stack = np.stack(frames).reshape(-1, 3)
                    palette, inverse = np.unique(
                        stack, axis=0, return_inverse=True
                    )
                if palette is not None and len(palette) <= 256:
                    idx_frames = list(
                        inverse.astype(np.uint8).reshape(n_frames, height, width)
                    )
                    payloads.append(
                        encode_gif_frames(
                            idx_frames, palette, delay_cs=round(100 / fps)
                        )
                    )
                else:
                    payloads.append(encode_avi(frames, fps))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    vids = documents.filter(F.col("doc_id") % 3 == 2).select("doc_id", "text")
    return vids.mapInPandas(kernel, out_schema)


def video_frame_stats(videos: DataFrame, *, decoder=None) -> DataFrame:
    """Per-frame channel statistics (Arrow-batched ``mapInPandas``):
    geometry, exact per-channel pixel sums, and BT.601 luma — the
    black-frame / flat-frame / corrupt-stream gating signals a video
    training pipeline filters on. One video row fans out to one row
    per decoded frame.

    ``decoder`` is the injection seam, ``(payload: bytes) ->
    (frames, fps)``; the default is the REAL dependency-free
    magic-sniffing dispatch over AVI/DIB and animated GIF
    (:func:`coltt_spark.operators.media_codecs.decode_video`).
    Channel sums are exact integers, and luma is derived from them
    with integer BT.601 weights (299/587/114 per mille), so the
    doubles agree across engines regardless of pixel iteration
    order."""

    def kernel(batches: Iterator) -> Iterator:
        import pandas as pd

        from coltt_spark.operators.media_codecs import decode_video

        decode = decoder if decoder is not None else decode_video
        cols = ("doc_id", "frame_idx", "width", "height", "r_sum", "g_sum", "b_sum", "luma")
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = {k: [] for k in cols}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                frames, _ = decode(bytes(payload))
                for idx, img in enumerate(frames):
                    h, w, _ = img.shape
                    sums = img.reshape(-1, 3).astype(np.int64).sum(axis=0)
                    r, g, b = (int(x) for x in sums)
                    rows["doc_id"].append(doc_id)
                    rows["frame_idx"].append(idx)
                    rows["width"].append(w)
                    rows["height"].append(h)
                    rows["r_sum"].append(r)
                    rows["g_sum"].append(g)
                    rows["b_sum"].append(b)
                    rows["luma"].append(
                        (299 * r + 587 * g + 114 * b) / (1000.0 * w * h * 255.0)
                    )
            yield pd.DataFrame(rows)

    return videos.select("doc_id", "payload").mapInPandas(kernel, FRAME_STATS_SCHEMA)


def resize_image(media: DataFrame, *, width: int, height: int) -> DataFrame:
    """Resize stage: recompute metadata JVM-side, re-derive the payload
    in the decode kernel (fake: payload tiled to width·height bytes).
    A real implementation swaps ``_fake_decode`` for PIL's resize."""
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("payload", T.BinaryType(), False),
            T.StructField("width", T.LongType(), False),
            T.StructField("height", T.LongType(), False),
        ]
    )

    def kernel(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            resized = pdf["payload"].map(
                lambda b: np.resize(np.frombuffer(b, dtype=np.uint8), width * height).tobytes()
            )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": resized,
                    "width": width,
                    "height": height,
                }
            )

    imgs = media.filter(F.col("media_type") == "image").select("doc_id", "payload")
    return imgs.mapInPandas(kernel, out_schema)


def sample_frames(media: DataFrame, *, n_frames: int = 4) -> DataFrame:
    """Frame-sampling stage for video payloads: emits ``n_frames``
    rows per video (frame_idx, frame payload slice). Real decoders
    replace the byte-slicing with pyav keyframe extraction."""
    vids = media.filter(F.col("media_type") == "video")
    idx = F.explode(F.sequence(F.lit(0), F.lit(n_frames - 1))).alias("frame_idx")
    sliced = vids.select("doc_id", "payload", idx)
    frame_len = F.greatest(F.floor(F.length("payload") / n_frames), F.lit(1)).cast("int")
    return sliced.select(
        "doc_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.substring(
            F.col("payload"), (F.col("frame_idx") * frame_len + 1).cast("int"), frame_len
        ).alias("frame"),
    )


#: schema of a per-image channel-stats row
IMAGE_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("width", T.LongType(), False),
        T.StructField("height", T.LongType(), False),
        T.StructField("r_sum", T.LongType(), False),
        T.StructField("g_sum", T.LongType(), False),
        T.StructField("b_sum", T.LongType(), False),
        T.StructField("luma", T.DoubleType(), False),
    ]
)


def png_image_table(
    documents: DataFrame, *, width: int = 5, height: int = 5
) -> DataFrame:
    """Fabricate REAL PNG payloads for the image rows
    (``doc_id % 3 == 0``, matching :func:`media_table`'s round-robin):
    each is ``width×height`` RGB with pixel bytes from
    ``md5(text || ':png:' || block)`` digests (16 bytes per digest,
    row-major RGB), zlib-compressed through the per-row filter cycle
    (0..4 — every inverse filter is exercised on decode). This is the
    first COMPRESSED container in the codec family: deterministic
    pixels mean a SQL oracle regenerates the PIXELS from the hash
    stream while the Spark path must inflate + unfilter the actual
    container — any chunk/inflate/filter bug breaks value parity."""
    n_bytes = width * height * 3
    n_blocks = -(-n_bytes // 16)  # ceil
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("payload", T.BinaryType(), False),
        ]
    )

    def kernel(batches: Iterator) -> Iterator:
        import hashlib

        import pandas as pd

        from coltt_spark.operators.media_codecs import encode_png

        for pdf in batches:
            if len(pdf) == 0:
                continue
            payloads = []
            for text in pdf["text"]:
                raw = b"".join(
                    hashlib.md5(f"{text}:png:{b}".encode()).digest()
                    for b in range(n_blocks)
                )[:n_bytes]
                img = np.frombuffer(raw, dtype=np.uint8).reshape(height, width, 3)
                payloads.append(encode_png(img))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    imgs = documents.filter(F.col("doc_id") % 3 == 0).select("doc_id", "text")
    return imgs.mapInPandas(kernel, out_schema)


def gif_image_table(
    documents: DataFrame, *, width: int = 5, height: int = 5, n_colors: int = 8
) -> DataFrame:
    """Fabricate REAL GIF payloads for the image rows
    (``doc_id % 3 == 0``): each is ``width×height`` indexed color over
    an ``n_colors``-entry palette, both drawn from deterministic md5
    streams — palette RGB bytes from ``md5(text || ':gifpal:0')``,
    pixel indices from ``md5(text || ':gif:' || block) % n_colors`` —
    and LZW-compressed through the from-scratch variable-width coder.
    Rows alternate container flavor (the decode output is identical,
    the decoder path is not): odd ``doc_id`` INTERLACED, ``doc_id %
    4 >= 2`` a LOCAL color table, version alternates 87a/89a with a
    comment extension on the 89a rows (exercising the sub-block skip
    walk). Third COMPRESSED format through the media seam: the SQL
    oracle regenerates palette + indices from the hash stream and
    never sees the GIF bytes, so an LZW / interlace / palette /
    sub-block bug breaks value parity."""
    n_px = width * height
    n_blocks = -(-n_px // 16)
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("payload", T.BinaryType(), False),
        ]
    )

    def kernel(batches: Iterator) -> Iterator:
        import hashlib

        import pandas as pd

        from coltt_spark.operators.media_codecs import encode_gif

        for pdf in batches:
            if len(pdf) == 0:
                continue
            payloads = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                pal_raw = b"".join(
                    hashlib.md5(f"{text}:gifpal:{b}".encode()).digest()
                    for b in range(-(-n_colors * 3 // 16))
                )[: n_colors * 3]
                pal = np.frombuffer(pal_raw, dtype=np.uint8).reshape(n_colors, 3)
                raw = b"".join(
                    hashlib.md5(f"{text}:gif:{b}".encode()).digest()
                    for b in range(n_blocks)
                )[:n_px]
                idx = (
                    np.frombuffer(raw, dtype=np.uint8).astype(np.uint16) % n_colors
                ).astype(np.uint8).reshape(height, width)
                d = int(doc_id)
                payloads.append(
                    encode_gif(
                        idx,
                        pal,
                        version="87a" if d % 2 == 0 else "89a",
                        interlace=bool(d % 2),
                        local_palette=d % 4 >= 2,
                        comment=b"flavor probe" if d % 2 else None,
                    )
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    imgs = documents.filter(F.col("doc_id") % 3 == 0).select("doc_id", "text")
    return imgs.mapInPandas(kernel, out_schema)


def tiff_image_table(
    documents: DataFrame, *, width: int = 5, height: int = 5
) -> DataFrame:
    """Fabricate REAL TIFF payloads for the image rows
    (``doc_id % 3 == 0``): each is ``width×height`` RGB with pixel
    bytes from ``md5(text || ':tiff:' || block)`` digests. Rows cycle
    CONTAINER flavor for the same pixels (the decode output is
    identical, the decoder path is not): compression none → LZW →
    PackBits by ``(doc_id // 3) % 3``, II/MM byte order by
    ``doc_id % 2``, the horizontal-differencing predictor on the LZW
    rows, and 2-row strips on the PackBits rows (multi-strip walk).
    Fourth COMPRESSED format through the media seam — TIFF LZW is a
    different dialect from GIF's (MSB-first, early-change widths) —
    and the SQL oracle regenerates the PIXELS from the hash stream,
    never seeing the TIFF bytes, so an IFD/strip/LZW/predictor bug
    breaks value parity."""
    n_bytes = width * height * 3
    n_blocks = -(-n_bytes // 16)
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("payload", T.BinaryType(), False),
        ]
    )

    def kernel(batches: Iterator) -> Iterator:
        import hashlib

        import pandas as pd

        from coltt_spark.operators.media_codecs import encode_tiff

        for pdf in batches:
            if len(pdf) == 0:
                continue
            payloads = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                raw = b"".join(
                    hashlib.md5(f"{text}:tiff:{b}".encode()).digest()
                    for b in range(n_blocks)
                )[:n_bytes]
                img = np.frombuffer(raw, dtype=np.uint8).reshape(height, width, 3)
                d = int(doc_id)
                comp = ("none", "lzw", "packbits")[(d // 3) % 3]
                payloads.append(
                    encode_tiff(
                        img,
                        compression=comp,
                        byte_order="<" if d % 2 == 0 else ">",
                        predictor=2 if comp == "lzw" else 1,
                        rows_per_strip=2 if comp == "packbits" else None,
                    )
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    imgs = documents.filter(F.col("doc_id") % 3 == 0).select("doc_id", "text")
    return imgs.mapInPandas(kernel, out_schema)


def exif_jpeg_table(documents: DataFrame) -> DataFrame:
    """Fabricate REAL JPEG payloads carrying EXIF APP1 metadata for
    the image rows (``doc_id % 3 == 0``): an 8×8 baseline JPEG with a
    spliced TIFF-structured EXIF block whose every field derives from
    ``doc_id`` formulas, so a SQL oracle regenerates the expected
    metadata without ever seeing bytes. Rows alternate TIFF byte
    order (II even / MM odd), drop the Model tag on ``d % 4 == 1``
    (absent-tag path), carry a GPS IFD only on ``d % 6 == 0`` (with
    all four N/S/E/W reference quadrants over the corpus), and
    ``d % 9 == 3`` rows have NO EXIF at all (the has_exif=false
    path). The Spark side must marker-walk the real container and
    chase TIFF-relative IFD pointers; any segment/offset/type bug
    breaks value parity."""
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("payload", T.BinaryType(), False),
        ]
    )

    def kernel(batches: Iterator) -> Iterator:
        import pandas as pd

        from coltt_spark.operators.exif import (
            build_exif_tiff,
            exif_app1,
            insert_app1,
        )
        from coltt_spark.operators.media_codecs import encode_jpeg

        base = encode_jpeg(np.full((8, 8, 3), 128, dtype=np.uint8))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            payloads = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                if d % 9 == 3:
                    payloads.append(base)
                    continue
                gps = None
                if d % 6 == 0:
                    gps = (
                        "N" if (d // 6) % 2 == 0 else "S",
                        (d % 90, d % 60, d % 45),
                        "E" if (d // 12) % 2 == 0 else "W",
                        (d % 180, (d // 2) % 60, d % 30),
                    )
                tiff = build_exif_tiff(
                    byte_order="<" if d % 2 == 0 else ">",
                    make=f"Cam{d % 5}",
                    model=None if d % 4 == 1 else f"M-{d % 7}",
                    orientation=1 + d % 8,
                    datetime=(
                        f"2024:{1 + d % 12:02d}:{1 + d % 28:02d}"
                        f" {d % 24:02d}:00:00"
                    ),
                    exposure=(1, 2 + d % 500),
                    fnumber=(10 + d % 40, 10),
                    iso=100 * (1 + d % 16),
                    datetime_original=(
                        f"2024:{1 + d % 12:02d}:{1 + d % 28:02d}"
                        f" {d % 24:02d}:30:00"
                    ),
                    pixel_x=8,
                    pixel_y=8,
                    gps=gps,
                )
                payloads.append(insert_app1(base, exif_app1(tiff)))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    imgs = documents.filter(F.col("doc_id") % 3 == 0).select("doc_id")
    return imgs.mapInPandas(kernel, out_schema)


def jpeg_image_table(documents: DataFrame, *, blocks: int = 2) -> DataFrame:
    """Fabricate REAL baseline JPEG payloads for the image rows
    (``doc_id % 3 == 0``): each is a ``blocks×blocks`` grid of 8×8
    DC-only blocks whose (Y, Cb, Cr) triples come from
    ``md5(text || ':jpeg:0')`` digest bytes (3 per block), encoded
    4:4:4 with q[0]=8 quantization and restart markers every 2 MCUs.
    DC-only blocks decode BIT-EXACTLY under q[0]=8 (the quantizer
    divides the DCT's 8·(v−128) DC gain), so a SQL oracle regenerates
    the PIXELS from the hash stream + the pinned YCbCr→RGB rounding
    while the Spark path must walk markers, build Huffman tables from
    the file's DHT, entropy-decode across restart markers, dequantize,
    and IDCT the actual container — any segment/Huffman/IDCT/color
    bug breaks value parity. Rows alternate container flavor: even
    ``doc_id`` emits sequential BASELINE (SOF0), odd emits PROGRESSIVE
    (SOF2, the default scan script with successive approximation —
    coefficient reconstruction is exact, so the same oracle covers
    both), putting the multi-scan progressive walk inside the
    driver-checked path. Second COMPRESSED format through the media
    seam (PNG is the first)."""
    n_vals = blocks * blocks * 3
    if n_vals > 16:
        raise ValueError("jpeg_image_table digest stream supports ≤16 block values")
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("payload", T.BinaryType(), False),
        ]
    )

    def kernel(batches: Iterator) -> Iterator:
        import hashlib

        import pandas as pd

        from coltt_spark.operators.media_codecs import encode_jpeg

        qt = np.full(64, 8, dtype=np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            payloads = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                raw = hashlib.md5(f"{text}:jpeg:0".encode()).digest()[:n_vals]
                ycc = np.frombuffer(raw, dtype=np.uint8).reshape(blocks, blocks, 3)
                img = np.repeat(np.repeat(ycc, 8, axis=0), 8, axis=1)
                payloads.append(
                    encode_jpeg(
                        img,
                        input_color="ycbcr",
                        luma_quant=qt,
                        chroma_quant=qt,
                        restart_interval=2,
                        progressive=bool(int(doc_id) % 2),
                    )
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    imgs = documents.filter(F.col("doc_id") % 3 == 0).select("doc_id", "text")
    return imgs.mapInPandas(kernel, out_schema)


def exif_oriented_jpeg_table(documents: DataFrame) -> DataFrame:
    """Fabricate JPEGs that are WRONG to read without applying EXIF
    orientation: an ASYMMETRIC 2×3 grid of DC-only 8×8 blocks
    (16 high × 24 wide — 90° rotations visibly swap the geometry)
    carrying (Y, Cb, Cr) triples from the ``:exifo:0`` md5 stream,
    with an EXIF APP1 whose Orientation cycles through ALL EIGHT
    values (``1 + d % 8``); ``d % 9 == 3`` rows carry no EXIF at all
    (the default-1 path). Same bit-exact DC-only recipe as
    ``jpeg_image_table``, so a SQL oracle regenerates the corrected
    stats from the hash stream + the orientation corner remap."""
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("payload", T.BinaryType(), False),
        ]
    )

    def kernel(batches: Iterator) -> Iterator:
        import hashlib

        import pandas as pd

        from coltt_spark.operators.exif import (
            build_exif_tiff,
            exif_app1,
            insert_app1,
        )
        from coltt_spark.operators.media_codecs import encode_jpeg

        qt = np.full(64, 8, dtype=np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            payloads = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                d = int(doc_id)
                raw = (
                    hashlib.md5(f"{text}:exifo:0".encode()).digest()
                    + hashlib.md5(f"{text}:exifo:1".encode()).digest()
                )[:18]
                ycc = np.frombuffer(raw, dtype=np.uint8).reshape(2, 3, 3)
                img = np.repeat(np.repeat(ycc, 8, axis=0), 8, axis=1)
                jpeg = encode_jpeg(
                    img,
                    input_color="ycbcr",
                    luma_quant=qt,
                    chroma_quant=qt,
                    restart_interval=2,
                )
                if d % 9 != 3:
                    tiff = build_exif_tiff(
                        byte_order="<" if d % 2 == 0 else ">",
                        orientation=1 + d % 8,
                    )
                    jpeg = insert_app1(jpeg, exif_app1(tiff))
                payloads.append(jpeg)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    imgs = documents.filter(F.col("doc_id") % 3 == 0).select("doc_id", "text")
    return imgs.mapInPandas(kernel, out_schema)


def image_channel_stats(images: DataFrame, *, decoder=None) -> DataFrame:
    """Per-image channel statistics (Arrow-batched ``mapInPandas``):
    geometry, exact per-channel pixel sums, and BT.601 luma — the
    black-image / flat-image gating stats an image training pipeline
    filters on (the single-frame sibling of
    :func:`video_frame_stats`, sharing its float-parity recipe:
    exact integer sums, integer per-mille luma weights).

    ``decoder`` is the injection seam, ``(payload: bytes) ->
    (H, W, 3) uint8``; the default sniffs BMP / PPM / PNG magic
    (:func:`coltt_spark.operators.media_codecs.decode_image`)."""

    def kernel(batches: Iterator) -> Iterator:
        import pandas as pd

        from coltt_spark.operators.media_codecs import decode_image

        decode = decoder if decoder is not None else decode_image
        cols = ("doc_id", "width", "height", "r_sum", "g_sum", "b_sum", "luma")
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = {k: [] for k in cols}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                img = decode(bytes(payload))
                h, w, _ = img.shape
                # RGBA decodes (PNG color type 6) contribute their
                # color channels; alpha carries no gating signal
                sums = img[:, :, :3].reshape(-1, 3).astype(np.int64).sum(axis=0)
                r, g, b = (int(x) for x in sums)
                rows["doc_id"].append(doc_id)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["r_sum"].append(r)
                rows["g_sum"].append(g)
                rows["b_sum"].append(b)
                rows["luma"].append(
                    (299 * r + 587 * g + 114 * b) / (1000.0 * w * h * 255.0)
                )
            yield pd.DataFrame(rows)

    return images.select("doc_id", "payload").mapInPandas(kernel, IMAGE_STATS_SCHEMA)


# ---------------------------------------------------------------------------
# perceptual image near-dup (dHash + Hamming banding) — the LAION-style
# multimodal sibling of text MinHash


def dhash_image_table(
    documents: DataFrame, *, brightness_delta: int = 32
) -> DataFrame:
    """Fabricate REAL PNG payloads with PLANTED perceptual near-dups
    for the image rows (``doc_id % 3 == 0``, matching
    :func:`media_table`'s round-robin): consecutive image rows form
    3-document CLUSTERS (``cluster = doc_id // 9``) whose 9×8 base
    pixels come from ``md5('dh:' || cluster || ':' || block)`` digests
    — seeded by the CLUSTER id, not the row's text, so clustered rows
    share content by construction. Per-row role (``(doc_id / 3) % 3``):

    - 0 — the 9×8 base image;
    - 1 — the base RESIZED 2× by pixel replication (18×16): a
      nearest-neighbor downsample maps exactly back onto the base
      grid, so its dHash is IDENTICAL (hamming 0) — the
      scaled-thumbnail duplicate every crawl corpus carries;
    - 2 — the base brightness-shifted ``+brightness_delta`` per
      channel (clamped at 255): dHash compares ADJACENT pixels, so a
      uniform shift preserves almost every comparison (hamming flips
      only where clamping compresses a local gradient) — the
      re-encoded/re-graded near-duplicate.

    Real containers, deterministic pixels: the SQL oracle regenerates
    the pixels + roles from the hash stream and never sees the PNG
    bytes, exactly like :func:`png_image_table`."""
    grid_w, grid_h = 9, 8
    n_bytes = grid_w * grid_h * 3
    n_blocks = -(-n_bytes // 16)  # ceil
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("payload", T.BinaryType(), False),
        ]
    )

    def kernel(batches: Iterator) -> Iterator:
        import hashlib

        import pandas as pd

        from coltt_spark.operators.media_codecs import encode_png

        for pdf in batches:
            if len(pdf) == 0:
                continue
            payloads = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                cluster, role = d // 9, (d // 3) % 3
                raw = b"".join(
                    hashlib.md5(f"dh:{cluster}:{b}".encode()).digest()
                    for b in range(n_blocks)
                )[:n_bytes]
                img = np.frombuffer(raw, dtype=np.uint8).reshape(
                    grid_h, grid_w, 3
                )
                if role == 1:
                    img = img.repeat(2, axis=0).repeat(2, axis=1)
                elif role == 2:
                    img = np.minimum(
                        img.astype(np.int64) + brightness_delta, 255
                    ).astype(np.uint8)
                payloads.append(encode_png(img))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    imgs = documents.filter(F.col("doc_id") % 3 == 0).select("doc_id")
    return imgs.mapInPandas(kernel, out_schema)


#: per-image dHash signature: the 64-bit difference hash as FOUR
#: 16-bit words — the words double as the Hamming-banding keys, and
#: 16-bit positives sidestep every signed-64 pitfall in both engines
DHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("w0", T.IntegerType(), False),
        T.StructField("w1", T.IntegerType(), False),
        T.StructField("w2", T.IntegerType(), False),
        T.StructField("w3", T.IntegerType(), False),
    ]
)


def image_dhash(images: DataFrame, *, decoder=None) -> DataFrame:
    """64-bit difference hash (dHash) per image — ONE narrow
    Arrow-batched decode stage, no shuffle: decode the real container,
    integer BT.601 luma per pixel (``299r + 587g + 114b`` per-mille,
    monotone and division-free, so comparisons are exact), sample a
    9×8 grid by nearest-neighbor (``(i·H)//8`` / ``(j·W)//9`` — a 2×
    pixel-replicated resize maps back to the source grid EXACTLY), and
    set bit ``r·8+c`` when grid[r][c+1] > grid[r][c]. Emitted as four
    16-bit words (bit ``16k+j`` → word k, weight 2^j).

    Scale shape: the per-row cost is the decode (already paid by any
    media pipeline); output is 4 ints/row. The hash is pure integer
    arithmetic over deterministic pixels, so the registry oracle
    regenerates it from the md5 stream in SQL."""
    grid_w, grid_h = 9, 8

    def kernel(batches: Iterator) -> Iterator:
        import pandas as pd

        from coltt_spark.operators.media_codecs import decode_image

        decode = decoder if decoder is not None else decode_image
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = {k: [] for k in ("doc_id", "w0", "w1", "w2", "w3")}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                img = decode(bytes(payload))[:, :, :3].astype(np.int64)
                h, w, _ = img.shape
                luma = 299 * img[:, :, 0] + 587 * img[:, :, 1] + 114 * img[:, :, 2]
                rs = (np.arange(grid_h) * h) // grid_h
                cs = (np.arange(grid_w) * w) // grid_w
                g = luma[np.ix_(rs, cs)]
                bits = (g[:, 1:] > g[:, :-1]).ravel().astype(np.int64)  # bit j = r*8 + c
                words = [
                    int((bits[16 * k : 16 * k + 16] << np.arange(16)).sum())
                    for k in range(4)
                ]
                rows["doc_id"].append(doc_id)
                for k in range(4):
                    rows[f"w{k}"].append(words[k])
            yield pd.DataFrame(rows)

    return images.select("doc_id", "payload").mapInPandas(kernel, DHASH_SCHEMA)


def dhash_pairs(sig: DataFrame, id_col: str, *, max_hamming: int = 3) -> DataFrame:
    """Near-dup image pairs by dHash Hamming distance ≤ ``max_hamming``
    — :func:`coltt_spark.operators.dedup.simhash_pairs`' discipline on
    the 4-word image signature. Blocking: the four 16-bit words ARE
    the bands; by pigeonhole, any pair within hamming 3 agrees on ≥1
    word, so candidates come from 4 equi-joins (union via explode),
    never a cross join — blocking is LOSSLESS at this threshold, which
    is why the SQL oracle may brute-force all pairs and still match.

    The band self-join runs over DISTINCT signatures (exact-duplicate
    image clusters — blank thumbnails, template banners — contribute
    ONE row per join bucket instead of cluster-size rows, the
    join-skew killer), then expands back to document pairs; signature
    tuples order lexicographically via struct comparison."""
    # column plumbing rendered as selectExpr/expr strings — ONE parse
    # per projection instead of ~700 py4j round-trips per construction
    # (r14-opt, guide §4; six media dedup keys share this operator).
    # Integer/struct ops only: the parsed trees are identical.
    ws = ["w0", "w1", "w2", "w3"]
    sig = sig.localCheckpoint(eager=False)
    usig = sig.select(*ws).distinct()
    stack = ", ".join(f"struct({k} AS band_idx, {ws[k]} AS band_val)" for k in range(4))
    chunks = usig.selectExpr(
        *ws, f"explode(array({stack})) AS _c"
    ).selectExpr(*ws, "_c.band_idx", "_c.band_val")
    a = chunks.selectExpr(
        *[f"{w} AS {w}_a" for w in ws], "band_idx", "band_val"
    )
    b = chunks.selectExpr(
        *[f"{w} AS {w}_b" for w in ws], "band_idx", "band_val"
    )
    sa_sql = "struct(" + ", ".join(f"{w}_a" for w in ws) + ")"
    sb_sql = "struct(" + ", ".join(f"{w}_b" for w in ws) + ")"
    ham_terms = [f"bit_count({w}_a ^ {w}_b)" for w in ws]
    ham = ham_terms[0]
    for t in ham_terms[1:]:
        ham = f"({ham} + {t})"
    sig_pairs = (
        a.join(b, on=["band_idx", "band_val"])
        # <= keeps the (s, s) diagonal: exact-duplicate cliques expand
        # to within-cluster pairs below
        .filter(F.expr(f"{sa_sql} <= {sb_sql}"))
        .selectExpr(
            *[f"{w}_a" for w in ws],
            *[f"{w}_b" for w in ws],
            f"CAST({ham} AS BIGINT) AS hamming",
        )
        .filter(F.col("hamming") <= max_hamming)
        # a signature pair appears once per agreeing band (≤ 4)
        .distinct()
    )
    quoted = "`" + id_col.replace("`", "``") + "`"
    da = sig.selectExpr(f"{quoted} AS _ida", *[f"{w} AS {w}_a" for w in ws])
    db = sig.selectExpr(f"{quoted} AS _idb", *[f"{w} AS {w}_b" for w in ws])
    return (
        sig_pairs.join(da, on=[f"{w}_a" for w in ws])
        .join(db, on=[f"{w}_b" for w in ws])
        .filter(F.expr(f"_ida <> _idb AND ({sa_sql} < {sb_sql} OR _ida < _idb)"))
        .selectExpr(
            "least(_ida, _idb) AS id_a",
            "greatest(_ida, _idb) AS id_b",
            "hamming",
        )
    )

def audio_dedup_table(documents: DataFrame) -> DataFrame:
    """Fabricate REAL audio containers with PLANTED perceptual
    near-dups for the audio rows (``doc_id % 3 == 1``, matching
    :func:`media_table`'s round-robin): consecutive audio rows form
    3-clip CLUSTERS (``cluster = doc_id // 9``) whose 136 base int16
    samples — 17 fingerprint windows × 8 samples — come from
    ``md5('adp:' || cluster || ':' || window)`` digests taken as
    big-endian pairs. Per-row role (``(doc_id / 3) % 3``):

    - 0 — the base clip, PCM16 in RIFF/WAVE;
    - 1 — GAIN-SHIFTED ``⌊3s/4⌋``, big-endian AIFF: band energies
      scale ~uniformly, so the sign-of-difference fingerprint is
      near-identical (measured hamming 0 on the fixture stream) — the
      re-normalized copy every crawl corpus carries;
    - 2 — RE-ENCODED through a REAL lossy codec: the base samples
      G.711 μ-law companded
      (:func:`~coltt_spark.operators.media_codecs.g711_mulaw_compress`)
      and stored as the codes in an AU/Sun container — decode expands
      through the spec table, so the clip carries genuine quantization
      noise (measured hamming ≤ 2) — the transcoded duplicate.

    Three containers → the entry exercises all three container walks
    of ``decode_audio``. Real containers, deterministic samples: the
    SQL oracle regenerates samples + roles from the hash stream
    (replaying the μ-law quantization in integer SQL) and never sees
    the container bytes — the :func:`dhash_image_table` discipline on
    audio."""
    n_windows = 17
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("payload", T.BinaryType(), False),
        ]
    )

    def kernel(batches: Iterator) -> Iterator:
        import hashlib

        import pandas as pd

        from coltt_spark.operators.media_codecs import (
            encode_aiff,
            encode_au,
            encode_wav,
            g711_mulaw_compress,
        )

        for pdf in batches:
            if len(pdf) == 0:
                continue
            payloads = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                cluster, role = d // 9, (d // 3) % 3
                raw = b"".join(
                    hashlib.md5(f"adp:{cluster}:{w}".encode()).digest()
                    for w in range(n_windows)
                )
                base = np.frombuffer(raw, dtype=">i2").astype(np.int64)
                if role == 0:
                    payloads.append(encode_wav(base.astype(np.int16), 8000))
                elif role == 1:
                    payloads.append(
                        encode_aiff(((base * 3) // 4).astype(np.int16), 8000)
                    )
                else:
                    codes = g711_mulaw_compress(base)
                    payloads.append(encode_au(codes, 8000, law="mu"))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    audio = documents.filter(F.col("doc_id") % 3 == 1).select("doc_id")
    return audio.mapInPandas(kernel, out_schema)


def _haar_sig_words(en: np.ndarray) -> list[int]:
    """Pack the sign-of-rise bits of a (T, 4) band-energy matrix
    (bit ``t·4 + b`` set when band ``b`` rises from row ``t`` to
    ``t+1``) into four 16-bit words — the shared tail of the audio,
    video, and AV fingerprints."""
    bits = (en[1:] > en[:-1]).ravel().astype(np.int64)
    return [
        int((bits[16 * k : 16 * k + 16] << np.arange(16)).sum())
        for k in range(4)
    ]


def _audio_band_energies(s: np.ndarray, n_windows: int) -> np.ndarray:
    """(n_windows, 4) integer Haar band energies of a
    ``8·n_windows``-sample int64 stream (DC², top-split², Σ
    mid-detail², Σ fine-detail²)."""
    x = s.reshape(n_windows, 8)
    d1 = x[:, 0::2] - x[:, 1::2]
    a1 = x[:, 0::2] + x[:, 1::2]
    d2 = a1[:, 0::2] - a1[:, 1::2]
    a2 = a1[:, 0::2] + a1[:, 1::2]
    d3 = a2[:, 0] - a2[:, 1]
    a3 = a2[:, 0] + a2[:, 1]
    return np.stack(
        [a3 * a3, d3 * d3, (d2 * d2).sum(axis=1), (d1 * d1).sum(axis=1)],
        axis=1,
    )


def _video_band_energies(frames: list, n_frames: int) -> np.ndarray:
    """(n_frames, 4) integer spatial Haar band energies over the
    BT.601 per-mille luma quadrant sums of the first ``n_frames``
    frames (total, (left−right)², (top−bottom)², (diag−antidiag)²)."""
    en = np.empty((n_frames, 4), dtype=np.int64)
    for t in range(n_frames):
        img = frames[t][:, :, :3].astype(np.int64)
        h, w, _ = img.shape
        luma = 299 * img[:, :, 0] + 587 * img[:, :, 1] + 114 * img[:, :, 2]
        hh, hw = h // 2, w // 2
        tl = int(luma[:hh, :hw].sum())
        tr = int(luma[:hh, hw:].sum())
        bl = int(luma[hh:, :hw].sum())
        br = int(luma[hh:, hw:].sum())
        en[t] = [
            tl + tr + bl + br,
            ((tl + bl) - (tr + br)) ** 2,
            ((tl + tr) - (bl + br)) ** 2,
            ((tl + br) - (tr + bl)) ** 2,
        ]
    return en


def audio_fingerprint(audio: DataFrame, *, decoder=None) -> DataFrame:
    """64-bit chromaprint-style acoustic fingerprint per clip — ONE
    narrow Arrow-batched decode stage, no shuffle: decode the real
    container (magic-sniffing ``decode_audio`` by default), frame the
    samples into 17 windows of 8, compute 4 integer Haar band energies
    per window (DC², top-split², Σ mid-detail², Σ fine-detail² — an
    integer filterbank, the spectrogram proxy), and set bit
    ``w·4 + b`` when band ``b``'s energy RISES from window ``w`` to
    ``w+1`` — the sign-of-difference-over-(time × band) design of
    Chromaprint/AcoustID. Emitted as four 16-bit words
    (:data:`DHASH_SCHEMA` — the words double as Hamming bands, so
    :func:`dhash_pairs` serves the pair generation unchanged).

    Integer end-to-end over ≤16-bit samples (energies ≤ 8·32768² ≪
    2^63), so the registry oracle regenerates the fingerprint from the
    md5 sample stream in SQL. Gain shifts scale all band energies
    ~uniformly and lossy re-encodes perturb them below the window-to-
    window contrast, so both stay within Hamming 3 of the original
    (measured on the fixture; cross-content clips sit at ~32)."""
    n_windows = 17

    def kernel(batches: Iterator) -> Iterator:
        import pandas as pd

        from coltt_spark.operators.media_codecs import decode_audio

        decode = decoder if decoder is not None else decode_audio
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = {k: [] for k in ("doc_id", "w0", "w1", "w2", "w3")}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                samples, _rate = decode(bytes(payload))
                s = samples.astype(np.int64)
                if len(s) != 8 * n_windows:
                    raise ValueError(
                        f"doc {doc_id}: {len(s)} samples — the fingerprint "
                        f"frames exactly {8 * n_windows}"
                    )
                words = _haar_sig_words(_audio_band_energies(s, n_windows))
                rows["doc_id"].append(doc_id)
                for k in range(4):
                    rows[f"w{k}"].append(words[k])
            yield pd.DataFrame(rows)

    return audio.select("doc_id", "payload").mapInPandas(kernel, DHASH_SCHEMA)


def video_dedup_table(documents: DataFrame) -> DataFrame:
    """Fabricate REAL video containers with PLANTED perceptual
    near-dups for the video rows (``doc_id % 3 == 2``, matching
    :func:`media_table`'s round-robin): consecutive video rows form
    3-clip CLUSTERS (``cluster = doc_id // 9``) sharing 17 base frames
    of 16×16 pixels in a 2×2 grid of constant 8×8 blocks whose
    (Y, Cb, Cr) triples come from ``md5('vdp:' || cluster || ':' ||
    frame)`` digest bytes (block ``b`` reads bytes ``3b..3b+2``; the
    pinned floor(x+0.5) BT.601 rounding maps them to RGB). Roles 0/2
    emit the block grid at 2×2 PIXELS while role 1 emits it at 16×16
    — the temporal fingerprint is RESOLUTION-INVARIANT (each band's
    energy scales by a per-clip constant, and bits compare energies
    within a clip across time), so the thumbnail still matches its
    full-size re-encode: the cross-resolution dup every crawl corpus
    carries. Per-row role (``(doc_id / 3) % 3``):

    - 0 — the base clip: 17 RGB frames (2×2) in an uncompressed-DIB
      AVI;
    - 1 — RE-ENCODED through the real JPEG path: the SAME YCbCr
      blocks encoded DC-only per frame under flat quant tables
      q=24 and wrapped as Motion-JPEG AVI — the (24/8=3)-step DC
      round trip ``v' = clip(3·⌊(v−128)/3 + ½⌋ + 128)`` is provably
      TIE-FREE at both encode (8(v−128) ≡ 12 mod 24 is unsolvable)
      and decode (3·zz0 is integral, so the +128.5 level shift sits
      exactly 0.5 from every floor boundary), which is what lets the
      SQL oracle replay genuine requantization noise exactly — the
      transcoded duplicate;
    - 2 — RE-GRADED + TAIL-EXTENDED: the base RGB frames (2×2)
      scaled ``⌊3v/4⌋`` per channel plus 4 EXTRA trailing frames
      (same hash stream continued), palette-packed into an animated
      GIF89a — the brightness-regraded re-upload; the extra tail
      pins that the fingerprint is head-aligned-trim tolerant (the
      base IS the 17-frame head trim of this clip).

    Three containers → the entry exercises all three container walks
    of ``decode_video``. Real containers, deterministic pixels: the
    SQL oracle regenerates block values + roles from the hash stream
    (replaying the DC quantization and the gain floor in arithmetic)
    and never sees the container bytes — :func:`audio_dedup_table`'s
    discipline on video. EVEN clusters only (``(doc_id // 9) % 2 ==
    0``) — the bench-cost dial on a fixture whose 17-frame × 3-codec
    fabricate+decode is single-core codec work by design (the
    documents scan is one parquet file; the plan guard pins the
    narrow no-Exchange shape, which is the correct one at 100 TB)."""
    n_frames = 17
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("payload", T.BinaryType(), False),
        ]
    )

    def kernel(batches: Iterator) -> Iterator:
        import hashlib
        import math

        import pandas as pd

        from coltt_spark.operators.media_codecs import (
            encode_avi,
            encode_avi_mjpeg,
            encode_gif_frames,
            encode_jpeg,
        )

        qt24 = np.full(64, 24, dtype=np.int64)

        def ycc_frame(cluster: int, f: int) -> np.ndarray:
            raw = hashlib.md5(f"vdp:{cluster}:{f}".encode()).digest()[:12]
            return np.frombuffer(raw, dtype=np.uint8).reshape(2, 2, 3)

        def to_rgb(ycc: np.ndarray) -> np.ndarray:
            out = np.empty_like(ycc)
            for i in range(2):
                for j in range(2):
                    y, cb, cr = (int(v) for v in ycc[i, j])
                    r = math.floor(y + 1.402 * (cr - 128) + 0.5)
                    g = math.floor(
                        y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128) + 0.5
                    )
                    b = math.floor(y + 1.772 * (cb - 128) + 0.5)
                    out[i, j] = [
                        min(max(c, 0), 255) for c in (r, g, b)
                    ]
            return out

        def expand(block_grid: np.ndarray) -> np.ndarray:
            return np.repeat(np.repeat(block_grid, 8, axis=0), 8, axis=1)

        for pdf in batches:
            if len(pdf) == 0:
                continue
            payloads = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                cluster, role = d // 9, (d // 3) % 3
                if role == 1:
                    jpegs = [
                        encode_jpeg(
                            expand(ycc_frame(cluster, f)),
                            input_color="ycbcr",
                            luma_quant=qt24,
                            chroma_quant=qt24,
                        )
                        for f in range(n_frames)
                    ]
                    payloads.append(encode_avi_mjpeg(jpegs, 16, 16, 5.0))
                    continue
                total = n_frames + (4 if role == 2 else 0)
                frames = [
                    to_rgb(ycc_frame(cluster, f)) for f in range(total)
                ]
                if role == 0:
                    payloads.append(encode_avi(frames, 5.0))
                else:
                    frames = [(3 * f.astype(np.int64)) // 4 for f in frames]
                    frames = [f.astype(np.uint8) for f in frames]
                    stack = np.stack(frames).reshape(-1, 3)
                    palette, inverse = np.unique(
                        stack, axis=0, return_inverse=True
                    )
                    idx_frames = list(
                        inverse.astype(np.uint8).reshape(total, 2, 2)
                    )
                    payloads.append(
                        encode_gif_frames(idx_frames, palette, delay_cs=20)
                    )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    vids = documents.filter(
        (F.col("doc_id") % 3 == 2) & (F.expr("(doc_id div 9) % 2") == 0)
    ).select("doc_id")
    return vids.mapInPandas(kernel, out_schema)


def video_fingerprint(videos: DataFrame, *, decoder=None) -> DataFrame:
    """64-bit temporal video fingerprint per clip — ONE narrow
    Arrow-batched decode stage, no shuffle: decode the real container
    (magic-sniffing ``decode_video`` by default), take the FIRST 17
    frames (head alignment makes the signature invariant to trailing
    trims/extensions), compute 4 integer spatial Haar band energies
    per frame over the BT.601 per-mille luma quadrant sums (total,
    (left−right)², (top−bottom)², (diag−antidiag)² — the 2-D
    filterbank), and set bit ``t·4 + b`` when band ``b``'s energy
    RISES from frame ``t`` to ``t+1`` — the audio fingerprint's
    sign-of-difference-over-(time × band) design
    (:func:`audio_fingerprint`) with space standing in for frequency,
    the temporal-ordinal video fingerprint family. Emitted as four
    16-bit words (:data:`DHASH_SCHEMA` — the words double as Hamming
    bands, so :func:`dhash_pairs` serves the pair generation
    unchanged).

    Integer end-to-end over pixel sums, so the registry oracle
    regenerates the sign decisions from the md5 block stream in SQL
    (per-block luma energies — a positive constant multiple of the
    kernel's per-pixel quadrant sums on the constant-block fixture,
    so every comparison agrees). Re-grades scale all band energies
    ~uniformly and DC requantization perturbs them below the
    frame-to-frame contrast, so both stay within Hamming 3 of the
    base (measured on the fixture; cross-content clips sit at ~32)."""
    n_frames = 17

    def kernel(batches: Iterator) -> Iterator:
        import pandas as pd

        from coltt_spark.operators.media_codecs import decode_video

        decode = decoder if decoder is not None else decode_video
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = {k: [] for k in ("doc_id", "w0", "w1", "w2", "w3")}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                frames, _fps = decode(bytes(payload))
                if len(frames) < n_frames:
                    raise ValueError(
                        f"doc {doc_id}: {len(frames)} frames — the "
                        f"fingerprint reads the first {n_frames}"
                    )
                words = _haar_sig_words(_video_band_energies(frames, n_frames))
                rows["doc_id"].append(doc_id)
                for k in range(4):
                    rows[f"w{k}"].append(words[k])
            yield pd.DataFrame(rows)

    return videos.select("doc_id", "payload").mapInPandas(kernel, DHASH_SCHEMA)


#: AV fingerprint schema: four video words + four audio words per clip
AV_SIG_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("v0", T.IntegerType(), False),
        T.StructField("v1", T.IntegerType(), False),
        T.StructField("v2", T.IntegerType(), False),
        T.StructField("v3", T.IntegerType(), False),
        T.StructField("a0", T.IntegerType(), False),
        T.StructField("a1", T.IntegerType(), False),
        T.StructField("a2", T.IntegerType(), False),
        T.StructField("a3", T.IntegerType(), False),
    ]
)


def av_dedup_table(documents: DataFrame) -> DataFrame:
    """Fabricate REAL audio-visual containers (two-stream AVI:
    vids/DIB + auds/PCM16, :func:`~coltt_spark.operators.media_codecs.
    encode_avi_av`) with PLANTED joint near-dups for the AV rows
    (``doc_id % 3 == 0``, even clusters only — the
    :func:`video_dedup_table` cost dial): consecutive rows form
    3-clip CLUSTERS (``cluster = doc_id // 9``) sharing 17 base
    video frames (16×16-px 2×2 grids of constant 8×8 blocks, YCbCr
    from ``md5('avv:' || cluster || ':' || frame)``, the pinned
    BT.601 rounding) and 136 base int16 samples (17 windows × 8,
    from ``md5('ava:' || cluster || ':' || window)`` big-endian
    pairs). Per-row role (``(doc_id / 3) % 3``):

    - 0 — the base clip: base frames + base soundtrack;
    - 1 — the TRUE RE-UPLOAD: video re-graded ``⌊3v/4⌋`` per channel
      AND audio gain-shifted ``⌊3s/4⌋`` — both tracks near-dup, the
      pair the operator must emit;
    - 2 — the SOUNDTRACK SWAP: the base frames EXACTLY but audio from
      a DIFFERENT hash stream (``'ava2:'``) — a video-band candidate
      the audio verify must KILL (same footage, new narration: a
      derived work, not a re-upload).

    Real containers, deterministic content: the SQL oracle
    regenerates both tracks from the md5 streams and never sees the
    container bytes (the :func:`audio_dedup_table` /
    :func:`video_dedup_table` discipline, composed)."""
    n_frames, n_windows = 17, 17
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("payload", T.BinaryType(), False),
        ]
    )

    def kernel(batches: Iterator) -> Iterator:
        import hashlib
        import math

        import pandas as pd

        from coltt_spark.operators.media_codecs import encode_avi_av

        def ycc_frame(cluster: int, f: int) -> np.ndarray:
            raw = hashlib.md5(f"avv:{cluster}:{f}".encode()).digest()[:12]
            return np.frombuffer(raw, dtype=np.uint8).reshape(2, 2, 3)

        def to_rgb(ycc: np.ndarray) -> np.ndarray:
            out = np.empty_like(ycc)
            for i in range(2):
                for j in range(2):
                    y, cb, cr = (int(v) for v in ycc[i, j])
                    r = math.floor(y + 1.402 * (cr - 128) + 0.5)
                    g = math.floor(
                        y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128) + 0.5
                    )
                    b = math.floor(y + 1.772 * (cb - 128) + 0.5)
                    out[i, j] = [min(max(c, 0), 255) for c in (r, g, b)]
            return out

        def samples(prefix: str, cluster: int) -> np.ndarray:
            raw = b"".join(
                hashlib.md5(f"{prefix}:{cluster}:{w}".encode()).digest()
                for w in range(n_windows)
            )
            return np.frombuffer(raw, dtype=">i2").astype(np.int64)

        def expand(block_grid: np.ndarray) -> np.ndarray:
            return np.repeat(np.repeat(block_grid, 8, axis=0), 8, axis=1)

        for pdf in batches:
            if len(pdf) == 0:
                continue
            payloads = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                cluster, role = d // 9, (d // 3) % 3
                frames = [
                    expand(to_rgb(ycc_frame(cluster, f)))
                    for f in range(n_frames)
                ]
                if role == 1:
                    frames = [
                        ((3 * f.astype(np.int64)) // 4).astype(np.uint8)
                        for f in frames
                    ]
                    s = (3 * samples("ava", cluster)) // 4
                elif role == 2:
                    s = samples("ava2", cluster)
                else:
                    s = samples("ava", cluster)
                payloads.append(
                    encode_avi_av(frames, s.astype(np.int16), 8000, fps=5.0)
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    avs = documents.filter(
        (F.col("doc_id") % 3 == 0) & (F.expr("(doc_id div 9) % 2") == 0)
    ).select("doc_id")
    return avs.mapInPandas(kernel, out_schema)


def av_fingerprint(avs: DataFrame, *, decoder=None, audio_decoder=None) -> DataFrame:
    """Joint fingerprint of BOTH tracks of an audio-visual container
    in ONE narrow Arrow-batched decode stage — (doc_id, v0..v3,
    a0..a3): the :func:`video_fingerprint` temporal-ordinal signature
    of the video track and the :func:`audio_fingerprint`
    chromaprint-style signature of the audio track (both
    sign-of-difference over (time × 4 integer Haar bands), packed as
    16-bit words that double as Hamming bands). Same integer
    end-to-end math, so the registry oracle regenerates both halves
    from the md5 streams in SQL."""
    n_frames, n_windows = 17, 17

    def kernel(batches: Iterator) -> Iterator:
        import pandas as pd

        from coltt_spark.operators.media_codecs import (
            decode_avi_audio,
            decode_video,
        )

        vdec = decoder if decoder is not None else decode_video
        adec = audio_decoder if audio_decoder is not None else decode_avi_audio
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = {
                k: []
                for k in ("doc_id", "v0", "v1", "v2", "v3", "a0", "a1", "a2", "a3")
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                frames, _fps = vdec(bytes(payload))
                if len(frames) < n_frames:
                    raise ValueError(
                        f"doc {doc_id}: {len(frames)} frames — the "
                        f"fingerprint reads the first {n_frames}"
                    )
                s, _rate = adec(bytes(payload))
                s = s.astype(np.int64)
                if len(s) != 8 * n_windows:
                    raise ValueError(
                        f"doc {doc_id}: {len(s)} samples — the fingerprint "
                        f"frames exactly {8 * n_windows}"
                    )
                vw = _haar_sig_words(_video_band_energies(frames, n_frames))
                aw = _haar_sig_words(_audio_band_energies(s, n_windows))
                rows["doc_id"].append(doc_id)
                for k in range(4):
                    rows[f"v{k}"].append(vw[k])
                    rows[f"a{k}"].append(aw[k])
            yield pd.DataFrame(rows)

    return avs.select("doc_id", "payload").mapInPandas(kernel, AV_SIG_SCHEMA)


def av_dedup_pairs(
    sig: DataFrame, id_col: str, *, max_hamming: int = 3
) -> DataFrame:
    """Joint AV near-dup pairs: candidates from the VIDEO track's
    Hamming bands (:func:`dhash_pairs` over v0..v3 — lossless at
    hamming ≤ 3 by pigeonhole), then an AND-verify on the AUDIO
    track's Hamming distance — a pair survives only when BOTH tracks
    match, which kills same-footage/new-narration derived works
    without any new kernel math. Returns (id_a, id_b, v_hamming,
    a_hamming). An audio-only match (same soundtrack, different
    footage) is out of contract BY DESIGN: candidates come from the
    video track, the re-upload's invariant."""
    sig = sig.localCheckpoint(eager=False)
    vp = dhash_pairs(
        sig.select(
            F.col(id_col), *[F.col(f"v{k}").alias(f"w{k}") for k in range(4)]
        ),
        id_col,
        max_hamming=max_hamming,
    ).withColumnRenamed("hamming", "v_hamming")
    aa = sig.select(
        F.col(id_col).alias("id_a"), *[F.col(f"a{k}").alias(f"a{k}_a") for k in range(4)]
    )
    ab = sig.select(
        F.col(id_col).alias("id_b"), *[F.col(f"a{k}").alias(f"a{k}_b") for k in range(4)]
    )
    ham = None
    for k in range(4):
        t = F.bit_count(F.col(f"a{k}_a").bitwiseXOR(F.col(f"a{k}_b")))
        ham = t if ham is None else ham + t
    return (
        vp.join(aa, on="id_a")
        .join(ab, on="id_b")
        .withColumn("a_hamming", ham.cast("long"))
        .filter(F.col("a_hamming") <= max_hamming)
        .select("id_a", "id_b", "v_hamming", "a_hamming")
    )
