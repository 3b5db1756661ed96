"""Structured-streaming equivalence + multimodal plumbing tests."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from coltt_spark.operators.analytics import events_hourly, sessionize
from coltt_spark.operators.multimodal import extract_features, media_table, resize_image, sample_frames
from coltt_spark.sources.tables import load_table
from coltt_spark.streaming import (
    hourly_counts_stream,
    read_events_stream,
    run_to_memory,
    session_stream,
)

from .conftest import SF_SMOKE


def test_stream_hourly_equals_batch(spark):
    """Replaying the events file through the watermarked streaming agg
    gives the same windows as the batch twin."""
    sdf = hourly_counts_stream(read_events_stream(spark, SF_SMOKE))
    stream_rows = {
        (r["hour"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in run_to_memory(sdf, "hourly_t").collect()
    }
    batch_rows = {
        (r["hour"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in events_hourly(load_table(spark, SF_SMOKE, "events")).collect()
    }
    assert stream_rows == batch_rows


def test_stream_sessions_match_batch_totals(spark):
    """session_window (streaming state) and the lag/cumsum batch
    sessionizer agree on session count and per-user event totals."""
    sdf = session_stream(read_events_stream(spark, SF_SMOKE))
    stream = run_to_memory(sdf, "sessions_t")
    batch = sessionize(load_table(spark, SF_SMOKE, "events"))
    s_per_user = {
        (r["user_id"]): (r["n"], r["ev"])
        for r in stream.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("n_events").alias("ev"))
        .collect()
    }
    b_per_user = {
        (r["user_id"]): (r["n"], r["ev"])
        for r in batch.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("n_events").alias("ev"))
        .collect()
    }
    assert s_per_user == b_per_user


def test_sessionize_gap_at_microsecond_precision(spark):
    """A gap of exactly 30 minutes stays in the session; 30 minutes
    and half a second opens a new one (floored to whole seconds, that
    gap would read 1800 s and not split)."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    events = spark.createDataFrame(
        [
            (1, 7, t0, 1.0),
            (2, 7, t0 + dt.timedelta(minutes=30), 1.0),
            (3, 7, t0 + dt.timedelta(minutes=60, milliseconds=500), 1.0),
        ],
        "event_id long, user_id long, ts timestamp_ntz, value double",
    )
    rows = sessionize(events).orderBy("session_id").collect()
    assert [r["n_events"] for r in rows] == [2, 1]


def test_media_features_deterministic(spark):
    media = media_table(load_table(spark, SF_SMOKE, "documents"))
    f1 = {r["doc_id"]: r["features"] for r in extract_features(media, dim=16).collect()}
    f2 = {r["doc_id"]: r["features"] for r in extract_features(media, dim=16).collect()}
    assert f1 == f2
    assert all(len(v) == 16 and all(0.0 <= x <= 1.0 for x in v) for v in f1.values())


def test_media_features_real_decoder_seam(spark):
    """The decoder parameter is a real injection seam: swap the fake
    for an actual codec (zlib DEFLATE — stdlib, runs on executors) and
    the same plan decodes genuinely compressed payloads."""
    import zlib

    import numpy as np

    raw = {i: bytes(bytearray((i * 37 + j) % 256 for j in range(64))) for i in range(1, 9)}
    media = spark.createDataFrame(
        [(i, "image", zlib.compress(raw[i])) for i in raw],
        "doc_id long, media_type string, payload binary",
    )

    def zlib_decoder(payload: bytes, out_len: int) -> np.ndarray:
        pixels = np.frombuffer(zlib.decompress(payload), dtype=np.uint8)
        return (np.resize(pixels, out_len) / 255.0).astype(np.float32)

    out = {r["doc_id"]: r["features"] for r in extract_features(media, dim=32, decoder=zlib_decoder).collect()}
    assert set(out) == set(raw)
    for i, payload in raw.items():
        expect = (np.resize(np.frombuffer(payload, dtype=np.uint8), 32) / 255.0).astype(np.float32)
        assert np.allclose(out[i], expect)


def test_media_resize_and_frames(spark):
    media = media_table(load_table(spark, SF_SMOKE, "documents"))
    resized = resize_image(media, width=8, height=4).collect()
    assert resized and all(len(r["payload"]) == 32 for r in resized)
    n_videos = media.filter(F.col("media_type") == "video").count()
    frames = sample_frames(media, n_frames=4)
    assert frames.count() == 4 * n_videos
    assert frames.filter(F.length("frame") == 0).count() == 0


def test_stream_dedup_first_seen(spark):
    """Doubling the stream (union with itself) then running the
    stateful first-seen dedup yields each event exactly once."""
    from coltt_spark.streaming import stream_dedup

    s = read_events_stream(spark, SF_SMOKE)
    out = run_to_memory(
        stream_dedup(s.union(s), key_cols=("event_id",)), "dedup_t", mode="append"
    )
    n_events = load_table(spark, SF_SMOKE, "events").count()
    ids = [r["event_id"] for r in out.select("event_id").collect()]
    assert len(ids) == n_events
    assert len(set(ids)) == n_events


@pytest.mark.parametrize("layout", ["blocks", "ivf"])
def test_stream_ingest_then_delta_flush_serves_from_index(spark, tmp_path, layout):
    """Capstone composition: continuous ingest (foreachBatch upserts)
    into a packed-layout collection, full flush, a SECOND streamed
    batch of updates, then an incremental delta flush — the packed
    index (blocks OR per-centroid ivf lists with fixed centroids)
    must serve the final merged state exactly (vs a batch-built
    twin; the ivf twin probes all lists so the comparison is
    exact)."""
    from pyspark.sql import functions as F

    from coltt_spark.catalog import Catalog
    from coltt_spark.schema import IndexField
    from coltt_spark.sources.tables import load_table
    from coltt_spark.streaming.ingest import read_table_stream, stream_upsert

    sf = "/root/testdata/sf0.001"
    fields = [
        IndexField("id", "string", primary_key=True),
        IndexField("label", "integer"),
    ]
    cat = Catalog(spark, str(tmp_path / "wh"))
    kwargs = {"block_dtype": "float64"}
    if layout == "ivf":
        kwargs.update(ivf_centroids=4, ivf_nprobe=4)
    coll = cat.create_collection(
        "ing", dim=64, distance="euclidean", fields=fields,
        layout=layout, **kwargs,
    )
    emb = load_table(spark, sf, "embeddings")

    def shaped(df, label_shift=0):
        return df.select(
            F.col("vec_id").cast("string").alias("id"),
            (F.col("label") + label_shift).cast("int").alias("label"),
            F.col("embedding").alias("vector"),
        )

    # phase 1: stream the base corpus in, flush a full index
    stream_upsert(shaped(read_table_stream(spark, sf, "embeddings")), coll)
    coll.flush()
    v1 = coll.manifest.version
    # phase 2: stream an update slice in, flush INCREMENTALLY
    stream_upsert(
        shaped(read_table_stream(spark, sf, "embeddings"), label_shift=100)
        .filter(F.col("id").cast("long") < 5),
        coll,
    )
    coll.flush()
    assert coll.manifest.version == v1 + 1
    import os

    assert os.path.isdir(coll._tombstones_dir(coll.manifest.version))

    twin = cat.create_collection(
        "ing_twin", dim=64, distance="euclidean", fields=fields,
    )
    twin.upsert_df(shaped(emb), dedupe_batch=False)
    twin.upsert_df(
        shaped(emb.filter(F.col("vec_id") < 5), label_shift=100), dedupe_batch=False
    )
    q = list(emb.select("embedding").first()["embedding"])
    got = [(r["id"], r["label"], round(r["dist"], 6))
           for r in coll.search(q, limit=15).collect()]
    exp = [(r["id"], r["label"], round(r["dist"], 6))
           for r in twin.search(q, limit=15).collect()]
    assert got == exp


def test_stream_ingest_quantized_collection(spark, tmp_path):
    """Streamed upserts into a QUANTIZED blocks collection land with
    identical stored precision to the batch path (quantize-at-write
    inside foreachBatch), and the packed index serves them."""
    from pyspark.sql import functions as F

    from coltt_spark.catalog import Catalog
    from coltt_spark.schema import IndexField
    from coltt_spark.sources.tables import load_table
    from coltt_spark.streaming.ingest import read_table_stream, stream_upsert

    sf = "/root/testdata/sf0.001"
    fields = [IndexField("id", "string", primary_key=True)]
    cat = Catalog(spark, str(tmp_path / "wh"))

    def shaped(df):
        return df.select(
            F.col("vec_id").cast("string").alias("id"),
            F.col("embedding").alias("vector"),
        )

    coll = cat.create_collection(
        "sq", dim=64, distance="cosine", fields=fields,
        layout="blocks", block_dtype="float64", quantization="f16",
    )
    stream_upsert(shaped(read_table_stream(spark, sf, "embeddings")), coll)
    coll.flush()
    twin = cat.create_collection(
        "tq", dim=64, distance="cosine", fields=fields, quantization="f16",
    )
    emb = load_table(spark, sf, "embeddings")
    twin.upsert_df(shaped(emb), dedupe_batch=False)
    q = list(emb.select("embedding").first()["embedding"])
    a = [(r["id"], round(r["dist"], 6)) for r in coll.search(q, limit=10).collect()]
    b = [(r["id"], round(r["dist"], 6)) for r in twin.search(q, limit=10).collect()]
    assert a == b


def test_stream_text_index_merge_matches_adhoc(spark, tmp_path):
    """The streaming postings pipeline — per-micro-batch shard build →
    TextIndex.merge — must serve scores identical to an ad-hoc BM25
    over the full landed corpus (the postings analogue of the
    stream_upsert → delta-flush → search parity above)."""
    from coltt_spark.operators.fulltext import bm25_search
    from coltt_spark.streaming.ingest import stream_text_index

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    staged = str(tmp_path / "staged")
    docs.repartition(3).write.parquet(staged)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
    )
    root = str(tmp_path / "tix")
    idx = stream_text_index(stream, "doc_id", "text", root)
    # the merge really folded multiple shards, not one big batch
    import os

    shards = [d for d in os.listdir(root) if d.startswith("shard_")]
    assert len(shards) >= 2, shards
    q = "vector hash join dup"
    got = [
        (r["doc_id"], r["n_terms_hit"], r["score"])
        for r in idx.search(q, top_k=10).collect()
    ]
    want = [
        (r["doc_id"], r["n_terms_hit"], r["score"])
        for r in bm25_search(docs, "doc_id", "text", q).collect()
    ]
    assert got == want


def test_streaming_hybrid_capstone(spark, tmp_path):
    """Full streaming composition: embeddings stream-upserted into a
    blocks collection AND documents stream-built into postings shards
    (merged), then the product hybrid (`search_hybrid_text`) over the
    two streamed stores must equal the same hybrid over batch-built
    twins — ingest mechanics (micro-batches, shard merges, delta
    machinery) must be invisible to the serving surface."""
    from coltt_spark.catalog import Catalog
    from coltt_spark.schema import IndexField
    from coltt_spark.streaming.ingest import (
        read_table_stream,
        stream_text_index,
        stream_upsert,
    )
    from coltt_spark.textindex import TextIndex

    sf = "/root/testdata/sf0.001"
    fields = [
        IndexField("id", "string", primary_key=True),
        IndexField("label", "integer"),
    ]
    cat = Catalog(spark, str(tmp_path / "wh"))
    emb = load_table(spark, sf, "embeddings")
    dim = len(emb.select("embedding").first()["embedding"])

    def shaped(df):
        return df.select(
            F.col("vec_id").cast("string").alias("id"),
            F.col("label").cast("int").alias("label"),
            F.col("embedding").alias("vector"),
        )

    streamed = cat.create_collection(
        "hyb_s", dim=dim, distance="euclidean", fields=fields,
        layout="blocks", block_dtype="float64",
    )
    stream_upsert(shaped(read_table_stream(spark, sf, "embeddings")), streamed)
    streamed.flush()
    batch = cat.create_collection(
        "hyb_b", dim=dim, distance="euclidean", fields=fields,
        layout="blocks", block_dtype="float64",
    )
    batch.upsert_df(shaped(emb), dedupe_batch=False)
    batch.flush()

    docs = load_table(spark, sf, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    staged = str(tmp_path / "staged")
    docs.repartition(2).write.parquet(staged)
    sidx = stream_text_index(
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged),
        "doc_id", "text", str(tmp_path / "tix"),
    )
    bidx = TextIndex.build(docs, "doc_id", "text", str(tmp_path / "tix_b"))

    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    got = [
        tuple(r) for r in
        streamed.search_hybrid_text(sidx, "vector hash join dup", q).collect()
    ]
    want = [
        tuple(r) for r in
        batch.search_hybrid_text(bidx, "vector hash join dup", q).collect()
    ]
    assert got == want and len(got) == 10


def test_media_features_real_image_codecs(spark):
    """REAL image decoding through the production seam: 24-bit BMP and
    binary PPM payloads (encoded by the dependency-free codecs) decode
    to the exact same luma features whichever container carried the
    pixels, and the values match a local numpy replay."""
    import numpy as np

    from coltt_spark.operators.media_codecs import (
        decode_image,
        encode_bmp,
        encode_ppm,
        image_decoder,
    )

    rng = np.random.default_rng(7)
    imgs = {i: rng.integers(0, 256, (5 + i, 7, 3), dtype=np.uint8) for i in range(1, 5)}
    # round-trip sanity for both codecs
    for img in imgs.values():
        assert np.array_equal(decode_image(encode_bmp(img)), img)
        assert np.array_equal(decode_image(encode_ppm(img)), img)
    rows = [(i, "image", encode_bmp(img)) for i, img in imgs.items()] + [
        (i + 100, "image", encode_ppm(img)) for i, img in imgs.items()
    ]
    media = spark.createDataFrame(
        rows, "doc_id long, media_type string, payload binary"
    )
    out = {
        r["doc_id"]: np.asarray(r["features"], dtype=np.float32)
        for r in extract_features(media, dim=24, decoder=image_decoder).collect()
    }
    assert set(out) == {i for i, _, _ in rows}
    for i, img in imgs.items():
        # same pixels, different container → identical features
        assert np.allclose(out[i], out[i + 100])
        assert np.allclose(out[i], image_decoder(encode_ppm(img), 24))
        assert float(out[i].min()) >= 0.0 and float(out[i].max()) <= 1.0


def test_wav_codec_interops_with_stdlib_wave(tmp_path):
    """Our RIFF/WAVE codec is byte-level interoperable with the
    stdlib ``wave`` module in BOTH directions: stdlib-written files
    decode to the exact samples, and our encoder's bytes read back
    through stdlib with the same params and frames."""
    import io
    import wave

    import numpy as np

    from coltt_spark.operators.media_codecs import decode_wav, encode_wav

    rng = np.random.default_rng(11)
    samples = rng.integers(-32768, 32768, 513, dtype=np.int16)

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(16000)
        w.writeframes(samples.tobytes())
    got, rate = decode_wav(buf.getvalue())
    assert rate == 16000
    assert np.array_equal(got, samples)

    with wave.open(io.BytesIO(encode_wav(samples, 22050)), "rb") as r:
        assert (r.getnchannels(), r.getsampwidth(), r.getframerate()) == (1, 2, 22050)
        assert np.array_equal(
            np.frombuffer(r.readframes(r.getnframes()), dtype="<i2"), samples
        )


def test_wav_codec_rejects_unsupported_flavors():
    """Loud errors beat silently-wrong samples: >2 channels, 12-bit
    PCM, IEEE float, truncated, and odd-sized payloads all raise.
    (Stereo, G.711, and 8/24/32-bit PCM are SUPPORTED flavors since
    r6 — covered by tests/test_media_codecs_property.py.)"""
    import struct

    import numpy as np
    import pytest as _pytest

    from coltt_spark.operators.media_codecs import decode_wav, encode_wav

    good = encode_wav(np.arange(8, dtype=np.int16), 8000)

    def patched(fmt_tag=1, channels=1, bits=16):
        fmt = struct.pack("<HHIIHH", fmt_tag, channels, 8000, 16000, 2, bits)
        return good[:20] + fmt + good[36:]

    for bad in (
        b"not a wav",
        good[:10],                      # truncated header
        good[:-3],                      # truncated data chunk
        patched(channels=3),            # >2 channels out of scope
        patched(bits=12),               # PCM width must be 8/16/24/32
        patched(fmt_tag=3),             # IEEE float
        patched(fmt_tag=7, channels=2), # G.711 must be 8-bit (bits=16 here)
        good.replace(b"data", b"datx"), # no data chunk
    ):
        with _pytest.raises(ValueError):
            decode_wav(bad)
    # stereo PCM16 with an odd frame count of bytes raises too
    stereo = encode_wav(np.zeros((4, 2), dtype=np.int16), 8000)
    with _pytest.raises(ValueError):
        decode_wav(stereo[:-2])  # half a frame


def test_wav_decoder_skips_extra_chunks_and_odd_padding():
    """Real WAV files carry LIST/INFO chunks before data, and RIFF
    pads odd-sized chunks to even offsets — the chunk walker handles
    both."""
    import struct

    import numpy as np

    from coltt_spark.operators.media_codecs import decode_wav

    samples = np.array([1, -2, 3], dtype=np.int16)
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    info = b"xyz"  # odd-sized chunk → 1 pad byte
    body = (
        b"WAVE"
        + b"LIST" + struct.pack("<I", len(info)) + info + b"\x00"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", 6) + samples.tobytes()
    )
    payload = b"RIFF" + struct.pack("<I", len(body)) + body
    got, rate = decode_wav(payload)
    assert rate == 8000
    assert np.array_equal(got, samples)


def test_audio_features_match_local_replay(spark):
    """audio_features through the Spark seam equals a local replay of
    decode → exact integer aggregates, and the fabricated payloads are
    REAL RIFF containers (stdlib wave can read them)."""
    import io
    import math
    import wave

    import numpy as np

    from coltt_spark.operators.media_codecs import decode_audio
    from coltt_spark.operators.multimodal import audio_features, audio_wav_table

    docs = load_table(spark, SF_SMOKE, "documents").limit(60)
    wavs = audio_wav_table(docs)
    payloads = {r["doc_id"]: bytes(r["payload"]) for r in wavs.collect()}
    assert payloads and all(k % 3 == 1 for k in payloads)
    # flavor matrix present: PCM16 (WAV + FLAC + AIFF) and G.711 (WAV + AU)
    assert {k % 8 for k in payloads} == set(range(8))
    pcm = next(p for k, p in payloads.items() if k % 8 == 1)
    with wave.open(io.BytesIO(pcm), "rb") as r:
        assert (r.getnchannels(), r.getsampwidth(), r.getnframes()) == (1, 2, 32)
    flac = next(p for k, p in payloads.items() if k % 8 == 5)
    assert flac[:4] == b"fLaC"
    aiff = next(p for k, p in payloads.items() if k % 4 == 3)
    assert aiff[:4] == b"FORM" and aiff[8:12] == b"AIFF"
    g711_wav = next(p for k, p in payloads.items() if k % 8 in (0, 2))
    assert g711_wav[20:22] in (b"\x06\x00", b"\x07\x00")  # fmt tag 6/7
    g711_au = next(p for k, p in payloads.items() if k % 8 in (4, 6))
    assert g711_au[:4] == b".snd"

    got = {r["doc_id"]: r for r in audio_features(wavs).collect()}
    assert set(got) == set(payloads)
    for doc_id, payload in payloads.items():
        s, rate = decode_audio(payload)
        s = s.astype(np.int64)
        n = len(s)
        row = got[doc_id]
        assert (row["n_samples"], row["sample_rate"]) == (n, rate)
        assert row["duration_s"] == n / rate
        assert row["rms"] == math.sqrt(int(np.sum(s * s)) / n) / 32768.0
        assert row["zcr"] == int(np.sum(s[:-1] * s[1:] < 0)) / (n - 1)
        assert row["peak"] == int(np.max(np.abs(s))) / 32768.0


def test_audio_features_via_extract_features_seam(spark):
    """The generic ``extract_features(decoder=audio_decoder)`` seam
    also accepts WAV payloads — audio clips become fixed-width [-1,1]
    feature vectors ready for the vector-retrieval operators, same
    plan shape as the image path."""
    import numpy as np

    from coltt_spark.operators.media_codecs import audio_decoder, encode_wav

    rng = np.random.default_rng(3)
    clips = {i: rng.integers(-32768, 32768, 40 + i, dtype=np.int16) for i in range(4)}
    media = spark.createDataFrame(
        [(i, "audio", encode_wav(c, 8000)) for i, c in clips.items()],
        "doc_id long, media_type string, payload binary",
    )
    out = {
        r["doc_id"]: np.asarray(r["features"], dtype=np.float32)
        for r in extract_features(media, dim=12, decoder=audio_decoder).collect()
    }
    assert set(out) == set(clips)
    for i, c in clips.items():
        assert np.allclose(out[i], audio_decoder(encode_wav(c, 8000), 12))
        assert float(np.abs(out[i]).max()) <= 1.0


def test_avi_codec_roundtrip_and_rejections():
    """AVI encode→decode returns the exact frames and fps; compressed
    streams, odd geometries, and truncated payloads raise."""
    import struct

    import numpy as np
    import pytest as _pytest

    from coltt_spark.operators.media_codecs import decode_avi, encode_avi

    rng = np.random.default_rng(13)
    frames = [rng.integers(0, 256, (6, 5, 3), dtype=np.uint8) for _ in range(3)]
    payload = encode_avi(frames, fps=12.5)
    got, fps = decode_avi(payload)
    assert fps == _pytest.approx(12.5)
    assert len(got) == 3
    for a, b in zip(got, frames):
        assert np.array_equal(a, b)

    for bad in (
        b"RIFFxxxxWAVE",            # wrong RIFF form
        b"not avi",
        payload[:40],               # truncated header run
        payload[:-7],               # truncated frame chunk
    ):
        with _pytest.raises(ValueError):
            decode_avi(bad)
    # compression tag != 0 in strf must raise, not mis-decode
    strf_pos = payload.index(b"strf")
    comp_off = strf_pos + 8 + 16  # header + (size,w,h,planes,bpp)
    compressed = (
        payload[:comp_off] + struct.pack("<I", 1) + payload[comp_off + 4 :]
    )
    with _pytest.raises(ValueError):
        decode_avi(compressed)


def test_video_frame_stats_match_local_replay(spark):
    """video_frame_stats through the Spark seam equals a local replay
    of decode → exact channel sums, and the fabricated payloads are
    real containers (decodable standalone, 4 frames each) in ALL
    THREE flavors: DIB AVI on even doc_ids, Motion-JPEG AVI on
    doc_id % 12 == 8 (16×16 frames, one baseline JPEG per chunk),
    animated GIF on odd — the decode_video dispatch sees each."""
    import numpy as np

    from coltt_spark.operators.media_codecs import decode_video
    from coltt_spark.operators.multimodal import video_avi_table, video_frame_stats

    docs = load_table(spark, SF_SMOKE, "documents").limit(60)
    vids = video_avi_table(docs)
    payloads = {r["doc_id"]: bytes(r["payload"]) for r in vids.collect()}
    assert payloads and all(k % 3 == 2 for k in payloads)
    assert {k % 12 for k in payloads} == {2, 5, 8, 11}  # all flavors present
    for doc_id, payload in payloads.items():
        expect_magic = b"RIFF" if doc_id % 2 == 0 else b"GIF8"
        assert payload[:4] == expect_magic
        if doc_id % 12 == 8:
            assert b"MJPG" in payload[:120]  # strh/strf fourcc

    got = {}
    for r in video_frame_stats(vids).collect():
        got[(r["doc_id"], r["frame_idx"])] = r
    for doc_id, payload in payloads.items():
        frames, fps = decode_video(payload)
        assert len(frames) == 4 and fps == 5.0
        side = 16 if doc_id % 12 == 8 else 4
        for idx, img in enumerate(frames):
            row = got[(doc_id, idx)]
            assert (row["width"], row["height"]) == (side, side)
            sums = img.reshape(-1, 3).astype(np.int64).sum(axis=0)
            assert (row["r_sum"], row["g_sum"], row["b_sum"]) == tuple(int(x) for x in sums)
            expect_luma = (
                299 * int(sums[0]) + 587 * int(sums[1]) + 114 * int(sums[2])
            ) / (1000.0 * side * side * 255.0)
            assert row["luma"] == expect_luma
    assert len(got) == 4 * len(payloads)


def test_hour_state_scope_restores_conf_and_values(spark):
    """r14-opt (VERDICT r13 #8): the hour-keyed replays scope the
    state-store partition count to the keyspace (stream_join's
    production rationale). The scope must restore the session's
    shuffle partitions afterwards — even on failure or when two
    threads' scopes overlap — and the scoped replay must produce
    identical values (mergeable state by construction)."""
    import pytest

    from coltt_spark import registry_streaming as rs

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    out_scoped = sorted(
        map(tuple, rs.q_stream_hourly(spark, SF_SMOKE).collect())
    )
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    # unscoped twin at the session's partitioning
    monkey = rs._HOUR_STATE_PARTITIONS
    try:
        rs._HOUR_STATE_PARTITIONS = prev
        out_session = sorted(
            map(tuple, rs.q_stream_hourly(spark, SF_SMOKE).collect())
        )
    finally:
        rs._HOUR_STATE_PARTITIONS = monkey
    assert out_scoped == out_session
    # conf restored even when the body raises
    with pytest.raises(RuntimeError):
        with rs._hour_state_scope(spark):
            raise RuntimeError("boom")
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    # overlapping scopes on two threads: B must not save A's scoped
    # count and restore it after A has restored the session's
    import threading
    import time

    a_in, release_a, a_done = (threading.Event() for _ in range(3))

    def scope_a():
        with rs._hour_state_scope(spark):
            a_in.set()
            release_a.wait(10)
        a_done.set()

    def scope_b():
        with rs._hour_state_scope(spark):
            a_done.wait(10)

    ta = threading.Thread(target=scope_a)
    ta.start()
    assert a_in.wait(10)
    tb = threading.Thread(target=scope_b)
    tb.start()
    time.sleep(0.2)
    release_a.set()
    ta.join(30)
    tb.join(30)
    assert not ta.is_alive() and not tb.is_alive()
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
