"""Textops kernels vs independent Python reference implementations,
similarity sanity, multimodal plumbing."""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from trainingdata_spark.multimodal import (
    decode_and_featurize,
    sample_frames,
    with_content_meta,
)
from trainingdata_spark.similarity import cosine_topk, lsh_bucketed_topk
from trainingdata_spark.textops.dedup import (
    exact_duplicates,
    minhash_signatures,
    ngram_jaccard_pairs,
)

DOCS = pd.DataFrame({
    "doc_id": [0, 1, 2, 3],
    "text": [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy cat",  # near-dup of 0
        "completely different words entirely here now",
        "the quick brown fox jumps over the lazy dog",  # exact dup of 0
    ],
})


def _py_shingles(text: str, n: int = 3) -> set[str]:
    toks = text.split()
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def test_exact_duplicates(spark):
    out = exact_duplicates(spark.createDataFrame(DOCS)).toPandas()
    dup_group = out[out["n_copies"] == 2]
    assert len(dup_group) == 1
    assert dup_group["canonical_id"].iloc[0] == 0


def test_ngram_jaccard_matches_python(spark):
    got = ngram_jaccard_pairs(spark.createDataFrame(DOCS)).toPandas()
    got = got.set_index(["id_a", "id_b"])["jaccard"].to_dict()
    for (a, b), j in got.items():
        sa, sb = _py_shingles(DOCS.text[a]), _py_shingles(DOCS.text[b])
        expected = len(sa & sb) / len(sa | sb)
        assert abs(j - expected) < 1e-12, (a, b)
    assert got[(0, 3)] == 1.0  # exact dup pair
    assert got[(0, 1)] > 0.5  # near-dup pair


def test_minhash_near_dup_similarity(spark):
    sig = (
        minhash_signatures(spark.createDataFrame(DOCS), k=32)
        .toPandas().set_index("doc_id")["sig"]
    )
    agree = lambda a, b: np.mean(np.array(sig[a]) == np.array(sig[b]))  # noqa: E731
    assert agree(0, 3) == 1.0  # identical docs → identical signatures
    assert agree(0, 1) > agree(0, 2)  # near-dup closer than unrelated


def test_lsh_recall_vs_bruteforce(spark, request):
    """LSH top-k must recover most of brute-force top-k on real
    embeddings (sf0.001)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.limit(3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = cosine_topk(emb, queries, k=5).toPandas()
    approx = lsh_bucketed_topk(emb, queries, k=5, max_hamming=6).toPandas()
    exact_set = set(map(tuple, exact[["query_id", "vec_id"]].values))
    approx_set = set(map(tuple, approx[["query_id", "vec_id"]].values))
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.6, f"LSH recall too low: {recall}"


def test_multimodal_decode_plumbing(spark):
    rows = [(i, bytes([i]) * (100 + i), ("image/png", 8, 8, 100 + i)) for i in range(10)]
    media = spark.createDataFrame(
        rows, "media_id long, content binary, meta struct<mime:string,width:int,height:int,n_bytes:long>"
    )
    meta = with_content_meta(media).toPandas()
    assert (meta["n_bytes"] == [100 + i for i in range(10)]).all()
    assert meta["content_sha"].iloc[0] == hashlib.sha256(bytes([0]) * 100).hexdigest()

    feats = decode_and_featurize(media, out_hw=(4, 4)).toPandas()
    assert len(feats) == 10
    assert all(len(f) == 4 * 4 * 3 for f in feats["feature"])
    # deterministic: same bytes → same features
    again = decode_and_featurize(media, out_hw=(4, 4)).toPandas()
    pd.testing.assert_frame_equal(
        feats.sort_values("media_id", ignore_index=True),
        again.sort_values("media_id", ignore_index=True),
    )


def _pil_available() -> bool:
    try:
        import PIL  # noqa: F401
        return True
    except ImportError:
        return False


@pytest.mark.skipif(_pil_available(), reason="with Pillow installed the real decoder runs")
def test_multimodal_real_decode_raises_without_pillow(spark):
    """Where Pillow is absent, fake=False must fail loudly at the
    documented plug point — never silently fall back to the fake."""
    media = spark.createDataFrame([(0, b"xx", None)],
                                  "media_id long, content binary, meta string")
    with pytest.raises(Exception, match="NotImplementedError|real image decode"):
        decode_and_featurize(media.drop("meta"), fake=False).collect()


@pytest.mark.skipif(not _pil_available(), reason="Pillow not installed in this env")
def test_multimodal_real_decode_with_pillow(spark):
    """Round 11: the optional-dependency REAL decoder, exercised where
    Pillow exists — a synthesized solid-color PNG decodes through the
    same Arrow kernel to the expected constant pixel tensor, with the
    same schema/shape contract as the fake."""
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("RGB", (16, 16), (200, 100, 50)).save(buf, format="PNG")
    png = buf.getvalue()
    media = spark.createDataFrame([(0, png)], "media_id long, content binary")
    feats = decode_and_featurize(media, out_hw=(4, 4), fake=False).toPandas()
    assert len(feats) == 1 and len(feats["feature"].iloc[0]) == 4 * 4 * 3
    vec = np.array(feats["feature"].iloc[0]).reshape(4, 4, 3) * 255.0
    assert np.allclose(vec[..., 0], 200, atol=1) and np.allclose(vec[..., 1], 100, atol=1)
    assert feats["mean_intensity"].iloc[0] == pytest.approx((200 + 100 + 50) / 3, abs=1.0)


def test_frame_sampling(spark):
    vids = spark.createDataFrame([(1, 25), (2, 7)], "media_id long, n_frames int")
    out = sample_frames(vids, every_n=10).toPandas()
    got = out.groupby("media_id")["frame_idx"].apply(list).to_dict()
    assert got == {1: [0, 10, 20], 2: [0]}


def test_ivf_recall_vs_bruteforce(spark):
    """IVF top-k must recover most of brute-force top-k (sf0.001)."""
    from trainingdata_spark.similarity import ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.limit(3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = cosine_topk(emb, queries, k=5).toPandas()
    approx = ivf_topk(emb, queries, k=5, n_cells=8, nprobe=4).toPandas()
    exact_set = set(map(tuple, exact[["query_id", "vec_id"]].values))
    approx_set = set(map(tuple, approx[["query_id", "vec_id"]].values))
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.6, f"IVF recall too low: {recall}"


def test_image_dims_from_headers(spark):
    """Header-parse dimension extraction: real container headers built
    byte-for-byte; JPEG and junk must yield NULL dims, not errors."""
    import struct

    from trainingdata_spark.multimodal import with_image_dims

    png = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13) + b"IHDR"
        + struct.pack(">II", 640, 480)          # width, height
        + b"\x08\x06\x00\x00\x00" + b"\x00" * 4
    )
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00" * 6
    bmp = (
        b"BM" + struct.pack("<IHHI", 100, 0, 0, 54)
        + struct.pack("<IiiHH", 40, 1024, -768, 1, 24)  # negative = top-down
    )
    jpeg_bad = b"\xff\xd8\xff\xe0" + b"\x00" * 20  # zero-length APP0 -> corrupt
    junk = b"not an image at all"

    rows = [(1, png), (2, gif), (3, bmp), (4, jpeg_bad), (5, junk)]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    got = {r["media_id"]: r for r in with_image_dims(df).collect()}

    assert got[1]["img_format"] == "png"
    assert (got[1]["img_width"], got[1]["img_height"]) == (640, 480)
    assert got[2]["img_format"] == "gif"
    assert (got[2]["img_width"], got[2]["img_height"]) == (320, 200)
    assert got[3]["img_format"] == "bmp"
    assert (got[3]["img_width"], got[3]["img_height"]) == (1024, 768)
    assert got[4]["img_format"] == "jpeg"
    assert got[4]["img_width"] is None and got[4]["img_height"] is None
    assert got[5]["img_format"] == "unknown"
    assert got[5]["img_width"] is None


def _jpeg_segment(marker: int, payload: bytes) -> bytes:
    import struct

    return b"\xff" + bytes([marker]) + struct.pack(">H", len(payload) + 2) + payload


def _jpeg_sof(marker: int, width: int, height: int) -> bytes:
    import struct

    # precision, height, width, 3 components x (id, sampling, qtable)
    payload = b"\x08" + struct.pack(">HH", height, width) + b"\x01\x22\x00\x02\x11\x01\x03\x11\x01"
    return _jpeg_segment(marker, payload)


def test_jpeg_sof_header_dims(spark):
    """JPEG dims via the bounded JVM segment walk: baseline SOF0
    behind JFIF, progressive SOF2 behind a large EXIF APP1, 0xFF fill
    padding, and failure modes (SOS before SOF, truncation) -> NULL."""
    from trainingdata_spark.multimodal import with_image_dims

    baseline = (
        b"\xff\xd8"
        + _jpeg_segment(0xE0, b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00")
        + _jpeg_sof(0xC0, 1920, 1080)
        + b"\xff\xda\x00\x02entropy-coded-data"
    )
    progressive = (
        b"\xff\xd8"
        + _jpeg_segment(0xE1, b"Exif\x00\x00" + b"\x42" * 5000)  # big EXIF
        + _jpeg_segment(0xDB, b"\x00" + bytes(range(64)))        # DQT
        + _jpeg_sof(0xC2, 800, 600)
    )
    padded = (
        b"\xff\xd8" + b"\xff"  # fill byte before the marker
        + _jpeg_sof(0xC1, 64, 32)[1:]  # fill consumed as segment's 0xFF
    )
    sos_first = b"\xff\xd8" + _jpeg_segment(0xDA, b"\x01\x00") + _jpeg_sof(0xC0, 9, 9)
    truncated = b"\xff\xd8" + _jpeg_segment(0xE0, b"JFIF\x00")[:5]

    rows = [
        (1, baseline), (2, progressive), (3, padded), (4, sos_first), (5, truncated),
    ]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    got = {r["media_id"]: r for r in with_image_dims(df).collect()}
    for mid in got:
        assert got[mid]["img_format"] == "jpeg"
    assert (got[1]["img_width"], got[1]["img_height"]) == (1920, 1080)
    assert (got[2]["img_width"], got[2]["img_height"]) == (800, 600)
    assert (got[3]["img_width"], got[3]["img_height"]) == (64, 32)
    assert got[4]["img_width"] is None and got[4]["img_height"] is None
    assert got[5]["img_width"] is None and got[5]["img_height"] is None


def test_image_dims_is_pure_projection(spark):
    """No shuffle, no Python: the plan is a single Project over the
    scan."""
    from trainingdata_spark.multimodal import with_image_dims

    df = spark.createDataFrame([(1, b"GIF89a\x10\x00\x10\x00")],
                               "media_id long, content binary")
    plan = with_image_dims(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def _wav_bytes(channels=1, rate=16000, width=2, n_frames=16000, extra_chunk=False):
    """Canonical WAV via the stdlib; optionally splice a LIST chunk
    between fmt and data (the real-world layout a fixed-44-byte
    reader breaks on)."""
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(width)
        w.setframerate(rate)
        w.writeframes(b"\x00" * (n_frames * channels * width))
    raw = buf.getvalue()
    if not extra_chunk:
        return raw
    # canonical stdlib layout: RIFF(12) + fmt chunk(8+16) + data...
    head, tail = raw[:36], raw[36:]
    # odd-sized payload (17 B) so the walker's even-padding rule is
    # actually exercised: chunk size says 17, layout pads to 18
    info = b"INFOISFT" + struct.pack("<I", 5) + b"pytes"
    chunk = b"LIST" + struct.pack("<I", len(info)) + info + b"\x00"
    riff_size = struct.unpack("<I", raw[4:8])[0] + len(chunk)
    patched = head[:4] + struct.pack("<I", riff_size) + head[8:]
    return patched + chunk + tail


def test_audio_meta_from_wav_headers(spark):
    from trainingdata_spark.multimodal import with_audio_meta

    rows = [
        (1, _wav_bytes(channels=2, rate=44100, width=2, n_frames=44100)),
        (2, _wav_bytes(channels=1, rate=16000, width=2, n_frames=8000,
                       extra_chunk=True)),
        (3, b"\xff\xfb\x90\x00" + b"\x00" * 64),        # bare mp3 frame
        (4, b"ID3\x04\x00" + b"\x00" * 64),              # id3-tagged mp3
        (5, b"fLaC" + b"\x00" * 64),
        (6, b"OggS" + b"\x00" * 64),
        (7, b"\x00\x01\x02"),                            # junk / truncated
    ]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    got = {r["media_id"]: r for r in with_audio_meta(df).collect()}
    assert got[1]["audio_format"] == "wav"
    assert got[1]["audio_channels"] == 2
    assert got[1]["audio_sample_rate"] == 44100
    assert got[1]["audio_bits"] == 16
    assert got[1]["audio_duration_ms"] == 1000
    # the LIST chunk between fmt and data is walked over, not tripped on
    assert got[2]["audio_sample_rate"] == 16000
    assert got[2]["audio_duration_ms"] == 500
    assert got[3]["audio_format"] == "mp3"
    assert got[4]["audio_format"] == "mp3"
    assert got[5]["audio_format"] == "flac"
    assert got[6]["audio_format"] == "ogg"
    for m in (3, 4, 5, 6, 7):  # detected-only / junk rows: NULL meta
        assert got[m]["audio_sample_rate"] is None
        assert got[m]["audio_duration_ms"] is None
    assert got[7]["audio_format"] == "unknown"


def test_audio_meta_is_python_free(spark):
    from trainingdata_spark.multimodal import with_audio_meta

    df = spark.createDataFrame(
        [(1, _wav_bytes())], "media_id long, content binary"
    )
    plan = (
        with_audio_meta(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange" not in plan  # pure per-row projection


def test_sample_audio_windows(spark):
    from trainingdata_spark.multimodal import sample_audio_windows

    media = spark.createDataFrame(
        [(1, 70_000), (2, 30_000), (3, 0), (4, None)],
        "media_id long, audio_duration_ms long",
    )
    rows = sample_audio_windows(media, window_ms=30_000).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r["media_id"], []).append(
            (r["window_idx"], r["start_ms"], r["end_ms"])
        )
    assert by_id[1] == [(0, 0, 30_000), (1, 30_000, 60_000), (2, 60_000, 70_000)]
    assert by_id[2] == [(0, 0, 30_000)]
    assert 3 not in by_id and 4 not in by_id
    # overlapping windows via hop
    hop = sample_audio_windows(media, window_ms=30_000, hop_ms=20_000).collect()
    assert len([r for r in hop if r["media_id"] == 2]) == 2  # 0 and 20k starts


def _box(typ: bytes, payload: bytes) -> bytes:
    import struct

    return struct.pack(">I", 8 + len(payload)) + typ + payload


def _mvhd(version: int, timescale: int, duration: int) -> bytes:
    import struct

    if version == 0:
        body = bytes([0, 0, 0, 0]) + struct.pack(">IIII", 1, 2, timescale, duration)
    else:
        body = bytes([1, 0, 0, 0]) + struct.pack(">QQIQ", 1, 2, timescale, duration)
    # trailing rate/volume/matrix fields are irrelevant to the parse
    return _box(b"mvhd", body + b"\x00" * 80)


def _mp4(version: int, timescale: int, duration: int, n_trak: int,
         moov_first: bool = True, brand: bytes = b"isom") -> bytes:
    ftyp = _box(b"ftyp", brand + b"\x00\x00\x02\x00" + b"isomiso2")
    traks = b"".join(_box(b"trak", b"\x00" * 16) for _ in range(n_trak))
    moov = _box(b"moov", _mvhd(version, timescale, duration) + traks)
    mdat = _box(b"mdat", b"\xab" * 500)
    return ftyp + (moov + mdat if moov_first else mdat + moov)


def test_video_meta_from_mp4_headers(spark):
    """with_video_meta extracts brand/timescale/duration/tracks from
    ISO-BMFF headers via the bounded JVM box walk — mvhd v0 and v1,
    moov before AND after a big mdat; garbage/truncated bytes and
    non-BMFF containers yield NULL fields, never an error."""
    from trainingdata_spark.multimodal import with_video_meta

    rows = [
        (1, bytearray(_mp4(0, 600, 1800, 2))),           # 3000 ms, 2 tracks
        (2, bytearray(_mp4(1, 90000, 90000 * 7, 1))),    # v1, 7000 ms
        (3, bytearray(_mp4(0, 1000, 2500, 3, moov_first=False))),  # faststart off
        (4, bytearray(b"\x1aE\xdf\xa3" + b"\x00" * 40)),  # webm magic
        (5, bytearray(b"not a video at all")),
        (6, bytearray(_mp4(0, 600, 1800, 1)[:20])),       # truncated mid-ftyp
        (7, None),
        # truncated INSIDE the mvhd payload: declared box extends past
        # EOF — must yield NULLs, never a partial-byte garbage integer
        (8, bytearray(_mp4(0, 600, 1800, 1)[:24 + 8 + 12])),
    ]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    got = {r["media_id"]: r for r in with_video_meta(df).collect()}

    assert got[1]["video_format"] == "mp4" and got[1]["video_brand"] == "isom"
    assert got[1]["video_timescale"] == 600
    assert got[1]["video_duration_ms"] == 3000
    assert got[1]["video_tracks"] == 2
    assert got[2]["video_duration_ms"] == 7000 and got[2]["video_tracks"] == 1
    assert got[3]["video_duration_ms"] == 2500 and got[3]["video_tracks"] == 3
    assert got[4]["video_format"] == "webm" and got[4]["video_duration_ms"] is None
    assert got[5]["video_format"] == "unknown"
    for k in (5, 6, 7, 8):
        assert got[k]["video_duration_ms"] is None
        assert got[k]["video_tracks"] is None
    assert got[8]["video_timescale"] is None  # not a partial-byte read


def test_video_meta_is_python_free(spark):
    """The box walk must stay a pure JVM projection — no BatchEvalPython /
    ArrowEvalPython, no Exchange (the with_image_dims plan contract)."""
    from trainingdata_spark.multimodal import with_video_meta

    df = spark.createDataFrame(
        [(1, bytearray(_mp4(0, 600, 600, 1)))], "media_id long, content binary"
    )
    plan = with_video_meta(df)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan
    assert "Exchange" not in plan


def test_video_meta_feeds_frame_sampling(spark):
    from trainingdata_spark.multimodal import sample_frames, with_video_meta

    df = spark.createDataFrame(
        [(1, bytearray(_mp4(0, 1000, 10_000, 1)))], "media_id long, content binary"
    )
    meta = with_video_meta(df)
    # sample one frame per second of header-derived duration
    frames = sample_frames(
        meta.select(
            "media_id",
            (F.col("video_duration_ms") / 1000).cast("int").alias("n_frames"),
        ),
        every_n=1,
    )
    assert frames.count() == 10
