from __future__ import annotations

import hashlib

import pytest

from aws_cdk_pipelines_datalake_etl_spark.operators.multimodal import (
    attach_binary_column,
    decode_image_batch,
)


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(
        [(1, "abc"), (2, "defgh")], ["doc_id", "payload"]
    )


def test_attach_binary_column_metadata(spark, docs):
    out = attach_binary_column(docs, "payload", "image/png").collect()
    by_id = {r.doc_id: r for r in out}
    assert bytes(by_id[1].blob) == b"abc"
    assert by_id[1].blob_meta.media_type == "image/png"
    assert by_id[1].blob_meta.byte_len == 3
    assert by_id[1].blob_meta.sha == hashlib.sha256(b"abc").hexdigest()
    assert by_id[2].blob_meta.byte_len == 5


def test_decode_with_fake_decoder(spark, docs):
    def fake(payload: bytes) -> dict:
        return {
            "width": len(payload),
            "height": 2,
            "n_channels": 3,
            "mean_luma": str(sum(payload) % 256),
        }

    wrapped = attach_binary_column(docs, "payload", "image/png")
    feats = {r.doc_id: r for r in decode_image_batch(wrapped, decoder=fake).collect()}
    assert feats[1].width == 3
    assert feats[2].width == 5
    assert feats[1].n_channels == 3


def test_resize_binary_roundtrip(spark, docs):
    """Binary in → binary out through Arrow, with the target dims
    stamped alongside."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.multimodal import (
        resize_image_batch,
    )

    def fake_resize(payload: bytes, w: int, h: int) -> bytes:
        return payload[: w * h]  # deterministic truncation stand-in

    wrapped = attach_binary_column(docs, "payload", "image/png")
    out = {
        r.doc_id: r
        for r in resize_image_batch(wrapped, 2, 2, resizer=fake_resize).collect()
    }
    assert bytes(out[1].blob) == b"abc"[:4]
    assert bytes(out[2].blob) == b"defgh"[:4]
    assert out[1].width == 2 and out[1].height == 2


def test_frame_sample_fans_out(spark, docs):
    """One input row yields a row per sampled frame (1→N inside the
    Arrow batch, no shuffle)."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.multimodal import (
        sample_video_frames,
    )

    def fake_sampler(payload: bytes, every_nth: int) -> list[bytes]:
        return [payload[i : i + 1] for i in range(0, len(payload), every_nth)]

    wrapped = attach_binary_column(docs, "payload", "video/mp4")
    rows = sample_video_frames(wrapped, every_nth=2, sampler=fake_sampler).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append((r.frame_idx, bytes(r.frame)))
    assert sorted(by_doc[1]) == [(0, b"a"), (1, b"c")]
    assert sorted(by_doc[2]) == [(0, b"d"), (1, b"f"), (2, b"h")]


def test_resize_and_sampler_stubs_raise(spark, docs):
    from aws_cdk_pipelines_datalake_etl_spark.operators.multimodal import (
        resize_image_batch,
        sample_video_frames,
    )

    wrapped = attach_binary_column(docs, "payload", "image/png")
    for op in (
        lambda: resize_image_batch(wrapped, 2, 2).collect(),
        lambda: sample_video_frames(wrapped).collect(),
    ):
        with pytest.raises(Exception) as ei:
            op()
        assert "NotImplementedError" in str(ei.value) or isinstance(
            ei.value, NotImplementedError
        )


def test_default_decoder_is_stubbed(spark, docs):
    wrapped = attach_binary_column(docs, "payload", "image/png")
    with pytest.raises(Exception) as ei:
        decode_image_batch(wrapped).collect()
    assert "NotImplementedError" in str(ei.value) or isinstance(
        ei.value, NotImplementedError
    )


def test_blob_to_embedding_to_search_pipeline(spark):
    """The full multimodal bridge: binary payloads -> deterministic
    fake embeddings (mapInPandas) -> brute-force cosine search finds
    each blob's own embedding as its nearest neighbor."""
    import hashlib

    from aws_cdk_pipelines_datalake_etl_spark.operators.multimodal import (
        extract_embedding_batch,
    )
    from aws_cdk_pipelines_datalake_etl_spark.operators.similarity import (
        brute_force_topk,
    )

    def fake_extractor(payload: bytes) -> list:
        # deterministic 8-dim vector from the payload hash
        h = hashlib.md5(payload).digest()
        return [float(b) / 255.0 for b in h[:8]]

    blobs = spark.createDataFrame(
        [(i, f"media-{i}".encode()) for i in range(20)], ["doc_id", "blob"]
    )
    emb = extract_embedding_batch(blobs, extractor=fake_extractor)
    assert emb.schema["embedding"].dataType.simpleString() == "array<float>"
    # query ids offset: brute_force_topk excludes self-id matches,
    # and we want each query to find its own blob's embedding
    queries = emb.filter("doc_id < 3").select(
        (emb.doc_id + 1000).alias("vec_id"), "embedding"
    )
    corpus = emb.select(emb.doc_id.alias("vec_id"), "embedding")
    top = brute_force_topk(corpus, queries, k=1).collect()
    assert {(r.query_id, r.neighbor_id) for r in top} == {
        (1000, 0), (1001, 1), (1002, 2)
    }
    assert all(r.cosine == 1.0 for r in top)


def test_extract_embedding_default_raises(spark):
    from aws_cdk_pipelines_datalake_etl_spark.operators.multimodal import (
        extract_embedding_batch,
    )

    blobs = spark.createDataFrame([(1, b"x")], ["doc_id", "blob"])
    try:
        extract_embedding_batch(blobs).collect()
        raise AssertionError("expected NotImplementedError via Spark task")
    except Exception as exc:  # Py4J wraps the worker exception
        assert "NotImplementedError" in str(exc) or "no feature extractor" in str(exc)


def _ppm_p6(w, h, rgb_rows):
    return b"P6\n%d %d\n255\n" % (w, h) + bytes(
        v for row in rgb_rows for px in row for v in px
    )


def _bmp24(w, h, rgb_rows, top_down=False):
    """Minimal BI_RGB 24-bpp BMP; rgb_rows is row-major top-to-bottom."""
    stride = (w * 3 + 3) & ~3
    rows = rgb_rows if top_down else rgb_rows[::-1]
    raster = b"".join(
        b"".join(bytes((b_, g, r)) for (r, g, b_) in row) + b"\x00" * (stride - w * 3)
        for row in rows
    )
    dib = (
        (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + (-h if top_down else h).to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")
        + len(raster).to_bytes(4, "little")
        + b"\x00" * 16
    )
    off = 14 + len(dib)
    hdr = b"BM" + (off + len(raster)).to_bytes(4, "little") + b"\x00\x00\x00\x00" + off.to_bytes(4, "little")
    return hdr + dib + raster


_RGB_3x2 = [
    [(255, 0, 0), (0, 255, 0), (0, 0, 255)],
    [(10, 20, 30), (40, 50, 60), (70, 80, 90)],
]


def test_real_codec_decodes_ppm_and_bmp(spark):
    """The de-stubbed default path: real PPM and BMP bytes through
    decode_image_batch with NO injected decoder."""
    ppm = _ppm_p6(3, 2, _RGB_3x2)
    bmp = _bmp24(3, 2, _RGB_3x2)
    bmp_td = _bmp24(3, 2, _RGB_3x2, top_down=True)
    pgm = b"P5\n2 2\n255\n" + bytes([0, 100, 200, 255])
    df = spark.createDataFrame(
        [(1, ppm), (2, bmp), (3, bmp_td), (4, pgm)], ["doc_id", "blob"]
    )
    feats = {r.doc_id: r for r in decode_image_batch(df).collect()}
    assert (feats[1].width, feats[1].height, feats[1].n_channels) == (3, 2, 3)
    # identical pixels => identical luma regardless of container/layout
    assert feats[1].mean_luma == feats[2].mean_luma == feats[3].mean_luma
    assert (feats[4].width, feats[4].height, feats[4].n_channels) == (2, 2, 1)
    assert feats[4].mean_luma == f"{(0 + 100 + 200 + 255) / 4:.4f}"
    # BT.601 luma check on the first pixel row sums
    total = sum(299 * r + 587 * g + 114 * b for row in _RGB_3x2 for (r, g, b) in row)
    assert feats[1].mean_luma == f"{total / (1000 * 6):.4f}"


def test_real_codec_resize_roundtrip(spark):
    """Default resizer: BMP in -> PPM out, nearest-neighbor, then the
    decoder reads back the new dims (full real-bytes round trip)."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.multimodal import (
        resize_image_batch,
    )

    bmp = _bmp24(3, 2, _RGB_3x2)
    df = spark.createDataFrame([(1, bmp)], ["doc_id", "blob"])
    out = resize_image_batch(df, 6, 4).collect()[0]
    assert (out.width, out.height) == (6, 4)
    feats = decode_image_batch(
        spark.createDataFrame([(1, bytes(out.blob))], ["doc_id", "blob"])
    ).collect()[0]
    assert (feats.width, feats.height, feats.n_channels) == (6, 4, 3)
    # 2x nearest-neighbor upscale preserves the mean exactly
    src = decode_image_batch(df).collect()[0]
    assert feats.mean_luma == src.mean_luma


def test_codec_unit_roundtrip_no_spark():
    import numpy as np

    from aws_cdk_pipelines_datalake_etl_spark.functions.imagecodec import (
        decode_bmp,
        decode_ppm,
        resize_image,
    )

    ppm = _ppm_p6(3, 2, _RGB_3x2)
    w, h, c, px = decode_ppm(ppm)
    assert (w, h, c) == (3, 2, 3)
    assert px[0, 0].tolist() == [255, 0, 0] and px[1, 2].tolist() == [70, 80, 90]
    for td in (False, True):
        wb, hb, cb, pb = decode_bmp(_bmp24(3, 2, _RGB_3x2, top_down=td))
        assert (wb, hb, cb) == (3, 2, 3)
        assert np.array_equal(pb, px), f"top_down={td}"
    # downscale to 1x1 picks the nearest source pixel (top-left here)
    tiny = resize_image(ppm, 1, 1)
    _, _, _, tp = decode_ppm(tiny)
    assert tp[0, 0].tolist() == [255, 0, 0]


# ---------------------------------------------------------------------------
# Audio: real WAV codec path (functions/audiocodec.py)
# ---------------------------------------------------------------------------


def test_wav_roundtrip_and_features():
    import numpy as np

    from aws_cdk_pipelines_datalake_etl_spark.functions.audiocodec import (
        audio_features,
        decode_wav,
        encode_wav,
    )

    rng = np.random.default_rng(7)
    samples = rng.integers(-3000, 3000, size=(480, 2)).astype(np.int16)
    payload = encode_wav(samples, 16000)
    d = decode_wav(payload)
    assert d["sample_rate"] == 16000
    assert d["n_channels"] == 2
    assert d["bits_per_sample"] == 16
    assert (d["samples"] == samples).all()

    f = audio_features(payload)
    ch0 = samples[:, 0].astype(np.int64)
    assert f["n_frames"] == 480
    assert f["duration_ms"] == 480 * 1000 // 16000
    assert f["peak"] == int(np.abs(ch0).max())
    assert abs(f["rms"] - float(np.sqrt((ch0.astype(float) ** 2).mean()))) < 1e-9


def test_wav_chunk_walk_skips_unknown_chunks():
    """fmt/data found even with a LIST chunk in between (real WAV
    writers emit those); odd-size chunks are word-aligned."""
    import numpy as np

    from aws_cdk_pipelines_datalake_etl_spark.functions.audiocodec import (
        decode_wav,
        encode_wav,
    )

    base = encode_wav(np.array([[100], [-100], [50]], dtype=np.int16), 8000)
    # splice an odd-sized junk chunk between WAVE header and fmt
    junk = b"LIST" + (3).to_bytes(4, "little") + b"abc" + b"\x00"
    spliced = base[:12] + junk + base[12:]
    spliced = spliced[:4] + (len(spliced) - 8).to_bytes(4, "little") + spliced[8:]
    d = decode_wav(spliced)
    assert d["samples"].tolist() == [[100], [-100], [50]]


def test_wav_zero_crossings_carry_through_zero():
    """+A, 0, -A is ONE crossing (zero keeps the previous sign), and
    8-bit PCM is recentred from unsigned."""
    import numpy as np

    from aws_cdk_pipelines_datalake_etl_spark.functions.audiocodec import (
        audio_features,
        encode_wav,
    )

    payload = encode_wav(
        np.array([[500], [0], [-500], [-200], [300]], dtype=np.int16), 8000
    )
    assert audio_features(payload)["zero_crossings"] == 2


def test_decode_audio_batch_default_codec(spark):
    """End-to-end through mapInPandas with the REAL default decoder."""
    import numpy as np

    from aws_cdk_pipelines_datalake_etl_spark.functions.audiocodec import (
        encode_wav,
    )
    from aws_cdk_pipelines_datalake_etl_spark.operators.multimodal import (
        decode_audio_batch,
    )

    rows = []
    for i in (1, 2, 3):
        wave = np.full((100 * i, 1), 1000 * i, dtype=np.int16)
        rows.append((i, bytearray(encode_wav(wave, 8000))))
    df = spark.createDataFrame(rows, ["doc_id", "blob"])
    feats = {r.doc_id: r for r in decode_audio_batch(df).collect()}
    assert feats[2].n_frames == 200
    assert feats[3].peak == 3000
    assert feats[1].duration_ms == 100 * 1000 // 8000
    assert feats[1].zero_crossings == 0


def test_audio_unrecognized_format_raises():
    import pytest as _pytest

    from aws_cdk_pipelines_datalake_etl_spark.functions.audiocodec import (
        audio_features,
    )

    with _pytest.raises(NotImplementedError):
        audio_features(b"ID3\x03not-a-wav")


# ---------------------------------------------------------------------------
# Video: concatenated-PNM stream splitting (functions/imagecodec.py)
# ---------------------------------------------------------------------------


def test_split_ppm_stream_boundaries():
    import numpy as np

    from aws_cdk_pipelines_datalake_etl_spark.functions.imagecodec import (
        decode_ppm,
        encode_ppm,
        split_ppm_stream,
    )

    frames = [
        encode_ppm(np.full((2, 3, 3), 10 * i, dtype=np.uint8)) for i in range(5)
    ]
    parts = split_ppm_stream(b"".join(frames))
    assert parts == frames
    w, h, c, px = decode_ppm(parts[4])
    assert (w, h, c) == (3, 2, 3)
    assert int(px[0, 0, 0]) == 40


def test_sample_video_frames_default_sampler(spark):
    """Every-2nd sampling through the 1→N mapInPandas fan-out with the
    REAL default splitter."""
    import numpy as np

    from aws_cdk_pipelines_datalake_etl_spark.functions.imagecodec import (
        encode_ppm,
    )
    from aws_cdk_pipelines_datalake_etl_spark.operators.multimodal import (
        sample_video_frames,
    )

    def vid(n):
        return bytearray(
            b"".join(
                encode_ppm(np.full((2, 2, 3), i, dtype=np.uint8)) for i in range(n)
            )
        )

    df = spark.createDataFrame([(1, vid(5)), (2, vid(2))], ["doc_id", "blob"])
    out = sample_video_frames(df, every_nth=2).collect()
    got = {(r.doc_id, r.frame_idx) for r in out}
    assert got == {(1, 0), (1, 1), (1, 2), (2, 0)}  # frames 0,2,4 and 0
    first = next(r for r in out if r.doc_id == 1 and r.frame_idx == 2)
    assert bytes(first.frame).endswith(bytes([4]) * 12)  # original frame 4


def test_split_ppm_stream_rejects_real_containers():
    import pytest as _pytest

    from aws_cdk_pipelines_datalake_etl_spark.functions.imagecodec import (
        split_ppm_stream,
    )

    with _pytest.raises(NotImplementedError):
        split_ppm_stream(b"\x00\x00\x00 ftypisom-not-pnm")


# ---------------------------------------------------------------------------
# Embedding: real default extractor (byte histogram)
# ---------------------------------------------------------------------------


def test_extract_embedding_default_histogram(spark):
    from aws_cdk_pipelines_datalake_etl_spark.operators.multimodal import (
        extract_embedding_batch,
    )

    df = spark.createDataFrame(
        [(1, bytearray(b"aab")), (2, bytearray(b"\x00\xff"))], ["doc_id", "blob"]
    )
    out = {r.doc_id: r.embedding for r in extract_embedding_batch(df).collect()}
    assert len(out[1]) == 256
    assert out[1][ord("a")] == 2.0 and out[1][ord("b")] == 1.0
    assert sum(out[1]) == 3.0
    assert out[2][0] == 1.0 and out[2][255] == 1.0


# ---------------------------------------------------------------------------
# PNG: stdlib-zlib decode (chunk walk + CRC + inflate + unfilter)
# ---------------------------------------------------------------------------


def test_png_roundtrip_every_filter_type():
    import numpy as np

    from aws_cdk_pipelines_datalake_etl_spark.functions import imagecodec as ic

    rng = np.random.RandomState(11)
    for c in (1, 3):
        px = rng.randint(0, 256, (7, 5, c)).astype(np.uint8)
        for f in range(5):  # each filter type alone...
            b = ic.encode_png(px, filters=[f] * 7)
            w, h, cc, out = ic.decode_png(b)
            assert (w, h, cc) == (5, 7, c) and (out == px).all(), (c, f)
        # ...and mixed per-row (the default: y % 5)
        w, h, cc, out = ic.decode_png(ic.encode_png(px))
        assert (out == px).all()
        assert ic.sniff_format(ic.encode_png(px)) == "png"


def test_png_color_type_variants_decode():
    """RGBA drops alpha, gray+alpha drops alpha, palette expands to
    RGB — hand-built PNGs through the raw chunk writer."""
    import struct
    import zlib as _z

    import numpy as np

    from aws_cdk_pipelines_datalake_etl_spark.functions import imagecodec as ic

    def build(ctype, ch, w, h, raster, extra=b""):
        ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
        rows = b"".join(
            b"\x00" + raster[y * w * ch : (y + 1) * w * ch] for y in range(h)
        )
        return (
            ic._MAGIC_PNG
            + ic._png_chunk(b"IHDR", ihdr)
            + extra
            + ic._png_chunk(b"IDAT", _z.compress(rows))
            + ic._png_chunk(b"IEND", b"")
        )

    # RGBA 2x1: pixels (10,20,30,255), (40,50,60,0) -> alpha dropped
    w, h, c, px = ic.decode_png(
        build(6, 4, 2, 1, bytes([10, 20, 30, 255, 40, 50, 60, 0]))
    )
    assert (w, h, c) == (2, 1, 3)
    assert px.tolist() == [[[10, 20, 30], [40, 50, 60]]]
    # gray+alpha 2x1
    w, h, c, px = ic.decode_png(build(4, 2, 2, 1, bytes([7, 255, 9, 0])))
    assert (w, h, c) == (2, 1, 1) and px.reshape(-1).tolist() == [7, 9]
    # palette 2x1: indices 1, 0 over a 2-entry PLTE
    plte = ic._png_chunk(b"PLTE", bytes([255, 0, 0, 0, 255, 0]))
    w, h, c, px = ic.decode_png(build(3, 1, 2, 1, bytes([1, 0]), extra=plte))
    assert (w, h, c) == (2, 1, 3)
    assert px.tolist() == [[[0, 255, 0], [255, 0, 0]]]


def test_png_rejects_corruption_and_unsupported():
    import numpy as np
    import pytest as _pytest

    from aws_cdk_pipelines_datalake_etl_spark.functions import imagecodec as ic

    px = np.full((4, 4, 3), 9, dtype=np.uint8)
    good = ic.encode_png(px)
    # flip a raster byte: CRC must catch it
    bad = bytearray(good)
    bad[len(bad) - 20] ^= 0xFF
    with _pytest.raises(ValueError, match="CRC"):
        ic.decode_png(bytes(bad))
    with _pytest.raises(ValueError, match="not a PNG"):
        ic.decode_png(b"nope")


def test_png_through_default_decode_and_resize(spark):
    """decode_image_batch / resize_image_batch handle PNG blobs with
    NO injected codec — the seam is only for JPEG now."""
    import numpy as np

    from aws_cdk_pipelines_datalake_etl_spark.functions import imagecodec as ic
    from aws_cdk_pipelines_datalake_etl_spark.operators.multimodal import (
        decode_image_batch,
        resize_image_batch,
    )

    px = np.zeros((6, 8, 3), dtype=np.uint8)
    px[:, :, :] = np.arange(8, dtype=np.uint8)[None, :, None] * 10
    df = spark.createDataFrame(
        [(1, bytearray(ic.encode_png(px)))], ["doc_id", "blob"]
    )
    feats = decode_image_batch(df).collect()[0]
    assert (feats.width, feats.height, feats.n_channels) == (8, 6, 3)
    # equal channels -> luma == value; mean of 0,10..70 = 35
    assert feats.mean_luma == "35.0000"
    thumb = resize_image_batch(df, width=4, height=3).collect()[0].blob
    w, h, c, out = ic.decode_ppm(bytes(thumb))
    assert (w, h, c) == (4, 3, 3)
    # nearest-neighbor x map: src = (t*8)//4 -> columns 0,2,4,6
    assert out[0, :, 0].tolist() == [0, 20, 40, 60]


def test_encode_png_rejects_unsupported_channels():
    import numpy as np
    import pytest as _pytest

    from aws_cdk_pipelines_datalake_etl_spark.functions import imagecodec as ic

    with _pytest.raises(ValueError, match="channel"):
        ic.encode_png(np.zeros((2, 2, 4), dtype=np.uint8))


# ---------------------------------------------------------------------------
# JPEG: pure-stdlib baseline codec (functions/jpegcodec.py, round 6)
# ---------------------------------------------------------------------------


def test_jpeg_fixed_point_exact():
    """Per-block-constant images with even offsets are mathematical
    fixed points of the codec (DC = 8*(v-128) divides the Annex-K DC
    step 16): encode -> decode reproduces every pixel EXACTLY, for
    gray-RGB and single-channel alike — through the real entropy
    coder (nonzero DC diffs, EOBs, stuffing)."""
    import numpy as np

    from aws_cdk_pipelines_datalake_etl_spark.functions.jpegcodec import (
        decode_jpeg,
        encode_jpeg,
    )

    rng = np.random.RandomState(0)
    for _ in range(4):
        bw, bh = rng.randint(1, 4), rng.randint(1, 4)
        vals = 128 + 2 * rng.randint(-24, 24, size=(bh, bw))
        img = np.kron(vals, np.ones((8, 8), dtype=np.int64)).astype(np.uint8)
        rgb = np.repeat(img[:, :, None], 3, axis=2)
        w, h, c, out = decode_jpeg(encode_jpeg(rgb))
        assert (w, h, c) == (bw * 8, bh * 8, 3)
        assert np.array_equal(out, rgb)
    w, h, c, out = decode_jpeg(encode_jpeg(img[:, :, None]))
    assert c == 1 and np.array_equal(out, img)


def test_jpeg_lossy_roundtrip_bounded():
    """Real lossy behavior: smooth ramps survive within a few counts,
    color ramps within ~2x that (chroma quantizes coarser), and
    non-multiple-of-8 dims round-trip at the declared size (edge
    padding never leaks into the output)."""
    import numpy as np

    from aws_cdk_pipelines_datalake_etl_spark.functions.jpegcodec import (
        decode_jpeg,
        encode_jpeg,
    )

    x, y = np.arange(32), np.arange(24)
    gray = (40 + x[None, :] * 3 + y[:, None] * 4).astype(np.uint8)
    rgb = np.stack([gray] * 3, axis=2)
    _, _, _, out = decode_jpeg(encode_jpeg(rgb))
    assert np.abs(out.astype(int) - rgb.astype(int)).max() <= 5

    r = (30 + x[None, :] * 2 + y[:, None] * 3).astype(np.uint8)
    g = (60 + x[None, :] * 1 + y[:, None] * 2).astype(np.uint8)
    b = (90 + x[None, :] * 3 + y[:, None] * 1).astype(np.uint8)
    color = np.stack([r, g, b], axis=2)
    _, _, _, out = decode_jpeg(encode_jpeg(color))
    assert np.abs(out.astype(int) - color.astype(int)).max() <= 12

    odd = np.random.RandomState(1).randint(0, 256, (17, 29, 3)).astype(np.uint8)
    w, h, c, out = decode_jpeg(encode_jpeg(odd))
    assert (w, h, c) == (29, 17, 3) and out.shape == (17, 29, 3)


def test_jpeg_handbuilt_spec_vector():
    """Decoder vs the SPEC, not vs our encoder: a minimal one-block
    grayscale stream hand-assembled from ITU-T T.81 — Annex-K DC code
    for size 2 is '011', appended bits '10' EXTEND to +2, Annex-K AC
    EOB is '1010' (4 bits: lengths 2,2,3 go to 0x01,0x02,0x03; EOB is
    the first length-4 code), so the entropy bytes 0b01110101,
    0b01111111 (9 code bits + 1-bit padding) mean quantized DC 2 ->
    dequantized 32 -> IDCT constant 32/8 -> every pixel 132.  Any
    error in table construction, marker parsing, EXTEND, or the IDCT
    normalization breaks this."""
    import struct

    import numpy as np

    from aws_cdk_pipelines_datalake_etl_spark.functions.jpegcodec import (
        AC_LUMA_BITS,
        AC_LUMA_VALS,
        DC_LUMA_BITS,
        DC_LUMA_VALS,
        STD_LUMA_QT,
        ZIGZAG,
        decode_jpeg,
    )

    def seg(marker, payload):
        return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload

    stream = b"\xff\xd8"
    stream += seg(0xDB, bytes([0]) + bytes(int(STD_LUMA_QT[z]) for z in ZIGZAG))
    stream += seg(0xC0, struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0]))
    stream += seg(0xC4, bytes([0x00]) + bytes(DC_LUMA_BITS) + bytes(DC_LUMA_VALS))
    stream += seg(0xC4, bytes([0x10]) + bytes(AC_LUMA_BITS) + bytes(AC_LUMA_VALS))
    stream += seg(0xDA, bytes([1, 1, 0x00]) + b"\x00\x3f\x00")
    stream += bytes([0b01110101, 0b01111111])  # DC '011'+'10', EOB '1010', pad
    stream += b"\xff\xd9"
    w, h, c, px = decode_jpeg(stream)
    assert (w, h, c) == (8, 8, 1)
    assert np.array_equal(px, np.full((8, 8), 132, dtype=np.uint8))


def test_jpeg_rejects_unsupported():
    """The honest gates: lossless/hierarchical SOF types, subsampled,
    restart-interval, and 16-bit-DQT streams raise
    NotImplementedError naming the feature (same policy as the PNG
    Adam7 gate).  SOF2 progressive is REAL as of round 7 and is
    tested positively below."""
    import struct

    import numpy as np
    import pytest as _pytest

    from aws_cdk_pipelines_datalake_etl_spark.functions.jpegcodec import (
        decode_jpeg,
        encode_jpeg,
    )

    good = bytearray(encode_jpeg(np.full((8, 8, 1), 128, dtype=np.uint8)))

    sof3 = bytearray(good)
    i = sof3.find(b"\xff\xc0")
    sof3[i + 1] = 0xC3  # lossless sequential
    with _pytest.raises(NotImplementedError, match="SOF3"):
        decode_jpeg(bytes(sof3))

    sub = bytearray(good)
    i = sub.find(b"\xff\xc0")
    sub[i + 11] = 0x22  # sampling factors of the first component
    with _pytest.raises(NotImplementedError, match="4:4:4"):
        decode_jpeg(bytes(sub))

    dri = bytearray(good)
    i = dri.find(b"\xff\xda")
    dri[i:i] = struct.pack(">BBH", 0xFF, 0xDD, 4) + b"\x00\x08"
    with _pytest.raises(NotImplementedError, match="restart"):
        decode_jpeg(bytes(dri))

    with _pytest.raises(ValueError, match="JPEG"):
        decode_jpeg(b"\x89PNG\r\n\x1a\n")


def test_jpeg_through_default_decode(spark):
    """decode_image_batch's DEFAULT codec now takes real JPEG bytes:
    a per-block-constant gray image (the exact-fixed-point device)
    flows through sniff -> decode_jpeg -> BT.601 luma with an exactly
    predictable mean."""
    import numpy as np

    from aws_cdk_pipelines_datalake_etl_spark.functions.jpegcodec import (
        encode_jpeg,
    )
    from aws_cdk_pipelines_datalake_etl_spark.operators.multimodal import (
        decode_image_batch,
    )

    vals = np.array([[130, 150], [170, 110]])  # even offsets
    img = np.kron(vals, np.ones((8, 8), dtype=np.int64)).astype(np.uint8)
    rgb = np.repeat(img[:, :, None], 3, axis=2)
    df = spark.createDataFrame(
        [(1, bytearray(encode_jpeg(rgb)))], ["doc_id", "blob"]
    )
    feats = decode_image_batch(df).collect()[0]
    assert (feats.width, feats.height, feats.n_channels) == (16, 16, 3)
    assert feats.mean_luma == "140.0000"  # (130+150+170+110)/4


def test_jpeg_progressive_decodes_identically_to_baseline():
    """SOF2 progressive re-orders the SAME quantized coefficients, so
    decoding the progressive stream must be bit-identical to decoding
    the baseline stream of the same image — across gray/RGB, non-8-
    multiple sizes, and content that exercises multi-block EOB runs,
    ZRLs inside refinement scans, and both approximation levels of
    the default scan script."""
    import numpy as np

    from aws_cdk_pipelines_datalake_etl_spark.functions.jpegcodec import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    rng = np.random.RandomState(7)
    images = [
        rng.randint(0, 256, (16, 16, 3)).astype(np.uint8),  # noisy RGB
        rng.randint(0, 256, (9, 13, 1)).astype(np.uint8),  # odd gray
        np.tile(  # smooth gradient: long EOB runs across blocks
            np.linspace(0, 255, 48, dtype=np.uint8)[None, :, None], (48, 1, 3)
        ),
        np.full((24, 24, 1), 77, dtype=np.uint8),  # flat: all-EOB scans
    ]
    for img in images:
        base = decode_jpeg(encode_jpeg(img))
        prog_bytes = encode_jpeg_progressive(img)
        assert prog_bytes[:4] == b"\xff\xd8\xff\xe0"
        assert b"\xff\xc2" in prog_bytes  # SOF2 frame
        assert prog_bytes.count(b"\xff\xda") >= 6  # multiple scans
        prog = decode_jpeg(prog_bytes)
        assert base[:3] == prog[:3]
        assert np.array_equal(base[3], prog[3])


def test_jpeg_progressive_custom_scan_script_and_validation():
    import numpy as np
    import pytest as _pytest

    from aws_cdk_pipelines_datalake_etl_spark.functions.jpegcodec import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    img = np.random.RandomState(3).randint(0, 256, (16, 16, 1)).astype(
        np.uint8
    )
    # spectral-selection-only script (no successive approximation)
    scans = [((0,), 0, 0, 0, 0), ((0,), 1, 9, 0, 0), ((0,), 10, 63, 0, 0)]
    prog = decode_jpeg(encode_jpeg_progressive(img, scans=scans))
    base = decode_jpeg(encode_jpeg(img))
    assert np.array_equal(prog[3], base[3])

    with _pytest.raises(ValueError, match="one component"):
        encode_jpeg_progressive(
            np.zeros((8, 8, 3), dtype=np.uint8),
            scans=[((0, 1), 1, 5, 0, 0)],
        )
    with _pytest.raises(ValueError, match="Ss=Se=0"):
        encode_jpeg_progressive(img, scans=[((0,), 0, 5, 0, 0)])
    with _pytest.raises(ValueError, match="bad scan"):
        encode_jpeg_progressive(img, scans=[((0,), 9, 5, 0, 0)])


def test_jpeg_progressive_through_default_decode(spark):
    """The Spark-side decode path (sniff -> decode_jpeg) takes
    progressive bytes with no codec hint — the same exact-fixed-point
    device as the baseline entry."""
    import numpy as np

    from aws_cdk_pipelines_datalake_etl_spark.functions.jpegcodec import (
        encode_jpeg_progressive,
    )
    from aws_cdk_pipelines_datalake_etl_spark.operators.multimodal import (
        decode_image_batch,
    )

    vals = np.array([[130, 150], [170, 110]])
    img = np.kron(vals, np.ones((8, 8), dtype=np.int64)).astype(np.uint8)
    rgb = np.repeat(img[:, :, None], 3, axis=2)
    df = spark.createDataFrame(
        [(1, bytearray(encode_jpeg_progressive(rgb)))], ["doc_id", "blob"]
    )
    feats = decode_image_batch(df).collect()[0]
    assert (feats.width, feats.height, feats.n_channels) == (16, 16, 3)
    assert feats.mean_luma == "140.0000"


def test_png_adam7_interlace_roundtrip():
    """Adam7 de-stub (round 7): the interlaced stream is seven
    independently-filtered sub-images; decode must reproduce the
    pixels exactly, including shapes where some passes are empty
    (any dimension < 8)."""
    import numpy as np

    from aws_cdk_pipelines_datalake_etl_spark.functions.imagecodec import (
        decode_png,
        encode_png,
    )

    rng = np.random.RandomState(5)
    for (h, w, c) in [(16, 16, 3), (1, 1, 1), (7, 5, 3), (2, 3, 1),
                      (9, 1, 3), (1, 9, 1), (33, 47, 3)]:
        img = rng.randint(0, 256, (h, w, c)).astype(np.uint8)
        blob = encode_png(img, interlace=True)
        # IHDR interlace byte really set (offset: 8 magic + 8 len/typ
        # + 12 into IHDR data)
        assert blob[8 + 8 + 12] == 1
        got = decode_png(blob)
        assert got[:2] == (w, h)
        assert np.array_equal(got[3].reshape(h, w, c), img)
        plain = decode_png(encode_png(img))
        assert np.array_equal(got[3], plain[3])


def test_adpcm_roundtrip_and_tracking():
    """IMA ADPCM de-stub (round 7): constant signals reconstruct
    EXACTLY (the step(0)>>3 == 0 device the registry oracle relies
    on); a hand-computed spec vector pins the quantizer; block headers
    carry the first sample verbatim; general signals track within the
    step-size error bound."""
    import numpy as np
    import pytest as _pytest

    from aws_cdk_pipelines_datalake_etl_spark.functions.audiocodec import (
        _ima_step,
        decode_wav,
        encode_adpcm_wav,
    )

    for amp in (0, 1000, -5000, 32767, -32768):
        s = np.full(1200, amp, dtype=np.int16)
        d = decode_wav(encode_adpcm_wav(s, 8000))
        assert d["bits_per_sample"] == 4 and d["n_channels"] == 1
        assert np.array_equal(d["samples"][:, 0], s)

    # spec vector: pred=0, index=0, step=7, target +10:
    # 10 >= 7 -> bit2, 3 >= 3 -> bit1, 0 >= 1 no -> nibble 6;
    # dequant 0 + 7 + 3 = 10 exactly; index 0 + 6 = 6 (step 13);
    # next target 10: diff 0 -> nibble 0 -> dequant 13 >> 3 = 1 -> 11.
    assert _ima_step(0, 0, 6) == (10, 6)
    s = np.array([0, 10, 10], dtype=np.int16)
    got = decode_wav(encode_adpcm_wav(s, 8000, samples_per_block=5))
    assert list(got["samples"][:, 0]) == [0, 10, 11]

    sine = (np.sin(np.arange(2000) * 0.05) * 12000).astype(np.int16)
    d = decode_wav(encode_adpcm_wav(sine, 8000, samples_per_block=101))
    for b in range(0, 2000, 101):  # every block restarts verbatim
        assert d["samples"][b, 0] == sine[b]
    err = np.abs(d["samples"][:, 0].astype(int) - sine.astype(int))
    assert err.mean() < 64  # 4-bit codec tracks a smooth signal

    with _pytest.raises(NotImplementedError, match="mono"):
        encode_adpcm_wav(np.zeros((8, 2), dtype=np.int16), 8000)
    with _pytest.raises(ValueError, match="odd"):
        encode_adpcm_wav(np.zeros(8, dtype=np.int16), 8000, samples_per_block=4)


def test_adpcm_through_default_audio_decode(spark):
    """The Spark-side decode path (decode_audio_batch's default
    codec) dispatches on the 0x0011 format tag with no hint."""
    import numpy as np

    from aws_cdk_pipelines_datalake_etl_spark.functions.audiocodec import (
        encode_adpcm_wav,
    )
    from aws_cdk_pipelines_datalake_etl_spark.operators.multimodal import (
        decode_audio_batch,
    )

    blob = encode_adpcm_wav(np.full(800, 1234, dtype=np.int16), 8000)
    df = spark.createDataFrame([(1, bytearray(blob))], ["doc_id", "blob"])
    f = decode_audio_batch(df).collect()[0]
    assert (f.sample_rate, f.n_channels, f.n_frames) == (8000, 1, 800)
    assert f.peak == 1234 and f.zero_crossings == 0
    assert abs(f.rms - 1234.0) < 1e-9


def test_adpcm_scalar_vectorized_paths_byte_identical():
    """The short-clip scalar paths and the long-recording vectorized
    paths (dispatch at _VECTORIZE_MIN_BLOCKS) must produce identical
    BYTES on encode and identical samples on decode — forced onto the
    same signals by toggling the threshold."""
    import numpy as np

    from aws_cdk_pipelines_datalake_etl_spark.functions import (
        audiocodec as ac,
    )

    sigs = [
        np.full(600, 900, dtype=np.int16),
        (np.sin(np.arange(5000) * 0.03) * 8000).astype(np.int16),
        (np.arange(4500) % 251 - 125).astype(np.int16),
    ]
    orig = ac._VECTORIZE_MIN_BLOCKS
    try:
        for sig in sigs:
            ac._VECTORIZE_MIN_BLOCKS = 10**9  # force scalar
            a = ac.encode_adpcm_wav(sig, 8000)
            da = ac.decode_wav(a)["samples"][:, 0].copy()
            ac._VECTORIZE_MIN_BLOCKS = 0  # force vectorized
            b = ac.encode_adpcm_wav(sig, 8000)
            db = ac.decode_wav(b)["samples"][:, 0].copy()
            assert a == b
            assert np.array_equal(da, db)
    finally:
        ac._VECTORIZE_MIN_BLOCKS = orig


def test_adpcm_truncated_data_raises_in_both_paths():
    """Malformed-input consistency (ADVICE r8): a data section shorter
    than n_frames requires must raise ValueError from BOTH the scalar
    and the vectorized decode — never return uninitialized memory."""
    import numpy as np
    import pytest

    from aws_cdk_pipelines_datalake_etl_spark.functions import (
        audiocodec as ac,
    )

    sig = (np.arange(4000) % 97 - 48).astype(np.int16)
    blob = ac.encode_adpcm_wav(sig, 8000, samples_per_block=101)
    # locate the data chunk and chop half of it off
    i = blob.rfind(b"data")
    n = int.from_bytes(blob[i + 4 : i + 8], "little")
    cut = n // 2
    trunc = (
        blob[: i + 4]
        + (n - cut).to_bytes(4, "little")
        + blob[i + 8 : i + 8 + n - cut]
    )
    orig = ac._VECTORIZE_MIN_BLOCKS
    try:
        for forced in (10**9, 0):  # scalar, then vectorized
            ac._VECTORIZE_MIN_BLOCKS = forced
            with pytest.raises(ValueError, match="truncated ADPCM"):
                ac.decode_wav(trunc)
    finally:
        ac._VECTORIZE_MIN_BLOCKS = orig


def test_builders_leave_arrow_batch_conf_alone(spark):
    """Building a multimodal operator must not change the session: the
    Arrow batch size used to be set as a side effect of each builder
    (and the last one built won for every later Arrow job)."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.multimodal import (
        decode_audio_batch,
        extract_embedding_batch,
        resize_image_batch,
        sample_video_frames,
    )

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    spark.conf.unset(key)
    before = spark.conf.get(key)
    one = attach_binary_column(
        spark.createDataFrame([(1, "abc")], ["doc_id", "payload"]),
        "payload",
        "image/png",
    )
    for build in (
        decode_image_batch,
        lambda d: resize_image_batch(d, 2, 2),
        decode_audio_batch,
        sample_video_frames,
        extract_embedding_batch,
    ):
        build(one)
        assert spark.conf.get(key) == before, build


def test_chunk_walk_keeps_rows_aligned_past_first_chunk(spark):
    """A batch longer than one chunk: every row keeps its own features
    (the later chunks' positional columns align with their doc ids)."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.multimodal import (
        decode_audio_batch,
    )

    def fake(payload: bytes) -> dict:
        n = int(bytes(payload))
        return {"sample_rate": n, "n_channels": 1, "n_frames": n, "duration_ms": n,
                "rms": float(n), "peak": n, "zero_crossings": n}

    df = spark.createDataFrame(
        [(i, str(i)) for i in range(150)], ["doc_id", "payload"]
    ).coalesce(1)
    wrapped = attach_binary_column(df, "payload", "audio/wav")
    out = decode_audio_batch(wrapped, decoder=fake).collect()
    assert len(out) == 150
    assert all(r.sample_rate == r.doc_id and r.rms == float(r.doc_id) for r in out)
