"""Multimodal plumbing: binary columns, metadata, stubbed decode via Arrow."""

import hashlib

import pytest
from pyspark.sql import functions as F

from kusto_pre_forge_spark.operators import multimodal


@pytest.fixture(scope="module")
def blobs(spark, sf_smoke):
    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet").limit(50)
    return multimodal.attach_blob(docs, "text")


def test_blob_meta(blobs):
    out = multimodal.blob_meta(blobs, media_type="image/fake")
    r = out.select("doc_id", "text", "media_meta").collect()[0]
    expect = hashlib.sha256(r.text.encode()).hexdigest()
    assert r.media_meta.content_sha == expect
    assert r.media_meta.n_bytes == len(r.text.encode())
    assert r.media_meta.media_type == "image/fake"


def test_decode_image_features_stub(blobs):
    feats = multimodal.decode_image_features(blobs, fake=True).collect()
    assert len(feats) == 50
    for r in feats:
        assert 16 <= r.width <= 271 and r.channels == 3
        assert len(r.feature) == 8 and all(0 <= x <= 1 for x in r.feature)
    # determinism: rerun produces identical rows
    again = {r.doc_id: (r.width, tuple(r.feature)) for r in
             multimodal.decode_image_features(blobs, fake=True).collect()}
    for r in feats:
        assert again[r.doc_id] == (r.width, tuple(r.feature))


def test_decode_unrecognized_container_raises(blobs):
    # text payloads are not a recognized media container: the real path
    # fails at execution time inside the worker (Spark wraps the
    # NotImplementedError in its PythonException)
    with pytest.raises(Exception, match="unrecognized image container"):
        multimodal.decode_image_features(blobs, fake=False).collect()
    # real frame sampling now raises lazily in the worker for non-AVI
    with pytest.raises(Exception, match="MJPEG-in-AVI"):
        multimodal.sample_frames(blobs, fake=False).collect()


def test_sample_frames_stub(blobs):
    frames = multimodal.sample_frames(blobs, every_n=4, fake=True)
    rows = frames.collect()
    assert all(r.frame_index % 4 == 0 for r in rows)
    n_docs = len({r.doc_id for r in rows})
    assert n_docs == 50


def test_resize_image_stub(blobs):
    out = multimodal.resize_image(blobs, 8, 6, fake=True).collect()
    assert len(out) == 50
    for r in out:
        assert (r.width, r.height) == (8, 6)
        assert len(r.resized) == 8 * 6 * 3
    # deterministic payloads
    again = {r.doc_id: bytes(r.resized) for r in
             multimodal.resize_image(blobs, 8, 6, fake=True).collect()}
    for r in out:
        assert again[r.doc_id] == bytes(r.resized)


def test_decode_audio_features_stub(blobs):
    out = multimodal.decode_audio_features(blobs, fake=True).collect()
    assert len(out) == 50
    for r in out:
        assert r.sample_rate == 16_000
        assert r.n_samples > 0
        assert abs(r.duration_s - r.n_samples / 16_000) < 1e-12
        assert len(r.feature) == 8


def test_resize_audio_unrecognized_container_raise(blobs):
    with pytest.raises(Exception, match="real resize supports PNG, baseline JPEG, GIF, BMP"):
        multimodal.resize_image(blobs, 8, 6, fake=False).collect()
    with pytest.raises(Exception, match="PCM WAV only"):
        multimodal.decode_audio_features(blobs, fake=False).collect()


# ---- real, dependency-free codecs (mediacodec.py) ----

from kusto_pre_forge_spark.operators import mediacodec


def _solid_png(w, h, rgb):
    return mediacodec.encode_png(w, h, bytes(rgb) * (w * h), 3)


def test_mediacodec_png_roundtrip_all_filters():
    # encode (filter 0) -> decode must return the exact pixels
    px = bytes(range(0, 240))  # 4x5 RGB = 60 px... actually 4*5*3 = 60 bytes
    px = bytes((i * 7) % 256 for i in range(4 * 5 * 3))
    raw = mediacodec.encode_png(4, 5, px, 3)
    w, h, ch, got = mediacodec.decode_png(raw)
    assert (w, h, ch) == (4, 5, 3)
    assert got == px
    hdr = mediacodec.parse_png_header(raw)
    assert (hdr["width"], hdr["height"], hdr["channels"]) == (4, 5, 3)


def test_mediacodec_jpeg_gif_bmp_headers():
    # handcrafted JPEG: SOI + APP0 (to exercise marker skipping) + SOF0
    import struct
    app0 = b"\xff\xe0" + struct.pack(">H", 15) + b"JFIF\x00" + b"\x00" * 8
    sof0 = b"\xff\xc0" + struct.pack(">H", 11) + bytes([8]) + struct.pack(">HH", 480, 640) + bytes([3, 1, 0, 0])
    jpeg = b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"
    hj = mediacodec.parse_jpeg_header(jpeg)
    assert (hj["width"], hj["height"], hj["channels"], hj["bits_per_sample"]) == (640, 480, 3, 8)

    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + bytes([0xF7, 0, 0])
    hg = mediacodec.parse_gif_header(gif)
    assert (hg["width"], hg["height"]) == (320, 200)

    bmp = b"BM" + b"\x00" * 16 + struct.pack("<ii", 100, -50) + struct.pack("<HH", 1, 24) + b"\x00" * 8
    hb = mediacodec.parse_bmp_header(bmp)
    assert (hb["width"], hb["height"], hb["channels"]) == (100, 50, 3)


def test_mediacodec_wav_roundtrip():
    samples = [0, 16384, -16384, 32767, -32768] * 20
    raw = mediacodec.encode_wav(8000, samples)
    hdr = mediacodec.parse_wav_header(raw)
    assert hdr["sample_rate"] == 8000
    assert hdr["channels"] == 1
    assert hdr["bits_per_sample"] == 16
    assert hdr["n_samples"] == len(samples)
    rate, ch, got = mediacodec.decode_wav(raw)
    assert rate == 8000 and ch == 1
    assert len(got) == len(samples)
    assert abs(got[1] - 0.5) < 1e-3 and abs(got[3] - 1.0) < 1e-3


@pytest.fixture(scope="module")
def real_media(spark):
    rows = [
        (1, _solid_png(8, 4, (255, 0, 0))),          # solid red PNG
        (2, _solid_png(3, 3, (0, 128, 0))),          # solid dark-green PNG
        (3, mediacodec.encode_wav(16000, [8192] * 1600)),  # 0.1 s constant tone
    ]
    return spark.createDataFrame(rows, "doc_id long, blob binary")


def test_probe_media_real_headers(real_media):
    got = {r.doc_id: r for r in multimodal.probe_media(real_media).collect()}
    assert (got[1].media_kind, got[1].width, got[1].height, got[1].channels) == ("png", 8, 4, 3)
    assert (got[2].width, got[2].height) == (3, 3)
    assert (got[3].media_kind, got[3].sample_rate, got[3].n_samples) == ("wav", 16000, 1600)
    assert abs(got[3].duration_s - 0.1) < 1e-12
    assert got[1].sample_rate is None and got[3].width is None


def test_decode_image_features_real_png(real_media):
    imgs = real_media.filter("doc_id < 3")
    got = {r.doc_id: r for r in multimodal.decode_image_features(imgs, fake=False).collect()}
    r1 = got[1]
    assert (r1.width, r1.height, r1.channels) == (8, 4, 3)
    # solid red: channel means (1, 0, 0), stds 0
    assert abs(r1.feature[0] - 1.0) < 1e-6 and abs(r1.feature[1]) < 1e-6
    assert abs(r1.feature[3]) < 1e-9 and abs(r1.feature[4]) < 1e-9
    r2 = got[2]
    assert abs(r2.feature[1] - 128 / 255) < 1e-6


def test_resize_image_real_png(real_media, spark):
    imgs = real_media.filter("doc_id = 1")
    out = multimodal.resize_image(imgs, 4, 2, fake=False).collect()[0]
    w, h, ch, px = mediacodec.decode_png(bytes(out.resized))
    assert (w, h, ch) == (4, 2, 3)
    assert px == bytes([255, 0, 0]) * 8, "nearest-neighbor of solid stays solid"


def test_decode_audio_features_real_wav(real_media):
    wavs = real_media.filter("doc_id = 3")
    r = multimodal.decode_audio_features(wavs, fake=False).collect()[0]
    assert r.sample_rate == 16000 and r.n_samples == 1600
    assert abs(r.duration_s - 0.1) < 1e-12
    # constant 8192/32768 = 0.25 amplitude -> RMS 0.25 in every segment
    assert all(abs(f - 0.25) < 1e-6 for f in r.feature)


def test_mp4_header_roundtrip():
    from kusto_pre_forge_spark.operators import mediacodec as mc

    blob = mc.encode_mp4_meta(640, 360, 2500, 1000)
    got = mc.parse_mp4_header(blob)
    assert got == {
        "media_kind": "mp4", "duration_s": 2.5, "width": 640, "height": 360
    }
    assert mc.probe_bytes(blob)["media_kind"] == "mp4"
    # malformed inputs: no crash, no false positive
    assert mc.parse_mp4_header(blob[:10]) is None
    assert mc.parse_mp4_header(b"\x00" * 64) is None
    # truncated moov: still identified as mp4, fields absent
    cut = mc.parse_mp4_header(blob[: len(blob) - 40])
    assert cut is not None and cut["media_kind"] == "mp4"


def test_mp4_version1_boxes():
    import struct

    from kusto_pre_forge_spark.operators import mediacodec as mc

    def box(btype, body):
        return struct.pack(">I", 8 + len(body)) + btype + body

    mvhd_v1 = box(
        b"mvhd",
        b"\x01" + bytes(3) + bytes(16)
        + struct.pack(">I", 600) + struct.pack(">Q", 1800)
        + bytes(80),
    )
    tkhd_v1 = box(
        b"tkhd",
        b"\x01" + bytes(3) + bytes(84)
        + struct.pack(">II", 320 << 16, 240 << 16),
    )
    blob = box(b"ftyp", b"isom" + bytes(4) + b"isom") + box(
        b"moov", mvhd_v1 + box(b"trak", tkhd_v1)
    )
    got = mc.parse_mp4_header(blob)
    assert got["duration_s"] == 3.0 and (got["width"], got["height"]) == (320, 240)


def test_image_dhash_real_pixels(spark):
    """dHash distinguishes real pixel content and survives re-encode."""
    from kusto_pre_forge_spark.operators import mediacodec, multimodal

    w, h = 18, 8
    grad = bytes(x * 14 for x in range(w)) * h
    flat = bytes([128]) * (w * h)
    # near-dup of the gradient: one pixel nudged (hash should stay close)
    nudged = bytearray(grad)
    nudged[5] = max(0, nudged[5] - 3)
    rows = [
        (1, mediacodec.encode_png(w, h, grad, 1)),
        (2, mediacodec.encode_png(w, h, flat, 1)),
        (3, mediacodec.encode_png(w, h, bytes(nudged), 1)),
        (4, b"not a png"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    out = {r.doc_id: r for r in multimodal.image_dhash(df).collect()}
    assert out[1].dhash == -1, "strict gradient -> all 64 bits set"
    assert out[2].dhash == 0, "constant image -> no bits set"
    assert out[4].dhash is None, "non-PNG -> NULL hash"
    # near-dup: hamming distance between 1 and 3 stays tiny
    ham = bin((out[1].dhash ^ out[3].dhash) & (2**64 - 1)).count("1")
    assert ham <= 2
    assert (out[1].width, out[1].height) == (w, h)


def test_image_dhash_keeps_low_bits_beside_null_hash(spark):
    """A NULL hash in the same batch must not push a hash of magnitude
    >= 2^53 through float64: gradients on the top and bottom rows set
    bits 63-56 and 7-0, and bit 0 has to survive."""
    from kusto_pre_forge_spark.operators import mediacodec, multimodal

    w, h = 18, 8
    grad, flat = bytes(x * 14 for x in range(w)), bytes([128]) * w
    png = mediacodec.encode_png(w, h, grad + flat * (h - 2) + grad, 1)
    df = spark.createDataFrame(
        [(1, png), (2, b"not a png")], "doc_id long, blob binary"
    ).coalesce(1)
    out = {r.doc_id: r.dhash for r in multimodal.image_dhash(df).collect()}
    assert out == {1: (0xFF << 56 | 0xFF) - (1 << 64), 2: None}


def test_audio_fingerprint_real_wav(spark):
    from kusto_pre_forge_spark.operators import mediacodec, multimodal

    ramp = [j * 16 for j in range(330)]
    tone = [1000] * 330
    # near-dup of the ramp: small additive noise keeps the loudness contour
    noisy = [v + ((j * 7) % 5 - 2) for j, v in enumerate(ramp)]
    rows = [
        (1, mediacodec.encode_wav(8000, ramp)),
        (2, mediacodec.encode_wav(8000, tone)),
        (3, mediacodec.encode_wav(8000, noisy)),
        (4, b"RIFFgarbage"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    out = {r.doc_id: r for r in multimodal.audio_fingerprint(df).collect()}
    assert out[1].afp == 2**32 - 1, "ramp -> all 32 energy-delta bits"
    assert out[2].afp == 0, "constant tone -> no bits"
    assert out[4].afp is None, "non-WAV -> NULL"
    ham = bin((out[1].afp ^ out[3].afp) & (2**64 - 1)).count("1")
    assert ham <= 2, "noise preserves the loudness contour"
    assert out[1].sample_rate == 8000 and out[1].n_samples == 330


def test_plan_frame_times_real_mp4(spark):
    from kusto_pre_forge_spark.operators import mediacodec, multimodal

    rows = [
        (1, mediacodec.encode_mp4_meta(64, 48, 3500)),  # 3.5 s
        (2, b"not mp4"),
        (3, mediacodec.encode_mp4_meta(64, 48, 500, timescale=100)),  # 5 s
    ]
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    out = multimodal.plan_frame_times(df, fps_sample=2.0).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append((r.frame_index, r.t_ms))
    # 3.5 s at 2 fps (500 ms step) -> 3500//500 + 1 = 8 samples
    assert len(by_doc[1]) == 8 and by_doc[1][1] == (1, 500)
    assert 2 not in by_doc, "non-MP4 emits no rows"
    # v0 box with timescale 100: 5 s -> 11 samples
    assert len(by_doc[3]) == 11


# --------------------------------------------------------------- JPEG codec


def test_jpeg_roundtrip_constant_images():
    """Constant fills are DC-only: every block reconstructs the same
    value, so decode error is bounded by one quantization step."""
    import numpy as np

    for val in (0, 37, 128, 200, 255):
        for ch in (1, 3):
            w, h = 23, 17
            px = bytes([val]) * (w * h * ch)
            for sub in ("444", "420"):
                if ch == 1 and sub == "420":
                    continue
                raw = mediacodec.encode_jpeg(
                    w, h, px, ch, quality=90, subsampling=sub
                )
                W, H, C, out = mediacodec.decode_jpeg(raw)
                assert (W, H, C) == (w, h, ch)
                a = np.frombuffer(out, np.uint8).astype(int)
                assert np.abs(a - val).max() <= 3, (val, ch, sub)


def test_jpeg_roundtrip_smooth_gradient():
    import numpy as np

    w, h = 64, 48
    xx, yy = np.meshgrid(np.arange(w), np.arange(h))
    img = ((xx * 255) // (w - 1)).astype(np.uint8)
    rgb = np.stack(
        [img, 255 - img, (yy * 255 // (h - 1)).astype(np.uint8)], axis=-1
    )
    for sub in ("444", "420"):
        raw = mediacodec.encode_jpeg(
            w, h, rgb.tobytes(), 3, quality=95, subsampling=sub
        )
        W, H, C, out = mediacodec.decode_jpeg(raw)
        a = np.frombuffer(out, np.uint8).reshape(h, w, 3).astype(int)
        err = np.abs(a - rgb.astype(int))
        assert err.max() <= 14 and err.mean() < 3, (sub, err.max())


def test_jpeg_restart_markers_do_not_change_pixels():
    import numpy as np

    w, h = 40, 24
    xx, yy = np.meshgrid(np.arange(w), np.arange(h))
    rgb = np.stack(
        [(xx * 4) % 256, (yy * 5) % 256, ((xx + yy) * 3) % 256], axis=-1
    ).astype(np.uint8)
    for sub in ("444", "420"):
        base = mediacodec.decode_jpeg(
            mediacodec.encode_jpeg(w, h, rgb.tobytes(), 3, 92, sub)
        )[3]
        for ri in (1, 3, 7):
            raw = mediacodec.encode_jpeg(
                w, h, rgb.tobytes(), 3, 92, sub, restart_interval=ri
            )
            assert mediacodec.decode_jpeg(raw)[3] == base, (sub, ri)


def test_jpeg_vs_png_identical_content_fuzz():
    """Fuzz: the SAME pixel content through the JPEG path stays close to
    the lossless PNG path — small per-pixel error on smooth content and
    (in image_dhash terms below) the same perceptual hash."""
    import numpy as np

    rng = np.random.default_rng(42)
    for _ in range(8):
        w = int(rng.integers(9, 60))
        h = int(rng.integers(8, 50))
        # smooth content: random low-frequency mix (JPEG's good case)
        xx, yy = np.meshgrid(np.arange(w), np.arange(h))
        a = (
            128
            + 60 * np.sin(xx / w * np.pi * float(rng.uniform(0.5, 2)))
            + 50 * np.cos(yy / h * np.pi * float(rng.uniform(0.5, 2)))
        )
        gray = np.clip(a, 0, 255).astype(np.uint8)
        png = mediacodec.encode_png(w, h, gray.tobytes(), 1)
        jpg = mediacodec.encode_jpeg(w, h, gray.tobytes(), 1, quality=95)
        pw, ph, pc, ppx = mediacodec.decode_png(png)
        jw, jh, jc, jpx = mediacodec.decode_jpeg(jpg)
        assert (pw, ph, pc) == (jw, jh, jc) == (w, h, 1)
        perr = np.abs(
            np.frombuffer(ppx, np.uint8).astype(int)
            - np.frombuffer(jpx, np.uint8).astype(int)
        )
        assert perr.max() <= 8, perr.max()


def test_jpeg_progressive_rejected():
    # minimal SOI + SOF2 prefix must raise, not mis-decode
    import struct as st

    raw = b"\xff\xd8\xff\xc2" + st.pack(">H", 11) + bytes(9)
    with pytest.raises(ValueError, match="progressive"):
        mediacodec.decode_jpeg(raw)


def test_image_dhash_real_jpeg_pixels(spark):
    """dHash over REAL decoded JPEGs equals the PNG hash of the same
    content — gradient -> -1, constant -> 0, and JPEG/PNG twins agree."""
    import numpy as np

    w, h = 18, 8
    grad = bytes(x * 14 for x in range(w)) * h
    flat = bytes([128]) * (w * h)
    grad_rgb = np.repeat(
        np.frombuffer(grad, np.uint8).reshape(h, w)[..., None], 3, axis=2
    )
    rows = [
        (1, mediacodec.encode_jpeg(w, h, grad, 1, quality=95)),
        (2, mediacodec.encode_jpeg(w, h, flat, 1, quality=90)),
        (3, mediacodec.encode_png(w, h, grad, 1)),
        (4, mediacodec.encode_jpeg(w, h, grad_rgb.tobytes(), 3, 95, "420")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    out = {r.doc_id: r for r in multimodal.image_dhash(df).collect()}
    assert out[1].dhash == -1, "JPEG gradient -> all bits"
    assert out[2].dhash == 0, "JPEG constant -> no bits"
    assert out[1].dhash == out[3].dhash, "JPEG and PNG twins hash equal"
    assert out[4].dhash == -1, "4:2:0 color gradient -> all bits"
    assert (out[1].width, out[1].height) == (w, h)


def test_exif_orientation_parse_all_values():
    """The APP1 TIFF Orientation tag parses for all 8 values in both
    byte orders; absence, scan-data-first, and malformed blobs all
    default to 1 (never crash — crawl posture)."""
    w, h = 8, 8
    base = mediacodec.encode_jpeg(w, h, bytes(range(64)), 1)
    assert mediacodec.parse_exif_orientation(base) == 1
    for o in range(1, 9):
        for e in ("<", ">"):
            tagged = mediacodec.insert_exif_app1(base, o, e)
            assert mediacodec.parse_exif_orientation(tagged) == o, (o, e)
            # the decoder still accepts the tagged file
            assert mediacodec.parse_jpeg_header(tagged)["width"] == w
    # out-of-range value, truncated TIFF, non-Exif APP1 → 1
    assert mediacodec.parse_exif_orientation(
        mediacodec.insert_exif_app1(base, 9)
    ) == 1
    bad = base[:2] + b"\xff\xe1\x00\x08Exif\x00\x00" + base[2:]
    assert mediacodec.parse_exif_orientation(bad) == 1
    xmp = base[:2] + b"\xff\xe1\x00\x07http\x00" + base[2:]
    assert mediacodec.parse_exif_orientation(xmp) == 1
    assert mediacodec.parse_exif_orientation(b"\x00\x01") == 1


def test_apply_exif_orientation_analytic():
    """TIFF 6.0 orientation semantics pinned on a 2x2 matrix with four
    distinct pixels: every one of the 8 transforms lands each pixel
    exactly where the upright view puts it."""
    px = bytes([1, 2, 3, 4])  # [[1,2],[3,4]] h=2, w=2, gray
    want = {
        1: ([1, 2, 3, 4], 2, 2),
        2: ([2, 1, 4, 3], 2, 2),   # mirror
        3: ([4, 3, 2, 1], 2, 2),   # rotate 180
        4: ([3, 4, 1, 2], 2, 2),   # flip vertical
        5: ([1, 3, 2, 4], 2, 2),   # transpose
        6: ([3, 1, 4, 2], 2, 2),   # rotate 90 CW
        7: ([4, 2, 3, 1], 2, 2),   # transverse
        8: ([2, 4, 1, 3], 2, 2),   # rotate 90 CCW
    }
    for o, (vals, ww, hh) in want.items():
        w2, h2, ch, out = mediacodec.apply_exif_orientation(2, 2, 1, px, o)
        assert (list(out), w2, h2, ch) == (vals, ww, hh, 1), o
    # 5-8 swap dimensions on a non-square image
    w2, h2, _, _ = mediacodec.apply_exif_orientation(
        4, 2, 1, bytes(8), 6
    )
    assert (w2, h2) == (2, 4)
    # involutions: applying twice returns the original for 2/3/4/5/7
    for o in (2, 3, 4, 5, 7):
        w2, h2, _, once = mediacodec.apply_exif_orientation(2, 2, 1, px, o)
        _, _, _, twice = mediacodec.apply_exif_orientation(
            w2, h2, 1, once, o
        )
        assert twice == px, o


def test_decode_image_normalizes_exif_orientation():
    """decode_image returns the UPRIGHT view of a tagged JPEG: for
    every orientation, decoding the tagged file equals applying the
    transform to the raw (untagged) decode."""
    w, h = 16, 8
    grad = bytes((x * 16 + y) % 256 for y in range(h) for x in range(w))
    base = mediacodec.encode_jpeg(w, h, grad, 1, quality=95)
    raw = mediacodec.decode_jpeg(base)
    for o in range(1, 9):
        tagged = mediacodec.insert_exif_app1(base, o)
        assert mediacodec.decode_image(tagged) == \
            mediacodec.apply_exif_orientation(*raw, o), o


def test_exif_rotated_duplicate_hashes_match(spark):
    """The dedup property the normalization exists for: a camera JPEG
    stored rotated with Orientation=6 and a lossless re-encode of its
    upright view hash IDENTICALLY — and the same pixels WITHOUT the
    tag hash differently (the miss the tag parse closes)."""
    w, h = 18, 8
    grad = bytes(x * 14 for x in range(w)) * h
    # what a camera stores: the upright gradient rotated 90 deg CCW
    # (so orientation 6 = rotate CW restores it)
    sw, sh, _, stored = mediacodec.apply_exif_orientation(
        w, h, 1, grad, 8
    )
    cam = mediacodec.insert_exif_app1(
        mediacodec.encode_jpeg(sw, sh, stored, 1, quality=95), 6
    )
    uw, uh, uch, upx = mediacodec.decode_image(cam)
    assert (uw, uh) == (w, h)  # normalized back to landscape
    upright_png = mediacodec.encode_png(uw, uh, upx, uch)
    untagged = mediacodec.encode_jpeg(sw, sh, stored, 1, quality=95)
    df = spark.createDataFrame(
        [(1, cam), (2, upright_png), (3, untagged)],
        "doc_id long, blob binary",
    )
    out = {r.doc_id: r for r in multimodal.image_dhash(df).collect()}
    assert out[1].dhash == out[2].dhash  # rotated capture == upright twin
    assert out[1].dhash != out[3].dhash  # without the tag they miss
    assert (out[1].width, out[1].height) == (w, h)


def test_decode_image_features_real_jpeg(spark):
    """Real-JPEG features match the PNG features of identical content."""
    import numpy as np

    w, h = 32, 16
    xx = np.tile(np.arange(w) * 8 % 256, (h, 1)).astype(np.uint8)
    png = mediacodec.encode_png(w, h, xx.tobytes(), 1)
    jpg = mediacodec.encode_jpeg(w, h, xx.tobytes(), 1, quality=95)
    df = spark.createDataFrame(
        [(1, png), (2, jpg)], "doc_id long, blob binary"
    )
    out = {
        r.doc_id: r for r in multimodal.decode_image_features(df).collect()
    }
    assert out[2].feature is not None, "JPEG now yields real features"
    assert (out[2].width, out[2].height, out[2].channels) == (w, h, 1)
    f_png, f_jpg = np.array(out[1].feature), np.array(out[2].feature)
    assert np.abs(f_png - f_jpg).max() < 0.02


def test_resize_image_real_jpeg(spark):
    w, h = 24, 16
    grad = bytes((x * 11) % 256 for x in range(w)) * h
    jpg = mediacodec.encode_jpeg(w, h, grad, 1, quality=95)
    df = spark.createDataFrame([(1, jpg)], "doc_id long, blob binary")
    row = multimodal.resize_image(df, 12, 8).first()
    assert (row.width, row.height) == (12, 8)
    rw, rh, rc, rpx = mediacodec.decode_png(bytes(row.resized))
    assert (rw, rh, rc) == (12, 8, 1)


# ---------------------------------------------------------------- GIF codec


def test_gif_roundtrip_lossless_fuzz():
    import numpy as np

    rng = np.random.default_rng(3)
    for _ in range(10):
        w = int(rng.integers(1, 70))
        h = int(rng.integers(1, 60))
        nc = int(rng.integers(1, 200))
        pal = rng.integers(0, 256, (nc, 3), dtype=np.uint8)
        img = pal[rng.integers(0, nc, (h, w))]
        raw = mediacodec.encode_gif(w, h, img.tobytes(), 3)
        W, H, C, out = mediacodec.decode_gif(raw)
        assert (W, H, C) == (w, h, 3)
        assert out == img.tobytes(), "GIF round-trip must be lossless"


def test_gif_palette_limit_and_gray():
    g = bytes(range(0, 250, 10))
    raw = mediacodec.encode_gif(25, 1, g, 1)
    _, _, _, out = mediacodec.decode_gif(raw)
    assert out == bytes(b for v in g for b in (v, v, v))
    too_many = bytes(
        b for i in range(300) for b in (i % 256, i // 256, 7)
    )
    with pytest.raises(ValueError, match="256 distinct colors"):
        mediacodec.encode_gif(300, 1, too_many, 3)


def test_gif_interlaced_decode():
    """Hand-build an interlaced GIF (rows stored in 4-pass order, flag
    set) and check the decoder unweaves it back to raster order."""
    import struct as st

    w, h = 5, 11
    # palette index image: row y filled with value y
    rows = [bytes([y]) * w for y in range(h)]
    order = []
    for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
        order.extend(range(start, h, step))
    indices = b"".join(rows[y] for y in order)
    pal = bytes(b for i in range(16) for b in (i * 10, i * 10, i * 10))
    out = bytearray(b"GIF89a")
    out += st.pack("<HH", w, h)
    out += bytes([0x80 | 3, 0, 0])  # GCT 16 colors
    out += pal
    out += b"\x2c" + st.pack("<HHHH", 0, 0, w, h) + bytes([0x40])  # interlace
    out += bytes([4])  # min code size
    lzw = mediacodec._gif_lzw_encode(4, indices)
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00\x3b"
    W, H, C, px = mediacodec.decode_gif(bytes(out))
    assert (W, H, C) == (w, h, 3)
    for y in range(h):
        row = px[3 * y * w : 3 * (y + 1) * w]
        assert row == bytes([y * 10] * 3) * w, f"row {y} misordered"


def test_image_dhash_real_gif_pixels(spark):
    w, h = 18, 8
    grad = bytes(x * 14 for x in range(w)) * h
    flat = bytes([64]) * (w * h)
    rows = [
        (1, mediacodec.encode_gif(w, h, grad, 1)),
        (2, mediacodec.encode_gif(w, h, flat, 1)),
        (3, mediacodec.encode_png(w, h, grad, 1)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    out = {r.doc_id: r for r in multimodal.image_dhash(df).collect()}
    assert out[1].dhash == -1 and out[2].dhash == 0
    assert out[1].dhash == out[3].dhash, "GIF and PNG twins hash equal"
    assert (out[1].width, out[1].height) == (w, h)


def test_resize_and_features_real_gif(spark):
    w, h = 24, 12
    grad = bytes((x * 11) % 256 for x in range(w)) * h
    gif = mediacodec.encode_gif(w, h, grad, 1)
    df = spark.createDataFrame([(1, gif)], "doc_id long, blob binary")
    feat = multimodal.decode_image_features(df).first()
    assert feat.feature is not None and feat.channels == 3
    row = multimodal.resize_image(df, 12, 6).first()
    rw, rh, rc, _ = mediacodec.decode_png(bytes(row.resized))
    assert (rw, rh, rc) == (12, 6, 3)


# ---------------------------------------------------------------- BMP codec


def test_bmp_roundtrip_lossless_fuzz():
    import numpy as np

    rng = np.random.default_rng(9)
    for _ in range(8):
        w = int(rng.integers(1, 60))
        h = int(rng.integers(1, 50))
        img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        raw = mediacodec.encode_bmp(w, h, img.tobytes(), 3)
        W, H, C, out = mediacodec.decode_bmp(raw)
        assert (W, H, C) == (w, h, 3)
        assert out == img.tobytes(), "BMP round-trip must be lossless"


def test_bmp_topdown_and_8bit_palette():
    import struct as st

    # hand-build a top-down 32-bit BMP: 2x2, distinct colors
    px = [(10, 20, 30, 0), (40, 50, 60, 0), (70, 80, 90, 0), (1, 2, 3, 0)]
    body = b"".join(bytes((b, g, r, a)) for (r, g, b, a) in px)
    raw = b"BM" + st.pack("<IHHI", 54 + len(body), 0, 0, 54)
    raw += st.pack("<IiiHHIIiiII", 40, 2, -2, 1, 32, 0, len(body), 0, 0, 0, 0)
    raw += body
    W, H, C, out = mediacodec.decode_bmp(raw)
    assert (W, H, C) == (2, 2, 3)
    assert out == bytes(
        v for (r, g, b, a) in px for v in (r, g, b)
    ), "top-down rows must not be flipped"

    # 8-bit palettized, bottom-up, 4-byte row padding (w=3 -> stride 4)
    pal = b"".join(bytes((i, 2 * i % 256, 3 * i % 256, 0)) for i in range(4))
    rows_bottom_up = bytes([2, 1, 0, 0]) + bytes([3, 3, 3, 0])  # y=1 then y=0
    raw8 = b"BM" + st.pack("<IHHI", 0, 0, 0, 54 + len(pal))
    raw8 += st.pack("<IiiHHIIiiII", 40, 3, 2, 1, 8, 0, 0, 0, 0, 4, 0)
    raw8 += pal + rows_bottom_up
    W, H, C, out = mediacodec.decode_bmp(raw8)
    assert (W, H, C) == (3, 2, 3)
    # palette quads are BGRA: index i -> RGB (3i, 2i, i)
    top = out[: 3 * 3]
    assert top == bytes(v for i in (3, 3, 3) for v in (3 * i % 256, 2 * i, i))
    bottom = out[3 * 3 :]
    assert bottom == bytes(v for i in (2, 1, 0) for v in (3 * i % 256, 2 * i, i))


def test_image_dhash_and_features_real_bmp(spark):
    w, h = 18, 8
    grad = bytes(x * 14 for x in range(w)) * h
    rows = [
        (1, mediacodec.encode_bmp(w, h, grad, 1)),
        (2, mediacodec.encode_png(w, h, grad, 1)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    out = {r.doc_id: r for r in multimodal.image_dhash(df).collect()}
    assert out[1].dhash == -1 and out[1].dhash == out[2].dhash
    feat = multimodal.decode_image_features(
        df.filter("doc_id = 1")
    ).first()
    assert feat.feature is not None and feat.channels == 3
    row = multimodal.resize_image(df.filter("doc_id = 1"), 9, 4).first()
    rw, rh, rc, _ = mediacodec.decode_png(bytes(row.resized))
    assert (rw, rh, rc) == (9, 4, 3)


# ------------------------------------------------------------ AVI / video


def _mjpeg_avi(w, h, n_frames, gradient_frames):
    frames = []
    for i in range(n_frames):
        if i in gradient_frames:
            row = bytes(x * 14 for x in range(w))
        else:
            row = bytes([30 * i % 256]) * w
        frames.append(mediacodec.encode_jpeg(w, h, row * h, 1, quality=95))
    return mediacodec.encode_avi_mjpeg(w, h, frames, fps=4)


def test_avi_probe_and_frame_iter():
    avi = _mjpeg_avi(18, 8, 4, {0, 2})
    hdr = mediacodec.probe_bytes(avi)
    assert (hdr["media_kind"], hdr["width"], hdr["height"]) == ("avi", 18, 8)
    assert hdr["n_samples"] == 4 and abs(hdr["duration_s"] - 1.0) < 1e-9
    frames = list(mediacodec.iter_avi_mjpeg_frames(avi))
    assert [i for i, _ in frames] == [0, 1, 2, 3]
    assert all(f[:2] == b"\xff\xd8" for _, f in frames)


def test_sample_frames_real_mjpeg_avi(spark):
    import hashlib

    avi = _mjpeg_avi(18, 8, 6, set())
    df = spark.createDataFrame([(1, avi)], "doc_id long, blob binary")
    rows = sorted(
        (r.frame_index, r.frame_sha)
        for r in multimodal.sample_frames(df, every_n=2, fake=False).collect()
    )
    assert [i for i, _ in rows] == [0, 2, 4]
    # sha is over DECODED pixels: recompute frame 0's expected hash
    f0 = next(f for i, f in mediacodec.iter_avi_mjpeg_frames(avi) if i == 0)
    _, _, _, px = mediacodec.decode_jpeg(f0)
    assert rows[0][1] == hashlib.sha256(px).hexdigest()
    # non-AVI still raises
    bad = spark.createDataFrame([(2, b"not a video")], "doc_id long, blob binary")
    with pytest.raises(Exception, match="MJPEG-in-AVI"):
        multimodal.sample_frames(bad, fake=False).collect()


def test_video_frame_dhash_real(spark):
    avi = _mjpeg_avi(18, 8, 4, {0, 2})
    df = spark.createDataFrame([(7, avi)], "doc_id long, blob binary")
    out = {
        r.frame_index: r.dhash
        for r in multimodal.video_frame_dhash(df).collect()
    }
    assert out[0] == -1 and out[2] == -1, "gradient frames -> all bits"
    assert out[1] == 0 and out[3] == 0, "constant frames -> no bits"


def test_jpeg_422_and_color_fuzz():
    """All three chroma modes round-trip smooth COLOR content closely,
    with and without restart markers (the 4:2:2 MCU interleave exercises
    the decoder's general sampling-factor path)."""
    import numpy as np

    w, h = 61, 37
    xx, yy = np.meshgrid(np.arange(w), np.arange(h))
    rgb = np.stack(
        [
            np.clip(128 + 50 * np.sin(xx / 9.0) + 40 * np.cos(yy / 7.0), 0, 255),
            np.clip(128 + 60 * np.cos(xx / 11.0), 0, 255),
            np.clip(128 + 45 * np.sin((xx + yy) / 13.0), 0, 255),
        ],
        axis=-1,
    ).astype(np.uint8)
    for sub in ("444", "420", "422"):
        for ri in (0, 3):
            raw = mediacodec.encode_jpeg(
                w, h, rgb.tobytes(), 3, quality=95,
                subsampling=sub, restart_interval=ri,
            )
            W, H, C, out = mediacodec.decode_jpeg(raw)
            assert (W, H, C) == (w, h, 3)
            a = np.frombuffer(out, np.uint8).reshape(h, w, 3).astype(int)
            err = np.abs(a - rgb.astype(int))
            assert err.max() <= 20 and err.mean() < 4, (sub, ri)


def test_jpeg_truncation_rejected():
    px = bytes(range(0, 192)) * 8  # 24x16 gray with wraparound... 192*8
    px = bytes((i * 5) % 256 for i in range(24 * 16))
    raw = mediacodec.encode_jpeg(24, 16, px, 1, quality=90)
    # cut inside the entropy stream: decode must not crash or hang;
    # either a clean ValueError or a (wrong but bounded) partial decode
    for cut in (len(raw) // 2, len(raw) - 10):
        try:
            mediacodec.decode_jpeg(raw[:cut])
        except ValueError:
            pass
    # cut inside the HEADERS must raise cleanly
    with pytest.raises(ValueError):
        mediacodec.decode_jpeg(raw[:20])


def test_decode_gif_palette_index_out_of_range():
    """A palette index past the color table must raise, not silently
    shrink the canvas (which would break the w*h*3 length contract that
    image_dhash reshapes by)."""
    import struct as _struct

    import pytest as _pt

    out = bytearray(b"GIF89a")
    out += _struct.pack("<HH", 2, 1)
    out += bytes([0x80 | 0, 0, 0])  # GCT present, 2 colors
    out += b"\x00\x00\x00\xff\xff\xff"
    out += b"\x2c" + _struct.pack("<HHHH", 0, 0, 2, 1) + b"\x00"
    out += bytes([2])  # LZW min code size 2 -> indexes 0..3 encodable
    lzw = mediacodec._gif_lzw_encode(2, bytes([0, 3]))  # 3 >= 2 colors
    for i in range(0, len(lzw), 255):
        c = lzw[i : i + 255]
        out += bytes([len(c)]) + c
    out += b"\x00\x3b"
    with _pt.raises(ValueError, match="palette index out of range"):
        mediacodec.decode_gif(bytes(out))


def test_sample_frames_pluggable_decoder(spark):
    """An injected decoder (the extension point for codecs this container
    lacks) flows through the same sampling + pixel-sha fingerprinting."""
    import hashlib

    def toy_decoder(raw: bytes):
        # pretend the blob is 6 frames of 4 bytes each
        for fi in range(6):
            yield fi, raw[fi * 4 : (fi + 1) * 4]

    df = spark.createDataFrame(
        [(1, bytes(range(24))), (2, bytes(range(100, 124)))],
        "doc_id long, blob binary",
    )
    out = multimodal.sample_frames(df, every_n=2, decoder=toy_decoder).collect()
    got = {(r.doc_id, r.frame_index): r.frame_sha for r in out}
    assert set(got) == {(1, 0), (1, 2), (1, 4), (2, 0), (2, 2), (2, 4)}
    assert got[(1, 0)] == hashlib.sha256(bytes(range(4))).hexdigest()
    assert got[(2, 2)] == hashlib.sha256(bytes(range(108, 112))).hexdigest()


def test_sample_frames_unknown_container_message(spark):
    df = spark.createDataFrame([(1, b"not-a-video")], "doc_id long, blob binary")
    import pytest as _pt

    if multimodal.pyav_available():
        _pt.skip("pyav present: unknown containers route to it instead")
    with _pt.raises(Exception, match="decoder="):
        multimodal.sample_frames(df, every_n=2).collect()


def test_sample_frames_pyav_route(spark):
    """When pyav is importable, a non-builtin container auto-routes
    through pyav_decode with the same every_n sampling + pixel-sha
    fingerprint as the built-in codecs. Env-gated: runs only where
    `pip install av` happened (not this container)."""
    import pytest as _pt

    if not multimodal.pyav_available():
        _pt.skip("pyav not installed in this environment")
    import hashlib
    import io

    import av
    import numpy as np

    buf = io.BytesIO()
    frames_rgb = []
    with av.open(buf, "w", format="mp4") as out:
        stream = out.add_stream("mpeg4", rate=4)
        stream.width, stream.height, stream.pix_fmt = 16, 16, "yuv420p"
        for i in range(5):
            arr = np.full((16, 16, 3), i * 40, dtype=np.uint8)
            frame = av.VideoFrame.from_ndarray(arr, format="rgb24")
            out.mux(stream.encode(frame))
        out.mux(stream.encode())
    raw = buf.getvalue()
    frames_rgb = dict(multimodal.pyav_decode(raw))
    df = spark.createDataFrame([(7, raw)], "doc_id long, blob binary")
    rows = {
        r.frame_index: r.frame_sha
        for r in multimodal.sample_frames(df, every_n=2, fake=False).collect()
    }
    assert sorted(rows) == [0, 2, 4]
    for fi in rows:
        assert rows[fi] == hashlib.sha256(frames_rgb[fi]).hexdigest()


def test_resize_image_area_average(spark):
    """Exact box-average resampling: 2x downscale of a checkerboard is the
    analytic mean; fractional 3->2 spans use the hand-computed weights."""
    import numpy as np

    # 4x4 checkerboard of 0/255 in gray: every 2x2 box averages to 127.5 -> 128
    board = np.indices((4, 4)).sum(axis=0) % 2 * 255
    raw = mediacodec.encode_png(4, 4, board.astype(np.uint8).tobytes(), 1)
    df = spark.createDataFrame([(1, raw)], "doc_id long, blob binary")
    row = multimodal.resize_image(df, 2, 2, method="area").first()
    _, _, _, px = mediacodec.decode_png(row.resized)
    assert list(px) == [128, 128, 128, 128]

    # 3 columns [0, 90, 240] -> 2 columns: spans [0,1.5) and [1.5,3)
    # left = (1*0 + 0.5*90)/1.5 = 30; right = (0.5*90 + 1*240)/1.5 = 190
    strip = bytes([0, 90, 240])
    raw2 = mediacodec.encode_png(3, 1, strip, 1)
    df2 = spark.createDataFrame([(1, raw2)], "doc_id long, blob binary")
    row2 = multimodal.resize_image(df2, 2, 1, method="area").first()
    _, _, _, px2 = mediacodec.decode_png(row2.resized)
    assert list(px2) == [30, 190]

    import pytest as _pt
    with _pt.raises(Exception, match="unknown resize method"):
        multimodal.resize_image(df2, 2, 1, method="bogus").first()


def test_gif_animation_disposal_and_transparency():
    """Animated GIF compositing, hand-computed: disposal 1 leaves the
    canvas (frame 2's transparent pixels show frame 1), disposal 2
    restores the background under the next frame, disposal 3 restores the
    pre-frame canvas; delays round-trip."""
    W = H = 4
    R, G, B, K = b"\xff\x00\x00", b"\x00\xff\x00", b"\x00\x00\xff", b"\x00\x00\x00"
    f0 = R * (W * H)  # full red canvas, disposal 1 (leave)
    # frame 1: 2x2 green square at (1,1), disposal 3 (restore previous)
    f1 = G * 4
    # frame 2: 2x2 blue square at (2,2) with a transparent marker pixel
    T = b"\x01\x02\x03"
    f2 = B + T + B + B
    raw = mediacodec.encode_gif_animation(
        W,
        H,
        [
            {"pixels": f0, "disposal": 1, "delay_cs": 10},
            {"pixels": f1, "left": 1, "top": 1, "fw": 2, "fh": 2,
             "disposal": 3, "delay_cs": 20},
            {"pixels": f2, "left": 2, "top": 2, "fw": 2, "fh": 2,
             "transparent": (1, 2, 3), "disposal": 2, "delay_cs": 30},
        ],
    )
    sw, sh, frames, delays = mediacodec.decode_gif_frames(raw)
    assert (sw, sh) == (W, H) and delays == [10, 20, 30]

    def px(buf, x, y):
        o = 3 * (y * W + x)
        return bytes(buf[o : o + 3])

    # frame 0: all red
    assert frames[0] == R * (W * H)
    # frame 1: red canvas with green 2x2 at (1,1)
    assert px(frames[1], 1, 1) == G and px(frames[1], 2, 2) == G
    assert px(frames[1], 0, 0) == R and px(frames[1], 3, 3) == R
    # frame 2: disposal 3 restored full red before compositing; blue 2x2
    # at (2,2) except the transparent pixel (3,2) which shows red
    assert px(frames[2], 2, 2) == B and px(frames[2], 2, 3) == B
    assert px(frames[2], 3, 3) == B
    assert px(frames[2], 3, 2) == R, "transparent pixel shows canvas"
    assert px(frames[2], 1, 1) == R, "disposal 3 restored previous canvas"
    # decode_gif (first frame) stays consistent with the frames path
    w, h, c, first = mediacodec.decode_gif(raw)
    assert (w, h, c) == (W, H, 3) and first == frames[0]


def test_gif_animation_disposal2_restores_background():
    """After a disposal-2 frame, the NEXT frame sees the frame rect
    restored to the background (palette index 0) color."""
    W = H = 3
    A, Bc = b"\x10\x20\x30", b"\x40\x50\x60"
    raw = mediacodec.encode_gif_animation(
        W,
        H,
        [
            # frame 0 paints everything A and asks for background restore
            {"pixels": A * 9, "disposal": 2},
            # frame 1 paints a single pixel at (0,0)
            {"pixels": Bc, "left": 0, "top": 0, "fw": 1, "fh": 1, "disposal": 1},
        ],
    )
    _, _, frames, _ = mediacodec.decode_gif_frames(raw)
    # background = palette index 0 = A (first color registered)
    def px(buf, x, y):
        o = 3 * (y * W + x)
        return bytes(buf[o : o + 3])

    assert frames[0] == A * 9
    assert px(frames[1], 0, 0) == Bc
    # rest of canvas: disposal-2 restore to bg == A here (index 0)
    assert px(frames[1], 1, 1) == A and px(frames[1], 2, 2) == A


def test_sample_frames_real_animated_gif(spark):
    """sample_frames decodes animated GIFs for real: frame_sha is the
    sha256 of the composited canvas at the sampled indices."""
    import hashlib

    W = H = 5
    frames = [
        {"pixels": bytes([i * 30, 0, 255 - i * 30]) * (W * H), "disposal": 1}
        for i in range(6)
    ]
    raw = mediacodec.encode_gif_animation(W, H, frames)
    df = spark.createDataFrame([(9, raw)], "doc_id long, blob binary")
    rows = {
        r.frame_index: r.frame_sha
        for r in multimodal.sample_frames(df, every_n=2, fake=False).collect()
    }
    assert sorted(rows) == [0, 2, 4]
    _, _, dec, _ = mediacodec.decode_gif_frames(raw)
    for fi in (0, 2, 4):
        assert rows[fi] == hashlib.sha256(dec[fi]).hexdigest()


def test_avi_dib_roundtrip_and_dispatch():
    """Uncompressed DIB-in-AVI: encode → iter_avi_frames yields the exact
    RGB frames back (bottom-up BGR + stride alignment both unwound)."""
    w, h = 5, 3
    f0 = bytes(range(w * h * 3))
    f1 = bytes(reversed(range(w * h * 3)))
    raw = mediacodec.encode_avi_dib(w, h, [f0, f1], fps=2)
    assert mediacodec.parse_avi_header(raw)["n_samples"] == 2
    frames = list(mediacodec.iter_avi_frames(raw))
    assert [(i, fw, fh, ch) for i, fw, fh, ch, _ in frames] == [
        (0, w, h, 3),
        (1, w, h, 3),
    ]
    assert frames[0][4] == f0 and frames[1][4] == f1
    # MJPEG AVIs dispatch through the same iterator
    jf = mediacodec.encode_jpeg(16, 8, bytes([7] * 16 * 8), 1, quality=95)
    mraw = mediacodec.encode_avi_mjpeg(16, 8, [jf], fps=4)
    (idx, mw, mh, mch, px), = list(mediacodec.iter_avi_frames(mraw))
    assert (idx, mw, mh) == (0, 16, 8) and len(px) == 16 * 8 * mch


def test_avi_dib_frame_starting_with_jpeg_soi_not_misrouted():
    """A BI_RGB DIB frame whose first stored bytes happen to be FF D8
    (the JPEG SOI marker) must still decode as DIB: dispatch honors the
    stream's DECLARED strf compression, content-sniffing only when no
    format header exists. Bottom-up storage means the first stored
    pixel is the bottom-left one; B=0xFF, G=0xD8 there forges the SOI."""
    w, h = 2, 2
    frame = bytearray([0] * (w * h * 3))
    # bottom-left pixel (row h-1 in RGB order): R=1, G=0xD8, B=0xFF
    o = (h - 1) * w * 3
    frame[o : o + 3] = bytes((1, 0xD8, 0xFF))
    raw = mediacodec.encode_avi_dib(w, h, [bytes(frame)], fps=1)
    (idx, fw, fh, ch, px), = list(mediacodec.iter_avi_frames(raw))
    assert (idx, fw, fh, ch) == (0, w, h, 3)
    assert px == bytes(frame)


def test_sample_frames_real_dib_avi(spark):
    """sample_frames fingerprints DIB-AVI frames by decoded pixels: the
    sha matches the raw RGB frame (lossless codec)."""
    import hashlib

    w, h = 4, 4
    frames = [bytes([i * 40] * (w * h * 3)) for i in range(5)]
    raw = mediacodec.encode_avi_dib(w, h, frames, fps=2)
    df = spark.createDataFrame([(3, raw)], "doc_id long, blob binary")
    rows = {
        r.frame_index: r.frame_sha
        for r in multimodal.sample_frames(df, every_n=2, fake=False).collect()
    }
    assert sorted(rows) == [0, 2, 4]
    for fi in (0, 2, 4):
        assert rows[fi] == hashlib.sha256(frames[fi]).hexdigest()


def test_g711_expansion_matches_stdlib_all_codepoints():
    """µ-law and A-law expansion equals stdlib audioop for every one of
    the 256 code points (the full-domain oracle)."""
    import struct as _struct
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("ignore", DeprecationWarning)
        import audioop

    for law, fn, conv in (
        ("ulaw", mediacodec._g711_ulaw_to_linear, audioop.ulaw2lin),
        ("alaw", mediacodec._g711_alaw_to_linear, audioop.alaw2lin),
    ):
        for code in range(256):
            (expect,) = _struct.unpack("<h", conv(bytes([code]), 2))
            assert fn(code) == expect, (law, code, fn(code), expect)


def test_g711_wav_decode_roundtrip():
    """A G.711 WAV decodes through the same decode_wav surface as PCM;
    header reports the format tag; unsupported tags raise."""
    codes = bytes(range(0, 256, 8))
    raw = mediacodec.encode_wav_g711(8000, codes, law="ulaw")
    hdr = mediacodec.parse_wav_header(raw)
    assert hdr["format_tag"] == 7 and hdr["bits_per_sample"] == 8
    assert hdr["n_samples"] == len(codes)
    sr, ch, samples = mediacodec.decode_wav(raw)
    assert (sr, ch, len(samples)) == (8000, 1, len(codes))
    assert all(-1.0 <= s <= 1.0 for s in samples)
    expected0 = mediacodec._g711_ulaw_to_linear(codes[0]) / 32768.0
    assert samples[0] == expected0
    araw = mediacodec.encode_wav_g711(8000, codes, law="alaw")
    assert mediacodec.parse_wav_header(araw)["format_tag"] == 6
    _, _, asamples = mediacodec.decode_wav(araw)
    assert asamples[3] == mediacodec._g711_alaw_to_linear(codes[3]) / 32768.0
    import pytest as _pt
    with _pt.raises(ValueError, match="format tag"):
        bad = bytearray(raw)
        bad[20:22] = (3).to_bytes(2, "little")  # IEEE float tag
        mediacodec.decode_wav(bytes(bad))


def test_ima_adpcm_nibble_core_known_vectors():
    """Spot-check the nibble expansion against hand-computed spec steps
    from state (predictor=0, index=0, step=7)."""
    # nibble 0: diff = 7>>3 = 0 -> predictor 0, index max(0,-1)=0
    assert mediacodec._ima_decode_nibble(0, 0, 0) == (0, 0)
    # nibble 7: diff = 0+1+3+7 = 11? step=7: (7>>3)+(7>>2)+(7>>1)+7 = 0+1+3+7=11
    assert mediacodec._ima_decode_nibble(7, 0, 0) == (11, 8)
    # nibble 15 (sign|7): predictor -11, index 8
    assert mediacodec._ima_decode_nibble(15, 0, 0) == (-11, 8)
    # clamping: predictor saturates at int16
    p, _ = mediacodec._ima_decode_nibble(7, 32760, 88)
    assert p == 32767
    # index clamps at 88 and 0
    _, ix = mediacodec._ima_decode_nibble(7, 0, 88)
    assert ix == 88
    _, ix0 = mediacodec._ima_decode_nibble(0, 0, 0)
    assert ix0 == 0


def test_ima_adpcm_wav_roundtrip_tracks_signal():
    """encode→decode of a sine tracks the original within ADPCM
    quantization error; sample counts follow the block structure; the
    generic decode_wav surface dispatches on format tag 0x11."""
    import math

    n = 1021
    sig = [int(12000 * math.sin(2 * math.pi * 220 * t / 8000)) for t in range(n)]
    raw = mediacodec.encode_wav_ima_adpcm(8000, sig, block_align=256)
    hdr = mediacodec.parse_wav_header(raw)
    assert hdr["format_tag"] == 0x11 and hdr["channels"] == 1
    sr, ch, out = mediacodec.decode_wav(raw)
    assert (sr, ch) == (8000, 1)
    assert len(out) >= n
    # skip the codec's inherent adaptation transient (step starts at 7
    # and takes ~10 samples to reach the signal's slew rate)
    err = max(
        abs(out[i] * 32768.0 - sig[i]) for i in range(20, n)
    )
    assert err < 1500, f"ADPCM tracking error too large: {err}"
    mean_err = sum(
        abs(out[i] * 32768.0 - sig[i]) for i in range(20, n)
    ) / (n - 20)
    assert mean_err < 300, f"ADPCM mean error too large: {mean_err}"
    # stereo and corrupt index rejected
    import pytest as _pt
    bad = bytearray(raw)
    # find fmt chunk channels field (offset 12+8+2 = 22) -> set stereo
    bad[22:24] = (2).to_bytes(2, "little")
    with _pt.raises(ValueError, match="mono"):
        mediacodec.decode_wav_ima_adpcm(bytes(bad))


def test_tiff_roundtrip_fuzz_and_dispatch():
    """Baseline TIFF: both byte orders x gray/RGB x none/PackBits all
    round-trip losslessly through encode→decode; probe and the shared
    decode_image dispatcher recognize it; unsupported depths raise."""
    import itertools
    import random

    rng = random.Random(11)
    for ch, pb, be in itertools.product((1, 3), (False, True), (False, True)):
        w, h = 7, 5
        px = bytes(rng.randrange(256) for _ in range(w * h * ch))
        raw = mediacodec.encode_tiff(
            w, h, px, channels=ch, packbits=pb, big_endian=be, rows_per_strip=2
        )
        hdr = mediacodec.probe_bytes(raw)
        assert hdr["media_kind"] == "tiff" and hdr["width"] == w
        assert mediacodec.decode_tiff(raw) == (w, h, ch, px)
        assert mediacodec.decode_image(raw) == (w, h, ch, px)
    # PackBits really compresses runs
    runpx = bytes([9]) * (10 * 10 * 3)
    small = mediacodec.encode_tiff(10, 10, runpx, packbits=True)
    # 300 px bytes collapse to a few run codes (file overhead ~134 B of IFD)
    assert len(small) < 200
    import pytest as _pt
    with _pt.raises(ValueError, match="not a TIFF"):
        mediacodec.decode_tiff(b"ab")


def test_image_dhash_real_tiff_pixels(spark):
    """image_dhash flows TIFF through the same real-decode path: a
    horizontal gradient hashes to all bits (-1), constant to 0."""
    w, h = 18, 8
    grad = bytes(b for x in range(w) for b in (x * 14,) * 3) * h
    const = bytes([60, 60, 60]) * (w * h)
    df = spark.createDataFrame(
        [
            (1, mediacodec.encode_tiff(w, h, grad, packbits=True)),
            (2, mediacodec.encode_tiff(w, h, const, big_endian=True)),
        ],
        "doc_id long, blob binary",
    )
    out = {r.doc_id: r.dhash for r in multimodal.image_dhash(df).collect()}
    assert out[1] == -1 and out[2] == 0


def test_pnm_roundtrip_and_dispatch(spark):
    """Binary PGM/PPM round-trip; comment-tolerant header; flows through
    decode_image and image_dhash like any other container."""
    import random

    rng = random.Random(3)
    for ch in (1, 3):
        w, h = 6, 4
        px = bytes(rng.randrange(256) for _ in range(w * h * ch))
        raw = mediacodec.encode_pnm(w, h, px, ch)
        hdr = mediacodec.probe_bytes(raw)
        assert hdr["media_kind"] == "pnm" and hdr["channels"] == ch
        assert mediacodec.decode_pnm(raw) == (w, h, ch, px)
        assert mediacodec.decode_image(raw) == (w, h, ch, px)
    # comments in the header are skipped
    commented = b"P5\n# a comment\n3 2\n# another\n255\n" + bytes(6)
    assert mediacodec.decode_pnm(commented) == (3, 2, 1, bytes(6))
    # truncated data raises
    import pytest as _pt
    with _pt.raises(ValueError, match="truncated"):
        mediacodec.decode_pnm(b"P6\n4 4\n255\n" + bytes(5))
    # dhash path: PPM gradient -> -1
    w, h = 18, 8
    grad = bytes(b for x in range(w) for b in (x * 14,) * 3) * h
    df = spark.createDataFrame(
        [(1, mediacodec.encode_pnm(w, h, grad, 3))], "doc_id long, blob binary"
    )
    out = multimodal.image_dhash(df).collect()[0]
    assert out.dhash == -1 and out.width == 18


def test_gif_animation_property_vs_reference_compositor():
    """Property test: random animations (sub-rect frames, all disposal
    methods, optional transparency) decode EXACTLY as an independent
    reference compositor written here from the GIF89a spec."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    colors = [bytes((r, g, b)) for r, g, b in
              [(255, 0, 0), (0, 255, 0), (0, 0, 255), (9, 9, 9), (200, 200, 0)]]

    frame_st = st.fixed_dictionaries(
        {
            "left": st.integers(0, 3),
            "top": st.integers(0, 3),
            "fw": st.integers(1, 4),
            "fh": st.integers(1, 4),
            "disposal": st.sampled_from([0, 1, 2, 3]),
            "color": st.integers(0, 4),
            "transparent": st.booleans(),
        }
    )

    @settings(max_examples=40, deadline=None)
    @given(st.lists(frame_st, min_size=1, max_size=4), st.integers(5, 8), st.integers(5, 8))
    def check(frames_spec, W, H):
        T = (1, 2, 3)
        frames = []
        for fs in frames_spec:
            c = colors[fs["color"]]
            px = bytearray()
            # checker of color and (transparent marker or black)
            other = bytes(T) if fs["transparent"] else b"\x00\x00\x00"
            for i in range(fs["fw"] * fs["fh"]):
                px += c if i % 2 == 0 else other
            frames.append(
                {
                    "pixels": bytes(px),
                    "left": fs["left"],
                    "top": fs["top"],
                    "fw": fs["fw"],
                    "fh": fs["fh"],
                    "disposal": fs["disposal"],
                    "transparent": T if fs["transparent"] else None,
                }
            )
        raw = mediacodec.encode_gif_animation(W, H, frames)
        gw, gh, got, _delays = mediacodec.decode_gif_frames(raw)
        assert (gw, gh) == (W, H)
        # ---- independent reference compositor (GIF89a 23.c + 89a App.) ----
        # background = palette index 0 = the first color the encoder
        # registers, which is frame 0's transparent marker when set
        # (idx_of runs on `transparent` before the pixel loop), else
        # frame 0's first pixel
        bg = (
            bytes(frames[0]["transparent"])
            if frames[0]["transparent"] is not None
            else frames[0]["pixels"][0:3]
        )
        canvas = bytearray(bg * (W * H))
        expect = []
        for fr in frames:
            saved = bytes(canvas) if fr["disposal"] == 3 else None
            for y in range(fr["fh"]):
                cy = fr["top"] + y
                if cy >= H:
                    break
                for x in range(fr["fw"]):
                    cx = fr["left"] + x
                    if cx >= W:
                        continue
                    p = fr["pixels"][3 * (y * fr["fw"] + x) : 3 * (y * fr["fw"] + x) + 3]
                    if fr["transparent"] is not None and p == bytes(fr["transparent"]):
                        continue
                    o = 3 * (cy * W + cx)
                    canvas[o : o + 3] = p
            expect.append(bytes(canvas))
            if fr["disposal"] == 2:
                for y in range(fr["fh"]):
                    cy = fr["top"] + y
                    if cy >= H:
                        break
                    for x in range(fr["fw"]):
                        cx = fr["left"] + x
                        if cx >= W:
                            continue
                        o = 3 * (cy * W + cx)
                        canvas[o : o + 3] = bg
            elif fr["disposal"] == 3:
                canvas = bytearray(saved)
        assert got == expect

    check()


def test_tiff_property_roundtrip():
    """Hypothesis fuzz: arbitrary pixel content, dims, strip heights,
    byte orders and compressions round-trip losslessly."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=40, deadline=None)
    @given(
        st.integers(1, 9),
        st.integers(1, 9),
        st.sampled_from([1, 3]),
        st.booleans(),
        st.booleans(),
        st.integers(1, 6),
        st.randoms(use_true_random=False),
    )
    def check(w, h, ch, pb, be, rps, rng):
        px = bytes(rng.randrange(256) for _ in range(w * h * ch))
        raw = mediacodec.encode_tiff(
            w, h, px, channels=ch, packbits=pb, big_endian=be, rows_per_strip=rps
        )
        assert mediacodec.decode_tiff(raw) == (w, h, ch, px)

    check()


def test_ima_adpcm_header_reports_sample_count():
    """parse_wav_header converts ADPCM blocks to samples (not blocks)."""
    import math

    sig = [int(8000 * math.sin(t / 10)) for t in range(1500)]
    raw = mediacodec.encode_wav_ima_adpcm(8000, sig, block_align=256)
    hdr = mediacodec.parse_wav_header(raw)
    spb = (256 - 4) * 2 + 1  # 505
    import math as _m
    n_blocks = _m.ceil(len(sig) / spb)
    assert hdr["n_samples"] == n_blocks * spb
    _, _, out = mediacodec.decode_wav(raw)
    assert len(out) == hdr["n_samples"]


def test_image_phash_analytic_and_invariances(spark):
    """pHash matches the analytic DCT constants and keeps them under
    brightness changes and 2x upscale (the invariances dHash lacks);
    non-image payloads yield NULL with probed dimensions."""
    ramp32 = mediacodec.encode_png(
        32, 32, bytes(248 - 8 * x for x in range(32)) * 32, 1
    )
    ramp64 = mediacodec.encode_png(
        64, 32, bytes(248 - 8 * (x // 2) for x in range(64)) * 32, 1
    )
    const_a = mediacodec.encode_png(32, 32, bytes([40]) * 1024, 1)
    const_b = mediacodec.encode_png(32, 32, bytes([220]) * 1024, 1)
    vramp = mediacodec.encode_png(
        32, 32, b"".join(bytes([248 - 8 * y]) * 32 for y in range(32)), 1
    )
    df = spark.createDataFrame(
        [(1, ramp32), (2, ramp64), (3, const_a), (4, const_b), (5, vramp),
         (6, b"not an image")],
        "doc_id long, blob binary",
    )
    got = {r.doc_id: r for r in multimodal.image_phash(df).collect()}
    assert got[1].phash == 171 and got[2].phash == 171  # scale-invariant
    assert got[3].phash == 1 and got[4].phash == 1      # brightness-invariant
    assert got[5].phash == 1 + (1 << 8) + (1 << 24) + (1 << 40) + (1 << 56)
    assert got[6].phash is None
    # the hash column is drop-in for the hamming banding pipeline
    from kusto_pre_forge_spark.operators import dedup as dd

    hashes = multimodal.image_phash(df).filter("phash is not null").select(
        "doc_id", "phash"
    )
    pairs = {
        (r.id_a, r.id_b)
        for r in dd.hamming_pairs(
            hashes, "phash", "doc_id", max_hamming=0
        ).collect()
    }
    assert (1, 2) in pairs and (3, 4) in pairs


def test_ocr_text_stub_and_gating(spark):
    """OCR escape hatch: the stub is deterministic over decoded pixels
    (container-independent — the same image as PNG and BMP transcribes
    identically), engine='tesseract' raises naming the missing
    dependency in this container, and non-image blobs refuse loudly."""
    import pytest

    from kusto_pre_forge_spark.operators import mediacodec as MC
    from kusto_pre_forge_spark.operators import multimodal as MM

    px = bytes((i * 7) % 256 for i in range(4 * 4 * 3))
    png = MC.encode_png(4, 4, px, 3)
    df = spark.createDataFrame([(1, png), (2, png)], "doc_id long, blob binary")
    out = {r.doc_id: r for r in MM.ocr_text(df, engine="stub").collect()}
    assert out[1].ocr_text == out[2].ocr_text
    assert out[1].ocr_engine == "stub" and out[1].n_chars == 35
    words = out[1].ocr_text.split(" ")
    assert len(words) == 4 and all(len(w) == 8 for w in words)

    if not MM.ocr_available():
        with pytest.raises(Exception, match="pytesseract"):
            MM.ocr_text(df, engine="tesseract").collect()
        # auto routes to the stub on workers without the dependency
        auto = MM.ocr_text(df, engine="auto").collect()[0]
        assert auto.ocr_engine == "stub"

    bad = spark.createDataFrame(
        [(9, b"\x00\x01not-an-image")], "doc_id long, blob binary"
    )
    with pytest.raises(Exception, match="media_kind"):
        MM.ocr_text(bad, engine="stub").collect()


def test_asr_text_stub_and_gating(spark):
    """ASR escape hatch: deterministic stub over decoded samples,
    whisper gated behind an import-try, non-WAV blobs refuse loudly."""
    import pytest

    from kusto_pre_forge_spark.operators import mediacodec as MC
    from kusto_pre_forge_spark.operators import multimodal as MM

    wav = MC.encode_wav(8000, [100, -200, 300, -400] * 10)
    df = spark.createDataFrame([(1, wav), (2, wav)], "doc_id long, blob binary")
    out = {r.doc_id: r for r in MM.asr_text(df, engine="stub").collect()}
    assert out[1].asr_text == out[2].asr_text
    assert out[1].asr_engine == "stub" and out[1].n_samples == 40
    assert len(out[1].asr_text.split(" ")) == 4

    if not MM.asr_available():
        with pytest.raises(Exception, match="whisper"):
            MM.asr_text(df, engine="whisper").collect()
        assert MM.asr_text(df, engine="auto").collect()[0].asr_engine == "stub"

    bad = spark.createDataFrame([(9, b"not audio")], "doc_id long, blob binary")
    with pytest.raises(Exception):
        MM.asr_text(bad, engine="stub").collect()


def _forge_flac_header(rate=44100, channels=2, bps=16, n=1000):
    si = bytearray(34)
    si[10] = (rate >> 12) & 0xFF
    si[11] = (rate >> 4) & 0xFF
    si[12] = ((rate & 0xF) << 4) | ((channels - 1) << 1) | (((bps - 1) >> 4) & 1)
    si[13] = ((bps - 1) & 0xF) << 4
    si[14:18] = n.to_bytes(4, "big")
    return b"fLaC" + bytes([0x00, 0, 0, 34]) + bytes(si)


def test_compressed_audio_probes():
    """MP3/OGG/FLAC container headers parse dependency-free (the
    WebP-tag posture): probe_bytes identifies them with rate/channels
    where the header carries them, so routing and datacards see the
    corpus even where the pyav decode hatch is closed."""
    from kusto_pre_forge_spark.operators import mediacodec as mc

    flac = mc.probe_bytes(_forge_flac_header())
    assert flac["media_kind"] == "flac"
    assert (flac["sample_rate"], flac["channels"], flac["bits_per_sample"],
            flac["n_samples"]) == (44100, 2, 16, 1000)
    mp3 = mc.probe_bytes(b"\xff\xfb\x90\x00" + b"\x00" * 32)
    assert mp3["media_kind"] == "mp3" and mp3["sample_rate"] == 44100
    id3 = mc.probe_bytes(
        b"ID3\x04\x00\x00\x00\x00\x00\x0a" + b"\x00" * 10 + b"\xff\xf3\x90\xc0"
    )
    assert id3["media_kind"] == "mp3"
    assert id3["sample_rate"] == 22050  # MPEG-2: half the MPEG-1 rate
    ogg = mc.probe_bytes(
        b"OggS" + b"\x00" * 22 + b"\x01\x1e" + b"\x01vorbis"
        + bytes([0, 0, 0, 0, 2]) + (22050).to_bytes(4, "little") + b"\x00" * 8
    )
    assert ogg["media_kind"] == "ogg"
    assert (ogg["channels"], ogg["sample_rate"]) == (2, 22050)
    # plain text / random bytes never classify as audio
    assert mc.probe_bytes(b"hello world, plain text")["media_kind"] == "unknown"


def test_compressed_audio_refusal_names_the_hatch(spark):
    """MP3 without the pyav wheel: asr_text refuses NAMING the hatch;
    audio_fingerprint yields the NULL-fp soft row (header surfaced)."""
    import pytest as _pt

    if multimodal.pyav_available():
        _pt.skip("pyav present: the hatch is open, refusal unreachable")
    mp3 = b"\xff\xfb\x90\x00" + b"\x00" * 64
    df = spark.createDataFrame([(1, mp3)], "doc_id long, blob binary")
    with _pt.raises(Exception, match="pyav|install av"):
        multimodal.asr_text(df, engine="stub").collect()
    rows = multimodal.audio_fingerprint(df).collect()
    assert len(rows) == 1 and rows[0].afp is None
    assert rows[0].sample_rate == 44100  # the header still surfaced


def test_compressed_audio_pyav_route(spark):
    """Env-gated (runs where `pip install av` happened): an MP3/FLAC
    twin of a PCM waveform fingerprints within a few Hamming bits of
    the WAV original — the decode_audio_any contract equivalence."""
    import pytest as _pt

    if not multimodal.pyav_available():
        _pt.skip("pyav not installed in this environment")
    import io as _io

    import av
    import numpy as np

    from kusto_pre_forge_spark.operators import mediacodec as mc

    rate, n = 8000, 8000
    t = np.arange(n) / rate
    wave = (0.5 * np.sin(2 * np.pi * 440 * t) * (t < 0.5)).astype(np.float32)
    buf = _io.BytesIO()
    with av.open(buf, "w", format="mp3") as out:
        stream = out.add_stream("mp3", rate=rate)
        frame = av.AudioFrame.from_ndarray(
            wave[None, :], format="flt", layout="mono"
        )
        frame.sample_rate = rate
        for pkt in stream.encode(frame):
            out.mux(pkt)
        for pkt in stream.encode(None):
            out.mux(pkt)
    mp3 = buf.getvalue()
    r, ch, samples = multimodal.decode_audio_any(mp3)
    assert r == rate and len(samples) > n // 2
    wav = mc.encode_wav(rate, [int(x * 32767) for x in wave])
    df = spark.createDataFrame(
        [(1, wav), (2, mp3)], "doc_id long, blob binary"
    )
    fps = {row.doc_id: row.afp for row in multimodal.audio_fingerprint(df).collect()}
    assert fps[1] is not None and fps[2] is not None
    ham = bin((fps[1] ^ fps[2]) & ((1 << 64) - 1)).count("1")
    assert ham <= 8, ham


def test_tiff_orientation_normalizes_decode():
    """A TIFF's own IFD0 Orientation tag (274) gets the same upright
    normalization as the JPEG APP1 route — all 8 values, both byte
    orders, exact pixel equality (TIFF is lossless)."""
    w, h = 4, 2
    px = bytes(range(8))
    for o in range(1, 9):
        for be in (False, True):
            t = mediacodec.encode_tiff(
                w, h, px, 1, big_endian=be, orientation=o
            )
            if o != 1:
                assert mediacodec._tiff_orientation(t) == o
            assert mediacodec.decode_image(t) == \
                mediacodec.apply_exif_orientation(w, h, 1, px, o), (o, be)
    # untagged fixture unchanged (decode_tiff == decode_image)
    base = mediacodec.encode_tiff(w, h, px, 1)
    assert mediacodec.decode_image(base) == mediacodec.decode_tiff(base)


def test_png_and_webp_exif_orientation():
    """The orientation story closes across EVERY container that can
    carry the tag: PNG's eXIf chunk and WebP's VP8X EXIF chunk (raw
    TIFF or Exif\\x00\\x00-prefixed) normalize through decode_image
    exactly like JPEG APP1 and TIFF IFD0."""
    import struct
    import zlib

    from kusto_pre_forge_spark.operators import webp as W

    w, h = 4, 2
    px = bytes(range(8))
    png = mediacodec.encode_png(w, h, px, 1)

    def png_tagged(o):
        tiff = mediacodec.exif_app1(o)[10:]
        chunk = struct.pack(">I", len(tiff)) + b"eXIf" + tiff
        chunk += struct.pack(">I", zlib.crc32(b"eXIf" + tiff) & 0xFFFFFFFF)
        at = 8 + 12 + 13  # after IHDR
        return png[:at] + chunk + png[at:]

    rgba = bytes(range(32))
    src = W.encode_webp_vp8l(4, 2, 4, rgba)
    vp8l = next(b for t_, b in W._webp_chunks(src) if t_ == b"VP8L")

    def webp_tagged(o, prefixed):
        tiff = mediacodec.exif_app1(o)[10:]
        body = (b"Exif\x00\x00" + tiff) if prefixed else tiff
        vp8x = (
            bytes([0x08, 0, 0, 0])
            + (3).to_bytes(3, "little")
            + (1).to_bytes(3, "little")
        )
        payload = b"VP8X" + len(vp8x).to_bytes(4, "little") + vp8x
        payload += b"VP8L" + len(vp8l).to_bytes(4, "little") + vp8l
        if len(vp8l) & 1:
            payload += b"\x00"
        payload += b"EXIF" + len(body).to_bytes(4, "little") + body
        if len(body) & 1:
            payload += b"\x00"
        return (
            b"RIFF" + (4 + len(payload)).to_bytes(4, "little")
            + b"WEBP" + payload
        )

    for o in range(1, 9):
        t_ = png_tagged(o)
        assert mediacodec.image_exif_orientation(t_) == o
        assert mediacodec.decode_image(t_) == \
            mediacodec.apply_exif_orientation(w, h, 1, px, o), ("png", o)
        for prefixed in (False, True):
            wb = webp_tagged(o, prefixed)
            assert mediacodec.image_exif_orientation(wb) == o
            assert mediacodec.decode_image(wb) == \
                mediacodec.apply_exif_orientation(4, 2, 4, rgba, o), (
                    "webp", o, prefixed)
    # untagged files decode unchanged
    assert mediacodec.decode_image(png) == mediacodec.decode_png(png)
    assert mediacodec.decode_image(src) == W.decode_webp(src)
    assert mediacodec.image_exif_orientation(b"\x00\x01") == 1


# ------------------------------------------------------- AVIF / HEIC

from kusto_pre_forge_spark.operators import mediacodec as mc  # noqa: E402


def test_heif_probe_brands_dims_and_mp4_disambiguation():
    """AVIF/HEIC visibility (the lossy-WebP playbook, r14): ftyp brands
    classify, the LARGEST meta/iprp/ipco/ispe wins (thumbnails carry
    their own), and plain MP4 keeps probing as mp4 — both containers
    start with ftyp, brands disambiguate."""
    avif = mc.encode_heif_meta(640, 480, brand=b"avif", thumb=(64, 48))
    got = mc.parse_heif_header(avif)
    assert got["media_kind"] == "avif"
    assert (got["width"], got["height"]) == (640, 480)
    assert mc.probe_bytes(avif)["media_kind"] == "avif"
    assert mc.parse_mp4_header(avif) is None  # heif never probes as mp4

    heic = mc.encode_heif_meta(320, 200, brand=b"heic")
    assert mc.probe_bytes(heic)["media_kind"] == "heic"

    # animated AVIF brand + structural-only major brand
    assert mc.parse_heif_header(
        mc.encode_heif_meta(8, 8, brand=b"avis")
    )["media_kind"] == "avif"
    # mif1 major with an avif compatible brand → avif (any avif wins)
    import struct as _s

    def _box(t, b):
        return _s.pack(">I", 8 + len(b)) + t + b

    mif = _box(b"ftyp", b"mif1" + b"\x00" * 4 + b"mif1avif") + mc.encode_heif_meta(4, 4)[len(_box(b"ftyp", b"avif" + b"\x00" * 4 + b"avifmif1")):]
    assert mc._heif_kind(mif) == "avif"
    # bare structural brand classifies heic
    bare = _box(b"ftyp", b"mif1" + b"\x00" * 4 + b"mif1")
    assert mc._heif_kind(bare) == "heic"

    # a real mp4 still probes as mp4 with its track dims
    mp4 = mc.encode_mp4_meta(640, 360, 2500, 1000)
    assert mc.probe_bytes(mp4)["media_kind"] == "mp4"
    # truncated / non-bmff bytes refuse quietly
    assert mc.parse_heif_header(avif[:10]) is None
    assert mc.parse_heif_header(b"\x00" * 64) is None


def test_heif_front_door_tag():
    """The mixed-dump front door tags AVIF/HEIC by content (extensions
    lie in a crawl) instead of hiding them as 'binary'; plain MP4 stays
    binary (media, not a document)."""
    from kusto_pre_forge_spark.sources.autoextract import (
        extract_auto,
        sniff_format,
    )

    avif = mc.encode_heif_meta(16, 8, brand=b"avif")
    heic = mc.encode_heif_meta(16, 8, brand=b"heix")
    assert sniff_format(avif) == "avif"
    assert sniff_format(heic) == "heic"
    assert extract_auto(avif) == ("avif", None)
    assert extract_auto(heic) == ("heic", None)
    mp4 = mc.encode_mp4_meta(640, 360, 2500, 1000)
    assert sniff_format(mp4) == "binary"


def test_heif_decode_refusal_names_the_hatch():
    from kusto_pre_forge_spark.operators import multimodal

    if multimodal.pyav_available():
        pytest.skip("pyav present: the hatch is open, refusal unreachable")
    blob = mc.encode_heif_meta(16, 8, brand=b"avif")
    with pytest.raises(NotImplementedError, match="pyav|install av"):
        mc.decode_image(blob)
    assert not mc.decodable_image(blob)  # NULL-row path, not a crash


def test_heif_routes_through_pyav_stub(monkeypatch):
    """The hatch is ROUTED, not just named: with an importable ``av``,
    decode_image hands the WHOLE container to pyav, returns its RGBA
    frame, and decodable_image flips to True (the decode_webp stub-pin
    convention — the real-decoder twin is env-gated below)."""
    import sys
    import types

    import numpy as np

    w, h = 16, 8
    rgba = np.arange(w * h * 4, dtype=np.uint8).reshape(h, w, 4)

    class _Frame:
        def to_ndarray(self, format):
            assert format == "rgba"
            return rgba

    class _Container:
        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

        def decode(self, video=0):
            yield _Frame()

    captured = {}
    fake = types.ModuleType("av")

    def _open(buf):
        captured["raw"] = buf.read()
        return _Container()

    fake.open = _open
    monkeypatch.setitem(sys.modules, "av", fake)

    blob = mc.encode_heif_meta(w, h, brand=b"avif")
    dw, dh, ch, px = mc.decode_image(blob)
    assert (dw, dh, ch) == (w, h, 4)
    assert px == rgba.tobytes()
    assert captured["raw"] == blob  # the whole container reaches pyav
    assert mc.decodable_image(blob)

    # an irot=1 (90° CCW display) container comes back upright —
    # dims swap and pixels equal the CCW-rotated stub frame
    rot = mc.encode_heif_meta(w, h, brand=b"avif", irot=1)
    dw, dh, ch, px = mc.decode_image(rot)
    assert (dw, dh) == (h, w)
    assert px == np.ascontiguousarray(np.rot90(rgba, 1)).tobytes()


def test_heif_display_orientation_full_matrix():
    """Every irot × imir combination maps to the EXIF code whose
    apply_exif_orientation output equals the numpy reference
    composition mirror(rot90ccw^k(a)) — ISO 23008-12 applies rotation
    before mirror."""
    import numpy as np

    w, h = 6, 4
    a = np.arange(w * h * 3, dtype=np.uint8).reshape(h, w, 3)

    for irot in (None, 0, 1, 2, 3):
        for imir in (None, 0, 1):
            blob = mc.encode_heif_meta(
                w, h, brand=b"avif", irot=irot, imir=imir
            )
            code = mc.heif_display_orientation(blob)
            got_w, got_h, _, got_px = mc.apply_exif_orientation(
                w, h, 3, a.tobytes(), code
            )
            exp = np.rot90(a, irot or 0)
            if imir == 0:
                exp = exp[:, ::-1]
            elif imir == 1:
                exp = exp[::-1, :]
            assert (got_h, got_w) == exp.shape[:2], (irot, imir, code)
            assert got_px == np.ascontiguousarray(exp).tobytes(), (
                irot, imir, code,
            )


def test_heif_real_pyav_twin():
    """Env-gated twin of the stub pin: where the real pyav wheel is
    present, a forged AVIF round-trips through the actual decoder."""
    from kusto_pre_forge_spark.operators import multimodal

    if not multimodal.pyav_available():
        pytest.skip("pyav absent (expected in this container)")
    import io

    import av
    import numpy as np

    # encode a real one-frame AV1 stream via pyav itself, then decode
    # through decode_image's route
    buf = io.BytesIO()
    try:
        with av.open(buf, "w", format="avif") as c:
            stream = c.add_stream("av1", rate=1)
            stream.width, stream.height = 16, 8
            frame = av.VideoFrame.from_ndarray(
                np.zeros((8, 16, 3), dtype=np.uint8), format="rgb24"
            )
            for pkt in stream.encode(frame):
                c.mux(pkt)
            for pkt in stream.encode():
                c.mux(pkt)
    except Exception:
        pytest.skip("this pyav build cannot encode AV1/AVIF")
    blob = buf.getvalue()
    if mc._heif_kind(blob) is None:
        pytest.skip("pyav avif muxer emitted a non-heif container")
    dw, dh, ch, _ = mc.decode_image(blob)
    assert (dw, dh, ch) == (16, 8, 4)


# ------------------------------------- EXIF wiring equality (r14)


def _png_tagged(png: bytes, o: int) -> bytes:
    import struct
    import zlib

    tiff = mc.exif_app1(o)[10:]
    chunk = struct.pack(">I", len(tiff)) + b"eXIf" + tiff
    chunk += struct.pack(">I", zlib.crc32(b"eXIf" + tiff) & 0xFFFFFFFF)
    at = 8 + 12 + 13  # after IHDR
    return png[:at] + chunk + png[at:]


def _webp_tagged(vp8l_src: bytes, o: int) -> bytes:
    from kusto_pre_forge_spark.operators import webp as W

    vp8l = next(b for t_, b in W._webp_chunks(vp8l_src) if t_ == b"VP8L")
    tiff = mc.exif_app1(o)[10:]
    vp8x = (
        bytes([0x08, 0, 0, 0])
        + (3).to_bytes(3, "little")
        + (1).to_bytes(3, "little")
    )
    payload = b"VP8X" + len(vp8x).to_bytes(4, "little") + vp8x
    payload += b"VP8L" + len(vp8l).to_bytes(4, "little") + vp8l
    if len(vp8l) & 1:
        payload += b"\x00"
    payload += b"EXIF" + len(tiff).to_bytes(4, "little") + tiff
    if len(tiff) & 1:
        payload += b"\x00"
    return (
        b"RIFF" + (4 + len(payload)).to_bytes(4, "little")
        + b"WEBP" + payload
    )


def test_exif_wiring_equality_across_entry_points(spark):
    """r14 wiring pins: NO image entry point bypasses orientation
    normalization. A capture stored 180°-rotated with an EXIF/eXIf tag
    must produce byte-identical results to its upright twin through
    resize_image, decode_image_features, ocr_text, and the WebP frame
    paths (video_frame_dhash + sample_frames)."""
    import numpy as np

    w, h = 4, 2
    up = bytes(range(8))
    stored = up[::-1]  # gray 180° = byte reverse
    png_up = mc.encode_png(w, h, up, 1)
    png_rot = _png_tagged(mc.encode_png(w, h, stored, 1), 3)

    def one(blob):
        return spark.createDataFrame([(1, bytearray(blob))],
                                     "doc_id long, blob binary")

    def rowdict(df):
        r = df.collect()[0].asDict()
        r.pop("doc_id", None)
        # the raw-container hash differs by design (different bytes on
        # disk); every PIXEL-derived field must agree
        r.pop("content_sha", None)
        return r

    feats_up = rowdict(multimodal.decode_image_features(one(png_up)))
    feats_rot = rowdict(multimodal.decode_image_features(one(png_rot)))
    assert feats_up == feats_rot

    rs_up = rowdict(multimodal.resize_image(one(png_up), 2, 1))
    rs_rot = rowdict(multimodal.resize_image(one(png_rot), 2, 1))
    assert rs_up == rs_rot

    ocr_up = rowdict(multimodal.ocr_text(one(png_up), engine="stub"))
    ocr_rot = rowdict(multimodal.ocr_text(one(png_rot), engine="stub"))
    assert ocr_up == ocr_rot

    # WebP frame paths: still VP8L container, EXIF chunk orients the
    # composited frame the same way decode_image does
    from kusto_pre_forge_spark.operators import webp as W

    rgba_up = bytes(range(32))
    rgba_stored = (
        np.frombuffer(rgba_up, np.uint8)
        .reshape(2, 4, 4)[::-1, ::-1]
        .tobytes()
    )
    webp_up = W.encode_webp_vp8l(4, 2, 4, rgba_up)
    webp_rot = _webp_tagged(W.encode_webp_vp8l(4, 2, 4, rgba_stored), 3)
    vd_up = rowdict(multimodal.video_frame_dhash(one(webp_up)))
    vd_rot = rowdict(multimodal.video_frame_dhash(one(webp_rot)))
    assert vd_up == vd_rot

    sf_up = rowdict(multimodal.sample_frames(one(webp_up), every_n=1))
    sf_rot = rowdict(multimodal.sample_frames(one(webp_rot), every_n=1))
    assert sf_up == sf_rot


def test_avi_mjpeg_frames_apply_per_frame_exif():
    """MJPEG-in-AVI video frames honor a per-frame JPEG Orientation
    tag: iter_avi_frames yields the upright view (dims swap for 90°),
    equal to apply_exif_orientation over the raw frame decode."""
    w, h = 16, 8
    px = bytes((x * 7) % 256 for x in range(w * h))
    frame = mc.encode_jpeg(w, h, px, 1)
    assert frame[:2] == b"\xff\xd8"
    tagged = frame[:2] + mc.exif_app1(6) + frame[2:]
    assert mc.parse_exif_orientation(tagged) == 6
    avi = mc.encode_avi_mjpeg(w, h, [tagged], fps=4)
    frames = list(mc.iter_avi_frames(avi))
    assert len(frames) == 1
    idx, fw, fh, ch, fpx = frames[0]
    assert (fw, fh) == (h, w)  # orientation 6 swaps dims
    exp = mc.apply_exif_orientation(*mc.decode_jpeg(tagged), 6)
    assert (fw, fh, ch, fpx) == exp
