"""Multimodal plumbing, generators + validators, counters."""

import pytest
from pyspark.sql import functions as F

from hadoop_main_spark.functions.counters import Counters, count_matching
from hadoop_main_spark.operators import multimodal as MM
from hadoop_main_spark.sources.generators import random_text_writer, teragen, validate_sorted
from hadoop_main_spark.tables import load_table


def test_media_table_schema(spark, sf_dir):
    media = MM.media_table_from_documents(load_table(spark, sf_dir, "documents"))
    assert [f.name for f in media.schema.fields] == [
        "media_id", "media_type", "payload", "meta_format", "meta_width", "meta_height",
    ]
    assert dict(media.dtypes)["payload"] == "binary"
    types = {r.media_type for r in media.select("media_type").distinct().collect()}
    assert types <= {"image", "audio", "video"}


def test_extract_features_stub(spark, sf_dir):
    media = MM.media_table_from_documents(load_table(spark, sf_dir, "documents"))
    feats = MM.extract_features(media, decoder="stub", dim=8)
    rows = feats.limit(10).collect()
    assert all(len(r.features) == 8 for r in rows)
    assert all(0.0 <= x < 1.0 for r in rows for x in r.features)
    # deterministic: same payload → same features
    again = {r.media_id: r.features for r in MM.extract_features(media, dim=8).limit(10).collect()}
    for r in rows:
        assert again[r.media_id] == r.features


def test_real_decoder_raises(spark, sf_dir):
    media = MM.media_table_from_documents(load_table(spark, sf_dir, "documents"))
    with pytest.raises(NotImplementedError):
        MM.extract_features(media, decoder="pillow")


def test_frame_sample_shape(spark, sf_dir):
    media = MM.media_table_from_documents(load_table(spark, sf_dir, "documents"))
    frames = MM.frame_sample_stub(media, every_n=1)
    assert frames.columns == ["media_id", "frame_idx"]
    assert frames.count() > 0


def test_y4m_roundtrip_all_colorspaces():
    """Pure-Python Y4M codec contract: C444 / C420jpeg / Cmono
    encode->decode round-trips bit-exactly, header defaults apply,
    malformed streams raise."""
    import numpy as np

    rng = np.random.default_rng(7)

    def mk(h, w):
        return rng.integers(0, 256, (h, w), dtype=np.uint8)

    # C444: three full-res planes
    fr444 = [(mk(6, 8), mk(6, 8), mk(6, 8)) for _ in range(3)]
    w, h, fps, cs, got = MM._y4m_decode(
        MM._y4m_encode(fr444, rate=(30, 1), colorspace="C444")
    )
    assert (w, h, fps, cs) == (8, 6, (30, 1), "C444")
    for a, b in zip(fr444, got):
        assert all((x == y).all() for x, y in zip(a, b))
    # C420jpeg: subsampled chroma geometry
    fr420 = [(mk(6, 8), mk(3, 4), mk(3, 4)) for _ in range(2)]
    w, h, _fps, cs, got = MM._y4m_decode(MM._y4m_encode(fr420))
    assert (w, h, cs) == (8, 6, "C420jpeg")
    for a, b in zip(fr420, got):
        assert all((x == y).all() for x, y in zip(a, b))
    # Cmono: Y only, decode pads (y, None, None)
    frm = [(mk(5, 7), None, None) for _ in range(4)]
    w, h, _fps, cs, got = MM._y4m_decode(MM._y4m_encode(frm, colorspace="Cmono"))
    assert (w, h, cs) == (7, 5, "Cmono")
    assert got[2][1] is None and (got[2][0] == frm[2][0]).all()
    # spec default: header with no C tag decodes as C420jpeg
    blob = MM._y4m_encode(fr420)
    no_c = blob.replace(b" C420jpeg", b"", 1)
    assert MM._y4m_decode(no_c)[3] == "C420jpeg"
    # malformed inputs raise
    with pytest.raises(ValueError, match="magic"):
        MM._y4m_decode(b"JUNK W8 H6\nFRAME\n")
    with pytest.raises(ValueError, match="truncated"):
        MM._y4m_decode(blob[:-5])
    with pytest.raises(ValueError, match="even"):
        MM._y4m_encode([(mk(5, 7), mk(2, 3), mk(2, 3))], colorspace="C420jpeg")
    with pytest.raises(ValueError, match="planes"):
        MM._y4m_encode([(mk(6, 8), None, None)], colorspace="C444")


def test_frame_sample_real_y4m_and_bad_records(spark):
    """frame_sample parses real Y4M payloads (every_n stride, plane
    means, per-frame digest) and skips malformed payloads instead of
    failing the task."""
    import numpy as np

    y = np.arange(48, dtype=np.uint8).reshape(6, 8)
    fr = [(y + i, np.full((3, 4), 10 * i, np.uint8), np.full((3, 4), 7, np.uint8))
          for i in range(5)]
    good = MM._y4m_encode(fr)
    rows = [(1, bytearray(good)), (2, bytearray(b"not a video")), (3, None)]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    got = MM.frame_sample(media, every_n=2).orderBy("frame_idx").collect()
    assert [(r.media_id, r.frame_idx) for r in got] == [(1, 0), (1, 2), (1, 4)]
    assert got[1].y_mean == float((y + 2).mean()) and got[1].cb_mean == 20.0
    assert got[0].frame_digest != got[2].frame_digest
    assert (got[0].width, got[0].height) == (8, 6)


def test_avi_mjpeg_roundtrip_and_bad_records(spark):
    """MJPEG-AVI codec contract: RIFF assembly/walk round-trips the
    frame payloads through the real JPEG codec (q100 constant blocks
    = pixel-exact), header fields survive, malformed containers raise
    / skip as bad records."""
    import numpy as np

    frames_px = []
    frames_jpg = []
    for i in range(4):
        arr = np.full((16, 24), 40 * i + 17, dtype=np.uint8)
        frames_px.append(arr)
        frames_jpg.append(MM._jpeg_encode(arr, quality=100))
    blob = MM._avi_mjpeg_encode(frames_jpg, 24, 16, fps=30)
    w, h, fps, got = MM._avi_mjpeg_decode(blob)
    assert (w, h, fps, len(got)) == (24, 16, 30, 4)
    for a, b in zip(frames_px, got):
        assert b.shape == (16, 24, 1) and (b[:, :, 0] == a).all()
    with pytest.raises(ValueError, match="magic"):
        MM._avi_mjpeg_decode(b"RIFF\x04\x00\x00\x00WAVE")
    with pytest.raises(ValueError, match="truncated"):
        MM._avi_mjpeg_decode(blob[:-20])
    # short avih chunk must surface as ValueError (struct.error would
    # escape the bad-record handler and kill the task — review-r6)
    import struct

    short_avih = (
        b"RIFF" + struct.pack("<I", 4 + 12 + 12) + b"AVI "
        + b"LIST" + struct.pack("<I", 4 + 12) + b"hdrl"
        + b"avih" + struct.pack("<I", 4) + b"\x00\x00\x00\x00"
    )
    with pytest.raises(ValueError, match="malformed AVI header"):
        MM._avi_mjpeg_decode(short_avih)
    # frames nested in the spec's 'rec ' interleave-grouping LISTs
    # (classic VfW muxers) must still be found
    def chunk(cid, body):
        return cid + struct.pack("<I", len(body)) + body + (b"\x00" if len(body) % 2 else b"")

    movi_start = blob.index(b"movi")
    movi_size = struct.unpack("<I", blob[movi_start - 4 : movi_start])[0]
    bare = blob[movi_start + 4 : movi_start + 4 + (movi_size - 4)]
    rec_movi = b"movi" + chunk(b"LIST", b"rec " + bare)
    rec_blob = (
        blob[: movi_start - 8]
        + chunk(b"LIST", rec_movi)
        + blob[movi_start + 4 + (movi_size - 4) + (movi_size % 2) :]
    )
    rec_blob = b"RIFF" + struct.pack("<I", len(rec_blob) - 8) + rec_blob[8:]
    assert len(MM._avi_mjpeg_decode(rec_blob)[3]) == 4
    # odd-length jpeg payload exercises the even-pad path
    odd = MM._jpeg_encode(np.full((8, 8), 3, np.uint8), quality=100)
    if len(odd) % 2 == 0:
        odd += b""  # already even: pad path covered by frames above
    blob2 = MM._avi_mjpeg_encode([odd, odd], 8, 8)
    assert len(MM._avi_mjpeg_decode(blob2)[3]) == 2
    # Spark path: sampling stride + bad-record skip
    rows = [(1, bytearray(blob)), (2, bytearray(b"garbage")), (3, None)]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    out = MM.avi_frame_sample(media, every_n=3).orderBy("frame_idx").collect()
    assert [(r.media_id, r.frame_idx) for r in out] == [(1, 0), (1, 3)]
    assert out[0].px_mean == 17.0 and out[1].px_mean == 137.0


def test_bmp_roundtrip_both_depths():
    """BMP codec contract: 24-bit BGR and 8-bit palette round-trips
    (incl. non-multiple-of-4 widths exercising stride padding),
    top-down negative-height decode, malformed/compressed raise."""
    import struct

    import numpy as np

    rng = np.random.default_rng(5)
    rgb = rng.integers(0, 256, (7, 5, 3), dtype=np.uint8)  # stride pad: 5*3=15->16
    assert (MM._bmp_decode(MM._bmp_encode(rgb)) == rgb).all()
    pal = rng.integers(0, 256, (64, 3), dtype=np.uint8)
    idx = rng.integers(0, 64, (6, 9), dtype=np.uint8)  # stride pad: 9->12
    assert (MM._bmp_decode(MM._bmp_encode(idx, palette=pal)) == pal[idx]).all()
    # top-down variant: negate the height field in a 24-bit encode and
    # pre-flip the rows; decode must yield the same image
    blob = bytearray(MM._bmp_encode(rgb[::-1]))
    blob[22:26] = struct.pack("<i", -7)
    assert (MM._bmp_decode(bytes(blob)) == rgb).all()
    with pytest.raises(ValueError, match="magic"):
        MM._bmp_decode(b"PM" + bytes(60))
    with pytest.raises(ValueError, match="truncated"):
        MM._bmp_decode(MM._bmp_encode(rgb)[:-8])
    rle = bytearray(MM._bmp_encode(idx, palette=pal))
    rle[30:34] = struct.pack("<I", 1)  # BI_RLE8
    with pytest.raises(ValueError, match="BI_RGB"):
        MM._bmp_decode(bytes(rle))
    assert MM._bmp_features(b"junk", 3) == [0.0, 0.0, 0.0]


def test_tiff_roundtrip_both_endians():
    """TIFF codec contract: gray + RGB round-trips in BOTH byte
    orders (II/MM — SHORT inline values must sit in the first two
    bytes either way), multi-strip layouts, compressed/exotic raise."""
    import struct

    import numpy as np

    rng = np.random.default_rng(3)
    gray = rng.integers(0, 256, (13, 7), dtype=np.uint8)  # 2 strips at rps=8
    rgb = rng.integers(0, 256, (9, 5, 3), dtype=np.uint8)
    for be in (False, True):
        g = MM._tiff_decode(MM._tiff_encode(gray, big_endian=be))
        assert g.shape == (13, 7, 1) and (g[:, :, 0] == gray).all()
        c = MM._tiff_decode(MM._tiff_encode(rgb, big_endian=be, rows_per_strip=2))
        assert (c == rgb).all()
    with pytest.raises(ValueError, match="byte-order"):
        MM._tiff_decode(b"XX\x2a\x00" + bytes(20))
    with pytest.raises(ValueError, match="truncated"):
        MM._tiff_decode(MM._tiff_encode(gray)[:-5])
    blob = bytearray(MM._tiff_encode(gray))
    # flip Compression (tag 259) to LZW=5: find its entry and patch
    n = struct.unpack("<H", blob[8:10])[0]
    for i in range(n):
        base = 10 + i * 12
        if struct.unpack("<H", blob[base : base + 2])[0] == 259:
            blob[base + 8 : base + 10] = struct.pack("<H", 5)
    with pytest.raises(ValueError, match="uncompressed"):
        MM._tiff_decode(bytes(blob))
    assert MM._tiff_features(b"junk", 2) == [0.0, 0.0]
    # decode_to_rgb canonicalization includes tiff
    assert (MM.decode_to_rgb("tiff", MM._tiff_encode(rgb)) == rgb).all()
    # photometric handling: WhiteIsZero inverts, palette raises
    def patch_tag(blob, tag, value):
        b2 = bytearray(blob)
        n = struct.unpack("<H", b2[8:10])[0]
        for i in range(n):
            base = 10 + i * 12
            if struct.unpack("<H", b2[base : base + 2])[0] == tag:
                b2[base + 8 : base + 10] = struct.pack("<H", value)
        return bytes(b2)

    gblob = MM._tiff_encode(gray)
    inv = MM._tiff_decode(patch_tag(gblob, 262, 0))
    assert (inv[:, :, 0] == 255 - gray).all()
    with pytest.raises(ValueError, match="photometric"):
        MM._tiff_decode(patch_tag(gblob, 262, 3))
    with pytest.raises(ValueError, match="non-empty"):
        MM._tiff_encode(np.zeros((0, 5), np.uint8))


def test_decode_to_rgb_canonicalizes_depth_and_channels():
    """review-r6d: 16-bit PNGs keep the HIGH byte through decode_to_rgb
    (truncating to the low byte collapsed distinct images into false
    duplicates) and gray+alpha PNGs canonicalize to the gray plane
    as a proper (h, w, 3) array."""
    import zlib

    import numpy as np

    def chunk(cid, body):
        return (
            len(body).to_bytes(4, "big") + cid + body
            + (zlib.crc32(cid + body) & 0xFFFFFFFF).to_bytes(4, "big")
        )

    def png_raw(arr16_or_ga, depth, color_type):
        h, w = arr16_or_ga.shape[:2]
        ch = 1 if arr16_or_ga.ndim == 2 else arr16_or_ga.shape[2]
        ihdr = (
            w.to_bytes(4, "big") + h.to_bytes(4, "big")
            + bytes([depth, color_type, 0, 0, 0])
        )
        if depth == 16:
            be = arr16_or_ga.reshape(h, w, ch).astype(">u2").tobytes()
            stride = w * ch * 2
        else:
            be = arr16_or_ga.reshape(h, w, ch).astype(np.uint8).tobytes()
            stride = w * ch
        rows = b"".join(
            b"\x00" + be[r * stride : (r + 1) * stride] for r in range(h)
        )
        return (
            MM._PNG_SIG + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(rows)) + chunk(b"IEND", b"")
        )

    hi = (np.arange(1, 5, dtype=np.uint16).reshape(2, 2) << 8)
    got = MM.decode_to_rgb("png", png_raw(hi, 16, 0))
    assert got.shape == (2, 2, 3) and got[:, :, 0].tolist() == [[1, 2], [3, 4]]
    # two distinct 16-bit images with equal LOW bytes must not collide
    other = hi + (7 << 8)
    assert (
        MM.decode_to_rgb("png", png_raw(other, 16, 0)) != got
    ).any()
    # gray+alpha (color type 4): gray plane replicates, alpha dropped
    ga = np.dstack(
        [np.full((3, 3), 9, np.uint8), np.full((3, 3), 200, np.uint8)]
    )
    got2 = MM.decode_to_rgb("png", png_raw(ga, 8, 4))
    assert got2.shape == (3, 3, 3) and (got2 == 9).all()


def test_gif_roundtrip_and_lzw_stress():
    """GIF89a codec contract: palette round-trip (plain + interlaced),
    LZW dictionary growth to 12-bit and clear-on-full, malformed
    streams raise."""
    import numpy as np

    rng = np.random.default_rng(11)
    pal = np.stack([np.arange(256)] * 3, axis=1).astype(np.uint8)  # gray ramp
    # random 90x130 noise forces dictionary growth (and with 256
    # colors, the 4096-entry reset path on the second copy)
    img = rng.integers(0, 256, (90, 130), dtype=np.uint8)
    for interlace in (False, True):
        blob = MM._gif_encode([img], pal, interlace=interlace)
        frames, _ = MM._gif_decode(blob)
        assert len(frames) == 1 and frames[0].shape == (90, 130, 3)
        assert (frames[0][:, :, 0] == img).all()  # gray palette: R == index
        assert (frames[0][:, :, 1] == img).all()
    # small palette -> small min-code-size path
    pal4 = np.array([[0, 0, 0], [255, 0, 0], [0, 255, 0], [0, 0, 255]], np.uint8)
    idx = (np.add.outer(np.arange(9), np.arange(13)) % 4).astype(np.uint8)
    fr, _ = MM._gif_decode(MM._gif_encode([idx], pal4))
    assert (fr[0] == pal4[idx]).all()
    with pytest.raises(ValueError, match="magic"):
        MM._gif_decode(b"GIF90a" + b"\x00" * 20)
    blob = MM._gif_encode([img], pal)
    with pytest.raises(ValueError):
        MM._gif_decode(blob[:-10])
    # truncation at STRUCTURAL boundaries must normalize to ValueError
    # (struct.error/IndexError would escape the bad-record handlers)
    desc = blob.index(b"\x2c", 13)
    for cut in (desc + 1, desc + 5, 14):  # mid-descriptor, mid-rect, post-magic
        with pytest.raises(ValueError):
            MM._gif_decode(blob[:cut])
    # frame-count bound: a tiny-canvas bomb of many frames stops at
    # max_frames (bounded object overhead AND skipped LZW cost) instead
    # of ballooning past the pixel-volume cap
    one = np.zeros((1, 1), np.uint8)
    bomb = MM._gif_encode([one] * 40, pal)
    got8, _ = MM._gif_decode(bomb, max_frames=8)
    assert len(got8) == 8
    # delays validation + GCE delay scope (stale delay must not leak)
    with pytest.raises(ValueError, match="delays"):
        MM._gif_encode([one, one], pal, delays_cs=[4])
    two = MM._gif_encode([one, one], pal, delays_cs=[100, 7])
    assert MM._gif_decode(two)[1] == [100, 7]


def test_gif_animation_compositing(spark):
    """Animated GIF semantics: disposal 1 (leave) accumulates draws,
    transparency preserves the underlying canvas, and gif_frame_sample
    emits composited per-frame summaries with bad-record skip."""
    import numpy as np

    pal = np.stack([np.arange(256)] * 3, axis=1).astype(np.uint8)
    f0 = np.full((6, 8), 10, np.uint8)
    f1 = np.full((6, 8), 200, np.uint8)
    f1[2:4, 3:5] = 7  # transparent holes -> frame 0 shows through
    blob = MM._gif_encode([f0, f1], pal, transparent=7, disposal=1)
    frames, delays = MM._gif_decode(blob)
    assert len(frames) == 2 and delays == [4, 4]
    assert (frames[0][:, :, 0] == 10).all()
    want1 = np.full((6, 8), 200, np.uint8)
    want1[2:4, 3:5] = 10  # hole shows frame 0's pixels, not palette[7]
    assert (frames[1][:, :, 0] == want1).all()
    media = spark.createDataFrame(
        [(1, bytearray(blob)), (2, bytearray(b"nope")), (None, bytearray(blob))],
        "media_id long, payload binary",
    )
    got = MM.gif_frame_sample(media, every_n=1).orderBy("frame_idx").collect()
    assert [(r.media_id, r.frame_idx) for r in got] == [(1, 0), (1, 1)]
    assert got[0].r_mean == 10.0 and abs(got[1].r_mean - want1.mean()) < 1e-12
    # extract_features('gif'): first-frame band means, zeros on bad
    feats = {
        r.media_id: r.features
        for r in MM.extract_features(
            media.filter(F.col("media_id").isNotNull()), decoder="gif", dim=2
        ).collect()
    }
    assert feats[1] == [10.0 / 255.0] * 2
    assert feats[2] == [0.0, 0.0]


def test_teragen_deterministic(spark):
    a = teragen(spark, 1000, seed=7).collect()
    b = {r.rowid: r.key for r in teragen(spark, 1000, seed=7).collect()}
    assert len(a) == 1000
    assert all(len(r.key) == 10 for r in a[:20])
    for r in a:
        assert b[r.rowid] == r.key
    # different seed → different keys
    c = {r.rowid: r.key for r in teragen(spark, 1000, seed=8).collect()}
    assert sum(1 for r in a if c[r.rowid] != r.key) > 900


def test_terasort_validates(spark):
    data = teragen(spark, 5000, seed=1)
    sorted_df = data.orderBy("key", "rowid")
    report = validate_sorted(sorted_df.select("key"), "key")
    assert report["misordered"] == 0
    assert report["rows"] == 5000
    # checksum is partitioning-independent (TeraChecksum property)
    report2 = validate_sorted(data.repartition(17).select("key"), "key")
    assert report2["checksum"] == report["checksum"]


def test_random_text_writer(spark):
    df = random_text_writer(spark, 100, words_per_row=5, vocab_size=50, seed=3)
    rows = df.collect()
    assert len(rows) == 100
    assert all(len(r.line.split()) == 5 for r in rows)


def test_counters_accumulator(spark):
    cs = Counters(spark)
    acc = cs.counter("rows_seen")
    spark.range(100).foreach(lambda _: acc.add(1))
    assert cs.value("rows_seen") == 100


def test_count_matching(spark):
    df = spark.range(10).toDF("x")
    got = count_matching(df, evens=F.col("x") % 2 == 0, big=F.col("x") > 6)
    assert got == {"evens": 5, "big": 3}


def test_resize_rewrites_payload(spark, sf_dir):
    from hadoop_main_spark.operators.multimodal import media_table_from_documents, resize
    from hadoop_main_spark.tables import load_table

    media = media_table_from_documents(load_table(spark, sf_dir, "documents")).limit(5)
    out = resize(media, 16, 8).collect()
    assert all(len(r.payload) == 16 * 8 for r in out)
    assert all(r.meta_width == 16 and r.meta_height == 8 for r in out)
    # deterministic: same input -> same bytes
    again = resize(media, 16, 8).collect()
    assert {r.media_id: bytes(r.payload) for r in out} == {
        r.media_id: bytes(r.payload) for r in again
    }

    import pytest as _pytest
    with _pytest.raises(NotImplementedError):
        resize(media, 16, 8, decoder="pillow")


def test_validate_sorted_on_written_output(spark, tmp_path):
    """File-based TeraValidate path: validation must be correct on
    READ-BACK data, where Spark's split packing does not preserve
    partition order (the trap the partition-scan fallback has)."""
    from hadoop_main_spark.sources.generators import teragen, validate_sorted

    out = str(tmp_path / "sorted")
    teragen(spark, 50_000, seed=3).orderBy("key", "rowid").write.mode(
        "overwrite"
    ).parquet(out)
    report = validate_sorted(spark.read.parquet(out), "key")
    assert report["misordered"] == 0
    assert report["rows"] == 50_000

    # an unsorted write must be flagged
    teragen(spark, 5_000, seed=4).write.mode("overwrite").parquet(out + "_raw")
    bad = validate_sorted(spark.read.parquet(out + "_raw"), "key")
    assert bad["misordered"] > 0


import os as _os
import pytest as _pytest


@_pytest.mark.skipif(
    not _os.environ.get("SPARK_GRAFT_SLOW"), reason="set SPARK_GRAFT_SLOW=1 to run"
)
def test_terasort_10m_slow(spark, tmp_path):
    from hadoop_main_spark.sources.generators import teragen, validate_sorted

    out = str(tmp_path / "ts10m")
    teragen(spark, 10_000_000, seed=99).orderBy("key", "rowid").write.mode(
        "overwrite"
    ).parquet(out)
    report = validate_sorted(spark.read.parquet(out), "key")
    assert report["misordered"] == 0 and report["rows"] == 10_000_000


def test_audio_resample_plumbing(spark):
    from hadoop_main_spark.operators.multimodal import audio_resample

    rows = [
        (1, bytes(range(0, 200)) * 441),   # 44100 samples
        (2, b"\x01\x02" * 100),            # 100 samples
        (3, b""),                          # empty payload
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {r.media_id: r for r in audio_resample(media).collect()}
    assert out[1].n_samples_in == 44100
    assert out[1].n_samples_out == 16000
    assert out[2].n_samples_out == (100 * 16000) // 44100
    assert out[3].n_samples_in == 0 and out[3].n_samples_out == 0
    # deterministic: same payload -> same digest on rerun
    again = {r.media_id: r.out_digest for r in audio_resample(media).collect()}
    assert {k: v.out_digest for k, v in out.items()} == again


@_pytest.mark.skipif(
    not _os.environ.get("SPARK_GRAFT_SLOW"), reason="set SPARK_GRAFT_SLOW=1 to run"
)
def test_big_shuffle_stress(spark):
    """BigMapOutput analog (JT/mapred/BigMapOutput.java): a wide
    shuffle far beyond one task's memory — 20M rows, ~200-byte
    payloads, high-cardinality groupBy — must complete with exact
    counts (exercises sort-shuffle spill + merge)."""
    n = 20_000_000
    df = spark.range(n).select(
        (F.col("id") % 2_000_000).alias("k"),
        F.concat(F.lit("p" * 180), F.col("id").cast("string")).alias("pad"),
    )
    agg = df.groupBy("k").agg(F.count("*").alias("c"), F.max("pad").alias("m"))
    assert agg.count() == 2_000_000
    assert agg.agg(F.sum("c")).collect()[0][0] == n


def test_ppm_real_decode_resize_features(spark):
    """The 'ppm' decoder is REAL (pure numpy, no media libs): a binary
    P6 image round-trips decode -> nearest-neighbor resize ->
    re-encode with exact expected pixels, and band features are the
    actual gray means."""
    import numpy as np

    rng = np.random.RandomState(3)
    imgs = {i: rng.randint(0, 256, (12, 10, 3), dtype=np.uint8) for i in range(3)}

    def enc(a):
        return b"P6\n# comment\n%d %d\n255\n" % (a.shape[1], a.shape[0]) + a.tobytes()

    media = spark.createDataFrame(
        [(i, "image", bytearray(enc(a)), "image/x-portable-pixmap", 10, 12)
         for i, a in imgs.items()],
        MM.MEDIA_SCHEMA,
    )
    out = {r.media_id: bytes(r.payload) for r in MM.resize(media, 5, 6, decoder="ppm").collect()}
    for i, a in imgs.items():
        rows = (np.arange(6) * 12) // 6
        cols = (np.arange(5) * 10) // 5
        want = a[rows][:, cols]
        got = MM._ppm_decode(out[i])
        assert got.shape == (6, 5, 3)
        assert np.array_equal(got, want), i
    feats = {r.media_id: r.features for r in MM.extract_features(media, decoder="ppm", dim=4).collect()}
    for i, a in imgs.items():
        want = [float(a[(b * 12) // 4:((b + 1) * 12) // 4].mean()) / 255.0 for b in range(4)]
        assert feats[i] == pytest.approx(want, abs=1e-12), i


def test_ppm_decoder_rejects_codec_formats(spark, sf_dir):
    # jpeg/png are REAL paths now; webp's codec is genuinely absent
    # in this environment and must stay a declared stub
    media = MM.media_table_from_documents(load_table(spark, sf_dir, "documents"))
    with pytest.raises(NotImplementedError):
        MM.resize(media, 4, 4, decoder="webp")


def test_wav_real_decode_resample_features(spark):
    """The 'wav' decoder is REAL (pure numpy, no media libs): a
    RIFF/PCM16 payload with an extra skippable chunk round-trips
    decode -> nearest-sample rate conversion -> re-encode with exact
    expected frames through the Spark pass, and window features are
    the actual mean-|amplitude| values."""
    import numpy as np

    rng = np.random.RandomState(7)
    clips = {
        0: (8000, rng.randint(-32768, 32767, (800, 1), dtype=np.int16)),
        1: (16000, rng.randint(-32768, 32767, (1601, 2), dtype=np.int16)),
    }

    def enc_with_extra_chunk(rate, pcm):
        raw = MM._wav_encode(rate, pcm)
        # splice a LIST chunk (odd size -> exercises word alignment)
        # between 'WAVE' and 'fmt ': real files carry such chunks
        extra = b"LIST\x05\x00\x00\x00INFOx\x00"
        body = raw[12:]
        return b"RIFF" + (len(body) + len(extra)).to_bytes(4, "little") + raw[8:12] + extra + body

    media = spark.createDataFrame(
        [(i, "audio", bytearray(enc_with_extra_chunk(r, p)), "audio/wav", 0, 0)
         for i, (r, p) in clips.items()],
        MM.MEDIA_SCHEMA,
    )
    out = {
        r.media_id: (r.n_samples_in, r.n_samples_out, r.out_digest)
        for r in MM.audio_resample(media, dst_rate=4000, decoder="wav").collect()
    }
    import hashlib

    for i, (rate, pcm) in clips.items():
        n_in = pcm.shape[0]
        n_out = (n_in * 4000) // rate
        idx = (np.arange(n_out) * n_in) // n_out
        want = MM._wav_encode(4000, pcm[idx])
        assert out[i][0] == n_in and out[i][1] == n_out, i
        assert out[i][2] == hashlib.md5(want).hexdigest(), i
        # decoded round trip is exactly the index-mapped frames
        got_rate, got_ch, got = MM._wav_decode(want)
        assert got_rate == 4000 and got_ch == pcm.shape[1]
        assert np.array_equal(got, pcm[idx]), i
    feats = {
        r.media_id: r.features
        for r in MM.extract_features(media, decoder="wav", dim=4).collect()
    }
    for i, (rate, pcm) in clips.items():
        x = np.abs(pcm.astype(np.float64)).mean(axis=1)
        n = x.shape[0]
        want = [float(x[(b * n) // 4 : ((b + 1) * n) // 4].mean()) / 32768.0 for b in range(4)]
        assert feats[i] == pytest.approx(want, abs=1e-12), i


def test_wav_decoder_bad_records_and_rejects(spark):
    """Malformed/empty payloads take the zeros bad-record path (one
    bad row must not kill a 100 TB pass); compressed formats and
    non-PCM16 WAVs are refused by the parser."""
    import numpy as np

    media = spark.createDataFrame(
        [(1, "audio", bytearray(b"not a wav"), "audio/wav", 0, 0),
         (2, "audio", None, "audio/wav", 0, 0)],
        MM.MEDIA_SCHEMA,
    )
    out = {r.media_id: (r.n_samples_in, r.n_samples_out)
           for r in MM.audio_resample(media, dst_rate=4000, decoder="wav").collect()}
    assert out == {1: (0, 0), 2: (0, 0)}
    with pytest.raises(NotImplementedError):
        MM.audio_resample(media, decoder="opus")
    # mu-law (format 7) refused, as is 8-bit PCM
    pcm = np.zeros((4, 1), dtype=np.int16)
    raw = bytearray(MM._wav_encode(8000, pcm))
    raw[20] = 7  # audio format field inside 'fmt '
    with pytest.raises(ValueError):
        MM._wav_decode(bytes(raw))
    raw = bytearray(MM._wav_encode(8000, pcm))
    raw[34] = 8  # bits-per-sample field
    with pytest.raises(ValueError):
        MM._wav_decode(bytes(raw))


def test_wav_features_bad_record_zeros(spark):
    """Review-r4b: extract_features('wav') must take the zeros
    bad-record path for malformed and NULL payloads instead of
    killing the task."""
    media = spark.createDataFrame(
        [(1, "audio", bytearray(b"garbage"), "audio/wav", 0, 0),
         (2, "audio", None, "audio/wav", 0, 0)],
        MM.MEDIA_SCHEMA,
    )
    out = {r.media_id: (r.n_bytes, r.features)
           for r in MM.extract_features(media, decoder="wav", dim=4).collect()}
    assert out[1] == (7, [0.0] * 4)
    assert out[2] == (0, [0.0] * 4)


def test_resize_and_ppm_features_bad_records(spark):
    """Review-r4b: NULL/malformed payloads must take the bad-record
    path in resize (empty payload out) and ppm feature extraction
    (zeros), never kill the task."""
    media = spark.createDataFrame(
        [(1, "image", None, "x", 4, 4),
         (2, "image", bytearray(b"not a ppm"), "x", 4, 4)],
        MM.MEDIA_SCHEMA,
    )
    out = {r.media_id: bytes(r.payload) for r in MM.resize(media, 2, 2, decoder="ppm").collect()}
    assert out == {1: b"", 2: b""}
    feats = {r.media_id: r.features for r in MM.extract_features(media, decoder="ppm", dim=3).collect()}
    assert feats == {1: [0.0] * 3, 2: [0.0] * 3}


def test_validate_sorted_null_keys(spark, tmp_path):
    """Review-r4b: NULL keys (which Spark sorts FIRST) must validate
    without a TypeError, and a value-before-NULL inversion must be
    flagged."""
    import pyspark.sql.functions as SF

    ok = spark.createDataFrame(
        [(None,), (None,), ("a",), ("b",)], "key string"
    ).coalesce(1)
    out = str(tmp_path / "nsorted")
    ok.write.mode("overwrite").parquet(out)
    rep = validate_sorted(spark.read.parquet(out), "key")
    assert rep["rows"] == 4 and rep["misordered"] == 0

    bad = spark.createDataFrame([("a",), (None,), ("b",)], "key string").coalesce(1)
    bad.write.mode("overwrite").parquet(out + "2")
    rep2 = validate_sorted(spark.read.parquet(out + "2"), "key")
    assert rep2["misordered"] > 0


def test_kmeans_fit_keeps_k_with_duplicate_seeds(spark):
    """Review-r4b: duplicate seed embeddings empty one cluster on the
    first iteration; its centroid must carry forward instead of
    silently shrinking k."""
    from hadoop_main_spark.operators.similarity import kmeans_fit

    rows = [(0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.1, 0.9])]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    assigned, cents = kmeans_fit(df, k=3, vec_col="embedding", max_iter=3)
    assert len(cents) == 3, cents
    assert assigned.count() == 4


def test_kmeans_assign_int64_cluster_ids(spark):
    """Review-r4b: cluster ids beyond int32 (hash-derived vector ids)
    must not overflow the kernel's id array."""
    from hadoop_main_spark.operators.similarity import kmeans_assign

    big = 2**40
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id int, v array<double>"
    )
    cents = [(big, [1.0, 0.0]), (big + 1, [0.0, 1.0])]
    out = {r.vec_id: r.cluster for r in kmeans_assign(df, cents, "vec_id", "v").collect()}
    assert out == {1: big, 2: big + 1}


def test_png_codec_roundtrip_all_filters_and_channels():
    """The 'png' codec is REAL (stdlib zlib + numpy): arrays of every
    channel count round-trip encode('mixed' filters 0-4 across rows)
    -> decode with exact pixels, so every defilter path (None, Sub,
    Up, Average, Paeth) is exercised against the encoder's exact
    inverse arithmetic."""
    import numpy as np

    rng = np.random.RandomState(11)
    for ch in (1, 2, 3, 4):
        shape = (13, 9) if ch == 1 else (13, 9, ch)
        a = rng.randint(0, 256, shape, dtype=np.uint8)
        for rf in ("none", "mixed"):
            got = MM._png_decode(MM._png_encode(a, row_filter=rf))
            want = a[:, :, None] if ch == 1 else a
            assert got.shape == want.shape, (ch, rf)
            assert np.array_equal(got, want), (ch, rf)
    # encodings with different row filters carry identical pixels
    a = rng.randint(0, 256, (6, 5, 3), dtype=np.uint8)
    assert np.array_equal(
        MM._png_decode(MM._png_encode(a, "none")),
        MM._png_decode(MM._png_encode(a, "mixed")),
    )


def test_png_palette_split_idat_and_rejects():
    """Spec corners: palette (color type 3) expands through PLTE; an
    IDAT stream split across multiple chunks concatenates before
    inflate; CRC corruption, 16-bit depth, mis-sized Adam7 payloads,
    and unknown interlace methods are rejected with ValueError (the
    bad-record path)."""
    import zlib

    import numpy as np
    import pytest as _pt

    # hand-build a 2x2 palette image: indices [[0,1],[2,0]]
    def chunk(cid, body):
        return (
            len(body).to_bytes(4, "big") + cid + body
            + (zlib.crc32(cid + body) & 0xFFFFFFFF).to_bytes(4, "big")
        )

    ihdr = (2).to_bytes(4, "big") + (2).to_bytes(4, "big") + bytes([8, 3, 0, 0, 0])
    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])
    scan = zlib.compress(bytes([0, 0, 1, 0, 2, 0]))  # 2 rows, filter 0
    # split the IDAT stream mid-deflate across two chunks
    png = (
        MM._PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"PLTE", plte)
        + chunk(b"IDAT", scan[:5]) + chunk(b"IDAT", scan[5:]) + chunk(b"IEND", b"")
    )
    got = MM._png_decode(png)
    want = np.array(
        [[[255, 0, 0], [0, 255, 0]], [[0, 0, 255], [255, 0, 0]]], dtype=np.uint8
    )
    assert np.array_equal(got, want)
    # CRC corruption
    bad = bytearray(png)
    bad[len(MM._PNG_SIG) + 8] ^= 0xFF  # flip a byte inside IHDR body
    with _pt.raises(ValueError, match="CRC"):
        MM._png_decode(bytes(bad))
    # 16-bit depth is SUPPORTED now — an 8-bit-sized IDAT under a
    # 16-bit header must fail on the size contract, not decode garbage
    ihdr16 = (2).to_bytes(4, "big") + (2).to_bytes(4, "big") + bytes([16, 0, 0, 0, 0])
    with _pt.raises(ValueError, match="mismatch"):
        MM._png_decode(MM._PNG_SIG + chunk(b"IHDR", ihdr16) + chunk(b"IDAT", scan))
    # 24-bit depth stays rejected
    ihdr24 = (2).to_bytes(4, "big") + (2).to_bytes(4, "big") + bytes([24, 0, 0, 0, 0])
    with _pt.raises(ValueError, match="24-bit"):
        MM._png_decode(MM._PNG_SIG + chunk(b"IHDR", ihdr24) + chunk(b"IDAT", scan))
    # Adam7 is SUPPORTED now, but an interlace flag whose IDAT carries
    # sequential-layout bytes must fail loudly (wrong pass sizes), and
    # an unknown interlace METHOD is rejected outright
    ihdr_i = (2).to_bytes(4, "big") + (2).to_bytes(4, "big") + bytes([8, 0, 0, 0, 1])
    with _pt.raises(ValueError, match="Adam7|trailing"):
        MM._png_decode(MM._PNG_SIG + chunk(b"IHDR", ihdr_i) + chunk(b"IDAT", scan))
    ihdr_u = (2).to_bytes(4, "big") + (2).to_bytes(4, "big") + bytes([8, 0, 0, 0, 2])
    with _pt.raises(ValueError, match="interlace method"):
        MM._png_decode(MM._PNG_SIG + chunk(b"IHDR", ihdr_u) + chunk(b"IDAT", scan))
    # garbage deflate normalizes to ValueError (bad-record path)
    with _pt.raises(ValueError, match="IDAT"):
        MM._png_decode(
            MM._PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"PLTE", plte)
            + chunk(b"IDAT", b"\x00garbage") + chunk(b"IEND", b"")
        )


def test_png_spark_resize_features_and_bad_records(spark):
    """End-to-end through the Spark pass: decoder='png' resize gives
    exact nearest-neighbor pixels, features are the exact band gray
    means (alpha dropped for RGBA), and malformed/NULL payloads take
    the zeros/empty bad-record path without killing the task."""
    import numpy as np

    rng = np.random.RandomState(5)
    rgb = rng.randint(0, 256, (12, 10, 3), dtype=np.uint8)
    rgba = rng.randint(0, 256, (8, 6, 4), dtype=np.uint8)
    media = spark.createDataFrame(
        [
            (0, "image", bytearray(MM._png_encode(rgb, "mixed")), "image/png", 10, 12),
            (1, "image", bytearray(MM._png_encode(rgba, "mixed")), "image/png", 6, 8),
            (2, "image", bytearray(b"not a png"), "image/png", 4, 4),
            (3, "image", None, "image/png", 4, 4),
        ],
        MM.MEDIA_SCHEMA,
    )
    out = {r.media_id: bytes(r.payload) for r in MM.resize(media, 5, 6, decoder="png").collect()}
    rows, cols = (np.arange(6) * 12) // 6, (np.arange(5) * 10) // 5
    assert np.array_equal(MM._png_decode(out[0]), rgb[rows][:, cols])
    rows, cols = (np.arange(6) * 8) // 6, (np.arange(5) * 6) // 5
    assert np.array_equal(MM._png_decode(out[1]), rgba[rows][:, cols])
    assert out[2] == b"" and out[3] == b""
    feats = {
        r.media_id: r.features
        for r in MM.extract_features(media, decoder="png", dim=4).collect()
    }
    want0 = [float(rgb[(b * 12) // 4:((b + 1) * 12) // 4].mean()) / 255.0 for b in range(4)]
    assert feats[0] == pytest.approx(want0, abs=1e-12)
    want1 = [
        float(rgba[(b * 8) // 4:max(((b + 1) * 8) // 4, (b * 8) // 4 + 1), :, :3].mean()) / 255.0
        for b in range(4)
    ]
    assert feats[1] == pytest.approx(want1, abs=1e-12)
    assert feats[2] == [0.0] * 4 and feats[3] == [0.0] * 4


def test_jpeg_codec_roundtrips_and_rejects():
    """The 'jpeg' codec is REAL (baseline sequential DCT per ITU-T
    T.81, pure numpy + stdlib): constant 8x8 blocks round-trip
    PIXEL-EXACT at quality 100 (DC-only, all quantizers 1), smooth
    gradients round-trip within a pinned tolerance at 4:4:4 and
    4:2:0, restart-marker streams decode to identical pixels, and
    non-baseline / corrupt payloads reject with ValueError."""
    import numpy as np
    import pytest as _pt

    # constant-block gray + color at q100: pixel exact
    gray = np.zeros((32, 24), dtype=np.uint8)
    color = np.zeros((32, 24, 3), dtype=np.uint8)
    for r in range(4):
        for c in range(3):
            gray[r * 8:(r + 1) * 8, c * 8:(c + 1) * 8] = (r * 37 + c * 91) % 256
            color[r * 8:(r + 1) * 8, c * 8:(c + 1) * 8] = [
                (r * 37 + c * 91) % 256, (r * 53 + c * 17) % 256, (r * 11 + c * 71) % 256,
            ]
    assert np.array_equal(
        MM._jpeg_decode(MM._jpeg_encode(gray, quality=100))[:, :, 0], gray
    )
    assert np.array_equal(MM._jpeg_decode(MM._jpeg_encode(color, quality=100)), color)

    # smooth gradients: tight bounds, incl. non-multiple-of-8 dims
    i, j = np.mgrid[0:21, 0:17]
    g = np.stack([40 + 4 * i + 2 * j, 60 + 3 * i, 80 + 5 * j], 2).clip(0, 255).astype(np.uint8)
    for q, ss, bound in [(100, False, 2), (95, False, 4), (95, True, 8), (75, False, 8)]:
        dec = MM._jpeg_decode(MM._jpeg_encode(g, quality=q, subsample=ss))
        assert dec.shape == (21, 17, 3)
        assert int(np.abs(dec.astype(int) - g.astype(int)).max()) <= bound, (q, ss)

    # restart markers: byte-aligned RSTn every k MCUs, predictors
    # reset — pixels identical to the no-restart encode
    rng = np.random.RandomState(3)
    a = rng.randint(0, 256, (24, 40, 3), dtype=np.uint8)
    base = MM._jpeg_decode(MM._jpeg_encode(a, quality=95))
    for rst in (1, 2, 5):
        enc = MM._jpeg_encode(a, quality=95, restart=rst)
        assert b"\xff\xdd" in enc  # DRI segment present
        assert np.array_equal(MM._jpeg_decode(enc), base)

    # noise at 4:4:4 stays bounded (no entropy-coding drift)
    noise = rng.randint(0, 256, (16, 16, 3), dtype=np.uint8)
    dec = MM._jpeg_decode(MM._jpeg_encode(noise, quality=95))
    assert int(np.abs(dec.astype(int) - noise.astype(int)).max()) <= 40

    # rejects: non-JPEG, progressive SOF2, truncated entropy stream
    with _pt.raises(ValueError, match="not a JPEG"):
        MM._jpeg_decode(b"nope")
    with _pt.raises(ValueError, match="baseline"):
        MM._jpeg_decode(b"\xff\xd8\xff\xc2\x00\x04\x00\x00")
    ok = MM._jpeg_encode(gray, quality=90)
    with _pt.raises(ValueError):
        MM._jpeg_decode(ok[: len(ok) // 2])


def test_jpeg_spark_resize_features_and_bad_records(spark):
    """End-to-end through the Spark pass: decoder='jpeg' resize
    decodes -> nearest-neighbor resamples -> re-encodes per payload
    (the output is itself a decodable JPEG of the target size),
    features are the band gray means of the DECODED pixels, and
    malformed/NULL payloads take the zeros/empty bad-record path."""
    import numpy as np

    # block-constant source at q100 so decode is pixel-exact and the
    # expected features are known in closed form
    src = np.zeros((32, 16), dtype=np.uint8)
    for r in range(4):
        for c in range(2):
            src[r * 8:(r + 1) * 8, c * 8:(c + 1) * 8] = (r * 50 + c * 100) % 256
    media = spark.createDataFrame(
        [
            (0, "image", bytearray(MM._jpeg_encode(src, quality=100)), "image/jpeg", 16, 32),
            (1, "image", bytearray(b"not a jpeg"), "image/jpeg", 4, 4),
            (2, "image", None, "image/jpeg", 4, 4),
        ],
        MM.MEDIA_SCHEMA,
    )
    out = {r.media_id: bytes(r.payload) for r in MM.resize(media, 8, 16, decoder="jpeg").collect()}
    dec = MM._jpeg_decode(out[0])
    rows, cols = (np.arange(16) * 32) // 16, (np.arange(8) * 16) // 8
    want = src[rows][:, cols]
    # re-encode at q90 is lossy on block boundaries; block interiors
    # of a constant-block image stay within the smooth-image bound
    assert dec.shape == (16, 8, 1)
    assert int(np.abs(dec[:, :, 0].astype(int) - want.astype(int)).max()) <= 8
    assert out[1] == b"" and out[2] == b""
    feats = {
        r.media_id: r.features
        for r in MM.extract_features(media, decoder="jpeg", dim=4).collect()
    }
    want0 = [float(src[b * 8:(b + 1) * 8].mean()) / 255.0 for b in range(4)]
    assert feats[0] == pytest.approx(want0, abs=1e-12)
    assert feats[1] == [0.0] * 4 and feats[2] == [0.0] * 4


def test_jpeg_malformed_payloads_normalize_to_valueerror():
    """Malformed-payload failure paths that surface as
    IndexError/ZeroDivisionError inside the decoder (zero sampling
    factors, truncated tables/bodies) must reach callers as ValueError
    so the zeros bad-record policy catches them (review-r5)."""
    import numpy as np
    import pytest as _pt

    gray = np.full((8, 8), 77, dtype=np.uint8)
    ok = MM._jpeg_encode(gray, quality=100)
    # corrupt the SOF0 component sampling byte to 0x00 -> hmax=0 was
    # a ZeroDivisionError at MCU-count time
    i = ok.index(b"\xff\xc0")
    bad_sampling = ok[: i + 11] + b"\x00" + ok[i + 12 :]
    with _pt.raises(ValueError):
        MM._jpeg_decode(bad_sampling)
    adversarial = [
        bad_sampling,
        b"\xff\xd8\xff\xc4\x00\x03\x00",      # DHT body shorter than 17
        b"\xff\xd8\xff\xc0\x00\x03\x08",      # SOF body truncated
        b"\xff\xd8\xff\xdd\x00\x02",          # DRI with empty body
        ok[:6],                                # mid-segment truncation
    ]
    for p in adversarial:
        try:
            MM._jpeg_decode(p)
        except ValueError:
            pass  # the ONLY acceptable exception class
        assert MM._jpeg_features(p, 4) == [0.0] * 4


def test_image_dhash_invariances_and_bad_record(spark):
    """dHash contract: equal under uniform brightness shift AND under
    a monotone rescale; different for a transposed gradient; malformed
    payloads hash to the -1 sentinel; values stay in [0, 2^56)."""
    import numpy as np
    import pandas as pd

    from hadoop_main_spark.operators import multimodal as MM

    base = (np.arange(14)[:, None] * 3 + np.arange(18)[None, :] * 5) % 190

    def png(arr):
        return MM._png_encode(arr.astype(np.uint8), row_filter="mixed")

    # x -> (13x)//10 is STRICTLY monotone on integers (a < b implies
    # 13b >= 13a + 13, so the floor quotients differ by >= 1) and
    # non-affine — a genuine tone-curve change, max 189*13//10 = 245
    rows = [
        (0, png(base)),
        (1, png(base + 30)),  # uniform brightness shift
        (2, png(base * 13 // 10)),  # monotone non-affine rescale
        (4, b"not a png"),
    ]
    df = spark.createDataFrame(
        pd.DataFrame({"media_id": [r[0] for r in rows], "payload": [r[1] for r in rows]})
    )
    got = {r.media_id: r.dhash for r in MM.image_dhash(df, decoder="png").collect()}
    assert got[0] == got[1] == got[2]  # brightness-invariant
    assert got[4] == -1
    assert 0 <= got[0] < (1 << 56)
    # and the kernel matches a direct pure-python recompute
    ri = (np.arange(7) * 14) // 7
    ci = (np.arange(9) * 18) // 9
    g = base[np.ix_(ri, ci)]
    bits = (g[:, 1:] > g[:, :-1]).astype(np.int64).reshape(-1)
    assert got[0] == int((bits << np.arange(bits.size)).sum())


def test_png_adam7_interlace_roundtrip():
    """Adam7 support contract: an interlaced encode decodes back
    PIXEL-EXACT and equals the sequential decode of the same image —
    for gray and RGB, odd dimensions (partial passes), a tiny 2x2
    (five of seven passes empty), and with per-row filters cycling
    inside each pass."""
    import numpy as np

    from hadoop_main_spark.operators import multimodal as MM

    cases = [
        ((np.arange(13 * 11) * 37 % 251).reshape(13, 11).astype(np.uint8), "mixed"),
        (
            (np.arange(16 * 9 * 3) * 53 % 256).reshape(16, 9, 3).astype(np.uint8),
            "mixed",
        ),
        (np.array([[1, 2], [3, 4]], dtype=np.uint8), "none"),
        ((np.arange(8 * 8) % 256).reshape(8, 8).astype(np.uint8), "none"),
    ]
    for arr, rf in cases:
        seq = MM._png_encode(arr, row_filter=rf)
        lace = MM._png_encode(arr, row_filter=rf, interlace=True)
        assert seq != lace  # genuinely different layout on the wire
        a = MM._png_decode(lace)
        b = MM._png_decode(seq)
        want = arr if arr.ndim == 3 else arr[:, :, None]
        assert np.array_equal(a, want) and np.array_equal(b, want)
    # truncated final pass must fail loudly, not decode garbage
    import zlib

    arr = cases[0][0]
    lace = MM._png_encode(arr, interlace=True)
    # corrupt: drop the last 4 bytes of the inflated stream by
    # re-deflating a shortened payload through the public chunks
    import pytest

    with pytest.raises(ValueError):
        MM._png_decode(lace[:-30])  # truncated container


def test_png_16bit_decode():
    """16-bit PNG decode contract: byte-level filters with doubled bpp
    (spec 9.2), network-order sample reassembly (7.1), exact values for
    gray and RGB, sequential AND Adam7, full 16-bit dynamic range; the
    8-bit-only encoder refuses uint16 input instead of wrapping mod
    256; 16-bit palette is rejected as invalid."""
    import zlib

    import numpy as np
    import pytest as _pt

    from hadoop_main_spark.operators import multimodal as MM

    def chunk(cid, body):
        return (
            len(body).to_bytes(4, "big") + cid + body
            + (zlib.crc32(cid + body) & 0xFFFFFFFF).to_bytes(4, "big")
        )

    def encode16(arr, interlace=0):
        h, w = arr.shape[0], arr.shape[1]
        ch = 1 if arr.ndim == 2 else arr.shape[2]
        a3 = arr.reshape(h, w, ch)
        ihdr = (
            w.to_bytes(4, "big") + h.to_bytes(4, "big")
            + bytes([16, {1: 0, 3: 2}[ch], 0, 0, interlace])
        )
        rows = []
        imgs = (
            [a3]
            if interlace == 0
            else [
                a3[y0::dy, x0::dx]
                for (x0, y0, dx, dy) in MM._ADAM7
                if a3[y0::dy, x0::dx].size
            ]
        )
        for img in imgs:
            be = img.astype(">u2").tobytes()
            stride = img.shape[1] * ch * 2
            for r in range(img.shape[0]):
                rows.append(b"\x00" + be[r * stride : (r + 1) * stride])
        return (
            MM._PNG_SIG + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(b"".join(rows)))
            + chunk(b"IEND", b"")
        )

    # note: uint16_array * python_int promotes to int32 on this numpy —
    # cast AFTER the modulo so the fixtures are genuinely uint16
    gray = ((np.arange(7 * 5) * 9973) % 65536).astype(np.uint16).reshape(7, 5)
    rgb = ((np.arange(6 * 4 * 3) * 8191) % 65536).astype(np.uint16).reshape(6, 4, 3)
    assert np.array_equal(MM._png_decode(encode16(gray))[:, :, 0], gray)
    assert np.array_equal(MM._png_decode(encode16(rgb)), rgb)
    assert np.array_equal(MM._png_decode(encode16(gray, interlace=1))[:, :, 0], gray)
    # full-range features scale by 65535, not 255
    f = MM._image_band_features(gray, 1)[0]
    assert 0.0 <= f <= 1.0 and abs(f - gray.mean() / 65535.0) < 1e-12
    with _pt.raises(ValueError, match="8-bit"):
        MM._png_encode(gray)
    # 16-bit palette is spec-invalid
    ihdr_p = (2).to_bytes(4, "big") + (2).to_bytes(4, "big") + bytes([16, 3, 0, 0, 0])
    with _pt.raises(ValueError, match="palette"):
        MM._png_decode(
            MM._PNG_SIG + chunk(b"IHDR", ihdr_p)
            + chunk(b"PLTE", b"\x00" * 6)
            + chunk(b"IDAT", zlib.compress(b"\x00\x00\x00"))
            + chunk(b"IEND", b"")
        )


def test_gif_frame_stride_retains_only_sampled_canvases():
    """frame_stride composites EVERY frame (disposal correctness) but
    retains only every Nth canvas — strided decode must equal the
    stride-sampled full decode, and the retained-volume cap counts
    retained frames only (advice r6: a long animation read with a
    stride must not trip the full-materialization bound)."""
    import numpy as np

    pal = np.stack([np.arange(256)] * 3, axis=1).astype(np.uint8)
    rng = np.random.default_rng(11)
    # 23 frames with varied content so compositing state matters
    frames = [rng.integers(0, 256, (17, 23), dtype=np.uint8) for _ in range(23)]
    blob = MM._gif_encode(frames, pal, delays_cs=list(range(10, 33)))
    full, full_delays = MM._gif_decode(blob)
    for stride in (2, 5, 10):
        got, got_delays = MM._gif_decode(blob, frame_stride=stride)
        want = full[::stride]
        assert len(got) == len(want)
        for a, b in zip(got, want):
            assert (a == b).all()
        assert got_delays == full_delays[::stride]
    # retained-volume cap: many full-canvas frames over a tiny
    # max_pixels trip the bound un-strided, pass with a stride
    small = [rng.integers(0, 256, (8, 8), dtype=np.uint8) for _ in range(40)]
    sblob = MM._gif_encode(small, pal)
    with pytest.raises(ValueError, match="retained"):
        MM._gif_decode(sblob, max_pixels=8 * 8 * 4)
    got, _ = MM._gif_decode(sblob, max_pixels=8 * 8 * 4, frame_stride=8)
    assert len(got) == 5


def test_gif_encode_rgb_local_palettes_exceed_256_total_colors():
    """_gif_encode_rgb: per-frame LOCAL color tables let an animation
    carry more than 256 distinct colors overall (each frame <= 256);
    the decoder's local-table path must composite every frame back
    pixel-exact, and a single >256-color frame must raise."""
    import numpy as np

    rng = np.random.default_rng(21)
    # 4 frames x ~250 distinct colors each, disjoint color ranges ->
    # ~1000 distinct colors across the animation
    frames = []
    for fi in range(4):
        base = np.zeros((10, 25, 3), np.uint8)
        base[:, :, 0] = fi * 60  # disjoint red bands per frame
        base[:, :, 1] = rng.integers(0, 250, (10, 25))
        base[:, :, 2] = (np.arange(250) % 256).reshape(10, 25)
        frames.append(base)
    total_colors = len(
        np.unique(np.concatenate([f.reshape(-1, 3) for f in frames]), axis=0)
    )
    assert total_colors > 256
    blob = MM._gif_encode_rgb(frames, delays_cs=[5, 6, 7, 8])
    got, delays = MM._gif_decode(blob)
    assert delays == [5, 6, 7, 8] and len(got) == 4
    for a, b in zip(got, frames):
        assert (a == b).all()
    # single frame with >256 colors: explicit error, never silent
    # quantization
    big = np.zeros((32, 32, 3), np.uint8)
    big[:, :, 0] = np.arange(1024).reshape(32, 32) % 256
    big[:, :, 1] = np.arange(1024).reshape(32, 32) // 256 * 50
    assert len(np.unique(big.reshape(-1, 3), axis=0)) > 256
    with pytest.raises(ValueError, match="local color table"):
        MM._gif_encode_rgb([big])
    # single-frame path (no GCE) roundtrips too
    one, _ = MM._gif_decode(MM._gif_encode_rgb([frames[0]]))
    assert (one[0] == frames[0]).all()


def test_mp3_meta_walk_and_strictness():
    """ISO 11172-3 frame-header walk: frame lengths from the
    bitrate/rate/padding formula, ID3v2 prefix + ID3v1 trailer skip,
    VBR detection; strict ValueError on truncation, reserved fields,
    trailing garbage, and mid-stream parameter changes."""
    def frame(bidx, ridx, pad, mode=0, version=3, layer_bits=1):
        h = ((0x7FF << 21) | (version << 19) | (layer_bits << 17) | (1 << 16)
             | (bidx << 12) | (ridx << 10) | (pad << 9) | (mode << 6))
        br = MM._MP3_BITRATES[("1", 3)][bidx - 1] * 1000
        rate = MM._MP3_RATES["1"][ridx]
        flen = 1152 // 8 * br // rate + pad
        return h.to_bytes(4, "big") + b"\xa5" * (flen - 4)

    p = frame(9, 0, 0) + frame(9, 0, 1) + frame(9, 0, 0)
    m = MM._mp3_meta(p)
    assert (m["codec"], m["n_units"], m["total_samples"]) == ("mp3", 3, 3456)
    assert m["sample_rate"] == 44100 and m["channels"] == 2 and not m["vbr"]
    assert m["duration_us"] == 1_000_000 * 3456 // 44100
    # VBR: distinct bitrates across frames
    assert MM._mp3_meta(frame(9, 0, 0) + frame(12, 0, 0))["vbr"]
    # mono mode
    assert MM._mp3_meta(frame(9, 0, 0, mode=3))["channels"] == 1
    # ID3v2 prefix (syncsafe size) + ID3v1 trailer skipped transparently
    id3 = b"ID3\x04\x00\x00" + bytes([0, 0, 1, 3]) + b"x" * 131
    m2 = MM._mp3_meta(id3 + p + b"TAG" + b"\x00" * 125)
    assert m2 == m
    import pytest as _pytest
    for bad in (
        p[:-3],                                 # truncated final frame
        p + b"junk",                            # trailing garbage
        b"\xff\xfb\x00\x00",                    # free-format bitrate
        b"\xff\xfb\x9c\x00"[:2] + b"\xff\xff",  # bad sync byte 2? (garbage)
        frame(9, 0, 0) + frame(9, 1, 0),        # rate change mid-stream
        b"ID3\x04\x00\x00" + bytes([0, 0, 0, 0x80]),  # non-syncsafe size
    ):
        with _pytest.raises(ValueError):
            MM._mp3_meta(bad)


def test_ogg_meta_walk_and_strictness():
    """RFC 3533 page walk: real CRC32 (poly 0x04C11DB7) verified per
    page, BOS/EOS flags required, OpusHead (pre-skip, 48 kHz granule)
    vs vorbis ID header (rate from header) dispatch; ValueError on
    CRC corruption, sequence gaps, truncation, unknown codec."""
    import pytest as _pytest

    oh = (b"OpusHead" + bytes([1, 2]) + (312).to_bytes(2, "little")
          + (48000).to_bytes(4, "little") + b"\x00\x00\x00")
    p0 = MM._ogg_page(0, 7, 0, oh, header_type=2)
    p1 = MM._ogg_page(312 + 960, 7, 1, b"\x11" * 64)
    p2 = MM._ogg_page(312 + 2880, 7, 2, b"\x22" * 300, header_type=4)
    m = MM._ogg_meta(p0 + p1 + p2)
    assert (m["codec"], m["n_units"], m["channels"]) == ("opus", 3, 2)
    assert m["total_samples"] == 2880 and m["sample_rate"] == 48000
    assert m["duration_us"] == 1_000_000 * 2880 // 48000
    # the 300-byte body needs a 2-entry lacing table (255 + 45)
    assert p2[26] == 2 and list(p2[27:29]) == [255, 45]

    vh = (b"\x01vorbis" + b"\x00" * 4 + bytes([1])
          + (32000).to_bytes(4, "little") + b"\x00" * 14)
    v0 = MM._ogg_page(0, 9, 0, vh, header_type=2)
    v1 = MM._ogg_page(16000, 9, 1, b"\x33" * 10, header_type=4)
    mv = MM._ogg_meta(v0 + v1)
    assert (mv["codec"], mv["sample_rate"], mv["channels"]) == ("vorbis", 32000, 1)
    assert mv["duration_us"] == 500_000

    bad_crc = bytearray(p0 + p1 + p2); bad_crc[40] ^= 1
    gap = p0 + MM._ogg_page(312 + 960, 7, 5, b"\x11", header_type=4)
    no_eos = p0 + p1
    unk = MM._ogg_page(0, 3, 0, b"FLACHEAD", header_type=2)
    unk += MM._ogg_page(10, 3, 1, b"x", header_type=4)
    for bad in (bytes(bad_crc), gap, no_eos, (p0 + p1 + p2)[:-5], unk):
        with _pytest.raises(ValueError):
            MM._ogg_meta(bad)


def test_audio_container_meta_dispatch_and_bad_records(spark):
    """The Spark walker dispatches on payload magic (mp3 sync / ID3 /
    OggS) and bad records land on the codec='bad' zeros row instead
    of killing the task."""
    def frame(bidx, ridx, pad):
        h = ((0x7FF << 21) | (3 << 19) | (1 << 17) | (1 << 16)
             | (bidx << 12) | (ridx << 10) | (pad << 9))
        br = MM._MP3_BITRATES[("1", 3)][bidx - 1] * 1000
        rate = MM._MP3_RATES["1"][ridx]
        return h.to_bytes(4, "big") + b"\x00" * (1152 // 8 * br // rate + pad - 4)

    oh = (b"OpusHead" + bytes([1, 1]) + (0).to_bytes(2, "little")
          + (48000).to_bytes(4, "little") + b"\x00\x00\x00")
    ogg = MM._ogg_page(0, 1, 0, oh, header_type=2) + MM._ogg_page(
        960, 1, 1, b"z", header_type=4
    )
    media = spark.createDataFrame(
        [(1, frame(9, 0, 0)), (2, ogg), (3, b"not audio at all"), (4, None)],
        "media_id long, payload binary",
    )
    rows = {r.media_id: r for r in MM.audio_container_meta(media).collect()}
    assert rows[1].codec == "mp3" and rows[1].n_units == 1
    assert rows[2].codec == "opus" and rows[2].total_samples == 960
    assert rows[3].codec == "bad" and rows[3].duration_us == 0
    assert rows[4].codec == "bad" and rows[4].payload_bytes == 0


def test_mp4_meta_walk_and_strictness():
    """ISO-BMFF box walk: mvhd v0/v1, hdlr-classified tracks, stsd
    fourcc, tkhd 16.16 dims, mdat skipped; ValueError on truncation,
    size escaping the container, largesize cut short, missing
    ftyp/moov."""
    import pytest as _pytest

    p = MM._mp4_build(
        "isom", 1000, 5403,
        [(b"vide", b"avc1", 640, 360), (b"soun", b"mp4a", 0, 0)],
        trailing_mdat=64,
    )
    m = MM._mp4_meta(p)
    assert m == {
        "brand": "isom", "timescale": 1000, "duration_us": 5403000,
        "n_tracks": 2, "video_codec": "avc1", "width": 640,
        "height": 360, "audio_codec": "mp4a",
    }
    # 64-bit mvhd (version 1) duration + audio-only layout
    m1 = MM._mp4_meta(
        MM._mp4_build("mp42", 90000, 90000 * 7 + 3, [(b"soun", b"mp4a", 0, 0)],
                      mvhd_v1=True)
    )
    assert m1["duration_us"] == 1_000_000 * (90000 * 7 + 3) // 90000
    assert m1["n_tracks"] == 1 and m1["video_codec"] == "" and m1["width"] == 0
    # size==0 (to end of container) form parses
    tail = MM._mp4_box(b"free", b"x" * 9)
    zero_sized = p + b"\x00\x00\x00\x00" + b"skip" + b"junkdata"
    assert MM._mp4_meta(zero_sized)["duration_us"] == 5403000
    for bad in (p[:-5], p[30:], b"\x00\x00\x00\x01abcd", b"",
                MM._mp4_box(b"ftyp", b"isom" + b"\x00" * 8)):  # ftyp, no moov
        with _pytest.raises(ValueError):
            MM._mp4_meta(bad)


def test_mkv_meta_walk_and_strictness():
    """EBML walk: vint marker-bit semantics, unknown-size Segment,
    4/8-byte Duration floats, track classification; ValueError on
    truncation, size escaping the container, 0x00 vint lead."""
    import pytest as _pytest

    p = MM._mkv_build(
        "webm", 1_000_000, 5400.0,
        [(1, "V_VP9", 640, 360, 0), (2, "A_OPUS", 0, 0, 2)],
        cluster_bytes=50,
    )
    m = MM._mkv_meta(p)
    assert m == {
        "doc_type": "webm", "timestamp_scale_ns": 1_000_000,
        "duration_us": 5_400_000, "n_tracks": 2, "video_codec": "V_VP9",
        "width": 640, "height": 360, "audio_codec": "A_OPUS",
        "audio_channels": 2,
    }
    # streamed (unknown-size) Segment + non-default scale
    m2 = MM._mkv_meta(
        MM._mkv_build("matroska", 100_000, 90_000.0,
                      [(2, "A_AAC", 0, 0, 6)], unknown_segment_size=True)
    )
    assert m2["duration_us"] == 9_000_000 and m2["audio_channels"] == 6
    assert m2["video_codec"] == "" and m2["n_tracks"] == 1
    # vint round-trip across widths (marker stripped vs kept)
    for n in (0, 1, 126, 127, 128, 16382, 16383, 2**20, 2**35):
        enc = MM._ebml_enc_size(n)
        val, nxt, unknown = MM._ebml_vint(enc, 0, keep_marker=False)
        assert (val, nxt, unknown) == (n, len(enc), False)
    for bad in (p[:-7], b"\x1aE\xdf\xa3", b"", b"\x00junk",
                MM._mkv_build("webm", 1_000_000, 1.0, [])[:9]):
        with _pytest.raises(ValueError):
            MM._mkv_meta(bad)


def test_id3v2_text_frames_both_versions():
    """ID3v2.3 (plain sizes, utf-16 BOM) and v2.4 (syncsafe sizes,
    utf-8) text frames decode identically; padding skipped, trailing
    NULs stripped, no-tag payloads return {}, malformed tags raise."""
    import pytest as _pytest

    frames = {"TIT2": "Tïtle 7", "TPE1": "Ärtist", "TALB": "Sølv"}
    for ver in (3, 4):
        tag = MM._id3v2_build(frames, ver=ver, pad=13)
        got = MM._id3v2_frames(tag + b"\xff\xfb" + b"\x00" * 64)
        assert got == frames, ver
    assert MM._id3v2_frames(b"\xff\xfbxxxx") == {}
    for bad in (
        b"ID3\x04\x00\x00\x00\x00\x00\x80",        # non-syncsafe size
        MM._id3v2_build({"TIT2": "x"})[:-2],        # frame exceeds tag
        b"ID3\x04\x00\x00",                         # truncated header
    ):
        with _pytest.raises(ValueError):
            MM._id3v2_frames(bad)


def test_ogg_crc_table_matches_bitwise_reference():
    # the table-driven CRC must equal the straight RFC 3533 bit loop
    def bitwise(data):
        c = 0
        for b in data:
            c ^= b << 24
            for _ in range(8):
                c = ((c << 1) ^ 0x04C11DB7) & 0xFFFFFFFF if c & 0x80000000 else (c << 1) & 0xFFFFFFFF
        return c

    import random
    rng = random.Random(93)
    for n in (0, 1, 7, 255, 1024):
        data = bytes(rng.randrange(256) for _ in range(n))
        assert MM._ogg_crc(data) == bitwise(data)


def test_exif_walk_roundtrip_and_strictness():
    """Both-endian EXIF APP1 roundtrip through a real JPEG; truncated
    IFDs, bad byte-order marks, out-of-range value offsets, and
    missing required tags all raise."""
    import numpy as np
    import struct

    jpg = MM._jpeg_encode(np.zeros((8, 8), dtype=np.uint8))
    for be in (False, True):
        app1 = MM._exif_app1(
            "Canon", "EOS R5", 6, "2023:12:31 23:59:58",
            (1, 8000), (12, 10), 51200, 8192, 5464, big_endian=be,
        )
        m = MM._exif_meta(jpg[:2] + app1 + jpg[2:])
        assert m == {
            "endian": "MM" if be else "II", "make": "Canon",
            "model": "EOS R5", "orientation": 6,
            "datetime": "2023:12:31 23:59:58", "exposure_num": 1,
            "exposure_den": 8000, "fnumber_num": 12, "fnumber_den": 10,
            "iso": 51200, "pix_x": 8192, "pix_y": 5464,
        }
    app1 = MM._exif_app1("M", "N", 1, "2024:01:01 00:00:00",
                         (1, 2), (3, 4), 100, 10, 10)
    good = jpg[:2] + app1 + jpg[2:]
    for bad in (
        b"not a jpeg",
        jpg,                                   # no APP1
        good[:2] + good[2:].replace(b"Exif\x00\x00", b"Ex1f\x00\x00", 1),
        good[:2] + good[2:].replace(b"II", b"XX", 1),         # byte order
        good[:20],                             # truncated mid-segment
    ):
        with pytest.raises(ValueError):
            MM._exif_meta(bad)
    # magic != 42
    corrupt = good.replace(b"II" + struct.pack("<HI", 42, 8),
                           b"II" + struct.pack("<HI", 43, 8), 1)
    with pytest.raises(ValueError):
        MM._exif_meta(corrupt)


def test_g711_codec_identities_and_reference_values():
    """ITU-T G.711 companding: A-law encode(decode(c)) == c for ALL
    256 codes (A-law has no signed zero); mu-law the same except the
    single -0 code 0x7F (which decodes to 0 and canonically re-encodes
    as +0 = 0xFF) — value-level identity holds for all 256. Extreme
    decode values pin the published tables: mu-law +-32124, A-law
    +-32256, A-law minimum magnitude 8."""
    import numpy as np

    from hadoop_main_spark.operators import multimodal as MM

    codes = np.arange(256, dtype=np.uint8)
    mu = MM._g711_mulaw_decode(codes)
    re_mu = MM._g711_mulaw_encode(mu)
    mismatch = codes[re_mu != codes]
    assert mismatch.tolist() == [0x7F]
    assert np.array_equal(MM._g711_mulaw_decode(re_mu), mu)
    al = MM._g711_alaw_decode(codes)
    assert np.array_equal(MM._g711_alaw_encode(al), codes)
    assert int(mu.max()) == 32124 and int(mu.min()) == -32124
    assert int(al.max()) == 32256 and int(al.min()) == -32256
    assert int(np.abs(al).min()) == 8
    # mu-law decodes both zero codes to exactly 0
    assert int(MM._g711_mulaw_decode(np.array([0xFF], np.uint8))[0]) == 0
    assert int(MM._g711_mulaw_decode(np.array([0x7F], np.uint8))[0]) == 0


def test_g711_wav_walk_and_strictness():
    """G.711 WAVs (format tags 7/6) decode through the real RIFF chunk
    walk to 16-bit linear; a G.711 fmt chunk claiming 16 bits raises;
    unrelated compressed formats still raise."""
    import numpy as np
    import pytest

    from hadoop_main_spark.operators import multimodal as MM

    codes = np.arange(256, dtype=np.uint8)
    for law, dec in (("mulaw", MM._g711_mulaw_decode), ("alaw", MM._g711_alaw_decode)):
        p = MM._wav_encode_g711(8000, codes, law)
        rate, ch, pcm = MM._wav_decode(p)
        assert (rate, ch) == (8000, 1)
        assert np.array_equal(pcm[:, 0], dec(codes))
    # corrupt bits field: G.711 must be 8-bit
    p = bytearray(MM._wav_encode_g711(8000, codes, "mulaw"))
    p[34] = 16  # fmt chunk bits/sample lives at offset 34 in this layout
    with pytest.raises(ValueError, match="8-bit"):
        MM._wav_decode(bytes(p))
    # an unsupported compressed format tag still raises
    q = bytearray(MM._wav_encode_g711(8000, codes, "alaw"))
    q[20] = 2  # format tag -> ADPCM
    with pytest.raises(ValueError, match="not supported"):
        MM._wav_decode(bytes(q))


def test_id3v2_apic_walk_and_strictness():
    """APIC extraction: both tag versions, utf-16 description walk,
    coexistence with text frames, None when absent, ValueError on a
    malformed (unterminated-mime) body."""
    import pytest

    from hadoop_main_spark.operators import multimodal as MM

    art = b"\x89PNG fake image bytes \x00\x01\x02"
    for ver in (3, 4):
        p = MM._id3v2_build({"TIT2": "t", "TALB": "a"}, ver=ver, apic=art)
        assert MM._id3v2_apic(p) == art
        assert MM._id3v2_frames(p)["TIT2"] == "t"  # text frames still read
    # no APIC / no tag -> None
    assert MM._id3v2_apic(MM._id3v2_build({"TIT2": "t"}, ver=4)) is None
    assert MM._id3v2_apic(b"\xff\xfbnot a tag") is None
    # utf-16 description (enc 1, double-NUL terminator)
    payload = b"\x01image/png\x00\x03" + "cov".encode("utf-16") + b"\x00\x00" + art
    n = len(payload)
    size = bytes([(n >> 21) & 0x7F, (n >> 14) & 0x7F, (n >> 7) & 0x7F, n & 0x7F])
    frame = b"APIC" + size + b"\x00\x00" + payload
    tn = len(frame)
    tsize = bytes([(tn >> 21) & 0x7F, (tn >> 14) & 0x7F, (tn >> 7) & 0x7F, tn & 0x7F])
    tag = b"ID3" + bytes([4, 0, 0]) + tsize + frame
    assert MM._id3v2_apic(tag) == art
    # malformed: mime never NUL-terminates
    bad_payload = b"\x00image/png-no-terminator"
    bn = len(bad_payload)
    bsize = bytes([(bn >> 21) & 0x7F, (bn >> 14) & 0x7F, (bn >> 7) & 0x7F, bn & 0x7F])
    bframe = b"APIC" + bsize + b"\x00\x00" + bad_payload
    btn = len(bframe)
    btsize = bytes(
        [(btn >> 21) & 0x7F, (btn >> 14) & 0x7F, (btn >> 7) & 0x7F, btn & 0x7F]
    )
    with pytest.raises(ValueError, match="APIC"):
        MM._id3v2_apic(b"ID3" + bytes([4, 0, 0]) + btsize + bframe)


def test_audio_energy_fingerprint_bits_and_sentinels(spark):
    """audio_energy_fingerprint: (a) a constructed amplitude walk
    yields exactly the intended 56 delta-sign bits; (b) per-frame
    energy sums across ALL channels (stereo clip with the signal on
    channel 1 only fingerprints like its mono twin); (c) short clips
    and non-WAV payloads take the -1 bad-record sentinel."""
    import numpy as np
    import pandas as pd

    bits = np.array([(b * 7 + 3) % 5 % 2 for b in range(56)], dtype=np.int64)
    amps = np.concatenate(
        [np.array([200], dtype=np.int64), 200 + np.cumsum(2 * bits - 1)]
    )
    mono = np.repeat(amps, 8).astype("<i2")[:, None]
    stereo = np.concatenate([np.zeros_like(mono), mono], axis=1)
    rows = pd.DataFrame(
        {
            "media_id": [1, 2, 3, 4],
            "payload": [
                MM._wav_encode(8000, mono),
                MM._wav_encode(8000, stereo),
                MM._wav_encode(8000, mono[:100]),  # < 57 chunks
                b"not a wav",
            ],
        }
    )
    out = {
        r["media_id"]: r["afp"]
        for r in MM.audio_energy_fingerprint(
            spark.createDataFrame(rows)
        ).collect()
    }
    want = int(sum(int(bits[b]) << b for b in range(56)))
    assert out[1] == want
    assert out[2] == want  # channel-sum energy, not channel-0
    assert out[3] == -1 and out[4] == -1


def test_video_luma_fingerprint_bits_and_sentinels(spark):
    """video_luma_fingerprint: a constructed constant-luma frame walk
    yields exactly the intended 56 temporal bits; short clips and
    non-Y4M payloads take the -1 bad-record sentinel; a brightness-
    order-preserving re-encode (every luma +10) collapses to the
    SAME fingerprint (the temporal-shape invariance the signature
    exists for)."""
    import numpy as np
    import pandas as pd

    bits = np.array([(b * 5 + 1) % 7 % 2 for b in range(56)], dtype=np.int64)
    lum = np.concatenate(
        [np.array([120], dtype=np.int64), 120 + np.cumsum(2 * bits - 1)]
    )
    def clip(vals):
        return MM._y4m_encode(
            [(np.full((8, 8), int(v), dtype=np.uint8), None, None) for v in vals],
            colorspace="Cmono",
        )
    rows = pd.DataFrame(
        {
            "media_id": [1, 2, 3, 4],
            "payload": [
                clip(lum),
                clip(lum + 10),       # re-graded: same temporal order
                clip(lum[:20]),       # < 57 frames
                b"not a y4m",
            ],
        }
    )
    out = {
        r["media_id"]: r["vfp"]
        for r in MM.video_luma_fingerprint(spark.createDataFrame(rows)).collect()
    }
    want = int(sum(int(bits[b]) << b for b in range(56)))
    assert out[1] == want
    assert out[2] == want
    assert out[3] == -1 and out[4] == -1


_BIG = 2**53  # past this, an id that passes through float64 rounds
_TRUNCATED_ID3 = b"ID3\x04\x00\x00\x7f\x7f\x7f\x7f"  # malformed for every walker


def _pdf_meta(media):
    from hadoop_main_spark.sources.pdf import pdf_meta

    return pdf_meta(media)


def _zero_features(p: bytes):
    import hashlib

    return (len(p), hashlib.md5(p).hexdigest(), [0.0] * 4)


def _md5(p: bytes) -> str:
    import hashlib

    return hashlib.md5(p).hexdigest()


def _resize_ppm(media):
    meta = F.lit(0).cast("long")
    media = media.withColumn("meta_width", meta).withColumn("meta_height", meta)
    return MM.resize(media, 2, 3, decoder="ppm")


def _revisit_records(media):
    from hadoop_main_spark.sources.warc import revisit_warc_media, warc_records

    crawl = media.withColumn("uri", F.lit("http://a/"))
    prior = media.sparkSession.createDataFrame([], "uri string, digest string")
    return warc_records(revisit_warc_media(crawl, prior)).select(
        "media_id", "warc_type", "payload_digest"
    )


@pytest.mark.parametrize(
    "kernel, null_row, junk_row",
    [
        (
            lambda m: MM.extract_features(m, decoder="png", dim=4),
            _zero_features(b""),
            _zero_features(_TRUNCATED_ID3),
        ),
        (MM.image_dhash, (-1,), (-1,)),
        (MM.video_luma_fingerprint, (-1,), (-1,)),
        (MM.audio_energy_fingerprint, (-1,), (-1,)),
        (MM.audio_container_meta, ("bad", 0, 0, 0, 0, 0, 0, False), None),
        (MM.video_container_meta, ("bad", 0, 0, 0, "", 0, 0, ""), None),
        (MM.mkv_container_meta, ("bad", 0, 0, 0, "", 0, 0, "", 0), None),
        (MM.mp3_id3_tags, ("", "", "", True), ("", "", "", False)),
        (MM.id3_album_art, (None, True), (None, False)),
        (MM.image_exif_meta, ("bad", "", "", 0, "", 0, 0, 0, 0, 0, 0, 0), None),
        (_pdf_meta, (-1, 0, 0, 0, 0, ""), None),
        (_resize_ppm, (b"", 2, 3), None),
        (
            lambda m: MM.audio_resample(m, decoder="wav"),
            (0, 0, _md5(b"")),
            None,
        ),
        (
            _revisit_records,
            ("response", f"md5:{_md5(b'')}"),
            ("response", f"md5:{_md5(_TRUNCATED_ID3)}"),
        ),
    ],
    ids=[
        "extract_features", "image_dhash", "video_luma_fingerprint",
        "audio_energy_fingerprint", "audio_container_meta",
        "video_container_meta", "mkv_container_meta", "mp3_id3_tags",
        "id3_album_art", "image_exif_meta", "pdf_meta", "resize",
        "audio_resample", "revisit_warc_media",
    ],
)
def test_payload_kernels_keep_ids_exact_next_to_null(spark, kernel, null_row, junk_row):
    """One Arrow batch holding ids past 2^53, a NULL id, a NULL payload
    and a junk payload: every 1->1 payload kernel returns each id
    exactly (a pandas id column turns float64 at the first NULL and
    rounds 2^53+1 to 2^53), and the NULL and junk payloads take the
    kernel's bad-record row (``junk_row`` None = same as ``null_row``)."""
    media = spark.createDataFrame(
        [(_BIG + 1, None), (_BIG + 3, _TRUNCATED_ID3), (None, _TRUNCATED_ID3)],
        "media_id long, payload binary",
    ).coalesce(1)
    rows = {r[0]: tuple(r)[1:] for r in kernel(media).collect()}
    assert set(rows) == {_BIG + 1, _BIG + 3, None}
    assert rows[_BIG + 1] == null_row
    assert rows[_BIG + 3] == (junk_row or null_row)
