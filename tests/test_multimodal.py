"""Multimodal binary-column plumbing: fake-container encode/decode via
mapInPandas, metadata correctness, per-record error isolation."""

import hashlib

import pytest
from pyspark.sql import functions as F

from arc_kinesis_tagging_spark.operators.multimodal import (
    attach_fake_media,
    decode_media,
)
from arc_kinesis_tagging_spark.sources.tables import load_table


def test_roundtrip_metadata(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir).limit(20)
    decoded = decode_media(attach_fake_media(docs, "doc_id", "text"), "doc_id", "media")
    rows = {r["media_id"]: r for r in decoded.collect()}
    src = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert set(rows) == set(src)
    for doc_id, text in src.items():
        r = rows[doc_id]
        assert r["media_type"] == "image"
        assert r["width"] == doc_id % 64 + 16
        assert r["height"] == doc_id % 48 + 16
        assert r["n_payload_bytes"] == len(text.encode())
        assert r["payload_sha"] == hashlib.sha256(text.encode()).hexdigest()


def test_corrupt_payload_isolated(spark):
    df = spark.createDataFrame(
        [(1, bytearray(b"not-a-container")), (2, None)], "doc_id long, media binary"
    )
    rows = {r["media_id"]: r for r in decode_media(df).collect()}
    assert rows[1]["media_type"] is None  # null row, job did not fail
    assert rows[2]["media_type"] is None


@pytest.mark.parametrize("entry", [
    "decode_media", "resize_media", "frame_sample_media", "decode_ppm",
    "decode_png", "decode_jpeg", "decode_png_gray", "phash_gray",
    "vhash_frames", "ahash_wav", "decode_jpeg420", "decode_png_palette",
    "decode_png_gray16", "decode_png_adam7", "decode_wav",
    "audio_features", "sample_y4m_frames", "thumbnail_png", "decode_gif",
    "sample_gif_frames",
])
def test_null_id_isolated(spark, entry):
    # a null id next to a corrupt payload in ONE batch must not fail the
    # job: the shared per-record loop computes the id before the try, so
    # the except path never raises; each record yields one null row
    import arc_kinesis_tagging_spark.operators.multimodal as mm

    df = spark.createDataFrame(
        [(None, bytearray(b"junk")), (7, None)], "doc_id long, media binary"
    ).coalesce(1)
    out = getattr(mm, entry)(df, id_col="doc_id", media_col="media")
    rows = out.collect()
    assert sorted(r["media_id"] is None for r in rows) == [False, True]
    for r in rows:
        assert all(v is None for k, v in r.asDict().items() if k != "media_id")


def test_resize_media(spark, sf_dir):
    from arc_kinesis_tagging_spark.operators.multimodal import resize_media

    docs = load_table(spark, "documents", sf_dir).limit(10)
    media = attach_fake_media(docs, "doc_id", "text")
    resized = resize_media(media, "doc_id", "media", max_dim=16)
    rows = {r["media_id"]: r for r in resized.collect()}
    for r in rows.values():
        assert r["resized"]["width"] <= 16 and r["resized"]["height"] <= 16
        # re-encoded container must itself decode (pipeline composability)
    redecoded = decode_media(resized, "media_id", "media").collect()
    assert all(x["media_type"] == "image" for x in redecoded)
    assert {x["width"] for x in redecoded} <= set(range(1, 17))


def test_frame_sample_media(spark, sf_dir):
    from arc_kinesis_tagging_spark.operators.multimodal import frame_sample_media

    docs = load_table(spark, "documents", sf_dir).limit(5)
    media = attach_fake_media(docs, "doc_id", "text")
    frames = frame_sample_media(media, "doc_id", "media", every_n=3).collect()
    by_doc = {}
    for f in frames:
        by_doc.setdefault(f["media_id"], []).append(f)
    assert set(by_doc) == {r["doc_id"] for r in docs.collect()}
    for doc_frames in by_doc.values():
        idxs = sorted(f["frame_index"] for f in doc_frames)
        assert idxs == list(range(0, doc_frames[0]["n_frames"], 3))
        assert all(len(f["frame_sha"]) == 64 for f in doc_frames)


def test_ppm_decode_real_format_and_isolation(spark):
    """decode_ppm parses REAL P6 bytes: a hand-built 2x2 image decodes
    to its exact channel means; corrupt payloads (truncated header,
    wrong magic, short pixel buffer) yield null rows, never a failed
    job — the per-record isolation contract."""
    from arc_kinesis_tagging_spark.operators.multimodal import decode_ppm

    good = b"P6\n2 2\n255\n" + bytes([10, 20, 30, 10, 20, 30, 50, 20, 30, 50, 20, 30])
    rows = spark.createDataFrame(
        [
            (1, good),
            (2, b"P5\n2 2\n255\n" + b"\x00" * 12),   # wrong magic
            (3, b"P6\n2 2\n255\n" + b"\x00" * 5),    # short pixel buffer
            (4, None),                                 # null payload
        ],
        "media_id long, media binary",
    )
    got = {r["media_id"]: r for r in decode_ppm(rows).collect()}
    assert got[1]["width"] == 2 and got[1]["height"] == 2
    assert got[1]["mean_r"] == 30.0 and got[1]["mean_g"] == 20.0 and got[1]["mean_b"] == 30.0
    for bad in (2, 3, 4):
        assert got[bad]["width"] is None and got[bad]["mean_r"] is None


def _unfilter_reference(ftype, row, prior, bpp=3):
    """Independent per-byte unfilter transcribed directly from the PNG
    spec (§6, Recon(x) formulas) — deliberately naive so a shared bug
    with the vectorized decoder is implausible."""
    rec = []
    for x in range(len(row)):
        a = rec[x - bpp] if x >= bpp else 0          # left
        b = prior[x]                                  # above
        c = prior[x - bpp] if x >= bpp else 0         # upper-left
        if ftype == 0:
            pred = 0
        elif ftype == 1:
            pred = a
        elif ftype == 2:
            pred = b
        elif ftype == 3:
            pred = (a + b) // 2
        else:
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
        rec.append((row[x] + pred) % 256)
    return rec


def test_png_decoder_matches_spec_reference():
    """The production decoder's vectorized unfilter must agree
    byte-for-byte with a naive spec transcription on every filter type,
    and round-trip the encoder exactly."""
    import struct
    import zlib

    import numpy as np

    from arc_kinesis_tagging_spark.operators.multimodal import (
        _png_pixels,
        decode_png_rgb8_bytes,
        encode_png_rgb8,
    )

    for i in [0, 3, 17, 64, 255]:
        px = _png_pixels(i)
        blob = encode_png_rgb8(px)
        assert np.array_equal(decode_png_rgb8_bytes(blob), px), i
        # replay the filtered stream through the spec-reference unfilter
        h, w, _ = px.shape
        pos, idat = 8, b""
        while pos + 12 <= len(blob):
            (ln,) = struct.unpack(">I", blob[pos : pos + 4])
            if blob[pos + 4 : pos + 8] == b"IDAT":
                idat += blob[pos + 8 : pos + 8 + ln]
            pos += 12 + ln
        raw = zlib.decompress(idat)
        stride = w * 3
        prior, rows = [0] * stride, []
        for y in range(h):
            ft = raw[y * (stride + 1)]
            row = list(raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)])
            prior = _unfilter_reference(ft, row, prior)
            rows.append(prior)
        assert np.array_equal(
            np.array(rows, np.uint8).reshape(h, w, 3), px
        ), i


def test_png_decode_isolation_and_multichunk(spark):
    """decode_png through the Spark path: valid PNGs decode to exact
    means; corrupt payloads (flipped IDAT byte -> CRC fail, truncated
    stream, wrong signature, null) yield null rows, never a failed
    job."""
    from arc_kinesis_tagging_spark.operators.multimodal import (
        _png_pixels,
        decode_png,
        encode_png_rgb8,
    )

    good = encode_png_rgb8(_png_pixels(7))
    flipped = bytearray(good)
    flipped[60] ^= 0xFF
    rows = spark.createDataFrame(
        [
            (7, good),
            (2, bytes(flipped)),
            (3, good[: len(good) // 2]),
            (4, b"GIF89a" + good[6:]),
            (5, None),
        ],
        "media_id long, media binary",
    )
    got = {r["media_id"]: r for r in decode_png(rows).collect()}
    i, w, h = 7, 7 % 12 + 4, 7 % 10 + 4
    assert got[7]["width"] == w and got[7]["height"] == h
    assert got[7]["mean_r"] == i % 64 + (w - 1) / 2 + (h - 1) / 2
    assert got[7]["mean_g"] == i % 32 + (w - 1)
    assert got[7]["mean_b"] == i % 16 + 1.5 * (h - 1)
    for bad in (2, 3, 4, 5):
        assert got[bad]["width"] is None and got[bad]["mean_r"] is None, bad


def test_ppm_roundtrip_means_match_analytic_form(spark, sf_dir):
    """Generator + decoder round-trip on real corpus ids: decoded means
    must equal the analytic base + ramp means exactly (integer channel
    sums are exact in double)."""
    from arc_kinesis_tagging_spark.operators.multimodal import (
        attach_ppm_media,
        decode_ppm,
    )

    docs = load_table(spark, "documents", sf_dir).limit(50)
    out = decode_ppm(attach_ppm_media(docs, "doc_id")).collect()
    assert len(out) == 50
    for r in out:
        i = r["media_id"]
        w, h = i % 16 + 4, i % 12 + 4
        assert r["width"] == w and r["height"] == h
        assert r["mean_r"] == i % 64 + (w - 1) / 2 + (h - 1) / 2
        assert r["mean_g"] == i % 32 + (w - 1)
        assert r["mean_b"] == i % 16 + 1.5 * (h - 1)


# --- JPEG (baseline sequential, ITU-T T.81) ---------------------------------


def test_jpeg_zigzag_matches_algorithmic_walk():
    """Guard against a PAIRED encoder/decoder zig-zag bug: the table
    constant must equal an independently generated diagonal walk (up on
    even anti-diagonals, down on odd), transcribed from the spec's
    Figure 5 definition rather than copied from the same constant."""
    from arc_kinesis_tagging_spark.operators.multimodal import _JPG_ZZ

    order = []
    for s in range(15):  # anti-diagonal index s = x + y
        cells = [(x, s - x) for x in range(8) if 0 <= s - x < 8]
        if s % 2 == 1:
            cells.reverse()  # odd diagonals walk top-right -> bottom-left
        order.extend(y * 8 + x for x, y in cells)
    assert list(_JPG_ZZ) == order


def test_jpeg_huffman_tables_are_canonical_prefix_codes():
    from arc_kinesis_tagging_spark.operators.multimodal import (
        _JPG_AC_BITS,
        _JPG_AC_VALS,
        _JPG_DC_BITS,
        _JPG_DC_VALS,
        _jpg_canonical_codes,
    )

    for bits, vals in [(_JPG_DC_BITS, _JPG_DC_VALS), (_JPG_AC_BITS, _JPG_AC_VALS)]:
        enc = _jpg_canonical_codes(bits, vals)
        assert len(enc) == len(vals) == sum(bits)
        # prefix-freeness: no code is a prefix of a longer one
        codes = sorted((ln, code) for ln, code in enc.values())
        for i, (ln1, c1) in enumerate(codes):
            for ln2, c2 in codes[i + 1 :]:
                assert not (ln2 > ln1 and (c2 >> (ln2 - ln1)) == c1)
    # spec Annex K.3.1 spot values: DC category 0 -> '00' (len 2),
    # category 11 -> '111111110' (len 9)
    dc = _jpg_canonical_codes(_JPG_DC_BITS, _JPG_DC_VALS)
    assert dc[0] == (2, 0b00) and dc[11] == (9, 0b111111110)


def test_jpeg_table_caches_stay_bounded():
    # one distinct DHT table per image must not grow the per-worker
    # caches past their size
    from arc_kinesis_tagging_spark.operators.multimodal import (
        _jpg_codes,
        _jpg_huff_table,
    )

    bits = bytes([2] + [0] * 15)  # two 1-bit codes
    for k in range(_jpg_huff_table.cache_info().maxsize + 44):
        hi, lo = 200 + k // 200, k % 200
        assert _jpg_huff_table(bits, bytes([hi, lo])).map == {(1, 0): hi, (1, 1): lo}
    for cache in (_jpg_codes, _jpg_huff_table):
        info = cache.cache_info()
        assert info.currsize <= info.maxsize == 256


def test_jpeg_constant_blocks_roundtrip_exact():
    import numpy as np

    from arc_kinesis_tagging_spark.operators.multimodal import (
        decode_jpeg_bytes,
        encode_jpeg_gray,
    )

    for i in [0, 7, 123, 4567]:
        w, h = 8 * (i % 3 + 1), 8 * (i % 2 + 1)
        base = i % 200
        px = np.empty((h, w))
        for k in range((h // 8) * (w // 8)):
            r, c = divmod(k, w // 8)
            px[8 * r : 8 * r + 8, 8 * c : 8 * c + 8] = base + k
        dec = decode_jpeg_bytes(encode_jpeg_gray(px))
        assert dec.shape == (h, w) and np.array_equal(dec, px), i


def test_jpeg_ac_path_and_quant_tables():
    """Arbitrary images drive the AC run-length/ZRL/EOB machinery:
    quant=1 must round-trip within the +-1 float-IDCT rounding bound;
    a coarse quant table must actually coarsen (proving DQT is parsed
    and applied, not ignored)."""
    import numpy as np

    from arc_kinesis_tagging_spark.operators.multimodal import (
        decode_jpeg_bytes,
        encode_jpeg_gray,
    )

    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, (19, 30)).astype(np.float64)
    dec = decode_jpeg_bytes(encode_jpeg_gray(px))
    assert np.abs(dec - px).max() <= 1.0
    coarse = decode_jpeg_bytes(encode_jpeg_gray(px, np.full(64, 64)))
    err = np.abs(coarse - px).mean()
    assert 1.0 < err < 64.0, err


def test_jpeg_decode_isolation(spark):
    """Corrupt payloads, null ids, and honestly-unsupported streams
    (progressive SOF2) all yield null rows, never a failed job."""
    from arc_kinesis_tagging_spark.operators.multimodal import (
        attach_jpeg_media,
        decode_jpeg,
    )

    ids = spark.range(0, 6).withColumnRenamed("id", "doc_id")
    good = attach_jpeg_media(ids, "doc_id")
    rows = {r["media_id"]: r for r in decode_jpeg(good).collect()}
    for i in range(6):
        nb = (i % 3 + 1) * (i % 2 + 1)
        assert rows[i]["width"] == 8 * (i % 3 + 1)
        assert rows[i]["mean_gray"] == i % 200 + (nb - 1) / 2
    # progressive marker (SOF2) + garbage + null id
    bad = spark.createDataFrame(
        [(100, bytearray(b"\xff\xd8\xff\xc2\x00\x04\x08\x00")),
         (101, bytearray(b"not-a-jpeg")), (None, None)],
        "media_id long, media binary",
    )
    out = decode_jpeg(bad).collect()
    assert len(out) == 3 and all(r["width"] is None for r in out)


def test_jpeg_restart_markers_roundtrip():
    """DRI/RSTn handling per T.81 F.2.1.3.1: byte-aligned restart
    markers with DC-predictor resets must round-trip at several
    interval sizes — including interval 1 (a marker between every
    MCU), the maximal-stress shape."""
    import numpy as np

    from arc_kinesis_tagging_spark.operators.multimodal import (
        decode_jpeg_bytes,
        encode_jpeg_gray,
    )

    rng = np.random.default_rng(11)
    px = rng.integers(0, 256, (19, 30)).astype(np.float64)
    for ri in (1, 2, 5):
        blob = encode_jpeg_gray(px, restart_interval=ri)
        assert b"\xff\xdd" in blob and b"\xff\xd0" in blob  # DRI + RST0
        assert np.abs(decode_jpeg_bytes(blob) - px).max() <= 1.0, ri
    # a truncated stream that ends where an RST was expected must raise
    blob = encode_jpeg_gray(px, restart_interval=2)
    cut = blob.index(b"\xff\xd0")
    try:
        decode_jpeg_bytes(blob[:cut] + b"\x00\x00" + blob[cut + 2 :])
        raise AssertionError("expected restart-marker error")
    except ValueError:
        pass


def test_png_gray_roundtrip_and_isolation(spark):
    """Grayscale PNG: exact roundtrip on random images across all five
    filters (heights >= 5), and per-record isolation for a truecolor
    PNG fed to the grayscale decoder (wrong color type -> null row,
    not a failed job)."""
    import numpy as np

    from arc_kinesis_tagging_spark.operators.multimodal import (
        _png_pixels,
        decode_png_gray,
        decode_png_gray8_bytes,
        encode_png_gray8,
        encode_png_rgb8,
    )

    rng = np.random.default_rng(5)
    for dims in [(5, 7), (11, 13), (8, 4)]:
        px = rng.integers(0, 256, dims).astype(np.uint8)
        assert np.array_equal(
            decode_png_gray8_bytes(encode_png_gray8(px)), px
        ), dims
    gray = encode_png_gray8(rng.integers(0, 256, (6, 6)).astype(np.uint8))
    rgb = encode_png_rgb8(_png_pixels(3))
    rows = spark.createDataFrame(
        [(1, gray), (2, rgb), (3, None)], "media_id long, media binary"
    )
    got = {r["media_id"]: r for r in decode_png_gray(rows).collect()}
    assert got[1]["width"] == 6 and got[1]["mean_gray"] is not None
    assert got[2]["width"] is None  # color type 2 rejected -> isolated
    assert got[3]["width"] is None


def test_jpeg_color444_roundtrip():
    """3-component 4:4:4 color JPEG: per-MCU interleaved entropy
    decode + JFIF YCbCr->RGB. With quant=1 the only loss is the two
    color-transform roundings, bounding roundtrip error at 3 levels;
    grayscale decode through decode_jpeg stays unaffected (it rejects
    3-component images via its expected-grayscale check -> null row)."""
    import numpy as np

    from arc_kinesis_tagging_spark.operators.multimodal import (
        decode_jpeg_bytes,
        encode_jpeg_color444,
    )

    rng = np.random.default_rng(13)
    for dims in [(16, 16), (19, 22)]:
        rgb = rng.integers(0, 256, (*dims, 3)).astype(np.float64)
        dec = decode_jpeg_bytes(encode_jpeg_color444(rgb))
        assert dec.shape == (*dims, 3)
        assert np.abs(dec - rgb).max() <= 3.0
    # constant-color image: DC-only in all three components
    flat = np.full((8, 16, 3), [120.0, 64.0, 200.0])
    dec = decode_jpeg_bytes(encode_jpeg_color444(flat))
    assert np.abs(dec - flat).max() <= 2.0


def test_jpeg_420_roundtrip_bounds():
    """4:2:0 encode->decode on random images: (a) content constant per
    2x2 chroma site roundtrips within the color-transform bound (no
    decimation loss by construction); (b) gray content (Cb=Cr=128
    exactly) roundtrips within the luma IDCT bound; (c) arbitrary
    random color content stays within a loose chroma-decimation bound
    and exact luma reconstruction (Y recomputed from decoded RGB)."""
    import numpy as np

    from arc_kinesis_tagging_spark.operators.multimodal import (
        decode_jpeg_bytes,
        encode_jpeg_color420,
    )

    rng = np.random.default_rng(17)
    for dims in [(8, 10), (12, 14), (16, 16)]:
        base = rng.integers(0, 256, (*dims, 3)).astype(np.float64)
        img = np.repeat(np.repeat(base, 2, axis=0), 2, axis=1)
        dec = decode_jpeg_bytes(encode_jpeg_color420(img))
        assert dec.shape == img.shape
        assert np.abs(dec - img).max() <= 3.0, dims
    gray = np.repeat(
        rng.integers(0, 256, (13, 21, 1)), 3, axis=2
    ).astype(np.float64)
    dec = decode_jpeg_bytes(encode_jpeg_color420(gray))
    assert np.abs(dec - gray).max() <= 1.0
    wild = rng.integers(0, 256, (19, 22, 3)).astype(np.float64)
    dec = decode_jpeg_bytes(encode_jpeg_color420(wild))
    assert dec.shape == wild.shape
    # luma survives decimation: Y of the decoded RGB tracks Y of input
    # (pointwise bound is loose because out-of-gamut RGB clipping after
    # chroma decimation shifts reconstructed Y; the mean bound is the
    # meaningful one)
    def luma(p):
        return 0.299 * p[..., 0] + 0.587 * p[..., 1] + 0.114 * p[..., 2]
    lerr = np.abs(luma(dec) - luma(wild))
    assert lerr.max() <= 20.0 and lerr.mean() <= 1.5, (lerr.max(), lerr.mean())


def test_jpeg_420_mcu_interleave_exact():
    """Exact-integer 4:2:0 planes (DC-only spectra) decode bit-exactly
    to the analytic BT.601 image across MCU-grid shapes — the fixture
    property q_multimodal_jpeg420's oracle relies on; a decoder that
    mis-walks the 2x2 luma raster, swaps Cb/Cr, or mis-sizes the
    chroma grid fails here."""
    import numpy as np

    from arc_kinesis_tagging_spark.operators.multimodal import (
        decode_jpeg_bytes,
        encode_jpeg_ycbcr420,
    )

    for (h, w) in [(16, 16), (32, 16), (48, 32)]:
        jw, nmw = w // 8, w // 16
        y = np.empty((h, w))
        cb = np.empty((h // 2, w // 2))
        cr = np.empty((h // 2, w // 2))
        for j in range(jw * (h // 8)):
            jr, jc = divmod(j, jw)
            y[8 * jr : 8 * jr + 8, 8 * jc : 8 * jc + 8] = 40 + j
        for k in range(nmw * (h // 16)):
            kr, kc = divmod(k, nmw)
            cb[8 * kr : 8 * kr + 8, 8 * kc : 8 * kc + 8] = 128 + k % 7 - 3
            cr[8 * kr : 8 * kr + 8, 8 * kc : 8 * kc + 8] = 128 + 2 * k % 5 - 2
        dec = decode_jpeg_bytes(encode_jpeg_ycbcr420(y, cb, cr))
        exp = np.empty((h, w, 3))
        for jr in range(h // 8):
            for jc in range(w // 8):
                j = jr * jw + jc
                k = (jr // 2) * nmw + (jc // 2)
                dcb, dcr, yv = k % 7 - 3, 2 * k % 5 - 2, 40 + j
                exp[8 * jr : 8 * jr + 8, 8 * jc : 8 * jc + 8] = [
                    np.round(yv + 1.402 * dcr),
                    np.round(yv - 0.344136 * dcb - 0.714136 * dcr),
                    np.round(yv + 1.772 * dcb),
                ]
        assert np.array_equal(dec, exp), (h, w)


def test_jpeg_420_spark_decode_isolation(spark):
    """The 420 decode through mapInPandas: fixture images decode to
    their closed-form channel sums; corrupt and null payloads isolate
    to null rows."""
    from arc_kinesis_tagging_spark.operators.multimodal import (
        attach_jpeg420_media,
        decode_jpeg420,
    )

    ids = spark.range(0, 8).withColumnRenamed("id", "doc_id")
    rows = {
        r["media_id"]: r
        for r in decode_jpeg420(attach_jpeg420_media(ids, "doc_id")).collect()
    }
    import numpy as np

    for i in range(8):
        nmw, nmh = i % 2 + 1, i % 3 + 1
        assert rows[i]["width"] == 16 * nmw and rows[i]["height"] == 16 * nmh
        jw = 2 * nmw
        sr = sg = sb = 0
        for j in range(4 * nmw * nmh):
            jr, jc = divmod(j, jw)
            k = (jr // 2) * nmw + (jc // 2)
            yv = i % 180 + 30 + j
            dcb, dcr = (i + k) % 7 - 3, (i + 2 * k) % 5 - 2
            sr += 64 * int(np.round(yv + 1.402 * dcr))
            sg += 64 * int(np.round(yv - 0.344136 * dcb - 0.714136 * dcr))
            sb += 64 * int(np.round(yv + 1.772 * dcb))
        assert (rows[i]["sum_r"], rows[i]["sum_g"], rows[i]["sum_b"]) == (
            sr, sg, sb,
        ), i
    bad = spark.createDataFrame(
        [(100, bytearray(b"\xff\xd8\xff\xc2\x00\x04\x08\x00")),
         (101, bytearray(b"junk")), (None, None)],
        "media_id long, media binary",
    )
    out = decode_jpeg420(bad).collect()
    assert len(out) == 3 and all(r["width"] is None for r in out)


def test_png_palette_roundtrip_and_isolation(spark):
    """Paletted PNG: random palettes/indices roundtrip bit-exactly
    through all five filter types; a truecolor stream fed to the
    paletted decoder and corrupt/null payloads isolate to null rows;
    an out-of-range palette index is a stream error, not garbage
    pixels."""
    import numpy as np

    from arc_kinesis_tagging_spark.operators.multimodal import (
        _png_pixels,
        attach_png_palette_media,
        decode_png_palette,
        decode_png_palette8_bytes,
        encode_png_palette8,
        encode_png_rgb8,
    )

    rng = np.random.default_rng(23)
    for (h, w, n) in [(5, 7, 2), (12, 9, 40), (8, 8, 256)]:
        pal = rng.integers(0, 256, (n, 3)).astype(np.uint8)
        idx = rng.integers(0, n, (h, w)).astype(np.uint8)
        dec = decode_png_palette8_bytes(encode_png_palette8(idx, pal))
        assert np.array_equal(dec, pal[idx]), (h, w, n)
    # out-of-range index: encode with a 300-entry... not allowed; build
    # a stream with a 4-entry palette but index 7 via a bigger palette
    # then truncating PLTE is fiddly — instead assert the encoder
    # rejects it and the decoder rejects a wrong-color-type stream
    try:
        encode_png_palette8(np.full((2, 2), 9, np.uint8), pal[:4])
        raise AssertionError("expected index-out-of-range")
    except ValueError:
        pass
    rows = spark.createDataFrame(
        [(1, bytearray(encode_png_rgb8(_png_pixels(3)))),
         (2, bytearray(b"nope")), (None, None)],
        "media_id long, media binary",
    )
    out = decode_png_palette(rows).collect()
    assert len(out) == 3 and all(r["width"] is None for r in out)
    # fixture images decode to their closed-form sums
    ids = spark.range(0, 6).withColumnRenamed("id", "doc_id")
    got = {
        r["media_id"]: r
        for r in decode_png_palette(
            attach_png_palette_media(ids, "doc_id")
        ).collect()
    }
    for i in range(6):
        w, h, n = i % 12 + 4, i % 10 + 4, 8 + i % 9
        pal_r = (7 * np.arange(n) + 3) % 256
        idx = (np.arange(w * h) + i) % n
        assert got[i]["width"] == w and got[i]["n_palette"] == n
        assert got[i]["sum_r"] == int(pal_r[idx].sum()), i


def test_png16_roundtrip_and_isolation(spark):
    """16-bit grayscale PNG: random uint16 images roundtrip bit-exactly
    through all five byte-level bpp=2 filters; 8-bit streams, corrupt
    payloads, and nulls isolate to null rows through the Spark path."""
    import numpy as np

    from arc_kinesis_tagging_spark.operators.multimodal import (
        attach_png_gray16_media,
        decode_png_gray16,
        decode_png_gray16_bytes,
        encode_png_gray8,
        encode_png_gray16,
    )

    rng = np.random.default_rng(31)
    for dims in [(5, 5), (12, 9), (7, 16)]:
        px = rng.integers(0, 65536, dims).astype(np.uint16)
        assert np.array_equal(
            decode_png_gray16_bytes(encode_png_gray16(px)), px
        ), dims
    bad = spark.createDataFrame(
        [(1, bytearray(encode_png_gray8(
            rng.integers(0, 256, (4, 4)).astype(np.uint8)))),
         (2, bytearray(b"x")), (None, None)],
        "media_id long, media binary",
    )
    out = decode_png_gray16(bad).collect()
    assert len(out) == 3 and all(r["width"] is None for r in out)
    ids = spark.range(0, 5).withColumnRenamed("id", "doc_id")
    got = {
        r["media_id"]: r
        for r in decode_png_gray16(
            attach_png_gray16_media(ids, "doc_id")
        ).collect()
    }
    for i in range(5):
        w, h = i % 10 + 4, i % 8 + 4
        base = i * 257 % 60000
        expect = (
            w * h * base
            + 17 * h * (w * (w - 1) // 2)
            + 29 * w * (h * (h - 1) // 2)
        )
        assert got[i]["sum_val"] == expect, i


def test_jpeg_progressive_equals_baseline():
    """Progressive encode->decode must be COEFFICIENT-LOSSLESS: with
    the same quant table, decoding the progressive stream of any image
    yields bit-identical pixels to decoding its baseline encoding —
    across spectral splits, successive-approximation depths (including
    none), and content with long EOB runs, ZRL-in-refine, and
    correction bits."""
    import numpy as np

    from arc_kinesis_tagging_spark.operators.multimodal import (
        decode_jpeg_bytes,
        encode_jpeg_gray,
        encode_jpeg_gray_progressive,
    )

    rng = np.random.default_rng(71)
    for dims in [(8, 8), (24, 16), (19, 30)]:
        for (bs, dal, aal) in [(6, 1, 1), (2, 2, 2), (33, 1, 2), (6, 0, 0)]:
            px = rng.integers(0, 256, dims).astype(np.float64)
            base = decode_jpeg_bytes(encode_jpeg_gray(px))
            prog = decode_jpeg_bytes(
                encode_jpeg_gray_progressive(
                    px, band_split=bs, dc_al=dal, ac_al=aal
                )
            )
            assert np.array_equal(prog, base), (dims, bs, dal, aal)
    # sparse content drives maximal EOB runs (many all-zero AC blocks)
    flat = np.full((40, 40), 77.0)
    flat[8:16, 8:16] = 200.0
    assert np.array_equal(
        decode_jpeg_bytes(encode_jpeg_gray_progressive(flat)),
        decode_jpeg_bytes(encode_jpeg_gray(flat)),
    )


def test_jpeg_progressive_spark_decode(spark):
    """The progressive fixture decodes through decode_jpeg to the same
    closed-form means as the baseline fixture; truncated SOF2 headers
    and mid-scan truncations isolate to null rows."""
    from arc_kinesis_tagging_spark.operators.multimodal import (
        attach_jpeg_prog_media,
        decode_jpeg,
        encode_jpeg_gray_progressive,
    )

    ids = spark.range(0, 6).withColumnRenamed("id", "doc_id")
    rows = {
        r["media_id"]: r
        for r in decode_jpeg(attach_jpeg_prog_media(ids, "doc_id")).collect()
    }
    for i in range(6):
        nb = (i % 3 + 1) * (i % 2 + 1)
        assert rows[i]["width"] == 8 * (i % 3 + 1)
        assert rows[i]["mean_gray"] == i % 200 + (nb - 1) / 2
    import numpy as np

    good = encode_jpeg_gray_progressive(
        np.full((8, 8), 100.0)
    )
    bad = spark.createDataFrame(
        [(1, bytearray(b"\xff\xd8\xff\xc2\x00\x04\x08\x00")),
         (2, bytearray(good[: len(good) // 2])), (None, None)],
        "media_id long, media binary",
    )
    out = decode_jpeg(bad).collect()
    assert len(out) == 3 and all(r["width"] is None for r in out)


def test_jpeg_progressive_color_equals_baseline():
    """Color (3-component) progressive JPEG: INTERLEAVED DC scans +
    per-component non-interleaved AC band scans must decode
    bit-identically to the baseline 4:4:4 encoding of the same image —
    the multi-component paths of the progressive decoder (per-scan
    component subsets, interleaved predictors, per-comp EOB runs) that
    the grayscale fixture cannot reach."""
    import numpy as np

    from arc_kinesis_tagging_spark.operators.multimodal import (
        decode_jpeg_bytes,
        encode_jpeg_color444,
        encode_jpeg_color444_progressive,
    )

    rng = np.random.default_rng(19)
    for dims in [(16, 16), (19, 22)]:
        for (dal, aal) in [(1, 1), (2, 2), (0, 0)]:
            rgb = rng.integers(0, 256, (*dims, 3)).astype(np.float64)
            base = decode_jpeg_bytes(encode_jpeg_color444(rgb))
            prog = decode_jpeg_bytes(
                encode_jpeg_color444_progressive(rgb, dc_al=dal, ac_al=aal)
            )
            assert np.array_equal(prog, base), (dims, dal, aal)


def test_jpeg_422_exact_planes():
    """4:2:2 (samp 0x21) — the remaining sampling grid: two luma
    blocks per MCU with horizontally-halved chroma. Exact integer
    DC-only planes decode bit-exactly to the analytic BT.601 image,
    proving the general MCU walk's 2x1 traversal and the
    horizontal-only replication upsample."""
    import numpy as np

    from arc_kinesis_tagging_spark.operators.multimodal import (
        decode_jpeg_bytes,
        encode_jpeg_ycbcr422,
    )

    for (h, w) in [(8, 16), (16, 32), (24, 16)]:
        jw, nmw = w // 8, w // 16
        y = np.zeros((h, w))
        cb = np.zeros((h, w // 2))
        cr = np.zeros((h, w // 2))
        for j in range(jw * (h // 8)):
            jr, jc = divmod(j, jw)
            y[8 * jr : 8 * jr + 8, 8 * jc : 8 * jc + 8] = 50 + j
        for k in range(nmw * (h // 8)):
            kr, kc = divmod(k, nmw)
            cb[8 * kr : 8 * kr + 8, 8 * kc : 8 * kc + 8] = 128 + k % 7 - 3
            cr[8 * kr : 8 * kr + 8, 8 * kc : 8 * kc + 8] = 128 + 2 * k % 5 - 2
        dec = decode_jpeg_bytes(encode_jpeg_ycbcr422(y, cb, cr))
        exp = np.empty((h, w, 3))
        for jr in range(h // 8):
            for jc in range(jw):
                j = jr * jw + jc
                k = jr * nmw + (jc // 2)
                dcb, dcr, yv = k % 7 - 3, 2 * k % 5 - 2, 50 + j
                exp[8 * jr : 8 * jr + 8, 8 * jc : 8 * jc + 8] = [
                    np.round(yv + 1.402 * dcr),
                    np.round(yv - 0.344136 * dcb - 0.714136 * dcr),
                    np.round(yv + 1.772 * dcb),
                ]
        assert np.array_equal(dec, exp), (h, w)


def test_jpeg_progressive_refine_zrl_history():
    """Crafted AC-refinement interleavings the random fixtures never
    reach (T.81 G.1.2.3 / libjpeg jcphuff.c): a history coefficient
    (|v|>=2) sitting at or past the 16th zero of a run forces the
    encoder to emit the ZRL *at the history coefficient* and flush the
    correction bits buffered so far — deferring the ZRL to the next
    newly-nonzero coefficient either decodes wrong pixels or desyncs
    the stream entirely. Each pattern is planted as exact post-quant
    coefficients via the inverse DCT, verified to survive the FDCT
    round-trip, then pinned progressive == baseline."""
    import numpy as np

    from arc_kinesis_tagging_spark.operators.multimodal import (
        _JPG_ZZ,
        _dct8_matrix,
        _jpg_plane_zz,
        decode_jpeg_bytes,
        encode_jpeg_gray,
        encode_jpeg_gray_progressive,
    )

    c = _dct8_matrix()
    band0 = 6  # default band_split: refine band covers zz 6..63

    def px_from_zz(zz_blocks):
        """(n,64) zig-zag coefficient blocks -> float pixel strip whose
        FDCT@quant=1 reproduces them exactly (asserted)."""
        n = len(zz_blocks)
        px = np.empty((8, 8 * n), np.float64)
        for i, zzb in enumerate(zz_blocks):
            raster = np.zeros(64, np.float64)
            raster[_JPG_ZZ] = np.asarray(zzb, np.float64)
            px[:, 8 * i : 8 * i + 8] = c.T @ raster.reshape(8, 8) @ c + 128.0
        got = _jpg_plane_zz(px, np.ones(64, np.int64))
        assert np.array_equal(got, np.asarray(zz_blocks, np.int64)), "FDCT drift"
        return px

    def blk(**at):
        z = [0] * 64
        for k, v in at.items():
            z[band0 + int(k[1:])] = v  # p<i>: band-local position i
        return z

    cases = [
        # 16 zeros then history(+-2) then newly-nonzero(+-1)
        [blk(p16=2, p17=1)],
        [blk(p16=-2, p17=-1)],
        # history past the 16th zero (r=20 at the history coefficient),
        # odd history value => correction bit 1
        [blk(p20=3, p23=-1)],
        # new first, trailing history folds into the EOB run's bits
        [blk(p0=1, p17=2)],
        # r > 31: two ZRLs forced at one history coefficient
        [blk(p33=2, p34=1)],
        # cross-block: history-only block's correction rides the EOB
        # run flushed by the next block's newly-nonzero coefficient
        [blk(p16=2), blk(p0=1)],
        [blk(p16=3), blk(p5=-1, p30=2)],
        # dense mix: multiple runs, histories at run boundaries
        [blk(p15=2, p16=1, p33=-3, p34=-1, p57=1)],
    ]
    for i, zz_blocks in enumerate(cases):
        px = px_from_zz(zz_blocks)
        base = decode_jpeg_bytes(encode_jpeg_gray(px))
        prog = decode_jpeg_bytes(encode_jpeg_gray_progressive(px))
        assert np.array_equal(prog, base), f"case {i}"


def test_png_adam7_roundtrip_and_isolation(spark):
    """Adam7 interlaced PNG: bit-exact roundtrip across edge dims
    (single-pixel, sub-8x8 images where most passes are empty, odd
    sizes exercising ceil pass dims), equality with the non-interlaced
    decode of the same pixels, and per-record isolation of corrupt
    payloads through the Spark path."""
    import numpy as np
    from pyspark.sql import functions as F

    from arc_kinesis_tagging_spark.operators.multimodal import (
        attach_png_adam7_media,
        decode_png_adam7,
        decode_png_rgb8_adam7_bytes,
        encode_png_rgb8_adam7,
    )

    rng = np.random.default_rng(11)
    for dims in [(1, 1), (1, 9), (3, 2), (5, 5), (8, 8), (13, 9), (31, 23)]:
        px = rng.integers(0, 256, (*dims, 3)).astype(np.uint8)
        assert np.array_equal(
            decode_png_rgb8_adam7_bytes(encode_png_rgb8_adam7(px)), px
        ), dims

    ids = spark.range(40).withColumnRenamed("id", "doc_id")
    media = attach_png_adam7_media(ids, "doc_id")
    # corrupt one payload: truncate; and null another
    corrupted = media.withColumn(
        "media",
        F.when(F.col("media_id") == 7,
               F.expr("substring(media, 1, 40)").cast("binary"))
        .when(F.col("media_id") == 9, F.lit(None).cast("binary"))
        .otherwise(F.col("media")),
    )
    rows = {r["media_id"]: r for r in decode_png_adam7(corrupted).collect()}
    assert len(rows) == 40
    assert rows[7]["width"] is None and rows[9]["width"] is None
    ok = rows[3]
    assert ok["width"] == 3 % 12 + 4 and ok["height"] == 3 % 10 + 4


def test_wav_y4m_roundtrip_and_isolation(spark):
    """Audio/video container codecs: WAV PCM16 roundtrip (mono/stereo,
    odd lengths, extreme samples), Y4M roundtrip, and per-record
    isolation of truncated/corrupt payloads through the Spark path."""
    import numpy as np
    from pyspark.sql import functions as F

    from arc_kinesis_tagging_spark.operators.multimodal import (
        attach_wav_media,
        attach_y4m_media,
        decode_wav,
        decode_wav_bytes,
        encode_wav_pcm16,
        sample_y4m_frames,
    )

    # WAV: extreme int16 values survive, word-aligned odd chunk walk
    s = np.array([[32767], [-32768], [0]], np.int16)
    dec, rate = decode_wav_bytes(encode_wav_pcm16(s, 44100))
    assert rate == 44100 and np.array_equal(dec, s)

    ids = spark.range(30).withColumnRenamed("id", "doc_id")
    wav = attach_wav_media(ids, "doc_id")
    wav_bad = wav.withColumn(
        "media",
        F.when(F.col("media_id") == 5,
               F.expr("substring(media, 1, 20)").cast("binary"))
        .otherwise(F.col("media")),
    )
    rows = {r["media_id"]: r for r in decode_wav(wav_bad).collect()}
    assert rows[5]["n_frames"] is None
    r7 = rows[7]
    assert (r7["n_channels"], r7["sample_rate"], r7["n_frames"]) == (
        7 % 2 + 1, 8000 + (7 % 3) * 4000, 1000 + (7 % 5) * 100
    )

    y4m = attach_y4m_media(ids, "doc_id")
    y4m_bad = y4m.withColumn(
        "media",
        F.when(F.col("media_id") == 3,
               F.expr("substring(media, 1, 30)").cast("binary"))
        .otherwise(F.col("media")),
    )
    out = sample_y4m_frames(y4m_bad, every=2).collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r["media_id"], []).append(r)
    assert len(by_id[3]) == 1 and by_id[3][0]["frame_idx"] is None
    f9 = sorted(by_id[9], key=lambda r: r["frame_idx"])
    n9 = 9 % 7 + 4
    assert [r["frame_idx"] for r in f9] == list(range(0, n9, 2))
    for r in f9:
        assert r["mean_y"] == (9 + 11 * r["frame_idx"]) % 200 + 28


def test_gif_lzw_roundtrip_growth_and_reset():
    """GIF LZW kernel: random and adversarial index streams round-trip
    bit-exactly through code-width growth to 12 bits, the 4096-entry
    table reset (forced by a large random image), the KwKwK
    first-use-of-just-added-code case (forced by repeated runs), and
    every minimum code size 2..8."""
    import numpy as np

    from arc_kinesis_tagging_spark.operators.multimodal import (
        _gif_lzw_compress,
        _gif_lzw_decompress,
    )

    rng = np.random.default_rng(29)
    cases = [
        (2, rng.integers(0, 4, 9000)),        # mcs=2, forces growth+reset
        (8, rng.integers(0, 256, 50000)),     # 12-bit growth + resets
        (3, np.tile([1, 1, 1, 1, 5, 5, 1], 400)),  # KwKwK runs
        (2, np.zeros(5000, np.int64)),        # single-symbol run
        (4, np.arange(40000) % 16),           # periodic gradient
        (5, rng.integers(0, 32, 1)),          # single pixel
    ]
    for mcs in range(2, 9):
        cases.append((mcs, rng.integers(0, 1 << mcs, 3000)))
    for mcs, seq in cases:
        seq = np.asarray(seq, np.int64)
        comp = _gif_lzw_compress(seq, mcs)
        back = _gif_lzw_decompress(comp, mcs, len(seq))
        assert list(seq) == list(back), (mcs, len(seq))
    # truncated stream and wrong expected length are stream errors
    comp = _gif_lzw_compress(np.arange(100) % 4, 2)
    for bad in (comp[: len(comp) // 2], comp[:1]):
        try:
            _gif_lzw_decompress(bad, 2, 100)
            raise AssertionError("expected LZW error")
        except ValueError:
            pass


def test_gif_roundtrip_interlace_and_isolation(spark):
    """Whole-container GIF: random images (palettes 2..256, interlaced
    and progressive-scan) round-trip bit-exactly including the
    extension-block walk and 255-byte sub-block splits; interlaced row
    placement is pinned pixel-for-pixel; corrupt/truncated/null
    payloads isolate to null rows; fixture images decode to their
    closed-form sums including the row-weighted de-interlace check."""
    import numpy as np

    from arc_kinesis_tagging_spark.operators.multimodal import (
        _gif_interlace_order,
        attach_gif_media,
        decode_gif,
        decode_gif_bytes,
        encode_gif_palette,
    )

    rng = np.random.default_rng(31)
    for (h, w, n, inter) in [
        (5, 7, 2, False), (13, 9, 40, True), (17, 23, 256, True),
        (1, 1, 1, False), (64, 80, 256, False), (9, 4, 16, True),
    ]:
        pal = rng.integers(0, 256, (n, 3)).astype(np.uint8)
        idx = rng.integers(0, n, (h, w)).astype(np.uint8)
        b = encode_gif_palette(idx, pal, interlace=inter)
        didx, dpal, dint = decode_gif_bytes(b)
        assert dint == inter and np.array_equal(didx, idx), (h, w, n, inter)
        assert np.array_equal(dpal[:n], pal)
    # interlace order is the spec's 4-pass lattice
    assert _gif_interlace_order(10) == [0, 8, 4, 2, 6, 1, 3, 5, 7, 9]
    # encoder rejects out-of-palette indices
    try:
        encode_gif_palette(np.full((2, 2), 9, np.uint8), pal[:4])
        raise AssertionError("expected index-out-of-range")
    except ValueError:
        pass
    good = encode_gif_palette(
        rng.integers(0, 8, (6, 6)).astype(np.uint8), pal[:8]
    )
    rows = spark.createDataFrame(
        [(1, bytearray(good)), (2, bytearray(b"GIF89a trash")),
         (3, bytearray(good[: len(good) // 2])), (None, None)],
        "media_id long, media binary",
    )
    out = {r["media_id"]: r for r in decode_gif(rows).collect()}
    assert out[1]["width"] == 6 and out[1]["n_colors"] == 8
    assert out[2]["width"] is None and out[3]["width"] is None
    assert out[None]["width"] is None
    # fixtures match their closed-form sums (incl. wsum_r row weights)
    ids = spark.range(0, 9).withColumnRenamed("id", "doc_id")
    got = {
        r["media_id"]: r
        for r in decode_gif(attach_gif_media(ids, "doc_id")).collect()
    }
    for i in range(9):
        w, h, n = i % 13 + 4, i % 11 + 4, 4 + i % 13
        pal_r = (5 * np.arange(n) + 7) % 256
        idx = ((np.arange(w * h) + i) % n).reshape(h, w)
        r = got[i]
        assert (r["width"], r["height"]) == (w, h)
        assert r["interlaced"] == (1 if i % 3 == 0 else 0)
        assert r["sum_r"] == int(pal_r[idx].sum())
        assert r["wsum_r"] == int(
            ((np.arange(h) + 1) * pal_r[idx].sum(axis=1)).sum()
        ), i


def test_gif_anim_roundtrip_sampling_and_isolation(spark):
    """Animated GIF: multi-frame round-trip is bit-exact per frame
    (including streams whose per-frame LZW tables grow and reset);
    the NETSCAPE loop + per-frame GCE extension walk is exercised;
    every-k sampling keeps exactly frames 0, k, 2k... with correct
    per-frame sums; corrupt payloads isolate to one null row."""
    import numpy as np

    from arc_kinesis_tagging_spark.operators.multimodal import (
        attach_gif_anim_media,
        decode_gif_anim_bytes,
        encode_gif_anim,
        sample_gif_frames,
    )

    rng = np.random.default_rng(37)
    pal = rng.integers(0, 256, (256, 3)).astype(np.uint8)
    frames = [
        rng.integers(0, 256, (40, 50)).astype(np.uint8) for _ in range(5)
    ]
    b = encode_gif_anim(frames, pal)
    got, gpal = decode_gif_anim_bytes(b)
    assert len(got) == 5 and np.array_equal(gpal, pal)
    for f, g in zip(frames, got):
        assert np.array_equal(f, g)
    # single-frame animation and palette-2 edge
    one = [np.zeros((3, 3), np.uint8)]
    gf, _ = decode_gif_anim_bytes(encode_gif_anim(one, pal[:2]))
    assert len(gf) == 1
    # spark path: sampling + closed-form sums + isolation
    rows = spark.createDataFrame(
        [(7, bytearray(encode_gif_anim(frames[:4], pal))),
         (8, bytearray(b"GIF89a nope")), (None, None)],
        "media_id long, media binary",
    )
    out = sample_gif_frames(rows, every=2).collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r["media_id"], []).append(r)
    assert [r["frame_idx"] for r in sorted(
        by_id[7], key=lambda r: r["frame_idx"]
    )] == [0, 2]
    assert all(r["n_frames"] == 4 for r in by_id[7])
    exp = pal[frames[2]].astype("int64").reshape(-1, 3).sum(axis=0)
    r2 = next(r for r in by_id[7] if r["frame_idx"] == 2)
    assert (r2["sum_r"], r2["sum_g"], r2["sum_b"]) == tuple(exp)
    assert by_id[8][0]["n_frames"] is None and len(by_id[8]) == 1
    assert by_id[None][0]["n_frames"] is None
    # fixture sums match the analytic form
    ids = spark.range(0, 8).withColumnRenamed("id", "doc_id")
    got = {}
    for r in sample_gif_frames(
        attach_gif_anim_media(ids, "doc_id"), every=2
    ).collect():
        got[(r["media_id"], r["frame_idx"])] = r
    for i in range(8):
        nf, w, h, n = i % 5 + 2, i % 7 + 4, i % 5 + 4, 4 + i % 9
        pal_r = (5 * np.arange(n) + 7) % 256
        for f in range(0, nf, 2):
            idx = (np.arange(w * h) + i + 3 * f) % n
            r = got[(i, f)]
            assert r["n_frames"] == nf
            assert r["sum_r"] == int(pal_r[idx].sum()), (i, f)
    assert len(got) == sum((i % 5 + 2 + 1) // 2 for i in range(8))


def test_audio_features_spectral_numpy_parity(spark):
    """The STFT band energies (not oracle-checkable: an 8000-tap DFT
    replica is unreasonable SQL) must match a from-scratch numpy
    recomputation bit for bit — same windows, same rfft, same half-up
    micro-unit quantization — and the exact-integer features must
    match brute force on the raw fixture waveform."""
    import numpy as np

    from arc_kinesis_tagging_spark.operators.multimodal import (
        attach_wav_media,
        audio_features,
    )

    ids = spark.range(12).withColumnRenamed("id", "doc_id")
    rows = {
        r["media_id"]: r
        for r in audio_features(
            attach_wav_media(ids, "doc_id"), "media_id", "media"
        ).collect()
    }
    assert len(rows) == 12
    for i in range(12):
        n = 1000 + (i % 5) * 100
        n_ch = i % 2 + 1
        t = np.arange(n, dtype=np.int64)[:, None]
        c = np.arange(n_ch, dtype=np.int64)[None, :]
        s = ((i + 7 * t + 50 * c) % 201) - 100
        r = rows[i]
        ch0 = s[:, 0]
        assert r["zcr"] == int(np.sum(ch0[:-1] * ch0[1:] < 0))
        assert r["peak_abs"] == int(np.abs(s).max())
        assert r["sum_sq"] == int((s * s).sum())
        x = ch0.astype(np.float64)
        n_win = (len(x) - 256) // 128 + 1
        idx = np.arange(n_win)[:, None] * 128 + np.arange(256)[None, :]
        P = np.abs(np.fft.rfft(x[idx], axis=1)) ** 2
        nb = P.shape[1] // 4
        for b in range(4):
            lo, hi = b * nb, ((b + 1) * nb if b < 3 else P.shape[1])
            want = int(np.floor(P[:, lo:hi].sum() / n_win * 1e6 + 0.5))
            assert r[f"band{b}_u6"] == want, (i, b)


def test_audio_features_corrupt_isolation(spark):
    """A non-WAV blob isolates to one null-feature row."""
    from arc_kinesis_tagging_spark.operators.multimodal import (
        audio_features,
    )

    df = spark.createDataFrame(
        [(1, b"not a riff container")], "media_id long, media binary"
    )
    rows = audio_features(df, "media_id", "media").collect()
    assert len(rows) == 1
    assert rows[0]["media_id"] == 1 and rows[0]["sum_sq"] is None


def test_png_unfilter_byteloop_roundtrips_all_formats_fuzz():
    """Round-15 shared byte-loop unfilter (_png_unfilter_rows, bpp
    1/2/3): every PNG decoder must reproduce arbitrary images exactly
    through its encoder (which cycles all five filter types by row),
    including 1-pixel-wide and 1-row edge shapes where the serial
    Sub/Average/Paeth recurrences degenerate."""
    import numpy as np

    from arc_kinesis_tagging_spark.operators import multimodal as mm

    rng = np.random.RandomState(20250815)
    shapes = [(1, 1), (1, 9), (9, 1), (7, 5), (64, 64)]
    shapes += [
        (int(rng.randint(1, 70)), int(rng.randint(1, 70)))
        for _ in range(12)
    ]
    for h, w in shapes:
        px = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
        assert np.array_equal(
            mm.decode_png_rgb8_bytes(mm.encode_png_rgb8(px)), px
        ), ("rgb8", h, w)
        assert np.array_equal(
            mm.decode_png_rgb8_adam7_bytes(mm.encode_png_rgb8_adam7(px)),
            px,
        ), ("adam7", h, w)
        g16 = rng.randint(0, 65536, (h, w)).astype(np.uint16)
        assert np.array_equal(
            mm.decode_png_gray16_bytes(mm.encode_png_gray16(g16)), g16
        ), ("gray16", h, w)
        n = int(rng.randint(1, 256))
        pal = rng.randint(0, 256, (n, 3)).astype(np.uint8)
        idx = rng.randint(0, n, (h, w)).astype(np.uint8)
        assert np.array_equal(
            mm.decode_png_palette8_bytes(mm.encode_png_palette8(idx, pal)),
            pal[idx],
        ), ("palette", h, w)
