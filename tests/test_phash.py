"""Image perceptual-hash near-dup: integer-DCT pHash over real PNG
decode, pigeonhole banding completeness, cross-engine cos-table
parity, error isolation, and the no-all-pairs plan gate."""

import numpy as np
from pyspark.sql import functions as F

from arc_kinesis_tagging_spark.operators.dedup import phash_near_dup_pairs
from arc_kinesis_tagging_spark.operators.multimodal import (
    _phash_cos_table,
    _phash_pixels,
    attach_phash_media,
    phash_gray,
)
from arc_kinesis_tagging_spark.sources.tables import load_table


def _hashes(spark, sf_dir, n=80):
    docs = load_table(spark, "documents", sf_dir).filter(F.col("doc_id") < n)
    return phash_gray(attach_phash_media(docs, "doc_id"), "media_id", "media")


def test_cos_table_margin_and_duckdb_parity():
    """The integer cosine table's rounding is safe (every fixed
    argument sits far from a floor boundary) and DuckDB's libm
    produces the identical table — the two facts that make the
    float-free DCT hash cross-engine exact."""
    import duckdb

    tab = _phash_cos_table()
    k = np.arange(8)[:, None]
    t = np.arange(32)[None, :]
    v = np.cos(np.pi * (2 * t + 1) * k / 64.0) * 4096 + 0.5
    frac = np.abs(v - np.floor(v))
    assert min(frac.min(), (1 - frac).min()) > 0.02
    db = duckdb.sql(
        "SELECT k.range, t.range, CAST(floor(cos(pi()*(2*t.range+1)"
        "*k.range/64.0)*4096+0.5) AS BIGINT) FROM range(0,8) k, "
        "range(0,32) t ORDER BY 1, 2"
    ).fetchall()
    for kk, tt, c in db:
        assert tab[kk][tt] == c


def test_fixture_separation_margin():
    """The crafted fixture's geometry: every within-group variant pair
    lands at Hamming <= 4 and every cross-group pair at >= 14, so the
    hamming<=4 threshold separates them with a 10-bit margin (pure
    numpy — no Spark; this pins _phash_pixels + the hash math)."""
    ci = _phash_cos_table()
    shifts = np.arange(63, dtype=np.int64)

    def ph(doc):
        px = _phash_pixels(doc).astype(np.int64)
        g = px.reshape(32, 2, 32, 2).sum(axis=(1, 3))
        coef = (ci @ g @ ci.T).ravel()[1:]
        med = np.sort(coef)[31]
        return int((((coef > med).astype(np.int64)) << shifts).sum())

    hs = {d: ph(d) for d in range(80)}
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    in_group = [
        ham(hs[g * 4 + i], hs[g * 4 + j])
        for g in range(20)
        for i in range(4)
        for j in range(i + 1, 4)
    ]
    cross = [
        ham(hs[a], hs[b]) for a in range(0, 80, 4) for b in range(a + 4, 80, 4)
    ]
    assert max(in_group) <= 4
    assert min(cross) >= 14


def test_banding_is_complete_vs_brute_force(spark, sf_dir):
    """Pigeonhole recall is EXACTLY 1.0 at the threshold: the banded
    pair set equals brute-force all-pairs popcount <= 4 over the same
    hashes (and each pair appears once, a < b)."""
    hashes = _hashes(spark, sf_dir)
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in phash_near_dup_pairs(hashes).collect()
    }
    hs = {r["media_id"]: r["phash"] for r in hashes.collect()}
    ids = sorted(hs)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            d = bin(hs[a] ^ hs[b]).count("1")
            if d <= 4:
                want[(a, b)] = d
    assert got == want
    assert want, "fixture produced no near-dup pairs — test is vacuous"


def test_in_group_found_cross_group_absent(spark, sf_dir):
    """Semantics on the crafted fixture: every within-group variant
    pair is reported, and no pair spans two groups."""
    pairs = phash_near_dup_pairs(_hashes(spark, sf_dir)).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    for a, b in got:
        assert a // 4 == b // 4, f"cross-group pair {(a, b)}"
    expect = {
        (g * 4 + i, g * 4 + j)
        for g in range(20)
        for i in range(4)
        for j in range(i + 1, 4)
    }
    assert got == expect


def test_corrupt_image_isolated(spark):
    """A corrupt payload yields a null hash (dropped from pairing),
    never a failed job — the per-record isolation contract."""
    import pandas as pd

    good = attach_phash_media(
        spark.createDataFrame(pd.DataFrame({"doc_id": [0, 1]})), "doc_id"
    )
    bad = spark.createDataFrame(
        pd.DataFrame({"media_id": [99], "media": [b"not a png"]})
    )
    hashes = phash_gray(good.unionByName(bad), "media_id", "media")
    rows = {r["media_id"]: r["phash"] for r in hashes.collect()}
    assert rows[99] is None
    assert rows[0] is not None and rows[1] is not None
    pair_ids = {
        x
        for r in phash_near_dup_pairs(hashes).collect()
        for x in (r["id_a"], r["id_b"])
    }
    assert 99 not in pair_ids


def test_pairs_plan_has_no_cartesian(spark, sf_dir):
    """The candidate join must be a keyed (band, chunk) join — a
    CartesianProduct/BroadcastNestedLoopJoin would be the all-pairs
    shape the banding exists to avoid."""
    plan = phash_near_dup_pairs(
        _hashes(spark, sf_dir)
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# --- video (temporal) perceptual hash ---------------------------------------


def _vh(spark, sf_dir, n=80):
    from arc_kinesis_tagging_spark.operators.multimodal import (
        attach_vhash_media,
        vhash_frames,
    )

    docs = load_table(spark, "documents", sf_dir).filter(F.col("doc_id") < n)
    return vhash_frames(
        attach_vhash_media(docs, "doc_id"), "media_id", "media", every=2
    )


def test_vhash_fixture_geometry():
    """Aligned in-group frames <= 4, cross-group >= 14, and
    cross-FRAME >= 16 — temporal alignment is load-bearing: frame 0
    of a video is far from frame 2 of the same video, so an
    alignment-ignoring pairing would not reproduce the result."""
    from arc_kinesis_tagging_spark.operators.multimodal import (
        _phash_cos_table,
        _phash_of_pixels,
        _vhash_pixels,
    )

    ci = _phash_cos_table()
    shifts = np.arange(63, dtype=np.int64)

    def h(doc, f):
        return _phash_of_pixels(
            _vhash_pixels(doc // 4, f, doc % 4).astype(np.int64), ci, shifts
        )

    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    in_group, cross_frame = [], []
    for g in range(10):
        hs = {(d, f): h(g * 4 + d, f) for d in range(4) for f in (0, 2)}
        for f in (0, 2):
            for i in range(4):
                for j in range(i + 1, 4):
                    in_group.append(ham(hs[(i, f)], hs[(j, f)]))
        cross_frame.append(ham(hs[(0, 0)], hs[(0, 2)]))
    h0 = {g: h(g * 4, 0) for g in range(10)}
    cross_group = [
        ham(h0[a], h0[b]) for a in range(10) for b in range(a + 1, 10)
    ]
    assert max(in_group) <= 4
    assert min(cross_group) >= 14
    assert min(cross_frame) >= 16


def test_vhash_pairs_match_brute_force(spark, sf_dir):
    """Banded temporal pairs == brute force over collected frame
    hashes (equal counts + every aligned frame <= 4)."""
    from collections import defaultdict

    from arc_kinesis_tagging_spark.operators.dedup import vhash_near_dup_pairs

    fh = _vh(spark, sf_dir)
    got = {
        (r["id_a"], r["id_b"]): (r["n_frames"], r["max_hamming"])
        for r in vhash_near_dup_pairs(fh).collect()
    }
    vids = defaultdict(dict)
    for r in fh.collect():
        vids[r["media_id"]][r["frame_idx"]] = r["fhash"]
    ids = sorted(vids)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            if set(vids[a]) != set(vids[b]):
                continue
            hams = [
                bin(vids[a][f] ^ vids[b][f]).count("1") for f in vids[a]
            ]
            if max(hams) <= 4:
                want[(a, b)] = (len(hams), max(hams))
    assert got == want
    assert want, "fixture produced no video near-dup pairs"
    for a, b in got:
        assert a // 4 == b // 4


def test_vhash_one_far_frame_rejects_pair(spark):
    """STRICT temporal semantics: two videos whose frame 0 is
    identical but whose frame 2 belongs to different groups (one
    replaced scene) are NOT near-dups — and a truncated video never
    matches its full-length source."""
    import pandas as pd

    from arc_kinesis_tagging_spark.operators.dedup import vhash_near_dup_pairs
    from arc_kinesis_tagging_spark.operators.multimodal import (
        _vhash_pixels,
        encode_y4m,
        vhash_frames,
    )
    import numpy as np

    flat = np.full((64, 64), 128, np.uint8)

    def vid(frame_groups):
        frames = [
            (_vhash_pixels(g, f, 0), flat, flat)
            for f, g in enumerate(frame_groups)
        ]
        return encode_y4m(frames, 64, 64)

    media = spark.createDataFrame(
        pd.DataFrame(
            {
                "media_id": [1, 2, 3],
                "media": [
                    vid([5, 5, 5, 5]),      # reference
                    vid([5, 5, 9, 9]),      # frame 2 replaced
                    vid([5, 5]),            # truncation: frame 0 only sampled
                ],
            }
        )
    )
    fh = vhash_frames(media, "media_id", "media", every=2)
    pairs = vhash_near_dup_pairs(fh).collect()
    assert pairs == []


# --- audio fingerprint (Haitsma-Kalker) -------------------------------------


def test_ahash_cos_table_margin_and_duckdb_parity():
    """k=1..20 x t=0..63 at scale 64: safe rounding margin and
    numpy==DuckDB table equality."""
    import duckdb

    from arc_kinesis_tagging_spark.operators.multimodal import (
        _ahash_cos_table,
    )

    tab = _ahash_cos_table()
    k = np.arange(1, 21)[:, None]
    t = np.arange(64)[None, :]
    v = np.cos(np.pi * (2 * t + 1) * k / 128.0) * 64 + 0.5
    frac = np.abs(v - np.floor(v))
    assert min(frac.min(), (1 - frac).min()) > 0.005
    db = duckdb.sql(
        "SELECT k.range, t.range, CAST(floor(cos(pi()*(2*t.range+1)"
        "*k.range/128.0)*64+0.5) AS BIGINT) FROM range(1,21) k, "
        "range(0,64) t ORDER BY 1, 2"
    ).fetchall()
    for kk, tt, c in db:
        assert tab[kk - 1][tt] == c


def test_ahash_fixture_geometry_and_overflow():
    """In-group fingerprints <= 4, cross-group >= 17; intermediate
    magnitudes stay far inside int64 (exactness precondition)."""
    from arc_kinesis_tagging_spark.operators.multimodal import (
        _ahash_cos_table,
        _ahash_samples,
    )

    C = _ahash_cos_table()

    def fp(doc):
        x = _ahash_samples(doc)
        fr = x.reshape(16, 64)
        S = fr @ C.T
        assert np.abs(S).max() < 2**40
        E = (S.reshape(16, 5, 4) ** 2).sum(axis=2)
        assert E.max() < 2**62
        D = E[:, :4] - E[:, 1:]
        bits = ((D[1:] - D[:-1]) > 0).astype(np.int64).ravel()
        return int((bits << np.arange(60)).sum())

    hs = {d: fp(d) for d in range(80)}
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    in_group = [
        ham(hs[g * 4 + i], hs[g * 4 + j])
        for g in range(20)
        for i in range(4)
        for j in range(i + 1, 4)
    ]
    cross = [
        ham(hs[a], hs[b]) for a in range(0, 80, 4) for b in range(a + 4, 80, 4)
    ]
    assert max(in_group) <= 4
    assert min(cross) >= 17


def test_ahash_pairs_and_short_clip_isolated(spark, sf_dir):
    """End-to-end: banded pairs == brute force; a too-short clip
    fingerprints to null and never pairs."""
    import pandas as pd

    from arc_kinesis_tagging_spark.operators.multimodal import (
        ahash_wav,
        attach_ahash_media,
        encode_wav_pcm16,
    )

    docs = load_table(spark, "documents", sf_dir).filter(F.col("doc_id") < 40)
    short = spark.createDataFrame(
        pd.DataFrame(
            {
                "media_id": [999],
                "media": [encode_wav_pcm16(np.zeros(100, np.int16))],
            }
        )
    )
    hashes = ahash_wav(
        attach_ahash_media(docs, "doc_id").unionByName(short),
        "media_id",
        "media",
    )
    rows = {r["media_id"]: r["ahash"] for r in hashes.collect()}
    assert rows[999] is None
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in phash_near_dup_pairs(
            hashes, "media_id", "ahash", max_hamming=4, hash_bits=60
        ).collect()
    }
    hs = {k: v for k, v in rows.items() if v is not None}
    ids = sorted(hs)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            d = bin(hs[a] ^ hs[b]).count("1")
            if d <= 4:
                want[(a, b)] = d
    assert got == want and want
    for a, b in got:
        assert a // 4 == b // 4


def test_fixture_generators_survive_huge_ids_with_duckdb_parity():
    """int64-overflow guard (found at ladder K=10, group 12502): the
    three fixture generators must stay exact int64 at ANY doc_id, and
    the mod-2^31-reduced seed must equal the oracle's arithmetic.
    Pins one pixel/sample value against DuckDB at a huge id."""
    import duckdb

    from arc_kinesis_tagging_spark.operators.multimodal import (
        _ahash_samples,
        _phash_pixels,
        _vhash_pixels,
    )

    big = 10**12 + 7  # group ~2.5e11 — far past the old overflow point
    px = _phash_pixels(big)
    assert px.dtype.name == "uint8" and px.shape == (64, 64)
    fpx = _vhash_pixels(big // 4, 2, big % 4)
    assert fpx.dtype.name == "uint8"
    smp = _ahash_samples(big)
    assert smp.dtype.name == "int64"

    # DuckDB recomputes pixel (x=3, y=5) of the phash fixture and
    # sample t=17 of the ahash fixture with the ORACLE's expressions
    (dpx, dsmp) = duckdb.sql(
        f"""
        SELECT
          LEAST(255,
            xor(((({big}//4)%2147483648)*2654435761
                 + (3*64+5)*2246822519)//8192,
                ((({big}//4)%2147483648)*2654435761
                 + (3*64+5)*2246822519)//1048576) % 256
            + CASE WHEN {big}%4 <> 0 AND (3*31+5*17)%128 = {big}%4
                   THEN 20 ELSE 0 END),
          xor(((({big}//4)%2147483648)*2654435761
               + 17*2246822519)//8192,
              ((({big}//4)%2147483648)*2654435761
               + 17*2246822519)//1048576) % 2048 - 1024
          + CASE WHEN {big}%4 <> 0 AND (17*31)%128 = {big}%4
                 THEN 160 ELSE 0 END
        """
    ).fetchone()
    assert int(px[3][5]) == dpx
    assert int(smp[17]) == dsmp


# --- incremental (batch vs persisted corpus) ---------------------------------


def test_phash_incremental_matches_brute_force_and_isolates_corrupt(
    spark, sf_dir, tmp_path
):
    """Batch-vs-corpus pairs == brute force over the same hashes
    (pigeonhole recall is deterministic, so equality is exact, not
    probabilistic); a corrupt batch image hashes to null and never
    pairs; exact duplicates (hamming 0) are found."""
    import pandas as pd

    from arc_kinesis_tagging_spark.operators.dedup import (
        phash_batch_against_corpus,
        write_phash_corpus,
    )

    docs = load_table(spark, "documents", sf_dir).filter(F.col("doc_id") < 40)
    corpus_h = _hashes_of(spark, docs.filter(F.col("doc_id") % 5 != 0))
    prefix = "akt_test_ph_" + tmp_path.name.replace("-", "_").lower()
    write_phash_corpus(spark, corpus_h, prefix)
    corrupt = spark.createDataFrame(
        pd.DataFrame({"media_id": [999], "media": [b"not a png"]})
    )
    batch_h = phash_gray(
        attach_phash_media(
            docs.filter(F.col("doc_id") % 5 == 0), "doc_id"
        ).unionByName(corrupt),
        "media_id",
        "media",
    )
    got = {
        (r["id_batch"], r["id_corpus"]): r["hamming"]
        for r in phash_batch_against_corpus(spark, batch_h, prefix).collect()
    }
    bh = {r["media_id"]: r["phash"] for r in batch_h.collect()}
    ch = {r["media_id"]: r["phash"] for r in corpus_h.collect()}
    assert bh[999] is None
    want = {}
    for b, hb in bh.items():
        if hb is None:
            continue
        for c, hc in ch.items():
            d = bin(hb ^ hc).count("1")
            if d <= 4:
                want[(b, c)] = d
    assert got == want and want
    # batch doc 0 is group 0's base image; its in-group variants 1-3
    # are corpus rows, so all three cross-batch pairs must be found
    assert {(0, 1), (0, 2), (0, 3)} <= set(got)
    assert all(b != 999 for b, _ in got)


def _hashes_of(spark, docs):
    return phash_gray(
        attach_phash_media(docs, "doc_id"), "media_id", "media"
    )


def test_vhash_incremental_matches_brute_force_and_isolates_corrupt(
    spark, sf_dir, tmp_path
):
    """Batch-vs-corpus video pairs == brute force under the strict
    temporal criterion (every aligned sampled frame within the
    threshold AND equal frame counts); a corrupt batch video yields a
    null-hash row and never pairs."""
    import pandas as pd

    from arc_kinesis_tagging_spark.operators.dedup import (
        vhash_batch_against_corpus,
        write_vhash_corpus,
    )
    from arc_kinesis_tagging_spark.operators.multimodal import (
        attach_vhash_media,
        vhash_frames,
    )

    def fhashes(docs):
        return vhash_frames(
            attach_vhash_media(docs, "doc_id"), "media_id", "media", every=2
        )

    docs = load_table(spark, "documents", sf_dir).filter(F.col("doc_id") < 40)
    corpus_h = fhashes(docs.filter(F.col("doc_id") % 5 != 0))
    prefix = "akt_test_vh_" + tmp_path.name.replace("-", "_").lower()
    write_vhash_corpus(spark, corpus_h, prefix)
    corrupt = spark.createDataFrame(
        pd.DataFrame({"media_id": [999], "media": [b"not a y4m"]})
    )
    batch_h = vhash_frames(
        attach_vhash_media(
            docs.filter(F.col("doc_id") % 5 == 0), "doc_id"
        ).unionByName(corrupt),
        "media_id",
        "media",
        every=2,
    )
    got = {
        (r["id_batch"], r["id_corpus"]): (r["n_frames"], r["max_hamming"])
        for r in vhash_batch_against_corpus(spark, batch_h, prefix).collect()
    }

    def by_video(rows):
        vids = {}
        for r in rows:
            if r["fhash"] is not None:
                vids.setdefault(r["media_id"], {})[r["frame_idx"]] = r["fhash"]
        return vids

    bv, cv = by_video(batch_h.collect()), by_video(corpus_h.collect())
    assert not by_video(
        [r.asDict() for r in batch_h.filter(F.col("media_id") == 999).collect()]
    )  # corrupt video -> null hash only
    want = {}
    for b, bf in bv.items():
        for c, cf in cv.items():
            if set(bf) != set(cf):
                continue
            ds = [bin(bf[f] ^ cf[f]).count("1") for f in bf]
            if ds and max(ds) <= 4:
                want[(b, c)] = (len(ds), max(ds))
    assert got == want and want
    assert all(b != 999 for b, _ in got)


def test_ahash_incremental_matches_brute_force(spark, sf_dir, tmp_path):
    """Batch-vs-corpus audio pairs == brute force over the
    Haitsma-Kalker fingerprints (pigeonhole banding at hash_bits=60 is
    deterministic, so equality is exact)."""
    from arc_kinesis_tagging_spark.operators.dedup import (
        phash_batch_against_corpus,
        write_phash_corpus,
    )
    from arc_kinesis_tagging_spark.operators.multimodal import (
        ahash_wav,
        attach_ahash_media,
    )

    def ahashes(docs):
        return ahash_wav(attach_ahash_media(docs, "doc_id"), "media_id", "media")

    docs = load_table(spark, "documents", sf_dir).filter(F.col("doc_id") < 40)
    corpus_h = ahashes(docs.filter(F.col("doc_id") % 5 != 0))
    prefix = "akt_test_ah_" + tmp_path.name.replace("-", "_").lower()
    write_phash_corpus(
        spark, corpus_h, prefix, "media_id", "ahash", max_hamming=4,
        hash_bits=60,
    )
    batch_h = ahashes(docs.filter(F.col("doc_id") % 5 == 0))
    got = {
        (r["id_batch"], r["id_corpus"]): r["hamming"]
        for r in phash_batch_against_corpus(
            spark, batch_h, prefix, "media_id", "ahash", max_hamming=4,
            hash_bits=60,
        ).collect()
    }
    bh = {r["media_id"]: r["ahash"] for r in batch_h.collect()}
    ch = {r["media_id"]: r["ahash"] for r in corpus_h.collect()}
    want = {}
    for b, hb in bh.items():
        if hb is None:
            continue
        for c, hc in ch.items():
            if hc is None:
                continue
            d = bin(hb ^ hc).count("1")
            if d <= 4:
                want[(b, c)] = d
    assert got == want and want


def _vhash_pixels_unhoisted(group: int, frame: int, variant: int):
    """Reference form of ``_vhash_pixels``: the literal floor-division/
    modulo spelling the DuckDB oracles compute, without the hoisted
    grid and variant masks of ``_phash_mix_pixels``."""
    from arc_kinesis_tagging_spark.operators.multimodal import _PHASH_SRC

    seed = (group * 1000003 + frame * 8191) % 2**31
    x = np.arange(_PHASH_SRC, dtype=np.int64)[:, None]
    y = np.arange(_PHASH_SRC, dtype=np.int64)[None, :]
    h = seed * 2654435761 + (x * _PHASH_SRC + y) * 2246822519
    p = ((h // 8192) ^ (h // 1048576)) % 256
    if variant:
        p = np.minimum(
            255, p + np.where((x * 31 + y * 17) % 128 == variant, 20, 0)
        )
    return p.astype(np.uint8)


def test_hoisted_mix_pixels_match_reference_form():
    """Round-15 §4.5 hoist: _phash_mix_pixels (shared grid + variant
    masks + shift/mask arithmetic) must be bit-identical to the
    literal floor-division reference the DuckDB oracles compute, for
    every variant, across the 2^31 seed-reduction boundary the
    overflow guards exist for."""
    import numpy as np

    from arc_kinesis_tagging_spark.operators.multimodal import (
        _phash_pixels,
        _phash_mix_pixels,
        _vhash_pixels,
    )

    for g in [0, 1, 7, 12502, 2**30, 2**31 - 1]:
        for f in range(4):
            for v in range(4):
                assert np.array_equal(
                    _vhash_pixels(g, f, v),
                    _vhash_pixels_unhoisted(g, f, v),
                ), (g, f, v)
    # phash ids exercise the same mix through the id//4 reduction
    for i in [0, 1, 5, 1023, 2**31 - 1, 2**33 + 5]:
        px = _phash_pixels(i)
        assert px.shape == (64, 64) and px.dtype == np.uint8
        assert np.array_equal(
            px, _phash_mix_pixels((i // 4) % 2**31, i % 4)
        )


def test_png_gray8_unfilter_roundtrips_all_filters_fuzz():
    """Round-15 byte-loop unfilter: encode (filter y%5 cycles all five
    types) -> decode must reproduce arbitrary images exactly,
    including 1-pixel-wide and 1-row edge shapes where the serial
    Average/Paeth recurrences degenerate."""
    import numpy as np

    from arc_kinesis_tagging_spark.operators.multimodal import (
        decode_png_gray8_bytes,
        encode_png_gray8,
    )

    rng = np.random.RandomState(1234)
    shapes = [(1, 1), (1, 17), (17, 1), (5, 5), (64, 64), (33, 71)]
    shapes += [
        (int(rng.randint(1, 90)), int(rng.randint(1, 90)))
        for _ in range(25)
    ]
    for h, w in shapes:
        px = rng.randint(0, 256, (h, w)).astype(np.uint8)
        out = decode_png_gray8_bytes(encode_png_gray8(px))
        assert out.dtype == np.uint8
        assert np.array_equal(out, px), (h, w)
