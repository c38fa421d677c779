"""Multimodal plumbing tests — schema, batch shape, determinism."""

from __future__ import annotations

import pytest

from clickhouse_only_importer_prototype_spark.operators import multimodal as mm


def test_documents_as_media_metadata(spark, sf_dir):
    import hashlib

    from clickhouse_only_importer_prototype_spark.operators.multimodal import (
        documents_as_media,
        media_metadata,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(9)
    meta = media_metadata(documents_as_media(docs)).collect()
    texts = {r.doc_id: r.text for r in docs.collect()}
    assert len(meta) == 9
    for r in meta:
        raw = texts[r.media_id].encode("utf-8")
        assert r.n_bytes == len(raw)
        assert r.payload_md5 == hashlib.md5(raw).hexdigest()
        assert r.media_type == ["image", "audio", "video"][r.media_id % 3]


def test_frame_plan_counts(spark, sf_dir):
    from clickhouse_only_importer_prototype_spark.operators.multimodal import (
        documents_as_media,
        frame_plan,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(30)
    media = documents_as_media(docs)
    frames = frame_plan(media, every_ms=1000).collect()
    durations = {
        r.media_id: r.duration_ms
        for r in media.where("media_type = 'video'").collect()
    }
    got = {}
    for r in frames:
        got[r.media_id] = got.get(r.media_id, 0) + 1
    assert set(got) == set(durations)
    for mid, dur in durations.items():
        expected = max((max(dur, 1) - 1) // 1000 + 1, 1)
        assert got[mid] == expected, mid


# ---- real PPM codec (dependency-free decode/resize, round-5) ----


def test_ppm_roundtrip_and_spec_parse():
    from clickhouse_only_importer_prototype_spark.operators.multimodal import (
        encode_ppm,
        try_decode_ppm,
    )

    rgb = bytes(range(2 * 3 * 3))  # 3x2 image
    p = encode_ppm(3, 2, rgb)
    assert try_decode_ppm(p) == (3, 2, rgb)
    # spec variants a foreign producer may emit: comments + CRLF runs
    weird = b"P6 # comment\n#another\n 3\t2 #w h\n255\n" + rgb
    assert try_decode_ppm(weird) == (3, 2, rgb)
    # rejects: bad magic, truncated raster, non-255 maxval, junk dims
    assert try_decode_ppm(b"P5\n3 2\n255\n" + rgb) is None
    assert try_decode_ppm(encode_ppm(3, 2, rgb)[:-1]) is None
    assert try_decode_ppm(b"P6\n3 2\n65535\n" + rgb) is None
    assert try_decode_ppm(b"P6\nx 2\n255\n" + rgb) is None
    assert try_decode_ppm(b"") is None


def test_ppm_feature_stats_real_decode(spark):
    from clickhouse_only_importer_prototype_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        encode_ppm,
        ppm_feature_stats,
    )

    rgb = bytes([10, 20, 30, 40, 50, 60])  # 2x1: pixels (10,20,30),(40,50,60)
    rows = [(1, "image", "image/x-portable-pixmap", encode_ppm(2, 1, rgb),
             2, 1, None)]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    [r] = ppm_feature_stats(df).collect()
    assert (r.width, r.height, r.n_pixels) == (2, 1, 2)
    assert (r.sum_r, r.sum_g, r.sum_b) == (50, 70, 90)
    assert (r.min_byte, r.max_byte) == (10, 60)


def test_ppm_feature_stats_opaque_modes(spark):
    import pytest

    from clickhouse_only_importer_prototype_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        ppm_feature_stats,
        resize_ppm,
    )

    rows = []
    for i in range(6):  # patterned bytes, not PPM
        mtype = ["image", "audio", "video"][i % 3]
        mime = {"image": "image/png", "audio": "audio/wav",
                "video": "video/mp4"}[mtype]
        payload = bytes((i * 37 + j) % 256 for j in range(64 + i))
        side = 64 if mtype == "image" else None
        dur = 3000 if mtype == "video" else None
        rows.append((i, mtype, mime, payload, side, side, dur))
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    with pytest.raises(Exception, match="codec"):
        ppm_feature_stats(media).collect()
    assert ppm_feature_stats(media, on_opaque="skip").count() == 0
    with pytest.raises(Exception, match="codec"):
        resize_ppm(media).collect()
    assert resize_ppm(media, on_opaque="skip").count() == 0


def test_resize_ppm_matches_numpy_reference(spark):
    import numpy as np

    from clickhouse_only_importer_prototype_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        encode_ppm,
        resize_ppm,
        try_decode_ppm,
    )

    w, h = 7, 5
    rgb = bytes((i * 11) % 256 for i in range(3 * w * h))
    df = spark.createDataFrame(
        [(9, "image", "image/x-portable-pixmap", encode_ppm(w, h, rgb),
          w, h, None)],
        MEDIA_SCHEMA,
    )
    [r] = resize_ppm(df, out_w=4, out_h=4).collect()
    ow, oh, body = try_decode_ppm(bytes(r.resized))
    assert (ow, oh) == (4, 4)
    src = np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, 3)
    ys = (np.arange(4) * h) // 4
    xs = (np.arange(4) * w) // 4
    assert body == src[ys][:, xs].tobytes()
    assert r.n_bytes_in == len(encode_ppm(w, h, rgb))
    assert r.n_bytes_out == len(bytes(r.resized)) == 11 + 48


def test_documents_as_ppm_media_payloads_decode(spark, sf_dir):
    from clickhouse_only_importer_prototype_spark.operators.multimodal import (
        documents_as_ppm_media,
        try_decode_ppm,
    )
    from clickhouse_only_importer_prototype_spark.queries import load

    docs = load(spark, sf_dir, "documents").limit(20)
    for r in documents_as_ppm_media(docs).collect():
        dec = try_decode_ppm(bytes(r.payload))
        assert dec is not None, r.media_id
        w, h, body = dec
        assert (w, h) == (8, r.height)
        # JVM hex assembly == the closed-form pixel formula
        assert body == bytes(
            (r.media_id * 31 + i) % 256 for i in range(24 * h)
        )


def test_bmp_roundtrip_both_row_orders_and_rejects():
    import numpy as np

    from clickhouse_only_importer_prototype_spark.operators.multimodal import (
        encode_bmp,
        try_decode_bmp,
        try_decode_image,
        try_decode_ppm,
    )

    w, h = 5, 3  # stride 15 -> padded to 16: exercises row padding
    rgb = bytes((i * 7) % 256 for i in range(3 * w * h))
    bmp = encode_bmp(w, h, rgb)
    assert try_decode_bmp(bmp) == (w, h, rgb)
    assert try_decode_image(bmp) == (w, h, rgb)
    assert try_decode_ppm(bmp) is None

    # top-down variant (negative height) must decode to the same rgb
    neg = bytearray(bmp)
    neg[22:26] = (-h).to_bytes(4, "little", signed=True)
    px = np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, 3)
    flipped = px[::-1].tobytes()
    got = try_decode_bmp(bytes(neg))
    assert got is not None and got[2] == flipped

    # rejects: wrong magic, 32-bpp, compressed, truncated raster
    assert try_decode_bmp(b"XX" + bmp[2:]) is None
    b32 = bytearray(bmp)
    b32[28:30] = (32).to_bytes(2, "little")
    assert try_decode_bmp(bytes(b32)) is None
    bcmp = bytearray(bmp)
    bcmp[30:34] = (1).to_bytes(4, "little")
    assert try_decode_bmp(bytes(bcmp)) is None
    assert try_decode_bmp(bmp[:-4]) is None


def test_feature_stats_format_agnostic(spark):
    """The same pixels as PPM and as BMP must produce identical
    integral stats — the operators dispatch over both real codecs."""
    from clickhouse_only_importer_prototype_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        encode_bmp,
        encode_ppm,
        ppm_feature_stats,
        resize_ppm,
        try_decode_ppm,
    )

    w, h = 6, 4
    rgb = bytes((i * 13 + 5) % 256 for i in range(3 * w * h))
    rows = [
        (1, "image", "image/x-portable-pixmap", encode_ppm(w, h, rgb),
         w, h, None),
        (2, "image", "image/bmp", encode_bmp(w, h, rgb), w, h, None),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    a, b = sorted(
        ppm_feature_stats(df).collect(), key=lambda r: r.media_id
    )
    assert (a.width, a.height, a.sum_r, a.sum_g, a.sum_b, a.min_byte,
            a.max_byte) == (
        b.width, b.height, b.sum_r, b.sum_g, b.sum_b, b.min_byte,
        b.max_byte,
    )
    ra, rb = sorted(resize_ppm(df, 2, 2).collect(), key=lambda r: r.media_id)
    # resize re-encodes canonical P6 regardless of the input format,
    # so the resized payloads are byte-identical
    assert bytes(ra.resized) == bytes(rb.resized)
    assert try_decode_ppm(bytes(ra.resized))[0:2] == (2, 2)


def _dhash_ref(w, h, rgb):
    """Pure-Python dHash reference (mirrors dhash_images' contract)."""
    gray = []
    for y in range(h):
        row = []
        for x in range(w):
            i = 3 * (y * w + x)
            r, g, b = rgb[i], rgb[i + 1], rgb[i + 2]
            row.append((299 * r + 587 * g + 114 * b) // 1000)
        gray.append(row)
    ys = [(oy * h) // 8 for oy in range(8)]
    xs = [(ox * w) // 9 for ox in range(9)]
    bands = [0, 0, 0, 0]
    for oy in range(8):
        for ox in range(8):
            if gray[ys[oy]][xs[ox + 1]] > gray[ys[oy]][xs[ox]]:
                bi = oy * 8 + ox
                bands[bi // 16] |= 1 << (bi % 16)
    return tuple(bands)


def test_dhash_matches_reference_and_both_codecs(spark):
    from clickhouse_only_importer_prototype_spark.operators.multimodal import (
        MEDIA_SCHEMA, dhash_images, encode_bmp, encode_ppm,
    )

    w, h = 11, 9
    rgb = bytes((i * 37 + 11) % 256 for i in range(3 * w * h))
    rows = [
        (1, "image", "image/x-portable-pixmap", encode_ppm(w, h, rgb),
         w, h, None),
        (2, "image", "image/bmp", encode_bmp(w, h, rgb), w, h, None),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r.media_id: (r.b0, r.b1, r.b2, r.b3)
           for r in dhash_images(df).collect()}
    ref = _dhash_ref(w, h, rgb)
    assert got[1] == ref == got[2]  # format-agnostic, reference-exact


def test_dhash_invariant_under_pixel_doubling(spark):
    # floor-mapped sampling: floor(floor(2a/8)/2) == floor(a/8), so an
    # exact 2x nearest-neighbor upscale must produce the IDENTICAL
    # dHash — the perceptual-robustness property that makes it a
    # near-dup fingerprint rather than a byte hash.
    from clickhouse_only_importer_prototype_spark.operators.multimodal import (
        MEDIA_SCHEMA, dhash_images, encode_ppm,
    )

    w, h = 9, 8
    rgb = bytes((i * 101 + 7) % 256 for i in range(3 * w * h))
    up = bytearray()
    for y in range(2 * h):
        for x in range(2 * w):
            i = 3 * ((y // 2) * w + (x // 2))
            up += rgb[i : i + 3]
    rows = [
        (1, "image", "image/x-portable-pixmap", encode_ppm(w, h, rgb),
         w, h, None),
        (2, "image", "image/x-portable-pixmap",
         encode_ppm(2 * w, 2 * h, bytes(up)), 2 * w, 2 * h, None),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r.media_id: (r.b0, r.b1, r.b2, r.b3)
           for r in dhash_images(df).collect()}
    assert got[1] == got[2]


def test_phash_neardup_banding_equals_bruteforce(spark, sf_dir):
    from itertools import combinations

    from clickhouse_only_importer_prototype_spark.operators.multimodal import (
        dhash_images, documents_as_ppm_media, phash_neardup_pairs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        "doc_id < 150"
    )
    hashes = dhash_images(documents_as_ppm_media(docs))
    rows = hashes.collect()
    reps = {}
    for r in rows:
        k = (r.b0, r.b1, r.b2, r.b3)
        reps.setdefault(k, []).append(r.media_id)
    def ham(a, b):
        return sum(bin(x ^ y).count("1") for x, y in zip(a, b))
    want = set()
    for (ka, ma), (kb, mb) in combinations(
        sorted((k, sorted(v)) for k, v in reps.items()), 2
    ):
        d = ham(ka, kb)
        if 1 <= d <= 3:
            a, b = sorted((ma[0], mb[0]))
            want.add((a, b, d, len(ma) if ma[0] < mb[0] else len(mb),
                      len(mb) if ma[0] < mb[0] else len(ma)))
    got = {
        (r.media_a, r.media_b, r.hamming, r.n_media_a, r.n_media_b)
        for r in phash_neardup_pairs(hashes).collect()
    }
    assert got == want
    with pytest.raises(ValueError):
        phash_neardup_pairs(hashes, max_hamming=4)


def test_phash_neardup_skew_refinement_equals_direct(spark):
    """Round-6 verdict #4 adversarial shape: a crawl dominated by
    near-flat images puts MANY distinct hashes on one band value
    (b0=0), so the (band, value) bucket goes quadratic in the direct
    self-join. The half-band refinement must return the identical
    pair set while shattering the bucket. 4k distinct hashes all with
    b0=0: direct path = 16M candidate pairs in one bucket; refined
    path buckets by the diverse remaining bits."""
    import random

    rng = random.Random(7)
    rows = []
    for i in range(4000):
        # b0 constant (degenerate band), rest diverse; sprinkle a few
        # true near-dups so the answer is non-trivial
        b1, b2, b3 = (rng.randrange(1 << 16) for _ in range(3))
        rows.append((i, 0, b1, b2, b3))
        if i % 500 == 0:
            rows.append((100_000 + i, 0, b1 ^ 1, b2, b3))  # hamming 1
    hashes = spark.createDataFrame(
        rows, "media_id long, b0 long, b1 long, b2 long, b3 long"
    )
    refined = {
        tuple(r)
        for r in mm.phash_neardup_pairs(hashes, skew_bucket_max=64).collect()
    }
    direct = {
        tuple(r)
        for r in mm.phash_neardup_pairs(
            hashes, skew_bucket_max=10**9
        ).collect()
    }
    assert refined == direct
    assert len(refined) >= 8  # the planted near-dups were found


def test_dhash_opaque_modes(spark):
    from clickhouse_only_importer_prototype_spark.operators.multimodal import (
        MEDIA_SCHEMA, dhash_images, encode_ppm,
    )

    rgb = bytes(range(27))
    rows = [
        (1, "image", "image/x-portable-pixmap", encode_ppm(3, 3, rgb),
         3, 3, None),
        (2, "video", "video/mp4", b"\x00\x00\x00\x18ftypmp42", None,
         None, 1000),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    with pytest.raises(Exception, match="NotImplementedError|neither"):
        dhash_images(df, on_opaque="error").collect()
    got = dhash_images(df, on_opaque="skip").collect()
    assert [r.media_id for r in got] == [1]


def test_wav_codec_roundtrip_and_chunk_walk():
    from clickhouse_only_importer_prototype_spark.operators.multimodal import (
        encode_wav, try_decode_wav,
    )

    pcm = b"".join(
        int(v).to_bytes(2, "little", signed=True)
        for v in [0, 1000, -1000, 32767, -32768, 7]
    )
    w = encode_wav(44100, 2, pcm)
    assert try_decode_wav(w) == (44100, 2, pcm)
    # extra LIST chunk BEFORE fmt/data, odd-sized (word-alignment pad)
    extra = b"LIST" + (5).to_bytes(4, "little") + b"INFOx" + b"\x00"
    body = w[12:]  # the fmt + data chunks
    padded = (
        b"RIFF"
        + (4 + len(extra) + len(body)).to_bytes(4, "little")
        + b"WAVE"
        + extra
        + body
    )
    assert try_decode_wav(padded) == (44100, 2, pcm)
    # rejects: float PCM (format 3), 8-bit, truncated data, garbage
    f32 = bytearray(w)
    f32[20:22] = (3).to_bytes(2, "little")
    assert try_decode_wav(bytes(f32)) is None
    b8 = bytearray(w)
    b8[34:36] = (8).to_bytes(2, "little")
    assert try_decode_wav(bytes(b8)) is None
    assert try_decode_wav(w[: len(w) - 3]) is None
    assert try_decode_wav(b"RIFFxxxxWAVE") is None


def test_wav_feature_stats_matches_python(spark):
    from clickhouse_only_importer_prototype_spark.operators.multimodal import (
        MEDIA_SCHEMA, encode_wav, wav_feature_stats,
    )

    vals = [3, -2, 0, 5, -5, -1, 4]
    pcm = b"".join(int(v).to_bytes(2, "little", signed=True) for v in vals)
    rows = [
        (1, "audio", "audio/wav", encode_wav(8000, 1, pcm), None, None, None),
        (2, "audio", "audio/flac", b"fLaC....", None, None, None),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = wav_feature_stats(df, on_opaque="skip").collect()
    assert len(got) == 1
    r = got[0]
    zc = sum(1 for a, b in zip(vals, vals[1:]) if a * b < 0)
    assert (r.n_samples, r.sum_sq, r.zero_crossings, r.min_s, r.max_s) == (
        len(vals), sum(v * v for v in vals), zc, -5, 5,
    )
    assert r.duration_ms == len(vals) * 1000 // 8000
    import pytest as _pt

    with _pt.raises(Exception, match="NotImplementedError|not 16-bit"):
        wav_feature_stats(df, on_opaque="error").collect()


def test_wav_stereo_semantics_and_half_frame_tail(spark):
    """Round-6 advisory: stereo duration must count FRAMES (not
    interleaved samples), zero crossings must not compare across
    channel boundaries (channel 0 only), and a half-frame tail must
    truncate to whole frames in the decoder."""
    from clickhouse_only_importer_prototype_spark.operators.multimodal import (
        MEDIA_SCHEMA, encode_wav, try_decode_wav, wav_feature_stats,
    )

    # L channel alternates sign every frame (3 crossings); R stays
    # positive — interleaved ZCR would see 7 sign flips
    frames = [(100, 50), (-100, 60), (100, 70), (-100, 80)]
    inter = [v for f in frames for v in f]
    pcm = b"".join(int(v).to_bytes(2, "little", signed=True) for v in inter)
    wav = encode_wav(8000, 2, pcm)
    [r] = wav_feature_stats(
        spark.createDataFrame(
            [(1, "audio", "audio/wav", wav, None, None, None)], MEDIA_SCHEMA
        )
    ).collect()
    assert r.n_channels == 2
    assert r.n_samples == 8  # every channel's samples
    assert r.duration_ms == 4 * 1000 // 8000  # FRAMES / rate
    assert r.zero_crossings == 3  # channel 0 only
    assert r.sum_sq == sum(v * v for v in inter)  # energy: all channels
    # half-frame tail: one dangling 16-bit word on a stereo file must
    # truncate to whole frames, not shift interleaving
    ragged = encode_wav(8000, 2, pcm + (7).to_bytes(2, "little", signed=True))
    dec = try_decode_wav(ragged)
    assert dec is not None and dec[2] == pcm


def test_documents_as_wav_media_payloads_decode(spark, sf_dir):
    from clickhouse_only_importer_prototype_spark.operators.multimodal import (
        documents_as_wav_media, try_decode_wav,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        "doc_id < 20"
    )
    rows = documents_as_wav_media(docs).collect()
    assert len(rows) == 20
    for r in rows:
        dec = try_decode_wav(bytes(r.payload))
        assert dec is not None
        rate, ch, data = dec
        assert (rate, ch) == (8000, 1)
        n = len(data) // 2
        assert r.duration_ms == n * 1000 // 8000
        # spot-check the closed form on the first two samples
        u0 = (r.media_id * 31) % 65536
        s0 = u0 - 65536 if u0 >= 32768 else u0
        got0 = int.from_bytes(data[0:2], "little", signed=True)
        assert got0 == s0


def test_avi_codec_roundtrip_and_container_walk():
    from clickhouse_only_importer_prototype_spark.operators.multimodal import (
        encode_avi, encode_wav, try_parse_avi,
    )

    frames = [bytes((7 * i + j) % 256 for j in range(sz))
              for i, sz in enumerate([20, 3, 46, 16])]  # odd size -> pad
    avi = encode_avi(33333, 32, 16, frames)
    v = try_parse_avi(avi)
    assert v is not None
    assert (v["us_per_frame"], v["width"], v["height"]) == (33333, 32, 16)
    assert v["hdr_frames"] == 4 and v["stream_frames"] == 4
    assert [sz for _, sz, _ in v["frames"]] == [20, 3, 46, 16]
    assert [ck for _, _, ck in v["frames"]] == [sum(f) for f in frames]
    assert v["idx1_ok"] == 1
    for (off, sz, _), f in zip(v["frames"], frames):
        assert avi[off : off + sz] == f  # offsets are ABSOLUTE
    assert v["frames"][0][0] == 232  # fixed header prefix

    # idx1 in the other common convention (absolute chunk offsets)
    alt = bytearray(avi)
    movi_fcc = avi.index(b"movi")
    idx1_at = avi.index(b"idx1")
    for k, (cpos, _sz) in enumerate(
        (off - 8, sz) for off, sz, _ in v["frames"]
    ):
        p = idx1_at + 8 + 16 * k + 8
        alt[p : p + 4] = int(cpos).to_bytes(4, "little")
    assert try_parse_avi(bytes(alt))["idx1_ok"] == 1
    # corrupted idx1 size entry -> flagged inconsistent, not rejected
    bad = bytearray(avi)
    bad[idx1_at + 8 + 12 : idx1_at + 8 + 16] = (999).to_bytes(4, "little")
    assert try_parse_avi(bytes(bad))["idx1_ok"] == 0

    # 'rec ' grouping LIST inside movi parses one level down
    inner = b"00dc" + (4).to_bytes(4, "little") + b"WXYZ"
    rec = b"LIST" + (4 + len(inner)).to_bytes(4, "little") + b"rec " + inner
    hdr_end = movi_fcc + 4
    grouped = (
        avi[:hdr_end]
        + rec
        + avi[hdr_end:]
    )
    grouped = bytearray(grouped)
    # fix movi LIST size and RIFF size for the insertion
    movi_sz = int.from_bytes(avi[movi_fcc - 4 : movi_fcc], "little")
    grouped[movi_fcc - 4 : movi_fcc] = (movi_sz + len(rec)).to_bytes(4, "little")
    riff_sz = int.from_bytes(avi[4:8], "little")
    grouped[4:8] = (riff_sz + len(rec)).to_bytes(4, "little")
    vg = try_parse_avi(bytes(grouped))
    assert [sz for _, sz, _ in vg["frames"]] == [4, 20, 3, 46, 16]
    assert vg["idx1_ok"] == 0  # index no longer matches the walk

    # rejects: a WAV is RIFF but not AVI; truncation; malformed idx1;
    # headerless RIFF-AVI
    assert try_parse_avi(encode_wav(8000, 1, b"\x01\x00" * 8)) is None
    assert try_parse_avi(avi[: len(avi) - 5]) is None
    assert try_parse_avi(b"") is None
    assert try_parse_avi(b"RIFF\x04\x00\x00\x00AVI ") is None
    odd_idx = bytearray(avi)
    odd_idx[idx1_at + 4 : idx1_at + 8] = (15).to_bytes(4, "little")
    assert try_parse_avi(bytes(odd_idx)) is None

    # empty video: headers parse, zero frames, consistent empty index
    v0 = try_parse_avi(encode_avi(1000, 8, 8, []))
    assert v0["frames"] == [] and v0["hdr_frames"] == 0 and v0["idx1_ok"] == 1


def test_documents_as_avi_media_byte_identical_to_encoder(spark, sf_dir):
    from clickhouse_only_importer_prototype_spark.operators.multimodal import (
        documents_as_avi_media, encode_avi,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        "doc_id % 17 = 0"
    )
    meta = {r.doc_id: r.n_chars for r in docs.collect()}
    for r in documents_as_avi_media(docs).collect():
        d, nch = r.media_id, meta[r.media_id]
        n = 2 + nch % 6
        frames = [
            bytes(
                (d * 31 + 17 * i + j) % 256
                for j in range(16 + 2 * ((d * 7 + 13 * i) % 16))
            )
            for i in range(n)
        ]
        exp = encode_avi(
            20000 + 5000 * (d % 5), 16 * (1 + d % 3), 8 * (1 + nch % 4), frames
        )
        assert bytes(r.payload) == exp, d
        assert r.media_type == "video" and r.duration_ms == n * (
            20000 + 5000 * (d % 5)
        ) // 1000


def test_avi_stats_and_frame_plan_real_walk(spark):
    from clickhouse_only_importer_prototype_spark.operators.multimodal import (
        MEDIA_SCHEMA, avi_frame_plan, avi_video_stats, encode_avi,
    )

    frames = [b"\x01\x02\x03\x04", b"\xff" * 10, b"Q" * 6]
    avi = encode_avi(40000, 16, 8, frames)
    # header lies about the frame count -> header_frames_ok must drop
    lied = bytearray(avi)
    avih_at = avi.index(b"avih")
    lied[avih_at + 8 + 16 : avih_at + 8 + 20] = (9).to_bytes(4, "little")
    rows = [
        (1, "video", "video/x-msvideo", avi, None, None, None),
        (2, "video", "video/mp4", b"\x00\x00\x00 ftypisom", None, None, None),
        (3, "video", "video/x-msvideo", bytes(lied), None, None, None),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r.media_id: r for r in avi_video_stats(df, on_opaque="skip").collect()}
    assert sorted(got) == [1, 3]
    r = got[1]
    assert (r.n_frames, r.total_frame_bytes, r.min_frame_bytes,
            r.max_frame_bytes) == (3, 20, 4, 10)
    assert r.duration_ms == 3 * 40000 // 1000 and r.header_frames_ok == 1
    assert got[3].header_frames_ok == 0 and got[3].n_frames == 3

    plan = avi_frame_plan(df, sample_stride=2, on_opaque="skip")
    p = [r for r in plan.collect() if r.media_id == 1]
    assert [r.frame_idx for r in p] == [0, 1, 2]
    assert [r.n_bytes for r in p] == [4, 10, 6]
    assert [r.checksum for r in p] == [10, 2550, ord("Q") * 6]
    assert [r.pts_ms for r in p] == [0, 40, 80]
    assert [r.sampled for r in p] == [1, 0, 1]
    for r in p:
        assert avi[r.byte_offset : r.byte_offset + r.n_bytes] == frames[r.frame_idx]

    import pytest as _pt

    with _pt.raises(Exception, match="NotImplementedError|not a RIFF-AVI"):
        avi_video_stats(df, on_opaque="error").collect()
    with _pt.raises(ValueError, match="sample_stride"):
        avi_frame_plan(df, sample_stride=0)
    with _pt.raises(ValueError, match="on_opaque"):
        avi_video_stats(df, on_opaque="quarantine")


def test_scene_cut_candidates_matches_reference(spark):
    from clickhouse_only_importer_prototype_spark.operators.multimodal import (
        MEDIA_SCHEMA, avi_frame_plan, encode_avi, scene_cut_candidates,
    )

    # sizes: 100 -> 129 (29%: below) -> 168 (30.2%: cut) -> 84 (50%:
    # cut) -> 84 (0%: no)
    frames = [b"a" * 100, b"b" * 129, b"c" * 168, b"d" * 84, b"e" * 84]
    avi = encode_avi(40000, 16, 8, frames)
    df = spark.createDataFrame(
        [(1, "video", "video/x-msvideo", avi, None, None, None)], MEDIA_SCHEMA
    )
    got = scene_cut_candidates(
        avi_frame_plan(df), threshold_permille=300
    ).orderBy("frame_idx").collect()
    assert [(r.frame_idx, r.prev_bytes, r.n_bytes) for r in got] == [
        (2, 129, 168), (3, 168, 84),
    ]
    assert [r.abs_delta_permille for r in got] == [
        (168 - 129) * 1000 // 129, (168 - 84) * 1000 // 168,
    ]
    assert [r.pts_ms for r in got] == [80, 120]

    import pytest as _pt

    with _pt.raises(ValueError, match="threshold_permille"):
        scene_cut_candidates(avi_frame_plan(df), threshold_permille=0)


def test_avi_av_interleave_and_demux(spark, sf_dir):
    from clickhouse_only_importer_prototype_spark.operators.multimodal import (
        MEDIA_SCHEMA, avi_av_demux, documents_as_av_media, encode_avi,
        try_parse_avi,
    )

    frames = [b"F" * 10, b"G" * 8]
    audio = [b"\x01\x00" * 3, b"\x02\x00" * 5]
    av = encode_avi(40000, 16, 8, frames, audio)
    v = try_parse_avi(av)
    assert v["kinds"] == b"vava" and v["idx1_ok"] == 1
    assert [sz for _, sz, _ in v["audio"]] == [6, 10]
    for (off, sz, ck), a in zip(v["audio"], audio):
        assert av[off : off + sz] == a and ck == sum(a)

    # demux over: well-muxed AV, video-only, irregular layout
    solo = encode_avi(40000, 16, 8, frames)
    # irregular: move the whole audio stream AFTER the video chunks by
    # re-encoding manually — same chunks, a,a after v,v
    irr = bytearray(av)
    movi_fcc = av.index(b"movi")
    chunks = b""
    idx1 = b""
    for cid, payloads in ((b"00dc", frames), (b"01wb", audio)):
        for c in payloads:
            idx1 += cid + (0x10).to_bytes(4, "little") + (
                4 + len(chunks)
            ).to_bytes(4, "little") + len(c).to_bytes(4, "little")
            chunks += cid + len(c).to_bytes(4, "little") + c
    irr = (
        av[: movi_fcc - 8]
        + b"LIST" + (4 + len(chunks)).to_bytes(4, "little") + b"movi" + chunks
        + b"idx1" + len(idx1).to_bytes(4, "little") + idx1
    )
    irr = b"RIFF" + (len(irr) - 8).to_bytes(4, "little") + irr[8:]
    rows = [
        (1, "video", "video/x-msvideo", av, None, None, None),
        (2, "video", "video/x-msvideo", solo, None, None, None),
        (3, "video", "video/x-msvideo", bytes(irr), None, None, None),
    ]
    got = {
        r.media_id: r
        for r in avi_av_demux(
            spark.createDataFrame(rows, MEDIA_SCHEMA)
        ).collect()
    }
    assert (got[1].interleave_ok, got[1].idx1_ok) == (1, 1)
    assert got[1].video_bytes == 18 and got[1].audio_bytes == 16
    assert got[2].n_audio_chunks == 0 and got[2].interleave_ok == -1
    assert (got[3].interleave_ok, got[3].idx1_ok) == (0, 1)  # index still exact
    assert got[3].video_checksum == got[1].video_checksum

    # Spark-side synthesis byte-identical to the encoder
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        "doc_id % 23 = 0"
    )
    meta = {r.doc_id: r.n_chars for r in docs.collect()}
    for r in documents_as_av_media(docs).collect():
        d, nch = r.media_id, meta[r.media_id]
        n = 2 + nch % 6
        fr = [
            bytes(
                (d * 31 + 17 * i + j) % 256
                for j in range(16 + 2 * ((d * 7 + 13 * i) % 16))
            )
            for i in range(n)
        ]
        au = [
            bytes(
                (d * 13 + 5 * i + j) % 256
                for j in range(8 + 2 * ((d * 3 + 7 * i) % 8))
            )
            for i in range(n)
        ]
        exp = encode_avi(
            20000 + 5000 * (d % 5), 16 * (1 + d % 3), 8 * (1 + nch % 4), fr, au
        )
        assert bytes(r.payload) == exp, d


def test_avi_idx1_convention_is_whole_index():
    """One offset convention must hold for the WHOLE idx1: an index
    mixing relative-to-movi and absolute entries scores inconsistent
    even though each entry matches SOME convention (per-entry
    acceptance would pass a partially corrupted index whenever a bad
    offset coincidentally equals the other convention's value)."""
    from clickhouse_only_importer_prototype_spark.operators.multimodal import (
        encode_avi, try_parse_avi,
    )

    frames = [bytes(range(20)), bytes(range(30)), bytes(range(40))]
    avi = encode_avi(33333, 16, 16, frames)
    v = try_parse_avi(avi)
    assert v["idx1_ok"] == 1
    # flip ONLY the second entry to the absolute convention
    mixed = bytearray(avi)
    idx1_at = avi.index(b"idx1")
    second_chunk_pos = v["frames"][1][0] - 8  # fourcc position
    p = idx1_at + 8 + 16 * 1 + 8
    mixed[p : p + 4] = int(second_chunk_pos).to_bytes(4, "little")
    assert try_parse_avi(bytes(mixed))["idx1_ok"] == 0
    # flipping ALL entries to absolute is the legal other convention
    allabs = bytearray(avi)
    for k, (off, _sz, _ck) in enumerate(v["frames"]):
        p = idx1_at + 8 + 16 * k + 8
        allabs[p : p + 4] = int(off - 8).to_bytes(4, "little")
    assert try_parse_avi(bytes(allabs))["idx1_ok"] == 1


def test_avi_zero_rate_is_degenerate_not_opaque(spark):
    """dwMicroSecPerFrame == 0 in a structurally valid container must
    parse (not be confused with a non-AVI payload), then route as its
    own degenerate-timing reject: on_opaque='skip' quarantines it,
    'error' raises with a message naming the zero rate, not
    'not a RIFF-AVI container'."""
    import pandas as pd
    import pytest

    from clickhouse_only_importer_prototype_spark.operators import (
        multimodal as mm,
    )

    frames = [bytes(range(20)), bytes(range(30))]
    zero = mm.encode_avi(0, 16, 16, frames)
    v = mm.try_parse_avi(zero)
    assert v is not None and v["us_per_frame"] == 0
    assert len(v["frames"]) == 2  # structure fully parsed

    good = mm.encode_avi(40000, 16, 16, frames)
    df = spark.createDataFrame(
        pd.DataFrame({"media_id": [1, 2], "payload": [good, zero]}),
        "media_id long, payload binary",
    )
    kept = mm.avi_video_stats(df, on_opaque="skip")
    assert [r.media_id for r in kept.collect()] == [1]
    # Spark wraps worker exceptions; match on the distinct message
    with pytest.raises(Exception, match="dwMicroSecPerFrame"):
        mm.avi_video_stats(df, on_opaque="error").collect()
