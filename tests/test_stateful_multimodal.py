"""Predicate sessions, acceptor dedup, AsyncTransformer, multimodal plumbing,
JSON access."""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F

import pathwaydataframework_spark as pw
from pathwaydataframework_spark.operators import multimodal, stateful


def ts(m):
    return dt.datetime(2024, 1, 1, 10, m)


def test_session_predicate(spark):
    t = pw.Table.from_rows(
        spark,
        [("u1", ts(0), 1.0), ("u1", ts(4), 2.0), ("u1", ts(30), 3.0), ("u2", ts(1), 4.0)],
        "user string, t timestamp_ntz, v double",
    )
    out = stateful.session_windows_by_predicate(
        t,
        "t",
        lambda prev, nxt: (nxt - prev).total_seconds() <= 600,
        instance="user",
        aggregations={"n": ("v", "count"), "sv": ("v", "sum")},
    )
    got = sorted((r["user"], r["n"], r["sv"]) for r in out.df.collect())
    assert got == [("u1", 1, 3.0), ("u1", 2, 3.0), ("u2", 1, 4.0)]


def test_session_predicate_all_null_sum_is_null(spark):
    # the dict API runs windowby's native aggregates: a sum over only NULLs
    # is NULL, as in every groupby sum (DEVIATIONS.md #15)
    t = pw.Table.from_rows(
        spark, [("u1", ts(0), None), ("u1", ts(4), None)], "user string, t timestamp_ntz, v double"
    )
    out = stateful.session_windows_by_predicate(
        t,
        "t",
        lambda prev, nxt: (nxt - prev).total_seconds() <= 600,
        instance="user",
        aggregations={"n": ("v", "count"), "sv": ("v", "sum")},
    )
    assert [(r["n"], r["sv"]) for r in out.df.collect()] == [(2, None)]


def test_deduplicate_acceptor(spark):
    # accept a new value only if it is at least 2 bigger than the kept one
    t = pw.Table.from_rows(
        spark,
        [("a", 1), ("a", 2), ("a", 4), ("a", 5), ("b", 10)],
        "k string, v long",
    )
    out = t.deduplicate(
        value=pw.this.v, instance=pw.this.k, acceptor=lambda new, old: new - old >= 2
    )
    got = dict((r["k"], r["v"]) for r in out.df.collect())
    # a: keep 1 → 2 rejected (diff 1) → 4 accepted → 5 rejected → final 4
    assert got == {"a": 4, "b": 10}


def test_async_transformer(spark):
    class Enrich(stateful.AsyncTransformer):
        output_schema = "doubled long"

        async def invoke(self, **row):
            if row["x"] < 0:
                raise ValueError("negative")
            return {"doubled": row["x"] * 2}

    t = pw.Table.from_rows(spark, [(1,), (2,), (-3,)], "x long")
    ok, failed = Enrich().run(t)
    assert sorted(r["doubled"] for r in ok.df.collect()) == [2, 4]
    fails = failed.df.collect()
    assert len(fails) == 1 and fails[0]["x"] == -3 and "negative" in fails[0]["error"]


def test_multimodal_plumbing(spark):
    media = spark.createDataFrame(
        [(1, b"\x00" * 100), (2, b"\x01" * 57)], "media_id long, data binary"
    )
    with_meta = multimodal.attach_media_meta(media)
    metas = {r["media_id"]: r["media_meta"] for r in with_meta.collect()}
    # no recognizable container magic → sniffed as unknown, null fields
    assert metas[1]["media_type"] == "unknown"
    assert metas[1]["width"] is None

    feats = multimodal.extract_features(media).collect()
    assert all(len(r["features"]) == 8 for r in feats)
    # deterministic
    feats2 = multimodal.extract_features(media).collect()
    assert {r["media_id"]: tuple(r["features"]) for r in feats} == {
        r["media_id"]: tuple(r["features"]) for r in feats2
    }

    frames = multimodal.frame_sample(media, n_frames=4).collect()
    assert len(frames) == 8
    assert {r["frame_idx"] for r in frames} == {0, 1, 2, 3}


def test_json_get(spark):
    t = pw.Table.from_rows(
        spark, [('{"k": 7, "tag": "x"}',), ('{"k": 9}',)], "props string"
    )
    out = t.select(
        k=pw.this.props.json_get("k").as_int(),
        tag=pw.this.props.json_get("tag"),
    )
    got = [(r["k"], r["tag"]) for r in out.df.collect()]
    assert sorted(r[0] for r in got) == [7, 9]
    assert {r[1] for r in got} == {"x", None}


def _make_wav(seconds=0.5, rate=8000, freq=440):
    import io
    import math
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        n = int(seconds * rate)
        frames = b"".join(
            struct.pack("<h", int(20000 * math.sin(2 * math.pi * freq * i / rate)))
            for i in range(n)
        )
        w.writeframes(frames)
    return buf.getvalue()


def _make_ppm(w, h):
    # gradient image: pixel (x, y) = (x % 256, y % 256, 7)
    rows = bytearray()
    for y in range(h):
        for x in range(w):
            rows += bytes([x % 256, y % 256, 7])
    return b"P6\n%d %d\n255\n" % (w, h) + bytes(rows)


def test_media_sniffer_parses_real_headers(spark):
    import struct

    wav = _make_wav()
    png = (b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\rIHDR"
           + struct.pack(">II", 640, 480) + b"\x08\x06" + b"\x00" * 20)
    bmp = b"BM" + b"\x00" * 16 + struct.pack("<ii", 320, 200) + b"\x00" * 30
    gif = b"GIF89a" + struct.pack("<HH", 101, 55) + b"\x00" * 20
    media = spark.createDataFrame(
        [(1, wav), (2, png), (3, bmp), (4, gif)], "media_id long, data binary"
    )
    metas = {r["media_id"]: r["media_meta"]
             for r in multimodal.attach_media_meta(media).collect()}
    assert metas[1]["media_type"] == "audio"
    assert abs(metas[1]["duration_ms"] - 500) <= 1  # 0.5 s clip
    assert (metas[2]["media_type"], metas[2]["width"], metas[2]["height"]) == ("image", 640, 480)
    assert (metas[3]["width"], metas[3]["height"]) == (320, 200)
    assert (metas[4]["width"], metas[4]["height"]) == (101, 55)


def test_wav_feature_kernel(spark):
    media = spark.createDataFrame(
        [(1, _make_wav(seconds=0.25, freq=440)), (2, _make_wav(seconds=0.25, freq=880))],
        "media_id long, data binary",
    )
    out = {r["media_id"]: r["features"]
           for r in multimodal.extract_features(
               media, decoder=multimodal.wav_features, feature_dim=4).collect()}
    for feats in out.values():
        duration, rms, peak, zcr = feats
        assert abs(duration - 0.25) < 1e-6
        assert 0.40 < rms < 0.47        # sine RMS = amplitude/√2 ≈ 0.61/1.414
        assert 0.58 < peak <= 0.62      # 20000/32768
    # doubled frequency ⇒ doubled zero-crossing rate
    assert abs(out[2][3] / out[1][3] - 2.0) < 0.1


def test_ppm_resize_kernel(spark):
    media = spark.createDataFrame(
        [(1, _make_ppm(8, 4))], "media_id long, data binary"
    )
    out = multimodal.resize_images(media, width=4, height=2).collect()
    resized = bytes(out[0]["resized"])
    assert resized.startswith(b"P6\n4 2\n255\n")
    img = multimodal._ppm_decode(resized)
    assert img.shape == (2, 4, 3)
    # nearest-neighbor of the gradient: red channel = source x at stride 2
    assert [img[0, x, 0] for x in range(4)] == [0, 2, 4, 6]
    assert img[1, 0, 1] == 2  # green channel = source y (row 1 → source row 2)


def test_bmp_negative_height_topdown(spark):
    import struct

    bmp = b"BM" + b"\x00" * 16 + struct.pack("<ii", 320, -240) + b"\x00" * 30
    media = spark.createDataFrame([(1, bmp)], "media_id long, data binary")
    meta = multimodal.attach_media_meta(media).first()["media_meta"]
    assert (meta["width"], meta["height"]) == (320, 240)  # |biHeight|


def test_wav_feature_kernel_8bit(spark):
    import io
    import wave

    import numpy as np

    import pytest

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)  # 8-bit PCM — previously crashed/garbage
        w.setframerate(8000)
        samples = (np.sin(np.linspace(0, 20, 801)) * 100 + 128).astype(np.uint8)
        w.writeframes(samples.tobytes())  # odd count: int16 view would crash
    feats = multimodal.wav_features(buf.getvalue())
    assert feats[0] == pytest.approx(801 / 8000, abs=1e-6)
    assert 0 < feats[1] < 1 and 0 < feats[2] <= 1


def test_media_sniffer_requires_png_signature_byte(spark):
    df = spark.createDataFrame(
        [(1, bytearray(b"xPNGyyyyyyyyyyyyyyyyyyyyyyyyyyy"))], "media_id long, data binary"
    )
    out = multimodal.attach_media_meta(df).first()
    assert out["media_meta"]["media_type"] != "image"  # missing \x89 first byte


def test_extract_features_string_id_column(spark):
    from pathwaydataframework_spark.operators import multimodal

    df = spark.createDataFrame(
        [("doc-a", bytearray(b"abc"))], "media_id string, data binary"
    )
    out = multimodal.extract_features(df).collect()
    assert out[0]["media_id"] == "doc-a" and len(out[0]["features"]) == 8


def _mk_ppm(pix, size=16):
    header = f"P6\n{size} {size}\n255\n".encode()
    return header + bytes(v for r in range(size) for c in range(size) for v in pix(r, c))


def test_image_dhash_brightness_invariant_and_perturbation_local(spark):
    from pathwaydataframework_spark.operators.multimodal import image_dhash

    base = _mk_ppm(lambda r, c: (c * 15, r * 15, ((r + c) * 23) % 200))
    bright = _mk_ppm(lambda r, c: tuple(min(v + 20, 255) for v in (c * 15, r * 15, ((r + c) * 23) % 200)))
    h0, h2 = image_dhash(base), image_dhash(bright)
    # dHash compares neighboring luminances — a uniform brightness shift
    # cannot flip any bit
    assert h0 == h2
    assert len(h0) == 8 and all(0 <= b <= 255 for b in h0)
    # undecodable blobs yield None
    assert image_dhash(b"\x89PNG not a ppm") is None
    # non-square decode: 8x4 image still hashes (floor index maps clamp)
    small = b"P6\n4 4\n255\n" + bytes(range(48))
    assert image_dhash(small) is not None


def test_perceptual_dedup_pairs_blocking_equals_exact(spark):
    from pathwaydataframework_spark.operators import multimodal
    import itertools

    def base(r, c):
        return (c * 15, r * 15, ((r + c) * 23) % 200)

    def pert(r, c):
        return (255, 0, 0) if (r, c) == (4, 5) else base(r, c)

    def alt(r, c):
        v = 255 if (r + c) % 2 == 0 else 0
        return (v, v, v)

    blobs = [(0, _mk_ppm(base)), (1, _mk_ppm(pert)), (2, _mk_ppm(alt)), (3, None)]
    df = spark.createDataFrame(blobs, "id long, data binary")
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in multimodal.perceptual_dedup_pairs(
            df, id_col="id", binary_col="data", max_hamming=6
        ).collect()
    }
    # exact reference: all-pairs popcount over the python kernel
    hashes = {i: multimodal.image_dhash(b) for i, b in blobs if b is not None}
    want = {}
    for a, b in itertools.combinations(sorted(hashes), 2):
        ham = sum(bin(x ^ y).count("1") for x, y in zip(hashes[a], hashes[b]))
        if ham <= 6:
            want[(a, b)] = ham
    assert got == want and (0, 1) in got  # the planted near-dup survives
    import pytest as _pytest

    with _pytest.raises(ValueError):
        multimodal.perceptual_dedup_pairs(df, id_col="id", max_hamming=-1)


def test_audio_fingerprint_gain_invariant_and_local_edit(spark):
    from pathwaydataframework_spark.operators.multimodal import audio_fingerprint
    import struct

    def wav(samples):
        payload = struct.pack(f"<{len(samples)}h", *samples)
        return (
            b"RIFF" + struct.pack("<I", 36 + len(payload)) + b"WAVE"
            + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
            + b"data" + struct.pack("<I", len(payload)) + payload
        )

    n = 1024
    base = [((i * 37) % 4096) - 2048 for i in range(n)]
    fp0 = audio_fingerprint(wav(base))
    # integer gain doubling preserves every energy comparison
    assert fp0 == audio_fingerprint(wav([v * 2 for v in base]))
    # zeroing one window flips at most its two adjacent comparisons
    edit = [0 if (j * 33) // n == 2 else v for j, v in enumerate(base)]
    fp1 = audio_fingerprint(wav(edit))
    ham = sum(bin(a ^ b).count("1") for a, b in zip(fp0, fp1))
    assert 1 <= ham <= 2
    # non-WAV and too-short streams yield None
    assert audio_fingerprint(b"not audio") is None
    assert audio_fingerprint(wav(base[:16])) is None
    import pytest as _pytest

    with _pytest.raises(ValueError):
        audio_fingerprint(wav(base), frames=12)  # frames-1 not a byte multiple


def test_audio_spectral_fingerprint_properties(spark):
    """The Haar-band spectral fingerprint (r12): octave localization
    (a square of period 2^k puts ALL its energy in band k — opposite
    tilts separate signals the envelope calls identical), integer gain
    invariance, edit locality, the None boundaries, and an independent
    pure-Python re-derivation (no numpy) over an ODD length so the
    partial trailing blocks are pinned against the vectorized path."""
    from pathwaydataframework_spark.operators.multimodal import (
        audio_fingerprint,
        audio_spectral_fingerprint,
    )
    import struct

    def wav(samples):
        payload = struct.pack(f"<{len(samples)}h", *samples)
        return (
            b"RIFF" + struct.pack("<I", 36 + len(payload)) + b"WAVE"
            + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
            + b"data" + struct.pack("<I", len(payload)) + payload
        )

    n = 1024
    base = [((i * 37) % 4096) - 2048 for i in range(n)]
    fp0 = audio_spectral_fingerprint(wav(base))
    # integer gain doubling scales every band energy by exactly 4
    assert fp0 == audio_spectral_fingerprint(wav([v * 2 for v in base]))
    # opposite spectral tilt at IDENTICAL loudness: the envelope is
    # blind (ham 0), the spectral fingerprint separates by 8 bits
    hi = [1500 if i % 2 == 0 else -1500 for i in range(n)]
    lo = [1500 if (i // 16) % 2 == 0 else -1500 for i in range(n)]
    assert audio_fingerprint(wav(hi)) == audio_fingerprint(wav(lo))
    sp_hi = audio_spectral_fingerprint(wav(hi))
    sp_lo = audio_spectral_fingerprint(wav(lo))
    assert sp_hi == [0, 0, 0, 0]  # all energy in band 1: no tilt bit
    assert sum(bin(a ^ b).count("1") for a, b in zip(sp_hi, sp_lo)) == 8
    # zeroing one temporal window touches only that window's bits
    edit = [0 if (j * 8) // n == 2 else v for j, v in enumerate(base)]
    fpe = audio_spectral_fingerprint(wav(edit))
    diff_bits = [
        r * 8 + c
        for r, (a, b) in enumerate(zip(fp0, fpe))
        for c in range(8)
        if (a ^ b) >> c & 1
    ]
    assert diff_bits and all(8 <= i < 12 for i in diff_bits)  # window 2
    # boundaries: non-WAV, too-short, float/stereo-free guards, params
    assert audio_spectral_fingerprint(b"not audio") is None
    assert audio_spectral_fingerprint(wav(base[:4])) is None
    import pytest as _pytest

    with _pytest.raises(ValueError):
        audio_spectral_fingerprint(wav(base), windows=3, bands=4)
    # independent scalar re-derivation, odd length (partial blocks)
    m = 1001
    sig = [((i * 53) % 3000) - 1500 for i in range(m)]
    windows, bands = 8, 5
    energy = [[0] * (bands + 1) for _ in range(windows)]
    for k in range(1, bands + 1):
        nblk = (m - 1) // (1 << k) + 1
        for b in range(nblk):
            c = sum(
                sig[j] * (1 - 2 * ((j >> (k - 1)) & 1))
                for j in range(b << k, min((b + 1) << k, m))
            )
            energy[(b << k) * windows // m][k] += c * c
    bits = [
        energy[f][k + 1] > energy[f][k]
        for f in range(windows)
        for k in range(1, bands)
    ]
    want = [
        sum(1 << c for c in range(8) if bits[r * 8 + c])
        for r in range(len(bits) // 8)
    ]
    assert audio_spectral_fingerprint(wav(sig)) == want


def test_audio_spectral_pairs_blocked_equals_bruteforce(spark):
    """audio_spectral_pairs' pigeonhole blocking is recall-complete at
    max_hamming: the banded join equals brute-force Hamming over the
    fingerprints, with None (non-audio) rows dropped."""
    from pathwaydataframework_spark.operators import multimodal
    import struct

    def wav(samples):
        payload = struct.pack(f"<{len(samples)}h", *samples)
        return (
            b"RIFF" + struct.pack("<I", 36 + len(payload)) + b"WAVE"
            + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
            + b"data" + struct.pack("<I", len(payload)) + payload
        )

    n = 1024
    base = [((i * 37) % 4096) - 2048 for i in range(n)]
    blobs = {
        0: wav(base),
        1: wav([0 if (j * 8) // n == 2 else v for j, v in enumerate(base)]),
        2: wav([v * 2 for v in base]),
        3: wav([1500 if i % 2 == 0 else -1500 for i in range(n)]),
        4: b"junk",
    }
    df = spark.createDataFrame(
        sorted(blobs.items()), "id long, data binary"
    )
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in multimodal.audio_spectral_pairs(
            df, id_col="id", binary_col="data", max_hamming=3
        ).collect()
    }
    fps = {
        i: multimodal.audio_spectral_fingerprint(b) for i, b in blobs.items()
    }
    want = {}
    ids = [i for i, f in sorted(fps.items()) if f is not None]
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            h = sum(bin(x ^ y).count("1") for x, y in zip(fps[a], fps[b]))
            if h <= 3:
                want[(a, b)] = h
    assert got == want and (0, 2) in got  # gain twin survives at ham 0
    assert got[(0, 2)] == 0


def test_mp3_media_meta_sniff(spark):
    """attach_media_meta's MP3 branch (r12, extended r13/r14): 'ID3'
    magic OR a bare validated Layer III header at offset 0 → audio;
    the first MPEG frame header is located THROUGH the synchsafe tag
    size (computed-offset substr, no Python); duration is the EXACT
    Xing/Info frames*spf/rate when the VBR header sits at the computed
    4 + CRC + side-info offset with the FRAMES flag set (the CBR
    estimate is 2x+ off on VBR files), else the CBR estimate, and only
    when the frame validates with a defined bitrate — a free/bad
    bitrate index yields type without a number.  r14: MPEG-2
    (22.05/24/16 kHz, 576 samples/frame, its own bitrate column) and
    MPEG-2.5 (11.025/12/8 kHz) are accepted with their 9/17-byte side
    info; reserved version bits (01) and non-Layer-III frames stay
    'unknown' on bare streams; CRC-protected frames (protection bit 0)
    shift the Xing header by the 2 CRC bytes (ADVICE r13)."""
    from pathwaydataframework_spark.operators import multimodal

    def mp3(tag_pad, hdr, payload, *, xing=None, xing_flags=1):
        sz = tag_pad or 0
        synchsafe = bytes(
            [(sz >> 21) & 0x7F, (sz >> 14) & 0x7F, (sz >> 7) & 0x7F, sz & 0x7F]
        )
        frame = bytearray(bytes(hdr) + bytes(payload - len(hdr)))
        if xing is not None:
            mono = (hdr[3] >> 6) == 3
            v1 = ((hdr[1] >> 3) & 3) == 3
            side = (17 if mono else 32) if v1 else (9 if mono else 17)
            crc = 2 if (hdr[1] & 1) == 0 else 0
            off = 4 + crc + side
            frame[off:off + 4] = b"Xing"
            frame[off + 4:off + 8] = xing_flags.to_bytes(4, "big")
            frame[off + 8:off + 12] = xing.to_bytes(4, "big")
        pre = (
            b"ID3" + bytes([3, 0, 0]) + synchsafe + bytes(tag_pad)
            if tag_pad is not None else b""
        )
        return pre + bytes(frame)

    blobs = [
        (0, mp3(5, [0xFF, 0xFB, 0x90, 0x00], 1264)),    # 128 kbps → 79 ms
        (1, mp3(200, [0xFF, 0xFB, 0xE0, 0x00], 640)),   # 320 kbps, big tag → 16 ms
        # r14: MPEG-2.5 Layer III w/ CRC (was 'no duration' pre-r14):
        # idx 9 → 80 kbps in the MPEG-2 column → 100 B * 8 / 80 = 10 ms
        (2, mp3(5, [0xFF, 0xE2, 0x90, 0x00], 100)),
        (3, mp3(5, [0xFF, 0xFB, 0x00, 0x00], 100)),     # free bitrate: no duration
        # r13: bare-sync CBR (no ID3 tag): whole file is payload
        (4, mp3(None, [0xFF, 0xFB, 0x90, 0x00], 1600)),  # → 100 ms
        # r13: Xing VBR, stereo (side 32), 32 kHz, 250 frames → 9000 ms
        (5, mp3(5, [0xFF, 0xFB, 0x98, 0x00], 1200, xing=250)),
        # r13: Xing VBR, MONO (side 17), 32 kHz, 125 frames → 4500 ms
        (6, mp3(5, [0xFF, 0xFB, 0x98, 0xC0], 1200, xing=125)),
        # r13: Xing present but FRAMES flag unset → CBR fallback
        (7, mp3(5, [0xFF, 0xFB, 0x90, 0x00], 1264, xing=250, xing_flags=2)),
        # r13: bare Xing (no tag) — both r13 paths compose
        (8, mp3(None, [0xFF, 0xFB, 0x98, 0x00], 1200, xing=100)),
        # r14: bare MPEG-2.5 CBR now sniffs as audio (was unknown)
        (9, mp3(None, [0xFF, 0xE2, 0x90, 0x00], 100)),
        # r14: reserved version bits (01) stay unknown on bare streams
        (10, mp3(None, [0xFF, 0xEB, 0x90, 0x00], 100)),
        # r14: Layer II stays unknown on bare streams (Layer III only)
        (11, mp3(None, [0xFF, 0xFD, 0x90, 0x00], 100)),
        # r14: bare MPEG-2 CBR: 80 kbps @ 22.05 kHz → 1600*8/80 = 160 ms
        (12, mp3(None, [0xFF, 0xF3, 0x90, 0x00], 1600)),
        # r14: MPEG-2 Xing MONO (side 9) @ 24 kHz, 125 frames
        # → 125 * 576 / 24000 = 3000 ms
        (13, mp3(5, [0xFF, 0xF3, 0x94, 0xC0], 1200, xing=125)),
        # r14: bare MPEG-2.5 Xing stereo (side 17) @ 12 kHz, 100 frames
        # → 100 * 576 / 12000 = 4800 ms
        (14, mp3(None, [0xFF, 0xE3, 0x94, 0x00], 1200, xing=100)),
        # r14 (ADVICE r13): MPEG-1 VBR with CRC (protection bit 0) —
        # Xing sits at 4+2+32; 250 frames @ 32 kHz → 9000 ms (the CBR
        # fallback would read 75 ms — 120x off)
        (15, mp3(5, [0xFF, 0xFA, 0x98, 0x00], 1200, xing=250)),
    ]
    df = spark.createDataFrame(blobs, "id long, data binary")
    rows = {
        r["id"]: r["media_meta"].asDict()
        for r in multimodal.attach_media_meta(df).collect()
    }
    unknown_ids = {10, 11}
    assert all(
        m["media_type"] == "audio"
        for i, m in rows.items() if i not in unknown_ids
    )
    assert all(rows[i]["media_type"] == "unknown" for i in unknown_ids)
    assert rows[0]["duration_ms"] == 79    # 1264 B * 8 / 128 kbps
    assert rows[1]["duration_ms"] == 16    # 640 B * 8 / 320 kbps
    assert rows[2]["duration_ms"] == 10    # MPEG-2.5 CBR: 100 B * 8 / 80
    assert rows[3]["duration_ms"] is None
    assert rows[4]["duration_ms"] == 100   # 1600 B * 8 / 128 kbps
    assert rows[5]["duration_ms"] == 9000  # 250 * 1152 / 32000 s
    assert rows[6]["duration_ms"] == 4500  # 125 * 1152 / 32000 s
    assert rows[7]["duration_ms"] == 79    # flag unset → CBR estimate
    assert rows[8]["duration_ms"] == 3600  # 100 * 1152 / 32000 s
    assert rows[9]["duration_ms"] == 10    # bare MPEG-2.5 CBR
    assert rows[10]["duration_ms"] is None
    assert rows[11]["duration_ms"] is None
    assert rows[12]["duration_ms"] == 160   # MPEG-2 CBR
    assert rows[13]["duration_ms"] == 3000  # MPEG-2 Xing mono
    assert rows[14]["duration_ms"] == 4800  # MPEG-2.5 Xing stereo
    assert rows[15]["duration_ms"] == 9000  # CRC-shifted Xing


def test_audio_spectral_energies_long_format(spark):
    """audio_spectral_energies emits the FULL zero-filled
    (id, window, band) grid for every decodable blob, drops
    non-audio rows, and each cell equals the kernel the fingerprint
    compresses — so features and bits can never disagree."""
    from pathwaydataframework_spark.operators import multimodal
    import struct

    def wav(samples):
        payload = struct.pack(f"<{len(samples)}h", *samples)
        return (
            b"RIFF" + struct.pack("<I", 36 + len(payload)) + b"WAVE"
            + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
            + b"data" + struct.pack("<I", len(payload)) + payload
        )

    n = 1024
    base = [((i * 37) % 4096) - 2048 for i in range(n)]
    lo = [1500 if (i // 16) % 2 == 0 else -1500 for i in range(n)]
    df = spark.createDataFrame(
        [(0, wav(base)), (1, wav(lo)), (2, b"junk")], "id long, data binary"
    )
    rows = multimodal.audio_spectral_energies(
        df, id_col="id", binary_col="data", windows=8, bands=5
    ).collect()
    got = {(r["id"], r["window"], r["band"]): r["energy"] for r in rows}
    assert len(rows) == 2 * 8 * 5  # full grid per audio blob; junk dropped
    for i, blob in ((0, wav(base)), (1, wav(lo))):
        e = multimodal._haar_band_energies(blob, windows=8, bands=5)
        for f in range(8):
            for k in range(1, 6):
                assert got[(i, f, k)] == int(e[f, k])
    # the 16-period square: all energy in band 5, zero elsewhere
    assert all(got[(1, f, k)] == 0 for f in range(8) for k in range(1, 5))
    assert all(got[(1, f, 5)] > 0 for f in range(8))
    import pytest as _pytest

    with _pytest.raises(ValueError):
        multimodal.audio_spectral_energies(df, id_col="id", windows=0)


def test_incremental_hamming_matches_persisted_index(spark, tmp_path):
    """The incremental media-dedup path: fingerprint the corpus ONCE into
    a parquet index, then match an incoming batch against it — only the
    batch is re-fingerprinted, matches equal the full-join answer."""
    from pathwaydataframework_spark.operators import multimodal
    import pyspark.sql.functions as F

    def base(r, c):
        return (c * 15, r * 15, ((r + c) * 23) % 200)

    def pert(r, c):
        return (255, 0, 0) if (r, c) == (4, 5) else base(r, c)

    def alt(r, c):
        v = 255 if (r + c) % 2 == 0 else 0
        return (v, v, v)

    corpus = spark.createDataFrame(
        [(0, _mk_ppm(base)), (1, _mk_ppm(alt))], "id long, data binary"
    )
    batch = spark.createDataFrame(
        [(10, _mk_ppm(pert)), (11, _mk_ppm(lambda r, c: (0, 0, (r * 16 + c) % 256)))],
        "id long, data binary",
    )

    def hash_frame(df):
        return df.select(
            "id",
            F.udf(
                lambda b: multimodal.image_dhash(bytes(b)), "array<int>"
            )(F.col("data")).alias("dhash"),
        )

    idx_path = str(tmp_path / "fp_index")
    multimodal.fingerprint_index(
        hash_frame(corpus), id_col="id", hash_col="dhash", max_hamming=6, n_bytes=8
    ).write.parquet(idx_path)
    index = spark.read.parquet(idx_path)

    got = {
        (r["new_id"], r["corpus_id"]): r["hamming"]
        for r in multimodal.incremental_hamming_pairs(
            hash_frame(batch),
            index,
            id_col="id",
            hash_col="dhash",
            max_hamming=6,
            n_bytes=8,
        ).collect()
    }
    # pert is a near-dup of corpus image 0 only
    assert set(got) == {(10, 0)}
    h_p = multimodal.image_dhash(_mk_ppm(pert))
    h_b = multimodal.image_dhash(_mk_ppm(base))
    assert got[(10, 0)] == sum(bin(a ^ b).count("1") for a, b in zip(h_p, h_b))


def test_audio_deep_bitdepth_exact_no_int64_wrap(spark):
    """ADVICE r12: 24/32-bit samples square past int64 — the Haar and
    envelope kernels must switch to arbitrary-precision instead of
    silently presenting wrapped values as exact-integer features.
    A PCM32 alternating-sign stream at amplitude 2^30 makes every k=1
    detail coefficient ±2^31 (square 2^62; four blocks per window sum
    past 2^63), so the old int64 path provably wrapped.  Pinned against
    a no-numpy pure-Python re-derivation; the long-schema feature table
    skips the blob (documented boundary) while the fingerprint covers
    it."""
    import struct

    from pathwaydataframework_spark.operators.multimodal import (
        _haar_band_energies,
        audio_fingerprint,
        audio_spectral_energies,
        audio_spectral_fingerprint,
    )

    n, windows, bands = 64, 8, 5
    amp = 1 << 30
    x = [amp if i % 2 == 0 else -amp for i in range(n)]
    payload = struct.pack(f"<{n}i", *x)
    blob = (
        b"RIFF" + struct.pack("<I", 36 + len(payload)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 32000, 4, 32)
        + b"data" + struct.pack("<I", len(payload)) + payload
    )

    # pure-Python exact reference (no numpy anywhere)
    ref = [[0] * (bands + 1) for _ in range(windows)]
    for k in range(1, bands + 1):
        nblk = (n + (1 << k) - 1) >> k
        for b in range(nblk):
            c = 0
            for j in range(b << k, min((b + 1) << k, n)):
                sign = 1 if ((j >> (k - 1)) & 1) == 0 else -1
                c += sign * x[j]
            f = ((b << k) * windows) // n
            ref[f][k] += c * c
    got = _haar_band_energies(blob, windows=windows, bands=bands)
    assert got is not None
    for f in range(windows):
        for k in range(1, bands + 1):
            assert int(got[f, k]) == ref[f][k]
    # the guard is exercised: at least one exact energy exceeds int64
    assert max(max(r[1:]) for r in ref) > (1 << 63) - 1

    # fingerprint paths stay exact and well-defined on the deep stream
    fp = audio_spectral_fingerprint(blob, windows=windows, bands=bands)
    ref_bits = [
        ref[f][k + 1] > ref[f][k]
        for f in range(windows)
        for k in range(1, bands)
    ]
    ref_fp = [
        sum(1 << c for c in range(8) if ref_bits[r * 8 + c])
        for r in range(windows * (bands - 1) // 8)
    ]
    assert fp == ref_fp
    assert audio_fingerprint(blob, frames=33) is not None

    # the long-schema feature table skips the out-of-range blob
    df = spark.createDataFrame([(1, blob)], "media_id long, data binary")
    assert (
        audio_spectral_energies(df, windows=windows, bands=bands).count() == 0
    )
