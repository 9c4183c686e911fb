"""Perceptual-hash near-dup (operators/multimodal.py:phash_near_dup):
hash math + banded-join exactness over the deterministic fake decode."""

from __future__ import annotations

from pyspark.sql import functions as F

from pydatalake_spark.operators.multimodal import (
    attach_payload,
    perceptual_hashes,
    phash_near_dup,
)

BASE = " ".join(f"tok{i}" for i in range(120))


def _media(spark):
    rows = [
        (1, BASE),
        (2, BASE),                               # exact twin of 1
        # same-length edits to tok5/tok50..tok59 -> 1 gradient bit flips
        (3, BASE.replace("tok5", "xqz5")),
        (4, " ".join(f"other{i}" for i in range(120))),  # unrelated
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    return attach_payload(df, "doc_id", "text")


def test_hashes_are_deterministic_64bit(spark):
    h1 = {r.media_id: r.phash for r in perceptual_hashes(_media(spark)).collect()}
    h2 = {r.media_id: r.phash for r in perceptual_hashes(_media(spark)).collect()}
    assert h1 == h2
    assert h1[1] == h1[2]          # identical payloads -> identical hash
    assert h1[1] != h1[4]          # unrelated payloads -> different hash


def test_near_dup_pairs_respect_hamming(spark):
    out = {
        (r.id_a, r.id_b): r.hamming
        for r in phash_near_dup(_media(spark), max_hamming=8).collect()
    }
    assert out[(1, 2)] == 0        # exact twins
    assert (1, 3) in out           # local edit -> few gradient bits flip
    assert out[(1, 3)] <= 8
    assert not any(4 in p for p in out)  # unrelated stays unmatched


def test_verify_bounds_candidates(spark):
    # radius 0 keeps only exact twins even though banding proposed (1,3)
    out = phash_near_dup(_media(spark), max_hamming=0).collect()
    assert {(r.id_a, r.id_b) for r in out} == {(1, 2)}


def test_error_stub_raises(spark):
    import pytest

    with pytest.raises(Exception, match="codec"):
        perceptual_hashes(_media(spark), decode_stub="error").collect()


def test_video_near_dup_by_frame_overlap(spark):
    from pydatalake_spark.operators.multimodal import video_near_dup

    long_a = " ".join(f"tok{i}" for i in range(400))
    # same length, last quarter replaced -> frames 0-2 identical, 3 differs
    cut = len(long_a) * 3 // 4
    long_b = long_a[:cut] + "z" * (len(long_a) - cut)
    other = " ".join(f"other{i}" for i in range(400))
    df = spark.createDataFrame(
        [(1, long_a), (2, long_a), (3, long_b), (4, other)],
        "doc_id long, text string",
    )
    media = attach_payload(df, "doc_id", "text")
    out = {
        (r.id_a, r.id_b): r.n_matching_frames
        for r in video_near_dup(media, min_matching_frames=2).collect()
    }
    assert out[(1, 2)] == 4           # identical videos: all frames match
    assert (1, 3) in out and out[(1, 3)] >= 2   # shared prefix frames
    assert not any(4 in p for p in out)


def test_video_near_dup_hashes_each_frame_once(spark, monkeypatch, tmp_path):
    """Each query samples every video and hashes every frame ONCE, in the
    broadcast and in the shuffle join regime: both sides of the band
    self-join read one cached frame-hash table. Every Arrow pass is
    tapped to log the rows it reads; each regime gets videos of its own,
    so no cache from the other regime serves it."""
    from pydatalake_spark.operators.multimodal import video_near_dup
    from tests.conftest import cc_loop

    log = tmp_path / "passes.log"
    frame_type = type(spark.range(1))
    real = frame_type.mapInPandas

    def tapped(self, func, schema, *args, **kwargs):
        path, tag = str(log), func.__qualname__.split(".")[0]

        def run(batches):
            def tap():
                for pdf in batches:
                    with open(path, "a") as f:
                        f.write(f"{tag} {len(pdf)}\n")
                    yield pdf

            return func(tap())

        return real(self, run, schema, *args, **kwargs)

    monkeypatch.setattr(frame_type, "mapInPandas", tapped)
    text = " ".join(f"tok{i}" for i in range(400))
    other = " ".join(f"other{i}" for i in range(400))
    for base, shuffle in ((100, False), (200, True)):
        df = spark.createDataFrame(
            [(base + i, text if i < 3 else other) for i in range(4)],
            "doc_id long, text string",
        )
        log.write_text("")
        with cc_loop(spark, shuffle):
            out = video_near_dup(attach_payload(df, "doc_id", "text")).collect()
        assert {(r.id_a, r.id_b) for r in out} == {
            (base, base + 1), (base, base + 2), (base + 1, base + 2)
        }
        rows: dict = {}
        for tag, n in (ln.split() for ln in log.read_text().splitlines()):
            rows[tag] = rows.get(tag, 0) + int(n)
        assert rows.get("sample_frames") == 4, (shuffle, rows)
        assert rows.get("perceptual_hashes") == 16, (shuffle, rows)


def test_audio_chunk_energy_flags_silence(spark):
    from pydatalake_spark.operators.multimodal import audio_chunk_energy

    loud = bytes(range(200)) * 40          # varied samples -> high RMS
    quiet = bytes([100]) * 8000            # constant -> RMS 0 (silence)
    mixed = loud[:8000] + quiet[:8000]
    df = spark.createDataFrame(
        [(1, bytearray(loud[:8000])), (2, bytearray(quiet)),
         (3, bytearray(mixed))],
        "media_id long, payload binary",
    )
    out = {
        (r.media_id, r.chunk_idx): r
        for r in audio_chunk_energy(df, chunk_samples=8000).collect()
    }
    assert not out[(1, 0)].is_silence and out[(1, 0)].rms > 10
    assert out[(2, 0)].is_silence and out[(2, 0)].rms == 0.0
    assert not out[(3, 0)].is_silence and out[(3, 1)].is_silence
    # overlapping windows: hop 4000 doubles chunk count minus edge
    n_overlap = audio_chunk_energy(
        df.filter("media_id = 3"), chunk_samples=8000, hop_samples=4000
    ).count()
    assert n_overlap == 4  # starts at 0, 4000, 8000, 12000


# ---------------------------------------------------------------------------
# real-decode tier (VERDICT r4 #8): PNG via the built-in stdlib decoder
# (or PIL when installed), WAV via stdlib wave — fixtures are real encoded
# media generated here, not pseudo-payloads
# ---------------------------------------------------------------------------


def _encode_png(px: "np.ndarray", filters=None) -> bytes:
    """Minimal PNG encoder for fixtures: 8-bit gray/RGB/RGBA from an
    (h, w[, ch]) uint8 array, one chosen filter type per row so every
    unfilter path of the built-in decoder gets exercised."""
    import struct
    import zlib

    import numpy as np

    if px.ndim == 2:
        px = px[:, :, None]
    h, w, ch = px.shape
    color = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    filters = filters or [0] * h
    raw = bytearray()
    prev = np.zeros((w, ch), dtype=np.int32)
    for r in range(h):
        ft = filters[r]
        row = px[r].astype(np.int32)
        flat = row.reshape(-1)
        pflat = prev.reshape(-1)
        out = np.zeros_like(flat)
        for i in range(len(flat)):
            a = flat[i - ch] if i >= ch else 0
            up = pflat[i]
            c = pflat[i - ch] if i >= ch else 0
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = a
            elif ft == 2:
                pred = up
            elif ft == 3:
                pred = (a + up) >> 1
            else:  # Paeth
                p = a + up - c
                pa, pb, pc = abs(p - a), abs(p - up), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (up if pb <= pc else c)
            out[i] = (flat[i] - pred) & 0xFF
        raw.append(ft)
        raw.extend(out.astype(np.uint8).tobytes())
        prev = row

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def _encode_wav(samples: "np.ndarray", rate: int = 16000) -> bytes:
    """16-bit PCM WAV bytes from float samples in [-1, 1] — stdlib wave."""
    import io
    import wave

    import numpy as np

    pcm = np.clip(np.rint(samples * 32767), -32768, 32767).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(pcm.tobytes())
    return buf.getvalue()


def test_png_decoder_roundtrip_all_filters():
    """Every PNG filter type (None/Sub/Up/Average/Paeth) must unfilter
    back to the original pixels, for gray, RGB and RGBA."""
    import numpy as np

    from pydatalake_spark.operators.multimodal import _decode_png

    rng = np.random.default_rng(42)
    for ch in (1, 2, 3, 4):
        px = rng.integers(0, 256, size=(10, 7, ch), dtype=np.uint8)
        for filters in ([0] * 10, [1] * 10, [2] * 10, [3] * 10, [4] * 10,
                        [0, 1, 2, 3, 4, 4, 3, 2, 1, 0]):
            got = _decode_png(_encode_png(px, filters))
            assert got.shape == (10, 7, ch)
            assert (got == px).all(), (ch, filters)


def test_png_decoder_matches_pil_when_available():
    """Property check of the stdlib decoder against PIL (VERDICT r5 #7):
    random sizes × every filter type × every supported color type must
    decode pixel-identically. Skipped when PIL is absent."""
    import numpy as np
    import pytest

    pytest.importorskip("PIL")
    import io

    from PIL import Image

    from pydatalake_spark.operators.multimodal import _decode_png

    rng = np.random.default_rng(7)
    for ch, mode in ((1, "L"), (2, "LA"), (3, "RGB"), (4, "RGBA")):
        for trial in range(3):
            h = int(rng.integers(1, 24))
            w = int(rng.integers(1, 24))
            px = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)
            filters = [int(f) for f in rng.integers(0, 5, size=h)]
            blob = _encode_png(px, filters)
            ours = _decode_png(blob)
            theirs = np.asarray(
                Image.open(io.BytesIO(blob)).convert(mode)
            ).reshape(h, w, ch)
            assert (ours == theirs).all(), (ch, h, w, filters)


def test_real_tier_quarantines_corrupt_payloads(spark):
    """r5 ADVICE: one corrupt payload (or a non-image row in a mixed
    media table) must NOT fail the stage — it is quarantined as null
    width/height (extract_features), null phash (perceptual_hashes),
    null payload (resize_images); valid rows still decode."""
    import numpy as np

    from pydatalake_spark.operators.multimodal import (
        extract_features,
        perceptual_hashes,
        resize_images,
    )

    rng = np.random.default_rng(3)
    good = _encode_png(rng.integers(0, 256, (12, 9), dtype=np.uint8))
    truncated = good[: len(good) // 2]  # valid magic, corrupt body
    df = spark.createDataFrame(
        [
            (1, bytearray(good)),
            (2, bytearray(b"not an image at all")),
            (3, bytearray(truncated)),
        ],
        "media_id long, payload binary",
    )
    feats = {
        r.media_id: (r.width, r.height)
        for r in extract_features(df, decode_stub="real").collect()
    }
    assert feats[1] == (9, 12)
    assert feats[2] == (None, None) and feats[3] == (None, None)

    hashes = {
        r.media_id: r.phash
        for r in perceptual_hashes(df, decode_stub="real").collect()
    }
    assert hashes[1] is not None
    assert hashes[2] is None and hashes[3] is None

    resized = {
        r.media_id: r.payload
        for r in resize_images(df, 4, 4, decode_stub="real").collect()
    }
    assert resized[1] is not None and len(resized[1]) == 16
    assert resized[2] is None and resized[3] is None


def test_extract_features_real_reads_true_png_dimensions(spark):
    import numpy as np

    from pydatalake_spark.operators.multimodal import extract_features

    rng = np.random.default_rng(1)
    img_a = rng.integers(0, 256, size=(24, 33), dtype=np.uint8)      # gray
    img_b = rng.integers(0, 256, size=(48, 16, 3), dtype=np.uint8)   # RGB
    df = spark.createDataFrame(
        [(1, bytearray(_encode_png(img_a))),
         (2, bytearray(_encode_png(img_b, filters=[4] * 48)))],
        "media_id long, payload binary",
    )
    out = {r.media_id: r for r in
           extract_features(df, decode_stub="real").collect()}
    assert (out[1].width, out[1].height) == (33, 24)
    assert (out[2].width, out[2].height) == (16, 48)


def test_real_phash_is_perceptual_on_real_pngs(spark):
    """Real-decode dHash: identical images collide, a lightly-perturbed
    image stays within a small Hamming distance, an unrelated image is
    far — the perceptual property, now on genuinely decoded pixels."""
    import numpy as np

    from pydatalake_spark.operators.multimodal import perceptual_hashes

    rng = np.random.default_rng(7)
    # smooth gradient base so the dHash has structure
    y, x = np.mgrid[0:64, 0:64]
    base = ((x * 2 + y) % 256).astype(np.uint8)
    near = base.copy()
    near[10:13, 10:13] += 40  # local edit: few grid cells move
    other = rng.integers(0, 256, size=(64, 64), dtype=np.uint8)
    df = spark.createDataFrame(
        [(1, bytearray(_encode_png(base))),
         (2, bytearray(_encode_png(base))),
         (3, bytearray(_encode_png(near))),
         (4, bytearray(_encode_png(other)))],
        "media_id long, payload binary",
    )
    h = {r.media_id: r.phash
         for r in perceptual_hashes(df, decode_stub="real").collect()}

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert h[1] == h[2]
    assert ham(h[1], h[3]) <= 8
    assert ham(h[1], h[4]) > 12


def test_audio_chunk_energy_real_wav_sine_rms(spark):
    """Real WAV decode: a 0.5-amplitude sine's RMS is amp/sqrt(2); a
    silent tail is flagged at a [-1,1]-scale threshold."""
    import numpy as np

    from pydatalake_spark.operators.multimodal import audio_chunk_energy

    t = np.arange(16000)
    sine = 0.5 * np.sin(2 * np.pi * 440 * t / 16000)
    silence = np.zeros(8000)
    wav = _encode_wav(np.concatenate([sine[:8000], silence]))
    df = spark.createDataFrame(
        [(1, bytearray(wav))], "media_id long, payload binary"
    )
    out = {r.chunk_idx: r for r in audio_chunk_energy(
        df, chunk_samples=8000, silence_rms=0.01, decode_stub="real"
    ).collect()}
    assert abs(out[0].rms - 0.5 / np.sqrt(2)) < 0.01
    assert not out[0].is_silence
    assert out[1].is_silence and out[1].rms < 1e-6


def test_resize_images_real_box_filter(spark):
    """Real resize: constant image stays constant at any size; output is
    the raw w*h grayscale buffer."""
    import numpy as np

    from pydatalake_spark.operators.multimodal import resize_images

    flat = np.full((40, 60), 137, dtype=np.uint8)
    df = spark.createDataFrame(
        [(1, bytearray(_encode_png(flat)))], "media_id long, payload binary"
    )
    r = resize_images(df, width=8, height=6, decode_stub="real").collect()[0]
    assert (r.width, r.height) == (8, 6)
    buf = np.frombuffer(bytes(r.payload), dtype=np.uint8)
    assert buf.shape == (48,)
    assert (buf == 137).all()


def test_fingerprint_table_cached_once(spark):
    """r13: phash_near_dup caches the banded fingerprint table, so the
    MapInPandas decode+hash pass runs ONCE regardless of join strategy
    (the r12 ReuseExchange idiom only covered the shuffle-join regime —
    in the broadcast regime the corpus was decoded twice). cache_once
    registers by plan equality, so a plan-equal rebuild of the banded
    table must report a storage level."""
    media = _media(spark)
    phash_near_dup(media, max_hamming=8)  # plan build registers the cache
    sl = perceptual_hashes(media).storageLevel
    assert sl.useMemory or sl.useDisk
