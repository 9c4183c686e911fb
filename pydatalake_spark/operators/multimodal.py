"""Multimodal columns: opaque binary payloads + typed metadata.

Beyond-reference north-star plumbing for image/audio/video data at 100 TB:
media travels as a ``binary`` column next to a metadata struct; decode /
feature-extraction runs as Arrow-batched ``mapInPandas`` (one Python worker
per partition, columnar transfer), never row-at-a-time.

Decode tiers, selected by ``decode_stub``:

- ``'real'``  → actual decode. Images: PIL when importable, else the
  built-in pure-stdlib PNG decoder (`_decode_png`: zlib inflate + full
  filter-0..4 unfilter, 8-bit gray/RGB/RGBA, non-interlaced) — so the
  real path WORKS in a no-extras runtime for the one format every
  pipeline meets first. Audio: soundfile when importable, else stdlib
  ``wave`` PCM (8/16/32-bit, mixed to mono, normalized to [-1, 1]).
  Video frame extraction has no stdlib fallback and raises
  ``NotImplementedError`` naming ffmpeg/pyav.
- ``'error'`` → raises ``NotImplementedError`` naming the missing codec
  (production wiring point);
- ``'fake'``  → deterministic pseudo-decode (dimensions/duration derived
  from payload bytes) so the Spark-side plumbing — schema, partitioning,
  UDF signature, Arrow batch shape — is testable with arbitrary bytes.

Partitioning note: media blobs make rows huge; `extract_features` keeps the
payload out of its OUTPUT (id + features only), so the shuffle-heavy
downstream (joins, dedup on checksum) moves kilobytes, not media. That —
not the decode tier — is the part that matters at scale. The image and
video near-dup fronts band cached hash tables through
`operators/banding.py`.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pydatalake_spark.operators.banding import band_pairs, band_rows
from pydatalake_spark.session import cache_once

_DECODE_TIERS = ("fake", "error", "real")


# ---------------------------------------------------------------------------
# real-decode codec layer (import-gated extras, stdlib fallbacks)
# ---------------------------------------------------------------------------


def _pil_image():
    try:
        from PIL import Image

        return Image
    except ImportError:
        return None


def _decode_png(b: bytes) -> np.ndarray:
    """(h, w, channels) uint8 pixels from PNG bytes — pure stdlib.

    Supports the common core: 8-bit depth, gray / gray+alpha / RGB /
    RGBA, non-interlaced, all five scanline filters (None/Sub/Up/
    Average/Paeth per the PNG spec §9). Enough to make the 'real' tier
    genuinely decode the canonical interchange format without PIL;
    exotic PNGs (16-bit, palette, Adam7) raise NotImplementedError.
    """
    if b[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG payload")
    pos, idat, hdr = 8, b"", None
    while pos + 8 <= len(b):
        (ln,) = struct.unpack(">I", b[pos : pos + 4])
        typ = b[pos + 4 : pos + 8]
        data = b[pos + 8 : pos + 8 + ln]
        pos += 12 + ln
        if typ == b"IHDR":
            hdr = struct.unpack(">IIBBBBB", data)
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
    if hdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, color, _comp, _filt, interlace = hdr
    if depth != 8 or interlace != 0 or color not in (0, 2, 4, 6):
        raise NotImplementedError(
            "built-in PNG decoder handles 8-bit gray/RGB/±alpha "
            "non-interlaced; install PIL for anything else"
        )
    ch = {0: 1, 2: 3, 4: 2, 6: 4}[color]
    raw = np.frombuffer(zlib.decompress(idat), dtype=np.uint8)
    stride = w * ch
    out = np.zeros((h, stride), dtype=np.uint8)
    pos = 0
    # Unfilter (PNG spec §9), r5 ADVICE: the old per-byte loops indexed
    # numpy scalars, seconds/megapixel. None and Up are whole-row numpy
    # ops; Sub's recurrence recon[x] = filt[x] + recon[x-ch] is a
    # per-channel-lane prefix sum, i.e. cumsum mod 256; Average/Paeth
    # have a nonlinear left-dependency (no exact vectorization exists),
    # so they loop — over plain Python lists, whose indexing beats numpy
    # scalar access ~5-10x.
    for row in range(h):
        ft = int(raw[pos])
        pos += 1
        line = raw[pos : pos + stride].copy()
        pos += stride
        prev = out[row - 1] if row else np.zeros(stride, dtype=np.uint8)
        if ft == 0:
            pass
        elif ft == 1:  # Sub: per-lane cumulative sum, wrapping at 256
            lanes = line.reshape(w, ch).astype(np.uint64)
            line = (np.cumsum(lanes, axis=0) & 0xFF).astype(
                np.uint8
            ).reshape(stride)
        elif ft == 2:  # Up: uint8 addition wraps exactly as the spec needs
            line = line + prev
        elif ft == 3:  # Average — sequential left-dependency; plain-list
            # loop (list indexing ≈ 5-10x cheaper than numpy scalar
            # indexing, and exact — no vectorization exists)
            ln = line.tolist()
            pv = prev.tolist()
            for i in range(ch):
                ln[i] = (ln[i] + (pv[i] >> 1)) & 0xFF
            for i in range(ch, stride):
                ln[i] = (ln[i] + ((ln[i - ch] + pv[i]) >> 1)) & 0xFF
            line = np.array(ln, dtype=np.uint8)
        elif ft == 4:  # Paeth — same sequential shape as Average
            ln = line.tolist()
            pv = prev.tolist()
            for i in range(stride):
                a = ln[i - ch] if i >= ch else 0
                up = pv[i]
                c = pv[i - ch] if i >= ch else 0
                p = a + up - c
                pa = p - a if p >= a else a - p
                pb = p - up if p >= up else up - p
                pc = p - c if p >= c else c - p
                pred = a if (pa <= pb and pa <= pc) else (up if pb <= pc else c)
                ln[i] = (ln[i] + pred) & 0xFF
            line = np.array(ln, dtype=np.uint8)
        else:
            raise ValueError(f"bad PNG filter type {ft}")
        out[row] = line
    return out.reshape(h, w, ch)


def decode_image_gray(b: bytes) -> np.ndarray:
    """(h, w) float64 grayscale pixels from encoded image bytes.

    PIL tier when importable (any format PIL knows); stdlib PNG tier
    otherwise. Color → ITU-R 601 luma; alpha ignored.
    """
    pil = _pil_image()
    if pil is not None:
        import io

        img = pil.open(io.BytesIO(bytes(b))).convert("L")
        return np.asarray(img, dtype=np.float64)
    px = _decode_png(bytes(b)).astype(np.float64)
    ch = px.shape[2]
    if ch >= 3:
        return 0.299 * px[:, :, 0] + 0.587 * px[:, :, 1] + 0.114 * px[:, :, 2]
    return px[:, :, 0]


def _box_resize_gray(img: np.ndarray, out_rows: int, out_cols: int) -> np.ndarray:
    """(out_rows, out_cols) box-filter downscale (area average) — the
    same resample a real thumbnailer uses, on an already-decoded
    grayscale array; upscale degenerates to nearest-pixel repetition."""
    h, w = img.shape
    rb = [(r * h) // out_rows for r in range(out_rows + 1)]
    cb = [(c * w) // out_cols for c in range(out_cols + 1)]
    out = np.empty((out_rows, out_cols), dtype=np.float64)
    for r in range(out_rows):
        r0, r1 = rb[r], max(rb[r + 1], rb[r] + 1)
        for c in range(out_cols):
            c0, c1 = cb[c], max(cb[c + 1], cb[c] + 1)
            out[r, c] = img[r0:r1, c0:c1].mean()
    return out


def decode_audio_samples(b: bytes) -> np.ndarray:
    """float64 mono samples in [-1, 1] from encoded audio bytes.

    soundfile tier when importable (any libsndfile format); stdlib
    ``wave`` tier otherwise (PCM WAV, 8/16/32-bit; channels mixed to
    mono by mean).
    """
    import io

    try:
        import soundfile as sf

        data, _rate = sf.read(io.BytesIO(bytes(b)), dtype="float64")
        return data.mean(axis=1) if data.ndim > 1 else data
    except ImportError:
        pass
    import wave

    with wave.open(io.BytesIO(bytes(b)), "rb") as wf:
        n_ch = wf.getnchannels()
        width = wf.getsampwidth()
        frames = wf.readframes(wf.getnframes())
    if width == 1:  # unsigned 8-bit
        samples = np.frombuffer(frames, dtype=np.uint8).astype(np.float64)
        samples = (samples - 128.0) / 128.0
    elif width == 2:
        samples = np.frombuffer(frames, dtype="<i2").astype(np.float64)
        samples /= 32768.0
    elif width == 4:
        samples = np.frombuffer(frames, dtype="<i4").astype(np.float64)
        samples /= 2147483648.0
    else:
        raise NotImplementedError(
            f"WAV sample width {width} unsupported; install soundfile"
        )
    if n_ch > 1:
        samples = samples.reshape(-1, n_ch).mean(axis=1)
    return samples

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("checksum", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)


def attach_payload(df: DataFrame, id_col: str, source_col: str) -> DataFrame:
    """(id, payload binary, meta struct) — the canonical multimodal layout.

    Here the payload is the utf-8 encoding of a text column (the container
    has no media files); with real data this is ``spark.read.format(
    "binaryFile")`` or a parquet binary column.
    """
    payload = F.encode(F.col(source_col), "utf-8")
    meta = F.struct(
        F.length(payload).cast("long").alias("n_bytes"),
        F.lit("application/octet-stream").alias("mime"),
    )
    return df.select(
        F.col(id_col).alias("media_id"),
        payload.alias("payload"),
        meta.alias("meta"),
    )


def extract_features(
    df: DataFrame,
    decode_stub: str = "fake",
    batch_hint: int | None = None,
) -> DataFrame:
    """Arrow-batched feature extraction over (media_id, payload).

    ``mapInPandas``: each partition streams pandas batches through one
    Python worker; output drops the payload so only narrow features shuffle
    downstream. ``decode_stub='real'`` reads true dimensions via the codec
    layer (PIL, else built-in PNG); a payload the codec REJECTS (corrupt
    bytes, or a non-image row in a mixed media table) is quarantined as
    null width/height instead of failing the stage — one bad row must not
    kill a 100 TB job after its retries (r5 ADVICE). n_bytes/checksum are
    still real for quarantined rows, so the bad payloads stay traceable.
    """
    if decode_stub not in _DECODE_TIERS:
        raise ValueError(f"decode_stub must be one of {_DECODE_TIERS}")

    def _dims(b: bytes) -> tuple[int | None, int | None]:
        try:
            img = decode_image_gray(b)
            return img.shape[1], img.shape[0]
        except Exception:
            return None, None

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if decode_stub == "error":
                # production wiring point: PIL.Image.open(io.BytesIO(b)) etc.
                raise NotImplementedError(
                    "media codec not available in this runtime; "
                    "install PIL/ffmpeg and replace the 'fake' decode stub"
                )
            payloads = pdf["payload"]
            if decode_stub == "real":
                dims = payloads.map(lambda b: _dims(bytes(b)))
                # nullable Int32: quarantined rows carry null dimensions
                width = dims.map(lambda d: d[0]).astype("Int32")
                height = dims.map(lambda d: d[1]).astype("Int32")
            else:
                # deterministic pseudo-decode: "dimensions" from bytes
                width = payloads.map(
                    lambda b: (bytes(b)[0] if len(b) else 0) + 1
                ).astype("int32")
                height = payloads.map(
                    lambda b: (bytes(b)[-1] if len(b) else 0) + 1
                ).astype("int32")
            out = pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": payloads.map(len).astype("int64"),
                    "checksum": payloads.map(
                        lambda b: hashlib.md5(bytes(b)).hexdigest()
                    ),
                    "width": width,
                    "height": height,
                }
            )
            yield out

    return df.select("media_id", "payload").mapInPandas(run, FEATURE_SCHEMA)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)


def resize_images(
    df: DataFrame,
    width: int,
    height: int,
    decode_stub: str = "fake",
) -> DataFrame:
    """Image resize as an Arrow-batched 1→1 payload transform.

    ``decode_stub='real'``: decode via the codec layer (PIL, else
    built-in PNG), box-filter resample to (height, width), and emit the
    RAW 8-bit grayscale pixel buffer (row-major, width*height bytes) —
    no encoder dependency exists in a bare runtime, and downstream
    feature/hash stages consume raw pixels anyway. The 'fake' stub
    deterministically truncates/pads the payload to ``width*height``
    bytes so the binary-in/binary-out batch shape, schema, and
    partitioning are exercised without codecs. Payload stays in the
    output here by design — resize feeds a write, not a shuffle; keep a
    ``select`` downstream narrow if joining.
    """
    if decode_stub not in _DECODE_TIERS:
        raise ValueError(f"decode_stub must be one of {_DECODE_TIERS}")
    target = width * height

    def _real_resize(b: bytes) -> bytes | None:
        # quarantine: null payload for bytes the codec rejects, instead
        # of failing the stage (r5 ADVICE)
        try:
            img = decode_image_gray(b)
        except Exception:
            return None
        small = _box_resize_gray(img, height, width)
        return np.clip(np.rint(small), 0, 255).astype(np.uint8).tobytes()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if decode_stub == "error":
                raise NotImplementedError(
                    "image codec not available in this runtime; "
                    "install PIL and replace the 'fake' resize stub"
                )
            if decode_stub == "real":
                resized = pdf["payload"].map(lambda b: _real_resize(bytes(b)))
            else:
                resized = pdf["payload"].map(
                    lambda b: bytes(b)[:target].ljust(target, b"\0")
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": resized,
                    "width": width,
                    "height": height,
                }
            ).astype({"width": "int32", "height": "int32"})

    return df.select("media_id", "payload").mapInPandas(run, RESIZED_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame", T.BinaryType()),
    ]
)


def sample_frames(
    df: DataFrame,
    num_frames: int = 4,
    decode_stub: str = "fake",
) -> DataFrame:
    """Video frame sampling: 1 row in → ``num_frames`` rows out.

    Production wiring point: ffmpeg/pyav keyframe extraction. The 'fake'
    stub slices the payload into ``num_frames`` equal chunks, which
    exercises the row-expanding mapInPandas shape (the part that matters
    for partition sizing: output rows ≈ input rows × num_frames, so
    size input partitions accordingly). No stdlib video codec exists, so
    ``decode_stub='real'`` raises like 'error' — wiring point unchanged.
    """
    if decode_stub not in _DECODE_TIERS:
        raise ValueError(f"decode_stub must be one of {_DECODE_TIERS}")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if decode_stub in ("error", "real"):
                raise NotImplementedError(
                    "video codec not available in this runtime; "
                    "install ffmpeg/pyav and replace the 'fake' frame stub"
                )
            ids, idxs, frames = [], [], []
            for mid, b in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(b)
                step = max(1, len(b) // num_frames)
                for i in range(num_frames):
                    ids.append(mid)
                    idxs.append(i)
                    frames.append(b[i * step : (i + 1) * step])
            yield pd.DataFrame(
                {"media_id": ids, "frame_idx": idxs, "frame": frames}
            ).astype({"frame_idx": "int32"})

    return df.select("media_id", "payload").mapInPandas(run, FRAME_SCHEMA)


PHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("phash", T.LongType()),
    ]
)

_PHASH_GRID = (8, 9)  # dHash: 8 rows x 9 cols -> 8x8 gradient bits


def perceptual_hashes(
    df: DataFrame,
    decode_stub: str = "fake",
    payload_col: str = "payload",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """64-bit dHash per media payload (difference hash: each bit compares
    horizontally adjacent pixels of a downscaled grayscale image — the
    standard perceptual fingerprint for image near-dedup).

    The HASH MATH is real in every tier. ``decode_stub='real'`` decodes
    the image (PIL, else built-in PNG) and box-resamples to the 8x9
    grid — a true dHash. 'fake' "downscales" the payload bytes to the
    same grid by averaging 72 equal byte segments — the same box-filter
    shape, so local edits perturb few pixels and small length changes
    shift averages only slightly (the perceptual-locality property the
    tests pin down).
    """
    if decode_stub not in _DECODE_TIERS:
        raise ValueError(f"decode_stub must be one of {_DECODE_TIERS}")
    rows, cols = _PHASH_GRID
    n_px = rows * cols
    schema = T.StructType(
        [T.StructField("media_id", T.LongType())]
        + [T.StructField(c, T.IntegerType()) for c in extra_cols]
        + [T.StructField("phash", T.LongType())]
    )

    def _fake_pixels(b: bytes) -> list[int]:
        if not b:
            return [0] * n_px
        bounds = [(i * len(b)) // n_px for i in range(n_px + 1)]
        return [
            sum(b[bounds[i] : bounds[i + 1]])
            // max(1, bounds[i + 1] - bounds[i])
            for i in range(n_px)
        ]

    def _dhash(px: list[int]) -> int:
        h = 0
        for r in range(rows):
            for c in range(cols - 1):
                h = (h << 1) | (px[r * cols + c] > px[r * cols + c + 1])
        # two's-complement into int64 (Spark LongType)
        return h - (1 << 64) if h >= (1 << 63) else h

    def _real_pixels(b: bytes) -> list[float]:
        img = decode_image_gray(b)
        return [float(v) for v in _box_resize_gray(img, rows, cols).ravel()]

    pixels = _real_pixels if decode_stub == "real" else _fake_pixels

    def _hash_or_null(b: bytes):
        # quarantine: a payload the codec rejects yields a null phash
        # instead of failing the stage (r5 ADVICE); only possible on the
        # 'real' tier — the fake tier accepts any bytes
        try:
            return _dhash(pixels(b))
        except Exception:
            if decode_stub == "real":
                return None
            raise

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if decode_stub == "error":
                raise NotImplementedError(
                    "image codec not available in this runtime; "
                    "install PIL and replace the 'fake' pixel stub"
                )
            out = {"media_id": pdf["media_id"]}
            for c in extra_cols:
                out[c] = pdf[c].astype("int32")
            out["phash"] = (
                pdf[payload_col]
                .map(lambda b: _hash_or_null(bytes(b)))
                .astype("Int64")
            )
            yield pd.DataFrame(out)

    return df.select("media_id", *extra_cols, payload_col).mapInPandas(
        run, schema
    )


def _dhash_bands(hashes: DataFrame, keep: tuple[str, ...]) -> DataFrame:
    """``(*keep, band, key)``: each 64-bit ``phash`` of ``hashes`` cut
    into four 16-bit band keys. ``hashes`` is a CACHED fingerprint table
    (ids and longs, the payload never rides it): the decode and hash pass
    then runs once per query in every join regime, where an uncached one
    runs once per join side (operators/banding.py), and the band explode
    over the cached blocks is shift/mask expressions, cheap per side.
    (Caching the exploded band table pre-partitioned instead measured
    +0.15s warm at sf0.1 — 4x the cache bytes — and freezes AQE skew
    splitting.)"""
    return band_rows(
        hashes, keep, [f"shiftrightunsigned(phash, {16 * b}) & 65535" for b in range(4)]
    )


def phash_near_dup(
    df: DataFrame,
    max_hamming: int = 8,
    decode_stub: str = "fake",
) -> DataFrame:
    """(id_a, id_b, hamming): media pairs whose dHashes differ in at most
    ``max_hamming`` of 64 bits.

    Same banded shape as SimHash text dedup (operators/simhash.py): the
    64-bit hash splits into four 16-bit bands; any pair within Hamming
    distance 3 shares at least one exact band (pigeonhole), and the default
    radius 8 keeps the miss probability of band-blocking low while the
    verify step (codegen ``bit_count(xor)``) keeps output exact. The
    candidate join is a hash equi-join on (band, key) — ids and two longs
    move, never payloads.
    """
    h = cache_once(perceptual_hashes(df, decode_stub=decode_stub))
    bands = _dhash_bands(h, ("media_id", "phash"))
    return (
        band_pairs(bands, "media_id", ("band", "key"), carry=("phash",))
        .selectExpr("id_a", "id_b", "bit_count(phash_a ^ phash_b) AS hamming")
        .where(f"hamming <= {max_hamming}")
        .distinct()
    )


def video_near_dup(
    df: DataFrame,
    num_frames: int = 4,
    max_hamming: int = 8,
    min_matching_frames: int = 2,
    decode_stub: str = "fake",
) -> DataFrame:
    """(id_a, id_b, n_matching_frames): video near-duplicates by
    frame-fingerprint overlap — sample ``num_frames`` frames per video,
    dHash each frame, band-block the frame hashes, verify with
    bit_count(xor), and keep video pairs sharing at least
    ``min_matching_frames`` near-identical frames (the standard
    keyframe-fingerprint video dedup recipe, composed entirely from the
    frame sampler and the image pHash machinery above).

    Scale: frames expand rows x num_frames but payloads are dropped right
    after hashing — the frame-hash table is cached, so every frame is
    sampled and hashed once per query, and the candidate join moves
    (video_id, frame_idx, long) triples on 16-bit band keys; the final
    count is one keyed aggregation.
    """
    frames = sample_frames(df, num_frames=num_frames, decode_stub=decode_stub)
    fh = cache_once(
        perceptual_hashes(
            frames,
            decode_stub=decode_stub,
            payload_col="frame",
            extra_cols=("frame_idx",),
        )
    )
    bands = _dhash_bands(fh, ("media_id", "frame_idx", "phash"))
    matched = (
        band_pairs(bands, "media_id", ("band", "key"), carry=("frame_idx", "phash"))
        .where(f"bit_count(phash_a ^ phash_b) <= {max_hamming}")
        .select("id_a", "id_b", "frame_idx_a", "frame_idx_b")
        .distinct()
    )
    return (
        matched.groupBy("id_a", "id_b")
        .agg(F.count_distinct("frame_idx_a").alias("n_matching_frames"))
        .filter(F.col("n_matching_frames") >= min_matching_frames)
    )


AUDIO_CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("chunk_idx", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("is_silence", T.BooleanType()),
    ]
)


def audio_chunk_energy(
    df: DataFrame,
    chunk_samples: int = 8000,
    hop_samples: int | None = None,
    silence_rms: float = 1.0,
    decode_stub: str = "fake",
) -> DataFrame:
    """Audio chunking + RMS energy screen: 1 row in → chunks out, each
    with its root-mean-square level and a silence flag (the
    voice-activity pre-filter of audio training pipelines: drop silent
    chunks before the expensive ASR/embedding stage).

    ``decode_stub='real'`` decodes via the codec layer (soundfile, else
    stdlib ``wave`` PCM → mono float in [-1, 1]) — pick ``silence_rms``
    on that scale (e.g. 0.01). The 'fake' stub reads payload bytes as
    unsigned 8-bit samples. The chunk/hop/RMS math is identical in both
    tiers. Overlapping windows via ``hop_samples`` < chunk.

    Scale: the payload is dropped immediately after the energy reduction —
    only (id, idx, two scalars) leave the Python worker, so downstream
    filters/joins move no audio bytes.
    """
    if decode_stub not in _DECODE_TIERS:
        raise ValueError(f"decode_stub must be one of {_DECODE_TIERS}")
    hop = hop_samples or chunk_samples

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if decode_stub == "error":
                raise NotImplementedError(
                    "audio codec not available in this runtime; "
                    "install soundfile/ffmpeg and replace the 'fake' "
                    "PCM stub"
                )
            ids, idxs, ns, rmss, sil = [], [], [], [], []
            for mid, b in zip(pdf["media_id"], pdf["payload"]):
                if decode_stub == "real":
                    samples = decode_audio_samples(bytes(b))
                else:
                    samples = bytes(b)  # fake decode: u8 PCM
                pos = 0
                idx = 0
                while pos < len(samples) or idx == 0:
                    chunk = samples[pos : pos + chunk_samples]
                    if len(chunk) == 0 and idx > 0:
                        break
                    if len(chunk):
                        if isinstance(chunk, (bytes, bytearray)):
                            arr = np.frombuffer(
                                chunk, dtype=np.uint8
                            ).astype(np.float64)
                        else:
                            arr = np.asarray(chunk, dtype=np.float64)
                        rms = float(np.sqrt(((arr - arr.mean()) ** 2).mean()))
                    else:
                        rms = 0.0
                    ids.append(mid)
                    idxs.append(idx)
                    ns.append(len(chunk))
                    rmss.append(rms)
                    sil.append(rms < silence_rms)
                    idx += 1
                    pos += hop
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "chunk_idx": idxs,
                    "n_samples": ns,
                    "rms": rmss,
                    "is_silence": sil,
                }
            ).astype(
                {"chunk_idx": "int32", "n_samples": "int64"}
            )

    return df.select("media_id", "payload").mapInPandas(
        run, AUDIO_CHUNK_SCHEMA
    )
