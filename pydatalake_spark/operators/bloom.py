"""Bloom-filter membership screening (constant-size set digest).

The scale problem: `exact_ngram_decontamination` (queries/text.py) screens
eval documents against the train-side window-hash set with a distinct +
semi-join — correct, but the train hash set is data-sized, so every screen
of a new eval batch re-shuffles against it. The standard fix (used by the
GPT-3/PaLM decontamination tooling and most web-pipeline blocklists) is a
Bloom filter: fold the train set ONCE into a fixed-size bitmap
(``num_bits`` bits, here materialized as ``num_bits/32`` 32-bit words so
no engine hits BIGINT shift overflow), then test any stream against it
with a broadcast join — zero shuffles on the probe side, a bounded
false-positive rate (~(1-e^{-kn/m})^k), and NO false negatives, which is
the safe direction for decontamination (over-flagging, never missing).

Everything is deterministic md5 arithmetic, so a SQL oracle reproduces the
bitmap and the membership verdicts bit-for-bit: position j of key g is
``(h1 + j*h2) % num_bits`` with ``h1/h2 = conv(substr(md5(g), 1|9, 8),
16, 10)`` — Kirsch–Mitzenmacher double hashing, see ``_positions``.

Scale shape: auto-sized bitmaps (``bloom_num_bits``: 24 bits/key,
floored at 4096 bits) with an EXPLICIT three-tier dispatch
(``bloom_tier`` / ``membership_screen``):

- vector (≤ 2^27 bits ≈ 5.59M keys, and the bitmap's bytes within
  ``session.driver_bound``): build = per-partition dense numpy OR
  (``bloom_build_chunks``, merge shuffle = partitions × 256 KB chunks),
  probe = driver-collected array tested per Arrow batch
  (``bloom_contains_numpy``) — zero probe-side exchanges;
- join (≤ 2^31 bits ≈ 89.5M keys): expression build (groupBy bit_or
  over word indices, map-side partials), probe = explode(k) → word-table
  join (broadcast while the word rows fit ``session.driver_bound``) →
  one keyed re-aggregation;
- exact beyond: the bitmap would be data-sized — fall back to the
  distinct + left-semi-join screen (FP = 0).

The numpy tiers and the decontamination family's driver pass
(``queries/text.py:_decon_local``) share one Python form of the position
and bit math: ``bloom_set`` / ``bloom_test`` over ``_bit_positions``.

The reference engine has no probabilistic membership structure
(SURVEY.md §2 gap list) — beyond-reference capability for the 100 TB
pipeline.
"""

from __future__ import annotations

import logging
import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_log = logging.getLogger(__name__)

BLOOM_BITS = 4096
BLOOM_HASHES = 17
_WORD = 32  # bits per bitmap word; 1 << 31 still fits a BIGINT unsigned

# bits per inserted key for the auto-sized bitmap. 24 bits/key with the
# near-optimal k = round(24·ln2) = 17 puts the PER-PROBE FP rate at
# (1 - e^{-17/24})^17 ≈ 1e-5 — sized for the decontamination use, where
# a document is flagged if ANY of its W window hashes false-positives:
# doc-level FP ≈ W·p, so p must be ≪ 1/W (a 1%-per-probe filter
# over-flags ~25% of clean 30-window docs; measured exactly that before
# this sizing). Pure integer arithmetic (no float rounding) so a SQL
# oracle reproduces the size bit-for-bit.
BLOOM_BITS_PER_KEY = 24


def bloom_num_bits(
    n_keys: int,
    bits_per_key: int = BLOOM_BITS_PER_KEY,
    min_bits: int = BLOOM_BITS,
) -> int:
    """Word-aligned bitmap size for ``n_keys`` distinct keys at the
    ~1e-5-per-probe FP design point (``BLOOM_BITS_PER_KEY`` bits/key,
    k = ``BLOOM_HASHES``), floored at ``min_bits``.

    Integer-exact and monotone, so the same formula is stated inline in
    SQL oracles: ``greatest(32 * ((24 * greatest(n, 1) + 31) // 32),
    4096)``. The floor matters: Kirsch–Mitzenmacher probe positions
    (h1 + j·h2 mod m) collapse to a short cycle when gcd(h2, m) is
    large, and on TINY bitmaps that tail dominates — at m=448 (a
    20-token eval set) ~1% of probe keys degenerate to ≤2 distinct
    positions, lifting realized per-probe FP from 1e-5 to ~1e-2, which
    the ANY-window doc flag amplifies to ~25% clean-doc over-drop
    (measured). The tail shrinks as 1/m; the 4096-bit floor (1 KB of
    words) pushes it below 1e-6. A fixed-size bitmap in the OTHER
    direction SATURATES (FP → 1) once n >> m/k — auto-sizing is the
    right default whenever the key count is known at build time.
    """
    n = max(int(n_keys), 1)
    return max(_WORD * ((bits_per_key * n + _WORD - 1) // _WORD), int(min_bits))


def bloom_optimal_hashes(num_bits: int, n_keys: int) -> int:
    """Near-optimal probe count k = round((m/n)·ln2) for a FIXED bitmap
    size, clamped to [1, BLOOM_HASHES].

    The auto-sized path keeps k = BLOOM_HASHES because m tracks n at 24
    bits/key; a fixed-size caller (e.g. a plan-embedded literal bitmap
    capped at ``BLOOM_LITERAL_MAX_BITS``) must DERIVE k instead — k=17
    against a saturated small bitmap is the worst case (at m=4096,
    n=1000: fill 1-e^{-17n/m} ≈ 0.98, per-probe FP 0.98^17 ≈ 0.72,
    i.e. the filter passes almost nothing), while the derived k keeps
    the best FP the m/n ratio allows.
    """
    n = max(int(n_keys), 1)
    k = round(num_bits / n * math.log(2.0))
    return max(1, min(BLOOM_HASHES, int(k)))


def _positions(key: Column, num_bits: int, num_hashes: int) -> Column:
    """array<long> of ``num_hashes`` bit positions for ``key``.

    Kirsch–Mitzenmacher double hashing: pos_j = (h1 + j·h2) mod m with
    h1/h2 the first/second 32-bit windows of md5(key) — the standard
    construction (Kirsch & Mitzenmacher 2006) giving any number of
    probe positions from ONE hash evaluation with the asymptotically
    identical FP rate to k independent hashes. (Slicing md5 directly
    caps k at 4 eight-hex windows — too few: optimal k = (m/n)·ln2 is
    17 at 24 bits/key.) h1 + j·h2 < 2^32·(k+1) stays far inside BIGINT.
    """
    h = F.md5(key)
    h1 = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
    h2 = F.conv(F.substring(h, 9, 8), 16, 10).cast("long")
    return F.array(
        *[(h1 + F.lit(j) * h2) % num_bits for j in range(num_hashes)]
    )


def bloom_build(
    keys: DataFrame,
    key_col: str = "key",
    num_bits: int = BLOOM_BITS,
    num_hashes: int = BLOOM_HASHES,
) -> DataFrame:
    """(word_idx, word): the filter as ≤ num_bits/32 bitmap words.

    bit_or is idempotent, so duplicate keys need no pre-distinct — the
    map-side partial aggregate already collapses every task to at most
    num_bits/32 rows before the (tiny) exchange. Null keys are skipped
    (a null is not a member), matching ``bloom_build_chunks``.
    """
    pos = (
        keys.where(F.col(key_col).isNotNull())
        .select(
            F.explode(
                _positions(F.col(key_col), num_bits, num_hashes)
            ).alias("pos")
        )
    )
    return (
        pos.select(
            (F.col("pos") / _WORD).cast("long").alias("word_idx"),
            # F.shiftleft takes a literal shift; the per-row shift needs
            # the SQL form
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {_WORD} AS INT))"
            ).alias("mask"),
        )
        .groupBy("word_idx")
        .agg(F.expr("bit_or(mask)").alias("word"))
    )


# 32-bit words per packed binary chunk in the chunked bitmap layout:
# 65536 words = 256 KB per chunk binary. A 2^27-bit bitmap (the vector-tier
# ceiling) is 64 chunks.
BLOOM_CHUNK_WORDS = 1 << 16


def _is_chunked(bitmap: DataFrame) -> bool:
    return set(bitmap.columns) == {"chunk_idx", "chunk"}


# keys hashed per numpy block by ``bloom_set`` / ``bloom_test``: bounds
# each of their (keys × num_hashes) int64 position temporaries at
# 557 KB at k = 17, whatever the number of keys
_BLOCK_KEYS = 1 << 12


def _bit_positions(keys: list, num_bits: int, num_hashes: int):
    """(len(keys), num_hashes) int64 bit positions of non-null ``keys``:
    the Python form of ``_positions``. h1/h2 are the first and second
    big-endian 32-bit words of md5(str(key)) — the 8-hex-digit windows
    ``_positions`` reads — so the numpy tiers and the driver pass are
    bit-identical to the expression tiers."""
    import hashlib

    import numpy as np

    md5 = hashlib.md5
    words = np.frombuffer(
        b"".join(md5(str(k).encode("utf-8")).digest() for k in keys),
        dtype=">u4",
    ).reshape(-1, 4)
    h1 = words[:, 0].astype(np.int64)
    h2 = words[:, 1].astype(np.int64)
    js = np.arange(num_hashes, dtype=np.int64)
    return (h1[:, None] + js[None, :] * h2[:, None]) % num_bits


def bloom_set(words, keys: list, num_bits: int, num_hashes: int) -> None:
    """OR the ``num_hashes`` bits of every non-null key of ``keys`` into
    the numpy word array ``words`` (``num_bits/32`` words of any integer
    dtype), in place."""
    import numpy as np

    for i in range(0, len(keys), _BLOCK_KEYS):
        pos = _bit_positions(keys[i : i + _BLOCK_KEYS], num_bits, num_hashes)
        pos = pos.ravel()
        np.bitwise_or.at(
            words, pos // _WORD, (np.int64(1) << (pos % _WORD)).astype(words.dtype)
        )


def bloom_test(words, keys: list, num_bits: int, num_hashes: int):
    """Bool array: for each non-null key of ``keys``, whether all its
    ``num_hashes`` bits are set in ``words``."""
    import numpy as np

    hit = np.zeros(len(keys), dtype=bool)
    for i in range(0, len(keys), _BLOCK_KEYS):
        pos = _bit_positions(keys[i : i + _BLOCK_KEYS], num_bits, num_hashes)
        bits = (words[pos // _WORD] >> (pos % _WORD)) & 1
        hit[i : i + len(pos)] = bits.all(axis=1)
    return hit


def bloom_build_chunks(
    keys: DataFrame,
    key_col: str = "key",
    num_bits: int = BLOOM_BITS,
    num_hashes: int = BLOOM_HASHES,
) -> DataFrame:
    """(chunk_idx, chunk): the filter as packed little-endian uint32 words,
    ``BLOOM_CHUNK_WORDS`` words per binary chunk — the SAME bitmap as
    ``bloom_build`` (same ``_positions`` double-hash family; pytest-pinned
    word-identical) built with NO row explosion: each input partition ORs
    the k positions of all its keys into a LOCAL dense numpy bitmap
    (``num_bits/8`` bytes) inside one ``mapInPandas`` pass and emits its
    nonzero chunks; a tiny groupBy(chunk_idx) OR-merge follows. Rows
    through the merge shuffle = partitions × chunks (hundreds), vs the
    k·n_keys explode → num_bits/32-group hash aggregate of the expression
    build, which made the explode the cost of the decontamination screen
    (8.4 s of ``decontamination_audit`` once, measured).

    Pair with ``bloom_contains_numpy``, which collects these chunks
    directly. Memory: one num_bits/8-byte array per task — 16 MB at the
    vector-tier ceiling (``BLOOM_VECTOR_MAX_BITS``); for larger bitmaps
    use ``bloom_build``, whose partial state is the agg hash map, not the
    dense bitmap. Null keys are skipped (a null is not a member).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    if num_bits > BLOOM_VECTOR_MAX_BITS:
        raise ValueError(
            f"bitmap of {num_bits} bits exceeds BLOOM_VECTOR_MAX_BITS; "
            "use bloom_build (expression tier) for cluster-sized bitmaps"
        )
    n_words = num_bits // _WORD
    chunk_words = min(n_words, BLOOM_CHUNK_WORDS)
    n_chunks = (n_words + chunk_words - 1) // chunk_words
    schema = T.StructType(
        [
            T.StructField("chunk_idx", T.IntegerType()),
            T.StructField("chunk", T.BinaryType()),
        ]
    )
    k = num_hashes

    def partials(batches):
        arr = np.zeros(n_words, dtype=np.uint32)
        touched = False
        for pdf in batches:
            ks = pdf[key_col].dropna().tolist()
            if not ks:
                continue
            bloom_set(arr, ks, num_bits, k)
            touched = True
        if touched:
            for ci in range(n_chunks):
                seg = arr[ci * chunk_words : (ci + 1) * chunk_words]
                if seg.any():
                    yield pd.DataFrame(
                        {"chunk_idx": [ci], "chunk": [seg.tobytes()]}
                    )

    partial = keys.select(key_col).mapInPandas(partials, schema)

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        acc = None
        for buf in pdf["chunk"]:
            seg = np.frombuffer(bytes(buf), dtype="<u4")
            acc = seg.copy() if acc is None else np.bitwise_or(acc, seg)
        return pd.DataFrame(
            {
                "chunk_idx": [int(pdf["chunk_idx"].iloc[0])],
                "chunk": [acc.tobytes()],
            }
        )

    return partial.groupBy("chunk_idx").applyInPandas(merge, schema)


def bloom_chunks_to_words(bitmap: DataFrame) -> DataFrame:
    """Chunked bitmap → the (word_idx, word) row layout ``bloom_contains``
    broadcasts. Nonzero words only; stays distributed."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("word_idx", T.LongType()),
            T.StructField("word", T.LongType()),
        ]
    )

    def expand(batches):
        for pdf in batches:
            for ci, buf in zip(pdf["chunk_idx"], pdf["chunk"]):
                seg = np.frombuffer(bytes(buf), dtype="<u4").astype(np.int64)
                nz = np.flatnonzero(seg)
                if len(nz):
                    yield pd.DataFrame(
                        {
                            "word_idx": (
                                int(ci) * BLOOM_CHUNK_WORDS + nz
                            ).astype("int64"),
                            "word": seg[nz],
                        }
                    )

    return bitmap.mapInPandas(expand, out_schema)


def _bitmap_array(bitmap: DataFrame, num_bits: int):
    """Driver-side int64 word array from either bitmap layout (chunked
    binary or (word_idx, word) rows). Bounded by BLOOM_VECTOR_MAX_BITS
    at every call site."""
    import numpy as np

    arr = np.zeros(num_bits // _WORD, dtype=np.int64)
    if _is_chunked(bitmap):
        for r in bitmap.collect():
            seg = np.frombuffer(bytes(r["chunk"]), dtype="<u4").astype(
                np.int64
            )
            start = int(r["chunk_idx"]) * BLOOM_CHUNK_WORDS
            arr[start : start + len(seg)] |= seg
    else:
        for r in bitmap.collect():
            if r["word_idx"] is not None:
                arr[int(r["word_idx"])] = int(r["word"])
    return arr


def bloom_contains(
    df: DataFrame,
    bitmap: DataFrame,
    key_col: str = "key",
    num_bits: int = BLOOM_BITS,
    num_hashes: int = BLOOM_HASHES,
) -> DataFrame:
    """Input rows + ``bf_hit``: true iff ALL ``num_hashes`` bits of
    ``key_col`` are set in ``bitmap`` (possible member; false = definitely
    absent — null keys read false). The bitmap side (either layout:
    (word_idx, word) rows or chunked binary) broadcasts when its word
    rows fit the driver (``_fits_driver``), so no shuffle ever touches
    eval/train data together and the probe side pays exactly ONE
    exchange — the re-aggregation of the k-way explode, keyed by a
    per-row id so duplicate input rows are preserved one-for-one
    (interchangeable with ``bloom_contains_numpy`` on ANY input). A
    word table past that bound is sort-merge joined instead: a broadcast
    would collect it past ``spark.driver.maxResultSize``. This is the
    tier for bitmaps past driver memory; below that the numpy tier is
    strictly better (zero probe-side exchanges).
    """
    if _is_chunked(bitmap):
        bitmap = bloom_chunks_to_words(bitmap)
    cols = df.columns
    tagged = df.withColumn("_rid", F.monotonically_increasing_id())
    probes = tagged.withColumn(
        "_pos",
        F.explode(_positions(F.col(key_col), num_bits, num_hashes)),
    ).select(
        "_rid",
        *cols,
        (F.col("_pos") / _WORD).cast("long").alias("word_idx"),
        F.expr(
            f"shiftleft(CAST(1 AS BIGINT), CAST(_pos % {_WORD} AS INT))"
        ).alias("mask"),
    )
    # (word_idx, word): two longs per word row
    if _fits_driver(df.sparkSession, num_bits // _WORD * 16):
        bitmap = F.broadcast(bitmap)
    else:
        bitmap = bitmap.hint("merge")
    tested = probes.join(bitmap, "word_idx", "left").withColumn(
        "_bit_set",
        F.coalesce(
            (F.col("word").bitwiseAND(F.col("mask")) != 0), F.lit(False)
        ),
    )
    return (
        tested.groupBy("_rid", *cols)
        .agg(
            F.min(F.col("_bit_set").cast("int"))
            .cast("boolean")
            .alias("bf_hit")
        )
        .drop("_rid")
    )


# largest bitmap the vectorized probe tier will collect to the driver:
# 2^27 bits = 16 MB of words — instant to collect/broadcast. Beyond that
# (≈ 5.6M keys at 24 bits/key) the probe should stay on the
# broadcast-join tier, whose bitmap never leaves the cluster.
BLOOM_VECTOR_MAX_BITS = 1 << 27


def bloom_contains_numpy(
    df: DataFrame,
    bitmap: DataFrame,
    key_col: str = "key",
    num_bits: int = BLOOM_BITS,
    num_hashes: int = BLOOM_HASHES,
) -> DataFrame:
    """Input rows + ``bf_hit`` — vectorized Arrow tier, bit-identical to
    ``bloom_contains`` (same ``_positions`` double-hash family; pytest-
    pinned equal on duplicate-row and null-key inputs too: duplicates are
    preserved one-for-one, null keys read false).

    The bitmap (either layout: chunked binary or (word_idx, word) rows)
    is collected ONCE into a numpy word array (bounded by
    ``BLOOM_VECTOR_MAX_BITS``: ≤16 MB) and closure-broadcast; each Arrow
    batch then tests all ``num_hashes`` positions of every key as one
    |batch| × k gather — NO k-fold row explode, NO join, NO keyed
    re-aggregation, and the probe side keeps its partitioning. This is
    the fast tier whenever the filter fits driver memory; at
    billions-of-keys scale use ``bloom_contains`` (broadcast-join tier),
    whose bitmap never materializes on the driver.
    """
    if num_bits > BLOOM_VECTOR_MAX_BITS:
        raise ValueError(
            f"bitmap of {num_bits} bits exceeds BLOOM_VECTOR_MAX_BITS; "
            "use bloom_contains (broadcast-join tier)"
        )
    return bloom_contains_array(
        df, _bitmap_array(bitmap, num_bits), key_col, num_bits, num_hashes
    )


def bloom_contains_array(
    df: DataFrame,
    arr,
    key_col: str = "key",
    num_bits: int = BLOOM_BITS,
    num_hashes: int = BLOOM_HASHES,
) -> DataFrame:
    """The vector probe against an ALREADY-MATERIALIZED numpy word array —
    the core ``bloom_contains_numpy`` wraps. Use directly when one frozen
    filter screens many DataFrames (e.g. every micro-batch of a stream):
    the array is decoded once by the caller instead of re-collected per
    probe."""
    import numpy as np
    from pyspark.sql import types as T

    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField("bf_hit", T.BooleanType())]
    )
    cols = df.columns
    k = num_hashes

    def probe(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            hit = np.zeros(len(pdf), dtype=bool)
            valid = pdf[key_col].notna().to_numpy()
            hit[valid] = bloom_test(
                arr, pdf[key_col][valid].tolist(), num_bits, k
            )
            out = pdf[cols].copy()
            out["bf_hit"] = hit
            yield out

    return df.mapInPandas(probe, out_schema)


def bloom_words_literal(bitmap: DataFrame) -> dict[int, int]:
    """Collect a built filter (either layout) into {word_idx: word} for
    literal embedding — caller contract keeps this small (a plan literal;
    ``BLOOM_LITERAL_MAX_BITS`` via ``build_literal_bloom``)."""
    import numpy as np

    if _is_chunked(bitmap):
        out: dict[int, int] = {}
        for r in bitmap.collect():
            seg = np.frombuffer(bytes(r["chunk"]), dtype="<u4").astype(
                np.int64
            )
            base = int(r["chunk_idx"]) * BLOOM_CHUNK_WORDS
            for i in np.flatnonzero(seg):
                out[base + int(i)] = int(seg[i])
        return out
    return {
        int(r["word_idx"]): int(r["word"])
        for r in bitmap.collect()
        if r["word_idx"] is not None
    }


# largest bitmap to embed as a plan LITERAL (array of num_bits/32 long
# literals inside the expression tree): 2^18 bits = 8192 longs — safely
# inside codegen limits. Past this, k degrades via bloom_optimal_hashes;
# a stream needing a bigger filter should screen in foreachBatch with
# bloom_contains_numpy instead of a literal expression.
BLOOM_LITERAL_MAX_BITS = 1 << 18


def build_literal_bloom(
    keys: DataFrame,
    key_col: str = "key",
    max_bits: int = BLOOM_LITERAL_MAX_BITS,
    min_bits: int = BLOOM_BITS,
) -> tuple[dict[int, int], int, int]:
    """(words, num_bits, num_hashes) for ``bloom_hit_expr`` — AUTO-SIZED
    from the batch-side key count, the safe way to build the streaming
    gate's literal filter.

    m = min(bloom_num_bits(n), max_bits) and k derived from the realized
    m/n ratio (``bloom_optimal_hashes``), so a key set too big for the
    literal cap degrades its FP rate gracefully instead of saturating:
    the old fixed default (BLOOM_BITS=4096, k=17) at n=1000 keys sat at
    per-probe FP ≈ 0.72, over-dropping nearly every clean doc through
    the ANY-window flag. Callers pass all three values to
    ``bloom_hit_expr``.

    ``min_bits`` floors m: Kirsch–Mitzenmacher double hashing degrades
    on TINY bitmaps — when gcd(h2, m) is large the k probe positions
    collapse to a short cycle (at m=192, ~1% of probe keys degenerate to
    ≤2 distinct positions, lifting the realized per-probe FP from the
    ~1e-5 design point to ~1e-2 — measured, and fatal through the
    ANY-window flag). The tail shrinks as 1/m, so the BLOOM_BITS floor
    (4096, ~1 KB of words) pushes it below 1e-5 for any key count the
    literal tier accepts; the cluster-scale builds auto-size to
    megabit+ bitmaps where the tail is ~1e-8 and need no floor.
    """
    n = keys.select(key_col).distinct().count()
    m = min(max(bloom_num_bits(n), int(min_bits)), int(max_bits))
    k = bloom_optimal_hashes(m, n)
    bitmap = bloom_build(keys, key_col=key_col, num_bits=m, num_hashes=k)
    return bloom_words_literal(bitmap), m, k


# broadcast ceiling for the join tier's (word_idx, word) table: 2^31 bits
# → num_bits/32 rows ≈ 67M rows ≈ 1 GiB broadcast. Past it the "bitmap"
# is itself data-sized and the bloom advantage is gone.
BLOOM_JOIN_MAX_BITS = 1 << 31


def bloom_tier(n_keys: int) -> str:
    """'vector' | 'join' | 'exact' — the explicit scale dispatch for
    membership screens: the crossover policy, stated. The ceilings are
    the module constants, read at call time.

    At ``BLOOM_BITS_PER_KEY`` = 24 bits/key the boundaries are:

    - **vector** (``bloom_build_chunks`` + ``bloom_contains_numpy``;
      bitmap collected once to the driver): m ≤ 2^27 bits = 16 MB ⇒
      n ≤ ~5.59M distinct keys.
    - **join** (``bloom_build`` + ``bloom_contains``; bitmap joined
      as a word table, never driver-materialized): m ≤ 2^31 bits ⇒
      ~1 GiB of word rows ⇒ n ≤ ~89.5M distinct keys.
    - **exact** beyond: a 24-bits/key bitmap for n ≥ 10^8..10^12 keys is
      data-sized — the filter no longer buys anything over the exact
      distinct + semi-join screen (`exact_ngram_decontamination`'s
      shape), which shuffles once on the key and has FP = 0. A 100 TB
      corpus (~10^11 distinct 13-gram windows → 300 GB bitmap) lands
      here; see SCALE.md §bloom-crossover.
    """
    m = bloom_num_bits(n_keys)
    if m <= BLOOM_VECTOR_MAX_BITS:
        return "vector"
    if m <= BLOOM_JOIN_MAX_BITS:
        return "join"
    return "exact"


def _fits_driver(spark, nbytes: int) -> bool:
    """Whether a bloom tier may pass ``nbytes`` of bitmap through the
    driver in one action: the vector tier's collect or the join tier's
    broadcast. They must fit ``session.driver_bound``. A ``-1``
    threshold leaves only ``spark.driver.maxResultSize`` (0 =
    unlimited): that threshold keeps Spark from choosing a broadcast,
    but a bitmap goes through the driver on both bloom tiers, and
    ``BLOOM_JOIN_MAX_BITS`` already caps it."""
    from pydatalake_spark.session import driver_bound, result_cap

    bound = driver_bound(spark)
    if bound < 0:
        bound = result_cap(spark)
        return bound == 0 or nbytes <= bound
    return nbytes <= bound


def membership_screen(
    probe: DataFrame,
    train_keys: DataFrame,
    key_col: str = "key",
    n_train_keys: int | None = None,
) -> DataFrame:
    """Probe rows + ``bf_hit`` ("possible member of train_keys"), through
    the explicit three-tier ``bloom_tier`` dispatch; a vector-tier
    bitmap whose bytes do not fit ``session.driver_bound`` takes the
    join tier instead (``_fits_driver``). No false negatives
    on any tier; FP ≈ 1e-5/probe on the bloom tiers and exactly 0 on the
    exact tier. Pass ``n_train_keys`` when the caller already counted
    (saves the sizing job); duplicates/nulls in ``probe`` are preserved /
    read false on every tier.
    """
    if n_train_keys is None:
        n_train_keys = (
            train_keys.select(key_col).where(F.col(key_col).isNotNull())
            .distinct()
            .count()
        )
    tier = bloom_tier(n_train_keys)
    if tier == "vector" and not _fits_driver(
        probe.sparkSession, bloom_num_bits(n_train_keys) // 8
    ):
        tier = "join"
    _log.info(
        "membership_screen tier=%s n_train_keys=%d num_bits=%d",
        tier, n_train_keys, bloom_num_bits(n_train_keys),
    )
    if tier == "exact":
        # internal marker name must not collide with probe columns — the
        # decontamination audit passes a probe that already carries `_hit`
        # (a collision raises AMBIGUOUS_REFERENCE past the join ceiling,
        # the exact scale this tier exists for)
        mark = "__ms_hit"
        while mark in probe.columns:
            mark += "_"
        t = (
            train_keys.select(key_col)
            .where(F.col(key_col).isNotNull())
            .distinct()
            .withColumn(mark, F.lit(True))
        )
        return probe.join(t, key_col, "left").select(
            *probe.columns,
            F.coalesce(F.col(mark), F.lit(False)).alias("bf_hit"),
        )
    m = bloom_num_bits(n_train_keys)
    if tier == "vector":
        bitmap = bloom_build_chunks(train_keys, key_col=key_col, num_bits=m)
        return bloom_contains_numpy(probe, bitmap, key_col=key_col, num_bits=m)
    bitmap = bloom_build(train_keys, key_col=key_col, num_bits=m)
    return bloom_contains(probe, bitmap, key_col=key_col, num_bits=m)


def bloom_hit_expr(
    key: Column,
    words: dict[int, int],
    num_bits: int = BLOOM_BITS,
    num_hashes: int = BLOOM_HASHES,
) -> Column:
    """Scalar ``possible-member`` test against a LITERAL bitmap — no join,
    no shuffle, no aggregation, so it composes into streaming append-mode
    plans and higher-order lambdas (``F.exists`` over a window-hash
    array). The bitmap is a constant-folded literal array; each of the
    ``num_hashes`` probes is one md5-window modulo + bit test, all
    whole-stage codegen.

    Semantics match ``bloom_contains`` bit-for-bit (same ``_positions``
    family): no false negatives; FP rate (1-e^{-kn/m})^k.
    """
    arr = F.array(
        *[
            F.lit(int(words.get(i, 0))).cast("long")
            for i in range(num_bits // _WORD)
        ]
    )
    h = F.md5(key)
    h1 = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
    h2 = F.conv(F.substring(h, 9, 8), 16, 10).cast("long")
    conds = []
    for j in range(num_hashes):
        pos = (h1 + F.lit(j) * h2) % num_bits
        word = F.element_at(arr, (pos / _WORD).cast("int") + 1)
        # SQL shiftleft accepts a column shift (the PySpark wrapper is
        # literal-only), exactly matching bloom_build's mask construction
        mask = F.call_function(
            "shiftleft", F.lit(1).cast("long"), (pos % _WORD).cast("int")
        )
        conds.append(word.bitwiseAND(mask) != 0)
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out
