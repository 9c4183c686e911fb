"""MinHash + LSH near-duplicate detection (beyond-reference north-star op).

Classic shingle → minhash → band → bucket-join pipeline (Broder 1997;
Leskovec/Rajaraman/Ullman ch.3). Steps 1–2 run as one Arrow pass per
batch (``minhash_signatures``); banding and the bucket join are Catalyst
expressions:

1. token k-gram shingles per document;
2. ``num_hashes`` MinHash values — the hash family is
   ``h_j(s) = substr(md5(s), 3j+1, 8)``: 8-hex-char (32-bit) windows of a
   SINGLE md5 per shingle, with the **lexicographic minimum** as the
   signature component. One md5 call per shingle instead of one per
   (shingle × hash) — measured 8× cheaper at sf0.1 — while md5's avalanche
   keeps the windows effectively independent; lexicographic-min over fixed-
   width hex equals numeric min over the 32-bit values, and the whole
   pipeline stays string-typed and portable to any SQL oracle;
3. signatures grouped into ``num_bands`` bands, each band hashed to one
   bucket key;
4. candidate pairs = documents sharing any band bucket — the
   `operators/banding.py` self-equi-join on (band, key), i.e. ONE
   shuffle keyed by bucket; Jaccard-similar docs collide with probability
   ``1 - (1 - j^r)^b``;
5. optional exact n-gram Jaccard verification of the candidates.

Scale: the band self-join is the standard LSH trick precisely because it
avoids the O(n²) all-pairs compare — only same-bucket docs meet. Hot
buckets (boilerplate docs) are the skew hazard; AQE skew handling splits
them, and `jaccard_threshold` verification keeps output honest. At 100 TB,
shingle arrays should not be carried through the join — only doc ids +
buckets move (payload re-joined afterwards), which is how this is written.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pydatalake_spark.functions.text import distinct_shingles
from pydatalake_spark.operators.banding import band_pairs, band_rows, cap_bucket_size
from pydatalake_spark.operators.scaling import fan_out
from pydatalake_spark.session import cache_once


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    shingle_size: int = 3,
) -> DataFrame:
    """(id, shingles, mh_0..mh_{n-1}) as ONE Arrow `mapInPandas` pass.

    Shingling (``distinct_shingles``) + hashlib.md5 + window-min run per
    batch in the Python worker, not as a Catalyst chain of higher-order
    functions (`transform(md5)` + one `array_min(transform(substring))`
    per hash): Spark interprets those PER ARRAY ELEMENT with no
    whole-stage codegen, and the Arrow pass measured 1.2× faster at
    sf0.1 and 2.6× at the 10× replica dir (the HOF chain scales WORSE
    than the boundary cost). Values are bit-identical to the expression
    form (pinned by
    tests/test_operators.py::test_minhash_signatures_arrow_matches_expr).
    Only (id, text) crosses the boundary; the iterator form amortizes
    setup per task."""
    df = fan_out(df)
    id_type = dict(df.dtypes)[id_col]
    schema = (
        f"{id_col} {id_type}, shingles array<string>, "
        + ", ".join(f"mh_{j} string" for j in range(num_hashes))
    )

    def run(batches):
        import hashlib

        import pandas as pd

        md5 = hashlib.md5
        for pdf in batches:
            out_sh: list = []
            out_mh: list = [[] for _ in range(num_hashes)]
            for text in pdf[text_col]:
                sh = distinct_shingles(text, shingle_size)
                out_sh.append(sh)
                if text is None:
                    # the [null] shingle hashes to a null mh_j
                    for j in range(num_hashes):
                        out_mh[j].append(None)
                    continue
                hx = [md5(s.encode("utf-8")).hexdigest() for s in sh]
                for j in range(num_hashes):
                    o = 3 * j
                    out_mh[j].append(min(h[o : o + 8] for h in hx))
            data = {id_col: pdf[id_col], "shingles": out_sh}
            for j in range(num_hashes):
                data[f"mh_{j}"] = out_mh[j]
            yield pd.DataFrame(data)

    return df.select(id_col, text_col).mapInPandas(run, schema)


def _cached_band_table(
    sig: DataFrame, id_col: str, num_hashes: int, num_bands: int
) -> DataFrame:
    """The ``(id, band, key)`` LSH index, cached: band ``b``'s key is the
    md5 of its ``num_hashes // num_bands`` signature components. All
    minhash-family operators build this table with the identical plan, so
    `cache_once` resolves them to ONE cache entry per corpus, and both
    self-join sides read its blocks in every join regime
    (`operators/banding.py`).

    Deliberately NOT cached pre-partitioned on the join key: that shape
    makes the shuffle-regime self-join exchange-free, but AQE cannot
    skew-split a cached scan, and hot LSH buckets are this operator's
    documented skew hazard; at bench SF it also stored the exploded table
    32-way-partitioned for no broadcast-regime gain (the simhash/phash
    A/B measured +0.13s warm)."""
    r = num_hashes // num_bands
    keys = [
        "md5(concat(" + ", ".join(f"mh_{b * r + i}" for i in range(r)) + "))"
        for b in range(num_bands)
    ]
    return cache_once(band_rows(sig, (id_col,), keys))


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    num_bands: int = 2,
    shingle_size: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) sharing ≥1 band bucket.

    ``max_bucket_size`` optionally drops hot buckets (see
    `cap_bucket_size`) — recall-bounded but explosion-proof.

    The signature AND band tables are cached — the signature table
    is shared with `near_dup_pairs`/`minhash_jaccard_estimate` (same
    plan → same cache entry via `cache_once`), and the cached band
    table runs the signature pass ONCE in every join regime.
    """
    sig = cache_once(
        minhash_signatures(df, id_col, text_col, num_hashes, shingle_size)
    )
    bb = _cached_band_table(sig, id_col, num_hashes, num_bands)
    if max_bucket_size is not None:
        bb = cap_bucket_size(bb, max_bucket_size)
    return band_pairs(bb, id_col, ("band", "key")).select("id_a", "id_b").distinct()


def near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    num_bands: int = 2,
    shingle_size: int = 3,
    jaccard_threshold: float = 0.5,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """LSH candidates verified with exact shingle-set Jaccard ≥ threshold.

    Only candidate pairs (already pruned by LSH) pay the set-compare cost;
    shingle arrays are joined back by id so the band join stayed narrow.
    The signature table is computed ONCE and shared (cached) between the
    band join and the verification join. Cache lifetime: the session
    store's materialization rule (``session.py``).

    ``signatures`` optionally injects a precomputed
    ``minhash_signatures``-shaped table (id, shingles, mh_*) already
    RESTRICTED to ``df``'s ids. Signatures are per-doc and filter-stable
    — restricting rows before or after signing yields identical values —
    so a pipeline that already holds the corpus-level cached signature
    table can semi-join it down to its survivor set instead of
    re-shingling the survivors from text.
    """
    if signatures is not None:
        sig = signatures
    else:
        sig = cache_once(
            minhash_signatures(df, id_col, text_col, num_hashes, shingle_size)
        )
    sets = sig.select(F.col(id_col), F.col("shingles").alias("sset"))
    bb = _cached_band_table(sig, id_col, num_hashes, num_bands)
    cand = band_pairs(bb, id_col, ("band", "key")).select("id_a", "id_b").distinct()
    # the sets side is CORPUS-SIZED (every doc's shingle array): hint it
    # to a sort-merge join so Catalyst can never choose to broadcast it.
    # Static size estimates for aggregated array columns undershoot badly
    # (the 30x low-memory probe caught the planner broadcasting the whole
    # set table — "Not enough memory to build and broadcast"), and AQE
    # cannot demote a planning-time broadcast. A corpus-sized join side
    # must be shuffle-joined at any estimate; tools/probe_lowmem.py
    # re-verifies this under a 4g heap.
    j = (
        cand.join(
            sets.select(
                F.col(id_col).alias("id_a"), F.col("sset").alias("set_a")
            ).hint("merge"),
            "id_a",
        )
        .join(
            sets.select(
                F.col(id_col).alias("id_b"), F.col("sset").alias("set_b")
            ).hint("merge"),
            "id_b",
        )
    )
    inter = F.size(F.array_intersect("set_a", "set_b"))
    union = F.size("set_a") + F.size("set_b") - inter
    return (
        j.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def choose_lsh_params(
    threshold: float,
    num_hashes: int = 128,
    min_recall: float = 0.9,
) -> tuple[int, int]:
    """(num_bands, rows_per_band) for a target Jaccard ``threshold``:
    the smallest band count (cheapest candidate join) whose S-curve
    ``1 - (1 - t^r)^b`` still catches a true pair at the threshold with
    probability ≥ ``min_recall``. More bands → more candidate pairs →
    more verification work, so minimizing bands IS the scale choice;
    raise ``num_hashes`` if no divisor configuration reaches the recall.
    """
    if not 0 < threshold < 1:
        raise ValueError(f"threshold {threshold} not in (0, 1)")
    best = None
    for b in range(1, num_hashes + 1):
        if num_hashes % b:
            continue
        r = num_hashes // b
        recall = 1.0 - (1.0 - threshold**r) ** b
        if recall >= min_recall:
            best = (b, r)
            break  # bands ascend → first hit is the minimum
    if best is None:
        raise ValueError(
            f"no (bands, rows) split of {num_hashes} hashes reaches "
            f"recall {min_recall} at threshold {threshold}; increase num_hashes"
        )
    return best


def minhash_jaccard_estimate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    num_bands: int = 2,
    shingle_size: int = 3,
) -> DataFrame:
    """Estimator calibration for the MinHash sketch: per LSH-candidate
    pair, the signature-agreement Jaccard ESTIMATE (fraction of equal
    minhash components — unbiased, E[est] = J, Broder 1997) next to the
    exact shingle-set Jaccard and the absolute error. This is the
    readout that justifies (or vetoes) skipping exact verification at a
    given ``num_hashes``: mean |err| ~ 1/sqrt(num_hashes).

    Scale: the pair set is LSH-bounded (never all-pairs); both the
    signature arrays and the shingle sets are re-joined BY ID after the
    candidate join, so the band exchange stays (id, band, key)-narrow.
    Cache lifetime: LRU-evictable (see near_dup_pairs note).
    """
    sig = cache_once(
        minhash_signatures(df, id_col, text_col, num_hashes, shingle_size)
    )
    bb = _cached_band_table(sig, id_col, num_hashes, num_bands)
    cand = band_pairs(bb, id_col, ("band", "key")).select("id_a", "id_b").distinct()
    mharr = F.array(*[F.col(f"mh_{j}") for j in range(num_hashes)])
    side = sig.select(
        F.col(id_col), mharr.alias("mhs"), F.col("shingles").alias("sset")
    )
    j = cand.join(
        side.select(
            F.col(id_col).alias("id_a"),
            F.col("mhs").alias("mh_a"),
            F.col("sset").alias("set_a"),
        ),
        "id_a",
    ).join(
        side.select(
            F.col(id_col).alias("id_b"),
            F.col("mhs").alias("mh_b"),
            F.col("sset").alias("set_b"),
        ),
        "id_b",
    )
    est = F.size(
        F.filter(
            F.zip_with("mh_a", "mh_b", lambda x, y: x == y), lambda v: v
        )
    ) / F.lit(float(num_hashes))
    inter = F.size(F.array_intersect("set_a", "set_b"))
    exact = inter / (F.size("set_a") + F.size("set_b") - inter)
    return j.select(
        "id_a",
        "id_b",
        est.alias("jaccard_est"),
        exact.alias("jaccard_exact"),
        F.abs(est - exact).alias("abs_err"),
    )
