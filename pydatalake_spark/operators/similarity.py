"""Embedding similarity search (beyond-reference north-star op).

Two tiers, per SURVEY §7.1.8 / the north-star brief:

- **Brute-force cosine top-k** (`cosine_topk`): the exactness baseline.
  Query set broadcast against the corpus; cosine via
  ``zip_with``/``aggregate`` (codegen'd, no Python); per-query top-k via a
  rank window partitioned by query id. Cost O(|Q|·|C|) — fine when |Q| is
  small or as the verify step after pruning.

- **Hyperplane LSH buckets** (`hyperplane_buckets`,
  `lsh_bucket_candidates`): the scale path. Sign of the projection onto
  ``num_planes`` fixed pseudo-random hyperplanes (components ±1 derived
  deterministically from md5, so any SQL oracle reproduces them) gives a
  bucket key; cosine-similar vectors land in the same bucket with
  probability ``1 - angle/π`` per bit. Candidate generation is then a
  bucket equi-join (one shuffle) instead of all-pairs.

- **IVF** (`train_ivf_centroids`, `ivf_topk`): the quantizer-based ANN
  shape. A k-means coarse quantizer trained on a bounded sample; the
  search assigns, masks to each query's ``nprobe`` nearest cells and
  scores in one numpy pass per Arrow batch, then prunes to a local top-k
  before the rank window.

At 100 TB: the corpus side never broadcasts, never collects; only the
query set (or the bucket index) moves. Bucket skew → AQE; recall ↑ via
`lsh_multiprobe_candidates` (Hamming-1 probes, one-sided constant
fan-out).

Each operator has one implementation. The IVF search and the triplet
miner are Arrow passes; the column-expression forms the tests compare
them against live in the test modules (tests/test_operators.py,
tests/test_semdedup.py).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pydatalake_spark.functions.vector import cosine, dot, l2_norm, to_double_array
from pydatalake_spark.operators.banding import band_pairs, cap_bucket_size
from pydatalake_spark.operators.scaling import fan_out


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine for each query vector. Returns
    (q_id, c_id, sim) with rank ≤ k, self-matches excluded."""
    # norms bind to columns per side BEFORE the pair join: recomputing a
    # norm inside the pair expression would pay it |Q| times per corpus row
    # (the projection boundary keeps CollapseProject from inlining it)
    q = queries.select(
        F.col(id_col).alias("q_id"), to_double_array(vec_col).alias("q_vec")
    ).withColumn("q_norm", l2_norm(F.col("q_vec")))
    c = (
        fan_out(corpus)
        .select(F.col(id_col).alias("c_id"), to_double_array(vec_col).alias("c_vec"))
        .withColumn("c_norm", l2_norm(F.col("c_vec")))
    )
    pairs = c.crossJoin(F.broadcast(q)).filter(F.col("q_id") != F.col("c_id"))
    sim = pairs.select(
        "q_id",
        "c_id",
        (dot(F.col("q_vec"), F.col("c_vec")) / (F.col("q_norm") * F.col("c_norm"))).alias(
            "sim"
        ),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("c_id").asc())
    return (
        sim.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_id", "c_id", "sim")
    )


LSH_TARGET_BUCKET_OCCUPANCY = 16
# auto-engaged hot-bucket cap: on the auto-planes scale path, buckets
# holding > FACTOR x the target occupancy are dropped before the
# candidate self-join — mean occupancy is held constant by
# suggest_num_planes, but concentrated semantic regions can still pile
# one bucket high enough that its k² pairs dominate the candidate stream
LSH_AUTO_MAX_BUCKET_FACTOR = 64


def suggest_num_planes(
    n_vectors: int,
    min_planes: int = 8,
    max_planes: int = 24,
    target_occupancy: int = LSH_TARGET_BUCKET_OCCUPANCY,
) -> int:
    """Plane count that keeps expected bucket occupancy ~constant:
    ``2^p ≈ n / target`` ⇒ same-bucket candidate pairs ``Σ_b n_b² ≈
    n·target`` stay LINEAR in the corpus. A FIXED plane count is
    quadratic — at 100× the sf0.1 embeddings (500k vectors / 256
    buckets ≈ 2k per bucket ≈ 490M candidate pairs) the 8-plane default
    pinned one executor task in the interpreted cosine verify for 19+
    minutes; the r7 100× scaling probe caught it (SCALE.md §100×).
    ``max_planes`` caps the bucket string at 24 bits — past that,
    occupancy ~1 and more planes only cost recall.
    """
    import math

    if n_vectors <= target_occupancy:
        return min_planes
    return max(
        min_planes,
        min(max_planes, math.ceil(math.log2(n_vectors / target_occupancy))),
    )


def hyperplane_buckets(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """(id, bucket) — bucket is the `num_planes`-bit sign pattern of the
    vector's projections onto deterministic ±1 hyperplanes.

    Plane p component i is ``+1 if md5("p:i")[0] >= '8' else -1`` —
    reproducible anywhere md5 exists. The signs are row-independent
    constants, so they are computed ONCE on the driver (hashlib md5 — the
    same function the SQL oracle evaluates per-row) and shipped as literal
    arrays: the hot path is a pure multiply-accumulate per element instead
    of dim × num_planes md5 calls per row. The cast vector binds to a
    column so the per-plane projections share it (projection boundary).
    """
    v = F.col("__v")

    bits = []
    for p in range(num_planes):
        signs = F.array(
            *[
                F.lit(
                    1.0
                    if hashlib.md5(f"{p}:{i}".encode()).hexdigest()[0] >= "8"
                    else -1.0
                )
                for i in range(1, dim + 1)
            ]
        )
        proj = F.aggregate(
            F.zip_with(v, signs, lambda x, s: x * s),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(proj > 0, F.lit("1")).otherwise(F.lit("0")))
    return (
        fan_out(df)
        .select(F.col(id_col), to_double_array(vec_col).alias("__v"))
        .select(F.col(id_col), F.concat(*bits).alias("bucket"))
    )


def train_ivf_centroids(
    corpus: DataFrame,
    num_cells: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    max_sample: int = 100_000,
) -> list[list[float]]:
    """k-means coarse quantizer on a bounded sample (MLlib KMeans||).

    The sample cap keeps driver/trainer cost independent of corpus size —
    at 100 TB the quantizer still trains on ≤ `max_sample` vectors; only
    the assignment pass (narrow, shuffle-free) touches every row.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    n = corpus.count()
    sample = corpus if n <= max_sample else corpus.sample(max_sample / n, seed=seed)
    train = sample.select(
        array_to_vector(to_double_array(vec_col)).alias("features")
    )
    model = KMeans(k=num_cells, seed=seed, maxIter=10).fit(train)
    return [c.tolist() for c in model.clusterCenters()]


def bucket_probes(num_planes: int) -> Column:
    """``array(bucket, flip_1, ..., flip_n)``: a ``bucket`` bit string
    followed by its ``num_planes`` one-bit flips, the Hamming ≤ 1 probe
    set of multiprobe LSH."""
    flips = [
        f"concat(substring(bucket, 1, {i}),"
        f" CASE WHEN substring(bucket, {i + 1}, 1) = '1' THEN '0' ELSE '1' END,"
        f" substring(bucket, {i + 2}, {num_planes - i - 1}))"
        for i in range(num_planes)
    ]
    return F.expr(f"array(bucket, {', '.join(flips)})")


def lsh_multiprobe_candidates(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 8,
    dim: int = 64,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Multiprobe candidate pairs: ids whose buckets are equal OR differ in
    exactly one bit (Hamming ≤ 1).

    The recall upgrade over `lsh_bucket_candidates`: a near-neighbor pair
    split by ONE unlucky hyperplane still meets. Probes expand on one side
    only — each row emits its own bucket plus the `num_planes` one-bit
    flips — and the join stays a hash equi-join on the probe key, so the
    cost is a constant (num_planes+1)× fan-out of the (id, bucket) rows,
    never a wider join. One-sided expansion also means every qualifying
    pair matches exactly once (equal buckets via the identity probe of the
    smaller id; Hamming-1 via the single flip on the smaller id that lands
    on the larger id's bucket), so no distinct pass is needed.

    ``max_bucket_size`` drops hot buckets BEFORE probe expansion (their
    members neither emit nor receive probes) — same guard, and recall
    trade, as `lsh_bucket_candidates`.
    """
    b = hyperplane_buckets(df, id_col, vec_col, num_planes, dim)
    if max_bucket_size is not None:
        b = cap_bucket_size(b, max_bucket_size, key_cols=("bucket",))
    a = b.select(
        F.col(id_col).alias("id_a"),
        F.explode(bucket_probes(num_planes)).alias("bucket"),
    )
    c = b.select(F.col(id_col).alias("id_b"), "bucket")
    return (
        a.join(c, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "bucket")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN search: probe the `nprobe` nearest cells per query
    (squared L2), exact cosine only within probed cells, per-query top-k
    with (sim desc, c_id asc) tie-break. `nprobe = num_cells` degrades
    to exact search. Assignment + probe-mask + scoring are fused into one
    numpy pass per Arrow batch, then a global rank window; results are
    pinned equal to the column-expression reference in
    tests/test_operators.py. Two scale levers over an expression form:

    - the per-row work is a matmul against the centroid matrix + one
      matmul against the (tiny, closure-captured) query matrix instead of
      interpreted `aggregate`/`zip_with` trees — the win grows with
      embedding width (768–4096 in production vs the 64-dim fixture);
    - **local top-k pruning**: top-k is decomposable, so each batch emits
      at most k candidates per query instead of every same-cell pair; the
      global window then ranks #batches × k × |Q| rows instead of
      |probed corpus| × |Q|. At 100 TB this is the difference between a
      shuffle proportional to the corpus and one proportional to the
      task count.

    The query side is driver-collected (|Q| small by contract); the
    corpus side streams — never collected, never broadcast.
    """
    import numpy as np
    import pandas as pd

    C = np.asarray(centroids, dtype=np.float64)  # (cells, dim)
    c_sq = (C * C).sum(axis=1)

    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[id_col] for r in q_rows])
    q_mat = np.array([list(map(float, r[vec_col])) for r in q_rows])
    q_norm = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)
    # per-query probed cells: nprobe nearest centroids by squared L2
    q_d = (q_mat * q_mat).sum(axis=1, keepdims=True) - 2 * q_mat @ C.T + c_sq
    probe = np.argsort(q_d, axis=1, kind="stable")[:, :nprobe]  # (|Q|, nprobe)

    id_type = corpus.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("q_id", id_type),
            T.StructField("c_id", id_type),
            T.StructField("sim", T.DoubleType()),
        ]
    )

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.array([list(map(float, v)) for v in pdf[vec_col]])
            c_ids = pdf[id_col].to_numpy()
            cells = (
                (M * M).sum(axis=1, keepdims=True) - 2 * M @ C.T + c_sq
            ).argmin(axis=1)
            M_norm = M / np.linalg.norm(M, axis=1, keepdims=True)
            sims = M_norm @ q_norm.T  # (batch, |Q|)
            out_q, out_c, out_s = [], [], []
            for qi in range(len(q_ids)):
                mask = np.isin(cells, probe[qi]) & (c_ids != q_ids[qi])
                idx = np.flatnonzero(mask)
                if not len(idx):
                    continue
                s = sims[idx, qi]
                if len(idx) > k:
                    # lossless local prune before the shuffle; the sort key
                    # mirrors the global window's (sim desc, c_id asc) so a
                    # tie at the k-boundary keeps the same winner
                    keep = np.lexsort((c_ids[idx], -s))[:k]
                    idx, s = idx[keep], s[keep]
                out_q.append(np.full(len(idx), q_ids[qi]))
                out_c.append(c_ids[idx])
                out_s.append(s)
            if not out_q:
                continue
            yield pd.DataFrame(
                {
                    "q_id": np.concatenate(out_q),
                    "c_id": np.concatenate(out_c),
                    "sim": np.concatenate(out_s),
                }
            )

    scored = (
        fan_out(corpus).select(id_col, vec_col).mapInPandas(score, out_schema)
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("c_id").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_id", "c_id", "sim")
    )


def embedding_near_dup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.3,
    num_planes: int | None = 8,
    dim: int = 64,
    max_bucket_size: int | str | None = "auto",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: hyperplane-LSH candidates
    verified with exact cosine ≥ threshold.

    The two-stage shape every large-scale dedup uses: the bucket equi-join
    prunes all-pairs down to same-bucket candidates (one shuffle), and only
    those pay the exact O(dim) cosine. Vectors are re-joined by id after
    candidate generation so the band join moves only (id, bucket).

    ``num_planes=None`` auto-sizes the plane count from the corpus
    (``suggest_num_planes`` — one count job) so EXPECTED bucket occupancy,
    and with it the candidate-pair volume, stays linear at ANY corpus
    size; a pinned plane count is only for oracle-matched fixtures.

    ``max_bucket_size`` is the minhash-style hot-bucket cap for the
    hyperplane path: auto-sized planes hold the
    MEAN occupancy constant, but embeddings concentrate (boilerplate
    semantic regions), and one bucket with 10⁵ members still contributes
    10¹⁰ candidate pairs. ``"auto"`` engages
    ``LSH_AUTO_MAX_BUCKET_FACTOR × LSH_TARGET_BUCKET_OCCUPANCY`` on the
    auto-planes scale path and stays OFF when planes are pinned (the
    oracle-checked fixture path is byte-identical); an int pins the cap;
    ``None`` disables it. Members of a dropped bucket lose candidacy
    through that bucket only — the documented recall trade
    (`operators/banding.py:cap_bucket_size`); content hot enough to
    overflow 64× the target occupancy is exact-dedup's job anyway.
    """
    if max_bucket_size == "auto":
        max_bucket_size = (
            LSH_AUTO_MAX_BUCKET_FACTOR * LSH_TARGET_BUCKET_OCCUPANCY
            if num_planes is None
            else None
        )
    if num_planes is None:
        num_planes = suggest_num_planes(df.count())
    cand = lsh_bucket_candidates(
        df, id_col, vec_col, num_planes, dim, max_bucket_size=max_bucket_size
    ).select("id_a", "id_b")
    vecs = df.select(F.col(id_col), to_double_array(vec_col).alias("__v"))
    j = cand.join(
        vecs.select(F.col(id_col).alias("id_a"), F.col("__v").alias("v_a")), "id_a"
    ).join(vecs.select(F.col(id_col).alias("id_b"), F.col("__v").alias("v_b")), "id_b")
    return (
        j.withColumn("sim", cosine(F.col("v_a"), F.col("v_b")))
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


def lsh_bucket_candidates(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 8,
    dim: int = 64,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate pairs (id_a < id_b) sharing an LSH bucket — the cheap
    pre-filter before exact cosine verification. ``max_bucket_size``
    optionally drops hot buckets before the self-join (the minhash-style
    explosion guard — see `embedding_near_dup`)."""
    b = hyperplane_buckets(df, id_col, vec_col, num_planes, dim)
    if max_bucket_size is not None:
        b = cap_bucket_size(b, max_bucket_size, key_cols=("bucket",))
    return band_pairs(b, id_col, ("bucket",))


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "q",
    scale_col: str = "scale",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``scale = 127 / max|v|``,
    ``q_i = floor(v_i * scale + 0.5)`` — a 4× memory cut for the 100 TB
    embedding store (float32 → int8), with the per-vector scale kept for
    dequantization / asymmetric scoring. Pure Catalyst array expressions —
    narrow, codegen'd, no shuffle.

    Rounding is an explicit ``floor(x + 0.5)`` instead of ``round()``
    because round-half semantics differ across engines (Spark HALF_UP vs
    others' half-even) — floor(+0.5) is bit-identical everywhere, which is
    what makes the DuckDB oracle exact. Zero vectors get scale NULL and
    all-zero codes (guarded division).
    """
    v = F.col(vec_col)
    max_abs = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = F.when(max_abs > 0, F.lit(127.0) / max_abs)
    q = F.transform(
        v,
        lambda x: F.floor(x * F.coalesce(scale, F.lit(0.0)) + F.lit(0.5)).cast(
            "tinyint"
        ),
    )
    return df.withColumn(scale_col, scale).withColumn(out_col, q)


def save_ivf_centroids(spark, centroids: list[list[float]], path: str) -> None:
    """Persist a trained coarse quantizer as parquet so the (expensive at
    corpus scale) k-means training runs once and every subsequent
    assignment / probe job — batch or streaming — loads the SAME cells;
    re-training per job would silently re-shuffle cell assignments."""
    rows = [(i, list(map(float, c))) for i, c in enumerate(centroids)]
    spark.createDataFrame(rows, "cell int, centroid array<double>").coalesce(
        1
    ).write.mode("overwrite").parquet(path)


def load_ivf_centroids(spark, path: str) -> list[list[float]]:
    """Inverse of `save_ivf_centroids`, cell order preserved."""
    rows = spark.read.parquet(path).orderBy("cell").collect()
    return [list(r.centroid) for r in rows]


def hard_triplets(
    corpus: DataFrame,
    anchors: DataFrame | None,
    k_neg: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    anchor_rows: list | None = None,
) -> DataFrame:
    """Online triplet mining for contrastive training (the batch-hard
    strategy of Hermans et al. 2017, "In Defense of the Triplet Loss"):
    per anchor, the ``k_neg`` hardest NEGATIVES (different label, highest
    cosine — the confusable impostors) and the single hardest POSITIVE
    (same label, lowest cosine — the most spread-out true neighbor).

    Returns (q_id, c_id, sim, kind) with kind in ('hard_neg', 'hard_pos').
    ``anchors`` (or its pre-collected rows, ``anchor_rows``) is small by
    contract.

    One matmul per Arrow batch replaces |corpus|·|anchors| interpreted
    ``zip_with``/``aggregate`` trees; the win grows with embedding width
    (768–4096 in production). Each batch locally prunes to the
    per-anchor top ``k_neg`` negatives + 1 positive under the SAME
    (sim, c_id) total order the global rank uses, so only
    |anchors|·(k_neg+1) candidate rows per batch reach the exchange —
    the full pair stream never shuffles. Local top-k under a total order
    merges exactly, so results match the column-expression reference in
    tests/test_semdedup.py up to float-summation associativity (~1e-15
    relative).
    """
    import numpy as np
    import pandas as pd

    # anchors are small by contract; callers that mine repeatedly against
    # the same anchor set pass the pre-collected rows (`anchor_rows`) so
    # the anchor-scan job runs once, not once per call
    q_rows = (
        anchor_rows
        if anchor_rows is not None
        else anchors.select(id_col, vec_col, label_col).collect()
    )
    q_ids = np.array([r[id_col] for r in q_rows])
    q_labels = np.array([r[label_col] for r in q_rows], dtype=object)
    q_mat = np.array([list(map(float, r[vec_col])) for r in q_rows])
    q_norm = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)

    id_type = corpus.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("q_id", id_type),
            T.StructField("c_id", id_type),
            T.StructField("sim", T.DoubleType()),
            T.StructField("kind", T.StringType()),
        ]
    )

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            c_mat = np.array([list(map(float, v)) for v in pdf[vec_col]])
            c_norm = c_mat / np.linalg.norm(c_mat, axis=1, keepdims=True)
            sims = c_norm @ q_norm.T  # (batch, |Q|)
            c_ids = pdf[id_col].to_numpy()
            c_labels = pdf[label_col].to_numpy()
            out_q, out_c, out_s, out_k = [], [], [], []
            for j in range(len(q_ids)):
                not_self = c_ids != q_ids[j]
                neg = not_self & (c_labels != q_labels[j])
                pos = not_self & (c_labels == q_labels[j])
                s = sims[:, j]
                if neg.any():
                    idx = np.flatnonzero(neg)
                    # local top-k under the global (sim desc, c_id asc) order
                    order = idx[np.lexsort((c_ids[idx], -s[idx]))][:k_neg]
                    out_q.extend([q_ids[j]] * len(order))
                    out_c.extend(c_ids[order])
                    out_s.extend(s[order])
                    out_k.extend(["hard_neg"] * len(order))
                if pos.any():
                    idx = np.flatnonzero(pos)
                    order = idx[np.lexsort((c_ids[idx], s[idx]))][:1]
                    out_q.extend([q_ids[j]] * len(order))
                    out_c.extend(c_ids[order])
                    out_s.extend(s[order])
                    out_k.extend(["hard_pos"] * len(order))
            yield pd.DataFrame(
                {"q_id": out_q, "c_id": out_c, "sim": out_s, "kind": out_k}
            )

    # pin ONE (q_id, kind)-keyed repartition below BOTH rank branches —
    # the exchange subtrees are then canonically identical, so
    # ReuseExchange / the AQE stage cache materializes the corpus scoring
    # MapInPandas pass ONCE (filtering by kind BELOW each branch's window
    # exchange makes the exchanges distinct and runs the full matmul pass
    # twice). The repartition satisfies both windows' clustering, so
    # neither plans its own shuffle; each sorts only its kind's slice.
    cand = (
        fan_out(corpus)
        .select(id_col, vec_col, label_col)
        .mapInPandas(score, out_schema)
        .repartition("q_id", "kind")
    )
    w_neg = Window.partitionBy("q_id", "kind").orderBy(
        F.col("sim").desc(), F.col("c_id").asc()
    )
    w_pos = Window.partitionBy("q_id", "kind").orderBy(
        F.col("sim").asc(), F.col("c_id").asc()
    )
    negs = (
        cand.filter(F.col("kind") == "hard_neg")
        .withColumn("rnk", F.row_number().over(w_neg))
        .filter(F.col("rnk") <= k_neg)
        .select("q_id", "c_id", "sim", "kind")
    )
    poss = (
        cand.filter(F.col("kind") == "hard_pos")
        .withColumn("rnk", F.row_number().over(w_pos))
        .filter(F.col("rnk") <= 1)
        .select("q_id", "c_id", "sim", "kind")
    )
    return negs.unionByName(poss)


def cosine_topk_quantized(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact-rank ANN over int8-quantized vectors (q_a·q_b integer dot,
    rescaled by the per-vector scales) — the memory tier for the 100 TB
    embedding store: the corpus ships/shuffles 4x smaller (int8 vs
    float32) and the scoring dot is integer arithmetic, at a small
    controlled recall cost (pytest pins recall@10 vs the float path).

    cosine(a, b) ≈ (q_a·q_b) / (s_a·s_b·|a|·|b|): for symmetric
    quantization the norms also come from the codes, so nothing float is
    retained per vector except one scale. Same plan shape as cosine_topk:
    queries broadcast, corpus never shuffles, one rank window per query.
    """
    cq = quantize_embeddings(
        fan_out(corpus), vec_col=vec_col, out_col="cq", scale_col="cs"
    ).select(
        F.col(id_col).alias("c_id"),
        "cq",
        F.coalesce("cs", F.lit(0.0)).alias("cs"),
    )
    qq = quantize_embeddings(
        queries, vec_col=vec_col, out_col="qq", scale_col="qs"
    ).select(
        F.col(id_col).alias("q_id"),
        "qq",
        F.coalesce("qs", F.lit(0.0)).alias("qs"),
    )
    # int dot + int self-norms, bound per side before the pair expression
    def _inorm(col):
        return F.sqrt(
            F.aggregate(
                F.transform(col, lambda x: x.cast("long") * x.cast("long")),
                F.lit(0.0),
                lambda a, x: a + x,
            )
        )

    cq = cq.withColumn("cn", _inorm(F.col("cq")))
    qq = qq.withColumn("qn", _inorm(F.col("qq")))
    pairs = cq.crossJoin(F.broadcast(qq)).filter(F.col("q_id") != F.col("c_id"))
    idot = F.aggregate(
        F.zip_with("cq", "qq", lambda x, y: x.cast("long") * y.cast("long")),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    sim = pairs.select(
        "q_id",
        "c_id",
        (idot.cast("double") / F.nullif(F.col("cn") * F.col("qn"), F.lit(0.0))).alias(
            "sim"
        ),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("c_id").asc())
    return (
        sim.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_id", "c_id", "sim")
    )


def _jl_signs(out_dim: int, in_dim: int) -> list[list[int]]:
    """Deterministic ±1 projection matrix: sign(j, i) from the parity of
    the first hex digit of md5(f"jl:{j}:{i}") — engine-portable (the same
    constants generate the SQL oracle), no RNG state."""
    import hashlib

    return [
        [
            1
            if int(hashlib.md5(f"jl:{j}:{i}".encode()).hexdigest()[0], 16) % 2
            else -1
            for i in range(in_dim)
        ]
        for j in range(out_dim)
    ]


def _rp_valid_expr(vec_col: str, dim: int):
    """Boolean column: the vector is non-null, exactly ``dim`` long, and
    element-null-free — invalid rows give all-null projection components
    and a NULL distortion ratio. Evaluated JVM-SIDE because the Arrow
    transfer is lossy for this distinction: Spark->pandas renders a NULL
    element as NaN, indistinguishable from a data NaN in Python (NaN
    elements stay VALID and propagate as values). size/array_compact are
    native collection expressions, not interpreted lambdas."""
    c = F.col(vec_col)
    return (
        c.isNotNull()
        & (F.size(c) == dim)
        & (F.size(F.array_compact(c)) == dim)
    )


def _rp_batch_matrix(pdf, vec_col: str, dim: int):
    """(V, valid) for one Arrow batch carrying the JVM-computed ``_ok``
    validity column: ``V`` is the float64 matrix of the valid rows,
    ``valid`` the boolean mask over the batch. All valid rows have
    length ``dim`` by construction, so the asarray never sees a ragged
    input."""
    import numpy as np

    valid = pdf["_ok"].to_numpy(dtype=bool)
    kept = pdf[vec_col][valid].tolist()
    if not kept:
        return np.empty((0, dim), dtype=np.float64), valid
    return np.asarray(kept, dtype=np.float64), valid


def rp_project(
    emb: DataFrame,
    out_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """(id, proj): Johnson–Lindenstrauss random projection to ``out_dim``
    dims with a deterministic ±1/sqrt(out_dim) sign matrix (Achlioptas
    2003: sign entries preserve pairwise distances within (1±ε) w.h.p.)
    — the cheap front-end that shrinks embeddings 4x before ANN
    bucketing or transfer, with no training and no stored model beyond
    the hash-derived matrix.

    Scale: map-only — no shuffle. The projection is ONE BLAS matmul per
    Arrow batch via mapInPandas: Catalyst higher-order functions are
    interpreted per ELEMENT (never whole-stage-codegen'd), so a
    column-expression form pays out_dim×dim interpreted lambda calls per
    row — measured ~10x DuckDB's vectorized list ops at the crossover
    probe. Rows failing ``_rp_valid_expr`` (null, ragged or
    null-element vectors) give all-null components."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    S = (
        np.array(_jl_signs(out_dim, dim), dtype=np.float64)
        / float(out_dim) ** 0.5
    )
    out_schema = T.StructType(
        [
            T.StructField(id_col, emb.schema[id_col].dataType),
            T.StructField("proj", T.ArrayType(T.DoubleType())),
            T.StructField("_ok", T.BooleanType()),
        ]
    )

    def proj_batches(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V, valid = _rp_batch_matrix(pdf, vec_col, dim)
            P = V @ S.T
            out = [None] * len(pdf)  # invalid rows: all-null components
            vi = 0
            for i in range(len(pdf)):
                if valid[i]:
                    out[i] = P[vi]
                    vi += 1
                else:
                    out[i] = [None] * out_dim
            yield pd.DataFrame(
                {id_col: pdf[id_col], "proj": out, "_ok": valid}
            )

    raw = emb.select(
        id_col, vec_col, _rp_valid_expr(vec_col, dim).alias("_ok")
    ).mapInPandas(proj_batches, out_schema)
    # The pandas->Arrow return leg reads a NaN in a nested float list as
    # NULL; a VALID row's null component can only have been a NaN (the
    # matmul never emits null), so restore it — out_dim interpreted
    # coalesce calls per row, ~1.5% of a 1024-lambda expression fold.
    # Invalid rows keep their all-null array.
    nan_lit = F.lit(float("nan"))
    fixed = F.when(
        F.col("_ok"),
        F.transform(F.col("proj"), lambda x: F.coalesce(x, nan_lit)),
    ).otherwise(F.col("proj"))
    return raw.select(F.col(id_col), fixed.alias("proj"))


def rp_distortion(
    emb: DataFrame,
    out_dim: int = 16,
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """One-row norm-distortion readout of the JL projection: per-vector
    ratio ||Pv|| / ||v|| aggregated to (n_vectors, avg_ratio, min_ratio,
    max_ratio) — the acceptance check before swapping the projected
    vectors into the ANN tier (ratios concentrated near 1 = distances
    survive the 4x shrink).

    Map-only: ||Pv|| and ||v|| come from the SAME row, so no id-keyed
    join. Per-Arrow-batch BLAS matmul + norm with per-batch (n, sum,
    min, max) partials reduced by one scalar aggregate (see rp_project
    for why not interpreted HOF lambdas).

    Degenerate inputs: zero-norm / null / ragged / None-element vectors
    count in ``n_vectors`` but produce a NULL ratio (never an ANSI
    DIVIDE_BY_ZERO throw), so avg/min/max skip them; NaN *elements*
    propagate as values with Spark's aggregate ordering (min skips
    NaN-as-largest, max/avg go NaN). Empty input returns n_vectors=0,
    NULL stats."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    S = (
        np.array(_jl_signs(out_dim, dim), dtype=np.float64)
        / float(out_dim) ** 0.5
    )
    # NaN ratios are encoded as a COUNT (n_nan) + finite-only stats:
    # Spark's pandas->Arrow conversion reads a NaN in a float column as
    # NULL (pandas' missing sentinel), so a NaN partial would silently
    # drop out of the final aggregate. The final agg reconstructs
    # Spark's row-level semantics: any NaN poisons avg/max, min skips
    # NaN-as-largest (NaN only when NO finite ratio exists).
    part_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("n_r", T.LongType()),
            T.StructField("n_nan", T.LongType()),
            T.StructField("sum_f", T.DoubleType()),
            T.StructField("min_f", T.DoubleType()),
            T.StructField("max_f", T.DoubleType()),
        ]
    )

    def partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V, _valid = _rp_batch_matrix(pdf, vec_col, dim)
            with np.errstate(invalid="ignore", divide="ignore"):
                norms = np.linalg.norm(V, axis=1)
                nz = norms != 0  # keep NaN norms: NaN/NaN = NaN, a VALUE
                r = np.linalg.norm(V @ S.T, axis=1)[nz] / norms[nz]
            fin = r[~np.isnan(r)]
            yield pd.DataFrame(
                {
                    "n": [len(pdf)],
                    "n_r": [len(r)],
                    "n_nan": [int(len(r) - len(fin))],
                    "sum_f": [float(fin.sum()) if len(fin) else None],
                    "min_f": [float(fin.min()) if len(fin) else None],
                    "max_f": [float(fin.max()) if len(fin) else None],
                }
            )

    parts = emb.select(
        vec_col, _rp_valid_expr(vec_col, dim).alias("_ok")
    ).mapInPandas(partials, part_schema)
    nan_lit = F.lit(float("nan"))
    has_nan = F.coalesce(F.sum("n_nan"), F.lit(0)) > 0
    return parts.agg(
        F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_vectors"),
        F.when(has_nan, nan_lit)
        .otherwise(F.try_divide(F.sum("sum_f"), F.sum("n_r")))
        .alias("avg_ratio"),
        F.coalesce(F.min("min_f"), F.when(has_nan, nan_lit)).alias("min_ratio"),
        F.when(has_nan, nan_lit).otherwise(F.max("max_f")).alias("max_ratio"),
    )
