"""Product quantization (PQ) for billion-scale ANN (beyond-reference).

PQ (Jégou et al. 2011, "Product Quantization for Nearest Neighbor
Search") is the standard memory tier for vector search past the point
where raw vectors fit: split each d-dim vector into ``m`` subvectors,
vector-quantize each subspace against a tiny per-subspace codebook
(``k`` centroids), and store only the ``m`` byte-sized codes.  Search
uses **asymmetric distance computation** (ADC): the query stays exact,
a ``m x k`` lookup table of query-subvector -> centroid distances is
built once per query, and each corpus vector's approximate distance is
``m`` table lookups — no float math per candidate.

At 100 TB this is the difference between shipping 256 bytes/vector and
8 bytes/vector through every shuffle and cache tier.  The reference
(pydala) has no ANN at all; this slots next to the LSH / IVF / JL
tiers in ``operators/similarity.py`` as the compression leg.

Spark-first shapes:

- **Training** (`train_pq_codebooks`, long form `train_pq_long_numpy`):
  deterministic init (the subvectors of the ``k`` lowest-id vectors —
  same convention as the SemDeDup/k-means quantizers, so a SQL oracle
  can replay it) + ONE distributed Lloyd refinement: each Arrow batch is
  assigned with one ``|batch| x k`` matmul per subspace and collapsed to
  per-(subspace, code, dim) sum/count partials, then a single groupBy
  over ``m*k*sub_dim`` groups.  One shuffle of skinny partials, corpus
  never collected.  Centroid means are rounded to 6 dp so the
  downstream argmin is bit-identical across engines (and across
  re-runs on differently-partitioned input).
- **Encode** (`pq_encode`): the refined codebook is a bounded model
  artifact (``m*k*sub_dim`` doubles — a few KB) captured in the batch
  closure; per batch and subspace one ``|batch| x k`` distance matmul +
  argmin, so encoding is MAP-ONLY: zero shuffles, zero joins, and no
  k-branch expression tree to outgrow codegen at large ``k``.
- **Search** (`pq_adc_topk`): the query set is bounded by contract
  (like `cosine_topk` / `hard_triplets` anchors); its distance table
  is computed driver-side (``|Q| * m * k`` doubles) and fused as
  literals, so scoring is map-only + one rank-window top-k shuffle of
  ``|Q| x n`` skinny rows.

Everything is oracle-exact: codebook means are rounded to ``PQ_ROUND``
dp (absorbing partial-sum reorder), ties break to the lowest code on
both sides, and ADC sums its ``m`` terms in fixed subspace order (a
group-by sum could reorder floats). The column-expression trainer and
encoder the tests compare against live in tests/test_pq.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pydatalake_spark.functions.vector import to_double_array

PQ_M = 4  # subspaces
PQ_K = 16  # codes per subspace
PQ_ROUND = 6  # codebook rounding (cross-engine exact argmin downstream)


def _lit_vec(values) -> F.Column:
    return F.array(*[F.lit(float(v)) for v in values])


def _seed_rows(
    df: DataFrame, k: int, id_col: str, vec_col: str
) -> list[list[float]]:
    """The k lowest-id vectors (TakeOrderedAndProject — k rows collected,
    the bounded-model-artifact pattern of train_ivf_centroids)."""
    rows = (
        df.select(F.col(id_col).alias("i"), to_double_array(vec_col).alias("v"))
        .orderBy("i")
        .limit(k)
        .collect()
    )
    return [[float(x) for x in r["v"]] for r in rows]


def train_pq_long_numpy(
    df: DataFrame,
    m: int = PQ_M,
    k: int = PQ_K,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One Lloyd refinement of the PQ codebooks from the deterministic
    lowest-id init, long form (s, code, i, v): per-dim means rounded to
    ``PQ_ROUND`` dp; codes whose cell went empty are absent.

    Each Arrow batch is assigned with one |batch| x k matmul per
    subspace and collapsed to (s, code, i, partial_sum, n) partials, so
    the corpus is scanned once and the shuffle carries only
    tasks x m x k x sub_dim skinny rows (the ``kmeans_step`` posture).
    An expression-form argmin tree (m*k zip_with/aggregate blocks)
    would cost seconds of driver-side Catalyst analysis per plan. The
    rounding absorbs the partial-sum reorder vs the sequential oracle;
    rounded-value equality with the column-expression reference is
    pinned in tests/test_pq.py.
    """
    import numpy as np
    import pandas as pd

    sub_dim = dim // m
    seeds = _seed_rows(df, k, id_col, vec_col)
    cents = [
        np.array([sv[s * sub_dim : (s + 1) * sub_dim] for sv in seeds])
        for s in range(m)
    ]
    src = df.select(to_double_array(vec_col).alias("v"))

    def partials(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.asarray([np.asarray(x, dtype=np.float64) for x in pdf["v"]])
            out_s, out_code, out_i, out_sum, out_n = [], [], [], [], []
            for s in range(m):
                sub = mat[:, s * sub_dim : (s + 1) * sub_dim]
                d2 = (cents[s] ** 2).sum(axis=1)[None, :] - 2.0 * (sub @ cents[s].T)
                codes = np.argmin(d2, axis=1)  # ties -> lowest code
                for code in np.unique(codes):
                    members = sub[codes == code]
                    sums = members.sum(axis=0)
                    for i in range(sub_dim):
                        out_s.append(s)
                        out_code.append(int(code))
                        out_i.append(i + 1)
                        out_sum.append(float(sums[i]))
                        out_n.append(len(members))
            yield pd.DataFrame(
                {
                    "s": np.array(out_s, dtype=np.int64),
                    "code": np.array(out_code, dtype=np.int64),
                    "i": np.array(out_i, dtype=np.int64),
                    "sum_v": np.array(out_sum, dtype=np.float64),
                    "n": np.array(out_n, dtype=np.int64),
                }
            )

    part = src.mapInPandas(
        partials, schema="s long, code long, i long, sum_v double, n long"
    )
    return part.groupBy("s", "code", "i").agg(
        F.round(F.sum("sum_v") / F.sum("n"), PQ_ROUND).alias("v")
    )


def train_pq_codebooks(
    df: DataFrame,
    m: int = PQ_M,
    k: int = PQ_K,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(s, code, cvec array<double>): the ``train_pq_long_numpy``
    codebooks with each code's means assembled into one vector."""
    long = train_pq_long_numpy(df, m=m, k=k, dim=dim, id_col=id_col, vec_col=vec_col)
    return long.groupBy("s", "code").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "v"))), lambda x: x["v"]
        ).alias("cvec")
    )


def collect_codebooks(codebooks: DataFrame) -> list[list[tuple[int, list[float]]]]:
    """Collect a trained codebook DataFrame into the literal form the
    encode/search paths fuse into their plans: per subspace, a
    code-sorted [(code, cvec), ...].  Bounded: m*k rows."""
    rows = codebooks.collect()
    m = max(int(r["s"]) for r in rows) + 1
    out: list[list[tuple[int, list[float]]]] = [[] for _ in range(m)]
    for r in rows:
        out[int(r["s"])].append((int(r["code"]), [float(x) for x in r["cvec"]]))
    for s in range(m):
        out[s].sort()
    return out


def pq_encode(
    df: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Map-only PQ encode against a collected codebook: (id, codes
    array<int>), codes[s] = nearest refined centroid in subspace s
    (ties -> lowest code; sparse code sets respected).  Per batch and
    subspace, one ``|batch| x k`` distance matmul + argmin — zero
    shuffles, the 100 TB shape for a corpus-wide encode pass.  Equality
    with the column-expression reference is pinned in tests/test_pq.py."""
    import numpy as np
    import pandas as pd

    m = len(codebooks)
    sub_dim = dim // m
    cents = [np.array([cv for _, cv in codebooks[s]], dtype=np.float64) for s in range(m)]
    code_ids = [np.array([c for c, _ in codebooks[s]], dtype=np.int32) for s in range(m)]
    out_schema = f"{id_col} long, codes array<int>"
    src = df.select(F.col(id_col), to_double_array(vec_col).alias("v"))

    def encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.asarray([np.asarray(x, dtype=np.float64) for x in pdf["v"]])
            codes = np.empty((len(pdf), m), dtype=np.int32)
            for s in range(m):
                sub = mat[:, s * sub_dim : (s + 1) * sub_dim]
                # ||x-c||^2 = ||x||^2 - 2 x.c + ||c||^2 ; ||x||^2 constant
                # per row, irrelevant to the argmin
                d2 = (cents[s] ** 2).sum(axis=1)[None, :] - 2.0 * (sub @ cents[s].T)
                codes[:, s] = code_ids[s][np.argmin(d2, axis=1)]
            yield pd.DataFrame(
                {id_col: pdf[id_col].values, "codes": list(codes)}
            )

    return src.mapInPandas(encode, schema=out_schema)


def ivfadc_encode_numpy(
    df: DataFrame,
    coarse: list[list[float]],
    codebooks: list[list[tuple[int, list[float]]]],
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF cell assignment fused with PQ encode in ONE Arrow pass:
    (id, cell, codes).  This is the standing index layout of the
    IVFADC architecture (Jégou et al. 2011; FAISS ``IVFPQ`` with
    ``by_residual=false``): the coarse cell prunes candidates, the PQ
    codes price the survivors — both assigned with one |batch| x C and
    m x (|batch| x k) matmuls per batch, zero shuffles."""
    import numpy as np
    import pandas as pd

    m = len(codebooks)
    sub_dim = dim // m
    cmat = np.asarray(coarse, dtype=np.float64)
    cents = [np.array([cv for _, cv in codebooks[s]], dtype=np.float64) for s in range(m)]
    code_ids = [np.array([c for c, _ in codebooks[s]], dtype=np.int32) for s in range(m)]
    src = df.select(F.col(id_col), to_double_array(vec_col).alias("v"))

    def encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.asarray([np.asarray(x, dtype=np.float64) for x in pdf["v"]])
            cd2 = (cmat**2).sum(axis=1)[None, :] - 2.0 * (mat @ cmat.T)
            cells = np.argmin(cd2, axis=1).astype(np.int32)
            codes = np.empty((len(pdf), m), dtype=np.int32)
            for s in range(m):
                sub = mat[:, s * sub_dim : (s + 1) * sub_dim]
                d2 = (cents[s] ** 2).sum(axis=1)[None, :] - 2.0 * (sub @ cents[s].T)
                codes[:, s] = code_ids[s][np.argmin(d2, axis=1)]
            yield pd.DataFrame(
                {id_col: pdf[id_col].values, "cell": cells, "codes": list(codes)}
            )

    return src.mapInPandas(encode, schema=f"{id_col} long, cell int, codes array<int>")


def ivfadc_topk(
    encoded: DataFrame,
    query_rows: list[tuple[int, list[float]]],
    coarse: list[list[float]],
    codebooks: list[list[tuple[int, list[float]]]],
    k: int = 10,
    nprobe: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC top-k restricted to each query's ``nprobe`` nearest coarse
    cells — the IVFADC search path: candidate volume drops by
    ~nprobe/C before any distance is priced, and the pricing itself is
    the same fused literal-lookup ADC as `pq_adc_topk`.  The per-query
    probe set is computed driver-side (|Q| bounded by contract) and
    fused as an ``isin`` predicate, so cell pruning is a map-side
    filter — no join, no index broadcast.  ``nprobe = len(coarse)``
    degrades to exact ADC over the whole corpus (pytest-pinned equal to
    `pq_adc_topk`), which is what the SQL-oracled gate runs; recall at
    reduced nprobe is pytest-covered."""
    m = len(codebooks)
    sub_dim = dim // m
    per_q = []
    for q_id, vec in query_rows:
        # nprobe nearest coarse cells, ties to the lowest cell id
        cd = sorted(
            (sum((a - b) * (a - b) for a, b in zip(vec, c)), i)
            for i, c in enumerate(coarse)
        )
        probed = [i for _, i in cd[: max(1, nprobe)]]
        terms = []
        for s in range(m):
            qs = [float(x) for x in vec[s * sub_dim : (s + 1) * sub_dim]]
            d2s = []
            for _, cv in codebooks[s]:
                acc = 0.0
                for a, b in zip(qs, cv):
                    acc += (a - b) * (a - b)
                d2s.append(acc)
            codes = [c for c, _ in codebooks[s]]
            pos = F.array_position(
                F.array(*[F.lit(int(c)) for c in codes]), F.col("codes")[s]
            ).cast("int")
            terms.append(F.element_at(_lit_vec(d2s), pos))
        adc = terms[0]
        for t in terms[1:]:
            adc = adc + t
        per_q.append(
            F.struct(
                F.lit(int(q_id)).alias("q_id"),
                adc.alias("adc"),
                F.col("cell").isin(*probed).alias("probed"),
            )
        )
    scored = (
        encoded.select(
            F.col(id_col).alias("c_id"), F.explode(F.array(*per_q)).alias("qa")
        )
        .select(
            F.col("qa.q_id").alias("q_id"),
            "c_id",
            F.col("qa.adc").alias("adc"),
            F.col("qa.probed").alias("probed"),
        )
        .filter(F.col("probed") & (F.col("q_id") != F.col("c_id")))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("adc").asc(), F.col("c_id").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q_id", "c_id", "adc")
    )


def pq_adc_topk(
    encoded: DataFrame,
    query_rows: list[tuple[int, list[float]]],
    codebooks: list[list[tuple[int, list[float]]]],
    k: int = 10,
    dim: int = 64,
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC top-k over a PQ-encoded corpus for a bounded query set.

    ``query_rows`` is [(q_id, vector), ...] — bounded by contract (the
    cosine_topk / hard_triplets anchor posture).  The |Q| x m x k
    distance table is computed driver-side and fused as literals; per
    corpus row the approximate distance is m table lookups summed in
    FIXED subspace order (exact across engines).  One rank-window
    shuffle of |Q| x n skinny rows; the corpus never broadcasts.
    """
    m = len(codebooks)
    sub_dim = dim // m
    # dtab[qi][s] = literal array of d2 aligned with codebooks[s] order
    per_q = []
    for q_id, vec in query_rows:
        terms = []
        for s in range(m):
            qs = [float(x) for x in vec[s * sub_dim : (s + 1) * sub_dim]]
            d2s = []
            for _, cv in codebooks[s]:
                acc = 0.0
                for a, b in zip(qs, cv):
                    acc += (a - b) * (a - b)
                d2s.append(acc)
            # position of this row's code within subspace s's code list
            codes = [c for c, _ in codebooks[s]]
            pos = F.array_position(
                F.array(*[F.lit(int(c)) for c in codes]),
                F.col("codes")[s],
            ).cast("int")
            terms.append(F.element_at(_lit_vec(d2s), pos))
        adc = terms[0]
        for t in terms[1:]:
            adc = adc + t
        per_q.append(
            F.struct(F.lit(int(q_id)).alias("q_id"), adc.alias("adc"))
        )
    scored = encoded.select(
        F.col(id_col).alias("c_id"),
        F.explode(F.array(*per_q)).alias("qa"),
    ).select(F.col("qa.q_id").alias("q_id"), "c_id", F.col("qa.adc").alias("adc"))
    scored = scored.filter(F.col("q_id") != F.col("c_id"))
    w = Window.partitionBy("q_id").orderBy(F.col("adc").asc(), F.col("c_id").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q_id", "c_id", "adc")
    )
