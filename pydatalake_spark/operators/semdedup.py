"""SemDeDup — cluster-then-dedup semantic deduplication over embeddings.

The published recipe (Abbas et al. 2023, "SemDeDup: Data-efficient learning
at web-scale through semantic deduplication") prunes a corpus by k-means
clustering the embeddings and removing, within each cluster, all but one of
every group of vectors above a cosine-similarity threshold. The expensive
all-pairs comparison runs only WITHIN a cluster, so total work is
sum(|cell|²) instead of n² — the same candidate-bounding idea as LSH, but
with semantically coherent buckets.

The quantizer defaults to the ``num_cells`` lowest-id vectors
(``_default_centroids``): fully deterministic and SQL-expressible, which
makes the whole pipeline DuckDB-oracle-checkable — and in production a
fixed, versioned centroid set is what you want anyway (re-clustering a
growing corpus would reshuffle cell assignments between runs). k-means
centroids (``kmeans_step`` iterations, or
``operators/similarity.train_ivf_centroids``) can be passed through
``centroids`` for quality-over-determinism deployments.

Each operator has one implementation, an Arrow/numpy pass per batch:
assignment is one ``|batch| x |centroids|`` distance matmul
(``assign_cells_numpy``; two-level from ``HIER_MIN_CELLS`` centroids on),
the within-cell verify one gram matrix per cell, the Lloyd step one
fused assign-and-sum pass. The column-expression forms the tests compare
them against live in the test modules. Dedup policy is lowest-id-wins: a
vector is dropped iff some SMALLER-id vector in its cell is within the
threshold — deterministic, and transitive-chain behavior matches the
greedy scan of the paper's implementation.

The reference engine has no semantic dedup (SURVEY.md §2 gap list); this is
beyond-reference capability for the 100 TB training-data pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pydatalake_spark.functions.vector import to_double_array
from pydatalake_spark.session import _ckpt, _reap


def _default_centroids(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    num_cells: int | None,
    centroids: DataFrame | None,
) -> DataFrame:
    """Resolve the quantizer: the caller's trained centroids, else the
    deterministic init-only quantizer (the ``num_cells`` lowest-id
    vectors, auto-sized by ``suggest_num_cells`` when unspecified)."""
    if centroids is not None:
        return centroids
    if num_cells is None:
        num_cells = suggest_num_cells(emb.count())
    return (
        emb.orderBy(F.col(id_col).asc())
        .limit(num_cells)
        .select(
            F.col(id_col).alias("cent_id"),
            to_double_array(vec_col).alias("cvec"),
        )
    )


def semantic_dedup(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_cells: int | None = None,
    threshold: float = 0.3,
    centroids: DataFrame | None = None,
    max_cell_size: int | None = None,
) -> DataFrame:
    """(id, cell, keep): SemDeDup verdict per vector.

    keep = no smaller-id vector in the same cell has cosine >= threshold.
    Feed ``filter("keep")`` into the corpus join to materialize the pruned
    dataset. ``num_cells=None`` (the default) auto-sizes the quantizer
    with ``suggest_num_cells`` so pair work scales linearly with the
    corpus; pass an explicit count only for oracle-pinned determinism.
    Verdicts are pinned equal to the column-expression reference in
    tests/test_semdedup.py.

    ``max_cell_size`` (opt-in) engages ``split_oversized_cells`` between
    assignment and verify, bounding the one un-splittable stage's group
    size against hot semantic regions; see that function for the
    best-effort contract. Leave None on oracle-parity paths.

    The within-cell stage runs as ``groupBy(cell).applyInPandas``: one
    shuffle keyed by cell, then each cell's pair matrix is one numpy
    matmul instead of |cell|² interpreted ``aggregate``/``zip_with``
    trees — the win grows with embedding width. Cells arrive sized
    ~``target_cell_size`` by ``suggest_num_cells``, so per-group work is
    bounded (~10⁶ pair dots) and the matmul never exceeds a few MB per
    task. applyInPandas groups can't be AQE-split, so a pathologically
    hot cell lands on one task — ``max_cell_size`` is the guard.

    Assignment is the matmul tier (``assign_cells_numpy``): with
    auto-sized cells (C ~ n/1000) a per-(row, centroid) expression
    assignment is O(n²/1000) interpreted work. From ``HIER_MIN_CELLS``
    centroids on it is the two-level assignment
    (``assign_cells_hier_numpy``, n x 2 sqrt(C) distances), because the
    flat matmul's n x C FLOPs are themselves O(n²/1000) once C scales
    with the corpus. The tier follows the centroid count alone. Gate
    SFs sit at C <= 2, so every oracle row checks the flat/exact path.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    if centroids is None and num_cells is None:
        num_cells = suggest_num_cells(emb.count())
    cents = _default_centroids(emb, id_col, vec_col, num_cells, centroids)
    # the tier follows the ACTUAL centroid count: a num_cells that does
    # not match passed centroids must not pick it (centroid tables are
    # bounded by contract, so the count is cheap)
    n_cells = cents.count() if centroids is not None else num_cells
    hier = n_cells >= HIER_MIN_CELLS
    if hier:
        # loud, not silent: the two-level assignment is approximate at
        # the coarse boundary and can diverge from the exact SQL oracle —
        # an oracle gate that auto-sizes past HIER_MIN_CELLS must see this
        # in the log before it sees the hash mismatch
        import warnings

        warnings.warn(
            f"semantic_dedup: {n_cells} cells >= HIER_MIN_CELLS "
            f"({HIER_MIN_CELLS}), so the assignment is the APPROXIMATE "
            f"two-level one and may differ from the exact flat assignment "
            f"at coarse-cell boundaries",
            stacklevel=2,
        )
    assign = assign_cells_hier_numpy if hier else assign_cells_numpy
    # the assignment map already holds each vector, so it emits (id,
    # cell, dv) directly — no data-sized join back onto the corpus
    wv = assign(emb, cents, id_col, vec_col, with_vec=True)
    if max_cell_size is not None:
        wv = split_oversized_cells(wv, max_cell_size, id_col)
    out_schema = T.StructType(
        [
            T.StructField(id_col, wv.schema[id_col].dataType),
            T.StructField("cell", wv.schema["cell"].dataType),
            T.StructField("keep", T.BooleanType()),
        ]
    )

    def verify(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        V = np.array(pdf["dv"].tolist(), dtype=np.float64)
        n = len(V)
        # dot / (na * nb): the same quantity as cosine(), evaluated as
        # a gram matrix in COLUMN BLOCKS. The monolithic n x n form is
        # allocation-bound, not FLOP-bound: an 8.5k-row cell builds four
        # ~0.6 GB temporaries (S, outer, the >= bool, the triu copy) and
        # measured 4.6 s where this blocked walk runs 0.63 s. Each entry
        # sees the identical dot, division and compare, so the dominated
        # flags are byte-equal to the monolithic form's; keep that order
        # (dot THEN divide by the outer product) or a threshold compare
        # against the oracle can flip.
        norms = np.sqrt((V * V).sum(axis=1))
        dominated = np.zeros(n, dtype=bool)
        blk = 2048
        for j0 in range(0, n, blk):
            j1 = min(n, j0 + blk)
            with np.errstate(divide="ignore", invalid="ignore"):
                Sb = (V @ V[j0:j1].T) / np.outer(norms, norms[j0:j1])
            Bb = Sb >= threshold
            for local in range(j1 - j0):
                j = j0 + local
                # [i, j]: i smaller-id, i<j — j dominated by any earlier i
                dominated[j] = Bb[:j, local].any()
        return pd.DataFrame(
            {
                id_col: pdf[id_col],
                "cell": pdf["cell"],
                "keep": ~dominated,
            }
        )

    return wv.groupBy("cell").applyInPandas(verify, out_schema)


def split_oversized_cells(
    wv: DataFrame,
    max_cell_size: int,
    id_col: str = "vec_id",
    max_rounds: int = 4,
) -> DataFrame:
    """Re-key (id, cell, dv) rows so no cell exceeds ``max_cell_size`` —
    the guard for SemDeDup's one un-splittable stage.

    ``groupBy(cell).applyInPandas`` puts a whole cell on ONE task (AQE
    cannot split a group), so a pathologically hot cell — boilerplate
    embeddings collapsing into one semantic region — is the dedup tier's
    last skew hazard: a million-row cell is a 10¹² -entry gram matrix on
    one executor. This pass finds cells above the bound (one count
    aggregate), trains a SECOND-LEVEL deterministic quantizer per hot
    cell (first ``ceil(2n/max)`` member vectors by id — the same
    init-only rule as ``_default_centroids``), and reassigns hot-cell
    members to ``xxhash64(cell, sub)``-keyed sub-cells map-side. Cold
    cells pass through untouched, so the oracle-checked path (which
    never sets the bound) is byte-identical.

    Nearest-centroid splits are not balanced on continuum-shaped cells,
    so the pass ITERATES (still-hot sub-cells re-split, up to
    ``max_rounds``) and stops early when a round makes no progress.
    Contract honesty: the bound is BEST-EFFORT — a cell of near-identical
    vectors assigns every member to one sub-centroid and refuses to
    shrink. That degenerate shape is exact duplication, which the
    pipeline removes with exact/hash dedup BEFORE SemDeDup (clean_corpus
    ordering); run this guard after exact dedup, as the composed
    pipelines do. Like the two-level assignment, sub-splitting is
    IVF-approximate at sub-cell boundaries (a cross-sub near-dup pair
    inside a hot cell is missed) — the standard recall trade for bounded
    per-task work.
    """
    prev_max = None
    prev_ids: list[int] = []
    for _ in range(max_rounds):
        new_wv, hot_max, new_ids = _split_cells_once(wv, max_cell_size, id_col)
        if hot_max is None:  # nothing above the bound — wv stays current
            break
        # the new generation's eager checkpoint has materialized and the
        # size count was the previous generation's last reader — reap its
        # data-sized (id, cell, dv) blocks now, so at most two
        # generations are ever live. Only generations THIS loop
        # checkpointed are reaped: the caller's wv enters with no ids.
        _reap(new_wv, prev_ids)
        wv, prev_ids = new_wv, new_ids
        if prev_max is not None and hot_max >= prev_max:
            break  # degenerate: geometry can't shrink it further
        prev_max = hot_max
    return wv


def _split_cells_once(
    wv: DataFrame, max_cell_size: int, id_col: str
) -> tuple[DataFrame, int | None, list[int]]:
    """One geometric split pass; returns (wv', max oversize before the
    pass or None when no cell exceeded the bound, checkpoint RDD ids of
    wv' for the caller to reap once the next generation materializes)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    sizes = wv.groupBy("cell").agg(F.count(F.lit(1)).alias("_n"))
    hot = [
        (r["cell"], int(r["_n"]))
        for r in sizes.filter(F.col("_n") > max_cell_size).collect()
    ]
    if not hot:
        return wv, None, []
    hot_set = {c for c, _ in hot}
    sub_k = {
        c: int(np.ceil(2.0 * n / max_cell_size)) for c, n in hot
    }
    # deterministic init: the first sub_k member vectors by id per hot
    # cell — one bounded collect (Σ sub_k ≈ 2·n_hot/max rows, the same
    # contract as the centroid table itself)
    w = Window.partitionBy("cell").orderBy(id_col)
    seed_rows = (
        wv.filter(F.col("cell").isin(list(hot_set)))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= F.lit(max(sub_k.values())))
        .select("cell", "_rn", "dv")
        .collect()
    )
    subC = {}
    for r in seed_rows:
        c = r["cell"]
        if r["_rn"] <= sub_k[c]:
            subC.setdefault(c, []).append((r["_rn"], r["dv"]))
    subs = {
        c: np.array([v for _, v in sorted(rows)], dtype=np.float64)
        for c, rows in subC.items()
    }

    out_schema = T.StructType(
        [
            T.StructField(id_col, wv.schema[id_col].dataType),
            T.StructField("cell", T.LongType()),
            T.StructField("dv", T.ArrayType(T.DoubleType())),
        ]
    )

    def reassign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            cells = pdf["cell"].to_numpy()
            new_cells = cells.astype(np.int64).copy()
            for c in np.unique(cells):
                if c not in subs:
                    continue
                rows = np.where(cells == c)[0]
                V = np.array(pdf["dv"].iloc[rows].tolist(), dtype=np.float64)
                Cg = subs[c]
                d2 = (Cg * Cg).sum(axis=1)[None, :] - 2.0 * (V @ Cg.T)
                sub = d2.argmin(axis=1)
                # deterministic composite key (md5 of "cell:sub");
                # collisions only MERGE cells (more pairs checked,
                # never fewer — safe for dedup semantics)
                import hashlib

                for s in np.unique(sub):
                    h = hashlib.md5(f"{c}:{s}".encode()).digest()
                    key = int.from_bytes(h[:8], "big") & 0x7FFFFFFFFFFFFFFF
                    new_cells[rows[sub == s]] = key
            out = pdf.copy()
            out["cell"] = new_cells
            yield out[[id_col, "cell", "dv"]]

    # each round's output must MATERIALIZE before the next round counts
    # it; the checkpoint also keeps the recursive plan from nesting
    # mapInPandas stages max_rounds deep; the block ids let
    # split_oversized_cells reap superseded generations.
    split, ids = _ckpt(wv.mapInPandas(reassign, out_schema))
    return split, max(n for _, n in hot), ids


def suggest_num_cells(n_vectors: int, target_cell_size: int = 1000) -> int:
    """Cell count that keeps within-cell pair work bounded.

    SemDeDup's verify cost is sum(|cell|^2) ~ n^2 / C for balanced cells:
    at fixed C it grows quadratically with the corpus. Hold |cell| ~
    ``target_cell_size`` instead — C = n / target — and total pair work
    becomes n * target (LINEAR in n, the knob the paper tunes the same
    way). Powers of two keep the k-means training sample per cell sane.
    """
    c = max(1, n_vectors // max(1, target_cell_size))
    return 1 << (c - 1).bit_length()  # next power of two


def assign_cells_numpy(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    with_dist: bool = False,
    with_vec: bool = False,
) -> DataFrame:
    """(id, cell): nearest-centroid assignment, Euclidean argmin with
    lowest-centroid-id tie-break. ``with_vec`` carries the double-cast
    vector through as ``dv`` so a consumer that needs (cell, vector)
    pairs — SemDeDup's within-cell verify — skips the data-sized join
    back onto the corpus entirely (one exchange and two SMJ sorts saved
    at every scale).

    Each Arrow batch computes ALL its distances as one
    ``|batch| x |centroids|`` matrix via the expansion
    ``|x|^2 + |c|^2 - 2 x.c`` (one matmul) instead of per-(row, centroid)
    interpreted ``zip_with`` trees; the win grows with dim x num_cells.

    Scale shape: the centroid table is collected once (bounded by
    contract: |cells| rows) and broadcast inside the closure; the map is
    shuffle-free — output is (id, cell) pairs only.  The collected
    centroid matrix must fit executor memory (|cells| x dim doubles —
    ~1 MB at 2048x64, low GB at millions of cells); past that, shard the
    centroid set or interpose a coarse quantizer level.  With
    ``with_dist`` the winner's squared distance is also emitted,
    recomputed as a DIRECT squared-difference sum (the matmul expansion
    |x|²+|c|²-2x.c cancels catastrophically near zero — fine for the
    argmin, not for a value an oracle checks to 9 significant digits).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    cent_rows = sorted(
        centroids.select("cent_id", "cvec").collect(),
        key=lambda r: r["cent_id"],
    )
    cent_ids = np.array([r["cent_id"] for r in cent_rows])
    C = np.array([r["cvec"] for r in cent_rows], dtype=np.float64)
    c2 = (C * C).sum(axis=1)

    src = emb.select(F.col(id_col), to_double_array(vec_col).alias("dv"))
    fields = [
        T.StructField(id_col, src.schema[id_col].dataType),
        T.StructField("cell", centroids.schema["cent_id"].dataType),
    ]
    if with_dist:
        fields.append(T.StructField("dist2", T.DoubleType()))
    if with_vec:
        fields.append(T.StructField("dv", T.ArrayType(T.DoubleType())))
    out_schema = T.StructType(fields)

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(pdf["dv"].tolist(), dtype=np.float64)
            d2 = (V * V).sum(axis=1)[:, None] + c2[None, :] - 2.0 * (V @ C.T)
            # argmin takes the FIRST minimum -> lowest centroid index; the
            # centroid rows are sorted by cent_id, so ties break identically
            # to min(struct(d2, cent_id))
            idx = d2.argmin(axis=1)
            out = {id_col: pdf[id_col], "cell": cent_ids[idx]}
            if with_dist:
                diff = V - C[idx]
                out["dist2"] = (diff * diff).sum(axis=1)
            if with_vec:
                out["dv"] = pdf["dv"]
            yield pd.DataFrame(out)

    return src.mapInPandas(assign, out_schema)


HIER_MIN_CELLS = 64

# decimal places dist2 survives cross-engine summation-order differences
# at: numpy pairwise summation vs the oracle's sequential fold agree far
# beyond 6 dp on unit-scale embedding distances; rounding both sides
# absorbs the last-ulp reorder noise (same rationale as pq.PQ_ROUND)
SD_DIST_ROUND = 6


def assign_cells_hier_numpy(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    with_vec: bool = False,
) -> DataFrame:
    """(id, cell): TWO-LEVEL nearest-centroid assignment — the scale path
    past the flat quantizer's n x C distance wall.

    Flat assignment does n x C distance evaluations; with SemDeDup's
    auto-sized C ~ n/1000 that is O(n²/1000) FLOPs — BLAS-fast but still
    quadratic (a 1000x probe measured exponent 1.5 at 2M x 2048). Here the
    C fine centroids are first grouped under ~sqrt(C) coarse
    representatives (driver-side, C bounded by contract); each vector
    then prices sqrt(C) coarse + ~sqrt(C) fine distances — n x 2 sqrt(C)
    total, which holds the per-vector cost ~constant as the corpus and
    C grow together.

    The assignment is approximate at the coarse boundary (a vector whose
    true nearest fine centroid lives under a different coarse rep gets
    its best WITHIN-group cell — the standard IVF trade-off), so this is
    NOT the oracle-checked path: ``semantic_dedup`` switches to it from
    ``HIER_MIN_CELLS`` centroids on (gate SFs run flat/exact; the scaling
    probe runs this). Cells remain a valid space partition, which is all
    SemDeDup's within-cell dedup semantics require; determinism is
    preserved (fixed centroid order, first-min ties).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    cent_rows = sorted(
        centroids.select("cent_id", "cvec").collect(),
        key=lambda r: r["cent_id"],
    )
    cent_ids = np.array([r["cent_id"] for r in cent_rows])
    C = np.array([r["cvec"] for r in cent_rows], dtype=np.float64)
    n_fine = len(cent_rows)
    n_coarse = max(1, int(round(n_fine**0.5)))
    # coarse reps = an even stride over the (id-sorted) fine centroids;
    # fine centroids then group under their nearest rep
    rep_idx = np.linspace(0, n_fine - 1, n_coarse).round().astype(np.int64)
    R = C[rep_idx]
    r2 = (R * R).sum(axis=1)
    fine_d2 = (C * C).sum(axis=1)[:, None] + r2[None, :] - 2.0 * (C @ R.T)
    fine_group = fine_d2.argmin(axis=1)
    groups = [np.where(fine_group == g)[0] for g in range(n_coarse)]
    # a rep with no fine members can never win a fine argmin; drop it to
    # keep every coarse winner resolvable
    keep = [g for g in range(n_coarse) if len(groups[g])]
    R, r2 = R[keep], r2[keep]
    groups = [groups[g] for g in keep]

    src = emb.select(F.col(id_col), to_double_array(vec_col).alias("dv"))
    fields = [
        T.StructField(id_col, src.schema[id_col].dataType),
        T.StructField("cell", centroids.schema["cent_id"].dataType),
    ]
    if with_vec:
        fields.append(T.StructField("dv", T.ArrayType(T.DoubleType())))
    out_schema = T.StructType(fields)

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(pdf["dv"].tolist(), dtype=np.float64)
            v2 = (V * V).sum(axis=1)
            coarse = (
                v2[:, None] + r2[None, :] - 2.0 * (V @ R.T)
            ).argmin(axis=1)
            best = np.empty(len(V), dtype=np.int64)
            for g in np.unique(coarse):
                rows = np.where(coarse == g)[0]
                sub = V[rows]
                Cg = C[groups[g]]
                d2 = (
                    (Cg * Cg).sum(axis=1)[None, :] - 2.0 * (sub @ Cg.T)
                )
                best[rows] = groups[g][d2.argmin(axis=1)]
            out = {id_col: pdf[id_col], "cell": cent_ids[best]}
            if with_vec:
                out["dv"] = pdf["dv"]
            yield pd.DataFrame(out)

    return src.mapInPandas(assign, out_schema)


def kmeans_step(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_cells: int = 8,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """One Lloyd iteration of k-means over the embedding corpus: assign
    every vector to its nearest centroid (Euclidean, lowest-centroid-id
    tie-break), recompute each centroid as its cell's elementwise mean,
    and report how far each centroid moved.

    Returns (cell, n_members BIGINT, drift DOUBLE) — the per-iteration
    convergence readout a clustering loop monitors; empty cells drop out
    (no members → no row), matching standard Lloyd behavior. Iterate by
    feeding the new means back in as ``centroids``; the default init is
    the ``num_cells`` lowest-id vectors (``_default_centroids``).
    Beyond-reference op (clustering family).

    One ``mapInPandas`` pass both assigns each Arrow batch (one
    |batch| × |cells| distance matmul) AND collapses it to per-cell
    (count, sum-vector) partials — so the corpus is scanned ONCE and
    NEVER shuffled: the only exchange moves ≤ |cells| × num_partitions
    partial rows, and the per-cell merge computes mean + drift against
    the (bounded, closure-broadcast) centroid table. Per-iteration
    network cost is independent of corpus size, at any embedding width
    (no dim-wide codegen aggregate).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    centroids = _default_centroids(emb, id_col, vec_col, num_cells, centroids)
    cent_rows = sorted(
        centroids.select("cent_id", "cvec").collect(),
        key=lambda r: r["cent_id"],
    )
    cent_ids = [r["cent_id"] for r in cent_rows]
    C = np.array([r["cvec"] for r in cent_rows], dtype=np.float64)
    c2 = (C * C).sum(axis=1)
    cvec_by_id = {cid: C[i] for i, cid in enumerate(cent_ids)}
    cid_arr = np.array(cent_ids)

    cell_type = centroids.schema["cent_id"].dataType
    part_schema = T.StructType(
        [
            T.StructField("cell", cell_type),
            T.StructField("n", T.LongType()),
            T.StructField("s", T.ArrayType(T.DoubleType())),
        ]
    )

    src = emb.select(to_double_array(vec_col).alias("dv"))

    def partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(pdf["dv"].tolist(), dtype=np.float64)
            d2 = (V * V).sum(axis=1)[:, None] + c2[None, :] - 2.0 * (V @ C.T)
            # first minimum -> lowest centroid index; rows sorted by
            # cent_id, so ties break like min(struct(d2, cent_id))
            best = d2.argmin(axis=1)
            cells_, ns, sums = [], [], []
            for k in np.unique(best):
                mask = best == k
                cells_.append(cid_arr[k])
                ns.append(int(mask.sum()))
                sums.append(V[mask].sum(axis=0).tolist())
            yield pd.DataFrame({"cell": cells_, "n": ns, "s": sums})

    out_schema = T.StructType(
        [
            T.StructField("cell", cell_type),
            T.StructField("n_members", T.LongType()),
            T.StructField("drift", T.DoubleType()),
        ]
    )

    def merge(pdf):
        cell = pdf["cell"].iloc[0]
        n = int(pdf["n"].sum())
        mean = (
            np.array(pdf["s"].tolist(), dtype=np.float64).sum(axis=0) / n
        )
        drift = float(np.sqrt(((mean - cvec_by_id[cell]) ** 2).sum()))
        return pd.DataFrame(
            {"cell": [cell], "n_members": [n], "drift": [drift]}
        )

    return (
        src.mapInPandas(partials, part_schema)
        .groupBy("cell")
        .applyInPandas(merge, out_schema)
    )


def assignment_outliers(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_cells: int | None = None,
    centroids: DataFrame | None = None,
    pct: float = 0.99,
) -> DataFrame:
    """(id, dist2) for vectors whose nearest-centroid squared distance is
    at or above the corpus ``pct`` quantile — the embedding-side data
    quality screen (corrupt/degenerate/off-distribution vectors sit far
    from every quantizer cell; the flagged tail is what you eyeball or
    drop before training).

    Same quantizer contract as ``semantic_dedup`` (auto-sized
    deterministic init by default, trained centroids optional). The
    threshold is ONE exact-percentile scalar broadcast back over the
    per-vector distances — no global sort of the corpus.

    Distances come from the matmul tier (``assign_cells_numpy`` with
    ``with_dist``): the argmin happens inside the Arrow batch, so there
    is no min-distance shuffle; only (id, dist2) rows and one percentile
    scalar move.

    dist2 is rounded to ``SD_DIST_ROUND`` dp BEFORE the percentile and
    the threshold comparison: numpy's pairwise summation and the
    oracle's left-to-right fold differ in the last ulp, which could flip
    membership of a row sitting exactly on the ``dist2 >= thr``
    boundary — the same reorder-absorbing trick as ``PQ_ROUND`` in the
    PQ trainer. The oracle rounds identically.
    """
    cents = _default_centroids(emb, id_col, vec_col, num_cells, centroids)
    best = assign_cells_numpy(
        emb, cents, id_col, vec_col, with_dist=True
    ).select(id_col, F.round("dist2", SD_DIST_ROUND).alias("dist2"))
    thr = best.agg(
        F.expr(f"percentile(dist2, {pct}D)").alias("thr")
    )
    return (
        best.crossJoin(F.broadcast(thr))
        .filter(F.col("dist2") >= F.col("thr"))
        .select(id_col, "dist2")
    )
