"""Behavioral invariants for SemDeDup (operators/semdedup.py); value
parity vs DuckDB is covered by the oracle gate (semantic_dedup)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from pydatalake_spark.functions.vector import dot, l2_norm, to_double_array
from pydatalake_spark.operators.semdedup import (
    _default_centroids,
    assign_cells_numpy,
    semantic_dedup,
)


def _vec(theta, scale=1.0):
    # 4-dim: two planar coords + two zeros, so cosine == cos(angle delta)
    return [
        float(scale * math.cos(theta)),
        float(scale * math.sin(theta)),
        0.0,
        0.0,
    ]


def _emb(spark):
    rows = [
        (0, _vec(0.0)),            # centroid A
        (1, _vec(math.pi / 2)),    # centroid B
        (2, _vec(0.05, 2.0)),      # near 0 -> dup of 0
        (3, _vec(0.10)),           # near 0 -> dup of 0 (chain via 2)
        (4, _vec(math.pi / 2 - 0.05)),  # near 1 -> dup of 1
        (5, _vec(math.pi / 4)),    # between, dup of nobody at tau=.99
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _sq_dist(a, b):
    """Squared L2 distance of two double-array columns, summed
    left-to-right from 0.0 — the oracle's fold."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _cos(a, b, na, nb):
    """dot / (na * nb): the same expression tree as ``cosine()``."""
    return dot(F.col(a), F.col(b)) / (F.col(na) * F.col(nb))


def _semantic_dedup_expr(emb, num_cells=None, threshold=0.3, centroids=None):
    """Column-expression reference for ``semantic_dedup``: nearest
    centroid by a sequential squared-difference fold (ties to the lowest
    centroid id via min(struct)), then a within-cell self-join; a vector
    is dropped iff a smaller id in its cell has cosine >= threshold."""
    cents = _default_centroids(emb, "vec_id", "embedding", num_cells, centroids)
    wv = emb.select("vec_id", to_double_array("embedding").alias("dv"))
    cells = (
        wv.crossJoin(F.broadcast(cents))
        .withColumn("d2", _sq_dist(F.col("dv"), F.col("cvec")))
        .groupBy("vec_id")
        .agg(F.min(F.struct("d2", "cent_id")).alias("m"))
        .select("vec_id", F.col("m.cent_id").alias("cell"))
    )
    v = cells.join(wv, "vec_id").withColumn("nrm", l2_norm(F.col("dv")))
    a = v.select(
        F.col("vec_id").alias("id_a"), "cell",
        F.col("dv").alias("va"), F.col("nrm").alias("na"),
    )
    b = v.select(
        F.col("vec_id").alias("id_b"), "cell",
        F.col("dv").alias("vb"), F.col("nrm").alias("nb"),
    )
    dropped = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(_cos("va", "vb", "na", "nb") >= threshold)
        .select(F.col("id_b").alias("vec_id"), F.lit(True).alias("_dup"))
        .distinct()
    )
    return cells.join(dropped, "vec_id", "left").select(
        "vec_id", "cell", F.coalesce(~F.col("_dup"), F.lit(True)).alias("keep")
    )


def _hard_triplets_expr(corpus, anchors, k_neg):
    """Column-expression reference for ``hard_triplets``: anchors
    broadcast against the corpus, cosine per pair, then the k_neg most
    similar other-label and the one least similar same-label candidates
    per anchor, (sim, c_id) ordered."""
    from pyspark.sql import Window

    def side(df, p):
        return df.select(
            F.col("vec_id").alias(f"{p}_id"),
            to_double_array("embedding").alias(f"{p}_vec"),
            F.col("label").alias(f"{p}_label"),
        ).withColumn(f"{p}_norm", l2_norm(F.col(f"{p}_vec")))

    pairs = (
        side(corpus, "c")
        .crossJoin(F.broadcast(side(anchors, "q")))
        .filter(F.col("q_id") != F.col("c_id"))
        .withColumn("sim", _cos("q_vec", "c_vec", "q_norm", "c_norm"))
    )

    def ranked(same_label, order, k, kind):
        w = Window.partitionBy("q_id").orderBy(order, F.col("c_id").asc())
        return (
            pairs.filter((F.col("q_label") == F.col("c_label")) == same_label)
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k)
            .select("q_id", "c_id", "sim", F.lit(kind).alias("kind"))
        )

    return ranked(False, F.col("sim").desc(), k_neg, "hard_neg").unionByName(
        ranked(True, F.col("sim").asc(), 1, "hard_pos")
    )


def test_cells_are_nearest_centroid(spark):
    e = _emb(spark)
    cents = _default_centroids(e, "vec_id", "embedding", 2, None)
    cells = {r.vec_id: r.cell for r in assign_cells_numpy(e, cents).collect()}
    assert cells[0] == 0 and cells[2] == 0 and cells[3] == 0
    assert cells[1] == 1 and cells[4] == 1


def test_semantic_dedup_lowest_id_wins(spark):
    out = {
        r.vec_id: r.keep
        for r in semantic_dedup(
            _emb(spark), num_cells=2, threshold=0.99
        ).collect()
    }
    assert out[0] and out[1]          # cluster representatives survive
    assert not out[2] and not out[3]  # both dominated by 0
    assert not out[4]                 # dominated by 1
    assert out[5]                     # no neighbor above tau


def test_one_cell_equals_bruteforce_and_high_tau_keeps_all(spark):
    e = _emb(spark)
    one_cell = semantic_dedup(e, num_cells=1, threshold=0.99)
    # brute force: dominated iff ANY smaller id has cosine >= tau
    a = e.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("va"))
    b = e.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("vb"))
    from pydatalake_spark.functions.vector import cosine, to_double_array

    dominated = {
        r.ib
        for r in a.crossJoin(b)
        .filter(F.col("ia") < F.col("ib"))
        .filter(
            cosine(to_double_array("va"), to_double_array("vb")) >= 0.99
        )
        .collect()
    }
    for r in one_cell.collect():
        assert r.keep == (r.vec_id not in dominated)
    assert all(
        r.keep
        for r in semantic_dedup(e, num_cells=2, threshold=1.01).collect()
    )


def test_custom_centroids_override(spark):
    cent = spark.createDataFrame(
        [(10, [1.0, 0.0, 0.0, 0.0]), (11, [0.0, 1.0, 0.0, 0.0])],
        "cent_id long, cvec array<double>",
    )
    cells = {
        r.vec_id: r.cell
        for r in assign_cells_numpy(_emb(spark), cent).collect()
    }
    assert set(cells.values()) <= {10, 11}
    assert cells[0] == 10 and cells[1] == 11


def test_hard_triplets_labels_and_ranks(spark):
    import math

    from pydatalake_spark.operators.similarity import hard_triplets

    rows = []
    for i in range(20):
        theta = i * 0.31
        rows.append(
            (i, [math.cos(theta), math.sin(theta), 0.0, 0.0], i % 2)
        )
    e = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = hard_triplets(e, e.filter("vec_id < 3"), k_neg=4).collect()
    by_anchor = {}
    for r in out:
        by_anchor.setdefault(r.q_id, []).append(r)
    labels = {i: i % 2 for i in range(20)}
    for q_id, rs in by_anchor.items():
        negs = [r for r in rs if r.kind == "hard_neg"]
        poss = [r for r in rs if r.kind == "hard_pos"]
        assert len(negs) == 4 and len(poss) == 1
        assert all(labels[r.c_id] != labels[q_id] for r in negs)
        assert all(labels[r.c_id] == labels[q_id] for r in poss)
        # hardest negative is at least as similar as every other negative
        assert max(r.sim for r in negs) == negs[0].sim
        # hardest positive is the LEAST similar same-label vector
        all_pos_sims = [
            r.sim for r in rs if labels.get(r.c_id) == labels[q_id]
        ]
        assert poss[0].sim == min(all_pos_sims)


def test_hard_triplets_numpy_matches_expression(spark):
    """hard_triplets (per-batch local top-k prune) must return the same
    triplets as the column-expression reference."""
    from pydatalake_spark.operators.similarity import hard_triplets
    from pydatalake_spark.queries.tables import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    anchors = e.filter(F.col("vec_id") < 8)
    exp = {
        (r.q_id, r.c_id, r.kind, round(r.sim, 9))
        for r in _hard_triplets_expr(e, anchors, k_neg=5).collect()
    }
    got = {
        (r.q_id, r.c_id, r.kind, round(r.sim, 9))
        for r in hard_triplets(e, anchors, k_neg=5).collect()
    }
    assert exp == got


def test_quantized_topk_recall(spark):
    """int8 top-k must recover >=80% of the float top-10 on the fixture
    corpus (4x memory cut, bounded recall cost)."""
    from pydatalake_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_quantized,
    )
    from pydatalake_spark.queries.tables import load_table
    from tests.conftest import SF_DIR

    e = load_table(spark, SF_DIR, "embeddings")
    q = e.filter("vec_id < 10")
    exact = {(r.q_id, r.c_id) for r in cosine_topk(e, q, k=10).collect()}
    quant = {
        (r.q_id, r.c_id)
        for r in cosine_topk_quantized(e, q, k=10).collect()
    }
    recall = len(exact & quant) / len(exact)
    assert recall >= 0.8, f"recall {recall}"


def test_suggest_num_cells_keeps_pair_work_linear(spark):
    from pydatalake_spark.operators.semdedup import suggest_num_cells

    assert suggest_num_cells(500) == 1
    assert suggest_num_cells(1_000_000) == 1024
    # pair work n*target stays ~linear: C doubles when n doubles
    assert suggest_num_cells(2_000_000) == 2 * suggest_num_cells(1_000_000)


def test_offset_id_space_selects_real_centroids(spark):
    """Centroid selection must be the num_cells LOWEST ids, not ids <
    num_cells: with an offset id space a value filter selects nothing and
    semantic_dedup would silently drop every row (ADVICE r3)."""
    shifted = _emb(spark).withColumn("vec_id", F.col("vec_id") + 1000)
    out = {
        r.vec_id: r.keep
        for r in semantic_dedup(
            shifted, num_cells=2, threshold=0.99
        ).collect()
    }
    assert len(out) == 6  # every row gets a verdict
    assert out[1000] and out[1001]          # representatives survive
    assert not out[1002] and not out[1004]  # dominated rows still drop


def test_auto_num_cells_default_matches_explicit(spark):
    """num_cells=None must behave as suggest_num_cells(n) — tiny corpus
    degrades to 1 cell (brute force), not an empty centroid set."""
    e = _emb(spark)
    auto = {r.vec_id: r.keep for r in semantic_dedup(e, threshold=0.99).collect()}
    expl = {
        r.vec_id: r.keep
        for r in semantic_dedup(e, num_cells=1, threshold=0.99).collect()
    }
    assert auto == expl


def test_hier_assignment_valid_and_dedups_exact_twins(spark):
    """The two-level assignment (scale path above HIER_MIN_CELLS) must
    (a) be deterministic, (b) assign every vector a real centroid id
    that is optimal WITHIN its coarse group, and (c) keep SemDeDup's
    core guarantee: exact-duplicate vectors share a cell (identical
    inputs walk the identical assignment path) so the higher id is
    dropped."""
    from pydatalake_spark.operators.semdedup import (
        HIER_MIN_CELLS,
        assign_cells_hier_numpy,
    )
    from pydatalake_spark.queries.tables import load_table
    from tests.conftest import SF_DIR

    base = load_table(spark, SF_DIR, "embeddings")
    cents = (
        base.orderBy("vec_id")
        .limit(HIER_MIN_CELLS)
        .select(
            F.col("vec_id").alias("cent_id"),
            to_double_array("embedding").alias("cvec"),
        )
    )
    a = {
        r["vec_id"]: r["cell"]
        for r in assign_cells_hier_numpy(base, cents).collect()
    }
    b = {
        r["vec_id"]: r["cell"]
        for r in assign_cells_hier_numpy(base, cents).collect()
    }
    assert a == b
    cent_ids = {r["cent_id"] for r in cents.collect()}
    assert set(a.values()) <= cent_ids

    twins = base.withColumn("vec_id", F.col("vec_id") + 100_000)
    sd = semantic_dedup(
        base.unionByName(twins), num_cells=HIER_MIN_CELLS, threshold=0.99
    )
    rows = {r["vec_id"]: (r["cell"], r["keep"]) for r in sd.collect()}
    for vid in list(rows):
        if vid >= 100_000:
            cell_t, keep_t = rows[vid]
            cell_o, _ = rows[vid - 100_000]
            assert cell_t == cell_o
            assert keep_t is False  # exact twin of a smaller id


def test_numpy_variant_equals_expression_form(spark):
    """semantic_dedup (matmul assignment, applyInPandas gram-matrix
    verify) must emit the exact same verdicts as the column-expression
    reference, on the fixture and on a real embeddings slice."""
    from pydatalake_spark.queries.tables import load_table
    from tests.conftest import SF_DIR

    e = _emb(spark)
    for tau in (0.99, 0.3):
        expr = {
            r.vec_id: (r.cell, r.keep)
            for r in _semantic_dedup_expr(
                e, num_cells=2, threshold=tau
            ).collect()
        }
        np_ = {
            r.vec_id: (r.cell, r.keep)
            for r in semantic_dedup(e, num_cells=2, threshold=tau).collect()
        }
        # verdicts must agree everywhere; cells must agree except on
        # vector 5, which is EXACTLY equidistant (pi/4) between the two
        # centroids — on an exact tie the sequential-sum and matmul
        # distance paths diverge in the last ulp and each picks a
        # (different, equally correct) nearest cell. Real data has no
        # exact cosine ties (measure zero); the sf slice below pins
        # full equality including cells.
        assert {k: v[1] for k, v in expr.items()} == {
            k: v[1] for k, v in np_.items()
        }
        assert {k: v for k, v in expr.items() if k != 5} == {
            k: v for k, v in np_.items() if k != 5
        }
    real = load_table(spark, SF_DIR, "embeddings")
    expr = {
        (r.vec_id, r.cell, r.keep)
        for r in _semantic_dedup_expr(real, threshold=0.3).collect()
    }
    np_ = {
        (r.vec_id, r.cell, r.keep)
        for r in semantic_dedup(real, threshold=0.3).collect()
    }
    assert expr == np_


def _rp_proj_expr(dv, out_dim: int, dim: int):
    """The JL projection as a column expression over a double-array
    input — the reference `rp_project`/`rp_distortion` are tested
    against."""
    from pydatalake_spark.operators.similarity import _jl_signs

    scale = 1.0 / float(out_dim) ** 0.5
    signs = _jl_signs(out_dim, dim)
    return F.array(
        *[
            (
                F.aggregate(
                    F.zip_with(
                        dv,
                        F.array(*[F.lit(float(s)) for s in signs[j]]),
                        lambda x, y: x * y,
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                * scale
            ).alias(f"p{j}")
            for j in range(out_dim)
        ]
    )


def _rp_project_expr(emb):
    """Column-expression reference for `rp_project` at its defaults
    (64 -> 16 dims): invalid rows fold to all-null components through
    the zip_with/aggregate."""
    from pydatalake_spark.functions.vector import to_double_array

    proj = _rp_proj_expr(to_double_array("embedding"), 16, 64)
    return emb.select(F.col("vec_id"), proj.alias("proj"))


def _rp_distortion_expr(emb):
    """Column-expression reference for `rp_distortion` at its defaults.
    Both arrays are bound to REAL columns before the norm HOFs
    (re-inline hazard)."""
    from pydatalake_spark.functions.vector import l2_norm, to_double_array

    bound = emb.select(to_double_array("embedding").alias("dv"))
    pr = bound.withColumn("proj", _rp_proj_expr(F.col("dv"), 16, 64))
    j = pr.select(
        F.try_divide(l2_norm(F.col("proj")), l2_norm(F.col("dv"))).alias("r")
    )
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.avg("r").alias("avg_ratio"),
        F.min("r").alias("min_ratio"),
        F.max("r").alias("max_ratio"),
    )


def test_rp_projection_preserves_neighbors(spark):
    """JL 64->16: norm ratios concentrate near 1, and the projected
    nearest neighbor of a query matches the full-dim nearest neighbor
    for most queries (distance preservation, Achlioptas 2003)."""
    import numpy as np

    from pydatalake_spark.operators.similarity import (
        _jl_signs,
        rp_distortion,
        rp_project,
    )

    rng = np.random.default_rng(5)
    V = rng.normal(size=(100, 64)).astype(np.float32)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in V[i]]) for i in range(100)],
        "vec_id long, embedding array<float>",
    )
    d = rp_distortion(emb).collect()[0]
    assert d.n_vectors == 100
    assert 0.8 < d.avg_ratio < 1.2
    assert d.min_ratio > 0.4 and d.max_ratio < 1.8

    # projected values match numpy exactly
    S = np.array(_jl_signs(16, 64), dtype=np.float64)
    P = (V.astype(np.float64) @ S.T) / 4.0
    got = {r.vec_id: np.array(r.proj) for r in rp_project(emb).collect()}
    for i in range(100):
        assert np.allclose(got[i], P[i], atol=1e-9)

    # the Arrow/numpy pass and the pure-expression reference are the
    # same transform up to float-sum reassociation (~1e-15; the oracle
    # compares at 1e-9)
    exprd = {
        r.vec_id: np.array(r.proj) for r in _rp_project_expr(emb).collect()
    }
    for i in range(100):
        assert np.allclose(got[i], exprd[i], atol=1e-9)
    de = _rp_distortion_expr(emb).collect()[0]
    assert abs(de.avg_ratio - d.avg_ratio) < 1e-9
    assert abs(de.min_ratio - d.min_ratio) < 1e-9
    assert abs(de.max_ratio - d.max_ratio) < 1e-9


def test_rp_ann_recall_high_on_clustered_data(spark):
    """On CLUSTERED embeddings (the shape real corpora have) every
    projected top-10 neighbor lands in the query's own cluster — the
    property ANN actually needs — and exact-rank recall stays well above
    the isotropic-fixture level. (Exact rank membership is a harsh
    metric even unprojected: points inside a tight blob are
    near-equidistant, so small distortions shuffle in-blob ranks without
    changing which cluster is retrieved.)"""
    import numpy as np

    from pyspark.sql import Window

    from pydatalake_spark.functions.vector import cosine, to_double_array
    from pydatalake_spark.operators.similarity import rp_project

    rng = np.random.default_rng(9)
    centers = rng.normal(size=(5, 64)) * 5
    V = np.concatenate(
        [c + rng.normal(scale=0.3, size=(20, 64)) for c in centers]
    ).astype(np.float32)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in V[i]]) for i in range(100)],
        "vec_id long, embedding array<float>",
    )

    full = emb.select("vec_id", to_double_array("embedding").alias("v"))
    pr = rp_project(emb).withColumnRenamed("proj", "v")

    def topk(t):
        import pyspark.sql.functions as F

        q = t.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
        )
        j = (
            q.crossJoin(
                t.select(F.col("vec_id").alias("c_id"), F.col("v").alias("cv"))
            )
            .filter(F.col("q_id") != F.col("c_id"))
            .withColumn("sim", cosine(F.col("qv"), F.col("cv")))
        )
        w = Window.partitionBy("q_id").orderBy(
            F.col("sim").desc(), F.col("c_id").asc()
        )
        return {
            (r.q_id, r.c_id)
            for r in j.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 10)
            .select("q_id", "c_id")
            .collect()
        }

    exact, approx = topk(full), topk(pr)
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5
    # cluster purity: every projected neighbor is from the query's blob
    blob = lambda i: i // 20
    assert all(blob(q) == blob(c) for q, c in approx)


def test_assign_tier_from_actual_centroid_count_and_approx_flag(spark):
    """(a) When trained centroids are passed, the assignment tier must
    derive from the ACTUAL centroid count, not a mismatching num_cells;
    (b) the escalation to the approximate two-level tier from
    HIER_MIN_CELLS cells on warns loudly."""
    import warnings

    from pydatalake_spark.operators.semdedup import HIER_MIN_CELLS

    # drop vec 5 (exactly equidistant from both centroids: matmul-vs-fold
    # float noise breaks the tie differently across engines)
    emb = _emb(spark).filter(F.col("vec_id") != 5)
    cents = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("cent_id"),
        to_double_array("embedding").alias("cvec"),
    )
    # (a) 2 real centroids + lying num_cells >= HIER_MIN_CELLS: the tier
    # must be chosen from the 2, i.e. exact flat — equal to the
    # expression reference, and no escalation warning
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        got = {
            r.vec_id: (r.cell, r.keep)
            for r in semantic_dedup(
                emb,
                num_cells=HIER_MIN_CELLS,
                threshold=0.99,
                centroids=cents,
            ).collect()
        }
    exact = {
        r.vec_id: (r.cell, r.keep)
        for r in _semantic_dedup_expr(
            emb, threshold=0.99, centroids=cents
        ).collect()
    }
    assert got == exact

    # (b) without centroids, num_cells >= HIER_MIN_CELLS warns
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        semantic_dedup(emb, num_cells=HIER_MIN_CELLS).collect()
        assert any("APPROXIMATE" in str(x.message) for x in w)


def test_split_oversized_cells_bounds_hot_cell(spark):
    """r8: the guard for SemDeDup's un-splittable applyInPandas stage.
    One hot cell (three separated sub-blobs under a single coarse
    centroid) must split to sub-cells within the bound; exact twins
    co-locate (identical vectors walk identical assignment paths) so the
    higher-id twin is still dropped; cold cells pass through unchanged;
    and a no-hot-cell input is the identity."""
    import math

    from pydatalake_spark.operators.semdedup import split_oversized_cells

    # 90 vectors in 3 tight blobs near theta=0 (one coarse cell), plus a
    # far-away blob of 5 near pi/2 (a cold cell)
    rows = []
    for i in range(90):
        blob = i % 3
        rows.append((i, _vec(0.02 * blob + 0.001 * (i // 3))))
    for i in range(90, 95):
        rows.append((i, _vec(math.pi / 2 + 0.001 * (i - 90))))
    # exact twins of ids 0..4 at shifted ids
    for i in range(5):
        rows.append((1000 + i, _vec(0.02 * (i % 3) + 0.001 * (i // 3))))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = emb.filter(F.col("vec_id").isin(0, 94)).select(
        F.col("vec_id").alias("cent_id"),
        to_double_array("embedding").alias("cvec"),
    )

    wv = assign_cells_numpy(emb, cents, with_vec=True)
    # all 95 hot-blob vectors land in cell 0; 5 in cell 94
    before = {r.cell: 0 for r in wv.collect()}
    split = split_oversized_cells(wv, max_cell_size=40)
    sizes = {}
    cold_rows = {}
    for r in split.collect():
        sizes[r.cell] = sizes.get(r.cell, 0) + 1
        if r.vec_id >= 90 and r.vec_id < 95:
            cold_rows[r.vec_id] = r.cell
    assert max(sizes.values()) <= 40, sizes  # bound respected
    assert len(sizes) >= 3  # actually split
    assert set(cold_rows.values()) == {94}  # cold cell untouched

    # identity when nothing exceeds the bound
    same = split_oversized_cells(wv, max_cell_size=1000)
    assert sorted((r.vec_id, r.cell) for r in same.collect()) == sorted(
        (r.vec_id, r.cell) for r in wv.collect()
    )

    # superseded checkpoint generations must be reaped as the iterative
    # re-split proceeds (session.py's _ckpt/_reap pair, rule 3)
    # — at most the final returned generation may stay persistent, not
    # one data-sized (id, cell, dv) generation per round
    def n_persistent():
        return int(
            spark.sparkContext._jsc.getPersistentRDDs().keySet().size()
        )

    before = n_persistent()
    tight = split_oversized_cells(wv, max_cell_size=10)
    assert tight.count() == wv.count()
    assert n_persistent() <= before + 1

    # r9 VERDICT item 2: the bound must hold MID-split too — generation k
    # is reaped as soon as k+1 materializes, so at any point inside the
    # iterative re-split at most 2 generations (current + just-built) are
    # live, not one per completed round
    import pydatalake_spark.operators.semdedup as SD

    seen: list[int] = []
    orig = SD._split_cells_once

    def probed(wv_, max_cell_size_, id_col_):
        seen.append(n_persistent())
        return orig(wv_, max_cell_size_, id_col_)

    try:
        SD._split_cells_once = probed
        SD.split_oversized_cells(wv, max_cell_size=10).count()
    finally:
        SD._split_cells_once = orig
    assert len(seen) >= 2, seen  # the tight bound actually iterated
    # each loop entry sees at most: caller's input generations + the one
    # live generation the previous round kept (its predecessor reaped)
    assert max(seen) <= before + 2, seen

    # end-to-end with the bound: exact twins still dedup (identical
    # vectors share every assignment decision)
    sd = {
        r.vec_id: r.keep
        for r in semantic_dedup(
            emb, threshold=0.999, centroids=cents, max_cell_size=40
        ).collect()
    }
    for i in range(5):
        assert sd[1000 + i] is False, i  # twin of smaller id 0..4
        assert sd[i] is True, i


def test_blocked_verify_crosses_block_boundary(spark):
    """r9: the verify evaluates its gram matrix in 2048-column strips —
    this pins byte-equality of the dominated flags against a monolithic
    numpy reference on a single cell WIDER than one strip (n=2200), so
    the strip seams (columns 2047/2048/2049) and the cross-strip
    domination (an early-strip row dominating a late-strip column) are
    both exercised."""
    import numpy as np

    rng = np.random.default_rng(42)
    n, d = 2200, 8
    V = rng.standard_normal((n, d))
    # plant near-dups across the strip seam: row 10 ~ column 2050,
    # row 2047 ~ column 2048 (same-strip-edge), row 0 ~ column 1
    V[2050] = V[10] * 1.001
    V[2048] = V[2047] * 0.999
    V[1] = V[0] * 1.002
    emb = spark.createDataFrame(
        [(i, [float(x) for x in V[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    thr = 0.95
    got = {
        r["vec_id"]: r["keep"]
        for r in semantic_dedup(emb, num_cells=1, threshold=thr).collect()
    }
    # monolithic reference: same elementwise quantity, one n x n pass
    norms = np.sqrt((V * V).sum(axis=1))
    with np.errstate(divide="ignore", invalid="ignore"):
        S = (V @ V.T) / np.outer(norms, norms)
    dominated = np.triu(S >= thr, k=1).any(axis=0)
    want = {i: bool(~dominated[i]) for i in range(n)}
    assert got == want
    # the planted pairs actually exercised domination
    assert not got[2050] and not got[2048] and not got[1]
    assert got[10] and got[2047] and got[0]


def test_rp_tiers_agree_on_degenerate_inputs(spark):
    """The numpy pass must match the expression reference on edge
    inputs — zero-norm vectors (NULL ratio via try_divide, not a NaN
    that poisons min/max or an ANSI throw), ragged / None-element /
    null vectors (NULL ratio, still counted in n_vectors), NaN elements
    (propagate as values with Spark's NaN-is-largest ordering), and an
    empty input (n_vectors=0, NULL stats)."""
    import math

    from pydatalake_spark.operators.similarity import (
        rp_distortion,
        rp_project,
    )

    good = [float(i % 7 - 3) for i in range(64)]
    nan_vec = list(good)
    nan_vec[5] = float("nan")
    rows = [
        (0, good),
        (1, [0.0] * 64),          # zero norm
        (2, good[:10]),           # ragged (short)
        (3, good + [1.0]),        # ragged (long)
        (4, None),                # null vector
        (5, nan_vec),             # NaN element: a VALUE, not null
        (6, [float(x) + 1.0 for x in good]),
    ]
    none_vec = list(good)
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # a None ELEMENT can't ride through createDataFrame's double array
    # casting uniformly across tiers; build it via SQL to keep it null
    none_df = spark.sql(
        "SELECT CAST(7 AS LONG) vec_id, "
        "array(CAST(NULL AS DOUBLE), " + ", ".join(
            f"CAST({x} AS DOUBLE)" for x in none_vec[1:]
        ) + ") embedding"
    )
    emb = emb.unionByName(none_df)

    dn = rp_distortion(emb).collect()[0]
    de = _rp_distortion_expr(emb).collect()[0]
    assert dn.n_vectors == de.n_vectors == 8
    # valid rows: 0, 5 (NaN), 6 -> avg/max are NaN (NaN propagates),
    # min skips NaN-as-largest and comes from rows 0/6
    assert math.isnan(dn.avg_ratio) and math.isnan(de.avg_ratio)
    assert math.isnan(dn.max_ratio) and math.isnan(de.max_ratio)
    assert dn.min_ratio is not None and not math.isnan(dn.min_ratio)
    assert abs(dn.min_ratio - de.min_ratio) < 1e-9

    # without the NaN row: finite stats, identical across forms
    clean = emb.filter("vec_id <> 5")
    cn = rp_distortion(clean).collect()[0]
    ce = _rp_distortion_expr(clean).collect()[0]
    assert cn.n_vectors == ce.n_vectors == 7
    for a, b in [(cn.avg_ratio, ce.avg_ratio), (cn.min_ratio, ce.min_ratio),
                 (cn.max_ratio, ce.max_ratio)]:
        assert a is not None and abs(a - b) < 1e-9

    # empty input: n_vectors 0 (not NULL), NULL stats, both forms
    empty = emb.filter("vec_id < 0")
    en = rp_distortion(empty).collect()[0]
    ee = _rp_distortion_expr(empty).collect()[0]
    assert en.n_vectors == 0 and ee.n_vectors == 0
    assert en.avg_ratio is None and ee.avg_ratio is None
    assert en.min_ratio is None and en.max_ratio is None

    # rp_project: invalid rows yield all-null components in both forms
    pn = {r.vec_id: r.proj for r in rp_project(emb).collect()}
    pe = {r.vec_id: r.proj for r in _rp_project_expr(emb).collect()}
    for vid in (2, 3, 4, 7):
        assert all(x is None for x in pn[vid]), (vid, pn[vid])
        assert all(x is None for x in pe[vid]), (vid, pe[vid])
    assert all(math.isnan(x) for x in pn[5])
    assert all(math.isnan(x) for x in pe[5])
    for vid in (0, 1, 6):
        assert all(
            abs(a - b) < 1e-9 for a, b in zip(pn[vid], pe[vid])
        ), vid
