"""Product-quantization tier (operators/pq.py).

Oracle-value parity for the four pq_* registry queries is covered by the
driver gate / tools/check_parity.py; these tests pin the operator
contracts the oracle can't see: equality with the column-expression
references below, tie determinism, quantization sanity, and the
map-only encode plan shape.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pydatalake_spark.functions.vector import to_double_array
from pydatalake_spark.operators.pq import (
    PQ_ROUND,
    _seed_rows,
    collect_codebooks,
    pq_adc_topk,
    pq_encode,
    train_pq_codebooks,
    train_pq_long_numpy,
)
from pydatalake_spark.queries.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def _nearest_code(sv, centroids):
    """Code of the nearest literal centroid in ``centroids`` (a
    code-sorted [(code, cvec), ...]): squared L2 folded left-to-right
    from 0.0 — DuckDB ``list_sum`` order — and ties to the lowest code,
    since ``array_position`` finds the first minimum."""
    d2s = F.array(
        *[
            F.aggregate(
                F.zip_with(
                    sv,
                    F.array(*[F.lit(float(x)) for x in cv]),
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            for _, cv in centroids
        ]
    )
    codes = F.array(*[F.lit(int(c)) for c, _ in centroids])
    return F.element_at(codes, F.array_position(d2s, F.array_min(d2s)).cast("int"))


def _sub(v, s, sub_dim):
    return F.slice(v, s * sub_dim + 1, sub_dim)


def _train_pq_codebooks_expr(emb, m=4, k=16, dim=64):
    """Column-expression reference for ``train_pq_codebooks``: assign
    each subvector to its nearest lowest-id init code, then one
    (s, code) mean aggregation rounded to ``PQ_ROUND`` dp."""
    sub_dim = dim // m
    seeds = _seed_rows(emb, k, "vec_id", "embedding")
    v = F.col("v")
    per_s = [
        F.struct(
            _sub(v, s, sub_dim).alias("sv"),
            _nearest_code(
                _sub(v, s, sub_dim),
                [(j, sv[s * sub_dim : (s + 1) * sub_dim]) for j, sv in enumerate(seeds)],
            ).alias("code"),
        )
        for s in range(m)
    ]
    agg = (
        emb.select(to_double_array("embedding").alias("v"))
        .select(F.posexplode(F.array(*per_s)).alias("s", "a"))
        .groupBy(
            F.col("s").cast("long").alias("s"),
            F.col("a.code").cast("long").alias("code"),
        )
        .agg(
            *[
                F.round(F.avg(F.col("a.sv")[i]), PQ_ROUND).alias(f"m{i}")
                for i in range(sub_dim)
            ]
        )
    )
    return agg.select(
        "s", "code", F.array(*[F.col(f"m{i}") for i in range(sub_dim)]).alias("cvec")
    )


def _pq_encode_expr(emb, codebooks, dim=64):
    """Column-expression reference for ``pq_encode``: per subspace, the
    nearest literal centroid's code."""
    sub_dim = dim // len(codebooks)
    v = to_double_array("embedding")
    codes = F.array(
        *[_nearest_code(_sub(v, s, sub_dim), cb) for s, cb in enumerate(codebooks)]
    )
    return emb.select("vec_id", codes.alias("codes"))


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_DIR, "embeddings")


@pytest.fixture(scope="module")
def cb(spark, emb):
    return collect_codebooks(train_pq_codebooks(emb, m=4, k=16, dim=64))


def test_codebook_shape_and_determinism(spark, emb, cb):
    assert len(cb) == 4
    for s in range(4):
        # k=16 cells over 500 vectors: no cell should be empty here, and
        # codes must be sorted unique ints in [0, 16)
        codes = [c for c, _ in cb[s]]
        assert codes == sorted(set(codes))
        assert all(0 <= c < 16 for c in codes)
        assert all(len(cv) == 16 for _, cv in cb[s])
        # rounded to 6 dp — re-rounding is a no-op
        for _, cv in cb[s]:
            assert all(abs(x - round(x, 6)) < 1e-12 for x in cv)
    cb2 = collect_codebooks(train_pq_codebooks(emb, m=4, k=16, dim=64))
    assert cb == cb2


def test_trainer_numpy_tier_equals_expression(spark, emb, cb):
    """The fused Arrow trainer must produce the SAME rounded codebook as
    the column-expression reference — the 6 dp rounding absorbs
    partial-sum reordering."""
    expr = collect_codebooks(_train_pq_codebooks_expr(emb, m=4, k=16, dim=64))
    assert expr == cb
    long = {
        (r["s"], r["code"], r["i"]): r["v"]
        for r in train_pq_long_numpy(emb, m=4, k=16, dim=64).collect()
    }
    for s in range(4):
        for code, cvec in cb[s]:
            for i, v in enumerate(cvec):
                assert long[(s, code, i + 1)] == v


def test_encode_numpy_tier_equals_expression(spark, emb, cb):
    expr = {
        r["vec_id"]: list(r["codes"])
        for r in _pq_encode_expr(emb, cb, dim=64).collect()
    }
    fast = {
        r["vec_id"]: list(r["codes"])
        for r in pq_encode(emb, cb, dim=64).collect()
    }
    assert expr == fast
    assert len(expr) == emb.count()


def test_duplicate_vectors_share_codes(spark, emb, cb):
    """Exact-duplicate vectors must encode identically (dedup-by-code is
    a valid coarse near-dup screen on PQ codes)."""
    dup = emb.limit(5).withColumn("vec_id", F.col("vec_id") + 1_000_000)
    both = pq_encode(emb.limit(5).unionByName(dup), cb, dim=64).collect()
    by_id = {r["vec_id"]: list(r["codes"]) for r in both}
    for vid in list(by_id):
        if vid >= 1_000_000:
            assert by_id[vid] == by_id[vid - 1_000_000]


def test_adc_approximates_exact_distance(spark, emb, cb):
    """ADC distance must equal the exact L2^2 between the query and the
    candidate's RECONSTRUCTION (sum over subspaces of d2 to the assigned
    centroid) — check against a python recomputation for one query."""
    rows = emb.orderBy("vec_id").limit(20).collect()
    q_id = int(rows[0]["vec_id"])
    qv = [float(x) for x in rows[0]["embedding"]]
    enc = pq_encode(emb, cb, dim=64)
    got = {
        (r["q_id"], r["c_id"]): r["adc"]
        for r in pq_adc_topk(enc, [(q_id, qv)], cb, k=1000, dim=64).collect()
    }
    codes = {
        r["vec_id"]: list(r["codes"])
        for r in enc.filter(F.col("vec_id") < 20).collect()
    }
    for r in rows[1:]:
        cid = int(r["vec_id"])
        want = 0.0
        for s in range(4):
            cvec = dict(cb[s])[codes[cid][s]]
            qs = qv[s * 16 : (s + 1) * 16]
            acc = 0.0
            for a, b in zip(qs, cvec):
                acc += (a - b) * (a - b)
            want += acc
        assert got[(q_id, cid)] == pytest.approx(want, rel=1e-12)


@pytest.fixture(scope="module")
def coarse(spark, emb):
    from pydatalake_spark.operators.similarity import train_ivf_centroids

    return train_ivf_centroids(emb, num_cells=8)


@pytest.fixture(scope="module")
def qrows(spark, emb):
    return [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < 5).collect()
    ]


def test_ivfadc_full_probe_equals_plain_adc(spark, emb, cb, coarse, qrows):
    """nprobe = num_cells degrades IVFADC to exact ADC: identical rows
    (incl. distances) to pq_adc_topk — the gate's oracle-equivalence."""
    from pydatalake_spark.operators.pq import ivfadc_encode_numpy, ivfadc_topk

    enc_pq = pq_encode(emb, cb, dim=64)
    plain = {
        (r["q_id"], r["c_id"]): r["adc"]
        for r in pq_adc_topk(enc_pq, qrows, cb, k=10, dim=64).collect()
    }
    enc = ivfadc_encode_numpy(emb, coarse, cb, dim=64)
    full = {
        (r["q_id"], r["c_id"]): r["adc"]
        for r in ivfadc_topk(
            enc, qrows, coarse, cb, k=10, nprobe=len(coarse), dim=64
        ).collect()
    }
    assert full == plain


def test_ivfadc_reduced_nprobe_prices_consistently(spark, emb, cb, coarse, qrows):
    """At nprobe < C: every returned candidate must lie in the query's
    probed cells, carry the SAME ADC price as the full-probe scorer, and
    the candidate pool must actually shrink."""
    from pydatalake_spark.operators.pq import ivfadc_encode_numpy, ivfadc_topk

    enc = ivfadc_encode_numpy(emb, coarse, cb, dim=64)
    cells = {r["vec_id"]: r["cell"] for r in enc.collect()}
    full_prices = {
        (r["q_id"], r["c_id"]): r["adc"]
        for r in ivfadc_topk(
            enc, qrows, coarse, cb, k=10_000, nprobe=len(coarse), dim=64
        ).collect()
    }
    got = ivfadc_topk(enc, qrows, coarse, cb, k=10, nprobe=2, dim=64).collect()
    by_q: dict = {}
    for r in got:
        by_q.setdefault(r["q_id"], []).append(r)
        assert full_prices[(r["q_id"], r["c_id"])] == r["adc"]
    for q_id, vec in qrows:
        cd = sorted(
            (sum((a - b) * (a - b) for a, b in zip(vec, c)), i)
            for i, c in enumerate(coarse)
        )
        probed = {i for _, i in cd[:2]}
        rows = by_q.get(q_id, [])
        assert len(rows) <= 10
        for r in rows:
            assert cells[r["c_id"]] in probed
        # pruning is real: the probed population is smaller than the corpus
        pool = sum(1 for c in cells.values() if c in probed)
        assert pool < len(cells)


def test_ivfadc_encode_cells_match_python(spark, emb, cb, coarse):
    from pydatalake_spark.operators.pq import ivfadc_encode_numpy

    rows = emb.orderBy("vec_id").limit(20).collect()
    enc = {
        r["vec_id"]: r["cell"]
        for r in ivfadc_encode_numpy(emb, coarse, cb, dim=64)
        .filter(F.col("vec_id") < 20)
        .collect()
    }
    for r in rows:
        v = [float(x) for x in r["embedding"]]
        best = min(
            (sum((a - b) * (a - b) for a, b in zip(v, c)), i)
            for i, c in enumerate(coarse)
        )[1]
        assert enc[int(r["vec_id"])] == best


def test_encode_plan_is_map_only(spark, emb, cb):
    """The 100 TB contract: corpus-wide encode has NO shuffle — the
    codebook rides the batch closure of a single scan-map stage."""
    p = pq_encode(emb, cb, dim=64)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in p, p


def test_adc_plan_single_window_shuffle(spark, emb, cb):
    """ADC search: scoring is map-side; the only exchange is the
    per-query rank window over |Q| x n skinny rows."""
    qrows = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < 3).collect()
    ]
    enc = pq_encode(emb, cb, dim=64)
    p = (
        pq_adc_topk(enc, qrows, cb, k=10, dim=64)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert p.count("Exchange") == 1, p
