"""Behavioral tests for the bigram-LM tier (operators/ngram_lm.py),
prefix-containment dedup (operators/dedup.py), and the k-means Lloyd step
(operators/semdedup.py) — value parity vs DuckDB is covered by the oracle
gate (bigram_perplexity / token_pmi / prefix_dup_docs / kmeans_lloyd_step);
these pin the semantics against pure-Python / numpy references.
"""

from __future__ import annotations

import math

import numpy as np

from pydatalake_spark.operators.dedup import prefix_containment_pairs
from pydatalake_spark.operators.ngram_lm import bigram_surprisal, token_pmi
from pydatalake_spark.operators.semdedup import kmeans_step


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------------------------
# bigram LM
# ---------------------------------------------------------------------------


def _py_bigram_surprisal(texts: dict[int, str], k: float = 0.5):
    from collections import Counter

    bg, ctx, vocab = Counter(), Counter(), set()
    docs_bg = {}
    for did, t in texts.items():
        toks = t.strip().split(" ")
        pairs = list(zip(toks, toks[1:]))
        docs_bg[did] = pairs
        bg.update(pairs)
        ctx.update(w1 for w1, _ in pairs)
        # r7: |V| is the LM's actual support (w1 ∪ w2 of observed
        # bigrams) — tokens appearing ONLY in single-token docs never
        # enter any p(w2|w1)
        vocab.update(w for p in pairs for w in p)
    v = len(vocab)
    out = {}
    for did, pairs in docs_bg.items():
        if not pairs:
            continue
        s = [
            -math.log((bg[p] + k) / (ctx[p[0]] + k * v)) for p in pairs
        ]
        out[did] = (len(pairs), sum(s) / len(s))
    return out


def test_bigram_surprisal_matches_python_reference(spark):
    texts = {
        1: "a b a b a c",
        2: "a b a b a b",
        3: "c c a b x y",
        4: "z",  # single token: no bigrams, no output row
    }
    got = {
        r.doc_id: r
        for r in bigram_surprisal(
            _docs(spark, list(texts.items()))
        ).collect()
    }
    ref = _py_bigram_surprisal(texts)
    assert set(got) == set(ref)
    for did, (n, avg) in ref.items():
        assert got[did].n_bigrams == n
        assert abs(got[did].avg_surprisal - avg) < 1e-9
        assert abs(got[did].ppl - math.exp(avg)) < 1e-9


def test_bigram_surprisal_ranks_unseen_transitions_higher(spark):
    # "a b" dominates the corpus; a doc full of unseen transitions must
    # score (perplex) higher than the boilerplate doc
    rows = [(i, "a b a b a b a b") for i in range(10)] + [
        (99, "q w e r t y u i")
    ]
    out = {
        r.doc_id: r.ppl for r in bigram_surprisal(_docs(spark, rows)).collect()
    }
    assert out[99] > out[0]


def test_token_pmi_prefers_exclusive_collocation(spark):
    # "x y" always co-occur exclusively (5 times, meets min_count);
    # "a b" are frequent but promiscuous -> lower PMI
    rows = [(i, "x y a b a c a d b c b d") for i in range(5)]
    out = token_pmi(_docs(spark, rows), min_count=5, top_n=10).collect()
    assert out[0].w1 == "x" and out[0].w2 == "y"
    pmi = {(r.w1, r.w2): r.pmi for r in out}
    assert pmi[("x", "y")] > pmi.get(("a", "b"), -99)
    # below min_count pairs are pruned
    assert all(r.n_pair >= 5 for r in out)


# ---------------------------------------------------------------------------
# prefix-containment dedup
# ---------------------------------------------------------------------------


def test_prefix_containment_pairs(spark):
    base = "t1 t2 t3 t4 t5 t6 t7 t8"
    rows = [
        (1, base + " t9 t10"),          # superset of 2 and prefix of 3's text
        (2, base),                      # 8-token prefix of 1 and 3
        (3, base + " t9 t10 t11"),      # superset of 1 and 2
        (4, base + " zz t10"),          # shares block key; 2 prefixes it, 1/3 don't
        (5, "t1 t2 t3"),                # under the 8-token floor: never matches
        (6, "u1 u2 u3 u4 u5 u6 u7 u8 u9"),  # different block
    ]
    got = {
        (r.prefix_id, r.super_id)
        for r in prefix_containment_pairs(_docs(spark, rows)).collect()
    }
    assert got == {(2, 1), (2, 3), (2, 4), (1, 3)}


def test_prefix_pairs_token_boundary(spark):
    # "…t9" is NOT a prefix of "…t90": the verify must respect token
    # boundaries, not raw character prefixes
    rows = [
        (1, "t1 t2 t3 t4 t5 t6 t7 t8 t9"),
        (2, "t1 t2 t3 t4 t5 t6 t7 t8 t90 t9"),
    ]
    got = prefix_containment_pairs(_docs(spark, rows)).collect()
    assert got == []


# ---------------------------------------------------------------------------
# k-means Lloyd step
# ---------------------------------------------------------------------------


def _kmeans_emb(spark, seed, n, dim, base=0):
    rng = np.random.default_rng(seed)
    vecs = rng.normal(size=(n, dim)).astype(np.float32)
    emb = spark.createDataFrame(
        [(base + i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    return emb, vecs


def _assert_lloyd_step(out, vecs, base=0, tol=1e-9):
    """``out`` (cell -> row) equals a local pure-numpy Lloyd step from
    the 4 lowest-id vectors as centroids; empty cells have no row."""
    V = vecs.astype(np.float64)
    C = V[:4]
    d2 = ((V[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    assign = d2.argmin(axis=1)  # ties -> lowest centroid id, as argmin
    for c in range(4):
        members = V[assign == c]
        if not len(members):
            assert base + c not in out
            continue
        assert out[base + c].n_members == len(members)
        drift = float(np.sqrt(((members.mean(axis=0) - C[c]) ** 2).sum()))
        assert abs(out[base + c].drift - drift) < tol, c


def _kmeans_step_expr(emb, num_cells):
    """Column-expression reference for ``kmeans_step``: nearest centroid
    by a squared-difference fold (ties to the lowest centroid id via
    min(struct)), per-cell mean as one ``avg(dv[i])`` column per
    dimension, drift as the L2 distance to the old centroid."""
    from pyspark.sql import functions as F

    from pydatalake_spark.functions.vector import to_double_array
    from pydatalake_spark.operators.semdedup import _default_centroids

    def sq_dist(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    cents = _default_centroids(emb, "vec_id", "embedding", num_cells, None)
    wv = emb.select("vec_id", to_double_array("embedding").alias("dv"))
    cells = (
        wv.crossJoin(F.broadcast(cents))
        .withColumn("d2", sq_dist(F.col("dv"), F.col("cvec")))
        .groupBy("vec_id")
        .agg(F.min(F.struct("d2", "cent_id")).alias("m"))
        .select("vec_id", F.col("m.cent_id").alias("cell"))
    )
    dim = len(emb.first()["embedding"])
    means = (
        cells.join(wv, "vec_id")
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.array(*[F.avg(F.col("dv")[i]) for i in range(dim)]).alias("mvec"),
        )
    )
    old = cents.select(F.col("cent_id").alias("cell"), "cvec")
    return means.join(old, "cell").select(
        "cell",
        "n_members",
        F.sqrt(sq_dist(F.col("mvec"), F.col("cvec"))).alias("drift"),
    )


def test_kmeans_step_matches_numpy(spark):
    emb, vecs = _kmeans_emb(spark, seed=7, n=60, dim=8)
    out = {r.cell: r for r in kmeans_step(emb, num_cells=4).collect()}
    _assert_lloyd_step(out, vecs)


def test_kmeans_step_numpy_matches_expression(spark):
    """The Arrow/numpy kmeans_step agrees with the column-expression
    reference over an id space starting at 1000."""
    emb, _ = _kmeans_emb(spark, seed=3, n=80, dim=16, base=1000)
    expr = {r.cell: r for r in _kmeans_step_expr(emb, 4).collect()}
    fast = {r.cell: r for r in kmeans_step(emb, num_cells=4).collect()}
    assert set(expr) == set(fast)
    for c in expr:
        assert expr[c].n_members == fast[c].n_members
        assert abs(expr[c].drift - fast[c].drift) < 1e-9


def test_kmeans_step_high_dim_tier(spark):
    """dim 1024: the step still matches a local pure-numpy Lloyd step
    (no dim-wide codegen aggregate on its path)."""
    emb, vecs = _kmeans_emb(spark, seed=5, n=40, dim=1024)
    out = {r.cell: r for r in kmeans_step(emb, num_cells=4).collect()}
    _assert_lloyd_step(out, vecs, tol=1e-7)


def test_kmeans_iterating_reduces_drift(spark):
    rng = np.random.default_rng(11)
    # two tight blobs: after one iteration centroids land on blob means,
    # so a second step from those means should barely move
    blob = np.concatenate(
        [
            rng.normal(0, 0.05, size=(30, 4)),
            rng.normal(5, 0.05, size=(30, 4)),
        ]
    ).astype(np.float32)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in blob[i]]) for i in range(60)],
        "vec_id long, embedding array<float>",
    )
    step1 = kmeans_step(emb, num_cells=2)
    # refit centroids = cell means, rerun the step
    V = blob.astype(np.float64)
    C = V[:2]
    d2 = ((V[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    assign = d2.argmin(axis=1)
    means = [V[assign == c].mean(axis=0) for c in range(2)]
    cent2 = spark.createDataFrame(
        [(c, [float(x) for x in means[c]]) for c in range(2)],
        "cent_id long, cvec array<double>",
    )
    step2 = kmeans_step(emb, centroids=cent2)
    d1 = {r.cell: r.drift for r in step1.collect()}
    d2_ = {r.cell: r.drift for r in step2.collect()}
    assert max(d2_.values()) < max(d1.values())


# ---------------------------------------------------------------------------
# minhash estimator calibration
# ---------------------------------------------------------------------------


def test_minhash_jaccard_estimate_matches_python_mirror(spark):
    """The estimate is deterministic given the md5-window hash family —
    mirror it in pure Python and compare every pair's readout exactly."""
    import hashlib

    from pydatalake_spark.operators.minhash import minhash_jaccard_estimate

    texts = {
        1: "a b c d e f g h",
        2: "a b c d e f g x",   # near-dup of 1
        3: "a b c d e f g h",   # exact dup of 1
        4: "p q r s t u v w",
    }
    n_hashes, n_bands, k = 8, 4, 3

    def sh(t):
        toks = t.split(" ")
        return list(dict.fromkeys(
            " ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)
        ))

    def sig(t):
        hs = [hashlib.md5(s.encode()).hexdigest() for s in sh(t)]
        return [min(h[3 * j : 3 * j + 8] for h in hs) for j in range(n_hashes)]

    def buckets(t):
        s = sig(t)
        rows = n_hashes // n_bands
        return {
            (b, hashlib.md5("".join(s[b * rows : (b + 1) * rows]).encode()).hexdigest())
            for b in range(n_bands)
        }

    exp = {}
    ids = sorted(texts)
    for i in ids:
        for j in ids:
            if i < j and buckets(texts[i]) & buckets(texts[j]):
                si, sj = sig(texts[i]), sig(texts[j])
                est = sum(x == y for x, y in zip(si, sj)) / n_hashes
                a, b = set(sh(texts[i])), set(sh(texts[j]))
                exact = len(a & b) / len(a | b)
                exp[(i, j)] = (est, exact)

    df = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    got = {
        (r.id_a, r.id_b): (r.jaccard_est, r.jaccard_exact, r.abs_err)
        for r in minhash_jaccard_estimate(
            df, num_hashes=n_hashes, num_bands=n_bands, shingle_size=k
        ).collect()
    }
    assert set(got) == set(exp)
    for pair, (est, exact) in exp.items():
        g_est, g_exact, g_err = got[pair]
        assert abs(g_est - est) < 1e-12
        assert abs(g_exact - exact) < 1e-12
        assert abs(g_err - abs(est - exact)) < 1e-12
    # the exact-dup pair must read as certainty
    assert got[(1, 3)][0] == 1.0 and got[(1, 3)][1] == 1.0


# ---------------------------------------------------------------------------
# BM25 retrieval
# ---------------------------------------------------------------------------


def test_bm25_matches_python_reference(spark):
    import math as m

    from pydatalake_spark.operators.ngram_lm import bm25_search

    texts = {
        1: "spark join spark join spark",
        2: "spark " + " ".join(f"f{i}" for i in range(40)),
        3: "join stream join stream",
        4: "nothing relevant here at all",
        5: "stream",
    }
    terms, k1, b = ["spark", "join", "stream"], 1.2, 0.75
    toks = {d: t.split(" ") for d, t in texts.items()}
    N = len(texts)
    avgdl = sum(len(v) for v in toks.values()) / N
    df = {
        t: sum(1 for v in toks.values() if t in v) for t in terms
    }
    ref = {}
    for d, v in toks.items():
        s = 0.0
        for t in terms:
            tf = v.count(t)
            if not tf:
                continue
            idf = m.log(1 + (N - df[t] + 0.5) / (df[t] + 0.5))
            s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(v) / avgdl))
        if s > 0:
            ref[d] = s
    got = {
        r.doc_id: r.score
        for r in bm25_search(
            spark.createDataFrame(
                list(texts.items()), "doc_id long, text string"
            ),
            terms,
        ).collect()
    }
    assert set(got) == set(ref)  # doc 4 scores nothing
    for d in ref:
        assert abs(got[d] - ref[d]) < 1e-9
    # short spam doc with repeated terms outranks the long diluted one
    assert got[1] > got[2]
