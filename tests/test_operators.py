"""Operator semantics the oracle gate can't see: dedup determinism on
duplicate-bearing data (FIXTURES B4), diff set-semantics, as-of join,
multimodal plumbing."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pydatalake_spark.operators.asof import asof_join
from pydatalake_spark.operators.dedup import distinct_table, is_unique
from pydatalake_spark.operators.diff import tables_diff
from pydatalake_spark.operators.multimodal import attach_payload, extract_features
from pydatalake_spark.operators.simhash import hamming_distance, simhash_table


@pytest.fixture(scope="module")
def dupes(spark, events):
    """events ∪ exact duplicate of 10% ∪ keyed near-dupes (FIXTURES B4)."""
    exact = events.limit(100)
    keyed = (
        events.limit(10)
        .withColumn("value", F.col("value") + 1000)
        .withColumn("event_id", F.col("event_id") + 1_000_000)
    )
    return events.unionByName(exact).unionByName(keyed)


def test_full_row_distinct(spark, events, dupes):
    # exact duplicates collapse; keyed near-dupes (different value) survive
    assert dupes.distinct().count() == events.count() + 10
    assert not is_unique(dupes)
    assert is_unique(events)


def test_keep_first_last_deterministic(spark, dupes):
    first = distinct_table(
        dupes, subset=["user_id", "event_type"], keep="first",
        presort_by=["ts", "event_id"],
    )
    last = distinct_table(
        dupes, subset=["user_id", "event_type"], keep="last",
        presort_by=["ts", "event_id"],
    )
    # deterministic across runs
    assert sorted(r["event_id"] for r in first.collect()) == sorted(
        r["event_id"] for r in first.collect()
    )
    k = first.count()
    assert last.count() == k
    # keep=first picks the minimum (ts, event_id) row per key
    want = {
        (r["user_id"], r["event_type"]): r["event_id"]
        for r in dupes.groupBy("user_id", "event_type")
        .agg(F.min(F.struct("ts", "event_id")).alias("m"))
        .select("user_id", "event_type", F.col("m.event_id").alias("event_id"))
        .collect()
    }
    got = {
        (r["user_id"], r["event_type"]): r["event_id"] for r in first.collect()
    }
    assert got == want


def _force_hot_probe(m):
    """Probe thresholds that make ``distinct_table``'s hot-key probe see
    every frame in full and name every key hot."""
    from pydatalake_spark.operators import dedup as D

    m.setattr(D, "AUTO_PROBE_FRACTION", 1.0)
    m.setattr(D, "AUTO_MIN_SAMPLED", 1)
    m.setattr(D, "AUTO_HOT_SHARE", 1e-6)


def test_dedup_agg_method_equals_window(spark, monkeypatch):
    """The hot-split plan's min_by/max_by side must return byte-identical
    rows to the window plan — including null ordering (struct comparison
    puts a null field first, matching asc_nulls_first /
    desc_nulls_last), full-tiebreak determinism, and a 500-row hot key.
    With the probe forced to name every key hot, every row takes the
    aggregation side; the default call on these small frames runs the
    window plan."""
    from pydatalake_spark.operators import dedup as D

    rows = [
        (1, None, "a", 1.0), (1, 5, "b", 2.0), (1, 3, "c", None),
        (2, 7, None, 0.5), (2, 7, "x", 0.5),
        (3, None, None, None), (3, None, "z", 9.0),
    ]
    # the same rows plus a hot key: 500 duplicate rows under k=9
    hot_rows = rows + [(9, i % 13, f"s{i % 7}", float(i % 11)) for i in range(500)]
    for data in (rows, hot_rows):
        df = spark.createDataFrame(data, "k int, v int, s string, x double")
        with monkeypatch.context() as m:
            _force_hot_probe(m)
            named = D._auto_hot_keys(df, ["k"])
        assert len(named) == len({r[0] for r in data})
        for keep in ("first", "last"):
            for presort in (None, ["v"], ["v", "s"]):
                a = distinct_table(df, subset="k", keep=keep, presort_by=presort)
                with monkeypatch.context() as m:
                    _force_hot_probe(m)
                    b = distinct_table(
                        df, subset="k", keep=keep, presort_by=presort
                    )
                assert b.columns == df.columns
                assert sorted(map(tuple, a.collect()), key=str) == sorted(
                    map(tuple, b.collect()), key=str
                ), (len(data), keep, presort)
    with pytest.raises(ValueError):
        distinct_table(df, subset="k", keep="middle")


def test_dedup_auto_method_dispatch(spark, monkeypatch):
    """The hot-key probe picks the hot-split plan from a sampled key
    share instead of requiring the caller to know their skew — and stays
    on the measured-faster window plan for small or uniform key sets.
    The hot-split result equals the window plan's, including null-keyed
    rows and a composite key."""
    from pydatalake_spark.operators import dedup as D

    # ~2 rows per key: max key share 2/400, far under the hot threshold
    uniform = spark.createDataFrame(
        [(i // 2, i % 13, float(i)) for i in range(400)],
        "k int, v int, x double",
    )
    hot = spark.createDataFrame(
        [(9 if i % 2 else i, i % 13, float(i)) for i in range(400)],
        "k int, v int, x double",
    )
    hot_nulls = hot.unionByName(
        spark.createDataFrame(
            [(None, i % 13, float(i)) for i in range(200)]
            + [(None, None, None), (77, None, 1.5)],
            "k int, v int, x double",
        )
    )
    comp = spark.createDataFrame(
        [
            (9 if i % 2 else i, "x" if i % 2 else f"t{i % 7}", float(i))
            for i in range(400)
        ],
        "k int, s string, x double",
    )
    # real thresholds: a 1% sample of 400 rows is far below the floor —
    # window regardless of skew (data this small can't hurt a reducer),
    # so these calls build the window plan the hot-split must match
    assert D._auto_hot_keys(hot, ["k"]) is None
    assert D._auto_hot_keys(comp, ["k", "s"]) is None
    b = distinct_table(hot_nulls, subset="k", keep="first", presort_by=["v"])
    cb = distinct_table(comp, subset=["k", "s"], keep="last")
    # probe-scale thresholds: full sample, tiny floor
    monkeypatch.setattr(D, "AUTO_PROBE_FRACTION", 1.0)
    monkeypatch.setattr(D, "AUTO_MIN_SAMPLED", 100)
    assert D._auto_hot_keys(hot, ["k"]) is not None  # k=9 owns half the rows
    assert D._auto_hot_keys(uniform, ["k"]) is None  # max share 0.5%
    # the HOT-SPLIT plan (k=9 is named hot) returns the window plan's
    # rows, including null-keyed rows (eqNullSafe keeps them on the cold
    # side) and a null-keyed HOT group
    assert D._auto_hot_keys(hot_nulls, ["k"]) is not None
    a = distinct_table(hot_nulls, subset="k", keep="first", presort_by=["v"])
    assert sorted(map(tuple, a.collect()), key=str) == sorted(
        map(tuple, b.collect()), key=str
    )
    # composite (multi-column) hot key: the probe groups, names, and
    # predicates on the full key tuple
    assert D._auto_hot_keys(comp, ["k", "s"]) is not None  # (9,'x') is hot
    ca = distinct_table(comp, subset=["k", "s"], keep="last")
    assert sorted(map(tuple, ca.collect())) == sorted(map(tuple, cb.collect()))


def test_tables_diff_set_semantics(spark, events):
    """EXCEPT dedups its result (SURVEY §7.3.1): diffing a table-with-dupes
    against empty returns DISTINCT rows."""
    doubled = events.limit(10).unionByName(events.limit(10))
    empty = events.limit(0)
    assert tables_diff(doubled, empty).count() == 10


def test_tables_diff_null_safe(spark):
    t1 = spark.createDataFrame([(1, None), (2, "x")], "id int, v string")
    t2 = spark.createDataFrame([(1, None)], "id int, v string")
    # NULLs compare equal in EXCEPT semantics -> row (1, NULL) is NOT new
    got = {r["id"] for r in tables_diff(t1, t2).collect()}
    assert got == {2}


def test_asof_join_backward(spark):
    left = spark.createDataFrame(
        [(1, 10.0, "k"), (2, 20.0, "k"), (3, 5.0, "j")],
        "id long, t double, k string",
    )
    right = spark.createDataFrame(
        [(100, 9.0, "k"), (101, 15.0, "k"), (102, 99.0, "j")],
        "rid long, t double, k string",
    )
    out = asof_join(
        left, right.withColumnRenamed("rid", "rid"),
        on="t", by="k", right_cols=["rid"],
    )
    m = {r["id"]: r["rid_right"] for r in out.collect()}
    # id1@t10 -> rid100@t9; id2@t20 -> rid101@t15; id3@t5 -> no j <= 5
    assert m == {1: 100, 2: 101, 3: None}
    # pandas merge_asof agrees
    lp = left.toPandas().sort_values("t")
    rp = right.toPandas().sort_values("t")
    want = pd.merge_asof(lp, rp, on="t", by="k")
    wm = {int(r.id): (None if pd.isna(r.rid) else int(r.rid)) for r in want.itertuples()}
    assert m == wm


def test_asof_equal_ts_matches(spark):
    left = spark.createDataFrame([(1, 10.0, "k")], "id long, t double, k string")
    right = spark.createDataFrame([(7, 10.0, "k")], "rid long, t double, k string")
    out = asof_join(left, right, on="t", by="k", right_cols=["rid"]).collect()
    assert out[0]["rid_right"] == 7


def test_simhash_near_dup_small_hamming(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy cat today"),
            (3, "completely different words appear here nothing shared at all"),
        ],
        "doc_id long, text string",
    )
    sh = simhash_table(docs)
    a = sh.alias("a").filter(F.col("doc_id") == 1)
    pairs = (
        sh.alias("b")
        .filter(F.col("doc_id") != 1)
        .crossJoin(a.select(F.col("simhash").alias("ref")))
        .select("doc_id", hamming_distance(F.col("simhash"), F.col("ref")).alias("d"))
    )
    d = {r["doc_id"]: r["d"] for r in pairs.collect()}
    assert d[2] < d[3]


def test_multimodal_plumbing(spark):
    docs = spark.createDataFrame(
        [(1, "hello world"), (2, "")], "doc_id long, text string"
    )
    media = attach_payload(docs, "doc_id", "text")
    assert dict(media.dtypes)["payload"] == "binary"
    feats = extract_features(media, decode_stub="fake")
    rows = {r["media_id"]: r for r in feats.collect()}
    assert rows[1]["n_bytes"] == 11
    assert rows[1]["checksum"] == "5eb63bbbe01eeed093cb22bb8f5acdc3"  # md5('hello world')
    assert rows[2]["n_bytes"] == 0 and rows[2]["width"] == 1
    with pytest.raises(Exception):
        extract_features(media, decode_stub="error").collect()


def test_ivf_full_probe_equals_brute_force(spark):
    """nprobe = num_cells probes every cell -> IVF degrades to exact
    search and must equal the brute-force cosine top-k."""
    from pydatalake_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
        train_ivf_centroids,
    )
    from pydatalake_spark.queries.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    cents = train_ivf_centroids(emb, num_cells=8)
    assert len(cents) == 8 and len(cents[0]) == 64

    exact = cosine_topk(emb, queries, k=5)
    ivf = ivf_topk(emb, queries, cents, k=5, nprobe=8)
    e = {(r.q_id, r.c_id) for r in exact.collect()}
    i = {(r.q_id, r.c_id) for r in ivf.collect()}
    assert e == i


def _ivf_topk_expr(corpus, queries, centroids, k, nprobe):
    """Column-expression reference for ``ivf_topk``: squared-L2 folds to
    literal centroids put each corpus vector in its nearest cell and
    explode each query over its ``nprobe`` nearest cells, then exact
    cosine within shared cells and a (sim desc, c_id asc) rank per
    query."""
    from pyspark.sql import Window

    from pydatalake_spark.functions.vector import dot, l2_norm, to_double_array

    def dists(v):
        return F.array(
            *[
                F.struct(
                    F.aggregate(
                        F.zip_with(
                            v,
                            F.array(*[F.lit(float(x)) for x in c]),
                            lambda a, b: (a - b) * (a - b),
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    ).alias("d"),
                    F.lit(i).alias("i"),
                )
                for i, c in enumerate(centroids)
            ]
        )

    def side(df, p):
        return df.select(
            F.col("vec_id").alias(f"{p}_id"),
            to_double_array("embedding").alias(f"{p}_vec"),
        ).withColumn(f"{p}_norm", l2_norm(F.col(f"{p}_vec")))

    c = side(corpus, "c").withColumn(
        "cell", F.array_min(dists(F.col("c_vec")))["i"]
    )
    probed = F.slice(F.array_sort(dists(F.col("q_vec"))), 1, nprobe)
    q = side(queries, "q").withColumn(
        "cell", F.explode(F.transform(probed, lambda s: s["i"]))
    )
    sim = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id",
            "c_id",
            (
                dot(F.col("q_vec"), F.col("c_vec"))
                / (F.col("q_norm") * F.col("c_norm"))
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("c_id").asc())
    return sim.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


def test_ivf_numpy_equals_expression_form(spark):
    """ivf_topk (assignment + probe-mask + scoring + local top-k prune in
    one mapInPandas) returns the same pairs as the column-expression
    reference, at partial AND full probe."""
    from pydatalake_spark.operators.similarity import (
        ivf_topk,
        train_ivf_centroids,
    )
    from pydatalake_spark.queries.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    cents = train_ivf_centroids(emb, num_cells=8)
    for nprobe in (2, 8):
        expr = _ivf_topk_expr(emb, queries, cents, k=5, nprobe=nprobe)
        np_ = ivf_topk(emb, queries, cents, k=5, nprobe=nprobe)
        e = {(r.q_id, r.c_id) for r in expr.collect()}
        n = {(r.q_id, r.c_id) for r in np_.collect()}
        assert e == n, f"nprobe={nprobe}"


def test_ivf_partial_probe_subset(spark):
    """nprobe < num_cells returns <= k rows per query, all candidates
    coming from probed cells only."""
    from pydatalake_spark.operators.similarity import (
        ivf_topk,
        train_ivf_centroids,
    )
    from pydatalake_spark.queries.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    cents = train_ivf_centroids(emb, num_cells=8)
    rows = ivf_topk(emb, queries, cents, k=5, nprobe=2).collect()
    per_q: dict = {}
    for r in rows:
        per_q.setdefault(r.q_id, []).append(r)
        assert -1.0 <= r.sim <= 1.0
    assert set(per_q) == {0, 1, 2, 3, 4}
    assert all(len(v) <= 5 for v in per_q.values())


def test_multiprobe_superset_and_hamming_bound(spark):
    """Multiprobe candidates strictly contain the exact-bucket candidates,
    every extra pair has bucket Hamming distance exactly 1, and no pair is
    emitted twice (the one-sided probe expansion is dedup-free by
    construction)."""
    from pydatalake_spark.operators.similarity import (
        hyperplane_buckets,
        lsh_bucket_candidates,
        lsh_multiprobe_candidates,
    )
    from pydatalake_spark.queries.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    exact = {(r.id_a, r.id_b) for r in lsh_bucket_candidates(emb).collect()}
    multi_rows = lsh_multiprobe_candidates(emb).collect()
    multi = [(r.id_a, r.id_b) for r in multi_rows]
    assert len(multi) == len(set(multi))  # no duplicate pairs
    assert exact <= set(multi) and len(multi) > len(exact)
    buckets = {r.vec_id: r.bucket for r in hyperplane_buckets(emb).collect()}
    for a, b in set(multi) - exact:
        ham = sum(x != y for x, y in zip(buckets[a], buckets[b]))
        assert ham == 1, (a, b)


def test_embedding_near_dup_threshold(spark):
    from pydatalake_spark.operators.similarity import embedding_near_dup
    from pydatalake_spark.queries.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    rows = embedding_near_dup(emb, threshold=0.2).collect()
    assert all(r.sim >= 0.2 and r.id_a < r.id_b for r in rows)


def test_lsh_hot_bucket_cap(spark):
    """r8 VERDICT item 4: the hyperplane candidate paths accept the
    minhash-style hot-bucket cap. Members of a dropped bucket lose all
    candidacy (one bucket per vector); cold buckets are untouched; the
    pinned-planes default keeps the cap OFF so the oracle fixture path
    stays byte-identical."""
    from pydatalake_spark.operators.similarity import (
        embedding_near_dup,
        hyperplane_buckets,
        lsh_bucket_candidates,
        lsh_multiprobe_candidates,
    )
    from pydatalake_spark.queries.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    buckets = {r.vec_id: r.bucket for r in hyperplane_buckets(emb).collect()}
    counts: dict = {}
    for b in buckets.values():
        counts[b] = counts.get(b, 0) + 1
    cap = sorted(counts.values())[len(counts) // 2]  # median occupancy
    hot_ids = {v for v, b in buckets.items() if counts[b] > cap}
    assert hot_ids and len(hot_ids) < len(buckets)
    full = {(r.id_a, r.id_b) for r in lsh_bucket_candidates(emb).collect()}
    capped_rows = lsh_bucket_candidates(emb, max_bucket_size=cap).collect()
    capped = {(r.id_a, r.id_b) for r in capped_rows}
    assert capped < full
    assert all(
        r.id_a not in hot_ids and r.id_b not in hot_ids for r in capped_rows
    )
    # exactly the cold-bucket pairs survive
    assert capped == {
        (a, b) for a, b in full if a not in hot_ids and b not in hot_ids
    }
    # multiprobe caps BEFORE probe expansion: hot members fully vanish
    mp = lsh_multiprobe_candidates(emb, max_bucket_size=cap).collect()
    assert all(r.id_a not in hot_ids and r.id_b not in hot_ids for r in mp)
    # pinned planes ⇒ the "auto" default resolves to cap OFF
    a = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup(emb, threshold=0.2).collect()
    }
    b = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup(
            emb, threshold=0.2, max_bucket_size=None
        ).collect()
    }
    assert a == b


def test_near_dup_pairs_injected_signatures(spark):
    """r8 VERDICT item 7: injecting the corpus-level signature table
    semi-joined down to a survivor subset returns byte-identical pairs
    to re-signing the subset from text — signatures are per-doc and
    filter-stable, which is what lets pipeline_clean_corpus reuse the
    shared cache instead of re-shingling its survivors."""
    from pydatalake_spark.operators.minhash import (
        minhash_signatures,
        near_dup_pairs,
    )
    from pydatalake_spark.queries.tables import load_table

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    surv = d.filter(F.col("doc_id") % 3 != 0)
    base = near_dup_pairs(surv, jaccard_threshold=0.3)
    sig = minhash_signatures(d).join(surv.select("doc_id"), "doc_id")
    inj = near_dup_pairs(surv, jaccard_threshold=0.3, signatures=sig)
    assert sorted(map(tuple, base.collect())) == sorted(
        map(tuple, inj.collect())
    )


def test_near_dup_pairs_subset_restriction(spark):
    """r9 (the pipeline_clean_corpus rework's correctness argument): LSH
    pair generation and Jaccard verification are PAIRWISE — whether
    (a, b) share a band bucket and what their shingle Jaccard is never
    depends on any third document — so running near_dup_pairs on a
    SUBSET equals running it on the full corpus and keeping only pairs
    with BOTH endpoints in the subset. pipeline_clean_corpus restricts
    the shared corpus pair table this way instead of re-running the band
    join on its survivors."""
    from pydatalake_spark.operators.minhash import near_dup_pairs
    from pydatalake_spark.queries.tables import load_table

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    surv = d.filter(F.col("doc_id") % 3 != 0)
    direct = near_dup_pairs(surv, jaccard_threshold=0.3)
    ids = surv.select("doc_id")
    restricted = (
        near_dup_pairs(d, jaccard_threshold=0.3)
        .join(ids.select(F.col("doc_id").alias("id_a")), "id_a", "left_semi")
        .join(ids.select(F.col("doc_id").alias("id_b")), "id_b", "left_semi")
        # a USING join moves its key to column position 0 — re-project to
        # the operator's column order so the row compare is by field
        .select("id_a", "id_b", "jaccard")
    )
    assert sorted(map(tuple, direct.collect())) == sorted(
        map(tuple, restricted.collect())
    )


def test_multimodal_resize_and_frames(spark):
    from pydatalake_spark.operators.multimodal import (
        attach_payload,
        resize_images,
        sample_frames,
    )
    from pydatalake_spark.queries.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(20)
    media = attach_payload(docs, "doc_id", "text")

    resized = resize_images(media, width=8, height=4)
    rows = resized.collect()
    assert len(rows) == 20
    assert all(len(r.payload) == 32 and r.width == 8 and r.height == 4 for r in rows)

    frames = sample_frames(media, num_frames=4)
    fr = frames.collect()
    assert len(fr) == 80
    by_id: dict = {}
    for r in fr:
        by_id.setdefault(r.media_id, set()).add(r.frame_idx)
    assert all(v == {0, 1, 2, 3} for v in by_id.values())

    with pytest.raises(Exception):
        resize_images(media, 4, 4, decode_stub="error").collect()


def test_sketch_summary_bounded_error(spark, events):
    from pydatalake_spark.functions.sketch import sketch_summary

    got = {
        r.event_type: r
        for r in sketch_summary(
            events, ["event_type"], "user_id", "value"
        ).collect()
    }
    exact = {
        r.event_type: r
        for r in events.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("user_id").alias("d"),
        )
        .collect()
    }
    assert set(got) == set(exact)
    for k, e in exact.items():
        assert got[k].n == e.n
        assert abs(got[k].approx_distinct - e.d) <= max(2, 0.05 * e.d)
        assert len(got[k].approx_quantiles) == 4


def test_hll_rollup_merges_without_rescan(spark, events):
    """Coarse-level estimates from UNIONED fine sketches must track the
    directly-computed coarse estimates (same sketch family, same data)."""
    from pydatalake_spark.functions.sketch import hll_rollup

    ev = events.withColumn("day", F.to_date("ts"))
    fine, coarse = hll_rollup(ev, ["day", "event_type"], ["event_type"], "user_id")
    assert fine.count() > coarse.count() > 0
    direct = {
        r.event_type: r.d
        for r in ev.groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).cast("long").alias("d"))
        .collect()
    }
    merged = {r.event_type: r.approx_distinct for r in coarse.collect()}
    assert merged == direct  # identical sketches -> identical estimates


def test_asof_nearest_and_tolerance_match_pandas(spark):
    """nearest/tolerance directions vs pd.merge_asof on random-ish data."""
    import pandas as pd

    left = pd.DataFrame(
        {"k": [1, 1, 1, 2, 2], "t": [10.0, 25.0, 40.0, 5.0, 100.0]}
    )
    right = pd.DataFrame(
        {"k": [1, 1, 1, 2], "t": [8.0, 27.0, 60.0, 50.0], "px": [1.0, 2.0, 3.0, 4.0]}
    )
    ldf = spark.createDataFrame(left)
    rdf = spark.createDataFrame(right)

    for direction, tol in [("nearest", None), ("backward", 10.0), ("nearest", 5.0)]:
        got = {
            (r.k, r.t): r.px_right
            for r in asof_join(
                ldf, rdf, on="t", by="k", direction=direction, tolerance=tol
            ).collect()
        }
        want_pdf = pd.merge_asof(
            left.sort_values("t"),
            right.sort_values("t"),
            on="t",
            by="k",
            direction=direction,
            tolerance=tol,
        )
        want = {
            (r.k, r.t): (None if pd.isna(r.px) else r.px)
            for r in want_pdf.itertuples()
        }
        assert got == want, f"direction={direction} tolerance={tol}"


def test_winnow_fingerprints_edit_robust(spark):
    """Winnowing property: an insertion edit leaves most fingerprints
    shared; an unrelated doc shares almost none."""
    import pandas as pd

    from pydatalake_spark.functions.text import winnow_fingerprints

    base = "the quick brown fox jumps over the lazy dog again and again today"
    edited = base.replace("jumps over", "jumps right over")
    other = "completely different content with zero overlap whatsoever here"
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1, 2], "text": [base, edited, other]})
    )
    fps = {
        r.doc_id: set(r.f)
        for r in df.select("doc_id", winnow_fingerprints("text").alias("f")).collect()
    }
    sim_edit = len(fps[0] & fps[1]) / len(fps[0] | fps[1])
    sim_other = len(fps[0] & fps[2]) / len(fps[0] | fps[2])
    assert sim_edit > 0.5
    assert sim_other < 0.1


def test_asof_null_left_ts_matches_nothing(spark):
    import pandas as pd

    left = spark.createDataFrame(
        pd.DataFrame({"k": [1, 1], "t": [None, 6.0]}), schema="k long, t double"
    )
    right = spark.createDataFrame(
        pd.DataFrame({"k": [1], "t": [5.0], "px": [9.0]}),
        schema="k long, t double, px double",
    )
    for direction in ("backward", "forward", "nearest"):
        rows = {r.t: r.px_right for r in asof_join(
            left, right, on="t", by="k", direction=direction
        ).collect()}
        assert rows[None] is None, direction
        assert rows[6.0] == (9.0 if direction != "forward" else None), direction


def test_insert_only_new_dedups_source_keys(spark):
    import pandas as pd

    from pydatalake_spark.operators.insert import insert_only_new

    target = spark.createDataFrame(
        pd.DataFrame({"k": [1], "v": ["a"]}), schema="k long, v string"
    )
    source = spark.createDataFrame(
        pd.DataFrame({"k": [2, 2, 1], "v": ["x", "y", "z"]}),
        schema="k long, v string",
    )
    out = insert_only_new(target, source, subset="k").collect()
    keys = sorted(r.k for r in out)
    assert keys == [1, 2]  # one row per key — no duplicate-key inserts


def test_simhash_near_dup_parameter_guards(spark):
    from pydatalake_spark.operators.simhash import simhash_near_dup

    df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="divide"):
        simhash_near_dup(df, num_bands=5, max_hamming=3)
    with pytest.raises(ValueError, match="max_hamming"):
        simhash_near_dup(df, num_bands=2, max_hamming=3)
    with pytest.raises(ValueError, match="straddles"):
        simhash_near_dup(df, num_bands=1, max_hamming=0)


def test_lsh_bucket_cap_bounds_candidates(spark):
    """A corpus of identical docs makes one hot bucket with O(n^2) pairs;
    the cap removes it entirely while distinct docs still pair up."""
    import pandas as pd

    from pydatalake_spark.operators.minhash import lsh_candidate_pairs

    same = ["the same boilerplate text repeated verbatim in every document"] * 30
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(30), "text": same})
    )
    uncapped = lsh_candidate_pairs(df).count()
    assert uncapped == 30 * 29 / 2
    capped = lsh_candidate_pairs(df, max_bucket_size=10).count()
    assert capped == 0  # the single hot bucket exceeded the cap and dropped


def test_split_by_hash_stable_and_disjoint(spark):
    from pydatalake_spark.functions.split import split_by_hash
    from pydatalake_spark.queries.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    s1 = split_by_hash(docs, "doc_id", fr)
    s2 = split_by_hash(docs.repartition(7), "doc_id", fr)  # different layout
    ids1 = {k: {r.doc_id for r in v.select("doc_id").collect()} for k, v in s1.items()}
    ids2 = {k: {r.doc_id for r in v.select("doc_id").collect()} for k, v in s2.items()}
    assert ids1 == ids2  # membership is partitioning-independent
    all_ids = set().union(*ids1.values())
    assert sum(len(v) for v in ids1.values()) == len(all_ids) == docs.count()
    assert 0.6 < len(ids1["train"]) / len(all_ids) < 0.95


def test_ngram_jaccard_exact_superset_of_lsh(spark):
    """Exact inverted-index Jaccard finds every pair the LSH+verify path
    finds (recall 1 at the same threshold), with identical jaccard values;
    a known similar pair and a known dissimilar pair behave as expected."""
    import pandas as pd

    from pydatalake_spark.operators.minhash import near_dup_pairs
    from pydatalake_spark.operators.ngram_jaccard import ngram_jaccard_pairs
    from tests.conftest import cc_loop

    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [
                "the quick brown fox jumps over the lazy dog today",
                "the quick brown fox jumps over the lazy dog tonight",
                "completely unrelated content about spark shuffles and joins",
                "another wholly different document concerning parquet files",
            ],
        }
    )
    df = spark.createDataFrame(docs)
    lsh = {
        (r.id_a, r.id_b): r.jaccard
        for r in near_dup_pairs(df, jaccard_threshold=0.5).collect()
    }
    for spark_path in (False, True):
        with cc_loop(spark, spark_path):
            exact = {
                (r.id_a, r.id_b): r.jaccard
                for r in ngram_jaccard_pairs(df, threshold=0.5).collect()
            }
        assert (1, 2) in exact and exact[(1, 2)] >= 0.5
        assert (3, 4) not in exact
        assert set(lsh) <= set(exact)  # exact is recall-1; LSH may only miss
        for pair in lsh:
            assert abs(lsh[pair] - exact[pair]) < 1e-12


def test_ngram_jaccard_max_df_prunes_hot_shingles(spark):
    """A boilerplate shingle shared by every doc explodes the index join;
    max_df drops it, and pairs whose ONLY overlap was boilerplate vanish."""
    import pandas as pd

    from pydatalake_spark.operators.ngram_jaccard import ngram_jaccard_pairs
    from tests.conftest import cc_loop

    same = ["common header line one two three unique%d tail" % i for i in range(20)]
    df = spark.createDataFrame(pd.DataFrame({"doc_id": range(20), "text": same}))
    for spark_path in (False, True):
        with cc_loop(spark, spark_path):
            uncapped = ngram_jaccard_pairs(df, threshold=0.5).count()
            # everything pairs via the shared header
            assert uncapped == 20 * 19 / 2, spark_path
            capped = ngram_jaccard_pairs(df, threshold=0.5, max_df=5).count()
            assert capped == 0, spark_path


def test_ngram_max_df_frame_must_have_one_row(spark):
    """A ``max_df`` frame carries ONE cap: an empty or a two-row frame
    raises when the plan runs instead of pruning by nothing or by the
    smallest row, on both paths."""
    import pandas as pd

    from pydatalake_spark.operators.ngram_jaccard import ngram_jaccard_pairs
    from tests.conftest import cc_loop

    same = ["common header line one two three unique%d tail" % i for i in range(20)]
    df = spark.createDataFrame(pd.DataFrame({"doc_id": range(20), "text": same}))
    for spark_path in (False, True):
        for rows in ([], [(5,), (50,)]):
            cap = spark.createDataFrame(rows, "__max_df long")
            with cc_loop(spark, spark_path), pytest.raises(
                Exception, match="exactly one row"
            ):
                ngram_jaccard_pairs(df, threshold=0.5, max_df=cap).collect()


def test_ngram_registry_max_df_frame_prunes_like_int_at_no_extra_job(spark):
    """The registry's one-row in-plan cap prunes exactly like the same
    cap as an int, and the cap frame's row check fires no job beyond
    the unchecked cross-join form."""
    from pydatalake_spark.operators.ngram_jaccard import (
        _hot_shingles,
        ngram_jaccard_pairs,
        shingle_sets,
    )
    from pydatalake_spark.queries.tables import load_table
    from pydatalake_spark.queries.text import _ngram_max_df_plan
    from tests.conftest import SF_DIR, cc_loop, jobs_in

    docs = load_table(spark, SF_DIR, "documents")
    cap = _ngram_max_df_plan(docs)
    as_int = cap.first()["__max_df"]

    def pairs(max_df):
        return sorted(
            map(tuple, ngram_jaccard_pairs(docs, threshold=0.5, max_df=max_df).collect())
        )

    for spark_path in (False, True):
        with cc_loop(spark, spark_path):
            assert pairs(cap) == pairs(as_int), spark_path

    dfc = (
        shingle_sets(docs)
        .select(F.explode("sset").alias("shingle"))
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("__df"))
    )
    bare, n_bare = jobs_in(
        spark,
        "max_df_bare",
        lambda: dfc.crossJoin(F.broadcast(cap))
        .filter(F.col("__df") > F.col("__max_df"))
        .select("shingle")
        .collect(),
    )
    checked, n_checked = jobs_in(
        spark, "max_df_checked", lambda: _hot_shingles(dfc, cap).collect()
    )
    assert sorted(bare) == sorted(checked)
    assert n_checked == n_bare


def test_stratified_sample_stable_nested_and_rated(spark):
    """Membership is partitioning-independent; raising a rate strictly
    grows the sample (nested property); per-stratum rates land near
    target; out-of-range rates raise."""
    import pytest

    from pydatalake_spark.functions.split import stratified_sample
    from pydatalake_spark.queries.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    s1 = stratified_sample(docs, "doc_id", "lang", {"en": 0.25}, default_rate=0.6)
    s2 = stratified_sample(
        docs.repartition(7), "doc_id", "lang", {"en": 0.25}, default_rate=0.6
    )
    ids1 = {r.doc_id for r in s1.select("doc_id").collect()}
    ids2 = {r.doc_id for r in s2.select("doc_id").collect()}
    assert ids1 == ids2

    bigger = stratified_sample(docs, "doc_id", "lang", {"en": 0.5}, default_rate=0.6)
    assert ids1 <= {r.doc_id for r in bigger.select("doc_id").collect()}

    n_en_total = docs.filter("lang = 'en'").count()
    n_en_kept = s1.filter("lang = 'en'").count()
    assert 0.1 < n_en_kept / n_en_total < 0.4  # ~0.25 with 200-doc noise

    with pytest.raises(ValueError, match="not in"):
        stratified_sample(docs, "doc_id", "lang", {"en": 1.5})


def test_connected_components_chain_and_dedup(spark):
    """A~B, B~C chains must land in ONE cluster (the under-dedup case that
    pair-local dropping misses); dedup keeps exactly the min-id member of
    each component and passes untouched rows through — on both CC paths."""
    import pandas as pd

    from pydatalake_spark.operators.cluster import (
        connected_components,
        dedup_by_clusters,
    )
    from tests.conftest import cc_loop

    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": [1, 2, 7, 10], "id_b": [2, 3, 8, 1]})
    )
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3, 7, 8, 10, 99], "x": range(7)})
    )
    for loop in (False, True):
        with cc_loop(spark, loop):
            cc = {
                r.node: r.cluster_id
                for r in connected_components(pairs).collect()
            }
            assert cc == {1: 1, 2: 1, 3: 1, 10: 1, 7: 7, 8: 7}, loop
            kept = sorted(
                r.doc_id
                for r in dedup_by_clusters(docs, pairs).select("doc_id").collect()
            )
            assert kept == [1, 7, 99], loop


def test_cc_edge_inputs_agree_on_both_paths(spark):
    """A null id names no document: its pair is dropped before either
    path runs, so [(1,2),(2,None),(None,5)] clusters {1, 2} only, with
    no null node and no node 5. Duplicate and reversed pairs collapse to
    one edge, and an empty pair table gives an empty result with the id
    type."""
    from pydatalake_spark.operators.cluster import connected_components
    from tests.conftest import cc_loop

    cases = {
        "nulls": ([(1, 2), (2, None), (None, 5), (None, None)], {1: 1, 2: 1}),
        "dup_rev": (
            [(4, 3), (3, 4), (4, 3), (9, 8), (8, 9), (3, 3)],
            {3: 3, 4: 3, 8: 8, 9: 8},
        ),
        "empty": ([], {}),
    }
    for loop in (False, True):
        with cc_loop(spark, loop):
            for name, (edges, want) in cases.items():
                cc = connected_components(
                    spark.createDataFrame(edges, "id_a long, id_b long")
                )
                assert {r.node: r.cluster_id for r in cc.collect()} == want, (
                    name,
                    loop,
                )
                assert cc.dtypes == [
                    ("node", "bigint"),
                    ("cluster_id", "bigint"),
                ], (name, loop)


def test_cc_checkpoints_reaped_between_iterations(spark, monkeypatch):
    """The iterative loops must REAP checkpoint blocks as generations
    die — unreaped label/edge generations accumulate on local disk. A
    long chain graph forces many iterations; afterwards the
    persistent-RDD count must be back to ~the pre-call level (+ the
    returned frame's own checkpoint), not +O(iterations)."""
    import pandas as pd

    from pydatalake_spark.operators.bpe import train_bpe
    from pydatalake_spark.operators.cluster import (
        connected_components,
        label_propagation,
        pagerank,
    )
    from tests.conftest import cc_loop

    def n_persistent():
        return int(
            spark.sparkContext._jsc.getPersistentRDDs().keySet().size()
        )

    # chain 0-1-2-...-19: diameter 19 → ~10+ min-label rounds
    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": list(range(19)), "id_b": list(range(1, 20))})
    )
    with cc_loop(spark, True):
        before = n_persistent()
        cc = connected_components(pairs)
        assert {r.cluster_id for r in cc.collect()} == {0}
        # live: the returned labels' checkpoint (edges reaped on convergence)
        assert n_persistent() <= before + 1

    before = n_persistent()
    label_propagation(pairs, num_iters=5).collect()
    assert n_persistent() <= before + 1  # final labels; edges reaped

    # BPE training returns a plain list: no checkpoint generation is
    # left live, neither superseded ones nor the last. The checkpointed
    # frames are held here, so only a reap, never the ContextCleaner,
    # can drop their blocks.
    made = []
    real = type(pairs).localCheckpoint

    def held(self, *args, **kwargs):
        made.append(real(self, *args, **kwargs))
        return made[-1]

    monkeypatch.setattr(type(pairs), "localCheckpoint", held)

    def live_checkpoints():
        live = spark.sparkContext._jsc.getPersistentRDDs()
        ids = [
            int(f._jdf.queryExecution().analyzed().rdd().id()) for f in made
        ]
        return len(ids), [i for i in ids if live.get(i) is not None]

    # the union-find path returns a local relation. Edges that already
    # are one make no checkpoint; any other edge plan makes one, reaped
    # once collected, so nothing stays live
    assert {r.cluster_id for r in connected_components(pairs).collect()} == {0}
    assert live_checkpoints() == (0, [])
    chain = spark.range(19).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    assert {r.cluster_id for r in connected_components(chain).collect()} == {0}
    assert live_checkpoints() == (1, [])

    # pagerank: every superseded rank generation is reaped; the
    # symmetrized edges and the last rank generation stay live
    made.clear()
    pagerank(pairs, iters=12).collect()
    n_made, live = live_checkpoints()
    assert n_made == 4 and len(live) <= 2  # bidir + 3 rank generations

    # label propagation: the edge checkpoint and every superseded label
    # generation are reaped, only the returned labels stay live
    made.clear()
    label_propagation(pairs, num_iters=5).collect()
    n_made, live = live_checkpoints()
    assert n_made == 6 and len(live) == 1  # edges + 5 label generations

    made.clear()
    docs = spark.createDataFrame(
        pd.DataFrame(
            {"text": ["the quick brown fox jumps over the lazy dog"] * 3}
        )
    )
    assert len(train_bpe(docs, num_merges=12)) == 12
    assert live_checkpoints() == (4, [])


def test_quantized_cosine_preserves_neighbors(spark):
    """int8 codes must preserve neighborhood structure: for a sample of
    query vectors, exact-cosine top-10 over the dequantized corpus shares
    >= 7/10 with the float top-10; zero vectors quantize to NULL scale and
    all-zero codes."""
    import pandas as pd

    from pydatalake_spark.operators.similarity import quantize_embeddings
    from pydatalake_spark.queries.tables import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    qz = quantize_embeddings(emb)
    deq = qz.withColumn(
        "deq",
        F.when(
            F.col("scale").isNotNull(),
            F.transform("q", lambda x: x.cast("double") / F.col("scale")),
        ).otherwise(F.transform("q", lambda x: x.cast("double"))),
    )
    rows = deq.select("vec_id", "embedding", "deq").limit(200).collect()
    import numpy as np

    ids = [r.vec_id for r in rows]
    orig = np.array([r.embedding for r in rows], dtype=np.float64)
    deqm = np.array([r.deq for r in rows], dtype=np.float64)

    def topk(mat, qv, k=10):
        sims = mat @ qv / (np.linalg.norm(mat, axis=1) * np.linalg.norm(qv) + 1e-12)
        return set(np.argsort(-sims)[:k])

    overlaps = [
        len(topk(orig, orig[i]) & topk(deqm, deqm[i])) for i in range(0, 50, 5)
    ]
    assert min(overlaps) >= 7, overlaps

    zero = spark.createDataFrame(
        pd.DataFrame({"vec_id": [1], "embedding": [[0.0, 0.0, 0.0]]})
    )
    zr = quantize_embeddings(zero).collect()[0]
    assert zr.scale is None and list(zr.q) == [0, 0, 0]


def test_merge_upsert_semantics(spark):
    """Matched keys take the source row, unmatched target rows survive,
    new source keys insert, duplicate source keys resolve to one row."""
    import pandas as pd

    from pydatalake_spark.operators.insert import merge_upsert

    target = spark.createDataFrame(
        pd.DataFrame({"k": [1, 2, 3], "v": ["a", "b", "c"]})
    )
    source = spark.createDataFrame(
        pd.DataFrame({"k": [2, 4, 4], "v": ["B", "D1", "D2"]})
    )
    out = {r.k: r.v for r in merge_upsert(target, source, "k").collect()}
    assert out == {1: "a", 2: "B", 3: "c", 4: "D1"}


def test_cc_matches_union_find(spark):
    """Both CC paths equal a union-find reference on a seeded random graph
    AND on a long path graph with shuffled ids (the adversarial-diameter
    case: one loop round per hop)."""
    import random

    import pandas as pd

    from pydatalake_spark.operators.cluster import connected_components
    from tests.conftest import cc_loop

    rng = random.Random(7)
    nodes = list(range(1000, 1200))
    edges = [tuple(rng.sample(nodes, 2)) for _ in range(120)]
    perm = nodes[:]
    rng.shuffle(perm)
    path = list(zip(perm[:80], perm[1:81]))  # 80-edge path: diameter 80

    for edge_set in (edges, path, edges + path):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edge_set:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        expect = {x: find(x) for x in parent}

        df = spark.createDataFrame(
            pd.DataFrame(edge_set, columns=["id_a", "id_b"])
        )
        for loop in (False, True):
            with cc_loop(spark, loop):
                got_prop = {
                    r.node: r.cluster_id
                    for r in connected_components(df, max_iter=100).collect()
                }
            assert got_prop == expect, loop


def test_cc_job_count_independent_of_diameter(spark):
    """Under the driver bound CC fires a small constant number of jobs
    (the edge build's count and one Arrow collect) whatever the graph's
    diameter, and returns a local relation: collecting it runs no job
    and no Python worker. The min-label loop fires a job per hop. The
    edges come from ``spark.range`` so they are not already a local
    relation (that case is pinned by
    ``test_driver_pair_front_and_cc_fire_few_jobs``)."""
    from pydatalake_spark.operators.cluster import connected_components
    from tests.conftest import jobs_in

    ccs, counts = {}, {}
    for hops in (2, 80):
        df = spark.range(hops).select(
            F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
        )
        ccs[hops], counts[hops] = jobs_in(
            spark,
            f"cc_path_{hops}",
            lambda: connected_components(df, max_iter=100),
        )
    assert counts[2] == counts[80] <= 4, counts
    for hops, cc in ccs.items():
        assert "LocalRelation" in cc._jdf.queryExecution().analyzed().toString()
        rows, n = jobs_in(spark, f"cc_collect_{hops}", cc.collect)
        assert n == 0
        assert {r.cluster_id for r in rows} == {0}


def test_driver_pair_front_and_cc_fire_few_jobs(spark):
    """On the sf0.001 docs the exact pair front takes the driver kernel:
    measuring the input, collecting it and resolving the pairs fire at
    most 6 jobs together with CC. The pairs come back as a
    ``LocalRelation`` that ``cache_once`` leaves uncached and CC reads
    with no job (no checkpoint, no count, no Arrow collect). They equal
    the Spark plan's pairs."""
    from pyspark.storagelevel import StorageLevel

    from pydatalake_spark.operators.cluster import connected_components
    from pydatalake_spark.operators.ngram_jaccard import ngram_jaccard_pairs
    from pydatalake_spark.queries.tables import load_table
    from pydatalake_spark.queries.text import _MH_K, _ngram_max_df_plan
    from pydatalake_spark.session import cache_once
    from tests.conftest import SF_DIR, cc_loop, jobs_in

    docs = load_table(spark, SF_DIR, "documents")

    def front():
        return ngram_jaccard_pairs(
            docs, shingle_size=_MH_K, threshold=0.5,
            max_df=_ngram_max_df_plan(docs),
        )

    pairs, n_pairs = jobs_in(spark, "pair_front", front)
    assert (
        pairs._jdf.queryExecution().analyzed().getClass().getSimpleName()
        == "LocalRelation"
    )
    assert cache_once(pairs) is pairs
    assert pairs.storageLevel == StorageLevel.NONE
    cc, n_cc = jobs_in(spark, "pair_front_cc", lambda: connected_components(pairs))
    assert n_cc == 0
    assert n_pairs + n_cc <= 6, (n_pairs, n_cc)
    got = sorted(map(tuple, pairs.collect()))
    assert got
    with cc_loop(spark, True):
        assert sorted(map(tuple, front().collect())) == got


def test_cc_respects_max_result_size():
    """The driver bound is the least of the broadcast threshold and
    ``spark.driver.maxResultSize``: with a 1 GB threshold and a 1 MB
    result cap, CC on a low-diameter graph whose edge table is over 1 MB
    takes the min-label loop (collecting the edges would abort the job)
    and labels every node with its star's minimum. ``maxResultSize`` is
    fixed when the context starts, so this runs in its own session."""
    import os
    import subprocess
    import sys

    script = """
from pyspark.sql import functions as F
from pydatalake_spark.operators.cluster import connected_components
from pydatalake_spark.session import driver_bound, get_spark

spark = get_spark("maxresult", master="local[2]", extra_conf={
    "spark.driver.maxResultSize": "1m",
    "spark.sql.autoBroadcastJoinThreshold": str(1 << 30),
})
assert driver_bound(spark) == 1 << 20, driver_bound(spark)
# 100 stars of 5 nodes (diameter 2), each of their 400 edges listed
# 175 times: CC sizes the raw pair table, 70,000 rows x 16 bytes, over
# 1 MB. The loop deduplicates the edges before it joins; its joins are
# planned by Spark under the 1 GB threshold alone, so distinct edges
# over 1 MB would make Spark's own broadcast hit the result cap.
edges = spark.range(70_000).select(
    ((F.col("id") % 100) * 5).alias("id_a"),
    ((F.col("id") % 100) * 5 + 1 + F.col("id") / 100 % 4).cast("long").alias("id_b"),
)
cc = connected_components(edges)
bad = cc.filter(F.col("cluster_id") != F.col("node") - F.col("node") % 5)
print("RESULT", cc.count(), bad.count())
spark.stop()
"""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=root + os.pathsep + os.environ.get("PYTHONPATH", ""))
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=root, env=env, capture_output=True, text=True, timeout=600,
    )
    assert "RESULT 500 0" in out.stdout, out.stdout + out.stderr[-3000:]


def test_operator_twins_are_chosen_from_input():
    """One implementation per operator: a public pair ``X`` / ``X_numpy``
    in ``pydatalake_spark/operators/`` may stay only when some library
    function calls both, i.e. the code picks between them from what it
    observes (``membership_screen`` picks ``bloom_contains`` or
    ``bloom_contains_numpy`` from the key count). A reference form a
    test compares the production path against lives in the test
    module."""
    import ast
    import glob
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    defs: set[str] = set()
    calls: list[set[str]] = []
    for path in glob.glob(os.path.join(root, "pydatalake_spark/operators/*.py")):
        tree = ast.parse(open(path).read())
        defs |= {
            n.name for n in tree.body
            if isinstance(n, ast.FunctionDef) and not n.name.startswith("_")
        }
        for fn in ast.walk(tree):
            if isinstance(fn, ast.FunctionDef):
                calls.append({
                    c.func.id if isinstance(c.func, ast.Name) else c.func.attr
                    for c in ast.walk(fn)
                    if isinstance(c, ast.Call)
                    and isinstance(c.func, (ast.Name, ast.Attribute))
                })
    pairs = sorted(
        d[: -len("_numpy")] for d in defs
        if d.endswith("_numpy") and d[: -len("_numpy")] in defs
    )
    unchosen = [
        x for x in pairs if not any({x, x + "_numpy"} <= c for c in calls)
    ]
    assert pairs, "no X/X_numpy pair found: the scan is broken"
    assert unchosen == [], unchosen


def test_cc_loop_never_broadcasts_edges():
    """The min-label loop runs only on edge tables above
    ``session.driver_bound``, so none of its joins may broadcast the
    edges: with a 1 GB broadcast threshold and a 1 MB result cap, CC on
    73,500 DISTINCT clique edges (700 cliques of 15 nodes; 147,000
    symmetrized rows, 2.35 MB) must finish the loop with every node
    labeled by its clique's minimum. A broadcast of the edge side would
    collect them past ``spark.driver.maxResultSize`` and abort."""
    import os
    import subprocess
    import sys

    script = """
from pyspark.sql import functions as F
from pydatalake_spark.operators.cluster import connected_components
from pydatalake_spark.session import get_spark

spark = get_spark("ccnobcast", master="local[2]", extra_conf={
    "spark.driver.maxResultSize": "1m",
    "spark.sql.autoBroadcastJoinThreshold": str(1 << 30),
})
r = spark.range(700 * 225).select(
    (F.col("id") / 225).cast("long").alias("c"),
    (F.col("id") % 225 / 15).cast("long").alias("i"),
    (F.col("id") % 15).alias("j"),
).filter(F.col("i") < F.col("j"))
edges = r.select(
    (F.col("c") * 15 + F.col("i")).alias("id_a"),
    (F.col("c") * 15 + F.col("j")).alias("id_b"),
)
cc = connected_components(edges)
bad = cc.filter(F.col("cluster_id") != F.col("node") - F.col("node") % 15)
print("RESULT", edges.count(), cc.count(), bad.count())
spark.stop()
"""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=root + os.pathsep + os.environ.get("PYTHONPATH", ""))
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=root, env=env, capture_output=True, text=True, timeout=600,
    )
    assert "RESULT 73500 10500 0" in out.stdout, out.stdout + out.stderr[-3000:]


def test_graph_loops_never_broadcast_edges():
    """``label_propagation`` and ``pagerank`` always run distributed
    loops, so their edge joins may not broadcast the edges either: with
    a 1 GB broadcast threshold and a 1 MB result cap, both run on the
    73,500 clique edges of the CC test above (147,000 symmetrized rows,
    2.35 MB). LPA labels every node with its clique's minimum after
    three rounds; PageRank on the 15-regular graph gives every node
    1/10,500. A broadcast of the edge side would collect them past
    ``spark.driver.maxResultSize`` and abort. Each leg reports on its
    own line."""
    import os
    import subprocess
    import sys

    script = """
from pyspark.sql import functions as F
from pydatalake_spark.operators.cluster import label_propagation, pagerank
from pydatalake_spark.session import get_spark

spark = get_spark("graphnobcast", master="local[2]", extra_conf={
    "spark.driver.maxResultSize": "1m",
    "spark.sql.autoBroadcastJoinThreshold": str(1 << 30),
})
r = spark.range(700 * 225).select(
    (F.col("id") / 225).cast("long").alias("c"),
    (F.col("id") % 225 / 15).cast("long").alias("i"),
    (F.col("id") % 15).alias("j"),
).filter(F.col("i") < F.col("j"))
edges = r.select(
    (F.col("c") * 15 + F.col("i")).alias("id_a"),
    (F.col("c") * 15 + F.col("j")).alias("id_b"),
)
try:
    lpa = label_propagation(edges, num_iters=3)
    bad = lpa.filter(F.col("community") != F.col("node") - F.col("node") % 15)
    print("RESULT lpa", lpa.count(), bad.count())
except Exception as e:
    print("FAILED lpa", type(e).__name__)
try:
    pr = pagerank(edges, iters=4)
    bad = pr.filter(F.abs(F.col("rank") - 1 / 10500) > 1e-12)
    print("RESULT pagerank", pr.count(), bad.count())
except Exception as e:
    print("FAILED pagerank", type(e).__name__)
spark.stop()
"""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=root + os.pathsep + os.environ.get("PYTHONPATH", ""))
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=root, env=env, capture_output=True, text=True, timeout=600,
    )
    for leg in ("lpa", "pagerank"):
        assert f"RESULT {leg} 10500 0" in out.stdout, out.stdout + out.stderr[-3000:]


def test_quality_score_empty_doc_yields_null_not_error(spark):
    """ANSI mode turns 0/0 into a job-killing error; empty documents must
    instead yield NULL ratios (and get filtered by quality thresholds)."""
    import pandas as pd

    import pydatalake_spark.queries.text as tx

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["", "hello world ok"]})
    )
    orig = tx._t
    tx._t = lambda spark, sf, name: df
    try:
        rows = {r.doc_id: r for r in tx.QUERIES["text_quality_score"](spark, "x").collect()}
    finally:
        tx._t = orig
    assert rows[1].punct_ratio is None and rows[1].quality_score is None
    assert rows[2].quality_score is not None


def test_ivf_centroid_roundtrip(spark, tmpdir_path):
    """Saved quantizer loads back bit-identical, and ivf_topk over loaded
    centroids equals ivf_topk over the originals."""
    import os

    from pydatalake_spark.operators.similarity import (
        ivf_topk,
        load_ivf_centroids,
        save_ivf_centroids,
        train_ivf_centroids,
    )
    from pydatalake_spark.queries.tables import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    cents = train_ivf_centroids(emb, num_cells=4)
    path = os.path.join(tmpdir_path, "ivf_centroids")
    save_ivf_centroids(spark, cents, path)
    loaded = load_ivf_centroids(spark, path)
    assert loaded == cents

    q = emb.filter(F.col("vec_id") < 3)
    a = sorted(map(tuple, ivf_topk(emb, q, cents, k=5, nprobe=2).collect()))
    b = sorted(map(tuple, ivf_topk(emb, q, loaded, k=5, nprobe=2).collect()))
    assert a == b


def test_table_dedup_near_fluent(spark):
    """DataLakeTable.dedup_near removes whole near-dup CLUSTERS (keeping
    min id) for each method; chained docs collapse to one survivor."""
    import pandas as pd

    from pydatalake_spark.dataset.table import DataLakeTable

    base = (
        "the quick brown fox jumps over the lazy dog every single morning "
        "while the patient grey owl watches from the tall oak tree nearby"
    )
    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 9],
            "text": [
                base,
                base.replace("morning", "evening"),   # ~ doc 1
                base.replace("quick", "sleepy"),      # ~ doc 1 (chain via 1)
                "totally different text about parquet and shuffles here",
            ],
        }
    )
    df = spark.createDataFrame(docs)
    t = DataLakeTable(spark, path=None, name="docs_mem", df=df)
    # finer banding for the tiny corpus: the default 2-band config is tuned
    # for high-jaccard dups and (correctly, S-curve) may skip ~0.8 pairs
    per_method = {"minhash": {"num_bands": 4}, "ngram": {}, "simhash": {}}
    for method, kw in per_method.items():
        kept = sorted(
            r.doc_id
            for r in t.dedup_near("doc_id", method=method, **kw).to_df().collect()
        )
        assert kept == [1, 9], (method, kept)


def test_choose_lsh_params_scurve():
    """Minimum-band config that reaches the recall target; degenerate and
    unreachable settings raise."""
    import pytest

    from pydatalake_spark.operators.minhash import choose_lsh_params

    b, r = choose_lsh_params(0.5, num_hashes=128, min_recall=0.9)
    assert (b, r) == (64, 2) and b * r == 128
    recall = 1 - (1 - 0.5**r) ** b
    assert recall >= 0.9
    # fewer bands (next divisor down) must NOT reach the target
    assert 1 - (1 - 0.5**4) ** 32 < 0.9

    assert choose_lsh_params(0.8, num_hashes=128) == (16, 8)
    with pytest.raises(ValueError, match="not in"):
        choose_lsh_params(1.5)
    with pytest.raises(ValueError, match="increase num_hashes"):
        choose_lsh_params(0.05, num_hashes=2, min_recall=0.999)


def test_token_budget_sample_hits_budget(spark):
    """Sampled strata land near their token budgets; unbudgeted strata
    pass through whole; membership nests when a budget grows."""
    from pydatalake_spark.functions.split import sample_to_token_budget
    from pydatalake_spark.queries.tables import load_table
    from pydatalake_spark.functions.text import tokenize
    from pyspark.sql import functions as F

    d = load_table(spark, "/root/testdata/sf0.01", "documents").withColumn(
        "n_tok", F.size(tokenize("text")).cast("long")
    )
    out = sample_to_token_budget(d, "doc_id", "lang", "n_tok", {"en": 3000})
    got = {
        r.lang: r.t
        for r in out.groupBy("lang").agg(F.sum("n_tok").alias("t")).collect()
    }
    full = {
        r.lang: r.t
        for r in d.groupBy("lang").agg(F.sum("n_tok").alias("t")).collect()
    }
    assert got["en"] < full["en"] and 0.4 * 3000 < got["en"] < 2.0 * 3000
    for lang in full:
        if lang != "en":
            assert got[lang] == full[lang]  # untouched strata

    bigger = sample_to_token_budget(d, "doc_id", "lang", "n_tok", {"en": 6000})
    ids_small = {r.doc_id for r in out.filter("lang='en'").select("doc_id").collect()}
    ids_big = {r.doc_id for r in bigger.filter("lang='en'").select("doc_id").collect()}
    assert ids_small <= ids_big


def test_bloom_filter_no_false_negatives(spark):
    """Every key folded into the filter must test positive; absent keys
    false-positive at a bounded (and here observed-low) rate."""
    from pydatalake_spark.operators.bloom import bloom_build, bloom_contains

    members = spark.range(200).select(
        F.concat(F.lit("key-"), F.col("id")).alias("k")
    )
    absent = spark.range(200, 1200).select(
        F.concat(F.lit("key-"), F.col("id")).alias("k")
    )
    bitmap = bloom_build(members, key_col="k")
    assert bitmap.count() <= 4096 // 32

    hits_m = bloom_contains(members, bitmap, key_col="k")
    assert hits_m.filter(~F.col("bf_hit")).count() == 0  # no false negatives

    hits_a = bloom_contains(absent, bitmap, key_col="k")
    fp = hits_a.filter(F.col("bf_hit")).count()
    # 200 keys * 17 double-hash probes in 4096 bits -> load 1-e^-0.83,
    # theoretical fp ~ (0.56)^17 ~ 5e-5; allow generous slack
    assert fp / 1000 < 0.05


def test_bloom_contains_numpy_matches_join_tier(spark):
    """The vectorized Arrow probe must agree bit-for-bit with the
    broadcast-join probe on every key — member and absent alike."""
    from pydatalake_spark.operators.bloom import (
        bloom_build,
        bloom_contains,
        bloom_contains_numpy,
    )

    keys = spark.range(500).select(
        F.concat(F.lit("key-"), F.col("id")).alias("k")
    )
    members = keys.filter("substr(k, 5) % 3 = 0")
    bitmap = bloom_build(members, key_col="k")
    join_tier = {
        r.k: r.bf_hit
        for r in bloom_contains(keys, bitmap, key_col="k").collect()
    }
    vec_tier = {
        r.k: r.bf_hit
        for r in bloom_contains_numpy(keys, bitmap, key_col="k").collect()
    }
    assert join_tier == vec_tier
    assert sum(vec_tier.values()) >= 167  # every member hits


def test_bloom_build_chunks_word_identical(spark):
    """The numpy partial-bitmap build (mapInPandas dense OR + chunk
    merge) must produce EXACTLY the bitmap the expression build does —
    same words, same bits — and both probes must accept its output."""
    from pydatalake_spark.operators.bloom import (
        bloom_build,
        bloom_build_chunks,
        bloom_chunks_to_words,
        bloom_contains,
        bloom_contains_numpy,
        bloom_num_bits,
        bloom_words_literal,
    )

    members = spark.range(700).select(
        F.concat(F.lit("bk-"), F.col("id")).alias("k")
    )
    m = bloom_num_bits(700)
    words_expr = bloom_words_literal(
        bloom_build(members, key_col="k", num_bits=m)
    )
    chunked = bloom_build_chunks(members, key_col="k", num_bits=m)
    words_np = bloom_words_literal(chunked)
    assert words_np == words_expr
    # chunks→words expansion agrees too
    words_rows = {
        int(r.word_idx): int(r.word)
        for r in bloom_chunks_to_words(chunked).collect()
    }
    assert words_rows == words_expr
    # both probe tiers accept the chunked layout: all members hit
    probe = spark.range(700).select(
        F.concat(F.lit("bk-"), F.col("id")).alias("k")
    )
    assert (
        bloom_contains_numpy(probe, chunked, key_col="k", num_bits=m)
        .filter(~F.col("bf_hit"))
        .count()
        == 0
    )
    assert (
        bloom_contains(probe, chunked, key_col="k", num_bits=m)
        .filter(~F.col("bf_hit"))
        .count()
        == 0
    )


def test_bloom_tiers_interchangeable_on_dups_and_nulls(spark):
    """r5 ADVICE: the join and numpy probe tiers must stay output-
    equivalent on NON-distinct and null-key probe inputs — duplicates
    preserved one-for-one, null keys read bf_hit=false on both."""
    from pydatalake_spark.operators.bloom import (
        bloom_build,
        bloom_contains,
        bloom_contains_numpy,
    )

    members = spark.range(100).select(
        F.concat(F.lit("dk-"), F.col("id")).alias("k")
    )
    bitmap = bloom_build(members, key_col="k")
    probe = spark.createDataFrame(
        [("dk-1", 1), ("dk-1", 2), ("dk-1", 2), (None, 3), ("absent", 4)],
        "k string, tag int",
    )
    nullsafe = lambda t: (t[0] is None, t[0] or "", t[1], t[2])  # noqa: E731
    jt = sorted(
        (
            (r.k, r.tag, r.bf_hit)
            for r in bloom_contains(probe, bitmap, key_col="k").collect()
        ),
        key=nullsafe,
    )
    vt = sorted(
        (
            (r.k, r.tag, r.bf_hit)
            for r in bloom_contains_numpy(probe, bitmap, key_col="k").collect()
        ),
        key=nullsafe,
    )
    assert jt == vt
    assert len(jt) == 5  # duplicates preserved
    by_key = {}
    for k, _tag, hit in jt:
        by_key.setdefault(k, set()).add(hit)
    assert by_key["dk-1"] == {True}
    assert by_key[None] == {False}  # null key is never a member


def _force_bloom_tier(monkeypatch, vector_max_bits, join_max_bits):
    """Pin the bloom tier ceilings, which the dispatch reads at call
    time."""
    import pydatalake_spark.operators.bloom as B

    monkeypatch.setattr(B, "BLOOM_VECTOR_MAX_BITS", vector_max_bits)
    monkeypatch.setattr(B, "BLOOM_JOIN_MAX_BITS", join_max_bits)


def test_membership_screen_three_tier_dispatch(spark, monkeypatch):
    """The explicit vector/join/exact dispatch. Force each tier via the
    ceiling constants; every tier must keep all members (no false
    negatives) and the exact tier must have zero false positives."""
    from pydatalake_spark.operators.bloom import (
        bloom_num_bits,
        bloom_tier,
        membership_screen,
    )

    train = spark.range(300).select(
        F.concat(F.lit("tk-"), F.col("id")).alias("k")
    )
    probe = spark.range(600).select(
        F.concat(F.lit("tk-"), F.col("id")).alias("k")
    )
    m = bloom_num_bits(300)
    forced = {
        "vector": dict(vector_max_bits=m, join_max_bits=2 * m),
        "join": dict(vector_max_bits=m // 2, join_max_bits=m),
        "exact": dict(vector_max_bits=m // 4, join_max_bits=m // 2),
    }
    for tier, kw in forced.items():
        _force_bloom_tier(monkeypatch, **kw)
        assert bloom_tier(300) == tier
        rows = membership_screen(probe, train, key_col="k").collect()
        assert len(rows) == 600
        hits = {r.k: r.bf_hit for r in rows}
        assert all(hits[f"tk-{i}"] for i in range(300)), tier  # no FN
        fp = sum(hits[f"tk-{i}"] for i in range(300, 600))
        if tier == "exact":
            assert fp == 0
        else:
            assert fp / 300 < 0.05, tier


def test_membership_screen_exact_tier_probe_carrying_hit_column(
    spark, monkeypatch
):
    """r7 ADVICE (medium): the decontamination audit passes a probe that
    already carries a `_hit` marker column into membership_screen; the
    exact tier's internal join marker must not collide with it (the old
    `_hit` internal name raised AMBIGUOUS_REFERENCE exactly past the
    2^31-bit join ceiling — the scale the tier exists for)."""
    from pydatalake_spark.operators.bloom import (
        bloom_num_bits,
        bloom_tier,
        membership_screen,
    )

    train = spark.range(50).select(
        F.concat(F.lit("ek-"), F.col("id")).alias("k")
    )
    # probe with a pre-existing _hit column (and a second hostile name)
    probe = spark.range(100).select(
        F.concat(F.lit("ek-"), F.col("id")).alias("k"),
        F.when(F.col("id") < 50, F.lit(1)).alias("_hit"),
        F.lit("x").alias("__ms_hit"),
    )
    m = bloom_num_bits(50)
    _force_bloom_tier(monkeypatch, m // 4, m // 2)
    assert bloom_tier(50) == "exact"
    out = membership_screen(probe, train, key_col="k")
    assert set(out.columns) == {"k", "_hit", "__ms_hit", "bf_hit"}
    rows = out.collect()
    assert len(rows) == 100
    hits = {r.k: (r.bf_hit, r._hit) for r in rows}
    for i in range(100):
        bf, h = hits[f"ek-{i}"]
        assert bf is (i < 50)  # exact: FP==FN==0
        assert h == (1 if i < 50 else None)  # probe's own _hit untouched


def test_build_literal_bloom_autosizes(spark):
    """r5 ADVICE (medium): the literal streaming bloom must auto-size
    from the key count — at n=1000 the fixed 4096-bit default with k=17
    sat at per-probe FP ≈ 0.72; the auto-sized filter must keep absent
    keys out at ~1e-5."""
    from pydatalake_spark.operators.bloom import (
        BLOOM_HASHES,
        bloom_hit_expr,
        bloom_num_bits,
        build_literal_bloom,
    )

    keys = spark.range(1000).select(
        F.concat(F.lit("lk-"), F.col("id")).alias("k")
    )
    words, n_bits, n_hashes = build_literal_bloom(keys, key_col="k")
    assert n_bits == bloom_num_bits(1000)
    assert n_hashes == BLOOM_HASHES  # auto-sized m keeps the design k
    probes = spark.range(2000).select(
        F.concat(F.lit("lk-"), F.col("id")).alias("k")
    ).withColumn(
        "hit", bloom_hit_expr(F.col("k"), words, n_bits, n_hashes)
    )
    got = {r.k: r.hit for r in probes.collect()}
    assert all(got[f"lk-{i}"] for i in range(1000))  # no FN
    fp = sum(got[f"lk-{i}"] for i in range(1000, 2000))
    assert fp / 1000 < 0.01  # vs ~0.72 for the saturated fixed default


def test_bloom_tiers_agree_on_hostile_keys(spark):
    """Property check: expression build == chunked build AND join probe ==
    numpy probe on hostile key content — unicode, empty strings, embedded
    separators/quotes, very long keys, near-collisions. The md5-window
    arithmetic must agree byte-for-byte between SQL (conv/substr on the
    JVM) and Python (hashlib/int slicing)."""
    from pydatalake_spark.operators.bloom import (
        bloom_build,
        bloom_build_chunks,
        bloom_contains,
        bloom_contains_numpy,
        bloom_num_bits,
        bloom_words_literal,
    )

    hostile = (
        ["", " ", "  ", "\t", "a", "ab"]
        + ["é", "漢字", "emoji 🙂 key", "ß", "Ωmega"]
        + ["line\nbreak", "quote'key", 'dquote"key', "back\\slash"]
        + ["x" * 5000, "x" * 5001]
        + [f"key-{i}" for i in range(50)]
        + [f"key -{i}" for i in range(10)]  # near-collisions with above
    )
    members = spark.createDataFrame(
        [(k,) for k in hostile[::2]], "k string"
    )
    probe = spark.createDataFrame([(k,) for k in hostile], "k string")
    m = bloom_num_bits(len(hostile))
    w_expr = bloom_words_literal(bloom_build(members, key_col="k", num_bits=m))
    w_np = bloom_words_literal(
        bloom_build_chunks(members, key_col="k", num_bits=m)
    )
    assert w_expr == w_np
    bitmap = bloom_build(members, key_col="k", num_bits=m)
    jt = {
        r.k: r.bf_hit
        for r in bloom_contains(probe, bitmap, key_col="k", num_bits=m).collect()
    }
    vt = {
        r.k: r.bf_hit
        for r in bloom_contains_numpy(
            probe, bitmap, key_col="k", num_bits=m
        ).collect()
    }
    assert jt == vt
    for k in hostile[::2]:
        assert jt[k], f"member {k!r} missed"


def test_bloom_screen_respects_max_result_size():
    """The bloom tiers pass their bitmap through the driver — the vector
    tier collects it, the join tier broadcasts its word rows — so each
    runs only when that fits ``session.driver_bound``. With a 1 GB
    broadcast threshold and a 1 MB result cap, a screen against 400,000
    train keys (a 1.2 MB bitmap) takes the join tier, shuffle-joined,
    and returns its verdicts: the members hit, and every verdict equals
    a numpy replay of the bitmap. Collecting that bitmap would abort the
    job. ``maxResultSize`` is fixed when the context starts, so this
    runs in its own session."""
    import os
    import subprocess
    import sys

    script = """
import hashlib

import numpy as np
from pyspark.sql import functions as F
from pydatalake_spark.operators.bloom import (
    BLOOM_HASHES, bloom_num_bits, membership_screen,
)
from pydatalake_spark.session import get_spark

spark = get_spark("bloommaxresult", master="local[2]", extra_conf={
    "spark.driver.maxResultSize": "1m",
    "spark.sql.autoBroadcastJoinThreshold": str(1 << 30),
})
n = 400_000
key = F.concat(F.lit("k-"), F.col("id").cast("string")).alias("key")
train = spark.range(n).select(key)
probe = spark.range(n - 1000, n + 1000).select(key)
screen = membership_screen(probe, train, n_train_keys=n)
plan = screen._jdf.queryExecution().executedPlan().toString()
got = {r.key: r.bf_hit for r in screen.collect()}

def positions(keys, m):
    w = np.frombuffer(
        b"".join(hashlib.md5(k.encode()).digest() for k in keys), ">u4"
    ).reshape(-1, 4).astype(np.int64)
    return (w[:, :1] + np.arange(BLOOM_HASHES) * w[:, 1:2]) % m

m = bloom_num_bits(n)
bits = np.zeros(m, dtype=bool)
bits[positions([f"k-{i}" for i in range(n)], m).ravel()] = True
keys = [f"k-{i}" for i in range(n - 1000, n + 1000)]
want = dict(zip(keys, bits[positions(keys, m)].all(axis=1).tolist()))
print("RESULT", m // 8, "MapInPandas" in plan, got == want,
      all(got[f"k-{i}"] for i in range(n - 1000, n)))
spark.stop()
"""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=root + os.pathsep + os.environ.get("PYTHONPATH", ""))
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=root, env=env, capture_output=True, text=True, timeout=600,
    )
    assert "RESULT 1200000 False True True" in out.stdout, (
        out.stdout + out.stderr[-3000:]
    )


def test_bloom_decon_supersets_exact_decon(spark):
    """The Bloom screen may over-flag (false positives) but must never
    miss a document the exact screen flags, and the window universe must
    be identical."""
    from pydatalake_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    exact = {
        r.doc_id: (r.n_windows, r.contaminated)
        for r in QUERIES["exact_ngram_decontamination"](spark, sf).collect()
    }
    bloom = {
        r.doc_id: (r.n_windows, r.flagged)
        for r in QUERIES["bloom_decontamination"](spark, sf).collect()
    }
    assert set(exact) == set(bloom)
    for doc_id, (n_win, contaminated) in exact.items():
        assert bloom[doc_id][0] == n_win
        if contaminated:
            assert bloom[doc_id][1]  # no false negatives


def test_cms_estimate_bounds_exact_count(spark):
    """Count-min estimates are one-sided: cms_n >= exact_n for every
    reported token, and exact for tokens with no bucket collisions."""
    from pydatalake_spark.queries import QUERIES

    rows = QUERIES["cms_heavy_hitters"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(rows) == 20
    assert all(r.cms_n >= r.exact_n for r in rows)


def test_zipf_fit_negative_slope(spark):
    from pydatalake_spark.queries import QUERIES

    row = QUERIES["zipf_fit"](spark, "/root/testdata/sf0.001").collect()[0]
    # top-100 cap; the sf0.001 fixture vocabulary is smaller than that
    assert 10 <= row.n_ranks <= 100
    assert row.zipf_slope < 0  # frequency falls with rank
    assert 0 <= row.zipf_r2 <= 1


def test_cap_per_group_deterministic_and_nested(spark):
    from pydatalake_spark.functions.split import cap_per_group

    rows = [(i, f"s{i % 3}") for i in range(90)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    k10 = {
        (r.doc_id, r.source)
        for r in cap_per_group(df, "source", "doc_id", 10).collect()
    }
    k10_again = {
        (r.doc_id, r.source)
        for r in cap_per_group(
            df.repartition(7), "source", "doc_id", 10
        ).collect()
    }
    k20 = {
        (r.doc_id, r.source)
        for r in cap_per_group(df, "source", "doc_id", 20).collect()
    }
    # stable under repartition, exactly k per group, nested under growth
    assert k10 == k10_again
    from collections import Counter

    assert all(v == 10 for v in Counter(s for _, s in k10).values())
    assert all(v == 20 for v in Counter(s for _, s in k20).values())
    assert k10 <= k20


def test_weighted_sample_deterministic_and_weight_sensitive(spark):
    from pydatalake_spark.functions.split import weighted_sample

    # 200 light rows (w=1) + 50 heavy rows (w=50): a 50-row sample should
    # be dominated by heavy rows, identically on every run/partitioning
    rows = [(i, 1.0) for i in range(200)] + [(1000 + i, 50.0) for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    s1 = {r.doc_id for r in weighted_sample(df, "doc_id", "w", 50).collect()}
    s2 = {
        r.doc_id
        for r in weighted_sample(df.repartition(13), "doc_id", "w", 50).collect()
    }
    assert s1 == s2 and len(s1) == 50
    heavy = sum(1 for d in s1 if d >= 1000)
    assert heavy >= 35  # weight dominates (expected ~45/50)
    # a different salt re-randomizes
    s3 = {
        r.doc_id
        for r in weighted_sample(df, "doc_id", "w", 50, salt=":x").collect()
    }
    assert s3 != s1
    # zero/negative weights never selected
    dfz = spark.createDataFrame(
        [(1, 0.0), (2, -3.0), (3, 1.0)], "doc_id long, w double"
    )
    assert {r.doc_id for r in weighted_sample(dfz, "doc_id", "w", 3).collect()} == {3}


def test_ngram_containment_catches_embedded_doc(spark):
    from pydatalake_spark.operators.ngram_jaccard import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )
    from tests.conftest import cc_loop

    inner = " ".join(f"t{i}" for i in range(12))
    outer = inner + " " + " ".join(f"z{i}" for i in range(60))
    df = spark.createDataFrame(
        [(1, inner), (2, outer), (3, "totally different words here now ok")],
        "doc_id long, text string",
    )
    got = {
        (r.inner_id, r.outer_id): r.containment
        for r in ngram_containment_pairs(df, threshold=0.8).collect()
    }
    assert (1, 2) in got and got[(1, 2)] == 1.0
    assert all(k == (1, 2) for k in got)
    # the same pair is invisible to Jaccard at any common threshold
    for spark_path in (False, True):
        with cc_loop(spark, spark_path):
            assert ngram_jaccard_pairs(df, threshold=0.5).collect() == []


def test_bloom_chunked_build_multi_chunk_layout(spark, monkeypatch):
    """Unit-size bitmaps fit one chunk, so the chunk_idx>0 offset
    arithmetic (build emit, OR-merge grouping, words expansion, array
    decode, literal decode) would otherwise never run — shrink the chunk
    width to force a multi-chunk layout and pin equality to the
    expression build across all decode paths."""
    import pydatalake_spark.operators.bloom as B

    monkeypatch.setattr(B, "BLOOM_CHUNK_WORDS", 8)  # 8 words = 256 bits/chunk
    members = spark.range(300).select(
        F.concat(F.lit("mc-"), F.col("id")).alias("k")
    )
    m = B.bloom_num_bits(300)  # 7200 bits = 225 words -> 29 chunks
    chunked = B.bloom_build_chunks(members, key_col="k", num_bits=m)
    rows = chunked.collect()
    assert len({int(r["chunk_idx"]) for r in rows}) > 1  # truly multi-chunk
    words_expr = B.bloom_words_literal(
        B.bloom_build(members, key_col="k", num_bits=m)
    )
    # literal decode
    assert B.bloom_words_literal(
        spark.createDataFrame(rows, chunked.schema)
    ) == words_expr
    # words-row expansion
    assert {
        int(r.word_idx): int(r.word)
        for r in B.bloom_chunks_to_words(chunked).collect()
    } == words_expr
    # array decode + probe: members all hit through the numpy tier
    hits = B.bloom_contains_numpy(members, chunked, key_col="k", num_bits=m)
    assert hits.filter(~F.col("bf_hit")).count() == 0


def test_membership_screen_join_tier_without_broadcast(spark, monkeypatch):
    """VERDICT r6 item 6: the join tier must stay correct when the
    bitmap-word broadcast is unavailable (autoBroadcastJoinThreshold
    disabled) — Spark honors the explicit broadcast() hint, and even if a
    future change drops the hint the shuffled-join fallback must produce
    the same bf_hit answers."""
    from pydatalake_spark.operators.bloom import bloom_num_bits, membership_screen

    train = spark.range(400).select(
        F.concat(F.lit("jt-"), F.col("id")).alias("k")
    )
    probe = spark.range(800).select(
        F.concat(F.lit("jt-"), F.col("id")).alias("k")
    )
    m = bloom_num_bits(400)
    _force_bloom_tier(monkeypatch, m // 2, m)  # force the join tier
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        rows = membership_screen(probe, train, key_col="k").collect()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert len(rows) == 800
    hits = {r.k: r.bf_hit for r in rows}
    assert all(hits[f"jt-{i}"] for i in range(400))  # no false negatives
    assert sum(hits[f"jt-{i}"] for i in range(400, 800)) / 400 < 0.05


def test_suggest_num_planes_keeps_occupancy_linear(spark):
    """r7 100x-probe finding: a FIXED LSH plane count makes same-bucket
    candidate pairs quadratic (n²/2^p). The auto-sizer must grow the
    bucket space with the corpus so expected occupancy (and with it the
    per-vector candidate count) stays ~constant."""
    from pydatalake_spark.operators.similarity import (
        embedding_near_dup,
        suggest_num_planes,
    )
    from pydatalake_spark.queries.tables import load_table

    assert suggest_num_planes(100) == 8          # floor
    assert suggest_num_planes(5_000) == 9
    assert suggest_num_planes(500_000) == 15
    assert suggest_num_planes(10**9) == 24       # cap
    # occupancy n/2^p bounded by ~2x the target across the range
    for n in (10_000, 10**6, 10**7):
        p = suggest_num_planes(n)
        assert n / 2**p <= 2 * 16

    # auto path == explicit path at the suggested count
    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    p = suggest_num_planes(e.count())
    auto = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup(e, num_planes=None).collect()
    }
    explicit = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup(e, num_planes=p).collect()
    }
    assert auto == explicit


def test_near_dup_pairs_reads_cached_signatures(spark, monkeypatch, tmp_path):
    """Once the ``minhash_signatures`` query ran on a corpus dir, the
    ``near_dup_pairs`` query on that dir reads the cached signature
    table: no Arrow pass signs a document again. Every Arrow pass is
    tapped to log the rows it reads; the corpus is a copy of the sf0.001
    documents in a fresh dir, so no cache from another test serves it."""
    import shutil

    from pydatalake_spark.queries import QUERIES
    from tests.conftest import SF_DIR

    sf = tmp_path / "corpus"
    sf.mkdir()
    shutil.copy(f"{SF_DIR}/documents.parquet", sf)
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
    log.write_text("")
    n_docs = QUERIES["minhash_signatures"](spark, str(sf)).count()
    signed = sum(int(ln.split()[1]) for ln in log.read_text().splitlines())
    assert signed == n_docs
    log.write_text("")
    assert QUERIES["near_dup_pairs"](spark, str(sf)).collect()
    assert log.read_text() == ""


def test_minhash_band_table_cached_once(spark):
    """r13: the LSH band table is cache_once'd, so both self-join sides
    read ONE materialized copy in every join regime, and the plan-equal
    band tables of lsh_candidate_pairs / near_dup_pairs /
    minhash_jaccard_estimate share a single CacheManager entry."""
    from pydatalake_spark.operators.minhash import (
        _cached_band_table,
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from pydatalake_spark.queries.tables import load_table
    from pydatalake_spark.session import cache_once

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    lsh_candidate_pairs(docs, num_hashes=8, num_bands=2, shingle_size=3)
    sig = cache_once(minhash_signatures(docs, "doc_id", "text", 8, 3))
    sl = _cached_band_table(sig, "doc_id", 8, 2).storageLevel
    assert sl.useMemory or sl.useDisk


def _minhash_signatures_expr(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    shingle_size: int = 3,
):
    """The Catalyst-expression form of `minhash_signatures` — the
    oracle-shaped reference the Arrow pass is equivalence-tested
    against."""
    from pydatalake_spark.functions.text import shingles, tokenize
    from pydatalake_spark.operators.scaling import fan_out

    df = fan_out(df)
    toks = tokenize(text_col)
    sh = shingles(toks, k=shingle_size)
    # minhash over the DISTINCT shingle set — min over a set equals min over
    # the bag, and the distinct array is what Jaccard verification needs too,
    # so downstream stages share one narrow column
    out = df.select(
        F.col(id_col), F.array_distinct(sh).alias("shingles")
    ).withColumn("__h", F.transform(F.col("shingles"), lambda s: F.md5(s)))

    # NB: closure factory, not `lambda h, j=j` — PySpark infers higher-order
    # lambda arity from the Python signature, so a default arg would turn
    # this into the (element, index) form and silently break the hash family
    def window(j: int):
        return lambda h: F.substring(h, 3 * j + 1, 8)

    for j in range(num_hashes):
        out = out.withColumn(
            f"mh_{j}", F.array_min(F.transform(F.col("__h"), window(j)))
        )
    return out.drop("__h")


def _shingle_sets_expr(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_size: int = 3,
):
    """The Catalyst-expression form of `shingle_sets` — the oracle-shaped
    reference the Arrow pass is equivalence-tested against."""
    from pydatalake_spark.functions.text import shingles, tokenize
    from pydatalake_spark.operators.scaling import fan_out

    df = fan_out(df)
    sh = shingles(tokenize(text_col), k=shingle_size)
    return df.select(F.col(id_col), F.array_distinct(sh).alias("sset"))


def test_minhash_signatures_arrow_matches_expr(spark):
    """The Arrow mapInPandas signature pass must be bit-identical to the
    Catalyst-expression form — shingling (incl. the short-doc
    whole-string shingle), array_distinct order, md5 hex windows, and the
    lexicographic min — including the null-text, empty-text, and
    repeated-space edges the corpus fixtures don't contain."""
    from pydatalake_spark.operators.minhash import minhash_signatures
    from pydatalake_spark.queries.tables import load_table

    def canon(df):
        return sorted(
            (
                r["doc_id"],
                tuple(r["shingles"]),
                tuple(r[f"mh_{j}"] for j in range(8)),
            )
            for r in df.collect()
        )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    assert canon(minhash_signatures(docs)) == canon(
        _minhash_signatures_expr(docs)
    )

    edge = spark.createDataFrame(
        [
            (1, None),
            (2, ""),
            (3, "   "),
            (4, "one"),
            (5, "one two"),
            (6, "a  b c a  b c"),          # empty tokens + repeats
            (7, " padded   text here "),
        ],
        "doc_id long, text string",
    )
    assert canon(minhash_signatures(edge)) == canon(
        _minhash_signatures_expr(edge)
    )


def test_shingle_sets_arrow_matches_expr(spark):
    """The Arrow shingle_sets pass must be bit-identical to the
    Catalyst-expression form — shingling (incl. the short-doc
    whole-string shingle), array_distinct order, and the
    null/empty/multi-space edges the fixtures lack."""
    from pydatalake_spark.operators.ngram_jaccard import shingle_sets
    from pydatalake_spark.queries.tables import load_table

    def canon(df):
        return sorted((r["doc_id"], tuple(r["sset"])) for r in df.collect())

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    assert canon(shingle_sets(docs)) == canon(_shingle_sets_expr(docs))

    edge = spark.createDataFrame(
        [
            (1, None),
            (2, ""),
            (3, "   "),
            (4, "one"),
            (5, "one two"),
            (6, "a  b c a  b c"),
            (7, " padded   text here "),
        ],
        "doc_id long, text string",
    )
    assert canon(shingle_sets(edge)) == canon(_shingle_sets_expr(edge))
