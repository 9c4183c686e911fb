"""Plan-quality regression tests: the properties that make these operators
scale are asserted on the PHYSICAL plan, not just the results.

- filters/projections reach the parquet scan (PushedFilters / ReadSchema);
- small dimensions broadcast (no sort-merge for filtered-dim joins);
- keyed dedup and as-of join cost exactly ONE shuffle;
- aggregations are partial (map-side combine) before their exchange.
"""

from __future__ import annotations

import re

import pytest

from pydatalake_spark.queries import QUERIES
from tests.conftest import cc_loop, jobs_in

SF = "/root/testdata/sf0.001"


def physical_plan(spark, name: str) -> str:
    df = QUERIES[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_and_projection_pushdown(spark):
    p = physical_plan(spark, "filter_project")
    # the filter list can be truncated/wrapped in toString — take the line
    pushed = re.search(r"PushedFilters: \[(.*)", p)
    assert pushed and "l_shipdate" in pushed.group(1) and "l_quantity" in pushed.group(1)
    schema = re.search(r"ReadSchema: struct<([^\n]*)", p)
    # scan reads only the 3 projected + 2 filter columns, not all 11
    assert schema and "l_returnflag" not in schema.group(1)
    assert "l_tax" not in schema.group(1)


def test_q3_broadcasts_dimensions(spark):
    """At test SF the size-based planner still broadcasts the filtered
    dims — but it must do so from OBSERVED sizes, not a static hint
    (customer and orders both scale with SF; r11 VERDICT item 2)."""
    p = physical_plan(spark, "q3_shipping_priority")
    assert p.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in p


def _logical_plan(spark, name: str) -> str:
    df = QUERIES[name](spark, SF)
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.mark.parametrize(
    "name",
    [
        "q3_shipping_priority",
        "q5_local_supplier_volume",
        "q18_large_volume_customer",
    ],
)
def test_no_static_broadcast_hint_on_sf_scaling_tables(spark, name):
    """SF-scaling tables (customer/supplier/orders/lineitem) must never
    carry a static broadcast hint — at 100 TB a pinned build side OOMs
    the driver. Fixed-cardinality dims (nation=25, region=5) MAY hint.
    The optimized logical plan prints surviving hints as
    ``hints=[... strategy=broadcast ...]`` on the Join node; for these
    queries only the fixed dims are allowed to produce one, and those
    joins never touch customer/supplier/orders/lineitem scans directly
    below the hinted side — q3/q18 must be entirely hint-free."""
    p = _logical_plan(spark, name)
    if name == "q5_local_supplier_volume":
        # nation/region hints only: each hinted subtree is a ≤25-row scan
        hinted = p.count("strategy=broadcast")
        assert hinted <= 2, p
    else:
        assert "strategy=broadcast" not in p, p


def test_dedup_single_shuffle(spark):
    p = physical_plan(spark, "dedup_keep_last")
    assert p.count("Exchange") == 1
    assert "Window" in p


def test_dedup_hotsplit_plan_shape(spark, monkeypatch):
    """The hot-split plan: the cold side keeps the single-sort window
    (one Window over the key-only partition), the hot side takes
    min_by/max_by with a map-side partial aggregation BEFORE its
    exchange — a hot key forwards ≤1 row per task instead of landing
    every row on one reducer — and both unite. So the plan must carry
    exactly ONE Window node, a Union, and a partial min_by (keep=first)
    or max_by (keep=last) on the hot branch."""
    from pyspark.sql import functions as F

    from pydatalake_spark.operators import dedup as D
    from pydatalake_spark.operators.dedup import distinct_table
    from pydatalake_spark.queries.tables import load_table

    monkeypatch.setattr(D, "AUTO_PROBE_FRACTION", 1.0)
    monkeypatch.setattr(D, "AUTO_MIN_SAMPLED", 100)
    ev = load_table(spark, SF, "events").withColumn(
        "user_id",
        # make one key own ~half the rows so the probe names it hot
        (F.col("event_id") % 2 * F.col("user_id")).cast("long"),
    )
    for keep, partial in (("first", "partial_min_by"), ("last", "partial_max_by")):
        df = distinct_table(ev, subset="user_id", keep=keep, presort_by="ts")
        p = df._jdf.queryExecution().executedPlan().toString()
        assert "Union" in p
        nodes = [ln for ln in p.splitlines() if re.search(r"(^|- )Window \[", ln)]
        assert len(nodes) == 1, p
        # hot branch: the PARTIAL aggregate below its exchange (map-side
        # combine is the skew immunity — the exchange moves ≤|tasks| rows
        # per hot key). Bare `min_by` also matches the final aggregate,
        # which would not pin the partial-combine property — require the
        # partial form, and require an Exchange printed ABOVE it
        # (children print below parents in toString, so
        # below-the-exchange = later index).
        m = re.search(partial, p)
        assert m, p
        assert "Exchange" in p[: m.start()], p


def test_q18_single_pass_no_detail_rejoin(spark):
    """r10 rewrite: ONE hash-keyed exchange (the per-order partial-combined
    sum) and ONE lineitem scan — the old shape semi-joined then re-scanned
    lineitem detail and re-aggregated what the HAVING side had already
    computed. ReadSchema stays 2 columns on the fact scan."""
    p = physical_plan(spark, "q18_large_volume_customer")
    assert len(re.findall(r"Exchange hashpartitioning", p)) == 1, p
    assert p.count("lineitem.parquet") == 1, p
    assert "SortMergeJoin" not in p
    scan = re.search(r"lineitem[^\n]*ReadSchema: struct<([^\n]*)", p)
    assert scan and "l_orderkey" in scan.group(1)
    assert "l_extendedprice" not in scan.group(1)


def test_q21_single_pass_verdict(spark):
    """r10 rewrite + r12 exchange sharing: lineitem scanned ONCE and
    exchanged ONCE — hash-partitioning by l_orderkey alone satisfies the
    clustering of BOTH the (order, supplier) reduction and the order-
    grain verdict, so the two groupBys stack shuffle-free on a single
    repartition (guide §2.4). The solo returned supplier still comes
    from max(when(...)) — no ret x solo self-join — and supplier joins
    as an AQE-chosen (unhinted) broadcast semi-join."""
    p = physical_plan(spark, "q21_sole_returned_supplier")
    assert p.count("lineitem.parquet") == 1, p
    assert "max(CASE WHEN" in p, p
    assert "LeftSemi" in p and "SortMergeJoin" not in p
    # two keyed exchanges: the shared l_orderkey repartition feeding
    # both grains, and the final per-supplier count
    assert len(re.findall(r"Exchange hashpartitioning", p)) == 2, p


def test_asof_single_shuffle(spark):
    p = physical_plan(spark, "asof_join_events")
    assert p.count("Exchange") == 1
    assert "Window" in p


def test_q1_partial_aggregation(spark):
    p = physical_plan(spark, "q1_pricing_summary")
    # two HashAggregates (partial + final) around exactly one exchange
    assert p.count("HashAggregate") >= 2
    assert p.count("Exchange") == 1


def test_topk_no_global_sort(spark):
    p = physical_plan(spark, "topk_orders")
    assert "TakeOrderedAndProject" in p


def test_semi_join_is_join_not_aggregate(spark):
    p = physical_plan(spark, "semi_join")
    assert "LeftSemi" in p


def test_near_dup_joins_are_equi_joins(spark):
    """LSH/banded candidate generation must plan as hash equi-joins on the
    bucket key — a CartesianProduct or BroadcastNestedLoopJoin here would
    be the O(n^2) all-pairs scan the whole design exists to avoid."""
    from pydatalake_spark.operators.minhash import (
        lsh_candidate_pairs,
        near_dup_pairs,
    )
    from pydatalake_spark.operators.multimodal import (
        attach_payload,
        phash_near_dup,
        video_near_dup,
    )
    from pydatalake_spark.operators.ngram_jaccard import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )
    from pydatalake_spark.operators.simhash import simhash_near_dup
    from pydatalake_spark.operators.similarity import (
        embedding_near_dup,
        lsh_bucket_candidates,
    )
    from pydatalake_spark.queries.tables import load_table
    from tests.conftest import cc_loop

    docs = load_table(spark, SF, "documents")
    emb = load_table(spark, SF, "embeddings")
    media = attach_payload(docs, "doc_id", "text")

    # with the driver tiers off the exact pair front builds its Spark
    # plan; under the bound it would return a LocalRelation
    with cc_loop(spark, True):
        ngram = ngram_jaccard_pairs(docs)
    assert "Join" in ngram._jdf.queryExecution().optimizedPlan().toString()
    for df in (
        simhash_near_dup(docs),
        embedding_near_dup(emb),
        lsh_bucket_candidates(emb),
        near_dup_pairs(docs),
        lsh_candidate_pairs(docs),
        phash_near_dup(media),
        video_near_dup(media),
        ngram,
        ngram_containment_pairs(docs),
    ):
        p = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p


def test_bucketed_join_no_shuffle(spark, tmp_path_factory):
    """Two tables bucketed on the join key must join with ZERO Exchange
    nodes — the write-time shuffle is reused by every subsequent join."""
    import uuid

    from pydatalake_spark.dataset.bucketing import is_bucketed, write_bucketed
    from pydatalake_spark.queries.tables import load_table

    wh = str(tmp_path_factory.mktemp("bucketed_wh"))
    sfx = uuid.uuid4().hex[:6]
    orders = load_table(spark, SF, "orders")
    customer = load_table(spark, SF, "customer")
    write_bucketed(
        orders, f"orders_b_{sfx}", keys="o_custkey", num_buckets=8,
        sort_by="o_custkey", path=f"{wh}/orders_b",
    )
    write_bucketed(
        customer, f"customer_b_{sfx}", keys="c_custkey", num_buckets=8,
        sort_by="c_custkey", path=f"{wh}/customer_b",
    )
    assert is_bucketed(spark, f"orders_b_{sfx}")

    # at fixture scale the planner prefers broadcast (which needs no bucket
    # co-location at all); disable it to observe the big-big join shape a
    # cluster would use — bucketed SMJ with the shuffle already on disk
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        ob = spark.table(f"orders_b_{sfx}")
        cb = spark.table(f"customer_b_{sfx}")
        joined = ob.join(cb, ob.o_custkey == cb.c_custkey)
        p = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in p
        assert "Exchange" not in p, p
        # result sanity vs plain join
        plain = orders.join(customer, orders.o_custkey == customer.c_custkey)
        assert joined.count() == plain.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"DROP TABLE orders_b_{sfx}")
        spark.sql(f"DROP TABLE customer_b_{sfx}")


def test_dynamic_partition_pruning(spark, tmp_path_factory):
    """A partitioned fact joined to a filtered dim must plan a dynamic
    partition pruning subquery: only the partitions matching the dim
    filter are scanned — THE mechanism that turns a 100 TB scan into a
    few-partition read on star-schema joins."""
    from pydatalake_spark.queries.tables import load_table

    wh = str(tmp_path_factory.mktemp("dpp"))
    orders = load_table(spark, SF, "orders")
    # partition the fact by a low-cardinality column
    orders.withColumn("o_status", orders.o_orderstatus).write.partitionBy(
        "o_status"
    ).parquet(f"{wh}/orders_part")
    fact = spark.read.parquet(f"{wh}/orders_part")
    dim = spark.createDataFrame(
        [("O", "open")], ["o_status", "label"]
    )
    joined = fact.join(dim, "o_status")
    p = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in p.lower() or "PartitionFilters: [isnotnull(o_status" in p, p
    assert joined.count() > 0


def test_range_join_keys_include_time_bucket(spark):
    """The range join must hash-partition on (user_id, 5-min bucket), not
    user_id alone — joining on the bare user key lets one hot user
    materialize n^2 rows before the range filter. The bucket column (named
    bk/b_bk) must appear in the join key list, and the join must still be a
    hash equi-join, not a nested loop."""
    p = physical_plan(spark, "range_join_events")
    join_line = next(
        (ln for ln in p.splitlines() if "HashJoin" in ln or "SortMergeJoin" in ln),
        "",
    )
    assert join_line, f"no hash join in plan:\n{p}"
    assert "bk" in join_line
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_q8_all_dimensions_broadcast(spark):
    """Seven-table market-share join: every dimension must broadcast — a
    SortMergeJoin against part/nation/region/supplier would shuffle the
    fact table once per dimension at 100 TB."""
    p = physical_plan(spark, "q8_market_share")
    assert p.count("BroadcastHashJoin") >= 5
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_q10_grouped_topk_no_global_sort(spark):
    p = physical_plan(spark, "q10_returned_items")
    assert "TakeOrderedAndProject" in p


def test_q21_final_plan_single_lineitem_subtree(spark):
    """r10: the single-pass verdict rewrite removed the duplicated
    lineitem subtree outright (the pre-r10 ret x solo form relied on
    AQE's runtime ReusedExchange to deduplicate it — strictly weaker:
    the static plan carried the scan+shuffle twice). The adaptive FINAL
    plan must still show exactly one lineitem scan and no reuse node
    left to need."""
    df = QUERIES["q21_sole_returned_supplier"](spark, SF)
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in p
    # the adaptive toString appends the initial plan after the final one —
    # assert on the final-plan section only
    final = p.split("== Initial Plan ==")[0]
    assert final.count("lineitem.parquet") == 1, p


def test_q2_decorrelated_min_is_broadcast_partial_agg(spark):
    """The correlated scalar-min subquery is decorrelated into a grouped
    min broadcast back onto the scan: partial+final HashAggregate around
    one exchange, BroadcastHashJoin, and never a sort-merge join."""
    p = physical_plan(spark, "q2_min_price_part")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert p.count("HashAggregate") >= 2


def test_q19_pushes_common_predicates_below_join(spark):
    """From the OR-of-conjunctions Catalyst must extract the single-side
    implications and push them into both scans — the lineitem scan gets a
    quantity range, the part scan gets a brand IN-list."""
    p = physical_plan(spark, "q19_disjunctive_revenue")
    pushed = re.findall(r"PushedFilters: \[([^\n]*)", p)
    assert any("l_quantity" in f for f in pushed)
    assert any("p_brand" in f for f in pushed)


def test_q22_anti_join_moves_keys_only(spark):
    """NOT EXISTS plans as a left-anti join whose build side reads ONLY the
    o_custkey column (plus the pushed date filter) — not the whole orders
    table."""
    p = physical_plan(spark, "q22_dormant_customers")
    assert "LeftAnti" in p
    orders_schema = [
        s for s in re.findall(r"ReadSchema: struct<([^\n]*)", p) if "o_custkey" in s
    ]
    assert orders_schema and all("o_totalprice" not in s for s in orders_schema)


def test_q7_broadcasts_dimensions_no_cartesian(spark):
    """Both nation roles and the supplier dim broadcast; the cross-alias
    disjunction must not degrade the join graph to a cartesian product."""
    p = physical_plan(spark, "q7_nation_volume")
    assert p.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_span_dedup_joins_are_hash_keyed(spark):
    """Span-dedup's global window-hash passes must stay hash-keyed
    (exchange on wh / doc id) — never a cartesian or nested-loop, and the
    candidate side must not carry token arrays through the shuffle."""
    from pydatalake_spark.operators.span_dedup import (
        dup_span_stats,
        strip_dup_spans,
    )
    from pydatalake_spark.queries.tables import load_table

    docs = load_table(spark, SF, "documents")
    for df in (dup_span_stats(docs), strip_dup_spans(docs)):
        p = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p


def test_semdedup_centroids_broadcast_and_cell_join_is_equi(spark):
    """SemDeDup: the centroids ride the assignment map's closure (no
    cross join with the corpus), the within-cell stage is keyed by cell,
    and no plain CartesianProduct may appear anywhere."""
    from pydatalake_spark.operators.semdedup import semantic_dedup
    from pydatalake_spark.queries.tables import load_table

    emb = load_table(spark, SF, "embeddings")
    p = (
        semantic_dedup(emb)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in p
    # the pair join keyed by cell
    assert "cell" in p


def test_dsir_bucket_table_broadcasts(spark):
    """DSIR: the 256-row log-ratio table must broadcast back onto the
    token stream — a shuffle join there would move the whole corpus twice."""
    from pyspark.sql import functions as F

    from pydatalake_spark.operators.dsir import dsir_weights
    from pydatalake_spark.queries.tables import load_table

    docs = load_table(spark, SF, "documents")
    p = (
        dsir_weights(docs, target=F.col("lang") == "en")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_zorder_write_is_single_range_exchange(spark):
    """Z-order clustering costs exactly one range exchange (same as a
    global sort) — no extra shuffles sneak in."""
    from pydatalake_spark.dataset.zorder import zorder_key
    from pydatalake_spark.queries.tables import load_table

    orders = load_table(spark, SF, "orders")
    z = zorder_key(orders, ["o_custkey", "o_totalprice"])
    df = (
        orders.withColumn("_z", z)
        .repartitionByRange(8, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
    )
    p = df._jdf.queryExecution().executedPlan().toString()
    assert p.count("Exchange") == 1
    assert "rangepartitioning" in p.lower()


def test_delta_diff_prunes_existing_scan_by_batch_window(spark, tmp_path):
    """Delta writes must restrict the EXISTING side to the incoming
    batch's [min, max] datetime window BEFORE the anti-join, and that
    restriction must reach the parquet scan as a pushed filter — this is
    what keeps delta appends cheap against a years-deep dataset
    (writer.py:_delta_diff; VERDICT r3 #7)."""
    import os

    from pyspark.sql import functions as F

    from pydatalake_spark.dataset.writer import _delta_diff
    from pydatalake_spark.queries.tables import load_table

    events = load_table(spark, SF, "events")
    path = os.path.join(str(tmp_path), "ds")
    events.write.parquet(path)
    batch = events.filter(
        (F.col("ts") >= F.lit("2024-01-10").cast("timestamp"))
        & (F.col("ts") < F.lit("2024-01-12").cast("timestamp"))
    )
    diff = _delta_diff(batch, path, "parquet", "ts", None)
    p = diff._jdf.queryExecution().executedPlan().toString()
    pushed = re.findall(r"PushedFilters: \[([^\n]*)", p)
    # two scans: the batch side (its own ts predicate) and the existing
    # side — BOTH must carry a ts range filter down to parquet
    ts_pushed = [f for f in pushed if "ts" in f and "GreaterThan" in f]
    assert len(ts_pushed) >= 2, f"existing-side scan not pruned: {pushed}"


def test_bigram_lm_broadcasts_model_tables(spark):
    # the vocabulary-sized bigram/context count tables must broadcast onto
    # the collapsed doc-bigram side (corpus-sized), never sort-merge
    p = physical_plan(spark, "bigram_perplexity")
    assert p.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in p


def test_prefix_dup_blocking_join_excludes_text(spark):
    # the blocking equi-join on the first-8-token key must not carry the
    # text column; texts re-join BY ID and the startswith verify rides
    # that join as its condition
    p = physical_plan(spark, "prefix_dup_docs")
    assert "StartsWith" in p
    key_join = next(
        ln for ln in p.splitlines()
        if "Join" in ln and "_k#" in ln
    )
    assert "_ta" not in key_join and "_tb" not in key_join


def test_multires_rollup_scans_raw_once(spark):
    # the day tier must aggregate from the hour tier: both union branches
    # read the CACHED hour aggregate (InMemoryTableScan), so raw parquet
    # is scanned once — at cache materialization — for the whole pyramid
    p = physical_plan(spark, "multires_rollup")
    assert p.count("InMemoryTableScan") == 2


def test_fused_kmeans_never_shuffles_corpus(spark):
    """kmeans_step: one mapInPandas pass assigns AND partial-sums each
    batch, so the physical plan has NO join (no cells-to-corpus re-join
    by id) and the only exchange moves per-cell partials — cells x
    partitions rows, not the corpus."""
    import numpy as np

    from pydatalake_spark.operators.semdedup import kmeans_step

    rng = np.random.default_rng(2)
    vecs = rng.normal(size=(50, 8)).astype(np.float32)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(50)],
        "vec_id long, embedding array<float>",
    )
    p = (
        kmeans_step(emb, num_cells=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in p
    assert p.count("Exchange") == 1  # partials -> per-cell merge only


def test_bloom_vector_probe_is_shuffle_free(spark):
    """bloom_contains_numpy must add NO exchange and NO join to the probe
    plan: the bitmap rides the closure; each batch is tested in place.
    (The join tier pays a broadcast + two keyed aggregations — correct at
    cluster-scale bitmap sizes, wasteful below them.)"""
    from pyspark.sql import functions as F

    from pydatalake_spark.operators.bloom import (
        bloom_build,
        bloom_contains_numpy,
    )

    keys = spark.range(100).select(
        F.concat(F.lit("k-"), F.col("id")).alias("k")
    )
    with cc_loop(spark, True):
        bitmap = bloom_build(keys, key_col="k")
        p = (
            bloom_contains_numpy(keys, bitmap, key_col="k")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    assert "Join" not in p
    assert "Exchange" not in p


def test_bloom_chunked_build_plan_has_no_explode(spark):
    """bloom_build_chunks must stay a mapInPandas partial pass + one
    chunk-keyed merge — NO Generate (the k-fold row explode the
    expression build pays) and exactly one exchange (the chunk merge,
    partitions x chunks rows). This is the plan property that fixed the
    r5 decontamination_audit regression."""
    from pyspark.sql import functions as F

    from pydatalake_spark.operators.bloom import (
        bloom_build_chunks,
        bloom_num_bits,
    )

    keys = spark.range(500).select(
        F.concat(F.lit("k-"), F.col("id")).alias("k")
    )
    m = bloom_num_bits(500)
    p = (
        bloom_build_chunks(keys, key_col="k", num_bits=m)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Generate" not in p            # no explode anywhere
    assert p.count("MapInPandas") == 1    # the dense-OR partial pass
    assert p.count("Exchange") == 1       # only the tiny chunk merge


def _forget_decon_tables(sf=SF):
    """Drop the decontamination tables of ``sf`` from the session memo, so
    the next call builds them under the current broadcast threshold: a
    sf0.001 table built under ``get_spark``'s is a driver-side
    ``LocalRelation``, one built under ``cc_loop(spark, True)`` the
    Spark plan."""
    from pydatalake_spark import session

    for k in list(session._MEMO):
        if k[1].startswith("decon") and k[2] == sf:
            session._release(session._MEMO.pop(k)[1])


def test_fused_audit_plan_single_wh_shuffle(spark):
    """decontamination_audit's fused pass on the Spark path: the eval
    windows cross exactly one wh-keyed exchange (the exact-screen join)
    with the bloom probe mapped over that join's output — no second scan
    of the eval windows, no per-screen aggregate re-join. The fused pass
    is the shared `_decon_screen` cached table; its build subtree prints
    only while the cache is COLD (a prior consumer in the same session
    materializes it and the plan shows the elided cached stage instead),
    so the always-true assertions are on the audit's own REDUCTION: one
    doc-keyed aggregation pair over the cached scan, zero probe passes
    and zero wh-keyed exchanges of its own."""
    _forget_decon_tables()
    with cc_loop(spark, True):
        p = physical_plan(spark, "decontamination_audit")
    _forget_decon_tables()
    # one doc-keyed aggregation pair (partial + final), not two screens'
    # (keys=[doc_id] exactly; the (doc_id, wh) distincts of the shared
    # window-table build are a different aggregate)
    assert len(re.findall(r"HashAggregate\(keys=\[doc_id#\d+L\]", p)) == 2
    assert "InMemoryTableScan" in p  # consumes the shared screen verdicts
    # the bloom probe lives INSIDE the screen build — count DISTINCT
    # MapInPandas expression ids, because an adaptive cached-relation
    # subtree prints its Final AND Initial sections (the same node
    # appears twice verbatim); a genuine second probe pass would carry a
    # fresh expression id
    probes = set(re.findall(r"MapInPandas \w+\([^)]*\)#(\d+)", p))
    assert len(probes) <= 1, p
    reduction = p.split("InMemoryTableScan")[0]
    assert "MapInPandas" not in reduction
    assert not re.search(r"Exchange hashpartitioning\(wh#", reduction), p


def test_decon_screen_cold_build_is_fused(spark):
    """The shared `_decon_screen` verdict build itself on the Spark path:
    the bloom probe (ONE MapInPandas) maps over the exact-screen join's
    own output — one fused pass. Asserted on a COLD build: the screen's
    session memo entry and Spark's relation cache are cleared first, so
    neither materialized-stage elision nor CacheManager plan-equal
    substitution can hide the build subtree (the consumers' test above
    stays cache-state-agnostic)."""
    import pydatalake_spark.queries.text as TX

    _forget_decon_tables()
    spark.catalog.clearCache()
    with cc_loop(spark, True):
        scr = TX._decon_screen(spark, SF)
        p = scr._jdf.queryExecution().executedPlan().toString()
    _forget_decon_tables()
    # distinct expression ids, not raw occurrences: nested adaptive
    # blocks print Final + Initial sections with the same node verbatim
    probes = set(re.findall(r"MapInPandas \w+\([^)]*\)#(\d+)", p))
    assert len(probes) == 1, p
    # the probe consumes the exact-screen join's own output: exactly one
    # wh-keyed LeftOuter join feeds it — no second eval-window pass, no
    # per-screen re-join. (Join STRATEGY is not pinned: with the exl
    # cache warm the static plan broadcasts; right after clearCache the
    # degraded size estimate picks SortMergeJoin statically and AQE
    # re-converts at runtime — both are the same fused single pass.)
    joins = set(
        re.findall(
            r"(?:BroadcastHashJoin|SortMergeJoin) \[wh#(\d+)\], \[wh#\d+\], "
            r"LeftOuter",
            p,
        )
    )
    assert len(joins) == 1, p


def test_bloom_decontamination_small_corpus_on_driver(spark):
    """Below ``session.driver_bound`` the decontamination tables are built
    on the driver: on the sf0.001 docs both `_decon_exl` and
    `_decon_screen` are ``LocalRelation``s, and ``bloom_decontamination``
    fires at most 4 Spark jobs, build plus collect, with no Arrow pass.
    The ``(doc_id, text)`` cache it shares with the n-gram pair front is
    built first, as an earlier step of a curation shard builds it."""
    import pydatalake_spark.queries.text as TX
    from pydatalake_spark.queries.tables import load_table
    from pydatalake_spark.session import cache_once

    _forget_decon_tables()
    cache_once(load_table(spark, SF, "documents").select("doc_id", "text")).count()

    def run():
        df = QUERIES["bloom_decontamination"](spark, SF)
        return df, df.collect()

    (df, rows), n_jobs = jobs_in(spark, "decon_driver", run)
    assert rows and n_jobs <= 4, n_jobs
    for t in (TX._decon_exl(spark, SF), TX._decon_screen(spark, SF)):
        plan = t._jdf.queryExecution().optimizedPlan()
        assert plan.getClass().getSimpleName() == "LocalRelation"
    assert "MapInPandas" not in df._jdf.queryExecution().executedPlan().toString()


def test_rp_distortion_is_join_free(spark):
    # r7: ||Pv|| and ||v|| come from the same row — the readout must be
    # map-only + one scalar aggregate, never an id-keyed self-join.
    # r10: the map IS a single Arrow-batched numpy matmul (HOF lambdas
    # are interpreted per element, measured ~10x slower) emitting
    # per-batch partials; exactly one exchange (the scalar agg)
    p = physical_plan(spark, "rp_distortion")
    assert "Join" not in p
    assert p.count("MapInPandas") == 1, p
    assert p.count("Exchange") == 1, p


def test_cms_grid_builds_from_histogram_not_token_stream(spark):
    # r7: the sketch derives from the vocabulary-sized exact histogram
    # (weight-summed). Both consumers (grid + top-20) share the SAME
    # histogram aggregate, so the executed adaptive plan must reuse that
    # exchange — the old shape's grid branch exploded the raw token
    # stream 4x and had nothing to share
    df = QUERIES["cms_heavy_hitters"](spark, SF)
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in p or "ReusedQueryStage" in p
    assert "SortMergeJoin" not in p


def test_semantic_dedup_fused_assignment_no_corpus_rejoin(spark):
    """r8: the assignment map emits (id, cell, dv) directly, so the plan
    must carry NO join (the old shape re-joined the corpus to fetch
    vectors it had just read) and exactly one exchange — the cell-keyed
    one under the within-cell verify."""
    p = physical_plan(spark, "semantic_dedup")
    assert "Join" not in p
    assert p.count("Exchange hashpartitioning") == 1
    assert p.count("MapInPandas") == 1          # the assignment
    assert p.count("FlatMapGroupsInPandas") == 1  # the verify


def test_dv_read_broadcasts_tombstones_no_scan_shuffle(spark, tmp_path_factory):
    """Deletion-vector read: the tombstone anti-join must broadcast the
    (file, row_index) side — a stats-less local relation would
    sort-merge and shuffle the ENTIRE DV-bearing scan (the 100-TB
    killer). Pinned on the physical plan: BroadcastHashJoin LeftAnti,
    and no Exchange between the parquet scan and the join."""
    import os

    from pyspark.sql import functions as F

    from pydatalake_spark.sources import delta as dl

    table = os.path.join(str(tmp_path_factory.mktemp("dvplan")), "t")
    df = spark.range(1000).withColumn("v", F.col("id").cast("double"))
    dl.write_delta(df, table)
    dl.delete_rows_dv(spark, table, "id % 10 = 0")
    p = (
        dl.read_delta(spark, table)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "LeftAnti" in p, p
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p
    # the scan side feeds the join without an exchange
    scan_idx = p.index("FileScan parquet")
    join_idx = p.index("BroadcastHashJoin")
    assert "Exchange hashpartitioning" not in p[join_idx:scan_idx], p
