"""Regenerate EXPLAIN.md: physical plans of representative queries with
the property each plan must exhibit (the human-auditable twin of
tests/test_plans.py, which pins the same properties mechanically).

Usage: python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

PICKS = {
    "q3_shipping_priority": (
        "NO static broadcast hints (r12): AQE sizes the build side; "
        "fact scan filtered+pruned at source; decimal-exact revenue sum"
    ),
    "delta_deletion_vectors": (
        "DV read (r12): parquet scan of the log-resolved file list + "
        "BROADCAST left_anti against the (file,row_index) tombstones — "
        "the build side is |deleted rows| (hinted: its exact length is "
        "known on the driver), so the scan never shuffles"
    ),
    "near_dup_pairs": (
        "LSH band self-join = hash equi-join; shingle arrays never shuffle"
    ),
    "dup_span_stats": (
        "r12: ONE wh-keyed exchange serves both the (doc, hash) "
        "grouping and the distinct-doc count window (no intervening "
        "shuffle); doc-grain readout is the only other exchange"
    ),
    "semantic_dedup": (
        "fused assignment: (id, cell, vector) from one mapInPandas, no "
        "corpus re-join; within-cell verify keyed by cell"
    ),
    "dsir_importance": (
        "256-row log-ratio table broadcast onto the token stream"
    ),
    "pipeline_clean_corpus": (
        "r9: the near-dup tier reads the SHARED corpus pair cache "
        "(InMemoryTableScan of _minhash_pairs) restricted to survivors "
        "by two semi-joins — no band join or set verify re-runs"
    ),
    "topk_orders": "TakeOrderedAndProject, no global sort",
    "key_skew_profile": (
        "top-5 via TakeOrderedAndProject — no single-partition window"
    ),
    "bigram_perplexity": (
        "vocabulary-sized count tables broadcast; doc-bigram side "
        "collapsed before the joins"
    ),
    "prefix_dup_docs": (
        "blocking equi-join moves (id, key, n) only; texts re-joined "
        "by id for the startswith verify"
    ),
    "multires_rollup": (
        "both union branches read the cached hour tier "
        "(InMemoryTableScan x2) — raw parquet scanned once"
    ),
    "kmeans_lloyd_step": (
        "fused Lloyd step: one MapInPandas assigns AND partial-sums; no "
        "join anywhere; the only exchange moves per-cell partials"
    ),
    "bloom_decontamination": (
        "a corpus within session.driver_bound is screened on the driver "
        "(_decon_local): a LocalTableScan of the verdicts, one doc_id "
        "aggregation. Above it, the vectorized probe: MapInPandas tests "
        "the bitmap in place — no k-fold explode, no bitmap join; "
        "shingle table read from cache (InMemoryTableScan). The BUILD "
        "side is a MapInPandas too (bloom_build_chunks: per-partition "
        "dense numpy OR → chunk-keyed binary merge), so neither side "
        "explodes k-fold; the cache is the shared _decon_exl table"
    ),
    "decontamination_audit": (
        "the shared _decon_screen verdicts, which bloom_decontamination "
        "and exact_ngram_decontamination also reduce: a driver-built "
        "LocalTableScan within session.driver_bound; above it, a fused "
        "pass (InMemoryTableScan) of ONE wh-keyed exchange (the "
        "exact-screen join) with the bloom probe (MapInPandas) mapped "
        "over its output; one doc_id aggregation pair, no per-screen "
        "re-join"
    ),
    "q18_large_volume_customer": (
        "r10 single-pass: ONE exchange (per-order partial-combined "
        "sum); the filtered survivors join orders (AQE broadcasts at "
        "gate SF — no static hint, the survivor set scales with SF), "
        "customers broadcast, no detail re-join or final aggregation"
    ),
    "q21_sole_returned_supplier": (
        "r10 single-pass verdict + r12 exchange sharing: ONE lineitem "
        "exchange (hash by l_orderkey) feeds both the (order, supplier) "
        "reduction and the order-grain verdict shuffle-free; supplier "
        "semi-join unhinted (AQE build-side); final per-supplier count"
    ),
    "pipeline_decontaminated_corpus": (
        "dedup exchange keyed by the 16-byte md5 fingerprint, never "
        "the text; contamination semi-join keyed by the window hash "
        "over the cached window table; only ids cross the final joins"
    ),
    "strip_contaminated_spans": (
        "surgical span censor: eval window set semi-joins the train "
        "(id, pos, wh) triples — hashes and bounded start lists "
        "shuffle, never text; one higher-order mask rebuilds clean_text"
    ),
    "rp_distortion": (
        "r10: map-only — ONE Arrow-batched MapInPandas (BLAS matmul + "
        "norm per batch, emitting n/sum/min/max partials; interpreted "
        "HOF lambdas were ~10x slower); the only exchange is the final "
        "scalar aggregate (no self-join)"
    ),
    "cms_heavy_hitters": (
        "round 7: CMS grid derives from the exact token histogram "
        "(one explode+agg), not a 4x corpus re-explode; heavy-hitter "
        "verify reads the same histogram via ReuseExchange"
    ),
    "token_pmi": (
        "round 7: ONE bigram model table (arrays_zip pair build); "
        "unigram marginals derive from the pair table, not a second "
        "corpus tokenize+explode pass"
    ),
    "pq_encode": (
        "round 7: PQ encode is MAP-ONLY over the cached code table's "
        "source — codebook literals fused, no Exchange, no join"
    ),
    "ivfadc_topk": (
        "round 7: IVFADC search — cell filter and ADC pricing are "
        "map-side over the cached (cell, codes) index; the only "
        "exchange is the per-query rank window"
    ),
    "delta_stats_skip": (
        "r11: Delta-log data skipping — the FileScan's file list comes "
        "from the transaction log with every v1 file refuted by its "
        "logged minValues BEFORE the scan (3 of 6 files at sf0.01; no "
        "directory LIST anywhere); the residual date filter is pushed "
        "into the remaining scan, then one partial-combined aggregate"
    ),
}


def main() -> None:
    from pydatalake_spark.queries import QUERIES
    from pydatalake_spark.session import get_spark

    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark()
    out = [
        "# EXPLAIN — physical plans of representative queries (sf0.01)\n",
        "Generated by tools/dump_plans.py; regenerate after plan-affecting"
        " changes.\n",
    ]
    for name, note in PICKS.items():
        plan = (
            QUERIES[name](spark, sf)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # operator counts over the FULL plan — the 3000-char excerpt can
        # truncate past the operator a pin claims (r9: the clean-corpus
        # InMemoryTableScan sat below the cut)
        ops = ", ".join(
            f"{op}×{plan.count(op)}"
            for op in (
                "Exchange",
                "ReusedExchange",
                "InMemoryTableScan",
                "BroadcastHashJoin",
                "SortMergeJoin",
                "MapInPandas",
                "FlatMapGroupsInPandas",
                "Window",
                "FileScan",
            )
            if plan.count(op)
        )
        out.append(
            f"\n## {name}\n\n*Must show: {note}.*\n\n"
            f"Full-plan operator counts: {ops}\n\n```\n{plan[:3000]}\n```\n"
        )
    Path(__file__).resolve().parent.parent.joinpath("EXPLAIN.md").write_text(
        "\n".join(out)
    )
    print("wrote EXPLAIN.md")
    spark.stop()


if __name__ == "__main__":
    main()
