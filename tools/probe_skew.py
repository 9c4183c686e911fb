"""Skewed-key resilience probe.

The 10x/100x scaling probes replicate keys UNIFORMLY, so they can't see
the other 100 TB killer: a pathological key distribution. This runner
materializes a lineitem/orders blow-up where ONE order key owns
``HOT_FRACTION`` of all lineitem rows (and one supplier key likewise),
plus a uniform twin of identical row count, then times the three shuffle
shapes that skew actually breaks:

1. **Join on the hot key** (lineitem x orders), three ways on the skewed
   data: (a) the engine's DEFAULT plan — with the session's 64 MB
   broadcast threshold Catalyst broadcasts the dim side, and a broadcast
   join is STRUCTURALLY skew-immune (the skewed side never shuffles);
   (b) broadcast disabled (the fact-x-fact case at 100 TB) with AQE
   skew-join splitting ON — the probe asserts the split ENGAGED (the
   executed plan carries ``skew=true``); (c) same SMJ with the skew
   handler OFF — the hot-reducer serialization AQE exists to prevent.
2. **Hot-key aggregation**: plain ``groupBy`` (map-side partial aggregation
   is the built-in defense — partials combine before the exchange, so the
   hot reducer receives one row per map task, not the raw rows).
3. **Keyed window dedup** (``row_number() OVER (PARTITION BY key)``): the
   shape AQE can NOT split (windows need the whole partition on one task)
   — measured so the scale posture of keep-first/keep-last dedup is
   documented fact, not hope. The engine's exact dedup paths use hash
   aggregation (skew-safe); the window path is only reached by
   keep='first'/'last' keyed dedup.

Writes ``BENCH_skew.json`` at the repo root and prints one JSON line.
Usage:  python tools/probe_skew.py     (run alone; ~5 min)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPLICAS = int(os.environ.get("SPARK_GRAFT_SKEW_REPLICAS", "30"))
HOT_FRACTION = 0.5
HOT_KEY = 424242424242
SHIFT = 1_000_000_000


def _build(spark, out_dir: str, skewed: bool) -> None:
    from pydatalake_spark.queries.tables import load_table

    li = load_table(spark, SF_DIR, "lineitem")
    orders = load_table(spark, SF_DIR, "orders")
    reps = []
    for i in range(REPLICAS):
        reps.append(
            li.withColumn("l_orderkey", F.col("l_orderkey") + i * SHIFT)
            .withColumn("l_suppkey", F.col("l_suppkey") + i * SHIFT)
        )
    out = reps[0]
    for df in reps[1:]:
        out = out.unionByName(df)
    if skewed:
        # route HOT_FRACTION of ALL rows to one order key and one supplier
        # key (deterministic hash coin, not rand(): rebuildable)
        coin = (F.abs(F.hash("l_orderkey", "l_linenumber")) % 100) < int(
            HOT_FRACTION * 100
        )
        out = out.withColumn(
            "l_orderkey", F.when(coin, F.lit(HOT_KEY)).otherwise(F.col("l_orderkey"))
        ).withColumn(
            "l_suppkey", F.when(coin, F.lit(HOT_KEY)).otherwise(F.col("l_suppkey"))
        )
    out.write.mode("overwrite").parquet(os.path.join(out_dir, "lineitem.parquet"))
    oreps = [
        orders.withColumn("o_orderkey", F.col("o_orderkey") + i * SHIFT)
        for i in range(REPLICAS)
    ]
    oout = oreps[0]
    for df in oreps[1:]:
        oout = oout.unionByName(df)
    hot_row = oout.limit(1).withColumn("o_orderkey", F.lit(HOT_KEY))
    oout.unionByName(hot_row).write.mode("overwrite").parquet(
        os.path.join(out_dir, "orders.parquet")
    )


def _timed(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return round(time.perf_counter() - t0, 4)


def _join(spark, d: str):
    li = spark.read.parquet(os.path.join(d, "lineitem.parquet"))
    orders = spark.read.parquet(os.path.join(d, "orders.parquet"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.sum("l_extendedprice").alias("rev"), F.count("*").alias("n"))
    )


def _agg_plain(spark, d: str):
    li = spark.read.parquet(os.path.join(d, "lineitem.parquet"))
    return li.groupBy("l_suppkey").agg(
        F.sum("l_extendedprice").alias("total"), F.count("*").alias("n")
    )


def _window_dedup(spark, d: str):
    from pyspark.sql import Window

    li = spark.read.parquet(os.path.join(d, "lineitem.parquet"))
    w = Window.partitionBy("l_orderkey").orderBy(
        "l_shipdate", "l_linenumber", "l_partkey"
    )
    return (
        li.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _window_dedup_auto(spark, d: str):
    # distinct_table probes the key sample and picks the hot-split plan
    # on the skewed dir, the window plan on the uniform one — landing
    # ≲1.3 skew ratio without caller knowledge
    from pydatalake_spark.operators.dedup import distinct_table

    li = spark.read.parquet(os.path.join(d, "lineitem.parquet"))
    return distinct_table(
        li,
        subset="l_orderkey",
        keep="first",
        presort_by=["l_shipdate", "l_linenumber", "l_partkey"],
    )


def main() -> None:
    from pydatalake_spark.session import get_spark

    spark = get_spark(
        "probe_skew", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    base = os.path.join(os.environ.get("TMPDIR", "/tmp"), "pydatalake_skew")
    dirs = {"skewed": os.path.join(base, "skewed"), "uniform": os.path.join(base, "uniform")}
    marker = os.path.join(base, "_built_from")
    stamp = f"{SF_DIR}|x{REPLICAS}|hot{HOT_FRACTION}"
    if not (os.path.isfile(marker) and open(marker).read() == stamp):
        shutil.rmtree(base, ignore_errors=True)
        _build(spark, dirs["skewed"], skewed=True)
        _build(spark, dirs["uniform"], skewed=False)
        os.makedirs(base, exist_ok=True)
        with open(marker, "w") as f:
            f.write(stamp)

    result: dict = {
        "sf_dir": SF_DIR,
        "replicas": REPLICAS,
        "hot_fraction": HOT_FRACTION,
        "rows": spark.read.parquet(os.path.join(dirs["skewed"], "lineitem.parquet")).count(),
    }
    for shape, fn in [
        ("join", _join),
        ("agg_plain", _agg_plain),
        ("window_dedup", _window_dedup),
        ("window_dedup_auto", _window_dedup_auto),
    ]:
        for variant, d in dirs.items():
            df = fn(spark, d)
            _timed(df)  # warm
            # min-of-2 timed, the same steady-state estimator bench.py
            # uses — single timed runs here showed ±15-20% scatter on
            # the 2-5s window scenarios, which swamps the ratios
            result[f"{shape}_{variant}_sec"] = min(_timed(df), _timed(df))
        result[f"{shape}_skew_ratio"] = round(
            result[f"{shape}_skewed_sec"] / result[f"{shape}_uniform_sec"], 3
        )

    # record which plan the dedup probe chose on each dir (the sampled
    # hot-key check, operators/dedup.py:_auto_hot_keys)
    from pydatalake_spark.operators.dedup import _auto_hot_keys

    for variant, d in dirs.items():
        li = spark.read.parquet(os.path.join(d, "lineitem.parquet"))
        hot = _auto_hot_keys(li, ["l_orderkey"])
        result[f"auto_plan_{variant}"] = "window" if hot is None else "hotsplit"

    # fact-x-fact tier: disable broadcast so the join becomes a shuffle
    # join (what a 100 TB fact-fact join is), with AQE skew thresholds
    # scaled to the probe's volume (defaults target 256 MB+ partitions;
    # the probe's hot partition is ~10x the median but smaller than that)
    def _smj(skew_on: bool) -> tuple[float, bool]:
        sets = {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.skewJoin.enabled": str(skew_on).lower(),
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8m",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        }
        saved = {k: spark.conf.get(k) for k in sets}
        try:
            for k, v in sets.items():
                spark.conf.set(k, v)
            jdf = _join(spark, dirs["skewed"])
            _timed(jdf)
            sec = _timed(jdf)
            # detect on the DataFrame's OWN query execution: a noop write
            # wraps the plan in a fresh execution, so the DF's adaptive
            # plan would still read isFinalPlan=false with no skew marker
            jdf.collect()
            plan = jdf._jdf.queryExecution().executedPlan().toString()
            return sec, "skew=true" in plan
        finally:
            for k, v in saved.items():
                spark.conf.set(k, v)

    result["join_smj_skewhandled_sec"], result["aqe_skew_split_engaged"] = _smj(True)
    result["join_smj_unhandled_sec"], _ = _smj(False)
    result["aqe_skew_speedup"] = round(
        result["join_smj_unhandled_sec"] / result["join_smj_skewhandled_sec"], 3
    )
    # the engine-default plan on the same skewed input broadcasts the dim
    # side (structurally skew-immune); record what it chose
    jdf = _join(spark, dirs["skewed"])
    jdf.collect()
    result["default_plan_broadcasts"] = (
        "BroadcastHashJoin"
        in jdf._jdf.queryExecution().executedPlan().toString()
    )
    out = Path(__file__).resolve().parent.parent / "BENCH_skew.json"
    with open(out, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
