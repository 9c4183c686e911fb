"""Deterministic dataset splits for training pipelines.

`randomSplit` is seed- and partitioning-dependent — re-running it after a
repartition reassigns rows, which silently leaks test data into training
sets. The pipeline-correct primitive is a HASH split: bucket =
f(stable_key) so a document's split membership is a pure function of its
identity — stable across runs, engines, partitionings, and incremental
appends (new data lands in the same proportions without reshuffling old
assignments).

The bucket hash is the first 8 hex chars of md5 (32 bits) mod the bucket
count — portable to any SQL engine for verification, uniform enough for
split proportions (md5 avalanche).
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def hash_bucket(col: str | Column, num_buckets: int = 100) -> Column:
    """Stable bucket in [0, num_buckets) from a key column."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10).cast("long")
        % num_buckets
    )


def split_label(bucket: Column) -> Column:
    """The deterministic 80/10/10 ``train``/``val``/``test`` label of a
    ``hash_bucket(key, 100)`` value."""
    return (
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
    )


def split_by_hash(
    df: DataFrame,
    key_col: str,
    fractions: Mapping[str, float],
    num_buckets: int = 100,
) -> dict[str, DataFrame]:
    """Partition ``df`` into named splits by hashing ``key_col``.

    ``fractions`` maps split name → fraction; they must sum to ≤ 1 (any
    remainder is simply excluded — useful for subsampling). Contiguous
    bucket ranges are assigned in the mapping's iteration order, so the
    same fractions always produce the same membership.

    >>> splits = split_by_hash(docs, "doc_id",
    ...                        {"train": 0.8, "val": 0.1, "test": 0.1})
    >>> splits["train"].count()  # ~80%, identical on every run
    """
    total = sum(fractions.values())
    if total > 1.0 + 1e-9:
        raise ValueError(f"fractions sum to {total} > 1")
    bucket = hash_bucket(key_col, num_buckets)
    out: dict[str, DataFrame] = {}
    lo = 0
    for name, frac in fractions.items():
        hi = lo + int(round(frac * num_buckets))
        out[name] = df.filter((bucket >= lo) & (bucket < hi))
        lo = hi
    return out


def stratified_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    rates: Mapping[str, float],
    default_rate: float = 1.0,
    num_buckets: int = 10_000,
    salt: str = ":strat",
) -> DataFrame:
    """Deterministic per-stratum sampling — keep a different fraction of
    rows per ``strata_col`` value (downsample dominant languages/sources,
    keep rare ones whole: the standard corpus-rebalancing step).

    Membership is ``hash(key || salt) bucket < rate * num_buckets`` per
    stratum: a pure function of row identity, so samples are stable across
    runs/partitionings and INCREMENTAL — new rows sample at the same rates
    without disturbing previous membership, and a rate increase strictly
    grows the sample (nested samples, same reason reservoir sampling can't
    give you that). ``salt`` decorrelates this hash from `split_by_hash`'s:
    without it, sampling then splitting on the same key would funnel every
    sampled row into the low train buckets.

    Rates become a Catalyst CASE chain of literals — no join, no Python,
    fully pushed into the scan stage.
    """
    for k, r in rates.items():
        if not 0.0 <= r <= 1.0:
            raise ValueError(f"rate for {k!r} is {r}, not in [0, 1]")
    if not 0.0 <= default_rate <= 1.0:
        raise ValueError(f"default_rate {default_rate} not in [0, 1]")
    bucket = hash_bucket(
        F.concat(F.col(key_col).cast("string"), F.lit(salt)), num_buckets
    )
    threshold: Column = F.lit(int(round(default_rate * num_buckets)))
    for k, r in rates.items():
        threshold = F.when(
            F.col(strata_col) == k, F.lit(int(round(r * num_buckets)))
        ).otherwise(threshold)
    return df.filter(bucket < threshold)


def sample_to_token_budget(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    token_count_col: str,
    budgets: Mapping[str, int],
    num_buckets: int = 10_000,
    salt: str = ":budget",
) -> DataFrame:
    """Deterministic downsample of each stratum to ≈ a TOKEN budget — the
    unit training mixes are actually specified in (docs are a bad proxy
    when length varies by language/source).

    Per stratum: rate = min(1, budget / total_tokens(stratum)); membership
    by salted key hash, so the sample is stable, nested under budget
    increases, and incremental under appends (rates drift as totals grow —
    recompute per run; membership churn is bounded by the rate delta).
    Strata without a budget pass through whole. The totals aggregation is
    stratum-sized (one row per stratum, collected to the driver — group
    count, not data), then rates apply as a broadcast CASE chain.
    """
    totals = {
        r[0]: r[1]
        for r in df.groupBy(strata_col)
        .agg(F.sum(token_count_col).alias("__t"))
        .collect()
    }
    rates = {
        s: min(1.0, float(b) / float(totals[s]))
        for s, b in budgets.items()
        if s in totals and totals[s] > 0
    }
    return stratified_sample(
        df, key_col, strata_col, rates,
        default_rate=1.0, num_buckets=num_buckets, salt=salt,
    )


def cap_per_group(
    df: DataFrame,
    group_col: str,
    key_col: str,
    max_rows: int,
) -> DataFrame:
    """Keep at most ``max_rows`` rows per group, chosen by deterministic
    hash order — the domain-cap / source-cap control of a training mix
    (bound any one crawl domain's share without a random sample that
    reshuffles on re-run).

    Selection order is ``(md5(key), key)``: a uniform permutation of the
    group that is a pure function of row identity, so the kept set is
    stable across runs, partitionings, and engines, and NESTED for
    growing caps (the cap-100 set contains the cap-50 set — raising a cap
    only ever adds rows). Same contract family as ``split_by_hash`` /
    ``stratified_sample``.

    Scale: one hash-partition shuffle on ``group_col`` for the
    row_number window — identical exchange shape to keyed dedup
    (operators/dedup.py); AQE splits skewed (hot-domain) groups.
    """
    from pyspark.sql import Window

    w = F.row_number().over(
        Window.partitionBy(group_col).orderBy(
            F.md5(F.col(key_col).cast("string")).asc(),
            F.col(key_col).asc(),
        )
    )
    return (
        df.withColumn("__rn", w)
        .filter(F.col("__rn") <= max_rows)
        .drop("__rn")
    )


def weighted_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str | Column,
    k: int,
    salt: str = ":ws",
) -> DataFrame:
    """Deterministic weighted sample WITHOUT replacement of ``k`` rows:
    Efraimidis–Spirakis A-ES (2006) with the uniform drawn from the row's
    salted key hash instead of an RNG — inclusion probability stays
    proportional to weight, but the chosen set is a pure function of row
    identity (stable across runs/partitionings, re-randomizable only by
    changing ``salt``). The sampling key is ``ln(u) / w`` maximized, the
    standard one-pass reservoir form — here a global top-k, which Spark
    plans as TakeOrderedAndProject (per-partition partial top-k, no
    global sort).

    This is the quality-weighted selection step of a training mix
    ("sample 1M docs preferring high quality") made reproducible.
    Zero-or-negative weights are excluded (standard A-ES domain).
    """
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    # u in (0, 1]: 8 hex chars of md5 -> (val + 1) / 2^32
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col(key_col).cast("string"), F.lit(salt))),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        + 1.0
    ) / F.lit(float(1 << 32))
    es_key = F.log(u) / w
    return (
        df.filter(w > 0)
        .withColumn("__es", es_key)
        .orderBy(F.col("__es").desc(), F.col(key_col).asc())
        .limit(k)
        .drop("__es")
    )
