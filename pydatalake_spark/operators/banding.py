"""Banded candidate pairs: the one self-join behind every near-dup pair front.

Every banded near-dup operator (MinHash LSH, SimHash, the image and video
dHash, hyperplane LSH, the exact n-gram inverted index) cuts each row's
fingerprint into keys and pairs every two rows that share a key. That is
an equi-join of one key table with itself (one shuffle keyed by the key),
never an all-pairs compare. `band_rows` builds a banded key table,
`band_pairs` the join, and `cap_bucket_size` is the hot-key guard between
them.

Both join sides read the SAME plan up to the exchange: only the aliases
tell them apart, and the per-side renames sit above the join. Children
that canonicalize equal let ReuseExchange (and the AQE stage cache) run
one shuffle and one upstream pass when the join shuffles an uncached
input. Over a cached input each side gets its own ``TableCacheQueryStage``
(Spark 4 AQE) and the two exchanges never unify, and in the broadcast
regime there is no exchange to reuse at all. So a caller whose upstream
is expensive caches the table it bands (`session.cache_once`): its blocks
are computed once and both sides read them in every regime. A rename
below the join would break the reuse and run the upstream (a Python
decode and hash pass, say) once per side.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def band_rows(
    df: DataFrame, keep: Sequence[str], band_exprs: Sequence[str]
) -> DataFrame:
    """``(*keep, band, key)``: one row per band of every row of ``df``;
    band ``b``'s key is the SQL expression ``band_exprs[b]``. The bands
    come from one ``inline(array(named_struct(...)))`` generator, built as
    a single SQL string (one py4j call, not one per band)."""
    structs = ", ".join(
        f"named_struct('band', {b}, 'key', {e})" for b, e in enumerate(band_exprs)
    )
    return df.selectExpr(*[f"`{c}`" for c in keep], f"inline(array({structs}))")


def band_pairs(
    bands: DataFrame,
    id_col: str,
    keys: Sequence[str],
    carry: Sequence[str] = (),
) -> DataFrame:
    """``(id_a, id_b, *keys, *carry_a, *carry_b)``: every two rows of
    ``bands`` with equal ``keys`` and ``id_a < id_b``, one row per shared
    key; column ``c`` of ``carry`` comes out as ``c_a`` and ``c_b``. A
    pair sharing several keys comes out once per key, so callers that
    want pairs project and ``distinct``. Both sides keep the same
    projection below the join (module docstring)."""
    on = " AND ".join(f"__l.`{k}` = __r.`{k}`" for k in keys)
    return (
        bands.alias("__l")
        .join(bands.alias("__r"), F.expr(on))
        .where(f"__l.`{id_col}` < __r.`{id_col}`")
        .selectExpr(
            f"__l.`{id_col}` AS id_a",
            f"__r.`{id_col}` AS id_b",
            *[f"__l.`{k}` AS `{k}`" for k in keys],
            *[
                f"{side}.`{c}` AS `{c}_{tag}`"
                for side, tag in (("__l", "a"), ("__r", "b"))
                for c in carry
            ],
        )
    )


def cap_bucket_size(
    bb: DataFrame, max_bucket_size: int, key_cols: Sequence[str] = ("band", "key")
) -> DataFrame:
    """Drop LSH buckets holding more than ``max_bucket_size`` members.

    The degenerate-corpus guard (SCALE.md known-limits): a bucket shared by
    k documents contributes k² candidate pairs, so one boilerplate bucket
    with 10⁵ members adds 10¹⁰ pairs. Capping trades recall on EXTREMELY
    common content for bounded join output — the standard production
    choice (near-identical boilerplate that overflows a bucket is better
    handled by exact-hash dedup first). One extra count-aggregation on the
    bucket keys; the anti-join against the hot-key list is a broadcast
    (the list is small by construction).
    """
    keys = list(key_cols)
    hot = (
        bb.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > max_bucket_size)
        .select(*keys)
    )
    return bb.join(F.broadcast(hot), on=keys, how="left_anti")
