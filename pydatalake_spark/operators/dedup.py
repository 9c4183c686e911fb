"""Exact deduplication: full-row DISTINCT and keyed keep-first/last.

Semantics from the reference's ``distinct_table``
(``src/pydala/utils/table.py:230-288``):

- no ``subset`` → full-row distinct (polars ``unique()`` / DuckDB
  ``rel.distinct()``, ``table.py:242-249, 270-274``);
- with ``subset`` → group by the subset keys, keep the FIRST or LAST row
  per group in ``presort_by`` order (``table.py:252-258`` polars,
  ``:276-284`` DuckDB ``FIRST(col)/LAST(col)`` aggregates);
- optional ``postsort_by`` re-sort of the result (the reference has a bug
  here — it sorts by ``presort_by``, ``table.py:260-261``; we implement the
  intended semantics).

The reference's ``FIRST()``/``LAST()`` are only deterministic because DuckDB
scans in a stable order after ``rel.order(presort)``. Spark's
``F.first/last`` in groupBy carry NO ordering guarantee, so the engine
keeps one row per key by a TOTAL order over ``(presort [, tiebreak])``
(SURVEY §7.3.2); when ``presort_by`` is absent, all non-key columns are
the documented deterministic tiebreak. The physical plan is chosen from
the input, never by the caller: a sampled hot-key probe
(``_auto_hot_keys``) runs at plan build time.

- No hot key (the common dedup case): ``row_number() OVER (PARTITION BY
  subset ORDER BY ...)`` keep rn=1 — one shuffle of all rows, one sort
  per reduce partition. At low key duplication this beats a
  ``min_by``/``max_by`` aggregation 2.3x (18M uniform rows, 2.5s vs
  5.9s): the aggregation's map-side SortAggregate double-sorts for a
  partial combine that cannot reduce volume when keys are ~unique.
- Hot keys found: the HOT-SPLIT plan. Cold keys run the window form
  unchanged; rows of the ≤``1/AUTO_HOT_SHARE`` named hot keys take
  ``min_by``/``max_by`` of the full-row struct against the ordering
  struct, whose map-side partial aggregation collapses each task's hot
  rows to ≤|hot| partials before the exchange. A window partition is
  the one shape AQE cannot split (2.4x degradation at a 50%-hot key),
  so the hot side never sorts or shuffles data-sized volume
  (``tools/probe_skew.py`` at 60x: skew ratio 0.83–1.00 vs 2.33–2.50
  for the plain window, and 3–4x faster on the skewed dir). Keys
  partition across the sides, so the union is the same deterministic
  winner set: equal ordering tuples imply identical rows (the tuple
  covers every non-key column), and struct comparison orders a null
  field BEFORE non-null, matching ``asc_nulls_first``/``desc_nulls_last``.

Scale: both plans cost one hash-partition shuffle on ``subset`` — the
minimum any keyed dedup needs. No driver materialization.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pydatalake_spark.session import memo

_RN = "__pydatalake_rn__"

# hot-key probe knobs: a sampled key-share check picks the window or the
# hot-split plan. Module-level so tests (and unusual corpora) can tune.
AUTO_PROBE_FRACTION = 0.01
# a key must own this share of sampled rows to count as hot (a 5%-share
# key at 18M probe rows measured 1.37x window degradation; uniform keys
# sit orders of magnitude below this)
AUTO_HOT_SHARE = 0.05
# below this many SAMPLED rows (~2M rows at the 1% fraction) skew cannot
# hurt: even a fully-hot key lands ~1M rows on one reducer, well inside a
# single task's capacity — and the sample is too small to judge shares
AUTO_MIN_SAMPLED = 20_000


def _auto_hot_keys(
    df: DataFrame, keys: Sequence[str]
) -> list[dict] | None:
    """Sampled hot-key probe: ``None`` when no key is hot (use the plain
    window form), else the list of hot key tuples (≤ ``1/AUTO_HOT_SHARE``
    entries by construction) for the hot-split plan.

    One extra job over the SAMPLED KEY COLUMNS only (column-pruned scan;
    the groupBy is a hash aggregation with map-side partials, itself
    skew-safe); a second bounded collect runs only when the first pass
    found a hot key. A key is hot when it owns ``AUTO_HOT_SHARE`` of
    sampled rows and the sample is big enough for skew to matter.

    The verdict is memoized in the session memo per (plan semantic
    hash, keys, probe knobs): repeated dedups of the same input (a bench
    re-run, a pipeline retry) skip the probe jobs. Safe even on a hash
    collision: the hot list only picks WHICH physically-equivalent plan
    runs (cold window ∪ hot agg covers any key partition), never what
    the result is.
    """

    def probe_hot_keys() -> list[dict] | None:
        probe = (
            df.select(*keys)
            .sample(fraction=AUTO_PROBE_FRACTION, seed=7)
            .groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("_c"))
        )
        row = probe.agg(F.sum("_c").alias("_n"), F.max("_c").alias("_mx")).first()
        n = row["_n"] or 0
        if n < AUTO_MIN_SAMPLED or row["_mx"] / n < AUTO_HOT_SHARE:
            return None
        hot = (
            probe.filter(F.col("_c") >= AUTO_HOT_SHARE * n)
            .orderBy(F.col("_c").desc(), *keys)
            .limit(int(1 / AUTO_HOT_SHARE) + 1)
            .collect()
        )
        return [{k: r[k] for k in keys} for r in hot]

    try:
        plan_hash = df.semanticHash()
    except Exception:  # pragma: no cover - analysis failure → no memo
        return probe_hot_keys()
    # the probe knobs are module-level tunables — a re-tuned probe must
    # re-run, not serve the old verdict
    knobs = (AUTO_PROBE_FRACTION, AUTO_HOT_SHARE, AUTO_MIN_SAMPLED)
    return memo(
        df.sparkSession,
        ("dedup_probe", plan_hash, tuple(keys), knobs),
        probe_hot_keys,
    )


def _hot_pred(keys: Sequence[str], hot: list[dict]):
    """Null-safe membership predicate for the hot key tuples (≤20 terms,
    codegen'd; ``eqNullSafe`` keeps null-keyed rows on the cold side
    instead of vanishing through three-valued logic)."""
    pred = F.lit(False)
    for row in hot:
        term = F.lit(True)
        for k in keys:
            term = term & F.col(k).eqNullSafe(F.lit(row[k]))
        pred = pred | term
    return pred


def distinct_table(
    df: DataFrame,
    subset: str | Sequence[str] | None = None,
    keep: str = "first",
    presort_by: str | Sequence[str] | None = None,
    postsort_by: str | Sequence[str] | None = None,
) -> DataFrame:
    """Drop duplicate rows; with ``subset``, keep first/last per key group.

    Probes a 1% key sample: no hot key → the plain window plan; hot keys
    found → the HOT-SPLIT plan (the named hot keys take map-side partial
    min_by/max_by, no data-sized shuffle or sort on the hot side; every
    cold key keeps the single-sort window). Both plans return the same
    rows — see the module docstring for the measured trade-off.
    """
    if subset is None:
        out = df.distinct()
    else:
        keys = [subset] if isinstance(subset, str) else list(subset)
        if keep not in ("first", "last"):
            raise ValueError(f"keep must be 'first' or 'last', got {keep!r}")
        presort = (
            [presort_by]
            if isinstance(presort_by, str)
            else list(presort_by or [])
        )
        # presort first, then ALL remaining columns as tiebreak: a pick
        # over a non-total order is shuffle-dependent, and a dedup that
        # returns different rows per run is wrong at any scale
        # (SURVEY §7.3.2 — the documented deterministic-tiebreak rule)
        rest = [c for c in df.columns if c not in keys and c not in presort]
        order_cols = presort + rest
        if not order_cols:
            # subset covers every column — keyed keep-first/last degenerates
            # to full-row distinct (there is nothing to order within a key)
            out = df.distinct()
        else:
            ordering_cols = [
                F.col(c).asc_nulls_first()
                if keep == "first"
                else F.col(c).desc_nulls_last()
                for c in order_cols
            ]

            def window_plan(d: DataFrame) -> DataFrame:
                w = Window.partitionBy(*keys).orderBy(*ordering_cols)
                return (
                    d.withColumn(_RN, F.row_number().over(w))
                    .filter(F.col(_RN) == 1)
                    .drop(_RN)
                )

            def agg_plan(d: DataFrame) -> DataFrame:
                ordering = F.struct(*order_cols)
                payload = F.struct(*df.columns)
                pick = (
                    F.min_by(payload, ordering)
                    if keep == "first"
                    else F.max_by(payload, ordering)
                )
                return d.groupBy(*keys).agg(pick.alias("_row")).select("_row.*")

            hot = _auto_hot_keys(df, keys)
            if hot is None:
                out = window_plan(df)
            else:
                # the probe NAMES the hot keys, so only their rows leave
                # the single-sort window: the aggregation's map-side
                # partial collapses each task's hot rows to ≤|hot| rows
                # BEFORE the exchange, and no reducer ever sees more
                # than that per task. Keys are partitioned across the
                # two sides, so the union is the same winner set.
                pred = _hot_pred(keys, hot)
                out = window_plan(df.filter(~pred)).unionByName(
                    agg_plan(df.filter(pred))
                )
    if postsort_by:
        post = [postsort_by] if isinstance(postsort_by, str) else list(postsort_by)
        out = out.orderBy(*post)
    return out


def is_unique(df: DataFrame, subset: Sequence[str] | None = None) -> bool:
    """Uniqueness test (≙ ``pl.is_unique().all()``, ``utils/table.py:248``).

    Single aggregation pass: compares total count with distinct count.
    """
    probe = df.select(*subset) if subset else df
    row = probe.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(F.struct(*probe.columns)).alias("d"),
    ).first()
    return row["n"] == row["d"]


def prefix_containment_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_tokens: int = 8,
) -> DataFrame:
    """Strict prefix-containment duplicates: pairs (prefix_id, super_id)
    where one document's full text is a proper prefix of another's — the
    truncation/re-crawl duplicate class that exact dedup misses and
    shingle Jaccard under-scores (a 10%-long prefix has Jaccard ≈ 0.1).

    Beyond-reference north-star op (dedup family). Detection floor: both
    docs must share their first ``block_tokens`` tokens (documents shorter
    than the block never match — same fixed-floor contract as
    ``operators/span_dedup.py``'s 8-token window).

    Scale: candidates come from an equi-join on the first-``block_tokens``
    hash key, so the only wide shuffle moves (id, key, n_tokens) triples —
    texts are re-joined BY ID on the candidate-bounded pair set before the
    ``startswith`` verify (the edit_distance_near_dup pattern; full texts
    never enter the blocking exchange). Work is linear in corpus size plus
    quadratic only within a shared-prefix block, which the key length
    bounds in practice.
    """
    from pydatalake_spark.functions.text import tokenize

    toks = tokenize(text_col)
    keyed = docs.select(
        F.col(id_col).alias("_id"),
        F.md5(F.array_join(F.slice(toks, 1, block_tokens), " ")).alias("_k"),
        F.size(toks).alias("_n"),
    ).filter(F.col("_n") >= block_tokens)
    a = keyed.select(
        F.col("_id").alias("prefix_id"),
        F.col("_k"),
        F.col("_n").alias("prefix_tokens"),
    )
    b = keyed.select(
        F.col("_id").alias("super_id"),
        F.col("_k"),
        F.col("_n").alias("super_tokens"),
    )
    cand = a.join(b, "_k").filter(
        F.col("prefix_tokens") < F.col("super_tokens")
    )
    ta = docs.select(
        F.col(id_col).alias("prefix_id"), F.col(text_col).alias("_ta")
    )
    tb = docs.select(
        F.col(id_col).alias("super_id"), F.col(text_col).alias("_tb")
    )
    return (
        cand.join(ta, "prefix_id")
        .join(tb, "super_id")
        .filter(
            F.trim(F.col("_tb")).startswith(
                F.concat(F.trim(F.col("_ta")), F.lit(" "))
            )
        )
        .select(
            "prefix_id",
            "super_id",
            F.col("prefix_tokens").cast("long").alias("prefix_tokens"),
            F.col("super_tokens").cast("long").alias("super_tokens"),
        )
    )
