"""Exact n-gram Jaccard near-duplicate pairs via an inverted shingle index.

Complements the MinHash-LSH path (operators/minhash.py): LSH is the
probabilistic/recall-tunable variant; this is the EXACT one — every pair
with Jaccard >= threshold is found (within the optional ``max_df`` prune).
The standard scalable shape (set-similarity joins a la Vernica/Carey/Li,
SIGMOD'10): one Arrow shingling pass, then two Catalyst shuffles:

1. shingle each document into token n-grams, distinct per doc;
2. build the inverted index ``(shingle, doc_id)`` with one explode;
3. OPTIONAL document-frequency prune: drop shingles occurring in more than
   ``max_df`` documents. A shingle shared by k docs contributes k(k-1)/2
   join rows, so one boilerplate trigram in 10^5 docs adds 5·10^9 pairs —
   DF-pruning is the standard production guard (it only loses pairs whose
   ENTIRE overlap is ultra-common boilerplate, which exact-hash dedup
   handles better anyway);
4. self-equi-join the index on shingle (`operators/banding.py`, ONE
   shuffle keyed by shingle) and count co-occurrences per (id_a, id_b) —
   the pair's intersection size — with map-side partial aggregation
   compressing the pair stream;
5. join back per-doc set sizes (narrow, ids+ints only) and keep pairs with
   ``inter / (|A| + |B| - inter) >= threshold``.

Scale: intersection counting moves only (shingle, id) pairs — never the
shingle arrays — and the pair aggregation is algebraic (partial agg
map-side). Skew lives in hot shingles, bounded by ``max_df``; AQE splits
whatever survives.

Small inputs skip the plan. ``ngram_jaccard_pairs`` caches its
``(id, text)`` input, so neither path re-runs the upstream, and runs
ONE action over it (``text_shape``, which the decontamination
family's dispatch shares): rows, text bytes, an upper
bound ``P`` on postings (``Σ max(#tokens − k + 1, 1)``) and the DF
cap. A shingle held by ``d ≤ min(cap, rows)`` docs yields ``d(d−1)/2``
candidate pairs, so ``P·(min(cap, rows) − 1)/2`` bounds the
candidate-pair table. When the input bytes plus that table, at the
kernel's bytes per candidate pair, fit ``session.driver_bound``, the
same steps run as one vectorized numpy pass on the driver and the pairs
come back as a ``LocalRelation``; otherwise the Spark plan above runs
over the cached input. Both give the same rows: the bound is a
guarantee computed before anything is collected, never a
collect-then-fall-back. Under ``get_spark``'s 64 MB threshold a 500-doc
shard (P ≈ 26k, cap 20: 10.7 MB) takes the driver pass; sf0.1 (P ≈ 261k,
cap 50: 251 MB) stays on Spark.

Reference parity: the reference engine has no near-dup operator at all
(SURVEY.md §2 gap list) — this is beyond-reference capability for the
100 TB training-data pipeline.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.errors import ArithmeticException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pydatalake_spark.functions.text import distinct_shingles, tokenize
from pydatalake_spark.operators.banding import band_pairs
from pydatalake_spark.operators.scaling import fan_out
from pydatalake_spark.session import cache_once, driver_bound


def shingle_sets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_size: int = 3,
) -> DataFrame:
    """(id, sset) — distinct token-n-gram set per document, as ONE Arrow
    `mapInPandas` pass over ``distinct_shingles``.

    The expression form (`transform(sequence)` + `concat_ws` per element
    + `array_distinct`) is a Catalyst higher-order-function chain
    interpreted PER ARRAY ELEMENT, like the minhash signature chain. The
    Arrow pass measured flat at sf0.1 (worker latency ≈ the saved
    interpretation) and 3.1× faster at the 10× replica dir, where the
    interpreted chain dominates. Values are bit-identical (pinned by
    tests/test_operators.py::test_shingle_sets_arrow_matches_expr). Only
    (id, text) crosses the boundary; the iterator form amortizes setup
    per task."""
    df = fan_out(df)
    id_type = dict(df.dtypes)[id_col]

    def run(batches):
        import pandas as pd

        for pdf in batches:
            out = [distinct_shingles(t, shingle_size) for t in pdf[text_col]]
            yield pd.DataFrame({id_col: pdf[id_col], "sset": out})

    return df.select(id_col, text_col).mapInPandas(
        run, f"{id_col} {id_type}, sset array<string>"
    )


def _cap_row(max_df: DataFrame) -> DataFrame:
    """The one ``__max_df`` row of a cap frame. A frame with zero or
    several rows has no single cap, so the plan raises when it runs
    instead of pruning by nothing or by the smallest row. The row count
    is taken by a global aggregate over the cap frame (itself one row by
    construction), which adds no job."""
    return max_df.agg(
        F.count(F.lit(1)).alias("__rows"), F.max("__max_df").alias("__cap")
    ).select(
        F.when(F.col("__rows") == 1, F.col("__cap"))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit("max_df frame must have exactly one row, got "),
                    F.col("__rows").cast("string"),
                )
            )
        )
        .alias("__max_df")
    )


def _hot_shingles(dfc: DataFrame, max_df) -> DataFrame:
    """Shingles whose document frequency exceeds ``max_df``, from a
    ``(shingle, __df)`` count table. ``max_df`` is an int literal or a
    ONE-ROW DataFrame carrying ``__max_df`` (checked by ``_cap_row``):
    that cap rides the plan as a broadcast instead of a per-call driver
    ``count()`` job. The cap VALUE is identical either way; only where
    it is computed changes."""
    if isinstance(max_df, DataFrame):
        return (
            dfc.crossJoin(F.broadcast(_cap_row(max_df)))
            .filter(F.col("__df") > F.col("__max_df"))
            .select("shingle")
        )
    return dfc.filter(F.col("__df") > max_df).select("shingle")


def _pruned_index(
    df: DataFrame, id_col: str, text_col: str, shingle_size: int, max_df
) -> tuple[DataFrame, DataFrame]:
    """(inverted index ``(id, shingle)``, set sizes ``(id, n)``) over the
    DF-pruned shingle space. The index is cached PRE-PARTITIONED on the
    join key — InMemoryTableScan preserves the cached plan's output
    partitioning, so both self-join sides read the index exchange-free in
    the shuffle regime (the one inverted-index shuffle runs inside the
    cache build; Spark 4's per-side TableCacheQueryStage otherwise blocks
    exchange reuse over a cached relation). Hot-shingle skew in that one
    shuffle is bounded by the ``max_df`` prune. Sizes count postings per
    id VALUE, so rows sharing an id add up, and a null text's one null
    shingle counts (the anti-join never drops a null key)."""
    inv = shingle_sets(df, id_col, text_col, shingle_size).select(
        F.col(id_col), F.explode("sset").alias("shingle")
    )
    if max_df is not None:
        hot = _hot_shingles(
            inv.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df")),
            max_df,
        )
        inv = inv.join(F.broadcast(hot), on="shingle", how="left_anti")
    inv = cache_once(inv.repartition("shingle"))
    return inv, inv.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))


def text_shape(
    docs: DataFrame, text_col: str, k: int, extra: DataFrame | None = None
) -> dict:
    """``rows``, ``text_bytes`` (UTF-8 octets) and ``windows`` (the token
    ``k``-gram windows before any distinct, ``Σ max(#tokens − k + 1,
    1)``) of ``docs``, plus the columns of the one-row frame ``extra``:
    the measurement a driver-side tier over a text corpus is sized by,
    read before anything is collected. One action: without ``extra``
    the sums are observed metrics of a no-op write, one job whose tasks
    each fold their partition (an aggregate would add an exchange and,
    under AQE, a second job); with it, one aggregate crossed with
    ``extra``."""
    from pyspark.sql import Observation

    text = F.col(text_col)
    stats = [
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(F.sum(F.octet_length(text)), F.lit(0)).alias("text_bytes"),
        F.coalesce(
            F.sum(F.greatest(F.size(tokenize(text)) - (k - 1), F.lit(1))), F.lit(0)
        ).alias("windows"),
    ]
    if extra is None:
        obs = Observation("text_shape")
        docs.observe(obs, *stats).write.format("noop").mode("overwrite").save()
        return obs.get
    # one row against one row: a Cartesian product reads both sides in
    # the result stage, where a broadcast would add a job
    (got,) = docs.agg(*stats).crossJoin(extra.hint("shuffle_replicate_nl")).collect()
    return got.asDict()


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_size: int = 3,
    threshold: float = 0.5,
    max_df: int | DataFrame | None = None,
) -> DataFrame:
    """All pairs (id_a < id_b) with exact n-gram Jaccard >= ``threshold``.

    ``max_df`` drops shingles present in more than that many documents
    before the self-join (see module docstring for why that is the 100 TB
    survival knob); it may be an int or a one-row ``__max_df`` DataFrame
    (cap computed in-plan — see ``_hot_shingles``). With ``max_df=None``
    recall is exactly 1. When pruning
    is on, set sizes are recomputed ON THE PRUNED SHINGLE SPACE, so the
    result is the exact Jaccard over informative (non-boilerplate)
    shingles — not a downward-biased estimate of the full-set Jaccard.
    The 10× scaling probe (bench.py) measured exponent 2.1 for the
    uncapped join on a corpus with hot shingles vs ~linear with the cap —
    this knob is the difference between an operator that survives 100 TB
    and one that doesn't.

    The input is cached once and measured by one action; an
    input whose candidate-pair table fits ``session.driver_bound`` is
    resolved by ``_driver_pairs`` and returned as a ``LocalRelation``,
    a larger one by the Spark plan (module docstring). Both paths share
    these semantics: rows sharing an id add up by id value; a null id
    never pairs; a null text is one null shingle, counted in its id's
    size, never pruned and never paired; ``jaccard`` is the long/long
    division as a double, so a zero denominator (only reachable through
    duplicate ids) raises under ANSI mode and drops the pair otherwise.
    """
    docs = cache_once(df.select(id_col, text_col))
    frame = isinstance(max_df, DataFrame)
    got = text_shape(
        docs, text_col, shingle_size, _cap_row(max_df) if frame else None
    )
    cap = got["__max_df"] if frame else max_df
    rows, postings = got["rows"], got["windows"]
    fanout = rows if cap is None else max(min(cap, rows), 0)
    id_bytes = docs._jdf.schema().apply(id_col).dataType().defaultSize()
    held = got["text_bytes"] + rows * id_bytes
    candidates = postings * max(fanout - 1, 0) // 2
    bound = driver_bound(df.sparkSession)
    if bound >= 0 and held + candidates * _PAIR_ROW_BYTES <= bound:
        return _driver_pairs(docs, id_col, text_col, shingle_size, threshold, cap)

    inv, sizes = _pruned_index(docs, id_col, text_col, shingle_size, max_df)
    inter = (
        band_pairs(inv, id_col, ("shingle",))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(
            sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("n_a")), "id_a"
        )
        .join(
            sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("n_b")), "id_b"
        )
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# The most arrays with one entry per candidate pair that `_driver_pairs`
# holds at once: inside `np.unique` with counts, five int64 (the pair
# keys, their sorted copy, the unique keys and two index arrays) and one
# bool mask. Pair generation holds at most four int64 and one bool, and
# scoring at most five int64 and one bool.
_PAIR_ROW_BYTES = 5 * np.dtype(np.int64).itemsize + np.dtype(np.bool_).itemsize


def _driver_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_size: int,
    threshold: float,
    cap,
) -> DataFrame:
    """The Spark plan's pairs from one numpy pass over the collected
    ``(id, text)`` rows, as a ``LocalRelation``.

    Ids are ranked by a sorted factorization, so rank order is the
    engine's id order and ``rank_a < rank_b`` is ``id_a < id_b``. Each
    row's ``distinct_shingles`` become postings; the DF prune drops the
    postings of non-null shingles held by more than ``cap`` rows; sizes
    count every surviving posting per id rank. Postings sorted by
    (shingle, rank) make every within-shingle pair ``i < j`` come out with
    ``rank_i <= rank_j``; equal ranks (one id) are dropped, and
    ``np.unique`` over ``rank_a·N + rank_b`` counts each pair's
    intersection."""
    import pandas as pd

    spark = docs.sparkSession
    table = docs.toArrow()
    ids = table.column(id_col).combine_chunks()
    codes, uniq = pd.factorize(
        ids.drop_null().to_numpy(zero_copy_only=False), sort=True
    )
    n_ids = len(uniq)
    row_rank = np.full(len(ids), -1, np.int64)
    row_rank[ids.is_valid().to_numpy(zero_copy_only=False)] = codes
    sets = [
        distinct_shingles(t, shingle_size)
        for t in table.column(text_col).to_pylist()
    ]
    rank = np.repeat(row_rank, [len(s) for s in sets])
    shingle, _ = pd.factorize(
        np.array([g for s in sets for g in s], dtype=object)
    )  # the null shingle of a null text codes as -1
    if cap is not None:
        df_count = np.bincount(shingle + 1)[shingle + 1]
        keep = (shingle < 0) | ~(df_count > cap)  # Spark prunes `__df > cap`
        rank, shingle = rank[keep], shingle[keep]
    n = np.bincount(rank[rank >= 0], minlength=n_ids)

    live = (shingle >= 0) & (rank >= 0)
    s, r = shingle[live], rank[live]
    order = np.lexsort((r, s))
    s, r = s[order], r[order]
    start = np.flatnonzero(np.diff(s, prepend=-1))
    size = np.diff(start, append=len(s))
    after = np.repeat(start + size, size) - np.arange(len(s)) - 1
    left = np.repeat(np.arange(len(s)), after)
    right = np.arange(len(left))
    right -= np.repeat(np.cumsum(after) - after, after)
    right += left + 1
    b = r[right]
    del right
    a = r[left]
    del left
    pair = a < b
    key = a[pair]
    key *= n_ids
    key += b[pair]
    del a, b, pair
    keys, inter = np.unique(key, return_counts=True)
    del key
    a, b = np.divmod(keys, n_ids)
    del keys
    denom = n[a]
    denom += n[b]
    denom -= inter
    zero = denom == 0
    if zero.any() and spark._jsparkSession.sessionState().conf().ansiEnabled():
        raise ArithmeticException(
            message="[DIVIDE_BY_ZERO] Division by zero in the Jaccard of "
            "ids sharing every shingle across duplicate rows."
        )
    with np.errstate(divide="ignore", invalid="ignore"):
        jaccard = inter / denom
    del inter, denom
    hit = ~zero & (jaccard >= threshold)
    return spark.createDataFrame(
        pa.table(
            {
                "id_a": pa.array(uniq[a[hit]], type=ids.type),
                "id_b": pa.array(uniq[b[hit]], type=ids.type),
                "jaccard": pa.array(jaccard[hit], type=pa.float64()),
            }
        )
    )


def ngram_jaccard_pairs_against(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_size: int = 3,
    threshold: float = 0.5,
    max_df: int | DataFrame | None = None,
) -> DataFrame:
    """Incremental near-dup: pairs between a NEW ``batch`` and the EXISTING
    ``corpus`` only — the daily-ingest shape. Never compares corpus docs
    with each other, so the join cost is O(batch-index × matching corpus
    postings), not O(corpus²): at 100 TB the corpus side is the big one
    and this asymmetry is the whole point. Same DF prune (computed on the
    corpus+batch union so a boilerplate shingle is recognized no matter
    which side it dominates) and same pruned-space Jaccard semantics as
    `ngram_jaccard_pairs`. Output: (batch_id, corpus_id, jaccard).
    """
    inv_c = shingle_sets(corpus, id_col, text_col, shingle_size).select(
        F.col(id_col), F.explode("sset").alias("shingle")
    )
    inv_b = shingle_sets(batch, id_col, text_col, shingle_size).select(
        F.col(id_col), F.explode("sset").alias("shingle")
    )
    if max_df is not None:
        df_counts = (
            inv_c.select("shingle")
            .union(inv_b.select("shingle"))
            .groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("__df"))
        )
        hot = _hot_shingles(df_counts, max_df)
        inv_c = inv_c.join(F.broadcast(hot), on="shingle", how="left_anti")
        inv_b = inv_b.join(F.broadcast(hot), on="shingle", how="left_anti")
    # pre-partitioned caches — the batch-vs-corpus join consumes both
    # indexes exchange-free (see _pruned_index)
    inv_c = cache_once(inv_c.repartition("shingle"))
    inv_b = cache_once(inv_b.repartition("shingle"))
    n_c = inv_c.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_c"))
    n_b = inv_b.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_b"))
    inter = (
        inv_b.select(F.col(id_col).alias("batch_id"), "shingle")
        .join(inv_c.select(F.col(id_col).alias("corpus_id"), "shingle"), "shingle")
        .groupBy("batch_id", "corpus_id")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(n_b.select(F.col(id_col).alias("batch_id"), "n_b"), "batch_id")
        .join(n_c.select(F.col(id_col).alias("corpus_id"), "n_c"), "corpus_id")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("n_b") + F.col("n_c") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("batch_id", "corpus_id", "jaccard")
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_size: int = 3,
    threshold: float = 0.8,
    max_df: int | DataFrame | None = None,
) -> DataFrame:
    """All ordered pairs where the SMALLER document's shingle set is
    ``threshold``-contained in the larger's: containment =
    inter / min(|A|, |B|). The partial-duplication class Jaccard
    under-scores — a full document embedded in one 10x longer has
    Jaccard ~0.1 but containment ~1.0 (quote-expansion, aggregation
    pages, prefix/suffix re-crawls beyond `prefix_containment_pairs`'s
    contiguous-prefix case).

    Output (inner_id, outer_id, containment): inner is the contained
    (smaller-set) side; set-size ties default to the smaller id as
    inner. Same inverted-index join + DF-prune scale shape as
    `ngram_jaccard_pairs` (one shuffle keyed by shingle, pair stream
    partially aggregated map-side; containment on the PRUNED space).
    """
    inv, sizes = _pruned_index(df, id_col, text_col, shingle_size, max_df)
    inter = (
        band_pairs(inv, id_col, ("shingle",))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    scored = (
        inter.join(
            sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("n_a")),
            "id_a",
        )
        .join(
            sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("n_b")),
            "id_b",
        )
        .withColumn(
            "containment",
            F.col("inter") / F.least(F.col("n_a"), F.col("n_b")),
        )
        .filter(F.col("containment") >= threshold)
    )
    inner_first = F.col("n_a") < F.col("n_b")
    tie = (F.col("n_a") == F.col("n_b"))
    return scored.select(
        F.when(inner_first | tie, F.col("id_a"))
        .otherwise(F.col("id_b"))
        .alias("inner_id"),
        F.when(inner_first | tie, F.col("id_b"))
        .otherwise(F.col("id_a"))
        .alias("outer_id"),
        "containment",
    )
