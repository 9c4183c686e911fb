"""Distributed BPE tokenizer training (Sennrich et al. 2016, ACL —
"Neural Machine Translation of Rare Words with Subword Units").

BPE training is an iterative reduction over a WORD-FREQUENCY table, not
the raw corpus: one corpus pass builds (word, freq), after which every
merge iteration touches only the distinct-word table (usually 10^5–10^6
rows however big the corpus — the part that must be distributed is the
first pass, and it's one explode + groupBy).

- ``word_freqs``: corpus pass — tokenize, explode, count. Map-side partial
  aggregation collapses each task's token stream before the single
  exchange on the token.
- ``pair_counts``: adjacent symbol-pair frequencies weighted by word freq
  (iteration 0 equals character-bigram counts — the oracle-checkable
  query); an explode of per-word pair arrays into a 2-level aggregation.
- ``train_bpe``: the driver loop. Each iteration finds the argmax pair
  (count desc, pair asc — deterministic tie-break), then rewrites every
  word's symbol array with ONE left-to-right greedy fold (exactly the
  sequential BPE merge semantics: in "aaa", positions 1-2 merge, the new
  token does not immediately re-merge with position 3). The fold is a
  Catalyst ``aggregate`` over the bound symbol column — no Python in the
  executor path; the driver sees only the k argmax scalars.

Scale: iterations operate on the word table (small by Zipf's law); a
checkpoint every ``CHECKPOINT_EVERY`` merges truncates the growing
lineage through the session's ``_ckpt``/``_reap`` pair, like the
connected-components loop (operators/cluster.py). The reference engine
has no tokenizer support (SURVEY.md §2 gap list).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pydatalake_spark.functions.text import tokenize
from pydatalake_spark.operators.scaling import fan_out
from pydatalake_spark.session import _ckpt, _reap

CHECKPOINT_EVERY = 4  # merges between lineage truncations


def word_freqs(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """(word, freq): corpus token frequencies — the one data-sized pass."""
    return (
        fan_out(df)
        .select(F.explode(tokenize(text_col)).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _adjacent_pairs(sym: Column) -> Column:
    """Array of 'a b'-joined adjacent symbol pairs of a symbol array."""
    return F.transform(
        F.sequence(F.lit(1), F.size(sym) - 1),
        lambda i: F.concat_ws(
            " ", F.element_at(sym, i), F.element_at(sym, i + 1)
        ),
    )


def _chars(word: Column) -> Column:
    # split at every inter-char boundary; the lookahead also matches at the
    # end of string and F.split keeps trailing empties (limit -1) — drop them
    return F.array_remove(F.split(word, "(?!^)"), "")


def pair_counts(words: DataFrame) -> DataFrame:
    """(pair, n): adjacent symbol-pair counts over (word, freq) rows whose
    symbols are single characters (merge iteration 0)."""
    sym = words.select(
        "freq", _chars(F.col("word")).alias("sym")
    )
    return (
        sym.filter(F.size("sym") >= 2)
        .select("freq", F.explode(_adjacent_pairs(F.col("sym"))).alias("pair"))
        .groupBy("pair")
        .agg(F.sum("freq").cast("long").alias("n"))
    )


def _merge_pair(sym: Column, a: str, b: str) -> Column:
    """Left-to-right greedy merge of adjacent (a, b) into a+b."""
    merged = F.lit(a + b)
    return F.aggregate(
        sym,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b))
            # a freshly-written merge token never re-merges in this pass:
            # slicing below replaced the tail with a+b, which != a unless
            # a == a+b (impossible for non-empty b)
            ,
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def train_bpe(
    df: DataFrame,
    num_merges: int = 10,
    text_col: str = "text",
) -> list[tuple[str, str]]:
    """Learn ``num_merges`` BPE merge rules from the corpus; returns them
    in order. Deterministic: argmax by (count desc, pair asc). Every
    checkpoint generation is reaped once the next one has materialized,
    and the last one on return: the merges are a plain list."""
    words = word_freqs(df, text_col).select(
        "freq", _chars(F.col("word")).alias("sym")
    )
    words, ids = _ckpt(words)
    merges: list[tuple[str, str]] = []
    for it in range(num_merges):
        top = (
            words.filter(F.size("sym") >= 2)
            .select(
                "freq", F.explode(_adjacent_pairs(F.col("sym"))).alias("pair")
            )
            .groupBy("pair")
            .agg(F.sum("freq").alias("n"))
            .orderBy(F.col("n").desc(), F.col("pair").asc())
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b = top[0].pair.split(" ", 1)
        merges.append((a, b))
        words = words.select("freq", _merge_pair(F.col("sym"), a, b).alias("sym"))
        if (it + 1) % CHECKPOINT_EVERY == 0:
            words, new_ids = _ckpt(words)
            _reap(words, ids)
            ids = new_ids
    _reap(words, ids)
    return merges


def apply_bpe(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, n_tokens, n_subwords): segment every document with the learned
    merge rules (same greedy fold per rule, applied in training order)."""
    toks = tokenize(text_col)
    base = df.select(F.col(id_col), toks.alias("_toks"))
    ex = base.select(
        F.col(id_col), F.explode("_toks").alias("word")
    ).filter(F.length("word") > 0)
    sym = _chars(F.col("word"))
    out = ex.select(F.col(id_col), sym.alias("sym"))
    for a, b in merges:
        # chained folds nest, but each fold consumes its input ONCE per
        # row, so CollapseProject inlining stays linear (no per-element
        # recompute — unlike the winnowing transform-of-transform hazard)
        out = out.select(
            F.col(id_col), _merge_pair(F.col("sym"), a, b).alias("sym")
        )
    return out.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum(F.size("sym")).cast("long").alias("n_subwords"),
    )


def save_bpe_merges(
    spark, merges: list[tuple[str, str]], path: str
) -> None:
    """Persist learned merge rules as parquet (rank order preserved) so
    the corpus-scale training pass runs ONCE and every tokenization job —
    batch or streaming — applies the SAME vocabulary; re-training per job
    would silently shift token boundaries between runs (the same
    train-once contract as `similarity.save_ivf_centroids`)."""
    rows = [(i, a, b) for i, (a, b) in enumerate(merges)]
    spark.createDataFrame(
        rows, "rank int, left string, right string"
    ).coalesce(1).write.mode("overwrite").parquet(path)


def load_bpe_merges(spark, path: str) -> list[tuple[str, str]]:
    """Inverse of `save_bpe_merges`, rank order preserved."""
    rows = spark.read.parquet(path).orderBy("rank").collect()
    return [(r.left, r.right) for r in rows]
