"""Text-analysis & dedup query corpus (north-star ops) with DuckDB oracles.

The repetitive oracle SQL (minhash hashes, simhash bits, language CASE
chain) is generated from the same constants the Spark operators use, so the
two sides cannot drift.
"""

from __future__ import annotations

import sys

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pydatalake_spark.functions.text import (
    LANG_MARKERS,
    STOPWORDS,
    predicted_language,
    punct_ratio,
    quality_score,
    stopword_ratio,
    tokenize,
)
from pydatalake_spark.operators.minhash import (
    lsh_candidate_pairs,
    minhash_signatures,
    near_dup_pairs,
)
from pydatalake_spark.operators.simhash import (
    SIMHASH_BITS,
    simhash_near_dup,
    simhash_table,
)
from pydatalake_spark.queries.tables import load_table as _t
from pydatalake_spark.queries.tables import sf_stamp
from pydatalake_spark.session import cache_once, driver_bound, memo

QUERIES: dict = {}
ORACLE: dict = {}


def q(name: str, sql: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLE[name] = sql
        return fn

    return deco


# ---------------------------------------------------------------------------
# token statistics / quality / language-ID / fingerprints
# ---------------------------------------------------------------------------


@q(
    "text_token_stats",
    """
    WITH tok AS (
        SELECT doc_id, text, string_split(trim(text), ' ') AS toks FROM documents
    )
    SELECT doc_id,
           length(text)                                  AS n_chars,
           len(toks)                                     AS n_tokens,
           len(list_distinct(toks))                      AS n_unique_tokens,
           length(replace(text, ' ', '')) / len(toks)    AS avg_token_len
    FROM tok
    """,
)
def text_token_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Token counting over documents (whitespace tokenization), all
    JVM-side expressions — the per-doc map phase of a corpus-stats job."""
    d = _t(spark, sf, "documents")
    toks = tokenize("text")
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_unique_tokens"),
        (
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
            / F.size(toks)
        ).alias("avg_token_len"),
    )


_STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)


@q(
    "text_quality_score",
    f"""
    WITH tok AS (
        SELECT doc_id, text, string_split(trim(text), ' ') AS toks FROM documents
    )
    SELECT doc_id,
           len(list_filter(toks, t -> t IN ({_STOP_SQL}))) / len(toks) AS stopword_ratio,
           (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
               / nullif(length(text), 0)                               AS punct_ratio,
           len(list_filter(toks, t -> t IN ({_STOP_SQL}))) / len(toks) * 0.3
             + (1 - (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
                     / nullif(length(text), 0)) * 0.2
             + least(len(toks) / 100, 1.0) * 0.5                       AS quality_score
    FROM tok
    """,
)
def text_quality_score(spark: SparkSession, sf: str) -> DataFrame:
    """Heuristic document quality: stopword ratio + punctuation ratio +
    length saturation, the standard pre-training corpus filters."""
    d = _t(spark, sf, "documents")
    toks = tokenize("text")
    return d.select(
        "doc_id",
        stopword_ratio(toks).alias("stopword_ratio"),
        punct_ratio("text").alias("punct_ratio"),
        quality_score(toks).alias("quality_score"),
    )


def _langid_sql() -> str:
    score_cols = ",\n               ".join(
        f"len(list_filter(toks, t -> t IN ({', '.join(repr(w) for w in ws)}))) AS s_{lang}"
        for lang, ws in LANG_MARKERS.items()
    )
    langs = list(LANG_MARKERS)
    cases = []
    for lang in langs:
        conds = " AND ".join(
            f"s_{lang} >= s_{o}" for o in langs if o != lang
        )
        cases.append(f"WHEN {conds} THEN '{lang}'")
    case_sql = "CASE " + " ".join(cases) + f" ELSE '{langs[0]}' END"
    return f"""
    WITH tok AS (
        SELECT doc_id, lang, string_split(trim(text), ' ') AS toks FROM documents
    ), scored AS (
        SELECT doc_id, lang AS labeled_lang,
               {score_cols}
        FROM tok
    )
    SELECT doc_id, labeled_lang, {case_sql} AS pred_lang FROM scored
    """


@q("text_langid", _langid_sql())
def text_langid(spark: SparkSession, sf: str) -> DataFrame:
    """Marker-word language ID heuristic (deterministic argmax, ties to the
    priority order shared with the oracle generator)."""
    d = _t(spark, sf, "documents")
    toks = tokenize("text")
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        predicted_language(toks).alias("pred_lang"),
    )


@q(
    "doc_fingerprint",
    """
    SELECT doc_id,
           md5(text) AS fp_md5,
           md5(array_to_string(list_sort(string_split(trim(text), ' ')), ' ')) AS fp_shape
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """Document fingerprints: exact content hash + order-insensitive
    "shape" hash (sorted-token bag) for shuffled-copy detection."""
    d = _t(spark, sf, "documents")
    toks = tokenize("text")
    return d.select(
        "doc_id",
        F.md5("text").alias("fp_md5"),
        F.md5(F.array_join(F.array_sort(toks), " ")).alias("fp_shape"),
    )


@q(
    "exact_dedup_docs",
    """
    SELECT md5(text) AS fp, min(doc_id) AS keep_doc_id, count(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def exact_dedup_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup by content hash: one shuffle on the 16-byte fingerprint
    (never on the full text), min-id row kept — the canonical-copy choice
    is deterministic."""
    d = _t(spark, sf, "documents")
    return (
        d.groupBy(F.md5("text").alias("fp"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


@q(
    "token_frequencies",
    """
    WITH t AS (
        SELECT doc_id, unnest(string_split(trim(text), ' ')) AS token FROM documents
    )
    SELECT token, count(*) AS n_occurrences, count(DISTINCT doc_id) AS n_docs
    FROM t GROUP BY token
    """,
)
def token_frequencies(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus term frequencies (explode + partial-agg; the map-side combine
    keeps the shuffle at |vocab|, not |tokens|)."""
    d = _t(spark, sf, "documents")
    return (
        d.select("doc_id", F.explode(tokenize("text")).alias("token"))
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
    )


@q(
    "bpe_token_stats",
    r"""
    WITH tok AS (
        SELECT doc_id,
               regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]', 0) AS toks
        FROM documents
    )
    SELECT doc_id,
           len(toks)                    AS n_tokens,
           len(list_distinct(toks))     AS n_unique,
           len(list_filter(toks, t -> regexp_matches(t, '^[0-9]+$')))      AS n_number,
           len(list_filter(toks, t -> NOT regexp_matches(t, '^[A-Za-z0-9]'))) AS n_punct
    FROM tok
    """,
)
def bpe_token_stats(spark: SparkSession, sf: str) -> DataFrame:
    """BPE-ish pre-tokenization stats (letter runs / digit runs /
    punctuation marks — functions/text.py:regex_tokenize): the token
    accounting an LLM-data pipeline runs before byte-pair encoding."""
    from pydatalake_spark.functions.text import regex_tokenize

    d = _t(spark, sf, "documents")
    toks = regex_tokenize("text")
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_unique"),
        F.size(F.filter(toks, lambda t: t.rlike("^[0-9]+$")))
        .cast("long")
        .alias("n_number"),
        F.size(F.filter(toks, lambda t: ~t.rlike("^[A-Za-z0-9]")))
        .cast("long")
        .alias("n_punct"),
    )


@q(
    "winnow_fingerprints",
    """
    WITH h AS (
        SELECT doc_id,
               list_transform(range(1, greatest(length(text) - 8 + 1, 1) + 1),
                              i -> substr(md5(substr(text, i, 8)), 1, 8)) AS hs
        FROM documents
    )
    SELECT doc_id,
           array_to_string(list_sort(list_distinct(
               list_transform(range(1, greatest(len(hs) - 4 + 1, 1) + 1),
                              i -> list_min(hs[i:i+3]))
           )), ',') AS fingerprints
    FROM h
    """,
)
def winnow_fingerprints_q(spark: SparkSession, sf: str) -> DataFrame:
    """Winnowing rolling-hash fingerprints (k=8 chars, window w=4):
    position-robust doc signatures (functions/text.py:winnow_table — the
    two-projection form that computes the hash stream once per doc).

    The gate projection joins the sorted fingerprint set to one CSV string:
    array-typed result columns crash pandas-based canonicalizers
    (``sort_values`` → unhashable list, VERDICT r3 #3). Both sides sort
    ascending before the join, so the strings are bit-identical."""
    from pydatalake_spark.functions.text import winnow_table
    from pydatalake_spark.operators.scaling import fan_out

    d = _t(spark, sf, "documents")
    fp = winnow_table(fan_out(d), "doc_id", "text", k=8, w=4)
    return fp.select(
        "doc_id", F.array_join("fingerprints", ",").alias("fingerprints")
    )


# ---------------------------------------------------------------------------
# MinHash-LSH near-dedup (operators/minhash.py)
# ---------------------------------------------------------------------------

_MH_N = 8
_MH_BANDS = 2
_MH_K = 3


def _shingle_cte(src: str = "documents", pre: str = "") -> str:
    return f"""
    WITH {pre}tok AS (
        SELECT doc_id, string_split(trim(text), ' ') AS toks FROM {src}
    ), sh AS (
        SELECT doc_id,
               CASE WHEN len(toks) >= {_MH_K}
                    THEN list_transform(range(1, len(toks) - {_MH_K - 2}),
                         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                    ELSE [array_to_string(toks, ' ')] END AS shingles
        FROM tok
    ), hs AS (
        SELECT doc_id, shingles,
               list_transform(shingles, s -> md5(s)) AS h
        FROM sh
    ), mh AS (
        SELECT doc_id, shingles,
               {", ".join(
                   f"list_min(list_transform(h, x -> substr(x, {3 * j + 1}, 8))) AS mh_{j}"
                   for j in range(_MH_N)
               )}
        FROM hs
    )"""


def _bands_sql() -> str:
    rows = _MH_N // _MH_BANDS
    parts = []
    for b in range(_MH_BANDS):
        cols = "||".join(f"mh_{b * rows + r}" for r in range(rows))
        parts.append(
            f"SELECT doc_id, {b} AS band, md5({cols}) AS bucket FROM mh"
        )
    return " UNION ALL ".join(parts)


@q(
    "minhash_signatures",
    _shingle_cte()
    + f"""
    SELECT doc_id, {", ".join(f"mh_{j}" for j in range(_MH_N))} FROM mh
    """,
)
def minhash_signatures_q(spark: SparkSession, sf: str) -> DataFrame:
    """The corpus's MinHash signatures, cached (``cache_once``): the
    minhash-family operators (`near_dup_pairs`, `lsh_candidate_pairs`,
    ``DataLakeTable.dedup_near``) cache the plan-equal table, so once
    this query ran they read its blocks instead of signing every
    document again."""
    d = _t(spark, sf, "documents")
    sig = cache_once(minhash_signatures(d, num_hashes=_MH_N, shingle_size=_MH_K))
    return sig.select("doc_id", *[f"mh_{j}" for j in range(_MH_N)])


@q(
    "lsh_candidate_pairs",
    _shingle_cte()
    + f""", bb AS ({_bands_sql()})
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bb a JOIN bb b
      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    """,
)
def lsh_candidate_pairs_q(spark: SparkSession, sf: str) -> DataFrame:
    d = _t(spark, sf, "documents")
    return lsh_candidate_pairs(
        d, num_hashes=_MH_N, num_bands=_MH_BANDS, shingle_size=_MH_K
    )


@q(
    "near_dup_pairs",
    _shingle_cte()
    + f""", bb AS ({_bands_sql()}),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bb a JOIN bb b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ), sets AS (
        SELECT doc_id, list_distinct(shingles) AS sset FROM sh
    )
    SELECT id_a, id_b,
           len(list_intersect(sa.sset, sb.sset))
             / (len(sa.sset) + len(sb.sset) - len(list_intersect(sa.sset, sb.sset)))
             AS jaccard
    FROM cand
    JOIN sets sa ON sa.doc_id = id_a
    JOIN sets sb ON sb.doc_id = id_b
    WHERE len(list_intersect(sa.sset, sb.sset))
            / (len(sa.sset) + len(sb.sset) - len(list_intersect(sa.sset, sb.sset)))
          >= 0.5
    """,
)
def near_dup_pairs_q(spark: SparkSession, sf: str) -> DataFrame:
    return _minhash_pairs(spark, sf)


def _minhash_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Per-corpus cached MinHash-LSH verified pair table at the 0.5
    threshold — the `_jaccard_pairs` pattern for the LSH family: the pair
    listing and `pipeline_clean_corpus` consume the identical pair set
    (pair generation and Jaccard verification are PAIRWISE, so the
    pipeline restricts the corpus pairs to its survivor ids instead of
    re-running the band join on the survivor subset). Near-dup-density
    bounded — a materialized index, not a data-sized cache."""

    def build() -> DataFrame:
        return cache_once(
            near_dup_pairs(
                _t(spark, sf, "documents"),
                num_hashes=_MH_N,
                num_bands=_MH_BANDS,
                shingle_size=_MH_K,
                jaccard_threshold=0.5,
            )
        )

    return corpus_memo(spark, "minhash_pairs", sf, build)


def _ngram_pruned_cte() -> str:
    """Shared oracle CTEs: DF-pruned inverted index + sizes on the pruned
    shingle space (cap = greatest(20, 1% of corpus), mirroring
    `_ngram_max_df_plan`)."""
    return (
        _shingle_cte()
        + """, sets AS (
        SELECT doc_id, list_distinct(shingles) AS sset FROM sh
    ), inv0 AS (
        SELECT doc_id, unnest(sset) AS shingle FROM sets
    ), keep AS (
        SELECT shingle FROM inv0 GROUP BY shingle
        HAVING count(*) <= greatest(20, 0.01 * (SELECT count(*) FROM documents))
    ), inv AS (
        SELECT inv0.doc_id, inv0.shingle FROM inv0 JOIN keep USING (shingle)
    ), sizes AS (
        SELECT doc_id, count(*) AS n FROM inv GROUP BY doc_id
    ), co AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )"""
    )


def _ngram_max_df_plan(d: DataFrame) -> DataFrame:
    """Relative DF cap, 1% of the corpus with a floor of 20, so the prune
    stays a boilerplate filter rather than a recall cliff. Computed
    IN-PLAN as a one-row ``__max_df`` table that the DF-prune crosses in
    as a broadcast (operators/ngram_jaccard.py ``_hot_shingles``), so no
    driver-side ``d.count()`` job runs per call. ``floor(count * 0.01)``
    is the same double multiply the oracle's ``greatest(20, 0.01 *
    count)`` cap compares against."""
    return d.agg(
        F.greatest(
            F.lit(20).cast("long"),
            F.floor(F.count(F.lit(1)) * 0.01),
        ).alias("__max_df")
    )


def _jaccard_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Per-corpus cached exact n-gram Jaccard pair table at the loose 0.5
    threshold — SEVEN diagnostics (the pair listing, clusters,
    communities, split contamination, source-duplication matrix, cluster
    histogram, threshold curve) consume the identical pair set, and the
    inverted-index self-join behind it is the expensive part of each.
    One cached table; the pair set is near-dup-density-bounded (tiny
    relative to the corpus), so this is a materialized index, not a
    data-sized cache."""
    from pydatalake_spark.operators.ngram_jaccard import ngram_jaccard_pairs

    def build() -> DataFrame:
        d = _t(spark, sf, "documents")
        return cache_once(
            ngram_jaccard_pairs(
                d, shingle_size=_MH_K, threshold=0.5,
                max_df=_ngram_max_df_plan(d),
            )
        )

    return corpus_memo(spark, "jaccard_pairs", sf, build)


@q(
    "ngram_jaccard_pairs",
    _ngram_pruned_cte()
    + """
    SELECT id_a, id_b,
           CAST(inter AS DOUBLE) / (na.n + nb.n - inter) AS jaccard
    FROM co
    JOIN sizes na ON na.doc_id = id_a
    JOIN sizes nb ON nb.doc_id = id_b
    WHERE CAST(inter AS DOUBLE) / (na.n + nb.n - inter) >= 0.5
    """,
)
def ngram_jaccard_pairs_q(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT n-gram Jaccard near-dup (inverted-index set-similarity join,
    operators/ngram_jaccard.py) over the DF-pruned shingle space — the
    10× scaling probe showed the uncapped join is quadratic on corpora
    with hot shingles (exponent 2.1), so the corpus query bakes in the
    relative cap the operator would always run with at scale."""
    from pydatalake_spark.operators.ngram_jaccard import ngram_jaccard_pairs

    return _jaccard_pairs(spark, sf)


# ---------------------------------------------------------------------------
# SimHash fingerprints (operators/simhash.py)
# ---------------------------------------------------------------------------


def _simhash_sql() -> str:
    # 64-bit scheme: two bits per md5 hex nibble — bit 2d is the nibble's
    # top bit (digit >= '8'), bit 2d+1 its second bit (digit in 4-7/c-f);
    # generated from the same constants the Spark operator uses
    def cond(j: int) -> str:
        d = j // 2
        if j % 2 == 0:
            return f"substr(h, {d + 1}, 1) >= '8'"
        return f"substr(h, {d + 1}, 1) IN ('4','5','6','7','c','d','e','f')"

    bits = ", ".join(
        f"""CASE WHEN list_sum(list_transform(hs,
            h -> CASE WHEN {cond(j)} THEN 1 ELSE -1 END)) > 0
            THEN '1' ELSE '0' END"""
        for j in range(SIMHASH_BITS)
    )
    return f"""
    WITH tok AS (
        SELECT doc_id,
               list_transform(string_split(trim(text), ' '), t -> md5(t)) AS hs
        FROM documents
    )
    SELECT doc_id, concat({bits}) AS simhash FROM tok
    """


# served-without-build hits of per-corpus derivations (table loads and
# dedup probes do not count): bench.py and perfbench tag a timed run
# that a memoized derivation served by this counter's delta
SESSION_CACHE_HITS = {"n": 0}


def corpus_memo(spark: SparkSession, name: str, sf: str, build):
    """Per-corpus derivation ``name`` of the corpus dir ``sf``, memoized
    in the session memo and rebuilt when the dir's ``sf_stamp`` changes,
    so a corpus rewritten mid-session gets fresh pair tables,
    fingerprints, fits and screen verdicts. Table loads carry the same
    stamp, so a rebuild reads the new files."""
    return memo(
        spark, (name, sf), build, stamp=sf_stamp(sf), hits=SESSION_CACHE_HITS
    )


def _fingerprints(spark: SparkSession, sf: str) -> DataFrame:
    """Per-corpus cached fingerprint table: the expensive pass runs once
    and both the fingerprint query and the near-dup query reuse it — a
    dedup pipeline materializes its index, it doesn't recompute it."""
    return corpus_memo(
        spark,
        "simhash",
        sf,
        lambda: cache_once(simhash_table(_t(spark, sf, "documents"))),
    )


@q("simhash_fingerprints", _simhash_sql())
def simhash_fingerprints(spark: SparkSession, sf: str) -> DataFrame:
    return _fingerprints(spark, sf)


_SNB = 4  # simhash near-dup bands
_SNH = 3  # max hamming distance (< _SNB, so banding loses no pair)


def _simhash_near_dup_sql() -> str:
    width = SIMHASH_BITS // _SNB
    band_eq = " OR ".join(
        f"substr(x.simhash, {b * width + 1}, {width}) = "
        f"substr(y.simhash, {b * width + 1}, {width})"
        for b in range(_SNB)
    )
    return f"""
    WITH sh AS ({_simhash_sql()}),
    cand AS (
        SELECT x.doc_id AS id_a, y.doc_id AS id_b,
               x.simhash AS sa, y.simhash AS sb
        FROM sh x JOIN sh y ON x.doc_id < y.doc_id AND ({band_eq})
    ), h AS (
        SELECT id_a, id_b,
               list_sum(list_transform(range(1, {SIMHASH_BITS} + 1),
                   i -> CASE WHEN substr(sa, i, 1) <> substr(sb, i, 1)
                        THEN 1 ELSE 0 END)) AS hamming
        FROM cand
    )
    SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
    FROM h WHERE hamming <= {_SNH}
    """


@q("simhash_near_dup", _simhash_near_dup_sql())
def simhash_near_dup_q(spark: SparkSession, sf: str) -> DataFrame:
    """Banded-simhash near-dedup: band equi-join candidates + exact Hamming
    verify (operators/simhash.py:simhash_near_dup). The oracle states the
    OR-of-bands membership predicate directly; the engine's exploded band
    equi-join computes the identical distinct-pair set with one shuffle."""
    return simhash_near_dup(
        _t(spark, sf, "documents"),
        num_bands=_SNB,
        max_hamming=_SNH,
        fingerprints=_fingerprints(spark, sf),
    )


@q(
    "approx_profile",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT)                 AS n,
           CAST(count(DISTINCT user_id) AS BIGINT)  AS exact_distinct,
           TRUE AS distinct_ok,
           TRUE AS q_p25_ok, TRUE AS q_p50_ok,
           TRUE AS q_p75_ok, TRUE AS q_p95_ok
    FROM events GROUP BY event_type
    """,
)
def approx_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Mergeable-sketch profile of the events stream: per event_type row
    count, HLL distinct-user estimate, approximate value quantiles — the
    one-pass cardinality/quantile tooling a 100 TB pipeline uses instead
    of exact COUNT(DISTINCT) (functions/sketch.py).

    Gateable-oracle contract: raw sketch estimates are engine-specific
    (DataSketches HLL / approx_percentile here, different sketches in any
    other engine), so the comparable surface is the exact aggregates plus
    WITHIN-ERROR-BOUND booleans computed Spark-side against Spark's own
    exact values — `distinct_ok` (HLL estimate within max(10%, ±1) of
    exact COUNT DISTINCT; HLL lgK=12 rsd is ~1.6%, so 10% is ≥6σ) and one
    `q_p*_ok` per quantile (approx_percentile accuracy=10000 ⇒ rank error
    ≤ n/10000, far inside the ±0.01-quantile window checked). The oracle
    states the exact columns and pins every bound TRUE; a hash mismatch
    means a sketch actually left its documented error envelope.
    (Tighter per-run error stats remain pytest-proven in
    tests/test_operators.py::test_sketch_summary_bounded_error.)"""
    e = _t(spark, sf, "events")
    qs = (0.25, 0.5, 0.75, 0.95)
    prof = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.countDistinct("user_id").cast("long").alias("exact_distinct"),
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id"))
        .cast("long")
        .alias("approx_distinct"),
        F.percentile_approx("value", list(qs), 10000).alias("aq"),
        F.percentile(
            "value",
            F.array(*[F.lit(max(p - 0.01, 0.0)) for p in qs]),
        ).alias("lo"),
        F.percentile(
            "value",
            F.array(*[F.lit(min(p + 0.01, 1.0)) for p in qs]),
        ).alias("hi"),
    )
    eps = F.lit(1e-9)
    return prof.select(
        "event_type",
        "n",
        "exact_distinct",
        (
            F.abs(F.col("approx_distinct") - F.col("exact_distinct"))
            <= F.greatest(
                F.lit(1).cast("double"),
                F.col("exact_distinct") * F.lit(0.1),
            )
        ).alias("distinct_ok"),
        *[
            (
                (F.col("aq")[i] >= F.col("lo")[i] - eps)
                & (F.col("aq")[i] <= F.col("hi")[i] + eps)
            ).alias(f"q_p{int(p * 100)}_ok")
            for i, p in enumerate(qs)
        ],
    )


@q(
    "train_test_split",
    """
    WITH b AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket
        FROM documents
    )
    SELECT CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
           count(*)        AS n_docs,
           min(doc_id)     AS min_id,
           max(doc_id)     AS max_id
    FROM b GROUP BY 1
    """,
)
def train_test_split(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic hash-split audit: per-split doc counts from the
    engine's split assignment (functions/split.py:split_by_hash) — a pure
    function of doc identity, so the oracle reproduces membership exactly
    (unlike randomSplit, which depends on seed AND partitioning)."""
    from pydatalake_spark.functions.split import split_by_hash

    d = _t(spark, sf, "documents")
    splits = split_by_hash(d, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    parts = [
        df.select(F.lit(name).alias("split"), "doc_id")
        for name, df in splits.items()
    ]
    u = parts[0]
    for p_ in parts[1:]:
        u = u.unionByName(p_)
    return u.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


@q(
    "unigram_surprisal",
    """
    WITH t AS (
        SELECT doc_id, unnest(string_split(trim(text), ' ')) AS token FROM documents
    ), cf AS (
        SELECT token, count(*) AS c FROM t GROUP BY 1
    )
    SELECT doc_id,
           count(*) AS n_tokens,
           avg(-ln(CAST(c AS DOUBLE) / (SELECT sum(c) FROM cf))) AS avg_surprisal
    FROM t JOIN cf USING (token)
    GROUP BY doc_id
    """,
)
def unigram_surprisal(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document mean unigram surprisal −ln p(token) under the corpus
    unigram distribution — the LM-free perplexity proxy: gibberish and
    rare-token-heavy docs score high, boilerplate scores low. One token
    explode, one vocabulary-sized frequency table joined back on token
    (the only wide shuffle), corpus total as a driver scalar."""
    d = _t(spark, sf, "documents")
    tok = d.select("doc_id", F.explode(tokenize("text")).alias("token"))
    cf = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    # r12: the corpus token total is Σc over the vocabulary-sized cf
    # table, crossed in as a one-row broadcast — the old driver-side
    # float(tok.count()) ran a SECOND full tokenize+explode pass over
    # the corpus per call just to fetch this scalar (guide §1.2: don't
    # compute things twice; §5: the driver should do no data work).
    tot = cf.agg(F.sum("c").cast("double").alias("__total"))
    return (
        tok.join(cf, "token")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.avg(-F.log(F.col("c") / F.col("__total"))).alias(
                "avg_surprisal"
            ),
        )
    )


@q(
    "tfidf_keywords",
    """
    WITH tok AS (
        SELECT doc_id, unnest(string_split(trim(text), ' ')) AS token FROM documents
    ), tf AS (
        SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2
    ), dfq AS (
        SELECT token, count(*) AS df FROM tf GROUP BY 1
    ), scored AS (
        SELECT doc_id, token,
               tf * ln(CAST((SELECT count(*) FROM documents) AS DOUBLE) / df) AS score
        FROM tf JOIN dfq USING (token)
    ), ranked AS (
        SELECT doc_id, token, score,
               CAST(row_number() OVER (PARTITION BY doc_id
                                       ORDER BY score DESC, token ASC) AS BIGINT)
                 AS kw_rank
        FROM scored
    )
    SELECT doc_id, token, score, kw_rank FROM ranked WHERE kw_rank <= 3
    """,
)
def tfidf_keywords(spark: SparkSession, sf: str) -> DataFrame:
    """Top-3 TF-IDF keywords per document. Corpus-level op: term
    frequency (one grouped pass), document frequency over the tf table
    (second pass, vocabulary-sized), idf join keyed on token, then a
    per-doc row_number window with a deterministic (score DESC, token)
    tiebreak. At scale the df table is vocabulary-sized (Zipf: far
    smaller than the corpus) and the token join is the only wide
    shuffle; n_docs is a driver scalar, not a crossed subplan."""
    from pyspark.sql import Window

    d = _t(spark, sf, "documents")
    # n_docs is a one-row broadcast crossed into the idf expression, so
    # the build fires no driver-side count job
    nd = d.agg(F.count(F.lit(1)).cast("double").alias("__nd"))
    tok = d.select("doc_id", F.explode(tokenize("text")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(nd))
        .withColumn("score", F.col("tf") * F.log(F.col("__nd") / F.col("df")))
        .drop("__nd")
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("token"))
    return (
        scored.withColumn("kw_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("kw_rank") <= 3)
        .select("doc_id", "token", "score", "kw_rank")
    )


@q(
    "near_dup_clusters",
    _ngram_pruned_cte().replace("WITH tok", "WITH RECURSIVE tok", 1)
    + """, edges AS (
        SELECT id_a, id_b
        FROM co JOIN sizes na ON na.doc_id = id_a JOIN sizes nb ON nb.doc_id = id_b
        WHERE CAST(inter AS DOUBLE) / (na.n + nb.n - inter) >= 0.5
    ), bidir AS (
        SELECT id_a AS src, id_b AS dst FROM edges
        UNION SELECT id_b, id_a FROM edges
    ), reach(src, dst) AS (
        SELECT src, dst FROM bidir
        UNION
        SELECT r.src, b.dst FROM reach r JOIN bidir b ON r.dst = b.src
    )
    SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
    FROM reach GROUP BY src
    """,
)
def near_dup_clusters_q(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup CLUSTER resolution: exact n-gram Jaccard pairs → connected
    components (operators/cluster.py: one driver-side union-find pass
    when the edge table fits the broadcast threshold, else iterative
    min-label propagation) → (doc_id, cluster_id=min member). The oracle
    computes the same components via a recursive-CTE transitive closure
    — fine at oracle scale, quadratic at real scale, which is exactly
    why the engine side never joins the closure."""
    from pydatalake_spark.operators.cluster import connected_components

    pairs = _jaccard_pairs(spark, sf)
    return connected_components(pairs).select(
        F.col("node").alias("doc_id"), "cluster_id"
    )


@q(
    "incremental_near_dup",
    _ngram_pruned_cte()
    + """
    SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id,
           CAST(count(*) AS DOUBLE) / (nb.n + nc.n - count(*)) AS jaccard
    FROM inv b
    JOIN inv c ON b.shingle = c.shingle
    JOIN sizes nb ON nb.doc_id = b.doc_id
    JOIN sizes nc ON nc.doc_id = c.doc_id
    WHERE b.doc_id % 10 = 7 AND c.doc_id % 10 != 7
    GROUP BY b.doc_id, c.doc_id, nb.n, nc.n
    HAVING CAST(count(*) AS DOUBLE) / (nb.n + nc.n - count(*)) >= 0.5
    """,
)
def incremental_near_dup_q(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental (batch-vs-corpus) near-dup
    (operators/ngram_jaccard.py:ngram_jaccard_pairs_against): a simulated
    daily batch (doc_id % 10 = 7) checked against the existing corpus
    without any corpus×corpus work — the shape ingest pipelines actually
    run. DF prune over the combined corpus, same cap as
    `ngram_jaccard_pairs`."""
    from pydatalake_spark.operators.ngram_jaccard import (
        ngram_jaccard_pairs_against,
    )

    d = _t(spark, sf, "documents")
    batch = d.filter(F.col("doc_id") % 10 == 7)
    corpus = d.filter(F.col("doc_id") % 10 != 7)
    return ngram_jaccard_pairs_against(
        corpus, batch, shingle_size=_MH_K, threshold=0.5,
        max_df=_ngram_max_df_plan(d),
    )


@q(
    "token_budget_sample",
    """
    WITH tokc AS (
        SELECT doc_id, lang, len(string_split(trim(text), ' ')) AS n_tok
        FROM documents
    ), totals AS (
        SELECT lang, sum(n_tok) AS t FROM tokc GROUP BY 1
    ), rates AS (
        SELECT lang,
               CASE lang
                    WHEN 'en' THEN least(1.0, 3000.0 / t)
                    WHEN 'zh' THEN least(1.0, 2000.0 / t)
                    ELSE 1.0 END AS rate
        FROM totals
    )
    SELECT d.doc_id, d.lang, d.n_tok
    FROM tokc d JOIN rates r ON d.lang = r.lang
    WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':budget'), 1, 8)) AS BIGINT)
            % 10000
          < CAST(floor(r.rate * 10000 + 0.5) AS BIGINT)
    """,
)
def token_budget_sample_q(spark: SparkSession, sf: str) -> DataFrame:
    """Token-budget rebalancing (functions/split.py:sample_to_token_budget):
    downsample English to ≈3000 tokens and Chinese to ≈2000, keep the rest
    whole — budgets in TOKENS, the unit training mixes are specified in.
    Full sampled membership is oracle-checked."""
    from pydatalake_spark.functions.split import sample_to_token_budget

    d = _t(spark, sf, "documents").withColumn(
        "n_tok", F.size(tokenize("text")).cast("long")
    )
    out = sample_to_token_budget(
        d, "doc_id", "lang", "n_tok", {"en": 3000, "zh": 2000}
    )
    return out.select("doc_id", "lang", "n_tok")


@q(
    "split_contamination",
    _ngram_pruned_cte()
    + """, pairs AS (
        SELECT id_a, id_b,
               CAST(inter AS DOUBLE) / (na.n + nb.n - inter) AS jaccard
        FROM co
        JOIN sizes na ON na.doc_id = id_a
        JOIN sizes nb ON nb.doc_id = id_b
        WHERE CAST(inter AS DOUBLE) / (na.n + nb.n - inter) >= 0.5
    ), b AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                 % 100 AS bucket
        FROM documents
    ), sp AS (
        SELECT doc_id, CASE WHEN bucket < 80 THEN 'train'
                            WHEN bucket < 90 THEN 'val'
                            ELSE 'test' END AS split
        FROM b
    )
    SELECT CASE WHEN sa.split = 'train' THEN id_b ELSE id_a END AS eval_id,
           CASE WHEN sa.split = 'train' THEN id_a ELSE id_b END AS train_id,
           CASE WHEN sa.split = 'train' THEN sb.split ELSE sa.split END AS eval_split,
           jaccard
    FROM pairs
    JOIN sp sa ON sa.doc_id = id_a
    JOIN sp sb ON sb.doc_id = id_b
    WHERE (sa.split = 'train') != (sb.split = 'train')
    """,
)
def split_contamination_q(spark: SparkSession, sf: str) -> DataFrame:
    """Eval-set decontamination: near-dup pairs that CROSS the train/eval
    split — each row is an eval document whose near-duplicate sits in
    train (hash-split assignment exactly as `train_test_split`; pairs
    exactly as `ngram_jaccard_pairs`). At scale this is the same
    inverted-index join plus one broadcast-sized split-label join — the
    decontamination pass costs no more than the dedup pass it rides on."""
    from pydatalake_spark.functions.split import hash_bucket, split_label
    from pydatalake_spark.operators.ngram_jaccard import ngram_jaccard_pairs

    d = _t(spark, sf, "documents")
    pairs = _jaccard_pairs(spark, sf)
    sp = d.select(
        "doc_id", split_label(hash_bucket("doc_id", 100)).alias("split")
    )
    j = (
        pairs.join(
            sp.select(F.col("doc_id").alias("id_a"), F.col("split").alias("split_a")),
            "id_a",
        )
        .join(
            sp.select(F.col("doc_id").alias("id_b"), F.col("split").alias("split_b")),
            "id_b",
        )
        .filter((F.col("split_a") == "train") != (F.col("split_b") == "train"))
    )
    train_on_a = F.col("split_a") == "train"
    return j.select(
        F.when(train_on_a, F.col("id_b")).otherwise(F.col("id_a")).alias("eval_id"),
        F.when(train_on_a, F.col("id_a")).otherwise(F.col("id_b")).alias("train_id"),
        F.when(train_on_a, F.col("split_b")).otherwise(F.col("split_a")).alias(
            "eval_split"
        ),
        "jaccard",
    )


@q(
    "stratified_sample_docs",
    """
    WITH b AS (
        SELECT doc_id, lang,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':strat'), 1, 8)) AS BIGINT)
                 % 10000 AS bucket
        FROM documents
    )
    SELECT doc_id, lang FROM b
    WHERE bucket < CASE WHEN lang = 'en' THEN 2500 ELSE 6000 END
    """,
)
def stratified_sample_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic per-language rebalancing sample (downsample dominant
    'en' to 25%, keep the rest at 60% — functions/split.py:
    stratified_sample). Full membership is oracle-checked, not just
    counts: the hash is engine-portable by construction."""
    from pydatalake_spark.functions.split import stratified_sample

    d = _t(spark, sf, "documents")
    return stratified_sample(
        d, "doc_id", "lang", {"en": 0.25}, default_rate=0.6
    ).select("doc_id", "lang")


def _pipeline_sql() -> str:
    """Composed corpus-cleaning pipeline oracle: quality filter -> exact
    dedup -> minhash near-dup removal -> deterministic split. Fragments
    share the _MH constants with the standalone near-dup oracle."""
    quality = f"""len(list_filter(toks0, t -> t IN ({_STOP_SQL}))) / len(toks0) * 0.3
             + (1 - (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
                     / nullif(length(text), 0)) * 0.2
             + least(len(toks0) / 100, 1.0) * 0.5"""
    mh_cols = ", ".join(
        f"list_min(list_transform(h, x -> substr(x, {3 * j + 1}, 8))) AS mh_{j}"
        for j in range(_MH_N)
    )
    rows_per_band = _MH_N // _MH_BANDS
    band_rows = ", ".join(
        f"(SELECT {b} AS band, md5(concat(mh_{b * rows_per_band}"
        + "".join(f", mh_{b * rows_per_band + r}" for r in range(1, rows_per_band))
        + ")) AS bucket)"
        for b in range(_MH_BANDS)
    )
    return f"""
    WITH scored AS (
        SELECT doc_id, text, string_split(trim(text), ' ') AS toks0 FROM documents
    ), docs0 AS (
        SELECT doc_id, text FROM scored WHERE {quality} >= 0.45
    ), keep1 AS (
        SELECT min(doc_id) AS doc_id FROM docs0 GROUP BY md5(text)
    ), docs1 AS (
        SELECT d.doc_id, d.text FROM docs0 d JOIN keep1 k ON d.doc_id = k.doc_id
    ), tok AS (
        SELECT doc_id, string_split(trim(text), ' ') AS toks FROM docs1
    ), sh AS (
        SELECT doc_id,
               CASE WHEN len(toks) >= {_MH_K}
                    THEN list_transform(range(1, len(toks) - {_MH_K - 2}),
                         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                    ELSE [array_to_string(toks, ' ')] END AS shingles
        FROM tok
    ), hs AS (
        SELECT doc_id, list_distinct(shingles) AS sset,
               list_transform(list_distinct(shingles), s -> md5(s)) AS h
        FROM sh
    ), mh AS (
        SELECT doc_id, sset, {mh_cols} FROM hs
    ), bb AS (
        SELECT doc_id, band, bucket FROM mh, LATERAL ({band_rows.replace(") AS bucket), (", ") AS bucket) UNION ALL (")})
    ), cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bb a JOIN bb b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ), nd AS (
        SELECT DISTINCT id_b FROM cand
        JOIN hs sa ON sa.doc_id = id_a
        JOIN hs sb ON sb.doc_id = id_b
        WHERE len(list_intersect(sa.sset, sb.sset))
                / (len(sa.sset) + len(sb.sset) - len(list_intersect(sa.sset, sb.sset)))
              >= 0.5
    ), final AS (
        SELECT doc_id FROM docs1 WHERE doc_id NOT IN (SELECT id_b FROM nd)
    )
    SELECT CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
           count(*) AS n_docs
    FROM (SELECT doc_id,
                 CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket
          FROM final)
    GROUP BY 1
    """


@q("pipeline_clean_corpus", _pipeline_sql())
def pipeline_clean_corpus(spark: SparkSession, sf: str) -> DataFrame:
    """The composed LLM-corpus pipeline in ONE lazy plan: quality filter ->
    exact dedup (min-id per content hash) -> minhash near-dup removal
    (drop the higher id of each verified pair) -> deterministic hash
    split. Catalyst sees the whole chain, so column pruning and the
    narrow dedup joins compose; the persisted pieces are the shared
    corpus-level signature cache (r8 VERDICT item 7), semi-joined down
    to the survivor set rather than re-shingled, and the narrow
    survivor-id set itself (consumed five times downstream)."""
    from pydatalake_spark.functions.split import hash_bucket, split_label

    d = _t(spark, sf, "documents")
    quality = quality_score(tokenize("text"))
    docs0 = d.filter(quality >= 0.45).select("doc_id", "text")
    keep1 = docs0.groupBy(F.md5("text").alias("__fp")).agg(
        F.min("doc_id").alias("doc_id")
    )
    docs1 = docs0.join(keep1.select("doc_id"), "doc_id")
    # r8 VERDICT item 7 (r9 form): LSH pair generation and Jaccard
    # verification are PAIRWISE — whether (a, b) share a band bucket and
    # what their shingle Jaccard is never depends on any third document —
    # so pairs-among-survivors == corpus-level pairs with BOTH endpoints
    # restricted to the survivor set. The corpus pair table is the
    # `_minhash_pairs` session cache the pair listing shares, so the
    # pipeline's near-dup stage collapses to two narrow semi-joins on the
    # (tiny, density-bounded) pair set instead of re-running the band
    # join + set verify over the survivor subset. The survivor-id set is
    # cached once (consumed by both semi-joins and the final anti-join).
    ids = cache_once(docs1.select("doc_id"))
    pairs = _minhash_pairs(spark, sf).select("id_a", "id_b")
    nd = (
        pairs.join(
            ids.select(F.col("doc_id").alias("id_a")), "id_a", "left_semi"
        )
        .join(ids.select(F.col("doc_id").alias("id_b")), "id_b", "left_semi")
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    final = ids.join(nd, "doc_id", "left_anti")
    return (
        final.select("doc_id", hash_bucket("doc_id", 100).alias("__b"))
        .select(split_label(F.col("__b")).alias("split"))
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def _pipeline_v2_sql() -> str:
    """Pipeline v2 oracle: quality → exact dedup → DF-pruned exact-Jaccard
    pairs among survivors → recursive-CTE connected components → keep each
    cluster's min id → split counts."""
    quality = f"""len(list_filter(toks0, t -> t IN ({_STOP_SQL}))) / len(toks0) * 0.3
             + (1 - (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
                     / nullif(length(text), 0)) * 0.2
             + least(len(toks0) / 100, 1.0) * 0.5"""
    return f"""
    WITH RECURSIVE scored AS (
        SELECT doc_id, text, string_split(trim(text), ' ') AS toks0 FROM documents
    ), docs0 AS (
        SELECT doc_id, text FROM scored WHERE {quality} >= 0.45
    ), keep1 AS (
        SELECT min(doc_id) AS doc_id FROM docs0 GROUP BY md5(text)
    ), docs1 AS (
        SELECT d.doc_id, d.text FROM docs0 d JOIN keep1 k ON d.doc_id = k.doc_id
    ), tok AS (
        SELECT doc_id, string_split(trim(text), ' ') AS toks FROM docs1
    ), sh AS (
        SELECT doc_id,
               CASE WHEN len(toks) >= {_MH_K}
                    THEN list_transform(range(1, len(toks) - {_MH_K - 2}),
                         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                    ELSE [array_to_string(toks, ' ')] END AS shingles
        FROM tok
    ), sets AS (
        SELECT doc_id, list_distinct(shingles) AS sset FROM sh
    ), inv0 AS (
        SELECT doc_id, unnest(sset) AS shingle FROM sets
    ), keepsh AS (
        SELECT shingle FROM inv0 GROUP BY shingle
        HAVING count(*) <= greatest(20, 0.01 * (SELECT count(*) FROM docs1))
    ), inv AS (
        SELECT inv0.doc_id, inv0.shingle FROM inv0 JOIN keepsh USING (shingle)
    ), sizes AS (
        SELECT doc_id, count(*) AS n FROM inv GROUP BY doc_id
    ), co AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), edges AS (
        SELECT id_a, id_b
        FROM co JOIN sizes na ON na.doc_id = id_a JOIN sizes nb ON nb.doc_id = id_b
        WHERE CAST(inter AS DOUBLE) / (na.n + nb.n - inter) >= 0.5
    ), bidir AS (
        SELECT id_a AS src, id_b AS dst FROM edges
        UNION SELECT id_b, id_a FROM edges
    ), reach(src, dst) AS (
        SELECT src, dst FROM bidir
        UNION
        SELECT r.src, b.dst FROM reach r JOIN bidir b ON r.dst = b.src
    ), labels AS (
        SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
        FROM reach GROUP BY src
    ), final AS (
        SELECT d.doc_id FROM docs1 d
        WHERE NOT EXISTS (SELECT 1 FROM labels l
                          WHERE l.doc_id = d.doc_id AND l.cluster_id != l.doc_id)
    )
    SELECT CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
           count(*) AS n_docs
    FROM (SELECT doc_id,
                 CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket
          FROM final)
    GROUP BY 1
    """


@q("pipeline_clean_corpus_v2", _pipeline_v2_sql())
def pipeline_clean_corpus_v2(spark: SparkSession, sf: str) -> DataFrame:
    """Pipeline v2 — CLUSTER-correct near-dedup: quality filter → exact
    dedup → exact n-gram Jaccard pairs among survivors (relative DF cap)
    → connected components → keep each near-dup cluster's min id →
    deterministic split. v1 drops the higher id of each PAIR, which
    over-deletes on chains (B~A and B~C kills B and C even though C keeps
    A company); components delete exactly n-1 docs per n-doc cluster."""
    from pydatalake_spark.functions.split import hash_bucket, split_label
    from pydatalake_spark.operators.cluster import connected_components
    from pydatalake_spark.operators.ngram_jaccard import ngram_jaccard_pairs

    d = _t(spark, sf, "documents")
    quality = quality_score(tokenize("text"))
    docs0 = d.filter(quality >= 0.45).select("doc_id", "text")
    keep1 = docs0.groupBy(F.md5("text").alias("__fp")).agg(
        F.min("doc_id").alias("doc_id")
    )
    docs1 = cache_once(docs0.join(keep1.select("doc_id"), "doc_id"))
    # the DF cap rides the plan as a one-row broadcast over the cached
    # survivor set, so the build fires no driver-side count job
    pairs = ngram_jaccard_pairs(
        docs1, shingle_size=_MH_K, threshold=0.5,
        max_df=_ngram_max_df_plan(docs1),
    )
    cc = connected_components(pairs)
    drop = cc.filter(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias("doc_id")
    )
    final = docs1.join(drop, "doc_id", "left_anti")
    return (
        final.select(hash_bucket("doc_id", 100).alias("__b"))
        .select(split_label(F.col("__b")).alias("split"))
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# multimodal column plumbing (binary payload + typed metadata)
# ---------------------------------------------------------------------------


@q(
    "multimodal_features",
    """
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           md5(text)                  AS checksum
    FROM documents
    """,
)
def multimodal_features(spark: SparkSession, sf: str) -> DataFrame:
    """Binary-column plumbing: documents as opaque binary payloads with
    extracted metadata. The decode/feature UDF stage (images/audio) lives
    in operators/multimodal.py as mapInPandas with a stubbed codec; this
    query proves the schema + expression path over binary columns."""
    d = _t(spark, sf, "documents")
    payload = F.encode(F.col("text"), "utf-8")
    return d.select(
        "doc_id",
        F.length(payload).cast("long").alias("n_bytes"),
        F.md5(payload).alias("checksum"),
    )


# ---------------------------------------------------------------------------
# PII redaction / repetition screens / Gopher rules / sequence packing
# ---------------------------------------------------------------------------

# patterns restricted to syntax Java regex (Spark) and RE2 (DuckDB) treat
# identically: literal classes, +/{n} quantifiers, no backrefs/lookaround
_EMAIL_RE = "[a-z0-9]+@[a-z]+[.][a-z]+"
_PHONE_RE = "555-[0-9]{4}"


@q(
    "pii_redact",
    f"""
    WITH injected AS (
        SELECT doc_id,
               text || repeat(' ' || source || doc_id || '@mail.com',
                              CAST(doc_id % 3 AS INTEGER))
                    || repeat(' 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR),
                                              4, '0'),
                              CAST(doc_id % 2 AS INTEGER)) AS raw
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(raw, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(raw, '{_PHONE_RE}')) AS BIGINT) AS n_phones,
           regexp_replace(regexp_replace(raw, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{_PHONE_RE}', '<PHONE>', 'g') AS redacted
    FROM injected
    """,
)
def pii_redact(spark: SparkSession, sf: str) -> DataFrame:
    """PII scrubbing for training corpora: count and redact email/phone
    spans with codegen'd regex expressions — per-row narrow work, no
    shuffle, the shape that holds at any corpus size. The fixture corpus
    carries no organic PII, so a deterministic injection step (emails and
    phone numbers derived from doc_id) both SEEDS the matches and lets the
    oracle reproduce them exactly."""
    d = _t(spark, sf, "documents")
    injected = F.concat(
        F.col("text"),
        F.repeat(
            F.concat(
                F.lit(" "),
                F.col("source"),
                F.col("doc_id").cast("string"),
                F.lit("@mail.com"),
            ),
            (F.col("doc_id") % 3).cast("int"),
        ),
        F.repeat(
            F.concat(
                F.lit(" 555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
            (F.col("doc_id") % 2).cast("int"),
        ),
    )
    raw = d.select("doc_id", injected.alias("raw"))
    return raw.select(
        "doc_id",
        F.size(F.expr(f"regexp_extract_all(raw, '{_EMAIL_RE}', 0)"))
        .cast("long")
        .alias("n_emails"),
        F.size(F.expr(f"regexp_extract_all(raw, '{_PHONE_RE}', 0)"))
        .cast("long")
        .alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace(F.col("raw"), _EMAIL_RE, "<EMAIL>"),
            _PHONE_RE,
            "<PHONE>",
        ).alias("redacted"),
    )


@q(
    "doc_repetition_stats",
    """
    WITH tok AS (
        SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok
        FROM documents
    ), per AS (
        SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY doc_id, tok
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT)                   AS n_tokens,
           CAST(count(*) AS BIGINT)                 AS n_unique,
           1.0 - count(*) / CAST(sum(c) AS DOUBLE)  AS dup_token_frac,
           max(c) / CAST(sum(c) AS DOUBLE)          AS top_token_frac
    FROM per GROUP BY doc_id
    """,
)
def doc_repetition_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Intra-document repetition screen (the Gopher/MassiveText repetition
    rules): duplicated-token fraction and most-common-token share per doc.
    Explode -> two keyed aggregations: the shuffle moves (doc_id, token,
    partial count) with map-side combine — never the token arrays — so the
    screen stays one narrow pass however wide the corpus."""
    d = _t(spark, sf, "documents")
    per = (
        d.select("doc_id", F.explode(tokenize("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return per.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_unique"),
        (F.lit(1.0) - F.count(F.lit(1)) / F.sum("c").cast("double")).alias(
            "dup_token_frac"
        ),
        (F.max("c") / F.sum("c").cast("double")).alias("top_token_frac"),
    )


@q(
    "gopher_quality_flags",
    f"""
    WITH tok AS (
        SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents
    )
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           len(list_filter(toks, t -> regexp_matches(t, '^[a-z]+$')))
               / CAST(len(toks) AS DOUBLE) AS alpha_ratio,
           len(list_filter(toks, t -> t IN ({_STOP_SQL})))
               / CAST(len(toks) AS DOUBLE) AS stop_ratio,
           (len(toks) BETWEEN 10 AND 100000)
               AND len(list_filter(toks, t -> regexp_matches(t, '^[a-z]+$')))
                   / CAST(len(toks) AS DOUBLE) >= 0.8
               AND len(list_filter(toks, t -> t IN ({_STOP_SQL})))
                   / CAST(len(toks) AS DOUBLE) >= 0.02 AS passes
    FROM tok
    """,
)
def gopher_quality_flags(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-rule document filter: token-count bounds, alphabetic-token
    ratio, and minimum stop-word presence as one boolean gate — the
    standard pre-training heuristics, all per-row array expressions (zero
    shuffle). Anchored `^[a-z]+$` keeps Spark `rlike` (partial-match) and
    DuckDB `regexp_matches` (partial-match) in agreement."""
    d = _t(spark, sf, "documents")
    toks = tokenize("text")
    n = F.size(toks)
    alpha = F.size(F.filter(toks, lambda t: t.rlike("^[a-z]+$"))) / n.cast(
        "double"
    )
    stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))) / n.cast(
        "double"
    )
    passes = (
        n.between(10, 100000) & (alpha >= 0.8) & (stop >= 0.02)
    )
    return d.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        alpha.alias("alpha_ratio"),
        stop.alias("stop_ratio"),
        passes.alias("passes"),
    )


_PACK_BUDGET = 512  # tokens per training sequence


@q(
    "sequence_pack",
    f"""
    WITH sized AS (
        SELECT doc_id, source,
               len(string_split(trim(text), ' ')) AS n_tokens
        FROM documents
    )
    SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(floor((sum(n_tokens) OVER w - n_tokens) / {_PACK_BUDGET})
                AS BIGINT) AS pack_id,
           CAST(sum(n_tokens) OVER w - n_tokens
                - floor((sum(n_tokens) OVER w - n_tokens) / {_PACK_BUDGET})
                  * {_PACK_BUDGET} AS BIGINT) AS pack_offset
    FROM sized
    WINDOW w AS (PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def sequence_pack(spark: SparkSession, sf: str) -> DataFrame:
    """Contiguous sequence packing for training batches: docs are laid out
    in deterministic (source, doc_id) order and cut into fixed token-budget
    packs by a running-sum window — pack_id = which sequence a doc starts
    in, pack_offset = its token offset inside that pack. Partitioned by
    source so the window shuffle is per-source (no global sort); packing
    within a shard is exactly what a 1000-executor run would do."""
    from pyspark.sql.window import Window

    d = _t(spark, sf, "documents")
    sized = d.select(
        "doc_id", "source", F.size(tokenize("text")).alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    before = F.sum("n_tokens").over(w) - F.col("n_tokens")
    pack_id = F.floor(before / _PACK_BUDGET)
    return sized.select(
        "doc_id",
        "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        pack_id.cast("long").alias("pack_id"),
        (before - pack_id * _PACK_BUDGET).cast("long").alias("pack_offset"),
    )


_CHUNK = 32  # tokens per chunk
_STRIDE = 24  # tokens between chunk starts (CHUNK - STRIDE = 8 overlap)


@q(
    "doc_chunks",
    f"""
    WITH tok AS (
        SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents
    ), sized AS (
        SELECT doc_id, toks,
               greatest(1, CAST(ceil((len(toks) - {_CHUNK})
                                     / CAST({_STRIDE} AS DOUBLE)) AS BIGINT) + 1)
                 AS n_chunks
        FROM tok
    ), idx AS (
        SELECT doc_id, toks, unnest(range(0, n_chunks)) AS i FROM sized
    )
    SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
           array_to_string(toks[(i * {_STRIDE} + 1):(i * {_STRIDE} + {_CHUNK})], ' ')
             AS chunk_text,
           CAST(least({_CHUNK}, len(toks) - i * {_STRIDE}) AS BIGINT)
             AS n_chunk_tokens
    FROM idx
    """,
)
def doc_chunks(spark: SparkSession, sf: str) -> DataFrame:
    """Overlapping token-window chunking (context-window prep for RAG /
    training): chunk i covers tokens [i*stride, i*stride+chunk) with the
    final window clipped, so every token lands in >=1 chunk and
    consecutive chunks share chunk-stride tokens. Pure per-row array
    expressions — posexplode of slices, no shuffle, linear in corpus
    size."""
    d = _t(spark, sf, "documents")
    sized = d.select(
        "doc_id",
        tokenize("text").alias("toks"),
    ).select(
        "doc_id",
        "toks",
        F.greatest(
            F.lit(1),
            F.ceil((F.size("toks") - _CHUNK) / F.lit(float(_STRIDE))).cast("long")
            + 1,
        ).alias("n_chunks"),
    )
    chunks = sized.select(
        "doc_id",
        "toks",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.col("n_chunks") - 1),
                lambda i: F.array_join(
                    F.slice(F.col("toks"), i * _STRIDE + 1, _CHUNK), " "
                ),
            )
        ).alias("chunk_id", "chunk_text"),
    )
    return chunks.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        "chunk_text",
        F.least(
            F.lit(_CHUNK), F.size("toks") - F.col("chunk_id") * _STRIDE
        )
        .cast("long")
        .alias("n_chunk_tokens"),
    )


# ---------------------------------------------------------------------------
# exact repeated-span (substring-level) dedup — Lee et al., ACL 2022
# ---------------------------------------------------------------------------

_SPAN_K = 8  # duplicated-span detection floor, in tokens


def _span_window_cte() -> str:
    k = _SPAN_K
    return f"""
    WITH tok AS (
        SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents
    ), win AS (
        SELECT doc_id, toks,
               CASE WHEN len(toks) >= {k}
                    THEN list_transform(range(1, len(toks) - {k} + 2),
                         i -> md5(array_to_string(toks[i:i+{k - 1}], ' ')))
                    ELSE [md5(array_to_string(toks, ' '))] END AS whs
        FROM tok
    )"""


@q(
    "dup_span_stats",
    _span_window_cte()
    + """, ex AS (
        SELECT doc_id, unnest(whs) AS wh FROM win
    ), g AS (
        SELECT doc_id, wh, count(*) AS cnt FROM ex GROUP BY doc_id, wh
    ), nd AS (
        SELECT doc_id, wh, cnt, count(*) OVER (PARTITION BY wh) AS nd FROM g
    )
    SELECT doc_id,
           CAST(sum(cnt) AS BIGINT) AS n_windows,
           CAST(sum(CASE WHEN nd > 1 THEN cnt ELSE 0 END) AS BIGINT)
               AS n_dup_windows,
           CAST(sum(CASE WHEN nd > 1 THEN cnt ELSE 0 END) AS DOUBLE)
               / sum(cnt) AS dup_fraction
    FROM nd GROUP BY doc_id
    """,
)
def dup_span_stats_q(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-document duplicated-span mass per document: the distributed
    form of exact substring dedup (suffix-array method of Lee et al.,
    "Deduplicating Training Data Makes LMs Better") at a fixed
    detection floor of 8 tokens. See operators/span_dedup.py."""
    from pydatalake_spark.operators.span_dedup import dup_span_stats

    return dup_span_stats(
        _t(spark, sf, "documents"), window=_SPAN_K
    )


@q(
    "strip_dup_spans",
    _span_window_cte()
    + f""", ex AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(whs) + 1),
                      i -> {{'pos': i - 1, 'wh': whs[i]}})) AS u
        FROM win
    ), pos AS (
        SELECT doc_id, u.pos AS pos, u.wh AS wh FROM ex
    ), dups AS (
        SELECT wh FROM pos GROUP BY wh HAVING count(DISTINCT doc_id) > 1
    ), starts AS (
        SELECT doc_id, list(pos) AS dup_starts
        FROM pos JOIN dups USING (wh) GROUP BY doc_id
    ), masked AS (
        SELECT t.doc_id, t.toks,
               list_filter(range(0, len(t.toks)),
                   i -> len(list_filter(coalesce(s.dup_starts, []),
                        p -> i >= p AND (i < p + {_SPAN_K}
                                         OR len(t.toks) < {_SPAN_K}))) = 0)
                   AS kept
        FROM tok t LEFT JOIN starts s USING (doc_id)
    )
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(kept) AS BIGINT) AS n_kept_tokens,
           coalesce(
               array_to_string(list_transform(kept, i -> toks[i + 1]), ' '),
               '') AS clean_text
    FROM masked
    """,
)
def strip_dup_spans_q(spark: SparkSession, sf: str) -> DataFrame:
    """Remove every token covered by a cross-document duplicated 8-token
    window — the "delete duplicated substrings" cleaning step of Lee et
    al. re-expressed as hash-keyed shuffles + one higher-order mask."""
    from pydatalake_spark.operators.span_dedup import strip_dup_spans

    return strip_dup_spans(
        _t(spark, sf, "documents"), window=_SPAN_K
    )


# ---------------------------------------------------------------------------
# DSIR importance weighting — Xie et al. 2023
# ---------------------------------------------------------------------------


@q(
    "dsir_importance",
    """
    WITH tok AS (
        SELECT doc_id, lang,
               unnest(string_split(trim(text), ' ')) AS t
        FROM documents
    ), bk AS (
        SELECT doc_id, lang, substr(md5(t), 1, 2) AS b FROM tok
    ), docb AS (
        -- (doc, bucket, count) granularity, mirroring the Spark plan:
        -- the mean token log-ratio is the count-weighted bucket mean
        SELECT doc_id, lang, b, count(*) AS c
        FROM bk GROUP BY doc_id, lang, b
    ), counts AS (
        SELECT b, sum(c) AS cr,
               sum(CASE WHEN lang = 'en' THEN c ELSE 0 END) AS ct
        FROM docb GROUP BY b
    ), tot AS (
        SELECT sum(cr) AS tr, sum(ct) AS tt FROM counts
    ), lr AS (
        SELECT b,
               ln((ct + 1) / CAST(tt + 256 AS DOUBLE))
                 - ln((cr + 1) / CAST(tr + 256 AS DOUBLE)) AS lr
        FROM counts CROSS JOIN tot
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           sum(c * lr) / sum(c) AS dsir_logratio
    FROM docb JOIN lr USING (b)
    GROUP BY doc_id
    """,
)
def dsir_importance_q(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR importance score against the English subset as the target
    domain: hashed-unigram (256 md5 buckets) log-likelihood ratio,
    length-normalized. See operators/dsir.py."""
    from pydatalake_spark.operators.dsir import dsir_weights

    return dsir_weights(
        _t(spark, sf, "documents"), target=F.col("lang") == "en"
    )


def _phash_oracle_sql() -> str:
    """dHash oracle: the 'fake' decode is deterministic byte arithmetic
    over the utf-8 payload (operators/multimodal.py:_fake_pixels /
    _dhash), so for ASCII corpora the whole pipeline is SQL-expressible:

    - pixel i (0..71, the 8x9 grid): integer-average byte value of the
      i-th of 72 equal payload segments (`unicode(substr(..))` == byte
      value for ASCII; the audit that documents are pure ASCII at every
      SF ran before this oracle shipped);
    - hash bit k (0..63, MSB-first): px[r*9+c] > px[r*9+c+1] with
      r=k//8, c=k%8 — emitted here as a 64-char bitstring;
    - candidate membership states the banded join directly: a pair is
      produced iff SOME 16-bit band matches exactly (bits are packed
      LSB-band-first by the engine, so band b = bitstring positions
      [49-16b, 49-16b+15]) AND Hamming(sa, sb) <= max_hamming.
    """
    seg = (
        "coalesce(list_sum(list_transform("
        "range((i * L) // 72 + 1, ((i + 1) * L) // 72 + 1), "
        "j -> unicode(substr(text, j, 1)))), 0) "
        "// greatest(((i + 1) * L) // 72 - (i * L) // 72, 1)"
    )
    bit = (
        "CASE WHEN px[(k // 8) * 9 + (k % 8) + 1] > "
        "px[(k // 8) * 9 + (k % 8) + 2] THEN '1' ELSE '0' END"
    )
    band_eq = " OR ".join(
        f"substr(x.s, {49 - 16 * b}, 16) = substr(y.s, {49 - 16 * b}, 16)"
        for b in range(4)
    )
    return f"""
    WITH doc AS (
        SELECT doc_id AS media_id, text, length(text) AS L FROM documents
    ), pix AS (
        SELECT media_id,
               list_transform(range(0, 72), i -> {seg}) AS px
        FROM doc
    ), bits AS (
        SELECT media_id,
               array_to_string(list_transform(range(0, 64), k -> {bit}), '')
                   AS s
        FROM pix
    ), cand AS (
        SELECT DISTINCT x.media_id AS id_a, y.media_id AS id_b,
               x.s AS sa, y.s AS sb
        FROM bits x JOIN bits y ON x.media_id < y.media_id AND ({band_eq})
    ), h AS (
        SELECT id_a, id_b,
               list_sum(list_transform(range(1, 65),
                   i -> CASE WHEN substr(sa, i, 1) <> substr(sb, i, 1)
                        THEN 1 ELSE 0 END)) AS hamming
        FROM cand
    )
    SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
    FROM h WHERE hamming <= 16
    """


@q("image_phash_near_dup", _phash_oracle_sql())
def image_phash_near_dup_q(spark: SparkSession, sf: str) -> DataFrame:
    """Perceptual-hash (dHash) media near-dedup over documents-as-payloads:
    Arrow-batched hashing, banded 16-bit blocking, codegen bit_count(xor)
    verify (operators/multimodal.py:phash_near_dup). The oracle replays
    the deterministic fake decode + band membership in SQL (see
    _phash_oracle_sql); production decode swaps in PIL without changing
    the plan shape."""
    from pydatalake_spark.operators.multimodal import (
        attach_payload,
        phash_near_dup,
    )

    d = _t(spark, sf, "documents")
    media = attach_payload(d, "doc_id", "text")
    return phash_near_dup(media, max_hamming=16).withColumn(
        "hamming", F.col("hamming").cast("long")
    )


@q(
    "source_mix_weights",
    """
    WITH per AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len(string_split(trim(text), ' '))) AS BIGINT)
                   AS n_tokens
        FROM documents GROUP BY source
    ), tot AS (
        SELECT sum(n_tokens) AS t FROM per
    ), sm AS (
        SELECT source, n_docs, n_tokens,
               n_tokens / CAST(t AS DOUBLE) AS share,
               (n_tokens / CAST(t AS DOUBLE)) ^ 0.7 AS sm_raw
        FROM per CROSS JOIN tot
    )
    SELECT source, n_docs, n_tokens, share,
           sm_raw / sum(sm_raw) OVER () AS sample_prob,
           sm_raw / sum(sm_raw) OVER () / share AS upweight
    FROM sm
    """,
)
def source_mix_weights_q(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature-scaled source mixture (the alpha-smoothed multinomial
    of multilingual pre-training, alpha=0.7): per-source token share,
    smoothed sampling probability, and the implied up/down-weight. The
    per-source table is O(#sources); the two global sums are agg-to-
    scalar broadcast crossJoins (as in value_histogram), NOT unpartitioned
    windows — same O(#sources) result without the single-partition
    WindowExec warning a global window emits."""
    d = _t(spark, sf, "documents")
    per = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(tokenize("text"))).cast("long").alias("n_tokens"),
    )
    tot = per.agg(F.sum("n_tokens").cast("double").alias("_tot_tokens"))
    share = F.col("n_tokens") / F.col("_tot_tokens")
    sm_raw = F.pow(share, F.lit(0.7))
    with_share = per.crossJoin(F.broadcast(tot)).select(
        "source", "n_docs", "n_tokens", share.alias("share"),
        sm_raw.alias("sm_raw"),
    )
    tot_sm = with_share.agg(F.sum("sm_raw").alias("_tot_sm"))
    prob = F.col("sm_raw") / F.col("_tot_sm")
    with_share = with_share.crossJoin(F.broadcast(tot_sm))
    return with_share.select(
        "source",
        "n_docs",
        "n_tokens",
        "share",
        prob.alias("sample_prob"),
        (prob / F.col("share")).alias("upweight"),
    )


# fixed literal weights: the scoring PLUMBING is the deliverable (swap in
# trained weights for a fastText/FineWeb-Edu-style quality classifier);
# deterministic weights keep the whole path oracle-checkable
_QC_W = {"len": 2.0, "stop": 3.0, "alpha": 1.5, "punct": -1.0}
_QC_B = -2.0


@q(
    "quality_classifier",
    f"""
    WITH tok AS (
        SELECT doc_id, text, string_split(trim(text), ' ') AS toks
        FROM documents
    ), feats AS (
        SELECT doc_id,
               least(len(toks) / 100.0, 1.0) AS f_len,
               len(list_filter(toks, t -> t IN ({_STOP_SQL})))
                   / CAST(len(toks) AS DOUBLE) AS f_stop,
               len(list_filter(toks, t -> regexp_matches(t, '^[a-z]+$')))
                   / CAST(len(toks) AS DOUBLE) AS f_alpha,
               (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
                   / CAST(nullif(length(text), 0) AS DOUBLE) AS f_punct
        FROM tok
    )
    SELECT doc_id,
           1.0 / (1.0 + exp(-({_QC_W['len']} * f_len
                              + {_QC_W['stop']} * f_stop
                              + {_QC_W['alpha']} * f_alpha
                              + {_QC_W['punct']} * f_punct
                              + {_QC_B}))) AS score,
           1.0 / (1.0 + exp(-({_QC_W['len']} * f_len
                              + {_QC_W['stop']} * f_stop
                              + {_QC_W['alpha']} * f_alpha
                              + {_QC_W['punct']} * f_punct
                              + {_QC_B}))) >= 0.5 AS passes
    FROM feats
    """,
)
def quality_classifier_q(spark: SparkSession, sf: str) -> DataFrame:
    """Model-based quality gate: logistic scorer over per-row text
    features (length, stopword, alphabetic, punctuation) — the
    classifier-filtering stage of CCNet/FineWeb-style pipelines. Weights
    are fixed literals (training is out of engine scope); the distributed
    scoring path — pure codegen expressions, no Python — is the part that
    runs at 100 TB."""
    d = _t(spark, sf, "documents")
    toks = tokenize("text")
    base = d.select("doc_id", "text", toks.alias("toks"))
    nt = F.size("toks").cast("double")
    f_len = F.least(nt / 100.0, F.lit(1.0))
    f_stop = (
        F.size(
            F.filter(F.col("toks"), lambda t: t.isin(*list(STOPWORDS)))
        )
        / nt
    )
    f_alpha = (
        F.size(F.filter(F.col("toks"), lambda t: t.rlike("^[a-z]+$")))
        / nt
    )
    plen = F.length("text").cast("double")
    f_punct = (
        plen - F.length(F.regexp_replace("text", "[.,!?;:]", ""))
    ) / F.nullif(plen, F.lit(0.0))
    z = (
        _QC_W["len"] * f_len
        + _QC_W["stop"] * f_stop
        + _QC_W["alpha"] * f_alpha
        + _QC_W["punct"] * f_punct
        + _QC_B
    )
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return base.select(
        "doc_id", score.alias("score"), (score >= 0.5).alias("passes")
    )


# ----- quality_classifier_train: distill the Gopher rule gate into a
# trained logistic model (operators/classifier.py). Hyperparameters are
# shared module constants so the Spark trainer and the unrolled-SQL
# oracle cannot drift.
_QCT_ITERS = 5
_QCT_LR = 2.0
_QCT_FEATS = ["len", "stop", "alpha", "punct"]


def _qct_zexpr(w: str) -> str:
    return (
        " + ".join(f"{w}.w_{f} * x_{f}" for f in _QCT_FEATS) + f" + {w}.bias"
    )


def _qct_cte() -> str:
    """Shared WITH prefix: features → standardization → unrolled
    full-batch GD in ANSI SQL, one weight CTE per iteration, each a
    single aggregation over the standardized feature CTE cross-joined
    with the previous (1-row) weight CTE — the SQL mirror of
    `operators/classifier.py:logreg_step`."""
    fs = _QCT_FEATS
    zexpr = _qct_zexpr
    cte = [
        f"""
    WITH tok AS (
        SELECT doc_id, text, string_split(trim(text), ' ') AS toks FROM documents
    ), raw AS (
        SELECT doc_id,
            coalesce(least(len(toks) / 100.0, 1.0), 0.0) AS f_len,
            coalesce(len(list_filter(toks, t -> t IN ({_STOP_SQL})))
                / CAST(len(toks) AS DOUBLE), 0.0) AS f_stop,
            coalesce(len(list_filter(toks, t -> regexp_matches(t, '^[a-z]+$')))
                / CAST(len(toks) AS DOUBLE), 0.0) AS f_alpha,
            coalesce((length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
                / CAST(nullif(length(text), 0) AS DOUBLE), 0.0) AS f_punct,
            CAST(len(toks) BETWEEN 10 AND 100000
                 AND len(list_filter(toks, t -> regexp_matches(t, '^[a-z]+$')))
                     / CAST(len(toks) AS DOUBLE) >= 0.8
                 AND len(list_filter(toks, t -> t IN ({_STOP_SQL})))
                     / CAST(len(toks) AS DOUBLE) >= 0.02
                 AS DOUBLE) AS y
        FROM tok
    ), st AS (
        SELECT {", ".join(f"avg(f_{f}) AS m_{f}, stddev_pop(f_{f}) AS s_{f}" for f in fs)}
        FROM raw
    ), feats AS (
        SELECT doc_id, y,
            {", ".join(f"CASE WHEN s_{f} > 0 THEN (f_{f} - m_{f}) / s_{f} ELSE 0.0 END AS x_{f}" for f in fs)}
        FROM raw, st
    ), w0 AS (
        SELECT {", ".join(f"0.0 AS w_{f}" for f in fs)}, 0.0 AS bias
    )"""
    ]
    for i in range(1, _QCT_ITERS + 1):
        p = f"w{i - 1}"
        resid = f"(1.0 / (1.0 + exp(-({zexpr(p)}))) - y)"
        terms = ", ".join(
            f"any_value({p}.w_{f}) - {_QCT_LR} * avg({resid} * x_{f}) AS w_{f}"
            for f in fs
        )
        cte.append(
            f""", w{i} AS (
        SELECT {terms},
               any_value({p}.bias) - {_QCT_LR} * avg({resid}) AS bias
        FROM feats, {p}
    )"""
        )
    return "".join(cte)


def _qct_oracle() -> str:
    fs, wn = _QCT_FEATS, f"w{_QCT_ITERS}"
    return (
        _qct_cte()
        + f""", acc AS (
        SELECT avg(CAST((({_qct_zexpr(wn)}) >= 0) = (y = 1.0) AS DOUBLE)) AS accuracy
        FROM feats, {wn}
    )
    SELECT {", ".join(f"w_{f}" for f in fs)}, bias, accuracy FROM {wn}, acc"""
    )


def _qct_distilled_oracle() -> str:
    wn = f"w{_QCT_ITERS}"
    z = _qct_zexpr(wn)
    return (
        _qct_cte()
        + f"""
    SELECT doc_id,
           1.0 / (1.0 + exp(-({z}))) AS score,
           ({z}) >= 0 AS passes,
           y = 1.0 AS gopher_pass,
           (({z}) >= 0) = (y = 1.0) AS agree
    FROM feats, {wn}"""
    )


def _qct_features(spark: SparkSession, sf: str) -> DataFrame:
    """(doc_id, f_len, f_stop, f_alpha, f_punct, y) — the classifier's
    raw feature projection plus the Gopher-gate label, one tokenize pass,
    all codegen. Shared by the trainer and the distilled-scoring query
    (and by the SQL oracles via the generated `raw` CTE)."""
    d = _t(spark, sf, "documents")
    base = d.select("doc_id", "text", tokenize("text").alias("toks"))
    nt = F.size("toks").cast("double")
    f_len = F.coalesce(F.least(nt / 100.0, F.lit(1.0)), F.lit(0.0))
    f_stop = F.coalesce(
        F.size(F.filter(F.col("toks"), lambda t: t.isin(*list(STOPWORDS))))
        / nt,
        F.lit(0.0),
    )
    f_alpha = F.coalesce(
        F.size(F.filter(F.col("toks"), lambda t: t.rlike("^[a-z]+$"))) / nt,
        F.lit(0.0),
    )
    plen = F.length("text").cast("double")
    f_punct = F.coalesce(
        (plen - F.length(F.regexp_replace("text", "[.,!?;:]", "")))
        / F.nullif(plen, F.lit(0.0)),
        F.lit(0.0),
    )
    label = (
        F.size("toks").between(10, 100000)
        & (f_alpha >= 0.8)
        & (f_stop >= 0.02)
    ).cast("double")
    return base.select(
        "doc_id",
        f_len.alias("f_len"),
        f_stop.alias("f_stop"),
        f_alpha.alias("f_alpha"),
        f_punct.alias("f_punct"),
        label.alias("y"),
    )


_QCT_COLS = [f"f_{f}" for f in _QCT_FEATS]


def _qct_fit(spark: SparkSession, sf: str):
    """Persist the narrow feature projection, standardize (one 2d-scalar
    pass), train (`_QCT_ITERS` scalar-agg passes), unpersist. Returns
    (weights, stats, accuracy) — plain floats, no lineage.

    The fit is memoized per corpus (`corpus_memo`, like the triplet
    anchor rows and the other bounded model artifacts): full-batch
    GD from a zero init is deterministic, so the trained model is a
    per-corpus constant — a pipeline trains once and deploys, it does
    not re-run gradient descent for every consumer of the weights. Both
    the train readout and the distilled scoring query share one fit."""

    def build():
        from pydatalake_spark.operators.classifier import (
            logreg_accuracy,
            logreg_train,
            standardize,
        )
        from pyspark.storagelevel import StorageLevel

        raw = (
            _qct_features(spark, sf)
            .select("y", *_QCT_COLS)
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        try:
            std, stats = standardize(raw, _QCT_COLS)
            w = logreg_train(
                std, _QCT_COLS, "y", iters=_QCT_ITERS, lr=_QCT_LR,
                persist=False,
            )
            acc = logreg_accuracy(std, _QCT_COLS, "y", w)
        finally:
            raw.unpersist()
        return w, stats, acc

    return corpus_memo(spark, "qct_fit", sf, build)


@q("quality_classifier_train", _qct_oracle())
def quality_classifier_train_q(spark: SparkSession, sf: str) -> DataFrame:
    """TRAIN the quality classifier `quality_classifier_q` scores with:
    full-batch logistic-regression GD (`operators/classifier.py`) that
    distills the rule-based Gopher gate (`gopher_quality_flags`) into a
    soft model — the FineWeb-Edu/DCLM pattern of turning an expensive or
    rule-based labeler into a cheap linear scorer.

    Scale shape: ONE tokenize pass materializes a narrow (4 doubles +
    label) feature projection (persisted MEMORY_AND_DISK); then one
    2d-scalar standardization pass and `_QCT_ITERS` gradient passes, each
    a map-side-combinable aggregation returning d+1 scalars to the
    driver. The corpus never shuffles; the model folds back as codegen
    literals. Returns the trained weights + training accuracy (majority
    class is ~0.88 on this corpus; the trained model reaches ~0.97)."""
    w, _stats, acc = _qct_fit(spark, sf)
    return spark.createDataFrame(
        [(*[float(v) for v in w], float(acc))],
        schema="w_len double, w_stop double, w_alpha double, "
        "w_punct double, bias double, accuracy double",
    )


@q("quality_classifier_distilled", _qct_distilled_oracle())
def quality_classifier_distilled_q(spark: SparkSession, sf: str) -> DataFrame:
    """The full distillation loop: train the logistic gate, then SCORE
    every document with the trained model and audit agreement against
    the rule-based Gopher label — train → deploy → audit as one query.

    The returned plan is fully LAZY and lineage-free: training collects
    only scalars (weights + standardization stats), which re-enter a
    FRESH feature plan as codegen literals
    (`operators/classifier.py:apply_standardization`), so the scoring
    pass is a single map-only scan — the shape that runs at 100 TB
    behind any trained-weight swap-in."""
    from pydatalake_spark.operators.classifier import (
        apply_standardization,
        logreg_z,
    )

    w, stats, _acc = _qct_fit(spark, sf)
    fresh = apply_standardization(_qct_features(spark, sf), stats)
    z = logreg_z(_QCT_COLS, w)
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    passes = z >= 0
    gopher = F.col("y") == 1.0
    return fresh.select(
        "doc_id",
        score.alias("score"),
        passes.alias("passes"),
        gopher.alias("gopher_pass"),
        (passes == gopher).alias("agree"),
    )


_DECON_K = 13  # the standard exact-overlap width (GPT-3 appendix C)

# shared decon CTE prefix: tokenized 13-gram window hashes per doc (`ex`)
# + the deterministic 80/20 train/eval label (`lab`) — used by both the
# exact semi-join screen and the Bloom-filter screen so they can't drift
_DECON_CTE = f"""
    WITH tok AS (
        SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents
    ), win AS (
        SELECT doc_id,
               CASE WHEN len(toks) >= {_DECON_K}
                    THEN list_transform(range(1, len(toks) - {_DECON_K} + 2),
                         i -> md5(array_to_string(toks[i:i+{_DECON_K - 1}], ' ')))
                    ELSE [md5(array_to_string(toks, ' '))] END AS whs
        FROM tok
    ), ex AS (
        SELECT DISTINCT doc_id, unnest(whs) AS wh FROM win
    ), lab AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % 100 < 80 AS is_train
        FROM documents
    )"""


# Bytes the driver pass (`_decon_local`) holds per 13-token window at
# its peak, from the types it holds them in (every window counted as an
# eval window, the larger side). Measured with tracemalloc plus the
# Arrow buffers at sf0.1 (211,014 windows): about 250 B per window.
_DECON_WINDOW_BYTES = (
    # the hash, a str of 32 ASCII hex digits, and its per-doc list slot
    sys.getsizeof("0" * 32) + np.dtype(np.intp).itemsize
    # the (doc_id, wh) frame and its distinct copy: int64 id, pointer
    + 2 * (np.dtype(np.int64).itemsize + np.dtype(np.intp).itemsize)
    # drop_duplicates: two int64 factor codes and an int64 hash slot
    + 3 * np.dtype(np.int64).itemsize
    # the exl frame (int64, pointer, bool) and its Arrow columns
    + np.dtype(np.int64).itemsize + np.dtype(np.intp).itemsize + 1
    + np.dtype(np.int64).itemsize + 32 + 4 + 1
    # the eval frame (int64, pointer), exact_hit (int32), bf_hit and the
    # non-null mask (bool), and the screen's Arrow columns
    + np.dtype(np.int64).itemsize + np.dtype(np.intp).itemsize + 4 + 1 + 1
    + np.dtype(np.int64).itemsize + 32 + 4 + 4 + 1
)


def _decon_local(spark: SparkSession, sf: str):
    """The decontamination family's two shared tables of a small corpus,
    ``(exl, screen)``, built on the driver in one pass as
    ``LocalRelation``s; ``None`` when the corpus is above
    ``session.driver_bound``. The bound test reads one measurement
    (`text_shape`: one job) of the cached ``(doc_id, text)`` corpus —
    the plan `ngram_jaccard_pairs` caches, so a corpus both families
    screen reads its parquet once — before anything is collected: the
    text bytes plus every 13-token window at `_DECON_WINDOW_BYTES` must
    fit. A ``-1`` bound turns the tier off without the measurement.

    Below the bound the Spark plans are fixed costs a 500-doc shard
    cannot amortize: three Python-worker stages (the bitmap partials,
    their merge, the probe) and a per-element HOF chain (13
    ``element_at`` per window, which Spark interprets), against one
    collect of the labeled docs here."""
    from pydatalake_spark.functions.split import hash_bucket
    from pydatalake_spark.operators.ngram_jaccard import text_shape

    def build():
        bound = driver_bound(spark)
        if bound < 0:
            return None
        docs = cache_once(_t(spark, sf, "documents").select("doc_id", "text"))
        got = text_shape(docs, "text", _DECON_K)
        if got["text_bytes"] + got["windows"] * _DECON_WINDOW_BYTES > bound:
            return None
        return _decon_local_tables(
            docs.where(F.col("doc_id").isNotNull()).select(
                "doc_id",
                "text",
                (hash_bucket("doc_id", 100) < 80).alias("is_train"),
            )
        )

    return corpus_memo(spark, "decon_local", sf, build)


def _decon_local_tables(labeled: DataFrame) -> tuple[DataFrame, DataFrame]:
    """`_decon_exl`'s and `_decon_screen`'s rows from one collect of
    ``labeled`` (doc_id, text, is_train; null ids already dropped, as the
    Spark plan's inner join with the label drops them), each as a
    ``LocalRelation``.

    exl takes the Spark plan's steps: each row's window hashes
    (`window_hashes`), distinct (doc_id, wh), inner join with the
    per-row labels — so rows sharing an id repeat each of that id's
    distinct windows once per copy. The screen takes the Spark pass's:
    the train set is the distinct train-side hashes, null included (its
    ``train_w.count()``); ``exact_hit`` is membership of a non-null eval
    hash in it; the bitmap is ``bloom_num_bits`` of its size with
    ``BLOOM_HASHES`` probes, built and probed by the vector tier's own
    ``bloom_set`` / ``bloom_test``, and past the join ceiling
    (``bloom_tier`` 'exact') the bloom verdict is the exact one, as
    there. A null hash is never a member and never a bloom hit."""
    import itertools

    import pandas as pd
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from pydatalake_spark.functions.text import window_hashes
    from pydatalake_spark.operators.bloom import (
        BLOOM_HASHES,
        bloom_num_bits,
        bloom_set,
        bloom_test,
        bloom_tier,
    )

    spark = labeled.sparkSession
    table = labeled.toArrow()
    ids = table.column("doc_id").to_numpy()
    whs = [window_hashes(t, _DECON_K) for t in table.column("text").to_pylist()]
    n_win = np.fromiter(map(len, whs), np.int64, len(whs))
    ex = pd.DataFrame(
        {
            "doc_id": ids.repeat(n_win),
            "wh": np.fromiter(
                itertools.chain.from_iterable(whs), object, int(n_win.sum())
            ),
        }
    ).drop_duplicates()
    del whs
    lab = pd.DataFrame(
        {"doc_id": ids, "is_train": table.column("is_train").to_numpy()}
    )
    exl = ex.merge(lab, on="doc_id")
    del ex, table

    wh = exl["wh"].to_numpy()
    is_train = exl["is_train"].to_numpy()
    train = pd.unique(wh[is_train])
    keys = train[pd.notna(train)]
    ev_id = exl["doc_id"].to_numpy()[~is_train]
    ev_wh = wh[~is_train]
    valid = pd.notna(ev_wh)
    exact = np.zeros(len(ev_wh), dtype=np.int32)
    exact[valid] = pd.Series(ev_wh[valid]).isin(keys).to_numpy()
    if bloom_tier(len(train)) == "exact":
        bf = exact.astype(bool)
    else:
        m = bloom_num_bits(len(train))
        words = np.zeros(m // 32, dtype=np.uint32)
        bloom_set(words, keys, m, BLOOM_HASHES)
        bf = np.zeros(len(ev_wh), dtype=bool)
        bf[valid] = bloom_test(words, ev_wh[valid], m, BLOOM_HASHES)

    id_type = to_arrow_schema(labeled.select("doc_id").schema).field(0).type
    exl_rows = {
        "doc_id": pa.array(exl["doc_id"].to_numpy(), id_type),
        "wh": pa.array(wh, pa.string()),
        "is_train": pa.array(is_train, pa.bool_()),
    }
    screen_rows = {
        "doc_id": pa.array(ev_id, id_type),
        "wh": pa.array(ev_wh, pa.string()),
        "exact_hit": pa.array(exact, pa.int32()),
        "bf_hit": pa.array(bf, pa.bool_()),
    }
    return (
        spark.createDataFrame(pa.table(exl_rows)),
        spark.createDataFrame(pa.table(screen_rows)),
    )


def _decon_exl(spark: SparkSession, sf: str) -> DataFrame:
    """Per-corpus (doc_id, wh, is_train) table — the tokenize → 13-gram
    shingle → md5 → explode → distinct pass that every decontamination
    query starts from, joined to the 80/20 train label. ONE DataFrame
    shared by the exact screen, the bloom screen, and the audit (each of
    which has 3-4 internal consumers of it too), so the pass runs once
    per corpus, not once per consumer, and all consumers hold the SAME
    object. Its lifetime is the session store's materialization rule
    (``session.py``).

    A corpus below ``session.driver_bound`` gets it from the driver pass
    `_decon_local`, as a ``LocalRelation``; a larger one, or any corpus
    under a ``-1`` bound, from this Spark plan, cached. Both give the
    same rows: a null text is one
    null window hash; an empty or whitespace-only text is one window of
    ``md5("")``; a null doc_id drops out of the inner join with the
    label; rows sharing an id repeat each of that id's distinct windows
    once per copy."""
    from pydatalake_spark.functions.split import hash_bucket
    from pydatalake_spark.functions.text import shingles

    local = _decon_local(spark, sf)
    if local is not None:
        return local[0]

    def build() -> DataFrame:
        # plan-equal to the corpus `_decon_local` caches, so Spark reads
        # that cache when the measurement built it, and never builds it
        docs = _t(spark, sf, "documents").select("doc_id", "text")
        base = docs.select("doc_id", tokenize("text").alias("_toks"))
        wh = F.transform(shingles(F.col("_toks"), k=_DECON_K), F.md5)
        ex = base.select("doc_id", F.explode(wh).alias("wh")).distinct()
        lab = docs.select(
            "doc_id", (hash_bucket("doc_id", 100) < 80).alias("is_train")
        )
        return cache_once(ex.join(lab, "doc_id"))

    return corpus_memo(spark, "decon_exl", sf, build)


def _decon_train_w(spark: SparkSession, sf: str) -> DataFrame:
    """Cached DISTINCT train-side window-hash set — the other hot shared
    intermediate: the sizing count, the bloom build, and the exact
    screen's left join each consume it, and without the cache each one
    re-runs the distinct shuffle over the train hashes. Bounded: one
    32-char hash per distinct train window (~26 MB at sf0.1)."""
    return corpus_memo(
        spark,
        "decon_train_w",
        sf,
        lambda: cache_once(
            _decon_exl(spark, sf).filter("is_train").select("wh").distinct()
        ),
    )


def _decon_eval_w(spark: SparkSession, sf: str) -> DataFrame:
    """Cached DISTINCT eval-side window-hash set — the mirror of
    `_decon_train_w` for the screens that censor the TRAIN side
    (`pipeline_decontaminated_corpus`, `strip_contaminated_spans`)."""
    return corpus_memo(
        spark,
        "decon_eval_w",
        sf,
        lambda: cache_once(
            _decon_exl(spark, sf)
            .filter(~F.col("is_train"))
            .select("wh")
            .distinct()
        ),
    )


def _decon_screen(spark: SparkSession, sf: str) -> DataFrame:
    """Per-corpus per-window screen VERDICT table
    ``(doc_id, wh, exact_hit, bf_hit)`` over the eval windows: the exact
    membership of each window in the distinct train set and the bloom
    probe's verdict, computed in ONE pass per corpus. The three screen
    queries (`exact_ngram_decontamination`, `bloom_decontamination`,
    `decontamination_audit`) reduce the SAME table with their own
    doc-level aggregation instead of each re-running a probe pass.

    A corpus below ``session.driver_bound`` gets it from the driver pass
    `_decon_local`, as a ``LocalRelation`` built with `_decon_exl`'s.
    Otherwise the Spark pass runs, cached: one wh-keyed left join
    against the distinct train set, with the `membership_screen` probe
    mapped over that join's own output.
    Size contract: one row per distinct eval (doc, window) — the same
    order as `_decon_exl` itself, LRU-evictable under memory pressure."""
    from pydatalake_spark.operators.bloom import membership_screen

    local = _decon_local(spark, sf)
    if local is not None:
        return local[1]

    def build() -> DataFrame:
        exl = _decon_exl(spark, sf)
        train_w = _decon_train_w(spark, sf)
        ev = exl.filter(~F.col("is_train")).select("doc_id", "wh")
        both = membership_screen(
            ev.join(train_w.withColumn("_hit", F.lit(1)), "wh", "left"),
            train_w,
            key_col="wh",
            n_train_keys=train_w.count(),
        )
        return cache_once(
            both.select(
                "doc_id",
                "wh",
                F.coalesce("_hit", F.lit(0)).alias("exact_hit"),
                "bf_hit",
            )
        )

    return corpus_memo(spark, "decon_screen", sf, build)


@q(
    "exact_ngram_decontamination",
    _DECON_CTE
    + """, train_w AS (
        SELECT DISTINCT wh FROM ex JOIN lab USING (doc_id) WHERE is_train
    ), ev AS (
        SELECT ex.doc_id, wh FROM ex JOIN lab USING (doc_id)
        WHERE NOT is_train
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_windows,
           CAST(sum(CASE WHEN wh IN (SELECT wh FROM train_w)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
           sum(CASE WHEN wh IN (SELECT wh FROM train_w)
                    THEN 1 ELSE 0 END) > 0 AS contaminated
    FROM ev GROUP BY doc_id
    """,
)
def exact_ngram_decontamination_q(spark: SparkSession, sf: str) -> DataFrame:
    """Exact 13-gram eval decontamination (the GPT-3/PaLM screen): an eval
    document is contaminated iff any of its 13-token windows appears
    verbatim in any train document. Same inverted-index shape as the span
    dedup: only (doc, window-hash) pairs shuffle, the train-side hash set
    is distinct-reduced before the semi-join, and the final count is one
    keyed aggregation over the shared `_decon_screen` verdict table (the
    bloom column rides along for free — the fused pass is one shuffle
    either way). Complements `split_contamination` (near-dup based):
    this one is exact-match, the standard published protocol."""
    scr = _decon_screen(spark, sf)
    return scr.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_windows"),
        F.sum("exact_hit").cast("long").alias("n_contaminated"),
        (F.sum("exact_hit") > 0).alias("contaminated"),
    )


@q(
    "bloom_decontamination",
    _DECON_CTE
    + """, tw AS (
        SELECT wh FROM ex JOIN lab USING (doc_id) WHERE is_train
    ), params AS (
        SELECT greatest(
                   32 * ((24 * greatest(count(DISTINCT wh), 1) + 31) // 32),
                   4096) AS m
        FROM tw
    ), tpos AS (
        SELECT (CAST(('0x' || substr(md5(wh), 1, 8)) AS BIGINT)
                + j * CAST(('0x' || substr(md5(wh), 9, 8)) AS BIGINT))
                   % (SELECT m FROM params) AS p
        FROM tw CROSS JOIN (SELECT unnest(range(0, 17)) AS j)
    ), bitmap AS (
        SELECT p // 32 AS word_idx,
               bit_or((1::BIGINT) << CAST(p % 32 AS INT)) AS word
        FROM tpos GROUP BY 1
    ), ev AS (
        SELECT ex.doc_id, wh FROM ex JOIN lab USING (doc_id)
        WHERE NOT is_train
    ), probe AS (
        SELECT doc_id, wh,
               (CAST(('0x' || substr(md5(wh), 1, 8)) AS BIGINT)
                + j * CAST(('0x' || substr(md5(wh), 9, 8)) AS BIGINT))
                   % (SELECT m FROM params) AS p
        FROM ev CROSS JOIN (SELECT unnest(range(0, 17)) AS j)
    ), tested AS (
        SELECT doc_id, wh,
               min(CASE WHEN (word & ((1::BIGINT) << CAST(p % 32 AS INT)))
                             != 0
                        THEN 1 ELSE 0 END) AS hit
        FROM probe LEFT JOIN bitmap ON bitmap.word_idx = p // 32
        GROUP BY doc_id, wh
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_windows,
           CAST(sum(hit) AS BIGINT) AS n_bf_hits,
           max(hit) = 1 AS flagged
    FROM tested GROUP BY doc_id
    """,
)
def bloom_decontamination_q(spark: SparkSession, sf: str) -> DataFrame:
    """Bloom-filter 13-gram decontamination — the constant-memory scale
    path of `exact_ngram_decontamination`: the train window-hash set folds
    into an auto-sized bitmap (24 bits per distinct train hash, k=17
    double-hash probes ≈ 1e-5 per-probe FP, `bloom_num_bits` — sized so
    the ANY-window doc-level flag stays rare on clean docs), so screening
    an eval stream needs NO shuffle against train data, with a bounded
    false-positive rate at EVERY scale factor and no false negatives
    (pytest pins flagged ⊇ exact-contaminated). The per-window verdicts
    come from the shared `_decon_screen` table, one pass per corpus that
    also serves the exact screen and the audit.

    Two tiers build that table. A corpus whose 13-token windows fit
    ``session.driver_bound`` (a 500-doc shard under ``get_spark``) is
    screened on the driver in one pass (`_decon_local`): one measuring
    job, one collect of the labeled docs, no Python worker. A larger one
    runs the Spark pass through the THREE-tier `membership_screen`
    dispatch (operators/bloom.py:bloom_tier): vectorized Arrow bitmap
    while it fits the driver, word-table join to 2^31 bits, and the
    EXACT distinct+semi-join beyond, where a 24-bits/key bitmap is
    data-sized and buys nothing over the exact screen (FP=0 there, so
    `flagged` only gets MORE precise): a 6.9e9-bit bitmap is a 216M-row
    word table, which no broadcast carries through
    spark.driver.maxResultSize. See operators/bloom.py."""
    scr = _decon_screen(spark, sf)
    return scr.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_windows"),
        F.sum(F.col("bf_hit").cast("int")).cast("long").alias("n_bf_hits"),
        F.max(F.col("bf_hit")).alias("flagged"),
    )


_CMS_D, _CMS_W = 4, 256  # count-min sketch depth x width


def _cms_bucket_sql(tok_expr: str, i_expr: str) -> str:
    return (
        f"CAST(('0x' || substr(md5(CAST({i_expr} AS VARCHAR) || '|' "
        f"|| {tok_expr}), 1, 4)) AS BIGINT) % {_CMS_W}"
    )


def _cms_bucket_col(tok, i: int):
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{i}|"), tok)), 1, 4), 16, 10
        ).cast("long")
        % _CMS_W
    )


@q(
    "cms_heavy_hitters",
    f"""
    WITH tok AS (
        SELECT unnest(string_split(trim(text), ' ')) AS tok FROM documents
    ), exact AS (
        SELECT tok, count(*) AS n FROM tok GROUP BY tok
    ), top AS (
        SELECT tok, n FROM exact ORDER BY n DESC, tok ASC LIMIT 20
    ), rows AS (
        SELECT i, {_cms_bucket_sql('tok', 'i')} AS b, n
        FROM exact CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i)
    ), cms AS (
        SELECT i, b, sum(n) AS c FROM rows GROUP BY i, b
    ), probe AS (
        SELECT tok, n, i, {_cms_bucket_sql('tok', 'i')} AS b
        FROM top CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i)
    )
    SELECT tok, CAST(n AS BIGINT) AS exact_n,
           CAST(min(c) AS BIGINT) AS cms_n
    FROM probe JOIN cms USING (i, b)
    GROUP BY tok, n
    """,
)
def cms_heavy_hitters_q(spark: SparkSession, sf: str) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) over the corpus
    token stream: a 4x256 mergeable counter grid estimates any token's
    frequency within epsilon*N with cms_n >= exact_n always (pytest pins
    the one-sided bound). The query reports the sketch estimate next to
    the exact count for the top-20 tokens.

    Scale shape (r7): this DIAGNOSTIC must compute the exact token
    histogram anyway (the comparison side), and every grid cell is a
    linear function of that histogram — so the sketch derives from the
    vocabulary-sized ``exact`` table (4x|V| rows, weight-summed) instead
    of re-exploding the corpus-sized token stream 4x; the histogram agg
    is the query's only corpus pass and exchange-reuses into the top-20.
    A standalone/streaming sketch build (no exact side) still collapses
    map-side to <= 1024 rows per task before the tiny exchange."""
    d = _t(spark, sf, "documents")
    tok = d.select(F.explode(tokenize("text")).alias("tok"))
    exact = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    top = exact.orderBy(F.col("n").desc(), F.col("tok").asc()).limit(20)
    rows = exact.select(
        "n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"),
                        _cms_bucket_col(F.col("tok"), i).alias("b"),
                    )
                    for i in range(_CMS_D)
                ]
            )
        ).alias("s"),
    ).select("s.i", "s.b", "n")
    cms = rows.groupBy("i", "b").agg(F.sum("n").alias("c"))
    probe = top.select(
        "tok",
        "n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"),
                        _cms_bucket_col(F.col("tok"), i).alias("b"),
                    )
                    for i in range(_CMS_D)
                ]
            )
        ).alias("s"),
    ).select("tok", "n", "s.i", "s.b")
    return (
        probe.join(F.broadcast(cms), ["i", "b"])
        .groupBy("tok", "n")
        .agg(F.min("c").cast("long").alias("cms_n"))
        .select("tok", F.col("n").cast("long").alias("exact_n"), "cms_n")
    )


@q(
    "zipf_fit",
    """
    WITH tok AS (
        SELECT unnest(string_split(trim(text), ' ')) AS tok FROM documents
    ), freq AS (
        SELECT tok, count(*) AS n FROM tok GROUP BY tok
    ), top AS (
        SELECT tok, n FROM freq ORDER BY n DESC, tok ASC LIMIT 100
    ), ranked AS (
        SELECT n, row_number() OVER (ORDER BY n DESC, tok ASC) AS r
        FROM top
    )
    SELECT regr_slope(ln(n), ln(r)) AS zipf_slope,
           regr_intercept(ln(n), ln(r)) AS zipf_intercept,
           regr_r2(ln(n), ln(r)) AS zipf_r2,
           CAST(count(*) AS BIGINT) AS n_ranks
    FROM ranked
    """,
)
def zipf_fit_q(spark: SparkSession, sf: str) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: OLS slope of log(freq)
    vs log(rank) for the top-100 tokens — the standard sanity diagnostic
    for corpus naturalness (natural text ~ -1; templated/spammy corpora
    deviate hard). The top-k is TakeOrderedAndProject (no global sort, no
    single-partition window over the vocabulary); ranks come from
    sort_array + posexplode over the collected 100-row top-k — a bounded
    single-row aggregate, so NO unpartitioned window anywhere (the
    `WindowExec: No Partition Defined` warning the old row_number rank
    emitted is gone); the regression is one tiny aggregate."""
    d = _t(spark, sf, "documents")
    tok = d.select(F.explode(tokenize("text")).alias("tok"))
    freq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    top = freq.orderBy(F.col("n").desc(), F.col("tok").asc()).limit(100)
    # rank without a window: pack the (bounded) top-k into one array
    # sorted by (-n, tok) — identical order to the old row_number — and
    # posexplode; pos + 1 IS the rank
    packed = top.agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    (-F.col("n")).alias("neg_n"),
                    F.col("tok").alias("tok"),
                    F.col("n").alias("n"),
                )
            )
        ).alias("a")
    )
    ranked = packed.select(
        F.posexplode("a").alias("pos", "s")
    ).select((F.col("pos") + 1).alias("r"), F.col("s.n").alias("n"))
    return ranked.agg(
        F.regr_slope(F.log("n"), F.log("r")).alias("zipf_slope"),
        F.regr_intercept(F.log("n"), F.log("r")).alias("zipf_intercept"),
        F.regr_r2(F.log("n"), F.log("r")).alias("zipf_r2"),
        F.count(F.lit(1)).cast("long").alias("n_ranks"),
    )


@q(
    "bpe_pair_counts",
    """
    WITH tok AS (
        SELECT unnest(string_split(trim(text), ' ')) AS word FROM documents
    ), wf AS (
        SELECT word, count(*) AS freq FROM tok
        WHERE length(word) > 0 GROUP BY word
    ), pairs AS (
        SELECT freq,
               unnest(list_transform(range(1, length(word)),
                      i -> substr(word, i, 1) || ' ' || substr(word, i + 1, 1)))
                   AS pair
        FROM wf WHERE length(word) >= 2
    )
    SELECT pair, CAST(sum(freq) AS BIGINT) AS n
    FROM pairs GROUP BY pair
    """,
)
def bpe_pair_counts_q(spark: SparkSession, sf: str) -> DataFrame:
    """Adjacent character-pair frequencies over the corpus word table —
    merge iteration 0 of distributed BPE tokenizer training
    (operators/bpe.py:train_bpe; full training loop is pytest-proven
    against a pure-Python Sennrich reference)."""
    from pydatalake_spark.operators.bpe import pair_counts, word_freqs

    return pair_counts(word_freqs(_t(spark, sf, "documents")))


# deterministic eval-sample size for recall evaluations (r7 VERDICT item
# 5): the exact ground truth is inherently all-pairs over its input, so
# at ANY corpus size the eval must run on a bounded sample — top-N doc
# ids under md5 order (content-blind, engine-portable, tie-free). Gate
# SFs below N are unaffected (LIMIT N over fewer rows is the identity).
_RECALL_SAMPLE_N = 2000


@q(
    "lsh_recall_eval",
    _shingle_cte(
        src="docs_s",
        pre=(
            "docs_s AS (SELECT doc_id, text FROM documents "
            "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id "
            f"LIMIT {_RECALL_SAMPLE_N}), "
        ),
    )
    + f""", bb AS ({_bands_sql()}),
    sets AS (
        SELECT doc_id, list_distinct(shingles) AS sset FROM sh
    ), inv AS (
        SELECT doc_id, unnest(sset) AS shingle FROM sets
    ), sizes AS (
        SELECT doc_id, count(*) AS n FROM inv GROUP BY doc_id
    ), co AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), exact AS (
        SELECT id_a, id_b FROM co
        JOIN sizes na ON na.doc_id = id_a JOIN sizes nb ON nb.doc_id = id_b
        WHERE CAST(inter AS DOUBLE) / (na.n + nb.n - inter) >= 0.5
    ), cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bb a JOIN bb b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ), lsh AS (
        SELECT id_a, id_b FROM cand
        JOIN sets sa ON sa.doc_id = id_a JOIN sets sb ON sb.doc_id = id_b
        WHERE len(list_intersect(sa.sset, sb.sset))
                / (len(sa.sset) + len(sb.sset)
                   - len(list_intersect(sa.sset, sb.sset))) >= 0.5
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM exact) AS n_exact,
           (SELECT CAST(count(*) AS BIGINT) FROM lsh) AS n_lsh,
           (SELECT CAST(count(*) AS BIGINT)
            FROM lsh JOIN exact USING (id_a, id_b)) AS n_hits,
           (SELECT count(*) FROM lsh JOIN exact USING (id_a, id_b))
               / CAST((SELECT count(*) FROM exact) AS DOUBLE) AS recall,
           (SELECT count(*) FROM lsh JOIN exact USING (id_a, id_b))
               / CAST((SELECT count(*) FROM lsh) AS DOUBLE) AS prec
    """,
)
def lsh_recall_eval(spark: SparkSession, sf: str) -> DataFrame:
    """Measure, don't guess: MinHash-LSH near-dup recall/precision against
    the exact inverted-index ground truth (no DF cap) at the same Jaccard
    threshold. Run per-corpus before trusting LSH parameters — band count
    and hash count trade recall for candidate volume. Precision is 1.0 by
    construction (the verify step), which this query CHECKS rather than
    assumes.

    The eval runs on a DETERMINISTIC bounded sample (`_RECALL_SAMPLE_N`
    docs by md5(doc_id) order — one top-k pass, no full sort) so the
    exact ground truth stays O(sample²)-bounded at any corpus size; the
    banding recall estimate is unbiased because a pair's collision
    probability depends on its Jaccard, not on corpus size (r7 VERDICT
    item 5 — this was the most expensive standalone bench query)."""
    from pydatalake_spark.operators.minhash import near_dup_pairs
    from pydatalake_spark.operators.ngram_jaccard import ngram_jaccard_pairs

    d = (
        _t(spark, sf, "documents")
        .select("doc_id", "text")
        .orderBy(F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
        .limit(_RECALL_SAMPLE_N)
    )
    # a GlobalLimit collapses to ONE partition — without this respread,
    # the whole shingle/signature build downstream runs on a single task;
    # the sample is cached because exact, lsh, and the hit join all
    # consume it (cache_once: plan-equal, so re-registration is a no-op)
    d = cache_once(d.repartition(spark.sparkContext.defaultParallelism))
    # both pair tables are near-dup-density-bounded (tiny) and each is
    # consumed twice (its own count + the hit join) — cache them so the
    # inverted-index / band joins run once per eval
    exact = cache_once(
        ngram_jaccard_pairs(
            d, shingle_size=_MH_K, threshold=0.5, max_df=None
        ).select("id_a", "id_b")
    )
    lsh = cache_once(
        near_dup_pairs(
            d, num_hashes=_MH_N, num_bands=_MH_BANDS,
            shingle_size=_MH_K, jaccard_threshold=0.5,
        ).select("id_a", "id_b")
    )
    hits = lsh.join(exact, ["id_a", "id_b"])
    one = lambda df: df.agg(F.count(F.lit(1)).cast("long").alias("c"))
    return (
        one(exact).select(F.col("c").alias("n_exact"))
        .crossJoin(one(lsh).select(F.col("c").alias("n_lsh")))
        .crossJoin(one(hits).select(F.col("c").alias("n_hits")))
        .select(
            "n_exact", "n_lsh", "n_hits",
            (F.col("n_hits") / F.col("n_exact").cast("double")).alias("recall"),
            (F.col("n_hits") / F.col("n_lsh").cast("double")).alias("prec"),
        )
    )


@q(
    "char_entropy",
    """
    WITH ch AS (
        SELECT doc_id,
               unnest(list_transform(range(1, length(text) + 1),
                      i -> substr(text, i, 1))) AS c
        FROM documents
    ), hist AS (
        SELECT doc_id, c, count(*) AS k FROM ch GROUP BY doc_id, c
    ), tot AS (
        SELECT doc_id, sum(k) AS n FROM hist GROUP BY doc_id
    )
    SELECT h.doc_id,
           CAST(t.n AS BIGINT) AS n_chars,
           CAST(count(*) AS BIGINT) AS n_distinct_chars,
           -sum((k / CAST(t.n AS DOUBLE)) * ln(k / CAST(t.n AS DOUBLE)))
               AS entropy
    FROM hist h JOIN tot t USING (doc_id)
    GROUP BY h.doc_id, t.n
    """,
)
def char_entropy(spark: SparkSession, sf: str) -> DataFrame:
    """Character-distribution Shannon entropy per document — the cheap
    gibberish/encoding-junk detector (near-zero entropy = repeated chars,
    near-log(alphabet) = random noise; natural text sits in a stable
    band). Explode -> two keyed aggregations, both partial-agg'd; the
    entropy reduction rides the (doc, char) histogram, never raw text."""
    from pyspark.sql import Window

    d = _t(spark, sf, "documents")
    ch = d.select(
        "doc_id", F.explode(F.split(F.col("text"), "(?!^)")).alias("c")
    ).filter(F.col("c") != "")
    hist = ch.groupBy("doc_id", "c").agg(F.count(F.lit(1)).alias("k"))
    w = Window.partitionBy("doc_id")
    n = F.sum("k").over(w)
    p = F.col("k") / n.cast("double")
    return (
        hist.select("doc_id", F.col("k"), n.alias("n"), (-p * F.log(p)).alias("term"))
        .groupBy("doc_id")
        .agg(
            F.max("n").cast("long").alias("n_chars"),
            F.count(F.lit(1)).cast("long").alias("n_distinct_chars"),
            F.sum("term").alias("entropy"),
        )
    )


def _pipeline_v3_sql() -> str:
    """Pipeline v3 oracle = v2 with the substring tier inserted: quality →
    exact dedup → STRIP cross-doc duplicated 8-token spans → exact-Jaccard
    near-dup over the CLEANED text → components → keep min id → split
    counts. Stripping before near-dup means shared boilerplate no longer
    glues unrelated documents into one cluster."""
    k = _SPAN_K
    quality = f"""len(list_filter(toks0, t -> t IN ({_STOP_SQL}))) / len(toks0) * 0.3
             + (1 - (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
                     / nullif(length(text), 0)) * 0.2
             + least(len(toks0) / 100, 1.0) * 0.5"""
    return f"""
    WITH RECURSIVE scored AS (
        SELECT doc_id, text, string_split(trim(text), ' ') AS toks0 FROM documents
    ), docs0 AS (
        SELECT doc_id, text FROM scored WHERE {quality} >= 0.45
    ), keep1 AS (
        SELECT min(doc_id) AS doc_id FROM docs0 GROUP BY md5(text)
    ), docs1 AS (
        SELECT d.doc_id, d.text FROM docs0 d JOIN keep1 kk ON d.doc_id = kk.doc_id
    ), tok1 AS (
        SELECT doc_id, string_split(trim(text), ' ') AS toks FROM docs1
    ), win1 AS (
        SELECT doc_id, toks,
               CASE WHEN len(toks) >= {k}
                    THEN list_transform(range(1, len(toks) - {k} + 2),
                         i -> md5(array_to_string(toks[i:i+{k - 1}], ' ')))
                    ELSE [md5(array_to_string(toks, ' '))] END AS whs
        FROM tok1
    ), ex1 AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(whs) + 1),
                      i -> {{'pos': i - 1, 'wh': whs[i]}})) AS u
        FROM win1
    ), pos1 AS (
        SELECT doc_id, u.pos AS pos, u.wh AS wh FROM ex1
    ), dups1 AS (
        SELECT wh FROM pos1 GROUP BY wh HAVING count(DISTINCT doc_id) > 1
    ), starts1 AS (
        SELECT doc_id, list(pos) AS dup_starts
        FROM pos1 JOIN dups1 USING (wh) GROUP BY doc_id
    ), docs2 AS (
        SELECT t.doc_id,
               coalesce(array_to_string(list_transform(
                   list_filter(range(0, len(t.toks)),
                       i -> len(list_filter(coalesce(s.dup_starts, []),
                            p -> i >= p AND (i < p + {k}
                                             OR len(t.toks) < {k}))) = 0),
                   i -> t.toks[i + 1]), ' '), '') AS text
        FROM tok1 t LEFT JOIN starts1 s USING (doc_id)
    ), tok AS (
        SELECT doc_id, string_split(trim(text), ' ') AS toks FROM docs2
    ), sh AS (
        SELECT doc_id,
               CASE WHEN len(toks) >= {_MH_K}
                    THEN list_transform(range(1, len(toks) - {_MH_K - 2}),
                         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                    ELSE [array_to_string(toks, ' ')] END AS shingles
        FROM tok
    ), sets AS (
        SELECT doc_id, list_distinct(shingles) AS sset FROM sh
    ), inv0 AS (
        SELECT doc_id, unnest(sset) AS shingle FROM sets
    ), keepsh AS (
        SELECT shingle FROM inv0 GROUP BY shingle
        HAVING count(*) <= greatest(20, 0.01 * (SELECT count(*) FROM docs1))
    ), inv AS (
        SELECT inv0.doc_id, inv0.shingle FROM inv0 JOIN keepsh USING (shingle)
    ), sizes AS (
        SELECT doc_id, count(*) AS n FROM inv GROUP BY doc_id
    ), co AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), edges AS (
        SELECT id_a, id_b
        FROM co JOIN sizes na ON na.doc_id = id_a JOIN sizes nb ON nb.doc_id = id_b
        WHERE CAST(inter AS DOUBLE) / (na.n + nb.n - inter) >= 0.5
    ), bidir AS (
        SELECT id_a AS src, id_b AS dst FROM edges
        UNION SELECT id_b, id_a FROM edges
    ), reach(src, dst) AS (
        SELECT src, dst FROM bidir
        UNION
        SELECT r.src, b.dst FROM reach r JOIN bidir b ON r.dst = b.src
    ), labels AS (
        SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
        FROM reach GROUP BY src
    ), final AS (
        SELECT d.doc_id FROM docs1 d
        WHERE NOT EXISTS (SELECT 1 FROM labels l
                          WHERE l.doc_id = d.doc_id AND l.cluster_id != l.doc_id)
    )
    SELECT CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
           count(*) AS n_docs
    FROM (SELECT doc_id,
                 CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket
          FROM final)
    GROUP BY 1
    """


@q("pipeline_clean_corpus_v3", _pipeline_v3_sql())
def pipeline_clean_corpus_v3(spark: SparkSession, sf: str) -> DataFrame:
    """Pipeline v3 — the substring tier in the composed flow: quality
    filter → exact dedup → strip cross-doc duplicated spans
    (operators/span_dedup.py) → exact-Jaccard near-dup over CLEANED text
    → connected components → keep min id → deterministic split. Stripping
    boilerplate before near-dup stops shared headers/footers from fusing
    unrelated documents into one cluster (the false-merge failure mode of
    span-blind near-dedup)."""
    from pydatalake_spark.functions.split import hash_bucket, split_label
    from pydatalake_spark.operators.cluster import connected_components
    from pydatalake_spark.operators.ngram_jaccard import ngram_jaccard_pairs
    from pydatalake_spark.operators.span_dedup import strip_dup_spans

    d = _t(spark, sf, "documents")
    quality = quality_score(tokenize("text"))
    docs0 = d.filter(quality >= 0.45).select("doc_id", "text")
    keep1 = docs0.groupBy(F.md5("text").alias("__fp")).agg(
        F.min("doc_id").alias("doc_id")
    )
    docs1 = cache_once(docs0.join(keep1.select("doc_id"), "doc_id"))
    docs2 = strip_dup_spans(docs1, window=_SPAN_K).select(
        "doc_id", F.col("clean_text").alias("text")
    )
    # in-plan DF cap over docs1: the cap basis is the EXACT-dedup
    # survivor count, not docs2's cleaned text
    pairs = ngram_jaccard_pairs(
        docs2, shingle_size=_MH_K, threshold=0.5,
        max_df=_ngram_max_df_plan(docs1),
    )
    cc = connected_components(pairs)
    drop = cc.filter(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias("doc_id")
    )
    final = docs1.join(drop, "doc_id", "left_anti")
    return (
        final.select(hash_bucket("doc_id", 100).alias("__b"))
        .select(split_label(F.col("__b")).alias("split"))
        .groupBy("split")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# round 4: edit-distance verify tier + cluster-size diagnostics
# ---------------------------------------------------------------------------


@q(
    "edit_distance_near_dup",
    _shingle_cte()
    + f""", bb AS ({_bands_sql()}),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bb a JOIN bb b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           CAST(levenshtein(da.text, db.text) AS BIGINT) AS lev,
           levenshtein(da.text, db.text)
             / CAST(greatest(length(da.text), length(db.text)) AS DOUBLE)
             AS rel_edit
    FROM cand
    JOIN documents da ON da.doc_id = id_a
    JOIN documents db ON db.doc_id = id_b
    WHERE levenshtein(da.text, db.text)
            <= 0.4 * greatest(length(da.text), length(db.text))
    """,
)
def edit_distance_near_dup_q(spark: SparkSession, sf: str) -> DataFrame:
    """Character-level edit-distance near-dup: LSH candidates verified by
    relative Levenshtein distance (<= 0.4 of the longer text) — the
    strictest fuzzy-match tier, catching char-level mutations that
    token-shingle Jaccard smears out. Scale shape: the O(len^2)-per-pair
    distance runs ONLY on the LSH-bounded candidate set, and full texts
    are re-joined by id AFTER candidate generation, so text never rides
    the band shuffle. levenshtein() is codegen (JVM, no Python)."""
    d = _t(spark, sf, "documents")
    cand = lsh_candidate_pairs(
        d, num_hashes=_MH_N, num_bands=_MH_BANDS, shingle_size=_MH_K
    )
    txt = d.select("doc_id", "text")
    lev = F.levenshtein(F.col("ta"), F.col("tb"))
    longest = F.greatest(F.length("ta"), F.length("tb"))
    return (
        cand.join(
            txt.select(F.col("doc_id").alias("id_a"), F.col("text").alias("ta")),
            "id_a",
        )
        .join(
            txt.select(F.col("doc_id").alias("id_b"), F.col("text").alias("tb")),
            "id_b",
        )
        .filter(lev <= 0.4 * longest)
        .select(
            "id_a",
            "id_b",
            lev.cast("long").alias("lev"),
            (lev / longest.cast("double")).alias("rel_edit"),
        )
    )


@q(
    "dup_cluster_histogram",
    _ngram_pruned_cte().replace("WITH tok", "WITH RECURSIVE tok", 1)
    + """, edges AS (
        SELECT id_a, id_b
        FROM co JOIN sizes na ON na.doc_id = id_a JOIN sizes nb ON nb.doc_id = id_b
        WHERE CAST(inter AS DOUBLE) / (na.n + nb.n - inter) >= 0.5
    ), bidir AS (
        SELECT id_a AS src, id_b AS dst FROM edges
        UNION SELECT id_b, id_a FROM edges
    ), reach(src, dst) AS (
        SELECT src, dst FROM bidir
        UNION
        SELECT r.src, b.dst FROM reach r JOIN bidir b ON r.dst = b.src
    ), clusters AS (
        SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
        FROM reach GROUP BY src
    ), csize AS (
        SELECT cluster_id, count(*) AS cluster_size FROM clusters GROUP BY 1
    )
    SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(cluster_size * count(*) AS BIGINT) AS n_docs,
           CAST((cluster_size - 1) * count(*) AS BIGINT) AS n_removable
    FROM csize GROUP BY cluster_size
    """,
)
def dup_cluster_histogram_q(spark: SparkSession, sf: str) -> DataFrame:
    """Duplicate-cluster size distribution — the dedup planning
    diagnostic (how much of the corpus is near-duplicated, and in what
    shape: many pairs vs few giant clusters decides whether
    lowest-id-keep or quality-priority keep matters). Rides the same CC
    output as `near_dup_clusters`; the histogram is two tiny keyed
    aggregations past the (already bounded) cluster assignment."""
    from pydatalake_spark.operators.cluster import connected_components

    pairs = _jaccard_pairs(spark, sf)
    csize = (
        connected_components(pairs)
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
    )
    return csize.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        (F.col("cluster_size") * F.count(F.lit(1))).cast("long").alias("n_docs"),
        ((F.col("cluster_size") - 1) * F.count(F.lit(1)))
        .cast("long")
        .alias("n_removable"),
    ).select(
        F.col("cluster_size").cast("long").alias("cluster_size"),
        "n_clusters",
        "n_docs",
        "n_removable",
    )


# ---------------------------------------------------------------------------
# bigram LM scoring / PMI phrase mining (operators/ngram_lm.py)
# ---------------------------------------------------------------------------

_BG_CTE = """
    WITH tok AS (
        SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents
    ), bgu AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(toks)),
                      i -> {'w1': toks[i], 'w2': toks[i + 1]})) AS u
        FROM tok
    ), p AS (
        SELECT doc_id, u.w1 AS w1, u.w2 AS w2 FROM bgu
    ), db AS (
        SELECT doc_id, w1, w2, count(*) AS c_doc FROM p GROUP BY ALL
    )"""


@q(
    "bigram_perplexity",
    _BG_CTE
    + """, bc AS (
        SELECT w1, w2, sum(c_doc) AS c_bg FROM db GROUP BY ALL
    ), cx AS (
        SELECT w1, sum(c_bg) AS c_ctx FROM bc GROUP BY ALL
    ), vb AS (
        SELECT count(DISTINCT w) AS v
        FROM (SELECT w1 AS w FROM bc UNION ALL SELECT w2 FROM bc)
    ), s AS (
        SELECT doc_id, c_doc,
               -ln((c_bg + 0.5) / (c_ctx + 0.5 * (SELECT v FROM vb))) AS s
        FROM db JOIN bc USING (w1, w2) JOIN cx USING (w1)
    )
    SELECT doc_id,
           CAST(sum(c_doc) AS BIGINT) AS n_bigrams,
           sum(c_doc * s) / sum(c_doc) AS avg_surprisal,
           exp(sum(c_doc * s) / sum(c_doc)) AS ppl
    FROM s GROUP BY doc_id
    """,
)
def bigram_perplexity_q(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document perplexity under a corpus-trained add-k bigram LM —
    the KenLM-style perplexity quality gate (CCNet, Wenzek et al. 2020)
    one model order up from `unigram_surprisal`. Model tables are
    vocabulary-sized; scoring joins run on collapsed (doc, w1, w2,
    count) granularity (operators/ngram_lm.py)."""
    from pydatalake_spark.operators.ngram_lm import bigram_surprisal

    return bigram_surprisal(_t(spark, sf, "documents"), cache_model=True)


@q(
    "token_pmi",
    _BG_CTE
    + """, bg AS (
        SELECT w1, w2, sum(c_doc) AS c12 FROM db GROUP BY ALL
    ), pair AS (
        SELECT * FROM bg WHERE c12 >= 5
    ), lm AS (
        SELECT w1, sum(c12) AS c1 FROM bg GROUP BY ALL
    ), rm AS (
        SELECT w2, sum(c12) AS c2 FROM bg GROUP BY ALL
    ), nb AS (SELECT sum(c12) AS n_bg FROM bg)
    SELECT w1, w2,
           CAST(c12 AS BIGINT) AS n_pair,
           ln((c12 * nb.n_bg) / (lm.c1 * rm.c2)) AS pmi
    FROM pair
    JOIN lm USING (w1)
    JOIN rm USING (w2)
    CROSS JOIN nb
    ORDER BY pmi DESC, w1 ASC, w2 ASC LIMIT 50
    """,
)
def token_pmi_q(spark: SparkSession, sf: str) -> DataFrame:
    """Top-50 adjacent-token pairs by PMI over the joint bigram
    distribution (marginals of the pair table itself — one corpus pass;
    operators/ngram_lm.py) with a min-count-5 Zipf-tail prune applied
    BEFORE the marginal joins; deterministic (pmi DESC, w1, w2) top-k
    plans as TakeOrderedAndProject."""
    from pydatalake_spark.operators.ngram_lm import token_pmi

    return token_pmi(_t(spark, sf, "documents"), cache_model=True)


@q(
    "prefix_dup_docs",
    """
    WITH tok AS (
        SELECT doc_id, trim(text) AS t,
               string_split(trim(text), ' ') AS toks
        FROM documents
    ), keyed AS (
        SELECT doc_id, md5(array_to_string(toks[1:8], ' ')) AS k,
               len(toks) AS n, t
        FROM tok WHERE len(toks) >= 8
    )
    SELECT a.doc_id AS prefix_id, b.doc_id AS super_id,
           CAST(a.n AS BIGINT) AS prefix_tokens,
           CAST(b.n AS BIGINT) AS super_tokens
    FROM keyed a JOIN keyed b ON a.k = b.k AND a.n < b.n
    WHERE starts_with(b.t, a.t || ' ')
    """,
)
def prefix_dup_docs_q(spark: SparkSession, sf: str) -> DataFrame:
    """Strict prefix-containment duplicates (truncation/re-crawl class):
    blocked on the first-8-token hash so the wide shuffle moves id/key
    triples only; texts re-join by id for the startswith verify
    (operators/dedup.py:prefix_containment_pairs)."""
    from pydatalake_spark.operators.dedup import prefix_containment_pairs

    return prefix_containment_pairs(_t(spark, sf, "documents"))


_MJE_MATCHES = " + ".join(
    f"CASE WHEN a.mh_{j} = b.mh_{j} THEN 1 ELSE 0 END" for j in range(_MH_N)
)


@q(
    "minhash_jaccard_estimate",
    _shingle_cte()
    + f""", bb AS ({_bands_sql()}),
    cand AS (
        SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
        FROM bb x JOIN bb y
          ON x.band = y.band AND x.bucket = y.bucket
         AND x.doc_id < y.doc_id
    ), sets AS (
        SELECT doc_id, list_distinct(shingles) AS sset FROM sh
    )
    SELECT c.id_a, c.id_b,
           ({_MJE_MATCHES}) / {float(_MH_N)} AS jaccard_est,
           len(list_intersect(sa.sset, sb.sset))
             / (len(sa.sset) + len(sb.sset)
                - len(list_intersect(sa.sset, sb.sset))) AS jaccard_exact,
           abs(({_MJE_MATCHES}) / {float(_MH_N)}
               - len(list_intersect(sa.sset, sb.sset))
                 / (len(sa.sset) + len(sb.sset)
                    - len(list_intersect(sa.sset, sb.sset)))) AS abs_err
    FROM cand c
    JOIN mh a ON a.doc_id = c.id_a
    JOIN mh b ON b.doc_id = c.id_b
    JOIN sets sa ON sa.doc_id = c.id_a
    JOIN sets sb ON sb.doc_id = c.id_b
    """,
)
def minhash_jaccard_estimate_q(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash estimator calibration over the LSH candidate pairs:
    signature-agreement estimate vs exact shingle Jaccard vs |error| —
    decides whether exact verification can be skipped at this sketch
    width (operators/minhash.py:minhash_jaccard_estimate)."""
    from pydatalake_spark.operators.minhash import minhash_jaccard_estimate

    d = _t(spark, sf, "documents")
    return minhash_jaccard_estimate(
        d, num_hashes=_MH_N, num_bands=_MH_BANDS, shingle_size=_MH_K
    )


@q(
    "cap_per_source",
    """
    WITH ranked AS (
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY source
                                  ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC,
                                           doc_id ASC) AS rn
        FROM documents
    )
    SELECT doc_id, source FROM ranked WHERE rn <= 20
    """,
)
def cap_per_source_q(spark: SparkSession, sf: str) -> DataFrame:
    """Domain-cap control for the training mix: at most 20 documents per
    source, chosen by deterministic (md5(id), id) order so the kept set
    is stable across runs/partitionings and NESTED under growing caps
    (functions/split.py:cap_per_group)."""
    from pydatalake_spark.functions.split import cap_per_group

    d = _t(spark, sf, "documents")
    return cap_per_group(d, "source", "doc_id", max_rows=20).select(
        "doc_id", "source"
    )


def _lpa_iters_sql(n: int) -> str:
    """n synchronous LPA rounds as chained CTEs (deterministic: most
    frequent neighbor label, smallest label on ties)."""
    parts = ["""lab0 AS (
        SELECT DISTINCT src AS node, src AS community FROM bidir
    )"""]
    for i in range(1, n + 1):
        parts.append(f"""nb{i} AS (
        SELECT b.src AS node, l.community AS nl
        FROM bidir b JOIN lab{i - 1} l ON b.dst = l.node
    ), ct{i} AS (
        SELECT node, nl, count(*) AS c FROM nb{i} GROUP BY node, nl
    ), lab{i} AS (
        SELECT node, nl AS community FROM (
            SELECT node, nl,
                   row_number() OVER (PARTITION BY node
                                      ORDER BY c DESC, nl ASC) AS rn
            FROM ct{i}) WHERE rn = 1
    )""")
    return ", ".join(parts)


@q(
    "near_dup_communities",
    _ngram_pruned_cte()
    + """, edges AS (
        SELECT id_a, id_b
        FROM co JOIN sizes na ON na.doc_id = id_a JOIN sizes nb ON nb.doc_id = id_b
        WHERE CAST(inter AS DOUBLE) / (na.n + nb.n - inter) >= 0.5
    ), bidir AS (
        SELECT id_a AS src, id_b AS dst FROM edges
        UNION SELECT id_b, id_a FROM edges
    ), """
    + _lpa_iters_sql(3)
    + """
    SELECT node AS doc_id, community FROM lab3
    """,
)
def near_dup_communities_q(spark: SparkSession, sf: str) -> DataFrame:
    """Label-propagation communities over the exact-Jaccard near-dup
    graph (3 synchronous rounds, deterministic tie-break) — the
    finer-grained alternative to connected components: dense duplicate
    families stay separate across weak bridge edges instead of fusing
    (operators/cluster.py:label_propagation)."""
    from pydatalake_spark.operators.cluster import label_propagation
    from pydatalake_spark.operators.ngram_jaccard import ngram_jaccard_pairs

    d = _t(spark, sf, "documents")
    pairs = _jaccard_pairs(spark, sf)
    return label_propagation(pairs, num_iters=3).select(
        F.col("node").alias("doc_id"), "community"
    )


@q(
    "weighted_sample_docs",
    """
    WITH ks AS (
        SELECT doc_id, n_chars,
               ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':ws'),
                          1, 8)) AS BIGINT) + 1.0) / 4294967296.0)
                 / n_chars AS es
        FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars
    FROM ks ORDER BY es DESC, doc_id ASC LIMIT 100
    """,
)
def weighted_sample_docs_q(spark: SparkSession, sf: str) -> DataFrame:
    """Reproducible length-weighted 100-doc sample without replacement —
    Efraimidis-Spirakis with hash-uniforms, so inclusion odds track the
    weight but the chosen set is a pure function of doc identity
    (functions/split.py:weighted_sample). Plans as
    TakeOrderedAndProject: per-partition partial top-k, no global
    sort."""
    from pydatalake_spark.functions.split import weighted_sample

    d = _t(spark, sf, "documents")
    return weighted_sample(d, "doc_id", "n_chars", k=100).select(
        "doc_id", F.col("n_chars").cast("long").alias("n_chars")
    )


@q(
    "ngram_containment_pairs",
    _ngram_pruned_cte()
    + """, scored AS (
        SELECT id_a, id_b, na.n AS n_a, nb.n AS n_b,
               CAST(inter AS DOUBLE) / least(na.n, nb.n) AS containment
        FROM co
        JOIN sizes na ON na.doc_id = id_a
        JOIN sizes nb ON nb.doc_id = id_b
        WHERE CAST(inter AS DOUBLE) / least(na.n, nb.n) >= 0.8
    )
    SELECT CASE WHEN n_a <= n_b THEN id_a ELSE id_b END AS inner_id,
           CASE WHEN n_a <= n_b THEN id_b ELSE id_a END AS outer_id,
           containment
    FROM scored
    """,
)
def ngram_containment_pairs_q(spark: SparkSession, sf: str) -> DataFrame:
    """Shingle-set containment pairs (inter / min set size >= 0.8) over
    the DF-pruned shingle space — catches documents EMBEDDED in longer
    ones, which Jaccard under-scores by the length ratio
    (operators/ngram_jaccard.py:ngram_containment_pairs)."""
    from pydatalake_spark.operators.ngram_jaccard import (
        ngram_containment_pairs,
    )

    d = _t(spark, sf, "documents")
    return ngram_containment_pairs(
        d, shingle_size=_MH_K, threshold=0.8, max_df=_ngram_max_df_plan(d)
    )


_BM25_TERMS = ["spark", "join", "stream"]
_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in _BM25_TERMS)


@q(
    "bm25_search",
    f"""
    WITH dl AS (
        SELECT doc_id,
               CAST(len(string_split(trim(text), ' ')) AS DOUBLE) AS dl
        FROM documents
    ), stats AS (
        SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl
    ), tok AS (
        SELECT doc_id, unnest(string_split(trim(text), ' ')) AS t
        FROM documents
    ), tf AS (
        SELECT doc_id, t, count(*) AS tf FROM tok
        WHERE t IN ({_BM25_TERMS_SQL}) GROUP BY doc_id, t
    ), dfq AS (
        SELECT t, count(*) AS df FROM tf GROUP BY t
    ), scored AS (
        SELECT tf.doc_id,
               ln(1.0 + (s.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
                 * (tf.tf * (1.2 + 1))
                 / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl)) AS sc
        FROM tf
        JOIN dfq USING (t)
        JOIN dl ON dl.doc_id = tf.doc_id
        CROSS JOIN stats s
    )
    SELECT doc_id, sum(sc) AS score FROM scored
    GROUP BY doc_id ORDER BY score DESC, doc_id ASC LIMIT 20
    """,
)
def bm25_search_q(spark: SparkSession, sf: str) -> DataFrame:
    """Okapi BM25 lexical retrieval for a fixed query bag — the keyword
    complement of the embedding ANN tier (hybrid search pairs this with
    `cosine_topk`). Postings are filtered to the query terms BEFORE any
    exchange (operators/ngram_lm.py:bm25_search)."""
    from pydatalake_spark.operators.ngram_lm import bm25_search

    return bm25_search(_t(spark, sf, "documents"), _BM25_TERMS)


@q(
    "corpus_datacard",
    f"""
    WITH tok AS (
        SELECT doc_id, source, lang, text,
               string_split(trim(text), ' ') AS toks
        FROM documents
    ), per_doc AS (
        SELECT doc_id, source, lang,
               len(toks) AS n_tokens,
               len(list_filter(toks, t -> t IN ({_STOP_SQL}))) / len(toks) * 0.3
                 + (1 - (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
                         / nullif(length(text), 0)) * 0.2
                 + least(len(toks) / 100, 1.0) * 0.5 AS q
        FROM tok
    ), by_lang AS (
        SELECT source, lang, count(*) AS c FROM per_doc GROUP BY source, lang
    ), top_lang AS (
        SELECT source, lang AS top_lang FROM (
            SELECT source, lang,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY c DESC, lang ASC) AS rn
            FROM by_lang) WHERE rn = 1
    )
    SELECT p.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(p.n_tokens) AS BIGINT) AS total_tokens,
           avg(p.q) AS avg_quality,
           CAST(count(DISTINCT p.lang) AS BIGINT) AS n_langs,
           min(t.top_lang) AS top_lang
    FROM per_doc p JOIN top_lang t ON p.source = t.source
    GROUP BY p.source
    """,
)
def corpus_datacard_q(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source dataset-card rollup — the one-pass corpus report a
    training-mix decision starts from: volume (docs/tokens), mean
    quality, language spread, dominant language. Everything is grouped
    aggregation over one tokenize pass; the dominant language is a
    source-keyed argmax (deterministic count DESC, lang ASC)."""
    d = _t(spark, sf, "documents")
    toks = tokenize("text")
    n_tokens = F.size(toks)
    quality = quality_score(toks)
    per_doc = d.select(
        "doc_id", "source", "lang",
        n_tokens.alias("n_tokens"), quality.alias("q"),
    )
    # r12: every output metric is derivable from the (source, lang)
    # grain, so the whole card is ONE tokenize pass + two tiny
    # partial-aggregated reductions (guide §2.3/§2.4). The old shape
    # consumed per_doc twice (the by_lang branch AND the final join
    # branch — the tokenize+quality expressions ran twice over the
    # corpus), sorted a per-source window for the argmax, and re-joined.
    # Equivalences: n_langs = count of non-null-lang grain rows ==
    # countDistinct(lang); top_lang = min(struct(-c, lang)) == the
    # row_number (c DESC, lang ASC) pick; avg_quality = Σq/Σdocs
    # (reassociated double sum, ~1e-15 — far inside the 9-digit canon,
    # like every grouped avg in the registry).
    # avg_quality must be avg(q) over NON-NULL q only (q is null for
    # empty/null text via nullif and 0-token division); dividing by the
    # full doc count would silently include those docs in the
    # denominator. Σq/Σcount(q) matches SQL avg() null semantics
    # exactly (r13, ADVICE fix).
    bl = per_doc.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("c"),
        F.sum("n_tokens").alias("tt"),
        F.sum("q").alias("sq"),
        F.count("q").alias("cq"),
    )
    top = F.min(
        F.struct((-F.col("c")).alias("nc"), F.col("lang").alias("l"))
    )
    return bl.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_docs"),
        F.sum("tt").cast("long").alias("total_tokens"),
        (F.sum("sq") / F.sum("cq")).alias("avg_quality"),
        F.count(F.col("lang")).cast("long").alias("n_langs"),
        top["l"].alias("top_lang"),
    )


@q(
    "curriculum_stages",
    """
    WITH dl AS (
        SELECT doc_id, len(string_split(trim(text), ' ')) AS n_tokens
        FROM documents
    ), th AS (
        SELECT percentile_cont(0.25) WITHIN GROUP (ORDER BY n_tokens) AS t1,
               percentile_cont(0.50) WITHIN GROUP (ORDER BY n_tokens) AS t2,
               percentile_cont(0.75) WITHIN GROUP (ORDER BY n_tokens) AS t3
        FROM dl
    ), staged AS (
        SELECT doc_id, n_tokens,
               CASE WHEN n_tokens <= t1 THEN 1
                    WHEN n_tokens <= t2 THEN 2
                    WHEN n_tokens <= t3 THEN 3
                    ELSE 4 END AS stage
        FROM dl CROSS JOIN th
    )
    SELECT CAST(stage AS BIGINT) AS stage,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(n_tokens) AS BIGINT) AS min_tokens,
           CAST(max(n_tokens) AS BIGINT) AS max_tokens
    FROM staged GROUP BY stage
    """,
)
def curriculum_stages_q(spark: SparkSession, sf: str) -> DataFrame:
    """Length-based curriculum staging (short→long is the classic
    curriculum-learning schedule, Bengio et al. 2009): stage boundaries
    are exact length quartiles computed once (a 3-scalar aggregate
    broadcast back as a CASE chain — integer token counts interpolate
    exactly, so the boundary comparisons are FP-safe), then one grouped
    rollup per stage. No global sort or single-partition window — the
    scale-hostile ntile() form this replaces."""
    d = _t(spark, sf, "documents")
    dl = d.select(
        "doc_id", F.size(tokenize("text")).alias("n_tokens")
    )
    th = dl.agg(
        F.expr("percentile(n_tokens, 0.25D)").alias("t1"),
        F.expr("percentile(n_tokens, 0.5D)").alias("t2"),
        F.expr("percentile(n_tokens, 0.75D)").alias("t3"),
    )
    staged = dl.crossJoin(F.broadcast(th)).withColumn(
        "stage",
        F.when(F.col("n_tokens") <= F.col("t1"), 1)
        .when(F.col("n_tokens") <= F.col("t2"), 2)
        .when(F.col("n_tokens") <= F.col("t3"), 3)
        .otherwise(4),
    )
    return staged.groupBy(F.col("stage").cast("long").alias("stage")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("n_tokens").cast("long").alias("min_tokens"),
        F.max("n_tokens").cast("long").alias("max_tokens"),
    )


@q(
    "source_duplication_matrix",
    _ngram_pruned_cte()
    + """, edges AS (
        SELECT id_a, id_b
        FROM co JOIN sizes na ON na.doc_id = id_a JOIN sizes nb ON nb.doc_id = id_b
        WHERE CAST(inter AS DOUBLE) / (na.n + nb.n - inter) >= 0.5
    )
    SELECT least(da.source, db.source) AS source_x,
           greatest(da.source, db.source) AS source_y,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM edges
    JOIN documents da ON da.doc_id = id_a
    JOIN documents db ON db.doc_id = id_b
    GROUP BY 1, 2
    """,
)
def source_duplication_matrix_q(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-source near-duplication matrix: how many exact-Jaccard
    near-dup pairs join each (unordered) source pair — the provenance
    diagnostic that tells you WHICH feeds mirror each other (high
    off-diagonal mass = syndication/scrape overlap; high diagonal =
    within-source boilerplate). Rides the bounded near-dup pair set;
    source labels join by id (two narrow joins), then one tiny grouped
    count."""
    from pydatalake_spark.operators.ngram_jaccard import ngram_jaccard_pairs

    d = _t(spark, sf, "documents")
    pairs = _jaccard_pairs(spark, sf)
    src = d.select("doc_id", "source")
    j = (
        pairs.join(
            src.select(F.col("doc_id").alias("id_a"), F.col("source").alias("sa")),
            "id_a",
        ).join(
            src.select(F.col("doc_id").alias("id_b"), F.col("source").alias("sb")),
            "id_b",
        )
    )
    return (
        j.select(
            F.least("sa", "sb").alias("source_x"),
            F.greatest("sa", "sb").alias("source_y"),
        )
        .groupBy("source_x", "source_y")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


@q(
    "dedup_rate_by_threshold",
    _ngram_pruned_cte()
    + """, j AS (
        SELECT id_a, id_b,
               CAST(inter AS DOUBLE) / (na.n + nb.n - inter) AS jaccard
        FROM co
        JOIN sizes na ON na.doc_id = id_a
        JOIN sizes nb ON nb.doc_id = id_b
        WHERE CAST(inter AS DOUBLE) / (na.n + nb.n - inter) >= 0.5
    ), t AS (
        SELECT CAST(unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS DOUBLE) AS threshold
    )
    SELECT t.threshold,
           CAST(count(j.jaccard) AS BIGINT) AS n_pairs
    FROM t LEFT JOIN j ON j.jaccard >= t.threshold
    GROUP BY t.threshold
    """,
)
def dedup_rate_by_threshold_q(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup threshold-tuning curve: near-dup pair counts at Jaccard
    0.5–0.9 from ONE pair computation — the knob-setting diagnostic run
    before committing a threshold (steep curve = threshold-sensitive
    corpus; flat = safe). The pair set is computed once at the loosest
    threshold; the five counts are a 5-row broadcast join over it."""
    from pydatalake_spark.operators.ngram_jaccard import ngram_jaccard_pairs

    d = _t(spark, sf, "documents")
    pairs = _jaccard_pairs(spark, sf)
    t = spark.createDataFrame(
        [(0.5,), (0.6,), (0.7,), (0.8,), (0.9,)], "threshold double"
    )
    return (
        F.broadcast(t)
        .join(pairs, pairs.jaccard >= t.threshold, "left")
        .groupBy("threshold")
        .agg(F.count("jaccard").cast("long").alias("n_pairs"))
    )


@q(
    "langid_confusion",
    "WITH pred AS ("
    + _langid_sql()
    + """)
    SELECT labeled_lang, pred_lang,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) AS DOUBLE)
             / sum(count(*)) OVER (PARTITION BY labeled_lang) AS frac
    FROM pred GROUP BY labeled_lang, pred_lang
    """,
)
def langid_confusion_q(spark: SparkSession, sf: str) -> DataFrame:
    """Language-ID confusion matrix against the labeled `lang` column —
    the accuracy eval of the marker-word classifier (diagonal mass =
    per-language recall; off-diagonal cells name the confusable pairs to
    add markers for). One grouped count over the langid projection; the
    row-normalized fractions ride a window over the (|langs|²-bounded)
    grouped result."""
    from pyspark.sql import Window

    d = _t(spark, sf, "documents")
    toks = tokenize("text")
    pred = d.select(
        F.col("lang").alias("labeled_lang"),
        predicted_language(toks).alias("pred_lang"),
    )
    g = pred.groupBy("labeled_lang", "pred_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w = Window.partitionBy("labeled_lang")
    return g.select(
        "labeled_lang",
        "pred_lang",
        "n",
        (F.col("n") / F.sum("n").over(w).cast("double")).alias("frac"),
    )


@q(
    "source_novelty",
    _shingle_cte()
    + """, sets AS (
        SELECT doc_id, list_distinct(shingles) AS sset FROM sh
    ), inv0 AS (
        SELECT doc_id, unnest(sset) AS shingle FROM sets
    ), own AS (
        SELECT shingle, min(doc_id) AS first_doc FROM inv0 GROUP BY 1
    ), per AS (
        SELECT inv0.doc_id,
               count(*) AS n_sh,
               sum(CASE WHEN own.first_doc = inv0.doc_id THEN 1 ELSE 0 END)
                   AS n_new
        FROM inv0 JOIN own USING (shingle) GROUP BY 1
    )
    SELECT d.source,
           CAST(sum(n_sh) AS BIGINT)  AS total_shingles,
           CAST(sum(n_new) AS BIGINT) AS novel_shingles,
           CAST(sum(n_new) AS DOUBLE) / sum(n_sh) AS novelty_rate
    FROM per JOIN documents d USING (doc_id)
    GROUP BY d.source
    """,
)
def source_novelty_q(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source content novelty: the fraction of each source's distinct
    shingles whose FIRST owner (lowest doc id) lives in that source — the
    marginal-value diagnostic for mix decisions (a feed that mostly
    re-shingles earlier content adds tokens, not information). First
    ownership is one min-aggregation keyed on shingle; everything else is
    id-keyed joins and grouped sums."""
    from pydatalake_spark.operators.ngram_jaccard import shingle_sets

    d = _t(spark, sf, "documents")
    # cache the shingle-set table: `inv` feeds BOTH the first-owner
    # aggregation and the per-doc join, so an uncached plan tokenizes and
    # shingles the corpus twice (r8: this query used to ride the
    # plan-equal full-corpus cache lsh_recall_eval built before that eval
    # was sample-bounded — it must warm its own now; cache_once keeps it
    # one registration across the family)
    sets = cache_once(shingle_sets(d, shingle_size=_MH_K))
    # null text shingles to ``[null]``; the oracle's ``JOIN USING
    # (shingle)`` drops that posting, so it must not count here either
    inv = sets.select(
        "doc_id", F.explode("sset").alias("shingle")
    ).filter(F.col("shingle").isNotNull())
    # r13 (VERDICT item 9, guide §2.3 "aggregate before you shuffle"):
    # the old shape joined the FULL inverted index back onto the
    # first-owner table on shingle — a data-sized, skew-exposed shuffle
    # of raw postings. But the join only existed to count, per doc, the
    # shingles it first-owns — and that count is derivable join-free:
    # n_new(doc) = |{shingles: min(doc_id over owners) = doc}|, i.e. a
    # count over the first-owner table keyed by first_doc. Both
    # data-sized exchanges that remain (per-doc posting count, per-
    # shingle min) are algebraic with map-side partial aggregation, so a
    # boilerplate shingle collapses to one row per map partition before
    # it ever crosses the network — the raw-postings join shuffle (and
    # its hot-shingle partition) is gone outright.
    n_sh = inv.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    own = inv.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    n_new = own.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_new")
    )
    per = n_sh.join(n_new, "doc_id", "left").select(
        "doc_id", "n_sh", F.coalesce("n_new", F.lit(0)).alias("n_new")
    )
    return (
        per.join(d.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.sum("n_sh").cast("long").alias("total_shingles"),
            F.sum("n_new").cast("long").alias("novel_shingles"),
            (F.sum("n_new") / F.sum("n_sh").cast("double")).alias(
                "novelty_rate"
            ),
        )
    )


@q(
    "split_balance_report",
    """
    WITH s AS (
        SELECT doc_id, source,
               CASE WHEN bucket < 80 THEN 'train'
                    WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
        FROM (SELECT doc_id, source,
                     CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                         AS BIGINT) % 100 AS bucket
              FROM documents)
    )
    SELECT split, source,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) AS DOUBLE)
             / sum(count(*)) OVER (PARTITION BY source) AS frac_of_source
    FROM s GROUP BY split, source
    """,
)
def split_balance_report_q(spark: SparkSession, sf: str) -> DataFrame:
    """Split-neutrality QA: per (split, source) counts and each source's
    split fractions — the check that the hash split didn't correlate
    with provenance (every source should sit near 80/10/10; a skewed row
    means the split key leaks source structure). One grouped count; the
    fractions ride a window over the |splits|x|sources|-bounded result."""
    from pyspark.sql import Window

    from pydatalake_spark.functions.split import hash_bucket, split_label

    d = _t(spark, sf, "documents")
    s = d.select(
        "source", split_label(hash_bucket("doc_id", 100)).alias("split")
    )
    g = s.groupBy("split", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w = Window.partitionBy("source")
    return g.select(
        "split",
        "source",
        "n",
        (F.col("n") / F.sum("n").over(w).cast("double")).alias(
            "frac_of_source"
        ),
    )


@q(
    "decontamination_audit",
    _DECON_CTE
    + """, train_w AS (
        SELECT DISTINCT wh FROM ex JOIN lab USING (doc_id) WHERE is_train
    ), params AS (
        SELECT greatest(32 * ((24 * greatest(count(*), 1) + 31) // 32),
                        4096) AS m
        FROM train_w
    ), tpos AS (
        SELECT (CAST(('0x' || substr(md5(wh), 1, 8)) AS BIGINT)
                + j * CAST(('0x' || substr(md5(wh), 9, 8)) AS BIGINT))
                   % (SELECT m FROM params) AS p
        FROM train_w CROSS JOIN (SELECT unnest(range(0, 17)) AS j)
    ), bitmap AS (
        SELECT p // 32 AS word_idx,
               bit_or((1::BIGINT) << CAST(p % 32 AS INT)) AS word
        FROM tpos GROUP BY 1
    ), ev AS (
        SELECT ex.doc_id, wh FROM ex JOIN lab USING (doc_id)
        WHERE NOT is_train
    ), exact_v AS (
        SELECT doc_id,
               max(CASE WHEN wh IN (SELECT wh FROM train_w)
                        THEN 1 ELSE 0 END) = 1 AS contaminated
        FROM ev GROUP BY doc_id
    ), probe AS (
        SELECT doc_id, wh,
               (CAST(('0x' || substr(md5(wh), 1, 8)) AS BIGINT)
                + j * CAST(('0x' || substr(md5(wh), 9, 8)) AS BIGINT))
                   % (SELECT m FROM params) AS p
        FROM ev CROSS JOIN (SELECT unnest(range(0, 17)) AS j)
    ), tested AS (
        SELECT doc_id, wh,
               min(CASE WHEN (word & ((1::BIGINT) << CAST(p % 32 AS INT)))
                             != 0
                        THEN 1 ELSE 0 END) AS hit
        FROM probe LEFT JOIN bitmap ON bitmap.word_idx = p // 32
        GROUP BY doc_id, wh
    ), bloom_v AS (
        SELECT doc_id, max(hit) = 1 AS flagged FROM tested GROUP BY doc_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_eval_docs,
           CAST(sum(CASE WHEN contaminated THEN 1 ELSE 0 END) AS BIGINT)
               AS n_exact_contaminated,
           CAST(sum(CASE WHEN flagged THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bloom_flagged,
           CAST(sum(CASE WHEN flagged AND NOT contaminated
                         THEN 1 ELSE 0 END) AS BIGINT)
               AS n_false_positives,
           CAST(sum(CASE WHEN contaminated AND NOT flagged
                         THEN 1 ELSE 0 END) AS BIGINT)
               AS n_false_negatives
    FROM exact_v JOIN bloom_v USING (doc_id)
    """,
)
def decontamination_audit_q(spark: SparkSession, sf: str) -> DataFrame:
    """One-row audit of the constant-memory decontamination tier against
    the exact protocol: realized bloom false-positive count (over-drops,
    the price of the 1 KB bitmap) and false negatives (must be 0 by
    construction — a nonzero value means the filter is broken). The
    number that justifies deploying the bloom path at a given bitmap
    size. The two screens run FUSED in the shared `_decon_screen` table
    (on the driver for a small corpus; otherwise the bloom probe maps
    over the exact screen's join output, so the eval windows pay one
    wh-keyed shuffle), and the audit adds one doc_id aggregation.

    The bitmap is auto-sized from the distinct train-hash count
    (`bloom_num_bits`: 24 bits/key, k=17 double-hash probes → ~1e-5
    per-probe FP; doc-level FP ≈ W·p for W windows/doc, hence the ≪1/W
    sizing), so the realized FP rate the audit reports stays bounded at
    every scale factor: measured at sf0.1, 1 false positive over 975
    clean eval docs (0.1%) — where the old fixed 4096-bit / 3-hash map
    saturated (FP rate ~1), and even per-probe-1% auto-sizing
    over-flagged ~28% of clean docs through the ANY-window flag. FN
    must read 0 at any size; a nonzero value means the filter is
    broken."""
    # the shared `_decon_screen` verdicts: one doc_id groupBy, no second
    # scan, no two per-screen aggregates to re-join on doc_id; the pass
    # itself is shared with bloom_decontamination and
    # exact_ngram_decontamination instead of re-run per query.
    # membership_screen's three-tier dispatch keeps the audit runnable
    # past the 2^31-bit broadcast ceiling.
    scr = _decon_screen(spark, sf)
    j = scr.groupBy("doc_id").agg(
        (F.max("exact_hit") == 1).alias("contaminated"),
        F.max("bf_hit").alias("flagged"),
    )
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_eval_docs"),
        F.sum(F.col("contaminated").cast("long")).cast("long").alias(
            "n_exact_contaminated"
        ),
        F.sum(F.col("flagged").cast("long")).cast("long").alias(
            "n_bloom_flagged"
        ),
        F.sum((F.col("flagged") & ~F.col("contaminated")).cast("long"))
        .cast("long")
        .alias("n_false_positives"),
        F.sum((F.col("contaminated") & ~F.col("flagged")).cast("long"))
        .cast("long")
        .alias("n_false_negatives"),
    )


@q(
    "pipeline_decontaminated_corpus",
    _DECON_CTE
    + f""", qual AS (
        SELECT doc_id, text, len(string_split(trim(text), ' ')) AS n_tok
        FROM documents
        WHERE len(list_filter(string_split(trim(text), ' '),
                              t -> t IN ({_STOP_SQL})))
                / len(string_split(trim(text), ' ')) * 0.3
              + (1 - (length(text)
                      - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
                      / nullif(length(text), 0)) * 0.2
              + least(len(string_split(trim(text), ' ')) / 100, 1.0) * 0.5
              >= 0.45
    ), dedup AS (
        SELECT min(doc_id) AS doc_id, min(n_tok) AS n_tok
        FROM qual GROUP BY md5(text)
    ), evw AS (
        SELECT DISTINCT wh FROM ex JOIN lab USING (doc_id)
        WHERE NOT is_train
    ), bad_train AS (
        SELECT DISTINCT ex.doc_id FROM ex JOIN lab USING (doc_id)
        WHERE is_train AND wh IN (SELECT wh FROM evw)
    )
    SELECT CASE WHEN l.is_train THEN 'train' ELSE 'eval' END AS split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(d.n_tok) AS BIGINT) AS n_tokens
    FROM dedup d JOIN lab l USING (doc_id)
    WHERE NOT (l.is_train AND d.doc_id IN (SELECT doc_id FROM bad_train))
    GROUP BY 1
    """,
)
def pipeline_decontaminated_corpus_q(spark: SparkSession, sf: str) -> DataFrame:
    """Capstone train-set assembly, the composition a pre-training run
    actually ships: quality gate → exact text dedup (keep min doc_id) →
    drop every TRAIN doc sharing a 13-token window with any eval doc
    (the standard decontamination direction: protect the benchmark by
    censoring the training side) → per-split doc/token readout.

    The screen here is the exact inverted-index semi-join — the tier
    `operators/bloom.py:membership_screen` dispatches to at 100 TB key
    counts (SCALE.md §bloom-crossover), FP-free so clean train docs are
    never censored. The window/label table is the shared `_decon_exl`
    cache; the eval windows distinct-reduce before the semi-join and
    only ids cross the final joins."""
    from pydatalake_spark.functions.split import hash_bucket

    d = _t(spark, sf, "documents")
    toks = tokenize("text")
    n_tokens = F.size(toks)
    quality = quality_score(toks)
    # dedup shuffles the 16-byte content fingerprint, never the text
    # itself (the exact_dedup_docs pattern — full documents crossing a
    # groupBy exchange is the thing that does not survive 100 TB)
    kept = (
        d.where(quality >= 0.45)
        .select("doc_id", F.md5("text").alias("fp"), n_tokens.alias("n_tok"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"), F.min("n_tok").alias("n_tok"))
    )
    exl = _decon_exl(spark, sf)
    ev_w = _decon_eval_w(spark, sf)
    bad_train = (
        exl.filter("is_train")
        .join(ev_w, "wh", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("_bad", F.lit(1))
    )
    lab = d.select(
        "doc_id", (hash_bucket("doc_id", 100) < 80).alias("is_train")
    )
    final = (
        kept.join(lab, "doc_id")
        .join(bad_train, "doc_id", "left")
        .where(~(F.col("is_train") & F.col("_bad").isNotNull()))
    )
    return (
        final.select(
            F.when(F.col("is_train"), "train").otherwise("eval").alias(
                "split"
            ),
            "n_tok",
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
    )


@q(
    "strip_contaminated_spans",
    _DECON_CTE
    + f""", evw AS (
        SELECT DISTINCT wh FROM ex JOIN lab USING (doc_id)
        WHERE NOT is_train
    ), posx AS (
        SELECT doc_id, u.pos AS pos, u.wh AS wh
        FROM (SELECT w.doc_id,
                     unnest(list_transform(range(1, len(whs) + 1),
                            i -> {{'pos': i - 1, 'wh': whs[i]}})) AS u
              FROM win w JOIN lab USING (doc_id) WHERE is_train)
    ), starts AS (
        SELECT doc_id, list(pos) AS dup_starts
        FROM posx JOIN evw USING (wh) GROUP BY doc_id
    ), masked AS (
        SELECT t.doc_id, t.toks,
               list_filter(range(0, len(t.toks)),
                   i -> len(list_filter(coalesce(s.dup_starts, []),
                        p -> i >= p AND (i < p + {_DECON_K}
                                         OR len(t.toks) < {_DECON_K}))) = 0)
                   AS kept
        FROM tok t
        JOIN lab USING (doc_id)
        LEFT JOIN starts s USING (doc_id)
        WHERE is_train
    )
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(kept) AS BIGINT) AS n_kept_tokens,
           coalesce(
               array_to_string(list_transform(kept, i -> toks[i + 1]), ' '),
               '') AS clean_text
    FROM masked
    """,
)
def strip_contaminated_spans_q(spark: SparkSession, sf: str) -> DataFrame:
    """SURGICAL decontamination: censor only the 13-token spans a train
    doc shares with the eval set, keep the rest of the document — the
    span-level protocol used when whole-doc dropping (the
    `pipeline_decontaminated_corpus` direction) wastes too much clean
    text. Composes `operators/span_dedup.py:strip_spans_matching` (the
    shared strip mask) with the eval window set from the cached
    `_decon_exl` table; only the train side is rewritten, and only ids,
    hashes and bounded start lists cross the shuffles."""
    from pydatalake_spark.functions.split import hash_bucket
    from pydatalake_spark.operators.span_dedup import strip_spans_matching

    d = _t(spark, sf, "documents")
    ev_w = _decon_eval_w(spark, sf)
    train = d.where(hash_bucket("doc_id", 100) < 80).select("doc_id", "text")
    return strip_spans_matching(train, ev_w, window=_DECON_K)
