"""Corpus-trained n-gram language-model scoring — the perplexity-filter
tier of a pre-training data pipeline (KenLM-style quality gates as in
CCNet / Wenzek et al. 2020, re-expressed as pure DataFrame algebra).

Reference parity: the reference engine has no LM scoring; this is a
beyond-reference north-star op (brief: "text analysis" family, sibling of
``unigram_surprisal`` in queries/text.py).

Scale design (100 TB corpus):
- One tokenize+explode pass produces positional bigrams; everything
  downstream works on the (doc, w1, w2, count) COLLAPSED granularity
  (the DSIR pattern, operators/dsir.py) so per-doc token multiplicity
  never re-crosses a shuffle.
- The trained model is two vocabulary-sized tables (bigram counts,
  context counts). Zipf: vocabulary << corpus, so the score joins are
  equi-joins of a corpus-sized side against vocabulary-sized sides —
  Catalyst broadcasts them under AQE when they fit, and the fallback
  shuffle is keyed on the token columns (no skew beyond natural Zipf
  head, which the collapsed granularity already bounds per doc).
- The vocabulary size |V| is a single scalar aggregate crossed in as a
  literal-free broadcast (no driver collect in the plan hot path).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pydatalake_spark.functions.text import tokenize
from pydatalake_spark.session import cache_once


def _doc_bigrams(
    docs: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(id, w1, w2, c_doc): per-document bigram multiplicities.

    The token array is bound to a REAL column first (HOF re-inline
    hazard — see winnowing), then pairs come from ``arrays_zip`` of the
    two shifted slices: zip is a native array op, ~1.7x faster than the
    interpreted ``transform(..., element_at)`` lambda it replaced (r7;
    proven row-identical before the swap). One explode, then a per-doc
    collapse whose partial agg runs map-side — a doc's pairs never leave
    their input partition before collapsing.
    """
    bound = docs.select(F.col(id_col), tokenize(text_col).alias("__toks"))
    toks = F.col("__toks")
    n1 = F.greatest(F.size(toks) - 1, F.lit(0))
    pairs: Column = F.arrays_zip(
        F.slice(toks, 1, n1).alias("w1"), F.slice(toks, 2, n1).alias("w2")
    )
    return (
        bound.select(F.col(id_col), F.explode(pairs).alias("p"))
        .select(id_col, "p.w1", "p.w2")
        .groupBy(id_col, "w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_doc"))
    )


def bigram_surprisal(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    add_k: float = 0.5,
    cache_model: bool = False,
) -> DataFrame:
    """Per-document mean bigram surprisal −ln p(w2|w1) under an add-k
    smoothed bigram LM trained on the SAME corpus in the same lazy plan.

    p(w2|w1) = (C(w1,w2) + k) / (C(w1) + k·|V|), |V| = distinct tokens.

    Returns (id, n_bigrams BIGINT, avg_surprisal DOUBLE, ppl DOUBLE);
    documents with fewer than two tokens contribute no rows (no bigram
    evidence to score). ``ppl = exp(avg_surprisal)`` is the standard
    per-token perplexity readout.

    The MODEL is one table (r7): bigram counts. Context counts
    marginalize it (Σ_w2 C(w1,w2) ≡ the old direct C(w1) over bigram
    positions) and |V| is the distinct-token count of the LM's actual
    support (w1 ∪ w2 of observed bigrams; a token occurring ONLY in
    single-token documents never enters any p(w2|w1) and no longer costs
    a second tokenize+explode of the whole corpus just to be counted).

    ``cache_model=True`` caches the bigram-count table (``cache_once``,
    MEMORY_AND_DISK): it is TYPE-count bounded (Zipf: distinct bigrams
    << bigram tokens — a model table, not the corpus), and caching it
    collapses the ctx/vocab branches to cache reads so the corpus is
    tokenized at most twice per run (the model fill + the per-doc scoring
    side) instead of once per consumer branch. Leave False where the
    session should hold no state (the scaling probe does, so exponents
    measure the real build).
    """
    db = _doc_bigrams(docs, id_col, text_col)
    bg = db.groupBy("w1", "w2").agg(F.sum("c_doc").alias("c_bg"))
    if cache_model:
        bg = cache_once(bg)
    ctx = bg.groupBy("w1").agg(F.sum("c_bg").alias("c_ctx"))
    vocab = (
        bg.select("w1")
        .union(bg.select("w2"))
        .agg(F.countDistinct("w1").alias("v"))
    )
    k = F.lit(float(add_k))
    # join shape (r8 A/B, kept): db⋈bg is the one data-sized exchange;
    # ctx (unigram types) and vocab are broadcast-small, so the chained
    # joins cost no second corpus shuffle. Pre-joining the model into one
    # (w1, w2, s) table was measured 1.5-2x SLOWER at sf0.1 — distinct
    # bigrams are near the doc-bigram count (Zipf head), so the "model"
    # pre-join is itself data-sized work, while ctx broadcast is free.
    scored = (
        db.join(bg, ["w1", "w2"])
        .join(ctx, "w1")
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "s",
            -F.log(
                (F.col("c_bg") + k)
                / (F.col("c_ctx") + k * F.col("v"))
            ),
        )
    )
    avg = F.sum(F.col("c_doc") * F.col("s")) / F.sum("c_doc")
    return (
        scored.groupBy(id_col)
        .agg(
            F.sum("c_doc").cast("long").alias("n_bigrams"),
            avg.alias("avg_surprisal"),
        )
        .withColumn("ppl", F.exp("avg_surprisal"))
    )


def token_pmi(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 5,
    top_n: int = 50,
    cache_model: bool = False,
) -> DataFrame:
    """Top-N adjacent-token pairs by pointwise mutual information — the
    phrase-mining pass (word2vec-style collocation detection, Mikolov et
    al. 2013 §4) over a training corpus.

    PMI over the JOINT bigram distribution (r7): with C12 the adjacent-
    pair counts, N2 = ΣC12, and marginals C1 = Σ_w2 C12(w1,·),
    C2 = Σ_w1 C12(·,w2),

        PMI(w1,w2) = ln( (C12/N2) / ((C1/N2)·(C2/N2)) ).

    Marginalizing the pair table itself (instead of mixing a separate
    unigram-token distribution into the denominator) is the textbook
    event-space-consistent PMI AND removes the second tokenize+explode
    pass over the corpus — the bigram table becomes the only
    corpus-derived aggregate, shared across marginals/totals via exchange
    reuse. Marginals are taken over the UNPRUNED pair table; only the
    candidates below ``min_count`` are cut (BEFORE the marginal joins).
    Returns (w1, w2, n_pair BIGINT, pmi DOUBLE) with a deterministic
    (pmi DESC, w1, w2) top-N — TakeOrderedAndProject, no global sort.

    ``cache_model=True`` caches the pair-count table (``cache_once``,
    type-count bounded) so the candidate/marginal/total branches read one
    materialization and the corpus is tokenized ONCE per run; see
    ``bigram_surprisal`` for when to leave it off.
    """
    db = _doc_bigrams(docs, id_col, text_col)
    bg = db.groupBy("w1", "w2").agg(F.sum("c_doc").alias("c12"))
    if cache_model:
        bg = cache_once(bg)
    pair = bg.filter(F.col("c12") >= min_count)
    left = bg.groupBy("w1").agg(F.sum("c12").alias("c1"))
    right = bg.groupBy("w2").agg(F.sum("c12").alias("c2"))
    n2 = bg.agg(F.sum("c12").alias("n_bg"))
    scored = (
        pair.join(left, "w1")
        .join(right, "w2")
        .crossJoin(F.broadcast(n2))
        .select(
            "w1",
            "w2",
            F.col("c12").cast("long").alias("n_pair"),
            F.log(
                (F.col("c12") * F.col("n_bg"))
                / (F.col("c1") * F.col("c2"))
            ).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.col("pmi").desc(), F.col("w1").asc(), F.col("w2").asc()
    ).limit(top_n)


def bm25_search(
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    top_n: int = 20,
) -> DataFrame:
    """Top-N documents by BM25 (Robertson/Okapi) for a bag of query
    terms — the lexical-retrieval complement of the embedding ANN tier
    (hybrid search = this + ``cosine_topk``).

    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1-b+b·dl/avgdl)),
    idf(t) = ln(1 + (N-df+0.5)/(df+0.5)).

    Returns (id, score DOUBLE) with a deterministic (score DESC, id)
    top-N. Scale shape: the token stream is filtered to the query terms
    BEFORE any aggregation (the per-term postings are the only rows that
    ever reach an exchange — query-sized, not corpus-sized); document
    length and corpus stats ride one narrow per-doc projection; N, avgdl
    and the per-term df/idf table are scalars/broadcasts. Top-N plans as
    TakeOrderedAndProject.
    """
    terms = [t for t in query_terms]
    if not terms:
        raise ValueError("query_terms must be non-empty")
    bound = docs.select(
        F.col(id_col), tokenize(text_col).alias("__toks")
    )
    dl = bound.select(
        F.col(id_col), F.size("__toks").cast("double").alias("dl")
    )
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tok = bound.select(
        F.col(id_col), F.explode("__toks").alias("t")
    ).filter(F.col("t").isin(terms))
    tf = tok.groupBy(id_col, "t").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "t")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
        .withColumn(
            "s",
            F.col("idf")
            * (F.col("tf") * (k1 + 1))
            / (
                F.col("tf")
                + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(F.sum("s").alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(top_n)
    )
