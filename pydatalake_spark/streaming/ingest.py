"""Structured Streaming ingestion — the idiomatic upgrade of the
reference's batch-incremental write path (SURVEY §2.10).

The reference has no streaming; its closest analogs are the ``delta``
insert-only-new write mode (``writer.py:219-249``) and time-interval
micro-batching (``writer.py:292-385``). Here both become one Structured
Streaming pipeline:

    readStream(file source) → watermark → dropDuplicates(keys)
        → writeStream.trigger(availableNow=True) → parquet sink

- ``availableNow`` drains everything present then stops — exactly the
  reference's "ingest what's new, idempotently" batch loop, but with
  checkpointed exactly-once file-sink semantics instead of an anti-join
  (the checkpoint log remembers processed source files across runs);
- watermark + ``dropDuplicates`` is the streaming twin of the delta
  subset diff: late duplicates inside the watermark are dropped with
  bounded state;
- the windowed variant is W7's time-interval batching as a real
  tumbling-window aggregation.

Scale: file-source listing is incremental; state is bounded by the
watermark horizon; the sink writes hive-partitioned parquet like the batch
writer, so downstream readers cannot tell which path produced the data.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def stream_ingest(
    spark: SparkSession,
    source_dir: str,
    dest_dir: str,
    schema: T.StructType,
    checkpoint_dir: str | None = None,
    dedup_keys: list[str] | None = None,
    watermark: tuple[str, str] | None = None,
    partition_by: list[str] | None = None,
    fmt: str = "parquet",
) -> None:
    """Drain ``source_dir`` into ``dest_dir`` exactly-once; re-running after
    new files land ingests only the new files (checkpoint-tracked)."""
    checkpoint_dir = checkpoint_dir or os.path.join(dest_dir, "_checkpoint")
    stream = (
        spark.readStream.format(fmt)
        .schema(schema)
        .option("maxFilesPerTrigger", "64")
        .load(source_dir)
    )
    if watermark:
        stream = stream.withWatermark(*watermark)
    if dedup_keys:
        stream = stream.dropDuplicates(dedup_keys)
    writer = (
        stream.writeStream.format("parquet")
        .option("path", dest_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .outputMode("append")
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    q = writer.start()
    q.awaitTermination()


def stream_time_bucket(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
    group_cols: list[str] | None = None,
    value_col: str = "value",
    query_name: str = "bucketed",
) -> DataFrame:
    """W7's time-interval batching as a streaming tumbling-window agg,
    drained synchronously into an in-memory sink (smoke/test surface)."""
    stream = spark.readStream.format("parquet").schema(schema).load(source_dir)
    agg = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("win"), *(group_cols or []))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(value_col).alias("total_value"),
        )
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql(
        f"SELECT win.start AS bucket, * EXCEPT (win) FROM {query_name}"
    )


def stream_ingest_dedup_corpus(
    spark: SparkSession,
    source_dir: str,
    corpus_dir: str,
    schema: T.StructType,
    checkpoint_dir: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    shingle_size: int = 3,
    max_df: int | None = None,
) -> None:
    """Streaming ingest with near-dup rejection against the LIVE corpus:
    each micro-batch runs the incremental batch-vs-corpus Jaccard join
    (`operators/ngram_jaccard.py:ngram_jaccard_pairs_against`) and only
    documents with no near-duplicate already in the corpus are appended —
    the continuously-deduplicating ingest loop of a training-data lake.

    ``foreachBatch`` because the dedup join needs the CURRENT corpus as a
    batch side (a stream-static join cannot re-read the sink it is
    appending to within the same query). The micro-batch id is checkpointed
    (replayed batches re-run the same dedup → same survivors), but the
    parquet append itself is at-least-once on crash-retry — pair with the
    batch writer's delta mode or exact-dedup compaction if the sink must
    be exactly-once. Batch-internal near-dups are NOT collapsed here (two
    novel near-dup docs in one batch both land); run `dedup_by_clusters`
    in compaction for that — keeping the streaming path to one
    corpus-sized join per batch is the scale decision.
    """
    from pydatalake_spark.operators.ngram_jaccard import (
        ngram_jaccard_pairs_against,
    )

    checkpoint_dir = checkpoint_dir or os.path.join(corpus_dir, "_checkpoint")

    def ingest_batch(batch: DataFrame, _batch_id: int) -> None:
        corpus = spark.read.schema(schema).parquet(corpus_dir)
        dup_ids = (
            ngram_jaccard_pairs_against(
                corpus,
                batch,
                id_col=id_col,
                text_col=text_col,
                shingle_size=shingle_size,
                threshold=threshold,
                max_df=max_df,
            )
            .select(F.col("batch_id").alias(id_col))
            .distinct()
        )
        batch.join(dup_ids, id_col, "left_anti").write.mode("append").parquet(
            corpus_dir
        )

    q = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", "64")
        .load(source_dir)
        .writeStream.foreachBatch(ingest_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_quality_screen(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    bloom_words: dict[int, int],
    quality_threshold: float = 0.45,
    eval_window: int = 13,
    query_name: str = "screened",
    bloom_bits: int | None = None,
    bloom_hashes: int | None = None,
) -> DataFrame:
    """Streaming ingest gate: quality score + exact-n-gram eval
    decontamination, per arriving micro-batch, with ZERO stream-side
    shuffles — the online form of `text_quality_score` +
    `exact_ngram_decontamination`/`bloom_decontamination`.

    The eval-set filter arrives as a LITERAL bloom bitmap
    (`operators/bloom.py:bloom_hit_expr`), built batch-side from the eval
    corpus's 13-token window hashes — use `build_literal_bloom`, which
    AUTO-SIZES the bitmap from the eval key count and derives the probe
    count from the realized bits/key ratio, and pass its (words, bits,
    hashes) triple through ``bloom_words``/``bloom_bits``/
    ``bloom_hashes``. (A fixed default-size bitmap saturates once the
    eval set passes a few hundred keys — k=17 against 4096 bits at
    n=1000 gives per-probe FP ≈ 0.72, so the ANY-window flag over-drops
    nearly all clean docs.) A doc is dropped iff any of its window
    hashes is a possible member. Quality is the same stopword/punct/length
    expression as the batch query. Everything is stateless per-row
    codegen — append mode, no watermark/state needed, so the gate runs at
    source line-rate on any number of executors; the bloom guarantees no
    eval document leaks through (no false negatives), at a bounded
    false-drop rate.

    Drains with availableNow into an in-memory sink (test surface);
    production swaps the sink for the parquet writer of `stream_ingest`.
    Returns (doc_id, quality_score, n_tokens) for kept docs.
    """
    from pydatalake_spark.functions.text import quality_score, shingles, tokenize
    from pydatalake_spark.operators.bloom import (
        BLOOM_BITS,
        BLOOM_HASHES,
        bloom_hit_expr,
    )

    if isinstance(bloom_words, tuple):
        # the (words, num_bits, num_hashes) triple from build_literal_bloom
        bloom_words, bloom_bits, bloom_hashes = bloom_words
    if (bloom_bits is None) != (bloom_hashes is None):
        # bits and hashes are sized TOGETHER by build_literal_bloom; a
        # custom-sized bitmap probed with the default k (or vice versa)
        # tests positions the build never set — silent false negatives,
        # the one failure the gate must not have
        raise ValueError(
            "bloom_bits and bloom_hashes must be passed together (use "
            "build_literal_bloom's full (words, bits, hashes) triple)"
        )
    if bloom_bits is None:
        bloom_bits = BLOOM_BITS
        bloom_hashes = BLOOM_HASHES
    if bloom_words and max(bloom_words) >= bloom_bits // 32:
        # an auto-sized words dict probed at the wrong modulus would yield
        # SILENT FALSE NEGATIVES — the one failure the gate must not have
        raise ValueError(
            f"bloom_words spans word index {max(bloom_words)} but "
            f"bloom_bits={bloom_bits} only has {bloom_bits // 32} words; "
            "pass build_literal_bloom's full (words, bits, hashes) triple"
        )

    stream = spark.readStream.format("parquet").schema(schema).load(source_dir)
    bound = stream.select(
        "doc_id", "text", tokenize("text").alias("_toks")
    )
    toks = F.col("_toks")
    n_tokens = F.size(toks)
    quality = quality_score(toks)
    whs = F.transform(shingles(toks, k=eval_window), F.md5)
    contaminated = F.exists(
        whs,
        lambda wh: bloom_hit_expr(
            wh, bloom_words, num_bits=bloom_bits, num_hashes=bloom_hashes
        ),
    )
    kept = (
        bound.withColumn("quality_score", quality)
        .withColumn("n_tokens", n_tokens.cast("long"))
        .filter(
            (F.col("quality_score") >= quality_threshold) & ~contaminated
        )
        .select("doc_id", "quality_score", "n_tokens")
    )
    q = (
        kept.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(query_name)


def stream_decontaminate_foreachbatch(
    spark: SparkSession,
    source_dir: str,
    dest_dir: str,
    schema: T.StructType,
    eval_hashes: DataFrame,
    checkpoint_dir: str | None = None,
    eval_window: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Streaming decontamination at the VECTOR-tier scale: drain
    ``source_dir``, drop any doc sharing an ``eval_window``-token window
    with the eval corpus, write survivors to ``dest_dir`` exactly-once.

    This is the production-scale companion of ``stream_quality_screen``:
    the literal-bitmap gate there is bounded by what fits in an
    expression tree (``BLOOM_LITERAL_MAX_BITS`` = 2^18 bits ≈ 10^4 eval
    keys); real eval suites carry millions of windows. Here the filter
    is built ONCE batch-side at the auto-sized vector tier
    (``bloom_build_chunks``, up to ``BLOOM_VECTOR_MAX_BITS`` = 2^27 bits
    ≈ 5.6M keys) and each micro-batch is screened in ``foreachBatch``
    with the Arrow probe (``bloom_contains_numpy``) — per-batch cost is
    one mapInPandas over the batch's own windows, zero joins against
    eval data, zero stream-side shuffles. Past the vector ceiling,
    decontaminate the landed dataset in batch with
    ``operators/bloom.py:membership_screen`` (the join/exact tiers need
    plan shapes foreachBatch shouldn't hide).

    No false negatives by construction: an eval-overlapping doc can
    never reach ``dest_dir``; clean docs are over-dropped at the
    ~1e-5-per-window bloom FP rate.

    Exactly-once: the file-source checkpoint makes each source file feed
    exactly one batch id, and each batch writes by OVERWRITING its own
    ``_batch_id=<id>`` partition (dynamic partition overwrite) — a
    replayed/retried batch rewrites the same partition instead of
    appending duplicates, which a blind append in foreachBatch would
    (foreachBatch has no sink transaction log of its own). Readers see
    ``_batch_id`` as an extra partition column; drop it if unwanted.
    """
    from pydatalake_spark.functions.text import shingles, tokenize
    from pydatalake_spark.operators.bloom import (
        BLOOM_VECTOR_MAX_BITS,
        _bitmap_array,
        bloom_build_chunks,
        bloom_contains_array,
        bloom_num_bits,
    )

    key_df = eval_hashes.select("wh").where(F.col("wh").isNotNull()).distinct()
    m = bloom_num_bits(key_df.count())
    if m > BLOOM_VECTOR_MAX_BITS:
        raise ValueError(
            f"eval set needs a {m}-bit bloom — beyond the vector tier; "
            "screen in batch with membership_screen instead"
        )
    # build + decode the filter ONCE; every micro-batch probes the same
    # in-memory word array (no per-batch collect)
    arr = _bitmap_array(
        bloom_build_chunks(key_df, key_col="wh", num_bits=m), m
    )

    checkpoint_dir = checkpoint_dir or os.path.join(dest_dir, "_checkpoint")

    def screen_batch(batch_df: DataFrame, batch_id: int) -> None:
        whs = F.transform(
            shingles(tokenize(text_col), k=eval_window), F.md5
        )
        exploded = batch_df.select(
            F.col(id_col), F.explode_outer(whs).alias("wh")
        )
        flagged = (
            bloom_contains_array(exploded, arr, key_col="wh", num_bits=m)
            .groupBy(id_col)
            .agg(F.max(F.coalesce("bf_hit", F.lit(False))).alias("_flag"))
            .filter("_flag")
            .select(id_col)
        )
        kept = batch_df.join(flagged, id_col, "left_anti")
        (
            kept.withColumn("_batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(dest_dir)
        )

    q = (
        spark.readStream.format("parquet")
        .schema(schema)
        .load(source_dir)
        .writeStream.foreachBatch(screen_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
