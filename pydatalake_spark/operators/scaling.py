"""Parallelism guard for compute-heavy narrow operators.

Spark sizes scan partitions by bytes (``spark.sql.files.maxPartitionBytes``,
default 128 MiB), which is right for IO-bound plans but starves CPU-bound
ones: a 20 MB text corpus arrives as ONE partition and a minhash/simhash
pass then uses 1 of N cores. ``fan_out`` repartitions only when the input
has fewer partitions than the cluster's parallelism — at real scale
(thousands of input splits ≫ cores) it is a structural no-op, so the same
code path is optimal at sf0.001 and at 100 TB.

The reference is single-node and has no analog (all DuckDB threads share
one in-memory table); this is the Spark-native equivalent of "use all
cores for per-row compute".
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def fan_out(df: DataFrame, target: int | None = None) -> DataFrame:
    """Round-robin repartition up to cluster parallelism — only if the
    plan's scan width is below it; never shrinks, never shuffles an
    already well-partitioned input.

    Width is estimated from ``df.inputFiles()`` (analysis-only; the file
    index is already cached on the relation) rather than
    ``df.rdd.getNumPartitions()``, which forces full physical planning and
    detaches the RDD lineage on every call. At real scale (thousands of
    input splits ≫ cores) the file count exceeds parallelism and this is a
    structural no-op; tiny test inputs (one file, or an in-memory
    DataFrame with no files) get spread across the cores.
    """
    sc = df.sparkSession.sparkContext
    want = target or sc.defaultParallelism
    try:
        have = len(df.inputFiles())
    except Exception:  # pragma: no cover - defensive: analysis-only failure
        return df
    if have < want:
        return df.repartition(want)
    return df
