"""DataLakeTable — the engine's core abstraction.

One type that plays the role of the reference's ``Reader``/``BaseDataSet``
fluent surface (``src/pydala/dataset/reader.py:22-63``,
``src/pydala/dataset/base.py:17-142``): a dataset rooted at a path, exposed
as a lazy Spark DataFrame, with a deferred three-op config chain
(``drop`` → ``distinct`` → ``sort``, applied in that fixed order at
materialization time exactly like ``_drop_sort_distinct``,
``dataset/base.py:118-142``), SQL registration, raw-SQL passthrough, and
conversion edges.

The reference juggles five interchange types (pa.Table / polars / pandas /
DuckDB relation / ds.Dataset, ``utils/table.py:8-92``); here there is ONE
lazy type — the DataFrame — and pandas/arrow conversions only at the edges
(SURVEY §1.1). Everything stays a Catalyst plan until an action, so filters
and projections added through this wrapper push down into the parquet scan.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pydatalake_spark.operators.dedup import distinct_table
from pydatalake_spark.sources.read import read_dataset


def _as_list(v: str | Sequence[str] | None) -> list[str] | None:
    if v is None:
        return None
    return [v] if isinstance(v, str) else list(v)


class DataLakeTable:
    """A dataset (file/dir of parquet|csv|feather) as a fluent lazy table.

    >>> t = DataLakeTable(spark, "/data/events", fmt="parquet")
    >>> t.drop("props").distinct(["user_id"], keep="last", presort_by="ts")
    ...  .sort("ts").to_df()
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str | None = None,
        fmt: str = "parquet",
        schema: T.StructType | None = None,
        partition_schema: list[tuple[str, str]] | None = None,
        df: DataFrame | None = None,
        name: str = "dataset",
        **read_options,
    ) -> None:
        if df is None and path is None:
            raise ValueError("need a path or a DataFrame")
        self.spark = spark
        self.path = path
        self.fmt = fmt
        self.name = name
        self._schema = schema
        self._partition_schema = partition_schema
        self._read_options = read_options
        self._df = df
        # deferred config chain (≙ dataset/base.py:63-65 defaults)
        self._drop: list[str] = []
        self._distinct: bool = False
        self._distinct_subset: list[str] | None = None
        self._distinct_keep: str = "first"
        self._presort: list[str] | None = None
        self._sort_by: list[str] | None = None
        self._ascending: list[bool] | None = None

    # --- dataset binding -------------------------------------------------
    def load(self) -> "DataLakeTable":
        """Bind the underlying files as a lazy DataFrame (≙ ``load_dataset``
        ``reader.py:235-255``; no data moves until an action)."""
        self._df = read_dataset(
            self.spark,
            self.path,
            fmt=self.fmt,
            schema=self._schema,
            partition_schema=self._partition_schema,
            **self._read_options,
        )
        return self

    @property
    def df(self) -> DataFrame:
        if self._df is None:
            self.load()
        return self._df

    # --- fluent config chain (record-only, like dataset/base.py:77-115) --
    def sort(
        self, by: str | Sequence[str], ascending: bool | Sequence[bool] = True
    ) -> "DataLakeTable":
        self._sort_by = _as_list(by)
        if isinstance(ascending, bool):
            self._ascending = [ascending] * len(self._sort_by)
        else:
            self._ascending = list(ascending)
        return self

    def distinct(
        self,
        subset: str | Sequence[str] | None = None,
        keep: str = "first",
        presort_by: str | Sequence[str] | None = None,
    ) -> "DataLakeTable":
        self._distinct = True
        self._distinct_subset = _as_list(subset)
        self._distinct_keep = keep
        self._presort = _as_list(presort_by)
        return self

    def drop(self, columns: str | Sequence[str]) -> "DataLakeTable":
        self._drop = _as_list(columns) or []
        return self

    # --- materialization -------------------------------------------------
    def _drop_sort_distinct(self, df: DataFrame) -> DataFrame:
        """Fixed order drop → distinct → sort (``dataset/base.py:118-142``)."""
        if self._drop:
            existing = [c for c in self._drop if c in df.columns]
            if existing:
                df = df.drop(*existing)
        if self._distinct:
            df = distinct_table(
                df,
                subset=self._distinct_subset,
                keep=self._distinct_keep,
                presort_by=self._presort,
            )
        if self._sort_by:
            from pyspark.sql import functions as F

            df = df.orderBy(
                *[
                    F.col(c).asc() if asc else F.col(c).desc()
                    for c, asc in zip(self._sort_by, self._ascending)
                ]
            )
        return df

    def to_df(self) -> DataFrame:
        """The configured lazy plan (≙ ``to_relation``, ``reader.py:372-404``)."""
        return self._drop_sort_distinct(self.df)

    def to_pandas(self):
        """Arrow-backed pandas edge (≙ ``to_pandas``, ``reader.py:442-476``)."""
        return self.to_df().toPandas()

    def to_arrow(self):
        import pyarrow as pa

        return pa.Table.from_pandas(self.to_pandas())

    # --- SQL surface ------------------------------------------------------
    def create_temp_table(self, name: str | None = None) -> str:
        """Register as SQL view (≙ ``ddb.register``, ``reader.py:252``)."""
        name = name or self.name
        self.to_df().createOrReplaceTempView(name)
        return name

    def create_table(self, name: str | None = None, temp: bool = True) -> str:
        """CTAS (≙ ``_create_ddb_table``, ``reader.py:292-353``). With
        ``temp=False`` persists via ``saveAsTable`` into the session catalog."""
        name = name or self.name
        if temp:
            return self.create_temp_table(name)
        self.to_df().write.mode("overwrite").saveAsTable(name)
        return name

    def query(self, sql: str) -> DataFrame:
        """Raw SQL passthrough (≙ ``reader.py:478-484``); the dataset is
        registered under its name first."""
        self.create_temp_table(self.name)
        return self.spark.sql(sql)

    sql = query

    def transform(self, fn: Callable[[DataFrame], DataFrame], **kwargs) -> "DataLakeTable":
        """Arbitrary DataFrame→DataFrame hook (≙ ``transform_func`` U1,
        ``writer.py:444-445``) applied lazily on top of the chain."""
        return DataLakeTable(
            self.spark, path=self.path, fmt=self.fmt, name=self.name,
            df=fn(self.to_df(), **kwargs) if kwargs else fn(self.to_df()),
        )

    def dedup_near(
        self,
        id_col: str,
        text_col: str = "text",
        method: str = "minhash",
        threshold: float = 0.5,
        **kwargs,
    ) -> "DataLakeTable":
        """Near-duplicate removal in the fluent chain: generate candidate
        pairs (``method`` = ``minhash`` LSH+verify, ``ngram`` exact
        inverted-index, or ``simhash`` banded-Hamming), resolve connected
        components, keep each cluster's minimum-id row. Extra kwargs pass
        to the pair generator (e.g. ``max_df=`` for ngram, ``num_bands=``
        for minhash/simhash)."""
        from pydatalake_spark.operators.cluster import dedup_by_clusters

        df = self.to_df()
        if method == "minhash":
            from pydatalake_spark.operators.minhash import near_dup_pairs

            pairs = near_dup_pairs(
                df, id_col=id_col, text_col=text_col,
                jaccard_threshold=threshold, **kwargs,
            )
        elif method == "ngram":
            from pydatalake_spark.operators.ngram_jaccard import (
                ngram_jaccard_pairs,
            )

            pairs = ngram_jaccard_pairs(
                df, id_col=id_col, text_col=text_col,
                threshold=threshold, **kwargs,
            )
        elif method == "simhash":
            from pydatalake_spark.operators.simhash import simhash_near_dup

            pairs = simhash_near_dup(
                df, id_col=id_col, text_col=text_col, **kwargs
            )
        else:
            raise ValueError(f"unknown near-dup method {method!r}")
        deduped = dedup_by_clusters(df, pairs, id_col=id_col)
        return DataLakeTable(
            self.spark, path=self.path, fmt=self.fmt, name=self.name, df=deduped
        )

    def strip_spans(
        self,
        id_col: str,
        text_col: str = "text",
        window: int = 8,
        min_docs: int = 1,
    ) -> "DataLakeTable":
        """Remove cross-document duplicated spans in the fluent chain
        (operators/span_dedup.py:strip_dup_spans): the substring-dedup
        tier between exact dedup and document-level near-dedup. Replaces
        ``text_col`` with the stripped text (other columns re-joined by
        ``id_col``)."""
        from pydatalake_spark.operators.span_dedup import strip_dup_spans

        df = self.to_df()
        stripped = strip_dup_spans(
            df, id_col=id_col, text_col=text_col,
            window=window, min_docs=min_docs,
        ).select(id_col, F.col("clean_text").alias(text_col))
        out = df.drop(text_col).join(stripped, id_col)
        return DataLakeTable(
            self.spark, path=self.path, fmt=self.fmt, name=self.name, df=out
        )

    def dedup_semantic(
        self,
        id_col: str,
        vec_col: str = "embedding",
        num_cells: int | None = None,
        threshold: float = 0.9,
        **kwargs,
    ) -> "DataLakeTable":
        """SemDeDup in the fluent chain (operators/semdedup.py): keep only
        rows whose embedding has no higher-priority (lower-id) cosine
        neighbor >= ``threshold`` within its cluster cell. ``num_cells``
        defaults to corpus-sized auto-selection (suggest_num_cells) so the
        within-cell pair work stays linear in table size; the verify is
        one numpy gram matrix per cell."""
        from pydatalake_spark.operators.semdedup import semantic_dedup

        df = self.to_df()
        keep = (
            semantic_dedup(
                df, id_col=id_col, vec_col=vec_col,
                num_cells=num_cells, threshold=threshold, **kwargs,
            )
            .filter("keep")
            .select(id_col)
        )
        return DataLakeTable(
            self.spark, path=self.path, fmt=self.fmt, name=self.name,
            df=df.join(keep, id_col, "left_semi"),
        )

    def sample_weighted(
        self, key_col: str, weight_col: str, k: int, salt: str = ":ws"
    ) -> "DataLakeTable":
        """Reproducible weighted sample without replacement in the fluent
        chain (functions/split.py:weighted_sample — Efraimidis-Spirakis
        with hash-uniforms; same rows on every run/partitioning)."""
        from pydatalake_spark.functions.split import weighted_sample

        return DataLakeTable(
            self.spark, path=self.path, fmt=self.fmt, name=self.name,
            df=weighted_sample(self.to_df(), key_col, weight_col, k, salt),
        )

    def cap_per(
        self, group_col: str, key_col: str, max_rows: int
    ) -> "DataLakeTable":
        """Deterministic per-group cap in the fluent chain
        (functions/split.py:cap_per_group — nested, run-stable; the
        domain-cap control of a training mix)."""
        from pydatalake_spark.functions.split import cap_per_group

        return DataLakeTable(
            self.spark, path=self.path, fmt=self.fmt, name=self.name,
            df=cap_per_group(self.to_df(), group_col, key_col, max_rows),
        )

    # --- write surface ------------------------------------------------------
    def write_dataset(self, path: str, **kwargs) -> "DataLakeTable":
        """Write the configured plan as a dataset (full write-mode surface
        of ``dataset/writer.py:write_dataset`` — raise/overwrite/append/
        delta, partitioning, batching, transform hook)."""
        from pydatalake_spark.dataset.writer import write_dataset as _write

        _write(self.to_df(), path, **kwargs)
        return self

    # --- introspection ----------------------------------------------------
    def count(self) -> int:
        return self.to_df().count()

    @property
    def schema(self) -> T.StructType:
        return self.df.schema

    def explain(self, mode: str = "formatted") -> None:
        self.to_df().explain(mode)
