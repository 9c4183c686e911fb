"""Reference-compatible API shim: the names a PyDaLa user already knows.

Thin aliases over the engine's native surface so code written against the
reference (``src/pydala/dataset/reader.py`` / ``writer.py`` /
``datalake/manager.py``) ports with import changes only:

==============================  =========================================
reference                       here
==============================  =========================================
``Reader(path).load_dataset()``  ``Reader(path).load_dataset()`` (temp view)
``Reader.to_relation()``         lazy ``DataFrame`` (Spark plan ≙ relation)
``Reader.to_polars()/pandas()``  ``to_pandas()`` (Arrow-backed)
``Reader.query()/execute()``     ``spark.sql`` passthrough
``Reader.sort/distinct/drop``    same fluent record-only chain
``Writer.write_dataset(...)``    partitioned write w/ raise/overwrite/
                                 append/delta modes + batching + hooks
``Manager`` (``_pydala.toml``)   ``Manager`` over the JSON lake registry
``TimeFly`` snapshots            ``TimeFly`` (same as-of first-after rule)
==============================  =========================================

Interchange collapse: the reference juggles five table types (pa.Table,
polars, pandas, duckdb relation, pyarrow dataset — ``utils/table.py:8-92``);
here everything is ONE lazy DataFrame, with pandas/Arrow at the edges.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession

from pydatalake_spark.datalake.catalog import DataLake
from pydatalake_spark.dataset.table import DataLakeTable
from pydatalake_spark.dataset.timefly import TimeFly
from pydatalake_spark.dataset.writer import write_dataset
from pydatalake_spark.session import cache_once, get_spark
from pydatalake_spark.sources.filesystem import configure_filesystem, remote_uri

__all__ = [
    "Reader",
    "Writer",
    "TimeFlyReader",
    "TimeFlyWriter",
    "Repartition",
    "Manager",
    "TimeFly",
    "configure_filesystem",
]


class Reader(DataLakeTable):
    """≙ ``pydala.dataset.Reader`` (``reader.py:22-63``).

    ``bucket``/``protocol`` collapse into the path (Spark reads object
    storage natively via s3a:///gs:///abfss:// URIs — no cache sync, no
    fsspec; SURVEY §2.1 S11). ``protocol``/``profile``/``endpoint_url``/
    ``storage_options`` map to Hadoop connector confs via
    ``configure_filesystem`` (≙ reference ``filesystem/fs.py:7-139``).
    """

    def __init__(
        self,
        path: str,
        bucket: str | None = None,
        name: str = "dataset",
        format: str = "parquet",  # noqa: A002 - reference kwarg name
        partitioning: str | list | None = None,
        schema=None,
        spark: SparkSession | None = None,
        protocol: str | None = None,
        profile: str | None = None,
        endpoint_url: str | None = None,
        storage_options: dict | None = None,
        **kwargs,
    ) -> None:
        spark = spark or get_spark()
        if protocol not in (None, "file", "local") or storage_options:
            configure_filesystem(
                spark,
                protocol or "s3",
                profile=profile,
                endpoint_url=endpoint_url,
                **(storage_options or {}),
            )
        full = remote_uri(path, bucket, protocol)
        # reference "hive" flavor is Spark's native partition discovery;
        # "directory"-flavor (bare value dirs) needs the explicit
        # partition_schema path of read_directory_partitioned. The reference
        # passes plain column-name lists — coerce to the (name, type) tuples
        # the directory reader expects, defaulting untyped names to string
        part_schema = None
        if isinstance(partitioning, list):
            part_schema = [
                (p, "string") if isinstance(p, str) else tuple(p)
                for p in partitioning
            ]
        super().__init__(
            spark,
            full,
            fmt=format,
            schema=schema,
            partition_schema=part_schema,
            name=name,
            **kwargs,
        )

    # --- reference method names -----------------------------------------
    def load_dataset(self, name: str | None = None) -> "Reader":
        """≙ ``reader.py:235-255`` — bind files + register SQL view."""
        self.load()
        self.create_temp_table(name or self.name)
        return self

    def load_pa_table(self, name: str | None = None) -> "Reader":
        """≙ ``reader.py:257-290`` — eager load; here: cache + register."""
        self.load_dataset(name)
        self._df = cache_once(self.df)
        return self

    def to_relation(self) -> DataFrame:
        """≙ ``reader.py:372-404`` — the lazy query handle."""
        return self.to_df()

    def to_polars(self):
        """≙ ``reader.py:406-440`` / ``utils/table.py:8-55`` — returns a real
        ``polars.DataFrame`` when polars is importable (zero-copy from the
        pandas/Arrow edge), falling back to pandas where it isn't. Driver-edge
        materialization either way — small-data by contract."""
        pdf = self.to_pandas()
        try:
            import polars as pl
        except ImportError:
            return pdf
        return pl.from_pandas(pdf)

    def execute(self, sql: str) -> DataFrame:
        """≙ ``reader.py:478-481`` raw SQL passthrough."""
        return self.query(sql)

    def add_existing_ddb_table(self, existing_table: str) -> DataFrame:
        """≙ ``reader.py:367-370`` — adopt a pre-registered table."""
        return self.spark.table(existing_table)

    # --- reference inspection accessors (reader.py:487-581) --------------
    @property
    def has_dataset(self) -> bool:
        """≙ ``reader.py:540-542`` — files bound as a (lazy) dataset."""
        return self._df is not None

    @property
    def has_relation(self) -> bool:
        """≙ ``reader.py:544-546`` — a query handle exists. The Spark plan
        IS the relation, so this tracks dataset binding."""
        return self._df is not None

    @property
    def has_pa_table(self) -> bool:
        """≙ ``reader.py:536-538`` — the driver-edge Arrow materialization
        has been built (via ``pa_table``/``buffer_size``)."""
        return getattr(self, "_pa_table", None) is not None

    @property
    def pa_table(self):
        """≙ ``reader.py:495-500`` — EAGER driver-edge ``pyarrow.Table``.
        Small-data by contract, like ``to_pandas``: the whole (configured)
        table materializes on the driver. Cached per Reader."""
        if getattr(self, "_pa_table", None) is None:
            self._pa_table = self.to_arrow()
        return self._pa_table

    @property
    def buffer_size(self) -> int:
        """≙ ``reader.py:556-561`` — total Arrow buffer bytes of the
        materialized table (triggers ``pa_table`` like the reference; the
        reference's accessor returns None on the second call — a bug per
        SURVEY §4, intentionally not replicated)."""
        return int(self.pa_table.get_total_buffer_size())

    def get_buffer_size(self, unit: str = "MB") -> str:
        """≙ ``reader.py:580-581`` — formatted ``buffer_size``."""
        return f"{_convert_size_unit(self.buffer_size, unit)} {unit}"

    @property
    def disk_usage(self) -> int:
        """≙ ``reader.py:566-570`` (``fs.du(path, total=True)``) — total
        bytes under the dataset path, via the Hadoop FileSystem connector
        so it answers for local paths and object stores alike. Driver-side
        metadata call; no data moves."""
        if getattr(self, "_disk_usage", None) is None:
            sc = self.spark.sparkContext
            jpath = sc._jvm.org.apache.hadoop.fs.Path(self.path)
            fs = jpath.getFileSystem(sc._jsc.hadoopConfiguration())
            self._disk_usage = int(fs.getContentSummary(jpath).getLength())
        return self._disk_usage

    def get_disk_usage(self, unit: str = "MB") -> str:
        """≙ ``reader.py:572-573`` — formatted ``disk_usage``."""
        return f"{_convert_size_unit(self.disk_usage, unit)} {unit}"

    @property
    def tables(self) -> list[str]:
        """≙ ``reader.py:575-577`` — which representations exist. The
        engine holds ONE lazy DataFrame (see module docstring), so this
        reports the two states that exist here: the bound dataset/relation
        and the optional driver-edge Arrow table."""
        out = []
        if self.has_dataset:
            out += ["dataset", "relation"]
        if self.has_pa_table:
            out.append("pa_table")
        return out


def _convert_size_unit(n_bytes: int, unit: str = "MB") -> str:
    """≙ reference ``utils/base.py convert_size_unit`` — bytes to a fixed
    decimal in B/KB/MB/GB/TB."""
    scale = {"B": 0, "KB": 1, "MB": 2, "GB": 3, "TB": 4}
    if unit not in scale:
        raise ValueError(f"unit must be one of {sorted(scale)}, got {unit!r}")
    return f"{n_bytes / (1024 ** scale[unit]):.1f}"


class Writer:
    """≙ ``pydala.dataset.Writer`` (``writer.py:430-527``).

    ``partitioning_flavor`` (``writer.py:30``): ``"hive"`` and
    ``"directory"`` map through; the reference's pyarrow default (None =
    directory flavor) maps to HIVE here — a documented divergence, kept
    because hive is what every engine reads and the directory flavor's
    strip pass on object stores is a non-atomic server-side copy window
    (see ``dataset/writer.py:_strip_hive_prefixes``). Pass
    ``"directory"`` explicitly for the bare-value-dir layout (any
    filesystem the session's Hadoop conf can reach).
    """

    def __init__(
        self,
        path: str,
        bucket: str | None = None,
        partitioning: str | Sequence[str] | None = None,
        format: str = "parquet",  # noqa: A002
        compression: str = "zstd",
        mode: str = "append",
        spark: SparkSession | None = None,
        protocol: str | None = None,
        profile: str | None = None,
        endpoint_url: str | None = None,
        storage_options: dict | None = None,
        partitioning_flavor: str | None = None,
    ) -> None:
        spark = spark or get_spark()
        if protocol not in (None, "file", "local") or storage_options:
            configure_filesystem(
                spark,
                protocol or "s3",
                profile=profile,
                endpoint_url=endpoint_url,
                **(storage_options or {}),
            )
        self.path = remote_uri(path, bucket, protocol)
        self.partitioning = partitioning
        if partitioning_flavor not in (None, "hive", "directory"):
            # a typo ('dir') or a pyarrow-only value silently becoming hive
            # would hand the user the wrong on-disk layout with no signal
            raise ValueError(
                "partitioning_flavor must be None, 'hive' or 'directory', "
                f"got {partitioning_flavor!r}"
            )
        self.partition_flavor = (
            "directory" if partitioning_flavor == "directory" else "hive"
        )
        self.format = format
        self.compression = compression
        self.mode = mode
        self.spark = spark

    def write_dataset(
        self,
        table: DataFrame,
        mode: str | None = None,
        batch_size: int | str | None = None,
        datetime_column: str | None = None,
        start_time=None,
        end_time=None,
        delta_subset: Sequence[str] | None = None,
        transform_func: Callable[[DataFrame], DataFrame] | None = None,
        transform_func_kwargs: dict | None = None,
        row_group_size: int | None = None,
        **_ignored,
    ) -> None:
        write_dataset(
            table,
            self.path,
            mode=mode or self.mode,
            partition_by=self.partitioning,
            compression=self.compression,
            fmt=self.format,
            max_records_per_file=row_group_size,
            batch_size=batch_size,
            datetime_column=datetime_column,
            start_time=start_time,
            end_time=end_time,
            delta_subset=delta_subset,
            transform_func=transform_func,
            transform_func_kwargs=transform_func_kwargs,
            partition_flavor=self.partition_flavor,
        )


class TimeFlyReader(Reader):
    """≙ ``reader.py:584-680`` — Reader rooted at the snapshot resolved
    from a timestamp by the reference's first-snapshot-AFTER rule."""

    def __init__(
        self,
        base_path: str,
        timefly: dt.datetime | str | None = None,
        spark: SparkSession | None = None,
        **kwargs,
    ) -> None:
        self._tf = TimeFly(spark or get_spark(), base_path)
        self._base = base_path
        super().__init__(self._tf.resolve_as_of(timefly), spark=spark, **kwargs)

    def set_snapshot(self, timefly: dt.datetime | str | None = None) -> None:
        """≙ ``reader.py:655-675`` — rebind to another snapshot."""
        self.path = self._tf.resolve_as_of(timefly)
        self._df = None


class TimeFlyWriter(Writer):
    """≙ reference ``writer.py:574-687`` — a Writer rooted at the TimeFly
    snapshot resolved from ``timefly`` (the reference's first-snapshot-
    AFTER rule; None = ``current/``), whose ``write_dataset`` refreshes
    the versioned metadata after the write (W11, ``writer.py:646-687``).
    Initializes the TimeFly config when the dataset isn't versioned yet
    (the reference assumes an existing ``timefly.toml``; initializing is
    the porting-friendly superset)."""

    def __init__(
        self,
        base_path: str,
        timefly: dt.datetime | str | None = None,
        spark: SparkSession | None = None,
        format: str = "parquet",  # noqa: A002 - reference kwarg name
        **writer_kwargs,
    ) -> None:
        spark = spark or get_spark()
        self.timefly = TimeFly(spark, base_path, fmt=format)
        if not self.timefly.config:
            self.timefly.init()
        super().__init__(
            self.timefly.resolve_as_of(timefly),
            spark=spark,
            format=format,
            **writer_kwargs,
        )

    def set_snapshot(self, timefly: dt.datetime | str | None = None) -> None:
        """≙ ``writer.py:659-661`` — rebind to another snapshot."""
        self.path = self.timefly.resolve_as_of(timefly)

    def write_dataset(
        self,
        table: DataFrame,
        mode: str | None = None,
        row_group_size: int | None = None,
        **kw,
    ) -> None:
        import os as _os

        mode = mode or self.mode
        tf = self.timefly
        if _os.path.abspath(self.path) == _os.path.abspath(tf.current_path):
            # current/: go through TimeFly.write so overwrite COW-protects
            # snapshot-referenced files and the versioned metadata updates
            tf.write(
                table,
                mode=mode,
                partition_by=self.partitioning,
                compression=self.compression,
                max_records_per_file=row_group_size,
                partition_flavor=self.partition_flavor,
                **kw,
            )
            return
        # historical snapshot path: direct write + metadata refresh
        super().write_dataset(table, mode=mode, row_group_size=row_group_size, **kw)
        tf.config["current"] = dict(
            tf.config.get("current", {}),
            updated=tf._now_id(),
            last_mode=mode,
        )
        tf._write_config()


class Repartition:
    """≙ reference ``repartition.py:7-195`` — rewrite a dataset through a
    (reader, writer) pair with a fluent sort/distinct/drop/partitioning/
    compression/format/mode chain, then ``write()``.

    Divergences, both documented: ``caching_method`` is accepted and
    ignored (Spark's shuffle IS the out-of-place materialization — the
    reference needed DuckDB temp tables to avoid reading and writing the
    same files; the in-place path here delegates to
    ``repartition_dataset``'s temp-dir + atomic-swap), and the fluent
    setters configure the DataFrame transform rather than writer state.
    """

    def __init__(
        self,
        reader: Reader,
        writer: Writer,
        caching_method: str | None = None,
        source_table: str = "pa_table",
        schema_auto_conversion: bool = True,
        delete_source: bool = False,
        add_snapshot: bool = True,
    ) -> None:
        self._reader = reader
        self._writer = writer
        self._delete_source = delete_source
        self._sort_by: Sequence[str] | str | None = None
        self._ascending: bool | Sequence[bool] | None = None
        self._distinct: bool = False
        self._drop: Sequence[str] | str | None = None
        self._batch_size = None
        self._row_group_size: int | None = None
        # TimeFly-versioned source: snapshot before rewriting, like the
        # reference's `reader.timefly.add_snapshot()`
        tf = getattr(reader, "_tf", None)
        if tf is not None and add_snapshot:
            tf.add_snapshot()

    # --- fluent chain (repartition.py:85-141) ----------------------------
    def sort(self, by, ascending=None) -> "Repartition":
        self._sort_by, self._ascending = by, ascending
        return self

    def distinct(self, value, **_ignored) -> "Repartition":
        self._distinct = bool(value)
        return self

    def drop(self, columns) -> "Repartition":
        self._drop = columns
        return self

    def partitioning(self, columns=None, flavor=None) -> "Repartition":
        if columns is not None:
            self._writer.partitioning = columns
        if flavor is not None:
            self._writer.partition_flavor = flavor
        return self

    def compression(self, value=None) -> "Repartition":
        if value is not None:
            self._writer.compression = value
        return self

    def format(self, value=None) -> "Repartition":  # noqa: A003
        if value is not None:
            self._writer.format = value
        return self

    def mode(self, value) -> "Repartition":
        if value is not None:
            self._writer.mode = value
        return self

    def batch_size(self, value=None) -> "Repartition":
        if value is not None:
            self._batch_size = value
        return self

    def row_group_size(self, value=None) -> "Repartition":
        if value is not None:
            self._row_group_size = value
        return self

    # --- write (repartition.py:146-195) ----------------------------------
    def write(
        self,
        batch_size=None,
        row_group_size: int | None = None,
        sort_by=None,
        ascending=None,
        distinct: bool | None = None,
        drop=None,
        partitioning=None,
        partitioning_flavor: str | None = None,
        compression: str | None = None,
        format: str | None = None,  # noqa: A002
        mode: str | None = None,
        delete_source: bool = False,
        transform_func: Callable[[DataFrame], DataFrame] | None = None,
        transform_func_kwargs: dict | None = None,
        **kwargs,
    ) -> None:
        if sort_by is not None:
            self.sort(sort_by, ascending)
        if distinct is not None:
            self.distinct(distinct)
        if drop is not None:
            self.drop(drop)
        self.partitioning(partitioning, partitioning_flavor)
        self.compression(compression)
        self.format(format)
        self.mode(mode)
        self.batch_size(batch_size)
        self.row_group_size(row_group_size)
        delete_source = delete_source or self._delete_source

        import os

        src = getattr(self._reader, "path", None)
        in_place = (
            src is not None
            and os.path.abspath(src) == os.path.abspath(self._writer.path)
        )
        if in_place:
            # reading and writing the same files: delegate to the
            # temp-dir + atomic-swap path (crash-safe; no caching needed)
            from pydatalake_spark.dataset.repartition import (
                repartition_dataset,
            )

            part = self._writer.partitioning
            repartition_dataset(
                self._writer.spark,
                src,
                dest=None,
                partition_by=part,
                sort_by=self._sort_by,
                distinct=self._distinct,
                fmt=self._writer.format,
                compression=self._writer.compression,
                max_records_per_file=self._row_group_size,
                transform_func=self._apply_chain_then(transform_func,
                                                      transform_func_kwargs),
                source_fmt=getattr(self._reader, "fmt", "parquet"),
                partition_flavor=self._writer.partition_flavor,
            )
            return

        df = self._reader.to_df()
        df = self._apply_chain_then(transform_func, transform_func_kwargs)(df)
        self._writer.write_dataset(
            df, row_group_size=self._row_group_size, **kwargs
        )
        if delete_source and src is not None:
            import shutil

            shutil.rmtree(src, ignore_errors=True)

    def _apply_chain_then(self, transform_func, transform_func_kwargs):
        """The fluent chain as one DataFrame transform, reference order:
        drop → distinct → sort (writer.py:93-117 applies them in that
        sequence), then the user's transform_func."""

        def apply(df: DataFrame) -> DataFrame:
            if self._drop:
                cols = (
                    [self._drop]
                    if isinstance(self._drop, str)
                    else list(self._drop)
                )
                df = df.drop(*cols)
            if self._distinct:
                df = df.distinct()
            if self._sort_by:
                by = (
                    [self._sort_by]
                    if isinstance(self._sort_by, str)
                    else list(self._sort_by)
                )
                asc = self._ascending
                if asc is None:
                    asc = [True] * len(by)
                elif isinstance(asc, bool):
                    asc = [asc] * len(by)
                from pyspark.sql import functions as F

                df = df.orderBy(
                    *[
                        F.col(c).asc() if a else F.col(c).desc()
                        for c, a in zip(by, asc)
                    ]
                )
            if transform_func is not None:
                df = transform_func(df, **(transform_func_kwargs or {}))
            return df

        return apply


class Manager(DataLake):
    """≙ ``pydala.datalake.Manager`` (``manager.py:16-209``); JSON registry
    instead of ``_pydala.toml``, same create/register/remove/tables surface."""

    def __init__(self, root: str, spark: SparkSession | None = None) -> None:
        super().__init__(spark or get_spark(), root)
