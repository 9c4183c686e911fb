"""Delta Lake interop queries (driver-oracled).

These gate the NATIVE Delta transaction-log implementation
(``sources/delta.py`` — the public delta-io PROTOCOL.md, no delta-spark)
end-to-end through the driver's DuckDB-oracle correctness check: a Delta
table is materialized from the round's ``orders`` parquet as two commits
(v0 = pre-1998 orders, v1 = append the rest, partitioned by
``o_orderstatus``), then each query reads a different protocol surface —
latest snapshot, version time travel, log-level partition pruning — and
the oracle recomputes the same answer from the RAW parquet, so a log
corruption, a mis-replayed remove, or a pruning bug shows up as a value
mismatch, not just a test assertion.

Fixture lifecycle (rebuilt for r12 — the r11 gate's only red rows were
half-built fixtures, not query bugs; VERDICT r11 item 1):

* **atomic publish** — the table is built at ``<table>.tmp.<pid>`` and
  moved into place with one ``os.rename``; a concurrent reader sees
  either the complete old table or the complete new one, never a
  mid-rebuild state;
* **cross-process lock** — an ``fcntl.flock`` around check-and-build
  serializes a parallel gate/bench racing a first access (flock also
  serializes same-process threads: each ``open`` is its own file
  description);
* **content-hash stamp** — staleness is keyed on the sf dir's
  (count, mtime, size) stamp PLUS a sha1 of ``sources/delta.py`` and
  this module, so a write-path fix rebuilds the fixture automatically
  (the old hand-bumped ``_FIXTURE_GEN`` string could silently serve
  stale bytes after a forgotten bump).

The MERGE fixture applies its upsert ONCE inside the locked build
(the merge is idempotent — the source derives from the raw parquet), so
the gated/benched ``delta_merge_upsert_orders`` measures a snapshot
READ; the one-time commit cost is reported separately in
``BENCH_delta_merge.json`` (tools/probe_merge_commit.py — VERDICT r11
item 5)."""

from __future__ import annotations

import fcntl
import hashlib
import json
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pydatalake_spark.queries.tables import load_table as _t
from pydatalake_spark.queries.tables import sf_stamp
from pydatalake_spark.sources.delta import (
    delete_rows_dv,
    is_delta_table,
    merge_delta,
    read_delta,
    read_delta_cdf,
    update_rows_dv,
    write_delta,
)

QUERIES: dict = {}
ORACLE: dict = {}


def q(name: str, sql: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLE[name] = sql
        return fn

    return deco


_CUT = "1998-01-01 00:00:00"

# r13 (VERDICT r12 item 1): every price aggregate in this module
# accumulates as DECIMAL(18,4) and converts to DOUBLE only at the edge.
# Decimal addition is exact and associative, so the result is identical
# under ANY partitioning/summation order on any machine — a plain double
# sum over ~1e4-1e5 rows carries O(1-10) absolute error that can cross a
# 9-sig-digit canon boundary on one machine and not another (the r11/r12
# driver-red signature). The oracle SQL applies the identical cast, and
# the already-green delta_cdf_changes proves Spark and DuckDB agree on
# this exact cast chain over this data.
_PRICE_SUM_SQL = (
    "CAST(sum(CAST({col} AS DECIMAL(18,4))) AS DOUBLE) AS total_price"
)


def _price_sum(col: str = "o_totalprice"):
    return (
        F.sum(F.col(col).cast("decimal(18,4)"))
        .cast("double")
        .alias("total_price")
    )


def _code_stamp() -> str:
    """sha1 over the modules whose behavior shapes the fixtures — a
    write-path or query change rebuilds them without any manual bump."""
    import pydatalake_spark.sources.delta as _delta_mod

    h = hashlib.sha1()
    for mod_file in (_delta_mod.__file__, __file__):
        with open(mod_file, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _fixture(spark: SparkSession, sf: str, name: str, build) -> str:
    """Serve (building if stale/absent) the shared Delta fixture ``name``
    for ``sf``. ``build(tmp_path)`` materializes the table at a temp
    path; publication is one atomic rename under an exclusive flock."""
    key = hashlib.sha1(os.path.abspath(sf).encode()).hexdigest()[:12]
    root = os.path.join(tempfile.gettempdir(), "pydatalake_delta_fixture")
    os.makedirs(root, exist_ok=True)
    table = os.path.join(root, f"{name}_{key}")
    stamp_file = table + ".stamp"
    dir_stamp = sf_stamp(sf)
    want = (
        None if dir_stamp is None else list(dir_stamp) + [_code_stamp()]
    )
    with open(table + ".lock", "w") as lf:
        fcntl.flock(lf, fcntl.LOCK_EX)
        try:
            if (
                want is not None
                and os.path.isfile(stamp_file)
                and is_delta_table(table)
            ):
                try:
                    with open(stamp_file) as f:
                        if json.load(f) == want:
                            return table
                except (OSError, json.JSONDecodeError):
                    pass
            tmp = table + f".tmp.{os.getpid()}"
            shutil.rmtree(tmp, ignore_errors=True)
            try:
                build(tmp)
                # never serve a stale stamp across the swap window
                try:
                    os.unlink(stamp_file)
                except FileNotFoundError:
                    pass
                old = table + f".old.{os.getpid()}"
                shutil.rmtree(old, ignore_errors=True)
                if os.path.isdir(table):
                    os.rename(table, old)
                os.rename(tmp, table)
                shutil.rmtree(old, ignore_errors=True)
                if want is not None:
                    stmp = stamp_file + f".tmp.{os.getpid()}"
                    with open(stmp, "w") as f:
                        json.dump(want, f)
                    os.replace(stmp, stamp_file)
            finally:
                shutil.rmtree(tmp, ignore_errors=True)
            return table
        finally:
            fcntl.flock(lf, fcntl.LOCK_UN)


def _orders_delta(spark: SparkSession, sf: str) -> str:
    """The two-commit orders Delta table the read queries below share
    (v0 = pre-cut orders, v1 = append the rest; hive-partitioned by
    o_orderstatus)."""

    def build(tmp: str) -> None:
        orders = _t(spark, sf, "orders")
        cut = F.lit(_CUT).cast("timestamp")
        write_delta(
            orders.filter(F.col("o_orderdate") < cut),
            tmp,
            partition_by=["o_orderstatus"],
        )
        write_delta(
            orders.filter(~(F.col("o_orderdate") < cut)), tmp, mode="append"
        )

    return _fixture(spark, sf, "orders", build)


def _orders_merged_delta(spark: SparkSession, sf: str) -> str:
    """Single-consumer MERGE fixture: base table (one commit) plus the
    upsert applied ONCE at build time — every 97th 'P'-status order
    doubled in price, the same rows inserted as fresh 'N'-status orders
    (negated keys). Only files whose partitions contain matched keys are
    rewritten (the scale contract pinned in
    ``test_merge_updates_inserts_and_touches_only_hit_files``)."""

    def build(tmp: str) -> None:
        orders = _t(spark, sf, "orders")
        write_delta(orders, tmp, partition_by=["o_orderstatus"])
        matched = orders.filter(
            (F.col("o_orderkey") % 97 == 0)
            & (F.col("o_orderstatus") == "P")
        )
        updates = matched.withColumn(
            "o_totalprice", F.col("o_totalprice") * 2
        )
        inserts = updates.withColumn(
            "o_orderkey", -F.col("o_orderkey")
        ).withColumn("o_orderstatus", F.lit("N"))
        merge_delta(
            spark, tmp, updates.unionByName(inserts), on=["o_orderkey"]
        )

    return _fixture(spark, sf, "orders_merge", build)


@q(
    "delta_roundtrip_orders",
    f"""
    SELECT o_orderstatus, count(*) AS n_orders,
           {_PRICE_SUM_SQL.format(col="o_totalprice")}
    FROM orders GROUP BY o_orderstatus
    """,
)
def delta_roundtrip_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Latest-snapshot read: two commits replayed, hive-layout scan with
    log-verified partition dirs; must equal the raw parquet aggregate."""
    df = read_delta(spark, _orders_delta(spark, sf))
    return df.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        _price_sum(),
    )


@q(
    "delta_time_travel_v0",
    f"""
    SELECT o_orderstatus, count(*) AS n_orders,
           {_PRICE_SUM_SQL.format(col="o_totalprice")}
    FROM orders WHERE o_orderdate < TIMESTAMP '{_CUT}'
    GROUP BY o_orderstatus
    """,
)
def delta_time_travel_v0(spark: SparkSession, sf: str) -> DataFrame:
    """Version time travel: v0 state (pre-1998 slice) after a later
    append — exercises replay stopping at the requested version."""
    df = read_delta(spark, _orders_delta(spark, sf), version=0)
    return df.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        _price_sum(),
    )


@q(
    "delta_merge_upsert_orders",
    f"""
    WITH merged AS (
        SELECT o_orderstatus,
               CASE WHEN o_orderkey % 97 = 0 AND o_orderstatus = 'P'
                    THEN o_totalprice * 2 ELSE o_totalprice END AS px
        FROM orders
        UNION ALL
        SELECT 'N' AS o_orderstatus, o_totalprice * 2 AS px
        FROM orders WHERE o_orderkey % 97 = 0 AND o_orderstatus = 'P'
    )
    SELECT o_orderstatus, count(*) AS n_orders,
           {_PRICE_SUM_SQL.format(col="px")}
    FROM merged GROUP BY o_orderstatus
    """,
)
def delta_merge_upsert_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Read back the MERGE INTO (upsert) fixture: update every 97th
    'P'-status order to doubled price, insert the same rows as new
    'N'-status orders. The mutation happens ONCE in the locked fixture
    build (the merge is idempotent — its source derives from the raw
    parquet), so this call is a pure snapshot read and the benched
    number measures the read path; the one-time commit cost lives in
    ``BENCH_delta_merge.json``. Value parity vs the oracle's relational
    recomputation proves the merge rewrote exactly the matched rows."""
    df = read_delta(spark, _orders_merged_delta(spark, sf))
    return df.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        _price_sum(),
    )


def _orders_dv_delta(spark: SparkSession, sf: str) -> str:
    """Deletion-vector fixture: one-commit orders table, then every 13th
    order tombstoned via ``delete_rows_dv`` — per-file Roaring bitmaps,
    NO file rewrite (the protocol's delete-at-scale path). Built once
    under the fixture lock; the gated query is a pure DV-filtered read."""

    def build(tmp: str) -> None:
        orders = _t(spark, sf, "orders")
        write_delta(orders, tmp, partition_by=["o_orderstatus"])
        delete_rows_dv(spark, tmp, "o_orderkey % 13 = 0")

    return _fixture(spark, sf, "orders_dv", build)


@q(
    "delta_deletion_vectors",
    f"""
    SELECT o_orderstatus, count(*) AS n_orders,
           {_PRICE_SUM_SQL.format(col="o_totalprice")}
    FROM orders WHERE o_orderkey % 13 <> 0
    GROUP BY o_orderstatus
    """,
)
def delta_deletion_vectors(spark: SparkSession, sf: str) -> DataFrame:
    """Read a deletion-vector-bearing snapshot (reader protocol v3):
    per-file bitmaps resolved from the log, deleted physical positions
    dropped via the ``_metadata.row_index`` anti-join. Value parity vs
    the oracle's relational WHERE proves the bitmaps tombstone exactly
    the matched rows — a mis-decoded bitmap or row-index misalignment
    shows up as a value mismatch."""
    df = read_delta(spark, _orders_dv_delta(spark, sf))
    return df.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        _price_sum(),
    )


def _orders_update_dv_delta(spark: SparkSession, sf: str) -> str:
    """DV-UPDATE fixture: one-commit orders table, then every 17th
    order's price is doubled via ``update_rows_dv`` — tombstone + re-add
    in one commit, no unmatched file rewritten. Built once under the
    fixture lock; the gated query is a pure DV-filtered read."""

    def build(tmp: str) -> None:
        orders = _t(spark, sf, "orders")
        write_delta(orders, tmp, partition_by=["o_orderstatus"])
        update_rows_dv(
            spark,
            tmp,
            "o_orderkey % 17 = 0",
            {"o_totalprice": "o_totalprice * 2"},
        )

    return _fixture(spark, sf, "orders_update_dv", build)


@q(
    "delta_update_dv",
    f"""
    SELECT o_orderstatus, count(*) AS n_orders,
           {_PRICE_SUM_SQL.format(
               col="CASE WHEN o_orderkey % 17 = 0 THEN o_totalprice * 2 "
                   "ELSE o_totalprice END"
           )}
    FROM orders GROUP BY o_orderstatus
    """,
)
def delta_update_dv(spark: SparkSession, sf: str) -> DataFrame:
    """Read back a deletion-vector UPDATE: matched rows tombstoned,
    updated versions appended in the same commit. Value parity vs the
    oracle's CASE recomputation proves the bitmaps hid exactly the old
    versions and the re-added rows carry the updated values — a
    double-serve (old+new) or an over-delete shows up as a count or sum
    mismatch."""
    df = read_delta(spark, _orders_update_dv_delta(spark, sf))
    return df.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        _price_sum(),
    )


def _orders_cdf_delta(spark: SparkSession, sf: str) -> str:
    """Change-data-feed fixture: CDF-enabled orders table, then one
    UPDATE (every 19th order's price +5%) and one DELETE (every 23rd
    order with non-zero key mod 19 — disjoint from the update) — both
    DV-path mutations staging cdc files. Built once under the fixture
    lock; the gated query reads the FEED, not the table."""

    def build(tmp: str) -> None:
        orders = _t(spark, sf, "orders")
        write_delta(
            orders,
            tmp,
            partition_by=["o_orderstatus"],
            configuration={"delta.enableChangeDataFeed": "true"},
        )
        update_rows_dv(
            spark,
            tmp,
            "o_orderkey % 19 = 0",
            {"o_totalprice": "o_totalprice * 1.05"},
        )
        delete_rows_dv(
            spark, tmp, "o_orderkey % 23 = 0 AND o_orderkey % 19 != 0"
        )

    return _fixture(spark, sf, "orders_cdf", build)


@q(
    "delta_cdf_changes",
    """
    WITH changes AS (
        SELECT 1 AS commit_v, 'update_preimage' AS change, o_orderkey,
               o_totalprice FROM orders WHERE o_orderkey % 19 = 0
        UNION ALL
        SELECT 1, 'update_postimage', o_orderkey, o_totalprice * 1.05
        FROM orders WHERE o_orderkey % 19 = 0
        UNION ALL
        SELECT 2, 'delete', o_orderkey, o_totalprice
        FROM orders WHERE o_orderkey % 23 = 0 AND o_orderkey % 19 <> 0
    )
    SELECT commit_v, change, count(*) AS n_rows,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
               AS total_price
    FROM changes GROUP BY commit_v, change
    """,
)
def delta_cdf_changes(spark: SparkSession, sf: str) -> DataFrame:
    """Read the CHANGE FEED of a mutated table: per (commit, change
    type), row counts and price sums of the cdc rows. Parity vs the
    oracle's relational recomputation proves the staged cdc files carry
    exactly the pre/post images and deletes the mutations produced —
    a missing image, a double-serve, or a leaked unmatched row shifts a
    count or a sum."""
    cdf = read_delta_cdf(spark, _orders_cdf_delta(spark, sf), 0)
    return cdf.groupBy(
        F.col("_commit_version").alias("commit_v"),
        F.col("_change_type").alias("change"),
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .cast("double")
        .alias("total_price"),
    )


def _orders_cm_delta(spark: SparkSession, sf: str) -> str:
    """Column-mapping fixture: a FOREIGN-style table whose parquet files
    and partition dirs carry physical ``col-N`` names, with the log's
    schemaString mapping them to the logical orders columns
    (``delta.columnMapping.mode=name``, reader protocol v2 — the layout
    delta-spark produces). Built by hand because this engine refuses to
    WRITE CM tables; reading it proves the logical→physical translation
    on schema, partition values and filters."""

    def build(tmp: str) -> None:
        import json as _json
        import time as _time

        orders = _t(spark, sf, "orders")
        logical = orders.schema
        phys_names = {
            f.name: f"col-{i + 1}" for i, f in enumerate(logical.fields)
        }
        phys_df = orders.select(
            *[F.col(n).alias(phys_names[n]) for n in orders.columns]
        )
        os.makedirs(tmp, exist_ok=True)
        data_dir = os.path.join(tmp, "data")
        spark.conf.set(
            "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
        )
        phys_df.write.partitionBy(phys_names["o_orderstatus"]).parquet(
            data_dir, mode="overwrite"
        )
        fields = []
        for i, f in enumerate(logical.fields):
            fields.append(
                {
                    "name": f.name,
                    "type": f.dataType.jsonValue(),
                    "nullable": f.nullable,
                    "metadata": {
                        "delta.columnMapping.id": i + 1,
                        "delta.columnMapping.physicalName": phys_names[
                            f.name
                        ],
                    },
                }
            )
        actions = [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            {
                "metaData": {
                    "id": "cm-fixture",
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": _json.dumps(
                        {"type": "struct", "fields": fields}
                    ),
                    "partitionColumns": ["o_orderstatus"],
                    "configuration": {"delta.columnMapping.mode": "name"},
                    "createdTime": int(_time.time() * 1000),
                }
            },
        ]
        from pydatalake_spark.sources.delta import _write_commit

        for root, _dirs, names in os.walk(data_dir):
            for n in sorted(names):
                if not n.endswith(".parquet") or n.startswith(("_", ".")):
                    continue
                full = os.path.join(root, n)
                rel = os.path.relpath(full, tmp).replace(os.sep, "/")
                pvals = {}
                for comp in rel.split("/")[:-1]:
                    if "=" in comp:
                        k, _, v = comp.partition("=")
                        pvals[k] = v
                actions.append(
                    {
                        "add": {
                            "path": rel,
                            "partitionValues": pvals,  # PHYSICAL keys
                            "size": os.path.getsize(full),
                            "modificationTime": 0,
                            "dataChange": True,
                            "stats": None,
                        }
                    }
                )
        _write_commit(tmp, 0, actions)

    return _fixture(spark, sf, "orders_cm", build)


@q(
    "delta_column_mapping",
    f"""
    SELECT count(*) AS n_orders,
           {_PRICE_SUM_SQL.format(col="o_totalprice")},
           count(DISTINCT o_custkey) AS n_custs
    FROM orders WHERE o_orderstatus = 'F'
    """,
)
def delta_column_mapping(spark: SparkSession, sf: str) -> DataFrame:
    """Read a columnMapping (mode=name) table with a LOGICAL-name
    partition filter: the engine translates it to the physical
    partitionValues keys, scans the physical schema, and projects back —
    value parity vs the raw-parquet WHERE proves both translations."""
    df = read_delta(
        spark,
        _orders_cm_delta(spark, sf),
        partition_filters=[("o_orderstatus", "=", "F")],
    )
    return df.agg(
        F.count(F.lit(1)).alias("n_orders"),
        _price_sum(),
        F.countDistinct("o_custkey").alias("n_custs"),
    )


@q(
    "delta_stats_skip",
    f"""
    SELECT count(*) AS n_orders,
           {_PRICE_SUM_SQL.format(col="o_totalprice")},
           count(DISTINCT o_custkey) AS n_custs
    FROM orders WHERE o_orderdate < TIMESTAMP '{_CUT}'
    """,
)
def delta_stats_skip(spark: SparkSession, sf: str) -> DataFrame:
    """Stats-based file skipping on the LATEST snapshot: the fixture's
    v1 files hold only orders at/after the cut, so a ``data_filters``
    predicate below it is refuted by every v1 file's per-file
    minValues.o_orderdate and those files never reach the scan — the
    aggregate must still equal the raw-parquet WHERE (files are pruned
    by PROOF, rows re-filtered exactly)."""
    import datetime as _dt

    df = read_delta(
        spark,
        _orders_delta(spark, sf),
        data_filters=[("o_orderdate", "<", _dt.datetime(1998, 1, 1))],
    )
    return df.agg(
        F.count(F.lit(1)).alias("n_orders"),
        _price_sum(),
        F.countDistinct("o_custkey").alias("n_custs"),
    )


@q(
    "delta_partition_prune",
    f"""
    SELECT count(*) AS n_orders,
           {_PRICE_SUM_SQL.format(col="o_totalprice")}
    FROM orders WHERE o_orderstatus = 'F'
    """,
)
def delta_partition_prune(spark: SparkSession, sf: str) -> DataFrame:
    """Log-level partition pruning: the file list is filtered on the
    log's partitionValues BEFORE any parquet footer is opened (the
    100-TB point of the format); value parity vs the raw-parquet WHERE
    proves pruning dropped exactly the right files."""
    df = read_delta(
        spark,
        _orders_delta(spark, sf),
        partition_filters=[("o_orderstatus", "=", "F")],
    )
    return df.agg(
        F.count(F.lit(1)).alias("n_orders"),
        _price_sum(),
    )
