"""Native Delta Lake protocol: log round-trip, time travel, checkpoints,
partition pruning, concurrency, vacuum, and the TimeFly bridge.

All behavior is pinned against the PUBLIC Delta protocol spec
(delta-io PROTOCOL.md) — no delta-spark involved (not installable here).
"""

from __future__ import annotations

import json
import os
import threading

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from pydatalake_spark.sources import delta as dl
from tests.conftest import jobs_in


def _mkdf(spark, rows):
    return spark.createDataFrame(
        [Row(k=int(k), part=str(p), v=float(v)) for k, p, v in rows]
    ).select("k", "part", "v")


@pytest.fixture()
def table(tmpdir_path):
    return os.path.join(tmpdir_path, "tbl")


def _collect(df):
    return sorted((r.k, r.part, r.v) for r in df.collect())


# ---------------------------------------------------------------------------
# basic round-trip + modes
# ---------------------------------------------------------------------------


def test_create_append_roundtrip(spark, table):
    v0 = dl.write_delta(_mkdf(spark, [(1, "a", 1.0), (2, "b", 2.0)]), table)
    assert v0 == 0
    v1 = dl.write_delta(_mkdf(spark, [(3, "a", 3.0)]), table, mode="append")
    assert v1 == 1
    got = _collect(dl.read_delta(spark, table))
    assert got == [(1, "a", 1.0), (2, "b", 2.0), (3, "a", 3.0)]
    # the log is spec-shaped newline-JSON with protocol+metaData at v0
    with open(dl._commit_path(table, 0)) as f:
        actions = [json.loads(x) for x in f if x.strip()]
    kinds = {next(iter(a)) for a in actions}
    assert {"commitInfo", "protocol", "metaData", "add"} <= kinds


def test_overwrite_removes_previous_files(spark, table):
    dl.write_delta(_mkdf(spark, [(1, "a", 1.0)]), table)
    dl.write_delta(
        _mkdf(spark, [(9, "z", 9.0)]), table, mode="overwrite"
    )
    assert _collect(dl.read_delta(spark, table)) == [(9, "z", 9.0)]
    snap = dl.snapshot(table)
    assert snap.version == 1 and len(snap.files) >= 1
    # v1 carries remove actions for every v0 file
    with open(dl._commit_path(table, 1)) as f:
        removes = [
            json.loads(x)["remove"]
            for x in f
            if x.strip() and '"remove"' in x
        ]
    assert removes and all(r["dataChange"] for r in removes)


def test_mode_error_and_ignore(spark, table):
    df = _mkdf(spark, [(1, "a", 1.0)])
    dl.write_delta(df, table)
    with pytest.raises(FileExistsError):
        dl.write_delta(df, table, mode="error")
    assert dl.write_delta(df, table, mode="ignore") == 0


def test_append_schema_mismatch_raises(spark, table):
    dl.write_delta(_mkdf(spark, [(1, "a", 1.0)]), table)
    other = spark.createDataFrame([Row(k=1, extra="x")])
    with pytest.raises(ValueError, match="schema mismatch"):
        dl.write_delta(other, table, mode="append")
    # overwrite without overwrite_schema also refuses; with it, evolves
    with pytest.raises(ValueError, match="overwrite_schema"):
        dl.write_delta(other, table, mode="overwrite")
    dl.write_delta(other, table, mode="overwrite", overwrite_schema=True)
    assert dl.read_delta(spark, table).columns == ["k", "extra"]


def test_append_only_table_refuses_overwrite(spark, table):
    dl.write_delta(
        _mkdf(spark, [(1, "a", 1.0)]),
        table,
        configuration={"delta.appendOnly": "true"},
    )
    with pytest.raises(dl.DeltaProtocolError, match="appendOnly"):
        dl.write_delta(
            _mkdf(spark, [(2, "b", 2.0)]), table, mode="overwrite"
        )


# ---------------------------------------------------------------------------
# partitioning
# ---------------------------------------------------------------------------


def test_partitioned_write_layout_and_read(spark, table):
    dl.write_delta(
        _mkdf(spark, [(1, "a", 1.0), (2, "b", 2.0), (3, "a", 3.0)]),
        table,
        partition_by=["part"],
    )
    snap = dl.snapshot(table)
    assert snap.partition_columns == ["part"]
    # hive layout on disk, partitionValues in the log, partition col NOT
    # in the data files (the protocol's storage model)
    for rel, add in snap.files.items():
        assert rel.startswith("part=")
        assert add["partitionValues"]["part"] in ("a", "b")
        import pyarrow.parquet as pq

        names = pq.ParquetFile(
            os.path.join(table, rel)
        ).schema_arrow.names
        assert "part" not in names
    got = _collect(dl.read_delta(spark, table))
    assert got == [(1, "a", 1.0), (2, "b", 2.0), (3, "a", 3.0)]


def test_partition_pruning_skips_files_before_scan(spark, table):
    dl.write_delta(
        _mkdf(spark, [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)]),
        table,
        partition_by=["part"],
    )
    snap = dl.snapshot(table)
    pruned = dl._prune_files(snap, [("part", "in", ("a", "c"))])
    assert 0 < len(pruned) < len(snap.files)
    assert all(
        a["partitionValues"]["part"] in ("a", "c") for a in pruned.values()
    )
    got = _collect(
        dl.read_delta(
            spark, table, partition_filters=[("part", "in", ("a", "c"))]
        )
    )
    assert got == [(1, "a", 1.0), (3, "c", 3.0)]
    with pytest.raises(ValueError, match="not a partition column"):
        dl.read_delta(spark, table, partition_filters=[("v", "=", 1.0)])


def test_numeric_partition_pruning_is_typed(spark, table):
    df = spark.createDataFrame(
        [Row(k=i, bucket=i % 12) for i in range(24)]
    )
    dl.write_delta(df, table, partition_by=["bucket"])
    got = dl.read_delta(
        spark, table, partition_filters=[("bucket", ">=", 10)]
    )
    assert sorted(r.bucket for r in got.select("bucket").distinct().collect()) == [10, 11]


def test_foreign_non_hive_layout_falls_back_to_log_values(spark, table):
    """A conformant table whose data files are NOT in key=value dirs
    (allowed by the protocol — partitionValues is authoritative) must
    still read correctly."""
    dl.write_delta(
        _mkdf(spark, [(1, "a", 1.0), (2, "b", 2.0)]),
        table,
        partition_by=["part"],
    )
    snap = dl.snapshot(table)
    # flatten: move files out of hive dirs and rewrite the log's paths
    actions = []
    for i, (rel, add) in enumerate(sorted(snap.files.items())):
        flat = f"flat-{i}.parquet"
        os.replace(os.path.join(table, rel), os.path.join(table, flat))
        add = dict(add, path=flat)
        actions.append({"add": add})
        actions.append(
            {
                "remove": {
                    "path": rel,
                    "deletionTimestamp": 0,
                    "dataChange": False,
                }
            }
        )
    dl._write_commit(table, snap.version + 1, actions)
    got = _collect(dl.read_delta(spark, table))
    assert got == [(1, "a", 1.0), (2, "b", 2.0)]
    got = _collect(
        dl.read_delta(spark, table, partition_filters=[("part", "=", "b")])
    )
    assert got == [(2, "b", 2.0)]


def test_snapshot_scan_fires_no_listing_job(spark, table):
    # more log-listed files than Spark's parallel-listing threshold (32):
    # the scan must take its file statuses on the driver, not in a job
    # with one task per file
    rows = [(k, "ab"[k % 2], float(k)) for k in range(48)]
    dl.write_delta(
        _mkdf(spark, rows), table, partition_by=["part"],
        max_records_per_file=1,
    )
    assert len(dl.snapshot(table).files) >= 40
    key = dl._LISTING_THRESHOLD
    caller = spark.conf.get(key, None)
    try:
        spark.conf.unset(key)
        df, n = jobs_in(
            spark, "scan-unset", lambda: dl.read_delta(spark, table)
        )
        assert n == 0
        assert spark.conf.get(key, None) is None
        assert _collect(df) == sorted(rows)

        spark.conf.set(key, "7")
        df, n = jobs_in(
            spark, "scan-set", lambda: dl.read_delta(spark, table)
        )
        assert n == 0
        assert spark.conf.get(key, None) == "7"

        (_, deleted), n = jobs_in(
            spark,
            "delete-dv",
            lambda: dl.delete_rows_dv(spark, table, "k < 5"),
        )
        assert n == 1
        assert deleted == 5
        assert spark.conf.get(key, None) == "7"
        assert _collect(dl.read_delta(spark, table)) == sorted(rows)[5:]
    finally:
        if caller is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, caller)


# ---------------------------------------------------------------------------
# time travel
# ---------------------------------------------------------------------------


def test_time_travel_by_version(spark, table):
    dl.write_delta(_mkdf(spark, [(1, "a", 1.0)]), table)
    dl.write_delta(_mkdf(spark, [(2, "b", 2.0)]), table, mode="append")
    dl.write_delta(_mkdf(spark, [(9, "z", 9.0)]), table, mode="overwrite")
    assert _collect(dl.read_delta(spark, table, version=0)) == [
        (1, "a", 1.0)
    ]
    assert _collect(dl.read_delta(spark, table, version=1)) == [
        (1, "a", 1.0),
        (2, "b", 2.0),
    ]
    assert _collect(dl.read_delta(spark, table)) == [(9, "z", 9.0)]
    with pytest.raises(ValueError, match="out of range"):
        dl.read_delta(spark, table, version=7)


def test_time_travel_by_timestamp_latest_at_or_before(spark, table):
    dl.write_delta(_mkdf(spark, [(1, "a", 1.0)]), table)
    t0 = dl._commit_timestamp(table, 0)
    dl.write_delta(_mkdf(spark, [(2, "b", 2.0)]), table, mode="append")
    # pin distinct commit times without sleeping: commitInfo.timestamp is
    # authoritative (preferred over mtime), so rewrite it in place
    p1 = dl._commit_path(table, 1)
    with open(p1) as f:
        lines = f.readlines()
    first = json.loads(lines[0])
    first["commitInfo"]["timestamp"] = int((t0 + 100) * 1000)
    lines[0] = json.dumps(first) + "\n"
    with open(p1, "w") as f:
        f.writelines(lines)
    assert (
        dl.resolve_timestamp(table, t0 + 50) == 0
        and dl.resolve_timestamp(table, t0 + 100) == 1
    )
    assert _collect(
        dl.read_delta(spark, table, timestamp=t0 + 50)
    ) == [(1, "a", 1.0)]
    with pytest.raises(ValueError, match="no commit at or before"):
        dl.resolve_timestamp(table, t0 - 10)
    with pytest.raises(ValueError, match="not both"):
        dl.read_delta(spark, table, version=0, timestamp=t0)


def test_commit_info_timestamp_preferred_over_mtime(spark, table):
    dl.write_delta(_mkdf(spark, [(1, "a", 1.0)]), table)
    with open(dl._commit_path(table, 0)) as f:
        first = json.loads(f.readline())
    assert abs(
        first["commitInfo"]["timestamp"] / 1000.0
        - dl._commit_timestamp(table, 0)
    ) < 1e-6


# ---------------------------------------------------------------------------
# checkpoints
# ---------------------------------------------------------------------------


def test_checkpoint_roundtrip(spark, table):
    for i in range(4):
        dl.write_delta(
            _mkdf(spark, [(i, "a", float(i))]),
            table,
            mode="append" if i else "error",
            partition_by=["part"] if i == 0 else None,
            checkpoint_interval=2,
        )
    # checkpoints exist at v2 (interval=2) and the pointer tracks one
    ptr = dl._read_last_checkpoint(table)
    assert ptr is not None and ptr["version"] in (2,)
    assert os.path.isfile(dl._checkpoint_path(table, ptr["version"]))
    # replay THROUGH the checkpoint equals pure-JSON replay
    snap_cp = dl.snapshot(table)
    os.unlink(os.path.join(dl._log_dir(table), dl.LAST_CHECKPOINT))
    snap_json = dl.snapshot(table)
    assert snap_cp.version == snap_json.version == 3
    assert set(snap_cp.files) == set(snap_json.files)
    assert snap_cp.partition_columns == snap_json.partition_columns
    assert (
        snap_cp.schema.jsonValue() == snap_json.schema.jsonValue()
    )


def test_checkpoint_survives_commit_file_loss(spark, table):
    """The at-scale contract: a snapshot needs only the checkpoint plus
    commits after it — earlier JSON can be log-retention-cleaned."""
    for i in range(3):
        dl.write_delta(
            _mkdf(spark, [(i, "a", float(i))]),
            table,
            mode="append" if i else "error",
            checkpoint_interval=2,
        )
    os.unlink(dl._commit_path(table, 0))
    os.unlink(dl._commit_path(table, 1))
    got = _collect(dl.read_delta(spark, table))
    assert [g[0] for g in got] == [0, 1, 2]


def test_corrupt_last_checkpoint_falls_back(spark, table):
    dl.write_delta(_mkdf(spark, [(1, "a", 1.0)]), table)
    with open(
        os.path.join(dl._log_dir(table), dl.LAST_CHECKPOINT), "w"
    ) as f:
        f.write("{not json")
    assert _collect(dl.read_delta(spark, table)) == [(1, "a", 1.0)]


# ---------------------------------------------------------------------------
# concurrency
# ---------------------------------------------------------------------------


def test_put_if_absent_conflict(spark, table):
    dl.write_delta(_mkdf(spark, [(1, "a", 1.0)]), table)
    # a competing writer claims version 1 first
    dl._write_commit(table, 1, [{"commitInfo": {"timestamp": 0}}])
    with pytest.raises(dl.DeltaConcurrentCommit):
        dl.write_delta(
            _mkdf(spark, [(2, "b", 2.0)]),
            table,
            mode="append",
            _assume_version=1,
        )
    # the loser's data files were rolled back — log state still readable
    assert _collect(dl.read_delta(spark, table)) == [(1, "a", 1.0)]


def test_append_with_retry_interleaved(spark, table):
    dl.write_delta(_mkdf(spark, [(0, "a", 0.0)]), table)
    versions, errs = [], []

    def appender(k):
        try:
            versions.append(
                dl.append_with_retry(
                    _mkdf(spark, [(k, "b", float(k))]), table
                )
            )
        except Exception as e:  # pragma: no cover - diagnostic
            errs.append(e)

    ts = [threading.Thread(target=appender, args=(k,)) for k in (1, 2, 3)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs and sorted(versions) == [1, 2, 3]
    got = _collect(dl.read_delta(spark, table))
    assert [g[0] for g in got] == [0, 1, 2, 3]


# ---------------------------------------------------------------------------
# protocol guards / vacuum / history
# ---------------------------------------------------------------------------


def test_unsupported_protocol_features_raise(spark, table):
    """Reader v3 is accepted since r12 when its features are implemented
    (deletionVectors); an UNKNOWN v3 feature still refuses loudly, and
    v4+ always refuses."""
    dl.write_delta(_mkdf(spark, [(1, "a", 1.0)]), table)
    dl._write_commit(
        table,
        1,
        [
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["deletionVectors", "v2Checkpoint"],
                }
            }
        ],
    )
    with pytest.raises(dl.DeltaProtocolError, match="v2Checkpoint"):
        dl.read_delta(spark, table)
    # version 0 (before the upgrade) still reads
    assert _collect(dl.read_delta(spark, table, version=0)) == [
        (1, "a", 1.0)
    ]


def test_reader_v3_with_deletion_vectors_feature_reads(spark, table):
    dl.write_delta(_mkdf(spark, [(1, "a", 1.0)]), table)
    dl._write_commit(
        table, 1, [{"protocol": dict(dl.DV_PROTOCOL)}]
    )
    assert _collect(dl.read_delta(spark, table)) == [(1, "a", 1.0)]


def test_reader_v4_refuses(spark, table):
    dl.write_delta(_mkdf(spark, [(1, "a", 1.0)]), table)
    dl._write_commit(
        table,
        1,
        [{"protocol": {"minReaderVersion": 4, "minWriterVersion": 7}}],
    )
    with pytest.raises(dl.DeltaProtocolError, match="minReaderVersion"):
        dl.read_delta(spark, table)


def test_creating_column_mapping_table_refuses(spark, table):
    """Since r12 columnMapping tables READ (see test_column_mapping_*);
    CREATING one still refuses — this engine doesn't mint physicalName
    metadata, and a half-conformant table would break foreign readers."""
    with pytest.raises(dl.DeltaProtocolError, match="columnMapping"):
        dl.write_delta(
            _mkdf(spark, [(1, "a", 1.0)]),
            table,
            configuration={"delta.columnMapping.mode": "name"},
        )


def _make_column_mapped_table(spark, table, partitioned=True):
    """Hand-build a foreign-style columnMapping table: parquet files and
    partition dirs carry PHYSICAL names (col-xxxx), the log schema maps
    them to logical names via field metadata — the layout delta-spark
    produces with delta.columnMapping.mode=name."""
    import json as _json
    import time as _time

    phys = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "a", 3.0)],
        "`col-k1` long, `col-p1` string, `col-v1` double",
    )
    os.makedirs(table, exist_ok=True)
    if partitioned:
        phys.write.partitionBy("col-p1").parquet(
            os.path.join(table, "data"), mode="overwrite"
        )
    else:
        phys.write.parquet(os.path.join(table, "data"), mode="overwrite")
    schema = {
        "type": "struct",
        "fields": [
            {
                "name": "k",
                "type": "long",
                "nullable": True,
                "metadata": {
                    "delta.columnMapping.id": 1,
                    "delta.columnMapping.physicalName": "col-k1",
                },
            },
            {
                "name": "part",
                "type": "string",
                "nullable": True,
                "metadata": {
                    "delta.columnMapping.id": 2,
                    "delta.columnMapping.physicalName": "col-p1",
                },
            },
            {
                "name": "v",
                "type": "double",
                "nullable": True,
                "metadata": {
                    "delta.columnMapping.id": 3,
                    "delta.columnMapping.physicalName": "col-v1",
                },
            },
        ],
    }
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {
            "metaData": {
                "id": "cm-test",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": _json.dumps(schema),
                "partitionColumns": ["part"] if partitioned else [],
                "configuration": {"delta.columnMapping.mode": "name"},
                "createdTime": int(_time.time() * 1000),
            }
        },
    ]
    for root, _dirs, names in os.walk(os.path.join(table, "data")):
        for n in sorted(names):
            if not n.endswith(".parquet"):
                continue
            full = os.path.join(root, n)
            rel = os.path.relpath(full, table).replace(os.sep, "/")
            pvals = {}
            for comp in rel.split("/")[:-1]:
                if "=" in comp:
                    k, _, v = comp.partition("=")
                    pvals[k] = v
            stats = {"numRecords": 1, "minValues": {}, "maxValues": {},
                     "nullCount": {}}
            actions.append(
                {
                    "add": {
                        "path": rel,
                        "partitionValues": pvals,  # PHYSICAL keys
                        "size": os.path.getsize(full),
                        "modificationTime": 0,
                        "dataChange": True,
                        "stats": _json.dumps(stats),
                    }
                }
            )
    dl._write_commit(table, 0, actions)


def test_column_mapping_read_logical_names(spark, table):
    _make_column_mapped_table(spark, table)
    df = dl.read_delta(spark, table)
    assert sorted(df.columns) == ["k", "part", "v"]
    assert _collect(df) == [(1, "a", 1.0), (2, "b", 2.0), (3, "a", 3.0)]


def test_column_mapping_partition_filter_logical(spark, table):
    _make_column_mapped_table(spark, table)
    df = dl.read_delta(spark, table, partition_filters=[("part", "=", "a")])
    assert _collect(df) == [(1, "a", 1.0), (3, "a", 3.0)]


def test_column_mapping_flat_layout(spark, table):
    _make_column_mapped_table(spark, table, partitioned=False)
    df = dl.read_delta(spark, table)
    assert _collect(df) == [(1, "a", 1.0), (2, "b", 2.0), (3, "a", 3.0)]


def test_column_mapping_append_and_overwrite(spark, table):
    """Appends/overwrites to a columnMapping table stage under PHYSICAL
    names (files, hive dirs, partitionValues keys, stats keys) while the
    caller's DataFrame stays logical — full write interop with
    delta-spark's modern default tables."""
    import json as _json

    _make_column_mapped_table(spark, table)
    dl.write_delta(_mkdf(spark, [(9, "z", 9.0)]), table, mode="append")
    assert _collect(dl.read_delta(spark, table)) == [
        (1, "a", 1.0), (2, "b", 2.0), (3, "a", 3.0), (9, "z", 9.0),
    ]
    snap = dl.snapshot(table)
    new_adds = [
        a
        for rel, a in snap.files.items()
        if "col-p1=" in rel and not rel.startswith("data/")
    ]
    assert new_adds  # staged under the PHYSICAL hive dir name
    assert all(
        set(a["partitionValues"]) == {"col-p1"} for a in new_adds
    )
    # stats keyed physically -> data_filters skipping works via the
    # logical name translation
    stats = _json.loads(new_adds[0]["stats"])
    assert "col-k1" in stats["minValues"]
    df = dl.read_delta(spark, table, data_filters=[("k", ">=", 9)])
    assert _collect(df) == [(9, "z", 9.0)]
    # partition filter on the logical name sees old AND new files
    df2 = dl.read_delta(
        spark, table, partition_filters=[("part", "=", "z")]
    )
    assert _collect(df2) == [(9, "z", 9.0)]
    # overwrite replaces everything, still physically named
    dl.write_delta(
        _mkdf(spark, [(7, "q", 7.0)]), table, mode="overwrite"
    )
    assert _collect(dl.read_delta(spark, table)) == [(7, "q", 7.0)]


def test_column_mapping_unsupported_writes_refuse(spark, table):
    _make_column_mapped_table(spark, table)
    with pytest.raises(dl.DeltaProtocolError, match="columnMapping|evolution"):
        dl.write_delta(
            _mkdf(spark, [(9, "z", 9.0)]).withColumn(
                "extra", F.lit(1)
            ),
            table,
            mode="append",
            merge_schema=True,
        )
    with pytest.raises(dl.DeltaProtocolError, match="configuration"):
        dl.write_delta(
            _mkdf(spark, [(9, "z", 9.0)]),
            table,
            mode="overwrite",
            configuration={"foo": "bar"},
        )
    with pytest.raises(dl.DeltaProtocolError, match="columnMapping"):
        dl.delete_rows_dv(spark, table, "k = 1")
    with pytest.raises(dl.DeltaProtocolError, match="columnMapping"):
        dl.read_delta_changes(spark, table, from_version=0)
    with pytest.raises(dl.DeltaProtocolError, match="columnMapping"):
        dl.merge_delta(
            spark, table, _mkdf(spark, [(1, "a", 5.0)]), on=["k"]
        )


def test_vacuum_deletes_only_expired_unreferenced(spark, table):
    dl.write_delta(_mkdf(spark, [(1, "a", 1.0)]), table)
    dl.write_delta(_mkdf(spark, [(2, "b", 2.0)]), table, mode="overwrite")
    # v0's files are unreferenced at HEAD but inside retention → kept
    assert dl.vacuum_delta(table, retention_hours=168) == []
    assert _collect(dl.read_delta(spark, table, version=0)) == [
        (1, "a", 1.0)
    ]
    # expire them → vacuumed, HEAD unaffected, dry_run only reports
    dry = dl.vacuum_delta(table, retention_hours=0, dry_run=True)
    assert dry
    gone = dl.vacuum_delta(table, retention_hours=0)
    assert gone == dry
    assert _collect(dl.read_delta(spark, table)) == [(2, "b", 2.0)]


def test_history(spark, table):
    dl.write_delta(_mkdf(spark, [(1, "a", 1.0)]), table)
    dl.write_delta(
        _mkdf(spark, [(2, "b", 2.0)]),
        table,
        mode="append",
        user_metadata={"job": "j1"},
    )
    hist = dl.delta_history(table)
    assert [h["version"] for h in hist] == [0, 1]
    assert hist[0]["operation"] == "WRITE"
    assert hist[1]["operation"] == "APPEND"
    assert hist[1]["userMetadata"] == {"job": "j1"}


# ---------------------------------------------------------------------------
# TimeFly bridge
# ---------------------------------------------------------------------------


def test_export_timefly_to_delta(spark, tmpdir_path):
    import datetime as dt

    from pydatalake_spark.dataset.timefly import TimeFly

    base = os.path.join(tmpdir_path, "tf")
    tf = TimeFly(spark, base).init("t")
    df1 = spark.range(3).withColumn("v", F.col("id") * 2)
    tf.write(df1, mode="overwrite")
    s1 = tf.add_snapshot(now=dt.datetime(2030, 1, 1, 0, 0, 0))
    df2 = spark.range(3, 5).withColumn("v", F.col("id") * 2)
    tf.write(df2, mode="append")
    s2 = tf.add_snapshot(now=dt.datetime(2030, 1, 1, 0, 0, 1))

    dest = os.path.join(tmpdir_path, "delta")
    versions = dl.export_timefly_to_delta(tf, dest)
    assert versions == [0, 1]
    hist = dl.delta_history(dest)
    assert [h["userMetadata"]["timefly_snapshot"] for h in hist] == [s1, s2]
    assert dl.read_delta(spark, dest, version=0).count() == 3
    assert dl.read_delta(spark, dest, version=1).count() == 5


# ---------------------------------------------------------------------------
# txn watermark / streaming sink / dataset dispatch
# ---------------------------------------------------------------------------


def test_idempotent_append_skips_redelivery(spark, table):
    a = _mkdf(spark, [(1, "a", 1.0)])
    b = _mkdf(spark, [(2, "b", 2.0)])
    assert dl.idempotent_append(a, table, app_id="job", version=0) == 0
    assert dl.idempotent_append(b, table, app_id="job", version=1) == 1
    # redelivery of batch 1 (and an older batch) is a no-op
    assert dl.idempotent_append(b, table, app_id="job", version=1) is None
    assert dl.idempotent_append(a, table, app_id="job", version=0) is None
    got = _collect(dl.read_delta(spark, table))
    assert [g[0] for g in got] == [1, 2]
    # a DIFFERENT app's version counter is independent
    assert dl.idempotent_append(
        _mkdf(spark, [(3, "c", 3.0)]), table, app_id="other", version=0
    ) == 2
    assert dl.snapshot(table).txns == {"job": 1, "other": 0}


def test_txn_watermark_survives_checkpoint(spark, table):
    dl.idempotent_append(
        _mkdf(spark, [(1, "a", 1.0)]), table, app_id="job", version=7
    )
    dl.write_checkpoint(table)
    # drop the JSON commit: state must come from the checkpoint alone
    os.unlink(dl._commit_path(table, 0))
    snap = dl.snapshot(table)
    assert snap.txns == {"job": 7}
    assert (
        dl.idempotent_append(
            _mkdf(spark, [(9, "z", 9.0)]), table, app_id="job", version=7
        )
        is None
    )


def test_delta_stream_sink_foreachbatch_contract(spark, table):
    sink = dl.delta_stream_sink(table, app_id="streamq")
    sink(_mkdf(spark, [(1, "a", 1.0)]), 0)
    sink(_mkdf(spark, [(2, "b", 2.0)]), 1)
    sink(_mkdf(spark, [(2, "b", 2.0)]), 1)  # restart redelivery
    got = _collect(dl.read_delta(spark, table))
    assert [g[0] for g in got] == [1, 2]


def test_write_dataset_delta_fmt_dispatch(spark, table):
    from pydatalake_spark.dataset.writer import write_dataset
    from pydatalake_spark.sources.read import read_dataset

    df = _mkdf(spark, [(1, "a", 1.0), (2, "b", 2.0)])
    write_dataset(df, table, mode="append", fmt="delta", partition_by="part")
    assert dl.is_delta_table(table)
    with pytest.raises(FileExistsError):
        write_dataset(df, table, mode="raise", fmt="delta")
    # mode='delta' anti-diffs against the CURRENT snapshot: overlapping
    # batch adds only the new row
    batch = _mkdf(spark, [(2, "b", 2.0), (3, "c", 3.0)])
    write_dataset(batch, table, mode="delta", fmt="delta")
    got = _collect(read_dataset(spark, table))  # auto-detects _delta_log
    assert got == [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)]
    # re-running the same delta batch is idempotent (0 new rows, but a
    # commit still lands — same contract as the parquet delta mode)
    write_dataset(batch, table, mode="delta", fmt="delta")
    assert _collect(read_dataset(spark, table)) == got
    # version time travel through the generic reader
    assert read_dataset(spark, table, fmt="delta", version=0).count() == 2


def test_write_dataset_delta_fmt_rejects_directory_flavor(spark, table):
    from pydatalake_spark.dataset.writer import write_dataset

    with pytest.raises(ValueError, match="Delta log"):
        write_dataset(
            _mkdf(spark, [(1, "a", 1.0)]),
            table,
            fmt="delta",
            partition_by="part",
            partition_flavor="directory",
        )


# ---------------------------------------------------------------------------
# merge (upsert) / compaction
# ---------------------------------------------------------------------------


def test_merge_updates_inserts_and_touches_only_hit_files(spark, table):
    dl.write_delta(
        _mkdf(spark, [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)]),
        table,
        partition_by=["part"],
    )
    before = dl.snapshot(table)
    # update k=2 (in part=b), insert k=9 (new part=z)
    src = _mkdf(spark, [(2, "b", 20.0), (9, "z", 9.0)])
    v = dl.merge_delta(spark, table, src, on=["k"])
    assert v == 1
    got = _collect(dl.read_delta(spark, table))
    assert got == [(1, "a", 1.0), (2, "b", 20.0), (3, "c", 3.0), (9, "z", 9.0)]
    # files for untouched partitions a and c survive IDENTICALLY
    after = dl.snapshot(table)
    untouched_before = {
        r for r in before.files if not r.startswith("part=b")
    }
    assert untouched_before <= set(after.files)
    # the b-partition file was rewritten (old one removed)
    assert not any(
        r in after.files
        for r in before.files
        if r.startswith("part=b")
    )
    assert dl.delta_history(table)[-1]["operation"] == "MERGE"


def test_merge_pure_insert_no_rewrites(spark, table):
    dl.write_delta(_mkdf(spark, [(1, "a", 1.0)]), table)
    before = set(dl.snapshot(table).files)
    dl.merge_delta(spark, table, _mkdf(spark, [(5, "e", 5.0)]), on=["k"])
    after = dl.snapshot(table)
    assert before <= set(after.files)  # nothing removed
    assert _collect(dl.read_delta(spark, table)) == [
        (1, "a", 1.0),
        (5, "e", 5.0),
    ]


def test_merge_schema_and_key_validation(spark, table):
    dl.write_delta(_mkdf(spark, [(1, "a", 1.0)]), table)
    with pytest.raises(ValueError, match="missing from source"):
        dl.merge_delta(
            spark, table, _mkdf(spark, [(1, "a", 1.0)]), on=["nope"]
        )
    from pyspark.sql import Row as R

    with pytest.raises(ValueError, match="schema"):
        dl.merge_delta(
            spark, table, spark.createDataFrame([R(k=1)]), on=["k"]
        )


def test_merge_time_travel_preserves_premerge_state(spark, table):
    dl.write_delta(_mkdf(spark, [(1, "a", 1.0), (2, "b", 2.0)]), table)
    dl.merge_delta(spark, table, _mkdf(spark, [(2, "b", 22.0)]), on=["k"])
    assert _collect(dl.read_delta(spark, table, version=0)) == [
        (1, "a", 1.0),
        (2, "b", 2.0),
    ]
    assert _collect(dl.read_delta(spark, table)) == [
        (1, "a", 1.0),
        (2, "b", 22.0),
    ]


def test_compact_bin_packs_small_files_datachange_false(spark, table):
    # 6 tiny files in one unpartitioned table via 3 appends x 2 tasks
    for i in range(3):
        dl.write_delta(
            _mkdf(spark, [(2 * i, "a", 1.0), (2 * i + 1, "b", 1.0)])
            .repartition(2),
            table,
            mode="append" if i else "error",
        )
    before = dl.snapshot(table)
    assert len(before.files) >= 3
    v = dl.compact_delta(spark, table, target_file_size=1 << 20)
    assert v == before.version + 1
    after = dl.snapshot(table)
    assert len(after.files) == 1
    # same rows, and the commit is dataChange: false throughout
    assert _collect(dl.read_delta(spark, table)) == _collect(
        dl.read_delta(spark, table, version=before.version)
    )
    with open(dl._commit_path(table, v)) as f:
        acts = [json.loads(x) for x in f if x.strip()]
    flags = [
        a["add"]["dataChange"] if "add" in a else a["remove"]["dataChange"]
        for a in acts
        if "add" in a or "remove" in a
    ]
    assert flags and not any(flags)
    # idempotent: nothing left to compact
    assert dl.compact_delta(spark, table, target_file_size=1 << 20) is None


def test_compact_respects_partition_filter(spark, table):
    # the two `a` rows go in separate commits, so partition `a` always
    # holds two small files for compaction to pack
    dl.write_delta(
        _mkdf(spark, [(1, "a", 1.0), (3, "b", 3.0), (4, "b", 4.0)]),
        table,
        partition_by=["part"],
    )
    dl.write_delta(_mkdf(spark, [(2, "a", 2.0)]), table, mode="append")
    before = dl.snapshot(table)
    b_files_before = {r for r in before.files if r.startswith("part=b")}
    v = dl.compact_delta(
        spark,
        table,
        target_file_size=1 << 20,
        partition_filters=[("part", "=", "a")],
    )
    assert v is not None
    after = dl.snapshot(table)
    assert {r for r in after.files if r.startswith("part=b")} == b_files_before
    assert len([r for r in after.files if r.startswith("part=a")]) == 1
    assert _collect(dl.read_delta(spark, table)) == [
        (1, "a", 1.0),
        (2, "a", 2.0),
        (3, "b", 3.0),
        (4, "b", 4.0),
    ]


# ---------------------------------------------------------------------------
# per-file stats / data skipping / zorder
# ---------------------------------------------------------------------------


def test_add_actions_carry_minmax_stats(spark, table):
    df = spark.createDataFrame(
        [Row(k=i, part="a", v=float(i)) for i in range(100)]
    ).select("k", "part", "v")
    dl.write_delta(df, table, max_records_per_file=25)
    snap = dl.snapshot(table)
    assert len(snap.files) >= 2
    for add in snap.files.values():
        st = json.loads(add["stats"])
        assert st["numRecords"] > 0
        assert set(st["minValues"]) == {"k", "v"}  # part is a string col
        assert st["minValues"]["k"] <= st["maxValues"]["k"]
        assert st["nullCount"]["k"] == 0


def test_data_filters_skip_files_and_stay_exact(spark, table):
    # k sorted ascending, 4 files of 25 rows: k ranges [0,24],[25,49],...
    df = spark.createDataFrame(
        [Row(k=i, v=float(i)) for i in range(100)]
    ).coalesce(1).sortWithinPartitions("k")
    dl.write_delta(df, table, max_records_per_file=25)
    snap = dl.snapshot(table)
    assert len(snap.files) == 4
    pruned = dl._prune_data_files(
        snap, snap.files, [("k", "=", 30)]
    )
    assert len(pruned) == 1
    got = dl.read_delta(spark, table, data_filters=[("k", "=", 30)])
    assert [r.k for r in got.collect()] == [30]
    # range op
    pruned = dl._prune_data_files(snap, snap.files, [("k", ">=", 75)])
    assert len(pruned) == 1
    got = dl.read_delta(spark, table, data_filters=[("k", "<", 25)])
    assert got.count() == 25
    # partition column refused; unknown column refused
    with pytest.raises(ValueError, match="unknown column"):
        dl.read_delta(spark, table, data_filters=[("nope", "=", 1)])


def test_data_filters_all_null_file_skipped_missing_stats_kept(spark, table):
    dl.write_delta(
        spark.createDataFrame([Row(k=1, v=1.0), Row(k=2, v=2.0)]), table
    )
    dl.write_delta(
        spark.createDataFrame(
            [Row(k=None, v=3.0)],
            schema=dl.snapshot(table).schema,
        ),
        table,
        mode="append",
    )
    snap = dl.snapshot(table)
    # the all-null-k file is refuted for any comparison on k; empty
    # part files (numRecords 0) are trivially refutable too — kept
    # files are exactly those whose stats admit a non-null k
    pruned = dl._prune_data_files(snap, snap.files, [("k", ">=", 0)])
    expected = {
        rel
        for rel, add in snap.files.items()
        if json.loads(add["stats"]).get("minValues", {}).get("k")
        is not None
    }
    assert set(pruned) == expected and expected
    # strip stats from the log (foreign minimal table): nothing skips,
    # values stay exact
    nostats = {
        rel: {k2: v2 for k2, v2 in add.items() if k2 != "stats"}
        for rel, add in snap.files.items()
    }
    assert dl._prune_data_files(snap, nostats, [("k", "=", 1)]) == nostats
    got = dl.read_delta(spark, table, data_filters=[("k", "=", 1)])
    assert [(r.k, r.v) for r in got.collect()] == [(1, 1.0)]


def test_timestamp_stats_skip(spark, table):
    import datetime as dt

    rows = [
        Row(ts=dt.datetime(2020, 1, 1) + dt.timedelta(days=i), v=float(i))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows).coalesce(1).sortWithinPartitions("ts")
    dl.write_delta(df, table, max_records_per_file=10)
    snap = dl.snapshot(table)
    assert len(snap.files) == 4
    cut = dt.datetime(2020, 1, 11)  # first file covers days 0-9
    pruned = dl._prune_data_files(snap, snap.files, [("ts", "<", cut)])
    assert len(pruned) == 1
    got = dl.read_delta(spark, table, data_filters=[("ts", "<", cut)])
    assert got.count() == 10


def test_zorder_compact_tightens_skipping_on_both_columns(spark, table):
    import random

    rng = random.Random(7)
    rows = [
        Row(x=rng.randrange(1000), y=rng.randrange(1000), v=float(i))
        for i in range(4000)
    ]
    # row-order layout: every file spans nearly the full x and y range
    dl.write_delta(
        spark.createDataFrame(rows).coalesce(1), table,
        max_records_per_file=500,
    )
    before = dl.snapshot(table)
    assert len(before.files) >= 4
    total = sum(a["size"] for a in before.files.values())
    v = dl.compact_delta(
        spark, table, target_file_size=max(1, total // 8),
        zorder_by=["x", "y"],
    )
    assert v is not None
    after = dl.snapshot(table)
    assert len(after.files) >= 4
    # same data
    assert dl.read_delta(spark, table).count() == 4000
    assert (
        dl.read_delta(spark, table).agg(F.sum("v")).first()[0]
        == sum(r.v for r in rows)
    )
    # skipping on BOTH clustered columns beats the row-order layout,
    # where every file spanned the whole domain (0 skippable)
    n_before = len(before.files)
    for col in ("x", "y"):
        f = [(col, "<", 100)]
        kept_before = len(
            dl._prune_data_files(before, before.files, f)
        )
        kept_after = len(dl._prune_data_files(after, after.files, f))
        assert kept_before == n_before  # row-order: nothing skippable
        assert kept_after < len(after.files)
        got = dl.read_delta(spark, table, data_filters=f)
        want = sum(1 for r in rows if getattr(r, col) < 100)
        assert got.count() == want
    assert dl.delta_history(table)[-1]["operation"] == "OPTIMIZE"


def test_scan_reads_only_pruned_files(spark, table):
    """inputFiles() pins that pruning happens at the SCAN, not post-hoc:
    partition_filters and data_filters shrink the actual file list Spark
    opens, before any footer/row is read."""
    df = spark.createDataFrame(
        [Row(k=i, part=str(i % 3), v=float(i)) for i in range(90)]
    ).select("k", "part", "v").sortWithinPartitions("k")
    dl.write_delta(df, table, partition_by=["part"], max_records_per_file=10)
    base = dl.read_delta(spark, table)
    n_all = len(base.inputFiles())
    assert n_all >= 6
    part_pruned = dl.read_delta(
        spark, table, partition_filters=[("part", "=", "1")]
    )
    assert 0 < len(part_pruned.inputFiles()) < n_all
    data_pruned = dl.read_delta(
        spark, table, data_filters=[("k", "<", 10)]
    )
    assert 0 < len(data_pruned.inputFiles()) < n_all


def test_read_delta_changes_incremental(spark, table):
    dl.write_delta(_mkdf(spark, [(1, "a", 1.0)]), table)
    dl.write_delta(_mkdf(spark, [(2, "b", 2.0)]), table, mode="append")
    dl.write_delta(_mkdf(spark, [(3, "c", 3.0)]), table, mode="append")
    # changes since v0 = the two appended rows
    got = _collect(dl.read_delta_changes(spark, table, from_version=0))
    assert got == [(2, "b", 2.0), (3, "c", 3.0)]
    # bounded range
    got = _collect(
        dl.read_delta_changes(spark, table, from_version=0, to_version=1)
    )
    assert got == [(2, "b", 2.0)]
    # empty range (from == HEAD) -> empty df with the table schema
    empty = dl.read_delta_changes(spark, table, from_version=2)
    assert empty.count() == 0 and empty.columns == ["k", "part", "v"]
    with pytest.raises(ValueError, match="from_version"):
        dl.read_delta_changes(spark, table, from_version=9)


def test_read_delta_changes_skips_compaction_refuses_rewrites(spark, table):
    for i in range(3):
        dl.write_delta(
            _mkdf(spark, [(i, "a", float(i))]),
            table,
            mode="append" if i else "error",
        )
    v_opt = dl.compact_delta(spark, table, target_file_size=1 << 20)
    assert v_opt is not None
    # the OPTIMIZE commit contributes nothing to the change feed
    got = dl.read_delta_changes(spark, table, from_version=2)
    assert got.count() == 0
    # a data rewrite (overwrite) across the range refuses loudly
    dl.write_delta(_mkdf(spark, [(9, "z", 9.0)]), table, mode="overwrite")
    with pytest.raises(dl.DeltaProtocolError, match="rewrites data"):
        dl.read_delta_changes(spark, table, from_version=2)
    # but a range strictly after the rewrite works again
    dl.write_delta(_mkdf(spark, [(10, "y", 10.0)]), table, mode="append")
    got = _collect(
        dl.read_delta_changes(spark, table, from_version=v_opt + 1)
    )
    assert got == [(10, "y", 10.0)]


def test_cleanup_delta_log_retention(spark, table):
    for i in range(4):
        dl.write_delta(
            _mkdf(spark, [(i, "a", float(i))]),
            table,
            mode="append" if i else "error",
            checkpoint_interval=2,
        )
    # no checkpoint pointer -> nothing may be cleaned
    assert dl._read_last_checkpoint(table)["version"] == 2
    # inside retention -> nothing removed
    assert dl.cleanup_delta_log(table, retention_hours=1) == []
    removed = dl.cleanup_delta_log(table, retention_hours=0)
    assert removed == [0, 1, 2]
    # current snapshot unharmed (checkpoint + v3)
    got = _collect(dl.read_delta(spark, table))
    assert [g[0] for g in got] == [0, 1, 2, 3]
    # time travel BEFORE the checkpoint is gone, at/after it still works
    with pytest.raises(dl.DeltaProtocolError):
        dl.read_delta(spark, table, version=1)
    assert dl.read_delta(spark, table, version=3).count() == 4


def test_absolute_path_add_actions_read(spark, table, tmpdir_path):
    """The spec allows absolute add.path (e.g. shallow clones): files
    living OUTSIDE the table dir must resolve and read."""
    dl.write_delta(_mkdf(spark, [(1, "a", 1.0)]), table)
    ext = os.path.join(tmpdir_path, "external.parquet")
    _mkdf(spark, [(2, "b", 2.0)]).coalesce(1).write.parquet(ext + ".dir")
    part = next(
        f for f in os.listdir(ext + ".dir") if f.endswith(".parquet")
    )
    os.replace(os.path.join(ext + ".dir", part), ext)
    dl._write_commit(
        table,
        1,
        [
            {
                "add": {
                    "path": "file://" + ext,
                    "partitionValues": {},
                    "size": os.path.getsize(ext),
                    "modificationTime": 0,
                    "dataChange": True,
                }
            }
        ],
    )
    got = _collect(dl.read_delta(spark, table))
    assert got == [(1, "a", 1.0), (2, "b", 2.0)]


# ---------------------------------------------------------------------------
# schema evolution / restore / describe
# ---------------------------------------------------------------------------


def test_merge_schema_additive_append(spark, table):
    dl.write_delta(_mkdf(spark, [(1, "a", 1.0)]), table)
    from pyspark.sql import Row as R

    newer = spark.createDataFrame(
        [R(k=2, part="b", v=2.0, lang="en")]
    ).select("k", "part", "v", "lang")
    # without the flag: refused
    with pytest.raises(ValueError, match="merge_schema"):
        dl.write_delta(newer, table, mode="append")
    dl.write_delta(newer, table, mode="append", merge_schema=True)
    got = dl.read_delta(spark, table)
    assert got.columns == ["k", "part", "v", "lang"]
    rows = {r.k: r.lang for r in got.collect()}
    # old files read NULL for the new column
    assert rows == {1: None, 2: "en"}
    # a batch MISSING a table column also aligns (typed nulls)
    older = spark.createDataFrame([R(k=3, part="c")]).select("k", "part")
    dl.write_delta(older, table, mode="append", merge_schema=True)
    r3 = [r for r in dl.read_delta(spark, table).collect() if r.k == 3][0]
    assert r3.v is None and r3.lang is None
    # type CHANGES stay refused even with the flag
    clash = spark.createDataFrame([R(k="x", part="d")]).select("k", "part")
    with pytest.raises(ValueError, match="additive-only"):
        dl.write_delta(clash, table, mode="append", merge_schema=True)


def test_restore_delta_metadata_only(spark, table):
    dl.write_delta(_mkdf(spark, [(1, "a", 1.0)]), table)
    dl.write_delta(_mkdf(spark, [(2, "b", 2.0)]), table, mode="append")
    dl.write_delta(_mkdf(spark, [(9, "z", 9.0)]), table, mode="overwrite")
    assert _collect(dl.read_delta(spark, table)) == [(9, "z", 9.0)]
    v = dl.restore_delta(table, 1)
    assert v == 3
    assert _collect(dl.read_delta(spark, table)) == [
        (1, "a", 1.0),
        (2, "b", 2.0),
    ]
    # the restore is itself a commit: travel back to the overwrite state
    assert _collect(dl.read_delta(spark, table, version=2)) == [
        (9, "z", 9.0)
    ]
    assert dl.delta_history(table)[-1]["operation"] == "RESTORE"
    # restoring to a vacuumed version refuses loudly
    dl.vacuum_delta(table, retention_hours=0)
    with pytest.raises(dl.DeltaProtocolError, match="vacuumed"):
        dl.restore_delta(table, 2)


def test_describe_delta(spark, table):
    dl.write_delta(
        _mkdf(spark, [(1, "a", 1.0), (2, "b", 2.0)]),
        table,
        partition_by=["part"],
        configuration={"delta.appendOnly": "true"},
    )
    d = dl.describe_delta(table)
    assert d["version"] == 0
    assert d["numFiles"] == 2
    assert d["numRecords"] == 2
    assert d["partitionColumns"] == ["part"]
    assert d["configuration"] == {"delta.appendOnly": "true"}
    assert d["sizeInBytes"] > 0


def test_convert_to_delta_in_place(spark, tmpdir_path):
    """CONVERT TO DELTA adopts an existing hive-partitioned parquet
    dataset without touching its data files; subsequent reads resolve
    through the log (time travel, pruning, stats all work)."""
    from pyspark.sql.types import StringType, StructField, StructType

    path = os.path.join(tmpdir_path, "plain")
    df = _mkdf(spark, [(1, "a", 1.0), (2, "b", 2.0), (3, "a", 3.0)])
    df.write.partitionBy("part").parquet(path)
    before = {
        os.path.join(r, n): os.path.getmtime(os.path.join(r, n))
        for r, _, ns in os.walk(path)
        for n in ns
        if n.endswith(".parquet")
    }
    v = dl.convert_to_delta(
        spark,
        path,
        partition_schema=StructType([StructField("part", StringType())]),
    )
    assert v == 0
    # data untouched (same files, same mtimes)
    after = {
        os.path.join(r, n): os.path.getmtime(os.path.join(r, n))
        for r, _, ns in os.walk(path)
        for n in ns
        if n.endswith(".parquet") and dl.LOG_DIR not in r
    }
    assert after == before
    got = _collect(dl.read_delta(spark, path))
    assert got == [(1, "a", 1.0), (2, "b", 2.0), (3, "a", 3.0)]
    # pruning works off the adopted log
    got = _collect(
        dl.read_delta(spark, path, partition_filters=[("part", "=", "a")])
    )
    assert got == [(1, "a", 1.0), (3, "a", 3.0)]
    # appends continue the log
    dl.write_delta(_mkdf(spark, [(4, "c", 4.0)]), path, mode="append")
    assert dl.snapshot(path).version == 1
    assert dl.read_delta(spark, path).count() == 4
    # double-convert refused
    with pytest.raises(FileExistsError):
        dl.convert_to_delta(spark, path)


def test_convert_to_delta_flat_layout(spark, tmpdir_path):
    path = os.path.join(tmpdir_path, "flat")
    _mkdf(spark, [(1, "a", 1.0), (2, "b", 2.0)]).coalesce(2).write.parquet(
        path
    )
    dl.convert_to_delta(spark, path)
    snap = dl.snapshot(path)
    assert snap.partition_columns == []
    assert all(a.get("stats") for a in snap.files.values())
    assert _collect(dl.read_delta(spark, path)) == [
        (1, "a", 1.0),
        (2, "b", 2.0),
    ]
    # partition_schema mismatch on a hive layout is refused
    from pyspark.sql.types import StringType, StructField, StructType

    path2 = os.path.join(tmpdir_path, "hive2")
    _mkdf(spark, [(1, "a", 1.0)]).write.partitionBy("part").parquet(path2)
    with pytest.raises(dl.DeltaProtocolError, match="partition_schema"):
        dl.convert_to_delta(spark, path2)  # forgot the schema


# ---------------------------------------------------------------------------
# model-based randomized state machine
# ---------------------------------------------------------------------------


def test_delta_state_machine_vs_model(spark, tmpdir_path):
    """Randomized op sequences (append / overwrite / merge / compact /
    restore / idempotent re-append) against a pure-Python model: after
    EVERY op, the table equals the model, and every historical version
    still time-travels to its recorded state. Seeded PRNG — failures
    reproduce."""
    import random

    rng = random.Random(20260816)
    for trial in range(4):
        table = os.path.join(tmpdir_path, f"sm{trial}")
        # model: dict k -> (part, v); history: list of dict snapshots
        model: dict = {}
        history: list = []

        def rows(n, lo=0, hi=40):
            return [
                (rng.randrange(lo, hi), rng.choice("abc"),
                 round(rng.uniform(0, 9), 1))
                for _ in range(n)
            ]

        def mkdf(data):
            return _mkdf(spark, data)

        # dedupe batch rows by key so model semantics are well-defined
        def dedupe(data):
            d = {}
            for k, p, v in data:
                d[k] = (p, v)
            return d

        dl.write_delta(mkdf(rows(rng.randrange(1, 6))), table)
        # re-read what actually landed (append keeps ALL rows incl.
        # duplicate keys; model tracks multiset via list instead)
        model = sorted(_collect(dl.read_delta(spark, table)))
        # history keyed by the ACTUAL committed version (compact may
        # be a no-op and commit nothing)
        history = {dl.snapshot(table).version: list(model)}

        for _step in range(6):
            op = rng.choice(
                ["append", "overwrite", "merge", "compact", "restore"]
            )
            if op == "append":
                data = rows(rng.randrange(1, 5))
                dl.write_delta(mkdf(data), table, mode="append")
                model = sorted(model + data)
            elif op == "overwrite":
                data = rows(rng.randrange(1, 5))
                dl.write_delta(mkdf(data), table, mode="overwrite")
                model = sorted(data)
            elif op == "merge":
                src = dedupe(rows(rng.randrange(1, 5)))
                dl.merge_delta(
                    spark,
                    table,
                    mkdf([(k, p, v) for k, (p, v) in src.items()]),
                    on=["k"],
                )
                kept = [t for t in model if t[0] not in src]
                model = sorted(
                    kept + [(k, p, v) for k, (p, v) in src.items()]
                )
            elif op == "compact":
                dl.compact_delta(spark, table, target_file_size=1 << 20)
                # layout-only: model unchanged
            else:  # restore
                v = rng.choice(sorted(history))
                dl.restore_delta(table, v)
                model = list(history[v])
            got = _collect(dl.read_delta(spark, table))
            assert got == model, (
                f"trial {trial} step {_step} op {op}: {got} != {model}"
            )
            history[dl.snapshot(table).version] = list(model)

        # every recorded version still time-travels to its state
        for v, want in sorted(history.items()):
            got = _collect(dl.read_delta(spark, table, version=v))
            assert got == sorted(want), f"time travel to v{v} diverged"


def test_delta_table_facade(spark, table, tmpdir_path):
    """The delta-spark-shaped DeltaTable facade delegates to the tested
    functional API."""
    with pytest.raises(FileNotFoundError):
        dl.DeltaTable.forPath(spark, table)
    dl.write_delta(_mkdf(spark, [(1, "a", 1.0), (2, "b", 2.0)]), table)
    t = dl.DeltaTable.forPath(spark, table)
    assert dl.DeltaTable.isDeltaTable(spark, table)
    assert t.version() == 0
    assert _collect(t.toDF()) == [(1, "a", 1.0), (2, "b", 2.0)]
    t.append(_mkdf(spark, [(3, "c", 3.0)]))
    t.merge(_mkdf(spark, [(3, "c", 33.0), (4, "d", 4.0)]), on=["k"])
    assert _collect(t.toDF()) == [
        (1, "a", 1.0), (2, "b", 2.0), (3, "c", 33.0), (4, "d", 4.0),
    ]
    assert [h["operation"] for h in t.history()][-1] == "MERGE"
    assert t.detail()["numRecords"] == 4
    t.restoreToVersion(0)
    assert _collect(t.toDF()) == [(1, "a", 1.0), (2, "b", 2.0)]
    assert t.optimize(target_file_size=1 << 20) is not None or True
    assert t.vacuum(retention_hours=0) != []  # restored-away files expire
    assert _collect(t.toDF()) == [(1, "a", 1.0), (2, "b", 2.0)]
    # convertToDelta classmethod round-trip
    plain = os.path.join(tmpdir_path, "plain2")
    _mkdf(spark, [(7, "x", 7.0)]).write.parquet(plain)
    t2 = dl.DeltaTable.convertToDelta(spark, plain)
    assert _collect(t2.toDF()) == [(7, "x", 7.0)]


# ---------------------------------------------------------------------------
# r12 ADVICE fixes: vacuum removal-clock, checkpoint tombstones, gap check,
# atomic-put fallback, merge URI decoding
# ---------------------------------------------------------------------------


def test_vacuum_retention_measured_from_removal_not_mtime(spark, table):
    """A file WRITTEN long ago but REMOVED recently must survive the
    retention window measured from its removal (r11 ADVICE medium) — the
    old mtime clock deleted it immediately and broke time travel inside
    the window."""
    import time as _time

    dl.write_delta(_mkdf(spark, [(1, "a", 1.0)]), table)
    # age the v0 data files' mtimes far past any retention window
    for root, _dirs, names in os.walk(table):
        if dl.LOG_DIR in root.split(os.sep):
            continue
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(root, n)
                os.utime(p, (_time.time() - 10 * 86400,) * 2)
    # remove them NOW (overwrite) — removal timestamp is fresh
    dl.write_delta(_mkdf(spark, [(2, "b", 2.0)]), table, mode="overwrite")
    # retention 1h: removal was seconds ago -> files must be KEPT
    assert dl.vacuum_delta(table, retention_hours=1.0) == []
    # time travel inside the window still works (the docstring contract)
    assert _collect(dl.read_delta(spark, table, version=0)) == [(1, "a", 1.0)]
    assert dl.restore_delta(table, 0) == 2
    # after restoring away v1's file and expiring, vacuum takes it
    assert dl.vacuum_delta(table, retention_hours=0.0) != []


def test_checkpoint_retains_recent_tombstones(spark, table):
    """Spec: checkpoints carry remove tombstones newer than the retention
    window (r11 ADVICE low), so a foreign engine doesn't early-vacuum
    recently-removed files — and OUR vacuum keeps its removal clock even
    after the pre-checkpoint JSON commits are log-cleaned."""
    import pyarrow.parquet as pq

    dl.write_delta(_mkdf(spark, [(1, "a", 1.0)]), table)
    dl.write_delta(_mkdf(spark, [(2, "b", 2.0)]), table, mode="overwrite")
    cp = dl.write_checkpoint(table)
    t = pq.read_table(cp)
    assert "remove" in t.schema.names
    rems = [r for r in t.column("remove").to_pylist() if r is not None]
    assert rems  # v0's file(s), tombstoned by the overwrite moments ago
    assert all(r["path"].endswith(".parquet") for r in rems)
    assert all(r["deletionTimestamp"] is not None for r in rems)
    # replayed snapshot carries the tombstone even with JSONs cleaned
    removed = dl.cleanup_delta_log(table, retention_hours=0.0)
    assert removed  # the pre-checkpoint commits are gone
    snap = dl.snapshot(table)
    assert snap.tombstones
    # vacuum still refuses to delete inside the window (clock survives)
    assert dl.vacuum_delta(table, retention_hours=1.0) == []


def test_expired_tombstones_dropped_from_checkpoint(spark, table):
    dl.write_delta(_mkdf(spark, [(1, "a", 1.0)]), table)
    dl.write_delta(_mkdf(spark, [(2, "b", 2.0)]), table, mode="overwrite")
    import pyarrow.parquet as pq

    cp = dl.write_checkpoint(table, tombstone_retention_hours=0.0)
    t = pq.read_table(cp)
    rems = [r for r in t.column("remove").to_pylist() if r is not None]
    assert rems == []


def test_gap_at_first_post_checkpoint_version_raises(spark, table):
    """The replay must raise on a missing commit even when the hole is
    the FIRST version after the checkpoint (r11 ADVICE low: the old check
    silently replayed incomplete state for v == start)."""
    for i in range(3):
        dl.write_delta(
            _mkdf(spark, [(i, "x", float(i))]), table, mode="append",
            checkpoint_interval=2,
        )
    for i in (3, 4):  # no further checkpoints: cp stays at v2
        dl.write_delta(
            _mkdf(spark, [(i, "x", float(i))]), table, mode="append",
            checkpoint_interval=0,
        )
    # checkpoint at v2; v3 is the FIRST version of the JSON replay
    os.unlink(dl._commit_path(table, 3))
    with pytest.raises(dl.DeltaProtocolError, match="gap at version 3"):
        dl.snapshot(table)


def test_snapshot_falls_back_to_listed_checkpoint(spark, table):
    """_last_checkpoint missing entirely: the reader lists on-disk
    single-part checkpoints (spec fallback) instead of failing or
    replaying a gapped JSON log."""
    for i in range(3):
        dl.write_delta(
            _mkdf(spark, [(i, "x", float(i))]), table, mode="append",
            checkpoint_interval=2,
        )
    # wipe the pointer AND the pre-checkpoint JSON commits
    os.unlink(os.path.join(dl._log_dir(table), dl.LAST_CHECKPOINT))
    for v in (0, 1, 2):
        os.unlink(dl._commit_path(table, v))
    snap = dl.snapshot(table)
    assert snap.version == 2
    assert len(_collect(dl.read_delta(spark, table))) == 3


def test_atomic_put_fallback_never_exposes_partial_content(table, monkeypatch):
    """Force the link-less fallback: the commit file at dst must appear
    with FULL content (reserve + rename), and a concurrent put-if-absent
    loser still gets DeltaConcurrentCommit."""
    import json as _json

    d = dl._log_dir(table)
    os.makedirs(d, exist_ok=True)

    def no_link(src, dst):
        raise OSError("simulated link-less filesystem")

    monkeypatch.setattr(dl.os, "link", no_link)
    tmp = os.path.join(d, ".tmp-x.json")
    with open(tmp, "w") as f:
        f.write(_json.dumps({"commitInfo": {"timestamp": 1}}) + "\n")
    dst = dl._commit_path(table, 0)
    dl._atomic_put(tmp, dst)
    with open(dst) as f:
        assert _json.loads(f.read())["commitInfo"]["timestamp"] == 1
    assert not os.path.exists(tmp)
    # loser: dst already exists
    with open(tmp, "w") as f:
        f.write("{}\n")
    with pytest.raises(dl.DeltaConcurrentCommit):
        dl._atomic_put(tmp, dst)
    assert not os.path.exists(tmp)


def test_read_commit_actions_retries_then_raises_on_empty(table):
    d = dl._log_dir(table)
    os.makedirs(d, exist_ok=True)
    p = dl._commit_path(table, 0)
    with open(p, "w"):
        pass  # crashed mid-publish: empty reservation forever
    with pytest.raises(dl.DeltaProtocolError, match="empty or unparseable"):
        dl._read_commit_actions(table, 0)


def test_merge_handles_percent_encoded_partition_values(spark, table):
    """Partition values with spaces/% produce percent-encoded file URIs
    from input_file_name(); the merge must still attribute hit files and
    REPLACE matched rows instead of duplicating them (r11 ADVICE med)."""
    df = spark.createDataFrame(
        [(1, "has space", 1.0), (2, "pct%val", 2.0), (3, "plain", 3.0)],
        "k int, part string, v double",
    )
    dl.write_delta(df, table, partition_by=["part"])
    src = spark.createDataFrame(
        [(1, "has space", 10.0), (2, "pct%val", 20.0)],
        "k int, part string, v double",
    )
    dl.merge_delta(spark, table, src, on=["k"])
    rows = sorted(_collect(dl.read_delta(spark, table)))
    assert rows == [(1, "has space", 10.0), (2, "pct%val", 20.0), (3, "plain", 3.0)]


def test_multipart_checkpoint_reads(spark, table):
    """Spec naming %020d.checkpoint.%010d.%010d.parquet with a `parts`
    field in _last_checkpoint: split a single-part checkpoint into two
    row slices, clean the JSON log, and replay from the parts alone."""
    import json as _json

    import pyarrow.parquet as pq

    for i in range(3):
        dl.write_delta(
            _mkdf(spark, [(i, "x", float(i))]), table, mode="append",
            checkpoint_interval=0,
        )
    cp = dl.write_checkpoint(table)
    t = pq.read_table(cp)
    half = t.num_rows // 2
    d = dl._log_dir(table)
    v = dl.snapshot(table).version
    p1 = os.path.join(
        d, f"{v:020d}.checkpoint.{1:010d}.{2:010d}.parquet"
    )
    p2 = os.path.join(
        d, f"{v:020d}.checkpoint.{2:010d}.{2:010d}.parquet"
    )
    pq.write_table(t.slice(0, half), p1)
    pq.write_table(t.slice(half), p2)
    os.unlink(cp)  # the single-part file is gone; only parts remain
    with open(os.path.join(d, dl.LAST_CHECKPOINT), "w") as f:
        _json.dump({"version": v, "size": t.num_rows, "parts": 2}, f)
    for ver in range(v + 1):
        os.unlink(dl._commit_path(table, ver))
    snap = dl.snapshot(table)
    assert snap.version == v
    assert len(_collect(dl.read_delta(spark, table))) == 3


def test_multipart_checkpoint_missing_part_raises(spark, table):
    import json as _json

    import pyarrow.parquet as pq

    dl.write_delta(_mkdf(spark, [(1, "a", 1.0)]), table)
    cp = dl.write_checkpoint(table)
    t = pq.read_table(cp)
    d = dl._log_dir(table)
    pq.write_table(
        t, os.path.join(d, f"{0:020d}.checkpoint.{1:010d}.{2:010d}.parquet")
    )
    os.unlink(cp)
    with open(os.path.join(d, dl.LAST_CHECKPOINT), "w") as f:
        _json.dump({"version": 0, "size": t.num_rows, "parts": 2}, f)
    os.unlink(dl._commit_path(table, 0))
    # the incomplete part set is unusable and the JSON log no longer
    # reaches v0 -> the replay refuses rather than serving partial state
    with pytest.raises(dl.DeltaProtocolError, match="gap at version 0"):
        dl.snapshot(table)


def test_check_constraints_enforced(spark, table):
    """delta.constraints.* (CHECK, writer v3): violating batches refuse
    before staging, clean batches commit, the protocol advertises
    writer v3, and NULL results don't violate (SQL CHECK semantics)."""
    conf = {"delta.constraints.positive_v": "v > 0"}
    with pytest.raises(dl.DeltaConstraintViolation, match="positive_v"):
        dl.write_delta(
            _mkdf(spark, [(1, "a", -1.0)]), table, configuration=conf
        )
    dl.write_delta(_mkdf(spark, [(1, "a", 1.0)]), table, configuration=conf)
    assert dl.snapshot(table).protocol["minWriterVersion"] >= 3
    # appends inherit the table's constraints
    with pytest.raises(dl.DeltaConstraintViolation):
        dl.write_delta(
            _mkdf(spark, [(2, "b", -2.0)]), table, mode="append"
        )
    dl.write_delta(_mkdf(spark, [(2, "b", 2.0)]), table, mode="append")
    # NULL constraint result passes (SQL CHECK semantics)
    from pyspark.sql import Row as _Row

    nulls = spark.createDataFrame(
        [_Row(k=3, part="c", v=None)], "k long, part string, v double"
    ).select("k", "part", "v")
    dl.write_delta(nulls, table, mode="append")
    assert dl.read_delta(spark, table).count() == 3
    # merge sources are checked too
    with pytest.raises(dl.DeltaConstraintViolation):
        dl.merge_delta(
            spark, table, _mkdf(spark, [(1, "a", -9.0)]), on=["k"]
        )


def test_writer_refuses_unknown_writer_features(spark, table):
    dl.write_delta(_mkdf(spark, [(1, "a", 1.0)]), table)
    dl._write_commit(
        table,
        1,
        [
            {
                "protocol": {
                    "minReaderVersion": 1,
                    "minWriterVersion": 7,
                    "writerFeatures": ["generatedColumns"],
                }
            }
        ],
    )
    # reads still fine
    assert _collect(dl.read_delta(spark, table)) == [(1, "a", 1.0)]
    with pytest.raises(dl.DeltaProtocolError, match="generatedColumns"):
        dl.write_delta(_mkdf(spark, [(2, "b", 2.0)]), table, mode="append")


def test_writer_refuses_generated_column_metadata(spark, table):
    """Legacy-version tables mark generated/invariant columns in schema
    field metadata; appending without honoring them corrupts the table."""
    import json as _json

    dl.write_delta(_mkdf(spark, [(1, "a", 1.0)]), table)
    snap = dl.snapshot(table)
    schema = _json.loads(snap.metadata["schemaString"])
    schema["fields"][2]["metadata"] = {
        "delta.generationExpression": "k * 2.0"
    }
    meta = dict(snap.metadata)
    meta["schemaString"] = _json.dumps(schema)
    dl._write_commit(table, 1, [{"metaData": meta}])
    assert dl.read_delta(spark, table).count() == 1
    with pytest.raises(dl.DeltaProtocolError, match="generated column"):
        dl.write_delta(_mkdf(spark, [(2, "b", 2.0)]), table, mode="append")


# ---------------------------------------------------------------------------
# change data feed (r12)
# ---------------------------------------------------------------------------


def _cdf_table(spark, table, n=20):
    df = (
        spark.range(n)
        .withColumn("part", (F.col("id") % 2).cast("string"))
        .withColumn("v", F.col("id").cast("double"))
    )
    dl.write_delta(
        df,
        table,
        partition_by=["part"],
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    return df


def _changes(spark, table, frm, to=None):
    return sorted(
        (r["_commit_version"], r["_change_type"], r["id"], r["v"])
        for r in dl.read_delta_cdf(spark, table, frm, to).collect()
    )


def test_cdf_protocol_and_insert_derivation(spark, table):
    _cdf_table(spark, table)
    assert dl.snapshot(table).protocol["minWriterVersion"] >= 4
    # pure appends need no cdc files: inserts derive from add files
    dl.write_delta(
        spark.range(20, 25)
        .withColumn("part", (F.col("id") % 2).cast("string"))
        .withColumn("v", F.col("id").cast("double")),
        table,
        mode="append",
    )
    rows = _changes(spark, table, 0)
    assert [r[2] for r in rows] == [20, 21, 22, 23, 24]
    assert all(r[1] == "insert" and r[0] == 1 for r in rows)


def test_cdf_delete_rows(spark, table):
    _cdf_table(spark, table)
    dl.delete_rows_dv(spark, table, "id < 3")
    rows = _changes(spark, table, 0)
    assert rows == [
        (1, "delete", 0, 0.0),
        (1, "delete", 1, 1.0),
        (1, "delete", 2, 2.0),
    ]


def test_cdf_update_pre_and_post_images(spark, table):
    _cdf_table(spark, table)
    dl.update_rows_dv(spark, table, "id = 5", {"v": "v * 10"})
    rows = _changes(spark, table, 0)
    # sorted by change-type string: postimage < preimage lexically
    assert rows == [
        (1, "update_postimage", 5, 50.0),
        (1, "update_preimage", 5, 5.0),
    ]


def test_cdf_merge_pre_post_insert(spark, table):
    _cdf_table(spark, table, n=10)
    src = (
        spark.range(8, 12)
        .withColumn("part", (F.col("id") % 2).cast("string"))
        .withColumn("v", (F.col("id") * 100).cast("double"))
    )
    dl.merge_delta(spark, table, src, on=["id"])
    rows = _changes(spark, table, 0)
    # 8,9 matched (pre+post), 10,11 inserted
    kinds = [(r[1], r[2]) for r in rows]
    assert ("update_preimage", 8) in kinds
    assert ("update_preimage", 9) in kinds
    assert ("update_postimage", 8) in kinds
    assert ("insert", 10) in kinds and ("insert", 11) in kinds
    assert len(rows) == 6
    pre8 = [r for r in rows if r[1] == "update_preimage" and r[2] == 8]
    post8 = [r for r in rows if r[1] == "update_postimage" and r[2] == 8]
    assert pre8[0][3] == 8.0 and post8[0][3] == 800.0


def test_cdf_refuses_uncovered_rewrite(spark, table):
    # table WITHOUT the flag: a DV delete commits no cdc files
    df = spark.range(5).withColumn("part", F.lit("x")).withColumn(
        "v", F.col("id").cast("double")
    )
    dl.write_delta(df, table)
    dl.delete_rows_dv(spark, table, "id = 0")
    with pytest.raises(dl.DeltaProtocolError, match="without cdc"):
        dl.read_delta_cdf(spark, table, 0)


def test_cdf_range_and_version_column(spark, table):
    _cdf_table(spark, table, n=4)
    dl.delete_rows_dv(spark, table, "id = 0")  # v1
    dl.update_rows_dv(spark, table, "id = 1", {"v": "99.0"})  # v2
    only_v2 = _changes(spark, table, 1, 2)
    assert {r[0] for r in only_v2} == {2}
    assert {r[1] for r in only_v2} == {
        "update_preimage", "update_postimage",
    }


# ---------------------------------------------------------------------------
# the one commit path: failed attempts leave no files behind, and every
# mutation checkpoints on the same cadence
# ---------------------------------------------------------------------------


def _table_files(table):
    """Every file under the table outside ``_delta_log/``."""
    out = set()
    for root, dirs, names in os.walk(table):
        dirs[:] = [d for d in dirs if d != dl.LOG_DIR]
        out.update(
            os.path.relpath(os.path.join(root, n), table) for n in names
        )
    return out


def _ids(spark, lo, hi):
    """Rows ``lo..hi-1`` as one file per partition."""
    return (
        spark.range(lo, hi, numPartitions=1)
        .withColumn("part", (F.col("id") % 2).cast("string"))
        .withColumn("v", F.col("id").cast("double"))
    )


_MUTATIONS = {
    "append": lambda spark, t: dl.write_delta(_ids(spark, 100, 104), t),
    "merge": lambda spark, t: dl.merge_delta(
        spark, t, _ids(spark, 8, 12), on=["id"]
    ),
    "compact": lambda spark, t: dl.compact_delta(spark, t),
    "delete_rows_dv": lambda spark, t: dl.delete_rows_dv(spark, t, "id < 3"),
    "update_rows_dv": lambda spark, t: dl.update_rows_dv(
        spark, t, "id < 3", {"v": "v + 100"}
    ),
    "rewrite_dv_files": lambda spark, t: dl.rewrite_dv_files(spark, t),
}

# delete_rows_dv stages no data files, so it has no stats to fail on
_FAILED_ATTEMPTS = [(m, "lost_race") for m in _MUTATIONS] + [
    (m, "stats_fail") for m in _MUTATIONS if m != "delete_rows_dv"
]


@pytest.mark.parametrize("mutation,failure", _FAILED_ATTEMPTS)
def test_failed_attempt_leaves_table_unchanged(
    spark, table, monkeypatch, mutation, failure
):
    """A commit attempt that fails before its version publishes — a lost
    put-if-absent race, or footer stats raising after the data files
    moved into the table — unlinks every file it wrote: data files,
    ``_change_data/`` files and deletion-vector blobs. CDF is on, so
    merge and the DV mutations stage cdc files too."""
    _cdf_table(spark, table, n=10)
    dl.write_delta(_ids(spark, 10, 20), table)  # >1 small file per part
    if mutation == "rewrite_dv_files":
        # its file keeps 4 rows, so the purge stages a data file
        dl.delete_rows_dv(spark, table, "id = 15")
    before = dl.snapshot(table)
    files_before = _table_files(table)

    if failure == "lost_race":
        def lost(tmp, dst):
            raise dl.DeltaConcurrentCommit(f"injected: {dst}")

        monkeypatch.setattr(dl, "_atomic_put", lost)
        expected = dl.DeltaConcurrentCommit
    else:
        landed = []

        def stats_fail(path, schema, pcols):
            landed.append(os.path.isfile(path))
            raise RuntimeError("injected stats failure")

        monkeypatch.setattr(dl, "_file_stats", stats_fail)
        expected = RuntimeError
    with pytest.raises(expected, match="injected"):
        _MUTATIONS[mutation](spark, table)
    if failure == "stats_fail":
        assert landed and all(landed)  # the files had moved in

    assert _table_files(table) == files_before
    after = dl.snapshot(table)
    assert after.version == before.version
    assert after.files == before.files


def test_dv_deletes_checkpoint_on_the_shared_cadence(spark, table):
    """Deletion-vector commits checkpoint like every other mutation, so
    a table changed only by DV deletes keeps its JSON replay bounded."""
    df = spark.range(20).withColumn("part", F.lit("x")).withColumn(
        "v", F.col("id").cast("double")
    )
    dl.write_delta(df, table)
    for i in range(dl.DEFAULT_CHECKPOINT_INTERVAL):
        assert dl.delete_rows_dv(spark, table, f"id = {i}") == (i + 1, 1)
    ptr = dl._read_last_checkpoint(table)
    assert ptr is not None and ptr["version"] == dl.DEFAULT_CHECKPOINT_INTERVAL
    assert os.path.isfile(dl._checkpoint_path(table, ptr["version"]))
    assert dl.read_delta(spark, table).count() == 10
