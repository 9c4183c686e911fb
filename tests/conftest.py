from __future__ import annotations

import shutil
import sys
import tempfile
from contextlib import contextmanager
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from pydatalake_spark.session import get_spark

    s = get_spark("tests", shuffle_partitions=8)
    yield s
    s.stop()


def jobs_in(spark, group, fn):
    """Run ``fn`` under a fresh job group; return (result, #jobs fired)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@contextmanager
def cc_loop(spark, on):
    """Inside, every driver-side tier is off when ``on`` (broadcast
    threshold ``-1``, so ``session.driver_bound`` is ``-1``):
    ``connected_components`` runs the distributed min-label loop,
    ``ngram_jaccard_pairs`` its Spark plan, and the decontamination
    tables (``queries/text.py:_decon_exl`` / ``_decon_screen``) their
    Spark plans; the bloom tiers still pass a bitmap through the driver
    up to ``spark.driver.maxResultSize``. Otherwise the session threshold
    applies, under which test-sized inputs take the driver-side
    union-find, pair kernel and decontamination pass. The
    decontamination tables are memoized per corpus dir, so a test that
    wants the other tier drops their memo entries first."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    if on:
        spark.conf.set(key, "-1")
    try:
        yield
    finally:
        spark.conf.set(key, old)


@pytest.fixture()
def tmpdir_path():
    d = tempfile.mkdtemp(prefix="pydatalake_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="session")
def events(spark):
    from pydatalake_spark.queries.tables import load_table

    return load_table(spark, SF_DIR, "events")
