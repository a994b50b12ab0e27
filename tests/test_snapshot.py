"""Table sinks: the snapshot-versioned sink (time travel, immutability,
commit point) and the keyed upsert."""

from __future__ import annotations

import os
import tempfile

import pytest

from open_source_legislation_spark.sources import io as osl_io


def test_snapshot_versions_are_immutable_and_travelable(spark):
    base = tempfile.mkdtemp(prefix="snap_test_")
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "k: long, v: string")
    v1 = osl_io.write_snapshot(df1, base, "t")
    df2 = spark.createDataFrame([(1, "a"), (2, "CHANGED"), (3, "c")], "k: long, v: string")
    v2 = osl_io.write_snapshot(df2, base, "t")
    assert (v1, v2) == (1, 2)
    # v1 still shows the pre-update world
    got1 = sorted(map(tuple, osl_io.read_snapshot(spark, base, "t", version=1).collect()))
    assert got1 == [(1, "a"), (2, "b")]
    # latest == v2
    got_latest = sorted(map(tuple, osl_io.read_snapshot(spark, base, "t").collect()))
    assert got_latest == [(1, "a"), (2, "CHANGED"), (3, "c")]


def test_snapshot_writer_race_allocates_distinct_versions(spark):
    """The version directory is claimed with an atomic mkdir BEFORE the
    data write: a racing/crashed writer holding v=n forces the next writer
    to v=n+1 instead of clobbering the directory."""
    base = tempfile.mkdtemp(prefix="snap_test_")
    df = spark.createDataFrame([(1, "a")], "k: long, v: string")
    osl_io.write_snapshot(df, base, "t")  # v=1
    # simulate a concurrent writer that claimed v=2 but has not published
    os.mkdir(os.path.join(base, "t", "v=2"))
    v = osl_io.write_snapshot(df, base, "t")
    assert v == 3
    got = sorted(map(tuple, osl_io.read_snapshot(spark, base, "t", version=3).collect()))
    assert got == [(1, "a")]


def test_snapshot_duplicate_manifest_id_refused(spark):
    base = tempfile.mkdtemp(prefix="snap_test_")
    df = spark.createDataFrame([(1, "a")], "k: long, v: string")
    osl_io.write_snapshot(df, base, "t")
    with open(os.path.join(base, "t", "_snapshots"), "a") as fh:
        fh.write("1\n")  # double-committed id = undefined mixture
    with pytest.raises(ValueError, match="duplicate"):
        osl_io.read_snapshot(spark, base, "t")


def test_snapshot_uncommitted_version_rejected(spark):
    base = tempfile.mkdtemp(prefix="snap_test_")
    df = spark.createDataFrame([(1, "a")], "k: long, v: string")
    osl_io.write_snapshot(df, base, "t")
    # a data directory without a manifest entry is invisible (commit point
    # is the manifest append, not the parquet write)
    os.makedirs(os.path.join(base, "t", "v=9"), exist_ok=True)
    with pytest.raises(ValueError):
        osl_io.read_snapshot(spark, base, "t", version=9)


def test_upsert_existing_table_merges_and_releases_storage(spark, tmp_path):
    """Upserting into an existing table replaces rows by key, and the
    checkpoint taken before the overwrite is released once it has landed:
    block storage holds exactly the RDDs it held before the upsert."""
    base = str(tmp_path)
    osl_io.write_table(
        spark.createDataFrame([(1, "a"), (2, "b")], "k: long, v: string"), base, "t"
    )
    updates = spark.createDataFrame([(2, "B"), (3, "c")], "k: long, v: string")
    before = {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}
    osl_io.upsert_table(spark, updates, base, "t", key="k")
    after = {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}
    assert after == before
    got = sorted(map(tuple, spark.read.parquet(os.path.join(base, "t")).collect()))
    assert got == [(1, "a"), (2, "B"), (3, "c")]
