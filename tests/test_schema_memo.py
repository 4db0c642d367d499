"""Catalog reads resolve each parquet file's schema once per session
(sources/registry.parquet_schema): a repeated read launches no
schema-inference job, while a conf flip or a rewritten file re-infers."""

from __future__ import annotations

import shutil
import sys
import time
import types
import uuid
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from synthetic_datagen_spark.functions.memo import app_scoped_memo
from synthetic_datagen_spark.schemas import TABLES
from synthetic_datagen_spark.sources import Catalog
from synthetic_datagen_spark.sources.registry import parquet_schema

NTZ = "spark.sql.parquet.inferTimestampNTZ.enabled"


def _copy_tables(src: str, dst, *names: str) -> str:
    for n in names:
        shutil.copy(f"{src}/{n}.parquet", dst / f"{n}.parquet")
    return str(dst)


def _jobs_per_group(spark, *steps) -> list[int]:
    """Run each step under its own job group; return each group's job
    count. A trailing marker job (seen last, since the listener bus is
    ordered) makes sure every earlier job has reached the tracker."""
    sc = spark.sparkContext
    groups = [f"schema-memo-{uuid.uuid4().hex}" for _ in range(len(steps) + 1)]
    try:
        for group, step in zip(groups, [*steps, lambda: spark.range(1).count()]):
            sc.setJobGroup(group, group)
            step()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(groups[-1]):
        assert time.monotonic() < deadline, "marker job never reached the tracker"
        time.sleep(0.05)
    return [len(tracker.getJobIdsForGroup(g)) for g in groups[:-1]]


def test_second_catalog_read_launches_no_job(spark, sf_smoke, tmp_path):
    sf = _copy_tables(sf_smoke, tmp_path, "region")
    first, second = _jobs_per_group(
        spark,
        lambda: Catalog(spark, sf).table("region"),
        lambda: Catalog(spark, sf).table("region"),
    )
    assert first >= 1  # the miss runs Spark's own inference job
    assert second == 0


def test_conf_flip_mid_session_reinfers(spark, sf_smoke, tmp_path):
    sf = _copy_tables(sf_smoke, tmp_path, "events", "orders")
    before = spark.conf.get(NTZ)
    try:
        for flag, ts_type in (("true", "timestamp_ntz"), ("false", "timestamp"),
                              ("true", "timestamp_ntz")):
            spark.conf.set(NTZ, flag)  # as __spark_entry__'s wrappers do
            cat = Catalog(spark, sf)
            assert parquet_schema(spark, f"{sf}/events.parquet")["ts"].dataType.simpleString() == ts_type
            assert dict(cat.table("orders").dtypes)["o_orderdate"] == ts_type
            # the catalog rebases events.ts to a session timestamp either way
            assert dict(cat.table("events").dtypes)["ts"] == "timestamp"
    finally:
        spark.conf.set(NTZ, before)


@pytest.mark.parametrize("layout", ["file", "directory"])
def test_rewritten_file_is_reinferred(spark, tmp_path, layout):
    path = tmp_path / "region.parquet"
    if layout == "directory":
        path.mkdir()
        path = path / "part-00000.parquet"
    old = pa.table({"r_regionkey": pa.array([0, 1], pa.int32()), "r_name": ["A", "B"]})
    pq.write_table(old, path)
    assert Catalog(spark, str(tmp_path)).table("region").columns == ["r_regionkey", "r_name"]

    new = old.append_column("r_comment", pa.array(["x", "y"]))
    pq.write_table(new, path)
    df = Catalog(spark, str(tmp_path)).table("region")
    assert df.columns == ["r_regionkey", "r_name", "r_comment"]
    assert sorted(df.collect()) == sorted(spark.read.parquet(str(path)).collect())


def test_concurrent_reads_share_one_schema(spark, sf_smoke, tmp_path):
    sf = _copy_tables(sf_smoke, tmp_path, "lineitem")
    with ThreadPoolExecutor(max_workers=8) as pool:
        schemas = list(pool.map(lambda _: Catalog(spark, sf).table("lineitem").schema, range(16)))
    assert all(s == schemas[0] for s in schemas)
    assert schemas[0] == spark.read.parquet(f"{sf}/lineitem.parquet").schema


def test_memo_evicts_dead_apps_under_concurrent_misses():
    # pool threads miss at once while a large dead-app backlog is being
    # evicted: iterating the live dict here raised "dictionary changed
    # size during iteration"
    spark = types.SimpleNamespace(sparkContext=types.SimpleNamespace(applicationId="live"))
    cache = {(f"dead-{i}", i): i for i in range(20000)}
    before = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=16) as pool:
            got = list(pool.map(lambda i: app_scoped_memo(cache, spark, i, lambda: 2 * i), range(64)))
    finally:
        sys.setswitchinterval(before)
    assert got == [2 * i for i in range(64)]
    assert sorted(cache) == [("live", i) for i in range(64)]


@pytest.mark.parametrize("name", sorted(TABLES))
def test_tables_catalogue_names_match_the_files(spark, sf_smoke, name):
    # names only: the timestamp types depend on session confs
    path = f"{sf_smoke}/{name}.parquet"
    assert TABLES[name].names == parquet_schema(spark, path).names
    assert parquet_schema(spark, path) == spark.read.parquet(path).schema
