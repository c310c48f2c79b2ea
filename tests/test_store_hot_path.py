"""The store's micro-batch path launches only the jobs its data needs:
recorded offline schemas, a write-once online snapshot published through
a pointer, and a memoized schema for the testdata readers."""

from __future__ import annotations

import os
import sys
import threading
from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from aqi_featurestore_spark.registry import FeatureView
from aqi_featurestore_spark.sources.offline_store import OfflineStore
from aqi_featurestore_spark.sources.testdata import read_table
from aqi_featurestore_spark.store import FeatureStore

VIEW = FeatureView(
    name="aqi_hp",
    entities=("entity_id",),
    ttl=timedelta(days=7),
    features=(("aqi", "double"), ("hour", "int")),
    source="events",
)
AS_OF = "2023-01-03 00:00:00"


def _rows(spark, rows):
    return spark.createDataFrame(
        rows, "entity_id string, feature_timestamp string, aqi double, hour int"
    ).withColumn("feature_timestamp", F.to_timestamp("feature_timestamp"))


def _history(spark):
    return _rows(
        spark,
        [
            ("a", "2023-01-01 00:00:00", 40.0, 0),
            ("a", "2023-01-02 00:00:00", 70.0, 0),
            ("b", "2023-01-01 12:00:00", 30.0, 12),
        ],
    )


def _lookup(store, spark, keys):
    rows = spark.createDataFrame([(k,) for k in keys], "entity_id string")
    out = store.get_online_features(
        VIEW.name, rows, as_of=F.to_timestamp(F.lit(AS_OF))
    ).collect()
    return {r["entity_id"]: r["aqi"] for r in out}


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return result, list(sc.statusTracker().getJobIdsForGroup(group))


def _visible(path):
    """Directory entries without the local filesystem's ``.crc`` sidecars."""
    return sorted(n for n in os.listdir(path) if not n.startswith("."))


@pytest.fixture()
def store(spark, tmp_path):
    s = FeatureStore(spark, str(tmp_path / "fs"))
    s.apply(VIEW)
    s.write_offline(VIEW.name, _history(spark))
    return s


def test_store_reads_construct_without_jobs(store, spark):
    store.write_to_online_store(VIEW.name, _history(spark))
    spine = spark.createDataFrame(
        [("a", datetime(2023, 1, 1, 7))], "entity_id string, event_timestamp timestamp"
    )
    keys = spark.createDataFrame([("a",)], "entity_id string")

    def construct():
        store.read_offline(VIEW.name)
        store.get_historical_features(spine, [f"{VIEW.name}:aqi"])
        store.get_online_features(VIEW.name, keys)

    _, jobs = _jobs_in_group(spark, "hot-path-construct", construct)
    assert jobs == []


def test_recorded_schemas_equal_inferred(store, spark, tmp_path):
    off = str(tmp_path / "fs" / "offline" / VIEW.name)
    recorded = OfflineStore(spark, off).schema()
    assert recorded == spark.read.parquet(off).schema
    assert [f.dataType.simpleString() for f in recorded.fields[-3:]] == ["int"] * 3

    store.write_to_online_store(VIEW.name, _history(spark))
    ptr = store._online_pointer(VIEW.name)
    snap = os.path.join(store._online_path(VIEW.name), ptr["dir"])
    assert store._online_snapshot(VIEW.name)[1].schema == spark.read.parquet(snap).schema


def test_append_rejects_schema_drift(store, spark):
    drifted = spark.createDataFrame(
        [("a", datetime(2023, 1, 5), "high", 1, 2.0)],
        "entity_id string, feature_timestamp timestamp, aqi string, hour int, pm double",
    )
    with pytest.raises(ValueError, match="aqi .*pm") as err:
        store.write_offline(VIEW.name, drifted)
    assert "hour" not in str(err.value)
    assert store.read_offline(VIEW.name).count() == 3


def test_unpublished_snapshot_dir_is_ignored_then_replaced(store, spark):
    store.write_to_online_store(VIEW.name, _history(spark))
    p = store._online_path(VIEW.name)
    # a crashed upsert: its directory landed, the pointer never moved
    _rows(spark, [("zz", "2023-01-02 00:00:00", 1.0, 1)]).write.parquet(f"{p}/v2")
    assert _lookup(store, spark, ["a", "zz"]) == {"a": 70.0, "zz": None}

    store.write_to_online_store(VIEW.name, _rows(spark, [("c", "2023-01-02 06:00:00", 5.0, 6)]))
    assert _lookup(store, spark, ["a", "b", "c", "zz"]) == {
        "a": 70.0, "b": 30.0, "c": 5.0, "zz": None,
    }
    assert _visible(p) == ["_current.json", "v2"]


def test_upsert_deletes_a_snapshot_left_after_the_pointer_swap(store, spark):
    p = store._online_path(VIEW.name)
    store.write_to_online_store(VIEW.name, _history(spark))
    store.write_to_online_store(VIEW.name, _rows(spark, [("c", "2023-01-02 06:00:00", 5.0, 6)]))
    # a crashed upsert: the pointer moved to v2, v1 was never deleted
    _rows(spark, [("zz", "2023-01-02 00:00:00", 1.0, 1)]).write.parquet(f"{p}/v1")
    assert _lookup(store, spark, ["c", "zz"]) == {"c": 5.0, "zz": None}

    store.write_to_online_store(VIEW.name, _rows(spark, [("d", "2023-01-02 07:00:00", 6.0, 7)]))
    assert _visible(p) == ["_current.json", "v3"]
    assert _lookup(store, spark, ["a", "c", "d", "zz"]) == {
        "a": 70.0, "c": 5.0, "d": 6.0, "zz": None,
    }


def test_materialize_upsert_lookup_round_trip(store, spark):
    p = store._online_path(VIEW.name)
    store.materialize(VIEW.name)
    assert _lookup(store, spark, ["a", "b", "x"]) == {"a": 70.0, "b": 30.0, "x": None}
    store.write_to_online_store(VIEW.name, _rows(spark, [("a", "2023-01-02 05:00:00", 99.0, 5)]))
    assert _lookup(store, spark, ["a", "b"]) == {"a": 99.0, "b": 30.0}
    # directories left by crashes in consecutive publishes are swept
    os.makedirs(f"{p}/v0")
    store.materialize(VIEW.name)
    assert _visible(p) == ["_current.json", "v3"]
    assert _lookup(store, spark, ["a", "b"]) == {"a": 70.0, "b": 30.0}


def test_upserts_keep_earlier_keys_at_a_file_url(spark, tmp_path, monkeypatch):
    # the registry's JSON catalog is driver-local: keep it inside tmp_path
    monkeypatch.chdir(tmp_path)
    store = FeatureStore(spark, f"file://{tmp_path}/store")
    store.apply(VIEW)
    store.write_to_online_store(VIEW.name, _rows(spark, [("a", "2023-01-02 00:00:00", 1.0, 0)]))
    store.write_to_online_store(VIEW.name, _rows(spark, [("b", "2023-01-02 00:00:00", 2.0, 0)]))
    assert _lookup(store, spark, ["a", "b"]) == {"a": 1.0, "b": 2.0}


def _write_table(path, **cols):
    pq.write_table(pa.table(cols), path)


def test_rewritten_testdata_file_is_inferred_again(spark, tmp_path):
    path = tmp_path / "t.parquet"
    _write_table(path, x=[1, 2])
    first, jobs_cold = _jobs_in_group(spark, "memo-cold", lambda: read_table(spark, str(tmp_path), "t"))
    _, jobs_warm = _jobs_in_group(spark, "memo-warm", lambda: read_table(spark, str(tmp_path), "t"))
    assert first.columns == ["x"] and jobs_cold and not jobs_warm

    _write_table(path, x=[3], y=["new"])
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    again = read_table(spark, str(tmp_path), "t")
    assert again.columns == ["x", "y"]
    assert again.collect()[0]["y"] == "new"


def test_concurrent_readers_share_one_inference(spark, tmp_path):
    _write_table(tmp_path / "ref.parquet", x=[1])
    _, one = _jobs_in_group(spark, "memo-ref", lambda: spark.read.parquet(str(tmp_path / "ref.parquet")))
    _write_table(tmp_path / "t.parquet", x=[1, 2, 3])

    group, barrier, schemas = "memo-threads", threading.Barrier(8), []

    def reader():
        spark.sparkContext.setJobGroup(group, group)
        barrier.wait(timeout=60)
        schemas.append(read_table(spark, str(tmp_path), "t").schema)

    threads = [threading.Thread(target=reader) for _ in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(schemas) == 8 and len({s.json() for s in schemas}) == 1
    assert len(spark.sparkContext.statusTracker().getJobIdsForGroup(group)) == len(one) == 1
