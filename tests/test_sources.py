"""The corpus loaders infer a parquet schema once per file version.

``spark.read.parquet`` runs a Spark job to infer a schema, even for one
file. ``sources.read_parquet`` keeps each file's inferred schema (never
a DataFrame) and hands it to the reader while the file is unchanged.
These tests pin the three properties that choice rests on: repeat loads
launch no job, a rewritten file is re-inferred, and every load is still
a fresh relation that can be self-joined.
"""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from echem_dft_etl_spark.sources import TABLES, load_table, register_views
from echem_dft_etl_spark.streaming.windows import read_table_stream
from tests.conftest import SF_SMOKE


def _job_ids(spark) -> set[int]:
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def test_repeat_loads_of_unchanged_files_launch_no_jobs(spark):
    for name in TABLES:
        load_table(spark, SF_SMOKE, name)
    before = _job_ids(spark)
    load_table(spark, SF_SMOKE, "lineitem")
    load_table(spark, SF_SMOKE, "events")
    register_views(spark, SF_SMOKE)
    read_table_stream(spark, SF_SMOKE, "orders")
    assert _job_ids(spark) - before == set()


_T0 = dt.datetime(2024, 3, 1, 12, 0, 0, 123456)


def _write_events(path, n: int, ts_unit: str, extra: bool) -> None:
    """An events-shaped file: ``ts`` as TIMESTAMP(NANOS), which Spark
    reads as int64 nanos, or TIMESTAMP(µs, no tz), which it reads as
    TIMESTAMP_NTZ. Each row's ts carries 789 ns below the microsecond,
    which the loader must truncate."""
    base_ns = int(_T0.replace(tzinfo=dt.timezone.utc).timestamp()) * 10**9
    base_ns += _T0.microsecond * 1000
    ns = [base_ns + i * 60 * 10**9 + (789 if ts_unit == "ns" else 0) for i in range(n)]
    ts = pa.array(ns, pa.timestamp("ns"))
    if ts_unit == "us":
        ts = ts.cast(pa.timestamp("us"))
    cols = {"event_id": pa.array(range(n), pa.int64()), "ts": ts}
    if extra:
        cols["value"] = pa.array([float(i) for i in range(n)])
    pq.write_table(pa.table(cols), path, coerce_timestamps=None)


@pytest.mark.parametrize(
    "ts_unit,layout", [("ns", "file"), ("us", "file"), ("us", "dir")]
)
def test_rewritten_file_is_reinferred(spark, tmp_path, ts_unit, layout):
    path = tmp_path / "events.parquet"
    if layout == "dir":
        # a table stored as a directory: the part file is rewritten in
        # place, which leaves the directory's own mtime unchanged
        path.mkdir()
        path = path / "part-0.parquet"
    _write_events(path, 3, ts_unit, extra=False)
    load_table(spark, str(tmp_path), "events")
    # a memo hit still normalizes ts
    hit = load_table(spark, str(tmp_path), "events")
    assert hit.columns == ["event_id", "ts"]
    assert isinstance(hit.schema["ts"].dataType, TimestampType)

    _write_events(path, 5, ts_unit, extra=True)
    df = load_table(spark, str(tmp_path), "events")
    assert df.columns == ["event_id", "ts", "value"]
    assert isinstance(df.schema["ts"].dataType, TimestampType)
    rows = df.select(
        "event_id", F.unix_micros("ts").alias("us"), "value"
    ).orderBy("event_id").collect()
    t0_us = int(_T0.replace(tzinfo=dt.timezone.utc).timestamp()) * 10**6
    t0_us += _T0.microsecond
    assert [tuple(r) for r in rows] == [
        (i, t0_us + i * 60 * 10**6, float(i)) for i in range(5)
    ]


def test_two_loads_self_join_on_bound_columns(spark):
    """Two loads of one table are two relations: the bound columns of
    ``a`` and ``b`` resolve to different sides of the join."""
    a = load_table(spark, SF_SMOKE, "embeddings")
    b = load_table(spark, SF_SMOKE, "embeddings")
    pairs = a.join(
        b, (a["label"] == b["label"]) & (a["vec_id"] < b["vec_id"])
    ).count()

    t = pq.read_table(f"{SF_SMOKE}/embeddings.parquet").to_pylist()
    brute = sum(
        1
        for x in t
        for y in t
        if x["label"] is not None
        and x["label"] == y["label"]
        and x["vec_id"] < y["vec_id"]
    )
    assert pairs == brute > 0
