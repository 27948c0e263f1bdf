"""``sources.readers.table``: declared schemas, no inference job, and
the footer-decided ``events`` nanos branch."""

from __future__ import annotations

import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from finance_etl_pipeline_spark import schemas
from finance_etl_pipeline_spark.plans import QueryDef, build_counting_jobs
from finance_etl_pipeline_spark.sources.readers import table
from tests.conftest import SF_DIR

NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"
# every scale-factor directory next to the test one
SF_DIRS = sorted(
    d for d in glob.glob(os.path.join(os.path.dirname(SF_DIR), "sf*")) if os.path.isdir(d)
)


def _fields(schema) -> list[tuple[str, str]]:
    return [(f.name, f.dataType.simpleString()) for f in schema.fields]


def _read(spark, sf_dir: str, name: str):
    """``table()`` built under a job group: (DataFrame, jobs run)."""
    return build_counting_jobs(QueryDef(name, lambda s, d: table(s, d, name), None), spark, sf_dir)


@pytest.mark.parametrize("sf_dir", SF_DIRS, ids=os.path.basename)
def test_declared_schemas_match_the_files(spark, sf_dir):
    """Each declaration equals what Spark infers from the file, so the
    declared-schema read in ``table()`` changes no column type."""
    for name, declared in schemas.TESTDATA.items():
        inferred = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet")).schema
        assert _fields(declared) == _fields(inferred), name


def test_every_table_builds_without_a_job(spark, sf_dir):
    for name in schemas.TESTDATA:
        _, jobs = _read(spark, sf_dir, name)
        assert jobs == 0, name


def test_unknown_table_is_an_error(spark, sf_dir):
    with pytest.raises(KeyError):
        table(spark, sf_dir, "partsupp")


def _events(ts: pa.Array) -> pa.Table:
    n = len(ts)
    return pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": ts,
            "user_id": pa.array([7] * n, pa.int64()),
            "event_type": pa.array(["view"] * n),
            "value": pa.array([1.0] * n),
            "props": pa.array([None] * n, pa.string()),
        }
    )


def _ts_micros(df) -> list[int]:
    return [r[0] for r in df.orderBy("event_id").select(F.unix_micros("ts")).collect()]


@pytest.fixture
def nanos_conf(spark):
    """Unset the nanos conf for the test, restore it afterwards."""
    saved = spark.conf.get(NANOS_CONF, None)
    spark.conf.unset(NANOS_CONF)
    yield
    if saved is None:
        spark.conf.unset(NANOS_CONF)
    else:
        spark.conf.set(NANOS_CONF, saved)


def test_events_nanos_file_truncates_exactly(spark, tmp_path, nanos_conf):
    """A TIMESTAMP(NANOS) ``ts`` reads as TIMESTAMP, each value the
    nanos ``div 1000``.  The values exceed 2^53 ns and have sub-micro
    digits, so a float division would show."""
    ns = [1_704_067_200_123_456_789, 1_704_067_200_123_456_001, 1_735_689_599_999_999_999]
    pq.write_table(_events(pa.array(ns, pa.timestamp("ns"))), tmp_path / "events.parquet")
    df, jobs = _read(spark, str(tmp_path), "events")
    assert jobs == 0
    assert spark.conf.get(NANOS_CONF) == "true"
    assert isinstance(df.schema["ts"].dataType, TimestampType)
    assert _ts_micros(df) == [v // 1000 for v in ns]


@pytest.mark.parametrize("layout", ["micros", "spark_int96"])
def test_events_micros_file_reads_declared_schema(spark, tmp_path, nanos_conf, layout):
    """Micros ``ts`` (and Spark's default INT96 output, which pyarrow
    alone would report as nanos) reads through the declared schema:
    no job, no nanos conf, values unchanged."""
    us = [1_704_067_200_123_456, 1_735_689_599_999_999]
    path = tmp_path / "events.parquet"
    if layout == "micros":
        pq.write_table(_events(pa.array(us, pa.timestamp("us"))), path)
    else:  # a session-zone TIMESTAMP column, which Spark writes as INT96
        spark.createDataFrame(list(enumerate(us)), "event_id long, us long").select(
            "event_id",
            F.timestamp_micros("us").alias("ts"),
            F.lit(7).cast("long").alias("user_id"),
            F.lit("view").alias("event_type"),
            F.lit(1.0).alias("value"),
            F.lit(None).cast("string").alias("props"),
        ).coalesce(1).write.parquet(str(path))
        part = glob.glob(str(path / "*.parquet"))[0]
        assert pq.ParquetFile(part).metadata.schema.column(1).physical_type == "INT96"
    df, jobs = _read(spark, str(tmp_path), "events")
    assert jobs == 0
    assert spark.conf.get(NANOS_CONF, None) is None
    assert isinstance(df.schema["ts"].dataType, TimestampType)
    assert _ts_micros(df) == us
