"""Readers (SURVEY.md §2.1 S1, S2).

Reference behavior replicated:
- CSV scan fails fast on a missing path (reference io_utils.py:8-11).
- Parquet scan returns an *empty, correctly-typed* DataFrame when the
  path is missing (reference scripts/export_bi_datasets.py:11-12) —
  downstream month-filters and joins then no-op instead of crashing.

Scale notes: explicit schemas avoid the inference job, a Spark job
that opens file footers before any query runs (a listing-sized scan at
100 TB).  ``table()`` reads each testdata table with its
``schemas.TESTDATA`` declaration, so building a plan on those tables
starts no Spark job at all.  The one choice that depends on the files,
whether ``events.ts`` holds nanoseconds, is made from one parquet footer
read with pyarrow.  PERMISSIVE CSV mode with a ``_corrupt_record``
column keeps bad rows visible to the DQ layer instead of silently
dropping them.
"""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from finance_etl_pipeline_spark import schemas


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType,
    timestamp_format: str | None = None,
) -> DataFrame:
    """Schema-first CSV scan; raises FileNotFoundError on missing path."""
    if not os.path.exists(path):
        raise FileNotFoundError(f"missing input: {path}")
    reader = (
        spark.read.option("header", "true")
        .option("mode", "PERMISSIVE")
        .schema(schema)
    )
    if timestamp_format:
        reader = reader.option("timestampFormat", timestamp_format)
    return reader.csv(path)


def read_parquet(
    spark: SparkSession, path: str, empty_schema: StructType | None = None
) -> DataFrame:
    """Parquet scan; optional empty-DataFrame fallback for missing paths."""
    if not os.path.exists(path):
        if empty_schema is not None:
            return spark.createDataFrame([], empty_schema)
        raise FileNotFoundError(f"missing input: {path}")
    return spark.read.parquet(path)


# the driver testdata catalog (TESTDATA.md) — what `cli.py sql`
# registers as temp views
TABLES = tuple(schemas.TESTDATA)

# events as a TIMESTAMP(NANOS) file reads under the nanosAsLong conf
_EVENTS_NANOS = StructType(
    [
        StructField("ts", LongType()) if f.name == "ts" else f
        for f in schemas.EVENTS.fields
    ]
)


def _ts_is_nanos(path: str) -> bool:
    """Whether ``events.ts`` at ``path`` is INT64 TIMESTAMP(NANOS).

    Reads one parquet footer with pyarrow, so it starts no Spark job.
    INT96 timestamps (Spark's default output type) are coerced to
    micros here so they are not mistaken for nanos: Spark reads them
    through the declared TIMESTAMP_NTZ.  A directory is judged by its
    first data file; a missing or empty path takes the declared branch
    and fails or reads empty in Spark as usual.
    """
    if os.path.isfile(path):
        files = [path]
    else:
        files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return False
    with pq.ParquetFile(files[0], coerce_int96_timestamp_unit="us") as pf:
        return pf.schema_arrow.field("ts").type.unit == "ns"


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table (FIXTURES.md §B) with its declared
    ``schemas.TESTDATA`` schema, so building the DataFrame starts no
    Spark job.  ``name`` must be a ``TESTDATA`` key (``KeyError``
    otherwise).

    ``events.ts`` may be stored as parquet TIMESTAMP(NANOS), which
    Spark 4 refuses to read as a timestamp.  The parquet footer decides
    (``_ts_is_nanos``).  On that branch only, ``ts`` is read as a
    nanosecond long under the ``nanosAsLong`` legacy conf and truncated
    to microseconds with exact integer division (``div``, not ``/``:
    ns-epoch values exceed the 53-bit double mantissa, so float
    division would corrupt them).  DuckDB performs the same ns→us
    truncation, keeping the oracle in bit-parity.  Otherwise ``ts``
    reads as the declared TIMESTAMP_NTZ and is cast to the
    session-zone TIMESTAMP — an identity on the underlying micros under
    the engine's fixed UTC session zone (session.py), and the type
    every downstream consumer (``unix_micros``, watermarks, the
    streaming twins) expects.
    """
    schema = schemas.TESTDATA[name]
    path = os.path.join(sf_dir, f"{name}.parquet")
    ts = None
    if name == "events":
        if _ts_is_nanos(path):
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            schema, ts = _EVENTS_NANOS, F.timestamp_micros(F.expr("ts div 1000"))
        else:
            ts = F.col("ts").cast("timestamp")
    df = spark.read.schema(schema).parquet(path)
    return df if ts is None else df.withColumn("ts", ts)


def read_json(
    spark: SparkSession, path: str, schema: StructType
) -> DataFrame:
    """Schema-first line-delimited JSON scan (no inference pass)."""
    if not os.path.exists(path):
        raise FileNotFoundError(f"missing input: {path}")
    return spark.read.schema(schema).json(path)


def spread(df: DataFrame, factor: int = 1) -> DataFrame:
    """Ensure a DataFrame has at least cores×factor partitions.

    Small single-file inputs (the testdata doc/embedding tables are
    <1 MB) scan as ONE partition, serializing expression-heavy stages
    (measured: the sf0.1 shingle+md5 stage ran 8.7 s on one core).
    Repartitioning costs a trivial shuffle for such inputs.  Inputs
    that already have enough partitions (any real-scale table) pass
    through untouched — this never repartitions big data.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism * factor
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Load several testdata tables at once."""
    if not names:
        names = tuple(schemas.TESTDATA)
    return {n: table(spark, sf_dir, n) for n in names}


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan; same fail-fast contract as read_parquet (predicate
    pushdown and column pruning work the same way — ORC carries
    min/max stride indexes Catalyst pushes filters into)."""
    if not os.path.exists(path):
        raise FileNotFoundError(f"missing input: {path}")
    return spark.read.orc(path)
