"""Explicit StructType schemas for every table the engine touches.

The reference pipeline never infers schemas — every CSV read passes
``dtype=`` overrides so codes stay strings (reference:
src/finance_etl/pipeline.py:69-101).  We follow the same rule: explicit
``StructType`` everywhere, which also saves Spark the inference pass
(a full extra scan of the input at 100 TB).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)


def _st(fields: list[tuple[str, object, bool]]) -> StructType:
    return StructType([StructField(n, t, nullable=b) for n, t, b in fields])


# ---------------------------------------------------------------------------
# Finance raw inputs (reference parity; schemas per FIXTURES.md §A,
# transcribed from the pandera declarations at reference quality.py:16-95)
# ---------------------------------------------------------------------------

SALES = _st(
    [
        ("date", TimestampType(), True),
        ("entity", StringType(), True),
        ("invoice_id", StringType(), True),
        ("account_code", StringType(), True),
        ("currency", StringType(), True),
        ("amount", DoubleType(), True),
        ("description", StringType(), True),
    ]
)

EXPENSES = _st(
    [
        ("date", TimestampType(), True),
        ("entity", StringType(), True),
        ("bill_id", StringType(), True),
        ("account_code", StringType(), True),
        ("currency", StringType(), True),
        ("amount", DoubleType(), True),
        ("description", StringType(), True),
    ]
)

PAYROLL = _st(
    [
        ("month", StringType(), True),
        ("entity", StringType(), True),
        ("employee_id", StringType(), True),
        ("currency", StringType(), True),
        ("gross", DoubleType(), True),
        ("deductions", DoubleType(), True),
        ("net", DoubleType(), True),
    ]
)

INVENTORY = _st(
    [
        ("date", TimestampType(), True),
        ("entity", StringType(), True),
        ("sku", StringType(), True),
        ("movement_type", StringType(), True),
        ("qty", DoubleType(), True),
        ("unit_cost", DoubleType(), True),
        ("currency", StringType(), True),
    ]
)

FX_RATES = _st(
    [
        ("date", TimestampType(), True),
        ("from_currency", StringType(), True),
        ("to_currency", StringType(), True),
        ("rate", DoubleType(), True),
    ]
)

CHART_OF_ACCOUNTS = _st(
    [
        ("account_code", StringType(), True),
        ("account_name", StringType(), True),
        ("account_type", StringType(), True),
    ]
)

FINANCE_RAW = {
    "sales": SALES,
    "expenses": EXPENSES,
    "payroll": PAYROLL,
    "inventory_movements": INVENTORY,
    "fx_rates": FX_RATES,
}

# DQ exception canonical schema (reference quality.py:106-114 +
# severity at pipeline.py:148-160).
# row_id is a STRING natural key (operators/quality.py contract) — a
# pandas-style integer index is not stable under Spark partitioning
DQ_EXCEPTIONS = _st(
    [
        ("dataset", StringType(), True),
        ("row_id", StringType(), True),
        ("column", StringType(), True),
        ("check", StringType(), True),
        ("failure_case", StringType(), True),
        ("schema_context", StringType(), True),
        ("check_number", IntegerType(), True),
        ("severity", StringType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Testdata tables (FIXTURES.md §B).  Declared exactly as the parquet
# files store them (timestamps are TIMESTAMP_NTZ), because sources/readers.py
# reads every one of them with this schema instead of inferring it.
# ---------------------------------------------------------------------------

REGION = _st([("r_regionkey", IntegerType(), True), ("r_name", StringType(), True)])

NATION = _st(
    [
        ("n_nationkey", IntegerType(), True),
        ("n_name", StringType(), True),
        ("n_regionkey", IntegerType(), True),
    ]
)

CUSTOMER = _st(
    [
        ("c_custkey", LongType(), True),
        ("c_name", StringType(), True),
        ("c_nationkey", IntegerType(), True),
        ("c_acctbal", DoubleType(), True),
        ("c_mktsegment", StringType(), True),
    ]
)

SUPPLIER = _st(
    [
        ("s_suppkey", LongType(), True),
        ("s_name", StringType(), True),
        ("s_nationkey", IntegerType(), True),
        ("s_acctbal", DoubleType(), True),
    ]
)

PART = _st(
    [
        ("p_partkey", LongType(), True),
        ("p_name", StringType(), True),
        ("p_brand", StringType(), True),
        ("p_type", StringType(), True),
        ("p_size", IntegerType(), True),
        ("p_retailprice", DoubleType(), True),
    ]
)

ORDERS = _st(
    [
        ("o_orderkey", LongType(), True),
        ("o_custkey", LongType(), True),
        ("o_orderstatus", StringType(), True),
        ("o_totalprice", DoubleType(), True),
        ("o_orderdate", TimestampNTZType(), True),
        ("o_orderpriority", StringType(), True),
    ]
)

LINEITEM = _st(
    [
        ("l_orderkey", LongType(), True),
        ("l_partkey", LongType(), True),
        ("l_suppkey", LongType(), True),
        ("l_linenumber", IntegerType(), True),
        ("l_quantity", DoubleType(), True),
        ("l_extendedprice", DoubleType(), True),
        ("l_discount", DoubleType(), True),
        ("l_tax", DoubleType(), True),
        ("l_returnflag", StringType(), True),
        ("l_linestatus", StringType(), True),
        ("l_shipdate", TimestampNTZType(), True),
    ]
)

EVENTS = _st(
    [
        ("event_id", LongType(), True),
        ("ts", TimestampNTZType(), True),
        ("user_id", LongType(), True),
        ("event_type", StringType(), True),
        ("value", DoubleType(), True),
        ("props", StringType(), True),
    ]
)

DOCUMENTS = _st(
    [
        ("doc_id", LongType(), True),
        ("text", StringType(), True),
        ("lang", StringType(), True),
        ("source", StringType(), True),
        ("n_chars", LongType(), True),
    ]
)

EMBEDDINGS = _st(
    [
        ("vec_id", LongType(), True),
        ("embedding", ArrayType(FloatType()), True),
        ("label", IntegerType(), True),
    ]
)

TESTDATA = {
    "region": REGION,
    "nation": NATION,
    "customer": CUSTOMER,
    "supplier": SUPPLIER,
    "part": PART,
    "orders": ORDERS,
    "lineitem": LINEITEM,
    "events": EVENTS,
    "documents": DOCUMENTS,
    "embeddings": EMBEDDINGS,
}
