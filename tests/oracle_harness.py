"""Local mirror of the driver's DuckDB-oracle correctness check.

Runs a registered Spark query and its oracle SQL side by side and
compares row count, column names, and order-insensitive values (with a
small float tolerance — the driver uses a value hash, so we are
stricter locally than the driver only in reporting, not in semantics).
"""

from __future__ import annotations

import math
import os

import duckdb

from finance_etl_pipeline_spark.plans import build_counting_jobs

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
    return con


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        # deliberately NO tolerance: every query's rounding goes through
        # the shared fround formula, and all 79 oracles measured
        # bit-exact at sf0.01 — keep the local gate as strict as any
        # driver-side value hash
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, bool):
        return bool(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(_norm_cell(x) for x in v)
    return v


def _normalize(rows: list[tuple], columns: list[str]) -> list[tuple]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return out


def _dtype_kinds(pdf) -> dict:
    """Column → coarse dtype kind ('int', 'float', 'bool', 'obj').

    The driver's value hash is computed over the pandas frames, and
    pandas hashing is dtype-sensitive: an int64 5 and a float64 5.0
    hash differently even though Python compares them equal.  DuckDB
    silently widens integer SUM() to HUGEINT, which pandas renders as
    float64 — so an oracle `sum(int_col)` vs Spark's LongType is a
    guaranteed driver hash-mismatch with identical values.  This check
    catches that class locally (round-1 postmortem: all 8 driver
    hash-failures had exactly this shape)."""
    kinds = {}
    for c in pdf.columns:
        k = pdf[c].dtype.kind
        kinds[c] = {
            "i": "int",
            "u": "int",
            "f": "float",
            "b": "bool",
        }.get(k, "obj")
    return kinds


_SPARK_KIND = {
    "byte": "int",
    "short": "int",
    "int": "int",
    "integer": "int",
    "long": "int",
    "bigint": "int",
    "float": "float",
    "double": "float",
    "boolean": "bool",
}


def _spark_kinds(sdf) -> dict:
    """Spark schema → the pandas dtype kind toPandas() would produce
    (computed from the schema, not a job, so it is Arrow-independent)."""
    return {
        f.name: _SPARK_KIND.get(f.dataType.typeName(), "obj")
        for f in sdf.schema.fields
    }


def compare(spark, qdef, sf_dir: str) -> dict:
    """Returns {'name', 'ok', 'detail', 'build_jobs'} for one QueryDef;
    ``build_jobs`` counts the Spark jobs run while ``qdef.fn`` built
    the DataFrame."""
    sdf, build_jobs = build_counting_jobs(qdef, spark, sf_dir)
    out = _compare(sdf, qdef, sf_dir)
    out["build_jobs"] = build_jobs
    return out


def _compare(sdf, qdef, sf_dir: str) -> dict:
    s_cols = list(sdf.columns)
    s_rows = [tuple(r) for r in sdf.collect()]
    if qdef.oracle is None:
        return {
            "name": qdef.name,
            "ok": True,
            "detail": f"rows-only check: {len(s_rows)} rows",
        }
    con = duck_connection(sf_dir)
    res = con.execute(qdef.oracle)
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()

    # driver-style dtype parity on the pandas frames both engines
    # would hand the hash (see _dtype_kinds).  LIMIT 0 keeps the dtype
    # mapping (HUGEINT → float64 even on an empty frame) without
    # re-evaluating the oracle.
    s_kinds = _spark_kinds(sdf)
    d_kinds = _dtype_kinds(
        con.execute(f"SELECT * FROM ({qdef.oracle}) __t LIMIT 0").df()
    )
    kind_diff = {
        c: (s_kinds.get(c), d_kinds.get(c))
        for c in set(s_kinds) | set(d_kinds)
        if s_kinds.get(c) != d_kinds.get(c)
    }
    if kind_diff:
        return {
            "name": qdef.name,
            "ok": False,
            "detail": f"pandas dtype kinds differ (spark, duck): {kind_diff}",
        }

    if sorted(s_cols) != sorted(d_cols):
        return {
            "name": qdef.name,
            "ok": False,
            "detail": f"columns differ: spark={sorted(s_cols)} duck={sorted(d_cols)}",
        }
    if len(s_rows) != len(d_rows):
        return {
            "name": qdef.name,
            "ok": False,
            "detail": f"row count differs: spark={len(s_rows)} duck={len(d_rows)}",
        }
    sn = _normalize(s_rows, s_cols)
    dn = _normalize(d_rows, d_cols)
    for i, (a, b) in enumerate(zip(sn, dn)):
        if a != b:
            return {
                "name": qdef.name,
                "ok": False,
                "detail": f"row {i} differs (sorted order):\n  spark={a}\n  duck ={b}",
            }
    return {"name": qdef.name, "ok": True, "detail": f"{len(s_rows)} rows match"}
