"""Named query plans — the driver-facing battery (SURVEY.md §2).

Each query is registered as ``QueryDef(name, fn, oracle, tags)`` where
``fn(spark, sf_dir) -> DataFrame`` is the Spark plan and ``oracle`` is
the equivalent ANSI SQL for the DuckDB oracle (or None for ops that are
not SQL-expressible — the driver then records a rows-only check).

Column-name contract: every computed column is aliased identically in
the Spark plan and the oracle SQL (the driver sorts columns by name
before hashing values).  Float aggregates are rounded at the same
decimal in both to make the hash robust to summation-order ULPs.
"""

from __future__ import annotations

import uuid
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass
class QueryDef:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, QueryDef] = {}


def register(name: str, oracle: str | None, *tags: str):
    """Decorator: add a query to the global registry."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QueryDef(name=name, fn=fn, oracle=oracle, tags=tags)
        return fn

    return deco


def all_queries() -> dict[str, QueryDef]:
    """Import every plans module and return the full registry."""
    from finance_etl_pipeline_spark.plans import (  # noqa: F401
        asof_plans,
        behavior,
        bi_shapes,
        complex_shapes,
        curation,
        diversity,
        emb_neardup,
        etl_extras,
        events,
        governance,
        importance,
        ivf,
        lake,
        llm,
        lm,
        market,
        mmr,
        pq,
        quality,
        quantized,
        regression,
        relational,
        robust,
        sampling,
        scalars,
        semdedup,
        skew_shapes,
        spans,
        subqueries,
        supplier_shapes,
        text_rank,
        tpch_more,
        tpch_rest,
    )

    return REGISTRY


_JOB_GROUP_KEYS = (
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
)


def build_counting_jobs(
    qdef: QueryDef, spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, int]:
    """Build ``qdef``'s DataFrame and count the Spark jobs that ran
    while building it (schema inference, eager pins, collects,
    manifest commits).  The build runs under its own job group; the
    caller's job group is restored afterwards."""
    sc = spark.sparkContext
    group = f"build:{qdef.name}:{uuid.uuid4().hex}"
    saved = [sc.getLocalProperty(k) for k in _JOB_GROUP_KEYS]
    sc.setJobGroup(group, group)
    try:
        df = qdef.fn(spark, sf_dir)
    finally:
        for key, value in zip(_JOB_GROUP_KEYS, saved):
            sc.setLocalProperty(key, value)
    # the status store is fed by the asynchronous listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return df, len(sc.statusTracker().getJobIdsForGroup(group))
