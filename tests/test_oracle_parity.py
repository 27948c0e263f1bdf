"""Every registered query must match its DuckDB oracle at the test SF.

This mirrors the driver's t2 gate (which runs at sf0.01) so breakage is
caught locally before a round ends.
"""

from __future__ import annotations

import pytest

from finance_etl_pipeline_spark.plans import all_queries
from tests.oracle_harness import compare

QUERIES = all_queries()

# Building a query's DataFrame should start no Spark job: a job at
# build time is paid by every call of the query's fn, including an
# explain() or a walk over the registry that executes nothing.
# These queries still run jobs while building, each up to its adjudicated
# maximum: the largest count seen at sf0.001 on local[2], local[4] and
# local[8] and at sf0.01 on local[4].  The list only shrinks: an entry
# whose query builds with 0 jobs fails until it is removed.
_COMMITS = "manifest lifecycle: builds and commits its lake table by contract"
_TRAINS = "IVF/PQ/PCA/k-means/BPE/logreg model trains at build by contract"
_SCALAR = "a scalar collected at build (limit-1 count, first()) shapes the plan"
_PIN = (
    "localCheckpoint pin materializes at build (eagerly, or AQE runs the "
    "shuffle stages of a lazy one), pending one pin() helper"
)
BUILD_JOBS_ALLOWED: dict[str, tuple[int, str]] = {
    "a_exists_flag": (2, _SCALAR),
    "ann_ivf_delete_sync": (43, _COMMITS),
    "ann_ivf_persisted_topk": (17, _TRAINS),
    "ann_ivf_probe_sweep": (5, _TRAINS),
    "ann_ivf_reclustered_cells": (39, _TRAINS),
    "ann_pca_topk": (4, _TRAINS),
    "ann_pq_adc_topk": (7, _TRAINS),
    "ann_pq_rerank_topk": (5, _TRAINS),
    "bi_rfm_migration": (3, _PIN),
    "dd_cluster_size_histogram": (19, _PIN),
    "dd_containment_pairs": (2, _PIN),
    "dd_dedup_clusters": (19, _PIN),
    "dd_dedup_impact_report": (19, _PIN),
    "dd_incremental_neardup": (4, _PIN),
    "dd_keeper_policy": (19, _PIN),
    "dd_lsh_band_sweep": (4, _PIN),
    "dd_lsh_recall_eval": (4, _PIN),
    "dd_minhash_estimate_calibration": (4, _PIN),
    "dd_minhash_lsh_pairs": (4, _PIN),
    "dd_ngram_jaccard_pairs": (2, _PIN),
    "dd_repeated_spans": (2, _PIN),
    "dd_semantic_dedup": (8, _TRAINS),
    "dd_simhash_hamming_histogram": (3, _PIN),
    "dd_simhash_neardup": (3, _PIN),
    "dd_winnow_fingerprints": (2, _PIN),
    "emb_dim_truncation_recall": (9, _PIN),
    "emb_kmeans_clusters": (8, _TRAINS),
    "emb_mmr_diversified_topk": (44, _PIN),
    "graph_bfs_hops": (3, _PIN),
    "graph_hits_authorities": (44, _PIN),
    "graph_pagerank_copurchase": (22, _PIN),
    "graph_triangle_count": (2, _PIN),
    "manifest_asof_read": (3, _COMMITS),
    "manifest_bloom_point_read": (2, _COMMITS),
    "manifest_catalog_named_table": (2, _COMMITS),
    "manifest_catalog_view": (2, _COMMITS),
    "manifest_changefeed_rows": (2, _COMMITS),
    "manifest_changes_classify": (2, _COMMITS),
    "manifest_checkpointed_travel": (3, _COMMITS),
    "manifest_clone_cow_read": (16, _COMMITS),
    "manifest_compact_where_read": (4, _COMMITS),
    "manifest_compacted_read": (9, _COMMITS),
    "manifest_conflict_rebase_rewrites": (
        9,
        _COMMITS + "; 2 repartitioned commits x 2 jobs (shuffle map, "
        "write) + 1 update_where write + 2 partition-preserving "
        "compact_where x 2 jobs (shuffle map, write)",
    ),
    "manifest_constraint_gate_read": (6, _COMMITS),
    "manifest_convert_parquet": (2, _COMMITS),
    "manifest_copy_into_idempotent": (8, _COMMITS),
    "manifest_evolved_pruned_read": (4, _COMMITS),
    "manifest_merge_read": (16, _COMMITS),
    "manifest_merge_small_delta": (21, _COMMITS),
    "manifest_mor_delete_read": (2, _COMMITS),
    "manifest_partition_agg": (2, _COMMITS),
    "manifest_partition_filter_agg": (1, _COMMITS),
    "manifest_plain_scan": (4, _COMMITS),
    "manifest_pruned_read_200f": (4, _COMMITS),
    "manifest_rename_drop_read": (4, _COMMITS),
    "manifest_restore_table": (3, _COMMITS),
    "manifest_sql_lifecycle": (4, _COMMITS),
    "manifest_sql_merge_read": (16, _COMMITS),
    "manifest_sql_pruned_read": (3, _COMMITS),
    "manifest_sql_time_travel": (10, _COMMITS),
    "manifest_sql_update_delete_read": (2, _COMMITS),
    "manifest_stats_agg": (2, _COMMITS),
    "manifest_stream_capped_drain": (6, _COMMITS),
    "manifest_stream_drain_availablenow": (6, _COMMITS),
    "manifest_update_read": (2, _COMMITS),
    "prof_source_overlap": (4, _PIN),
    "q22_global_sales_opportunity": (2, _SCALAR),
    "s_leakage_safe_split": (19, _PIN),
    "tx_bpe_fertility": (23, _TRAINS),
    "tx_bpe_merges": (23, _TRAINS),
    "tx_ngram_novelty_curve": (6, _PIN),
    "tx_quality_classifier_train": (8, _TRAINS),
    "u_upsert_merge": (2, _COMMITS),
}


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, sf_dir, name):
    result = compare(spark, QUERIES[name], sf_dir)
    assert result["ok"], f"{name}: {result['detail']}"
    jobs = result["build_jobs"]
    allowed, reason = BUILD_JOBS_ALLOWED.get(name, (0, None))
    assert jobs <= allowed, (
        f"{name}: building the DataFrame ran {jobs} Spark jobs (allowed "
        f"{allowed}); keep plan construction lazy, or adjudicate the "
        "query in BUILD_JOBS_ALLOWED with a reason"
    )
    assert not (reason and jobs == 0), (
        f"{name} now builds with 0 Spark jobs: remove it from BUILD_JOBS_ALLOWED"
    )


def test_build_jobs_allowlist_names_registered_queries():
    assert set(BUILD_JOBS_ALLOWED) <= set(QUERIES)


def test_session_gap_exact_boundary_cross_engine(spark, tmp_path):
    """Events exactly 30 minutes apart must stay in ONE session in
    both engines: Spark session_window's merge boundary is INCLUSIVE
    (an event at lastEvent + gap still extends the session — verified
    here empirically, contradicting the half-open-window reading), so
    the gaps-and-islands oracle must use strict > INTERVAL 30 MINUTE.
    Constructed boundary data — the testdata's microsecond timestamps
    never land on the boundary naturally."""
    import duckdb
    from pyspark.sql import functions as F

    rows = [
        (1, 100, "2024-01-01 00:00:00", "view", 1.0),
        (2, 100, "2024-01-01 00:30:00", "view", 1.0),  # exactly 30m
        (3, 100, "2024-01-01 00:59:59", "view", 1.0),  # 29m59s after
        (4, 200, "2024-01-01 00:00:00", "view", 1.0),
        (5, 200, "2024-01-01 00:29:59", "purchase", 1.0),  # within gap
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts_s string, event_type string, value double"
    ).select(
        "event_id", "user_id",
        F.to_timestamp("ts_s").alias("ts"), "event_type", "value",
    )
    spark_sessions = (
        df.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", "n")
        .orderBy("user_id", "n")
        .collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE ev (event_id BIGINT, user_id BIGINT, ts TIMESTAMP, event_type VARCHAR)"
    )
    for e, u, t, et, _ in rows:
        con.execute("INSERT INTO ev VALUES (?, ?, ?, ?)", [e, u, t, et])
    oracle = con.execute(
        """
        WITH ordered AS (
          SELECT user_id, ts,
                 CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                           > INTERVAL 30 MINUTE
                      OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                      THEN 1 ELSE 0 END AS is_new
          FROM ev
        ),
        s AS (
          SELECT user_id,
                 sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS session_no
          FROM ordered
        )
        SELECT user_id, count(*) AS n FROM s
        GROUP BY user_id, session_no ORDER BY user_id, n
        """
    ).fetchall()
    got = [(r["user_id"], r["n"]) for r in spark_sessions]
    # user 100: ONE session of 3 (the exact-boundary event merges)
    assert got == [(100, 3), (200, 2)], got
    assert got == [tuple(r) for r in oracle]


def test_concurrent_sessions_subsecond_hour_boundary(spark):
    """Regression (review finding): bucketing on unix_timestamp()
    truncated to whole seconds, so a session crossing an hour boundary
    only within its fractional-second tail never claimed the last hour
    bucket and overlaps confined there were missed.  Constructed
    counterexample: sessions [09:30:00.2, 10:00:00.2) and
    [10:00:00.1, 10:30:00.1) overlap for 0.1s past the 10:00 boundary."""
    import duckdb
    from pyspark.sql import functions as F

    rows = [
        (1, 1, "2024-01-01 09:30:00.200000", "view", 1.0),
        (2, 2, "2024-01-01 10:00:00.100000", "view", 1.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts_s string, event_type string, value double"
    ).select(
        "event_id", "user_id", F.to_timestamp("ts_s").alias("ts"),
        "event_type", "value",
    )
    iv = (
        df.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", F.col("w.start").alias("s_start"),
                F.col("w.end").alias("s_end"))
    )
    bucket = F.explode(
        F.sequence(
            F.floor(F.unix_micros("s_start") / 3_600_000_000),
            F.floor((F.unix_micros("s_end") - 1) / 3_600_000_000),
        )
    )
    binned = iv.select("user_id", "s_start", "s_end", bucket.alias("b"))
    a = binned.select(F.col("user_id").alias("ua"), F.col("s_start").alias("as_"),
                      F.col("s_end").alias("ae"), "b")
    b = binned.select(F.col("user_id").alias("ub"), F.col("s_start").alias("bs"),
                      F.col("s_end").alias("be"), "b")
    got = (
        a.join(b, ["b"])
        .filter(F.col("ua") < F.col("ub"))
        .filter((F.col("as_") < F.col("be")) & (F.col("bs") < F.col("ae")))
        .select("ua", "ub")
        .distinct()
        .collect()
    )
    assert [(r["ua"], r["ub"]) for r in got] == [(1, 2)]
