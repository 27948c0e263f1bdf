"""Manifest log: time travel, overwrite isolation, optimistic-commit
races, and vacuum safety on plain parquet."""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F

from finance_etl_pipeline_spark.operators import manifest as M
from finance_etl_pipeline_spark.sources.readers import table


def test_append_time_travel_and_overwrite(spark, sf_dir, tmp_path):
    t = str(tmp_path / "tbl")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    a = o.filter(F.col("o_orderkey") % 2 == 0)
    b = o.filter(F.col("o_orderkey") % 2 == 1)

    v1 = M.commit(a, t)
    v2 = M.commit(b, t)
    assert (v1, v2) == (1, 2)
    assert M.read_version(spark, t, 1).count() == a.count()
    assert M.read_version(spark, t, 2).count() == o.count()
    assert M.read_version(spark, t).count() == o.count()  # latest

    # overwrite starts a fresh set; v2 stays readable (isolation)
    v3 = M.commit(a.limit(10), t, mode="overwrite")
    assert v3 == 3
    assert M.read_version(spark, t, 3).count() == 10
    assert M.read_version(spark, t, 2).count() == o.count()


def test_optimistic_commit_race_retries(spark, sf_dir, tmp_path):
    t = str(tmp_path / "tbl")
    o = table(spark, sf_dir, "orders").select("o_orderkey")
    M.commit(o.limit(5), t)
    # simulate a concurrent committer winning v2: pre-create it
    os.makedirs(os.path.join(t, "_manifests"), exist_ok=True)
    with open(os.path.join(t, "_manifests", "v000002.json"), "w") as fh:
        json.dump({"version": 2, "dirs": [], "mode": "append"}, fh)
    v = M.commit(o.limit(3), t)
    assert v == 3  # lost the race for 2, landed at 3
    # the retried manifest was computed against the tip it lost to
    assert M.read_version(spark, t, 3).count() == 3  # [] from v2 + 3 new


def test_vacuum_drops_only_expired_versions(spark, sf_dir, tmp_path):
    t = str(tmp_path / "tbl")
    o = table(spark, sf_dir, "orders").select("o_orderkey")
    M.commit(o.limit(4), t)
    M.commit(o.limit(6), t, mode="overwrite")
    M.commit(o.limit(2), t)  # v3 = v2's files + 2 more
    removed = M.vacuum(t, keep_last=2, retention_seconds=0.0)
    # v1's data dir is unreferenced by v2/v3 and must be gone
    assert len(removed) == 1
    assert M.latest_version(t) == 3
    assert M.read_version(spark, t, 3).count() == 8
    assert M.read_version(spark, t, 2).count() == 6
    # v1 is expired: manifest removed
    assert not os.path.exists(os.path.join(t, "_manifests", "v000001.json"))


def test_vacuum_never_committed_table_is_noop(tmp_path):
    assert M.vacuum(str(tmp_path / "nonexistent")) == []


def test_vacuum_retention_protects_in_flight_commit(spark, sf_dir, tmp_path):
    """commit() writes data files BEFORE publishing the manifest; a
    concurrent vacuum must not delete that young unreferenced dir —
    the default retention window keeps it until the commit publishes."""
    t = str(tmp_path / "tbl")
    o = table(spark, sf_dir, "orders").select("o_orderkey")
    M.commit(o.limit(4), t)
    # simulate the window: a data dir exists, its manifest does not yet
    in_flight = os.path.join(t, "data", "commit-inflight00000")
    o.limit(3).write.parquet(in_flight)
    assert M.vacuum(t, keep_last=1) == []  # default retention: survives
    assert os.path.isdir(in_flight)
    # with retention waived (no concurrent writers), it is collectable
    removed = M.vacuum(t, keep_last=1, retention_seconds=0.0)
    assert removed == [os.path.join("data", "commit-inflight00000")]


def test_changes_between_versions(spark, sf_dir, tmp_path):
    t = str(tmp_path / "tbl")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    base = o.filter(F.col("o_orderkey") % 3 == 0)
    M.commit(base, t)
    # v2 = v1 + a disjoint slice appended
    extra = o.filter(F.col("o_orderkey") % 3 == 1).limit(7)
    M.commit(extra, t)
    ch = M.changes(spark, t, ["o_orderkey"], 1, 2)
    counts = {r.change_type: r.n for r in ch.groupBy("change_type").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts.get("added", 0) == 7
    assert counts.get("removed", 0) == 0
    assert counts.get("changed", 0) == 0
    assert counts.get("unchanged", 0) == base.count()


def test_concurrent_commits_all_land(spark, sf_dir, tmp_path):
    """Real contention (not the simulated race): 6 threads commit
    concurrently; every commit must land under a distinct version and
    the final table must contain every thread's rows exactly once."""
    from concurrent.futures import ThreadPoolExecutor

    t = str(tmp_path / "tbl")
    o = table(spark, sf_dir, "orders").select("o_orderkey")

    def commit_slice(i):
        return M.commit(o.filter(F.col("o_orderkey") % 6 == i), t)

    with ThreadPoolExecutor(max_workers=6) as ex:
        versions = sorted(ex.map(commit_slice, range(6)))
    assert versions == [1, 2, 3, 4, 5, 6]
    final = M.read_version(spark, t)
    assert final.count() == o.count()
    assert final.distinct().count() == o.count()


def test_lost_update_impossible_on_publish_race(spark, sf_dir, tmp_path):
    """Deterministic interleaving: a competing manifest lands AFTER
    the victim composes its payload but BEFORE it publishes.  The
    retry must recompose against the winner's manifest — the winner's
    data dirs may never vanish from the lineage."""
    from finance_etl_pipeline_spark.operators.manifest import (
        _publish,
        _read_manifest,
    )

    t = str(tmp_path / "tbl")
    o = table(spark, sf_dir, "orders").select("o_orderkey")
    M.commit(o.limit(5), t)  # v1

    state = {"first": True}

    def build(prev):
        if state["first"]:
            state["first"] = False
            # the competing committer wins v2 mid-compose
            with open(os.path.join(t, "_manifests", "v000002.json"), "w") as fh:
                json.dump(
                    {"version": 2, "dirs": ["data/winner"], "mode": "append"},
                    fh,
                )
            # victim composes against the stale tip it was handed
        base = [] if prev == 0 else list(_read_manifest(t, prev)["dirs"])
        return {"dirs": base + ["data/victim"], "mode": "append"}

    v = _publish(t, build)
    assert v == 3
    dirs = _read_manifest(t, 3)["dirs"]
    assert "data/winner" in dirs and "data/victim" in dirs


def test_file_skipping_scans_strict_subset(spark, sf_dir, tmp_path):
    """Per-file min/max stats in the manifest prune the scan: a
    selective predicate on a range-clustered table reads a STRICT
    subset of files (input_file_name-asserted on the actual scan, not
    just the metadata view), with answers identical to the unpruned
    read."""
    t = str(tmp_path / "tbl")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    M.commit(o.repartitionByRange(8, "o_orderkey"), t)

    all_files = M.files_for_version(t)
    assert len(all_files) == 8
    cutoff = o.approxQuantile("o_orderkey", [0.2], 0.01)[0]
    where = [("o_orderkey", "<=", int(cutoff))]

    pruned_files = M.files_for_version(t, where=where)
    assert 0 < len(pruned_files) < len(all_files)  # strict subset
    assert set(pruned_files) < set(all_files)

    df = M.read_version(spark, t, where=where)
    scanned = {
        r.f for r in df.select(F.input_file_name().alias("f")).distinct().collect()
    }
    assert len(scanned) <= len(pruned_files) < len(all_files)
    # pruning is an optimization, never a semantics change
    expect = o.filter(F.col("o_orderkey") <= int(cutoff))
    assert df.count() == expect.count()
    assert df.exceptAll(expect).count() == 0


def test_file_skipping_equality_and_empty_range(spark, sf_dir, tmp_path):
    t = str(tmp_path / "tbl")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    M.commit(o.repartitionByRange(6, "o_orderkey"), t)
    key = o.orderBy("o_orderkey").first().o_orderkey
    hits = M.files_for_version(t, where=[("o_orderkey", "==", int(key))])
    assert len(hits) == 1  # range-clustered: one file can hold the key
    got = M.read_version(spark, t, where=[("o_orderkey", "==", int(key))])
    assert got.count() == o.filter(F.col("o_orderkey") == int(key)).count()
    # a predicate outside the table's range prunes EVERYTHING
    none = M.read_version(spark, t, where=[("o_orderkey", "<", -1)])
    assert M.files_for_version(t, where=[("o_orderkey", "<", -1)]) == []
    assert none.count() == 0
    assert none.columns == ["o_orderkey", "o_totalprice"]


def test_schema_evolution_time_travel_and_changes(spark, sf_dir, tmp_path):
    """v1 without a column, v2 appends rows WITH it: time travel to v1
    returns the old schema unchanged; v2 reads old files with typed
    NULLs; changes(1, 2) classifies exactly the appended keys as
    added and leaves v1 rows unchanged (NULL == NULL for the new
    column on both sides of the diff)."""
    t = str(tmp_path / "tbl")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    base = o.filter(F.col("o_orderkey") % 3 == 0)
    M.commit(base, t)
    extra = (
        o.filter(F.col("o_orderkey") % 3 == 1)
        .limit(7)
        .withColumn("o_channel", F.lit("online"))
    )
    M.commit(extra, t)

    v1 = M.read_version(spark, t, 1)
    assert v1.columns == ["o_orderkey", "o_totalprice"]
    assert v1.count() == base.count()

    v2 = M.read_version(spark, t, 2)
    assert v2.columns == ["o_orderkey", "o_totalprice", "o_channel"]
    assert v2.count() == base.count() + 7
    assert v2.filter(F.col("o_channel").isNull()).count() == base.count()
    assert v2.filter(F.col("o_channel") == "online").count() == 7
    assert dict(v2.dtypes)["o_channel"] == "string"

    ch = M.changes(spark, t, ["o_orderkey"], 1, 2)
    counts = {
        r.change_type: r.n
        for r in ch.groupBy("change_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert counts.get("added", 0) == 7
    assert counts.get("changed", 0) == 0
    assert counts.get("removed", 0) == 0
    assert counts.get("unchanged", 0) == base.count()


def test_skipping_on_absent_column_prunes_old_commits(spark, sf_dir, tmp_path):
    """A predicate on a column added in v2 proves v1's files cannot
    match (the column reads as NULL there): only v2's files are
    scanned."""
    t = str(tmp_path / "tbl")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    M.commit(o.filter(F.col("o_orderkey") % 3 == 0), t)
    M.commit(
        o.filter(F.col("o_orderkey") % 3 == 1)
        .limit(7)
        .withColumn("o_channel", F.lit("online")),
        t,
    )
    v1_files = set(M.files_for_version(t, 1))
    hits = M.files_for_version(t, where=[("o_channel", "==", "online")])
    assert hits and not (set(hits) & v1_files)
    got = M.read_version(spark, t, where=[("o_channel", "==", "online")])
    assert got.count() == 7
    # is_not_null prunes the same way; is_null must KEEP v1's files
    assert not (
        set(M.files_for_version(t, where=[("o_channel", "is_not_null")]))
        & v1_files
    )
    assert v1_files <= set(
        M.files_for_version(t, where=[("o_channel", "is_null")])
    )


def test_skipping_all_null_column_file(spark, sf_dir, tmp_path):
    """A commit whose column is entirely NULL is skipped by any
    comparison predicate even though the footer has no min/max for
    it."""
    t = str(tmp_path / "tbl")
    o = table(spark, sf_dir, "orders").select("o_orderkey")
    withnull = o.limit(5).withColumn(
        "flag", F.lit(None).cast("string")
    )
    withval = (
        o.filter(F.col("o_orderkey") % 2 == 1)
        .limit(5)
        .withColumn("flag", F.lit("x"))
    )
    M.commit(withnull.coalesce(1), t)
    M.commit(withval.coalesce(1), t)
    v1_files = set(M.files_for_version(t, 1))
    hits = M.files_for_version(t, where=[("flag", "==", "x")])
    assert hits and not (set(hits) & v1_files)
    assert M.read_version(spark, t, where=[("flag", "==", "x")]).count() == 5


def test_read_version_preserves_pushdown(spark, sf_dir, tmp_path):
    """The versioned read is a plain parquet scan: filters still reach
    the scan (PushedFilters) — no format tax on the data path."""
    t = str(tmp_path / "tbl")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    M.commit(o, t)
    df = M.read_version(spark, t).filter(F.col("o_orderkey") == 42)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "o_orderkey" in plan.split("PushedFilters")[1][:200], plan[:1500]


def test_compact_table_commits_new_version(spark, sf_dir, tmp_path):
    """OPTIMIZE as a version: fewer files, identical rows, old version
    untouched (time travel through a compaction)."""
    t = str(tmp_path / "tbl")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    M.commit(o.filter(F.col("o_orderkey") % 2 == 0).repartition(8), t)
    M.commit(o.filter(F.col("o_orderkey") % 2 == 1).repartition(8), t)
    before = M.files_for_version(t)
    assert len(before) == 16
    v = M.compact_table(spark, t)
    assert v == 3
    after = M.files_for_version(t, 3)
    assert len(after) == 1  # tiny table -> one target-sized file
    got = M.read_version(spark, t, 3)
    assert got.count() == o.count()
    assert got.exceptAll(o).count() == 0
    # pre-compaction version still resolves its own (old) file set
    assert len(M.files_for_version(t, 2)) == 16
    assert M.read_version(spark, t, 2).count() == o.count()


def test_zordered_compaction_tightens_file_skipping(spark, sf_dir, tmp_path):
    """After compact_table(zorder_cols=[k, p]), a 2-D box predicate
    prunes a strictly smaller file set than on the unclustered layout:
    the new version's manifest stats reflect the clustering."""
    t = str(tmp_path / "tbl")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    # random-ish layout: hash-partitioned on an unrelated column
    M.commit(o.repartition(8, "o_orderkey"), t)
    qk = o.approxQuantile("o_custkey", [0.25], 0.01)[0]
    qp = o.approxQuantile("o_totalprice", [0.25], 0.01)[0]
    box = [
        ("o_custkey", "<=", int(qk)),
        ("o_totalprice", "<=", float(qp)),
    ]
    before_hit = len(M.files_for_version(t, where=box))
    assert before_hit == 8  # hash layout: every file spans both ranges

    v = M.compact_table(
        spark, t, target_bytes=4 * 1024, zorder_cols=["o_custkey", "o_totalprice"]
    )
    total_after = len(M.files_for_version(t, v))
    assert total_after >= 3  # small target bytes -> several files
    after_hit = len(M.files_for_version(t, v, where=box))
    assert after_hit < total_after  # clustering makes stats selective
    # answers unchanged by layout
    got = M.read_version(spark, t, v, where=box)
    want = o.filter(
        (F.col("o_custkey") <= int(qk)) & (F.col("o_totalprice") <= float(qp))
    )
    assert got.count() == want.count()


def test_metadata_only_count(spark, sf_dir, tmp_path):
    """COUNT(*) answered from the manifest's per-file row counts — no
    scan; exact across appends, overwrites, and time travel."""
    t = str(tmp_path / "tbl")
    o = table(spark, sf_dir, "orders").select("o_orderkey")
    a = o.filter(F.col("o_orderkey") % 2 == 0)
    b = o.filter(F.col("o_orderkey") % 2 == 1)
    M.commit(a.repartition(4), t)
    M.commit(b.repartition(3), t)
    assert M.count_rows(t, 1) == a.count()
    assert M.count_rows(t, 2) == o.count()
    M.commit(a.limit(10), t, mode="overwrite")
    assert M.count_rows(t) == 10
    assert M.count_rows(t, 2) == o.count()  # time travel


def test_in_predicate_skips_files(spark, sf_dir, tmp_path):
    """Membership predicates prune by range envelope: an IN list whose
    members all fall outside a file's [min, max] skips it."""
    t = str(tmp_path / "tbl")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    M.commit(o.repartitionByRange(8, "o_orderkey"), t)
    keys = [r.o_orderkey for r in o.orderBy("o_orderkey").limit(3).collect()]
    where = [("o_orderkey", "in", [int(k) for k in keys])]
    hit = M.files_for_version(t, where=where)
    assert 0 < len(hit) < 8
    got = M.read_version(spark, t, where=where)
    assert got.count() == o.filter(F.col("o_orderkey").isin(keys)).count()
    assert sorted(r.o_orderkey for r in got.select("o_orderkey").collect()) == sorted(keys)


def test_partitioned_commit_roundtrip_and_pruning(spark, sf_dir, tmp_path):
    """Hive-partitioned commits: partition values come back on read
    (basePath reconstruction), and a predicate on the partition column
    prunes whole partitions from the MANIFEST - no listing, no scan."""
    t = str(tmp_path / "tbl")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    M.commit(o, t, partition_by=["o_orderstatus"])

    got = M.read_version(spark, t)
    assert set(got.columns) == set(o.columns)
    assert got.count() == o.count()
    assert got.exceptAll(o).count() == 0  # values AND types survive

    statuses = sorted(r.o_orderstatus for r in o.select("o_orderstatus").distinct().collect())
    assert len(statuses) >= 2
    pick = statuses[0]
    all_files = M.files_for_version(t)
    hit = M.files_for_version(t, where=[("o_orderstatus", "==", pick)])
    assert 0 < len(hit) < len(all_files)
    assert all(f"o_orderstatus={pick}" in f for f in hit)
    df = M.read_version(spark, t, where=[("o_orderstatus", "==", pick)])
    assert df.count() == o.filter(F.col("o_orderstatus") == pick).count()
    # metadata-only count still works on partitioned layouts
    assert M.count_rows(t) == o.count()


def test_partitioned_int_column_range_pruning(spark, sf_dir, tmp_path):
    """Integer partition values are type-inferred from the path, so
    RANGE predicates prune partitions, not just equality."""
    t = str(tmp_path / "tbl")
    o = (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .withColumn("bucket", (F.col("o_orderkey") % 4).cast("int"))
    )
    M.commit(o, t, partition_by=["bucket"])
    hit = M.files_for_version(t, where=[("bucket", ">=", 2)])
    assert hit and all(("bucket=2" in f or "bucket=3" in f) for f in hit)
    df = M.read_version(spark, t, where=[("bucket", ">=", 2)])
    assert df.count() == o.filter(F.col("bucket") >= 2).count()


def test_mixed_partitioned_and_plain_commits(spark, sf_dir, tmp_path):
    """One table, one commit unpartitioned + one partitioned: the read
    reconciles both layouts; pruning uses footer stats on the plain
    files and path stats on the partitioned ones."""
    t = str(tmp_path / "tbl")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    M.commit(o.filter(F.col("o_orderkey") % 2 == 0), t)
    M.commit(
        o.filter(F.col("o_orderkey") % 2 == 1),
        t,
        partition_by=["o_orderstatus"],
    )
    got = M.read_version(spark, t)
    assert got.count() == o.count()
    assert got.exceptAll(o).count() == 0
    pick = o.select("o_orderstatus").distinct().orderBy("o_orderstatus").first().o_orderstatus
    df = M.read_version(spark, t, where=[("o_orderstatus", "==", pick)])
    assert df.count() == o.filter(F.col("o_orderstatus") == pick).count()


def test_delete_where_merge_on_read(spark, sf_dir, tmp_path):
    """Metadata-only DELETE: rows vanish from the latest read without
    touching a data file; time travel resurrects them; rows appended
    AFTER the delete are never retro-deleted even when they match."""
    t = str(tmp_path / "tbl")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    base = o.filter(F.col("o_orderkey") % 2 == 0)
    M.commit(base, t)  # v1
    files_before = set(M.files_for_version(t, 1))

    v2 = M.delete_where(t, [("o_orderstatus", "==", "F")])
    assert v2 == 2
    assert set(M.files_for_version(t, 1)) == files_before  # nothing touched
    got = M.read_version(spark, t)
    want = base.filter(F.col("o_orderstatus") != "F")
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    # time travel: the pre-delete version still has every row
    assert M.read_version(spark, t, 1).count() == base.count()
    # tombstones make per-file counts an upper bound -> scan fallback
    assert M.count_rows(t) is None
    assert M.count_rows(t, 1) == base.count()

    # append rows that MATCH the old predicate: scoped tombstone
    extra = o.filter(
        (F.col("o_orderkey") % 2 == 1) & (F.col("o_orderstatus") == "F")
    )
    M.commit(extra, t)  # v3
    got3 = M.read_version(spark, t, 3)
    assert got3.count() == want.count() + extra.count()
    assert got3.filter(F.col("o_orderstatus") == "F").count() == extra.count()


def test_delete_tombstone_drops_whole_partition_files(spark, sf_dir, tmp_path):
    """A delete whose predicate covers an entire partition drops that
    partition's files from the scan plan (stats prove all rows match),
    and compaction materializes the tombstones (deletes list resets,
    metadata COUNT works again)."""
    t = str(tmp_path / "tbl")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    M.commit(o, t, partition_by=["o_orderstatus"])
    M.delete_where(t, [("o_orderstatus", "==", "F")])
    hit = M.files_for_version(t)
    assert hit and not any("o_orderstatus=F" in f for f in hit)
    want = o.filter(F.col("o_orderstatus") != "F")
    assert M.read_version(spark, t).count() == want.count()

    v = M.compact_table(spark, t)
    import json as _json

    with open(os.path.join(t, "_manifests", f"v{v:06d}.json")) as fh:
        man = _json.load(fh)
    assert man["deletes"] == []  # materialized
    assert M.count_rows(t, v) == want.count()
    assert M.read_version(spark, t, v).exceptAll(want).count() == 0


def test_multiple_deletes_compose_and_in_list(spark, sf_dir, tmp_path):
    t = str(tmp_path / "tbl")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    M.commit(o, t)
    keys = [int(r.o_orderkey) for r in o.orderBy("o_orderkey").limit(3).collect()]
    cutoff = float(o.approxQuantile("o_totalprice", [0.9], 0.01)[0])
    M.delete_where(t, [("o_orderkey", "in", keys)])
    M.delete_where(t, [("o_totalprice", ">=", cutoff)])
    got = M.read_version(spark, t)
    want = o.filter(
        ~F.col("o_orderkey").isin(keys) & (F.col("o_totalprice") < cutoff)
    )
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    # changefeed across the deletes reports them as removed
    ch = M.changes(spark, t, ["o_orderkey"], 1, 3)
    n_removed = ch.filter(F.col("change_type") == "removed").count()
    assert n_removed == o.count() - want.count()


def test_update_where_atomic_single_version(spark, sf_dir, tmp_path):
    """UPDATE as one version: matching rows get the SET applied,
    everything else untouched, no data file rewritten in place, time
    travel sees the originals — and there is no intermediate
    deleted-but-not-readded version."""
    t = str(tmp_path / "tbl")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    M.commit(o, t)
    v = M.update_where(
        spark,
        t,
        [("o_orderstatus", "==", "F")],
        {"o_totalprice": F.col("o_totalprice") * 2.0},
    )
    assert v == 2  # exactly ONE new version
    got = M.read_version(spark, t)
    want = o.withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderstatus") == "F", F.col("o_totalprice") * 2.0
        ).otherwise(F.col("o_totalprice")),
    )
    assert got.count() == o.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert M.read_version(spark, t, 1).exceptAll(o).count() == 0


def test_update_where_conflict_aborts(spark, sf_dir, tmp_path):
    """A commit landing between the update's snapshot read and its
    publish must abort the update (lost-update prevention), leaving
    the concurrent commit's rows intact."""
    import pytest as _pytest

    t = str(tmp_path / "tbl")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    M.commit(o.filter(F.col("o_orderkey") % 2 == 0), t)

    real_publish = M._publish

    def racing_publish(table_dir, build):
        # the competitor appends just before the victim publishes
        M._publish = real_publish
        M.commit(o.filter(F.col("o_orderkey") % 2 == 1).limit(5), t)
        return real_publish(table_dir, build)

    M._publish = racing_publish
    try:
        with _pytest.raises(M.ConcurrentTableModificationError):
            M.update_where(
                spark, t, [("o_totalprice", ">", 0.0)],
                {"o_totalprice": F.lit(0.0)},
            )
    finally:
        M._publish = real_publish
    # the competitor's commit is intact; no phantom update landed
    assert M.latest_version(t) == 2
    assert M.read_version(spark, t).filter(F.col("o_totalprice") == 0.0).count() == 0


def _bucket_rows(n=40):
    return [(i, i % 4, float(i)) for i in range(n)]


def test_update_where_keeps_shared_hive_layout(spark, tmp_path):
    """An UPDATE of a table whose dirs all share a hive layout writes
    its rewritten dir under that layout: the manifest records it,
    every rewritten file holds one partition (exact min == max stats),
    so a scoped ``compact_where`` on the partition column stays
    provably file-aligned.  The SET re-buckets rows (bucket = id % 3),
    so rows read from one source file span several buckets and an
    unpartitioned rewrite would mix them at any parallelism."""
    t = str(tmp_path / "tbl")
    # two slices: every bucket's rows are spread over two write tasks
    rows = spark.sparkContext.parallelize(_bucket_rows(), 2)
    M.commit(
        spark.createDataFrame(rows, "id int, bucket int, val double"),
        t,
        partition_by=["bucket"],
    )
    v = M.update_where(
        spark,
        t,
        [("bucket", "<=", 1)],
        {"val": -F.col("val"), "bucket": F.col("id") % 3},
    )
    m = M._read_manifest(t, v)
    (rel,) = [d for d in m["dirs"] if d not in M._read_manifest(t, 1)["dirs"]]
    assert m["partitioned_dirs"][rel] == ["bucket"]
    entries = M._load_files(t, m)[rel]
    assert entries
    for e in entries:
        st = e["stats"]["bucket"]
        assert st["min"] == st["max"], e

    M.compact_where(spark, t, [("bucket", "==", 2)])
    want = sorted(
        (i, i % 3, -val) if b <= 1 else (i, b, val)
        for i, b, val in _bucket_rows()
    )
    got = sorted(
        (r.id, r.bucket, r.val)
        for r in M.read_version(spark, t).select("id", "bucket", "val").collect()
    )
    assert got == want


def test_update_where_without_shared_layout_stays_unpartitioned(
    spark, tmp_path
):
    """A table mixing a plain and a hive-partitioned dir has no shared
    layout to keep: the rewritten dir is unpartitioned, as before."""
    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(_bucket_rows(), "id int, bucket int, val double")
    M.commit(df.filter(F.col("id") < 20), t)
    M.commit(df.filter(F.col("id") >= 20), t, partition_by=["bucket"])
    v = M.update_where(spark, t, [("bucket", "==", 1)], {"val": F.lit(0.0)})
    m = M._read_manifest(t, v)
    assert m["dirs"][-1] not in m["partitioned_dirs"]
    got = sorted(tuple(r) for r in M.read_version(spark, t).collect())
    want = sorted(
        (i, b, 0.0 if b == 1 else val) for i, b, val in _bucket_rows()
    )
    assert got == want


def test_column_bounds_metadata_minmax(spark, sf_dir, tmp_path):
    """MIN/MAX answered from the manifest, exact vs the scan; honest
    None when tombstones could have removed the extreme row."""
    t = str(tmp_path / "tbl")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    M.commit(o.filter(F.col("o_orderkey") % 2 == 0).repartition(4), t)
    M.commit(o.filter(F.col("o_orderkey") % 2 == 1).repartition(3), t)
    mn, mx = M.column_bounds(t, "o_orderkey")
    row = o.agg(F.min("o_orderkey"), F.max("o_orderkey")).first()
    assert (mn, mx) == (row[0], row[1])
    # a tombstone invalidates the envelope -> scan fallback
    M.delete_where(t, [("o_orderkey", "==", int(mx))])
    assert M.column_bounds(t, "o_orderkey") is None
    # pre-delete version still answers
    assert M.column_bounds(t, "o_orderkey", 2) == (row[0], row[1])


def test_concurrent_readers_never_see_torn_state(spark, sf_dir, tmp_path):
    """Readers racing committers: every read must resolve a COMPLETE
    published version (the temp+link publish makes partial manifests
    unobservable) — no JSONDecodeError, and every observed row count
    equals some legitimate version's count."""
    from concurrent.futures import ThreadPoolExecutor

    t = str(tmp_path / "tbl")
    o = table(spark, sf_dir, "orders").select("o_orderkey")
    slices = [o.filter(F.col("o_orderkey") % 8 == i) for i in range(8)]
    sizes = [s.count() for s in slices]
    valid_counts = set()
    acc = 0
    for n in sizes:
        acc += n
        valid_counts.add(acc)
    M.commit(slices[0], t)

    errors = []
    observed = []

    def writer():
        for s in slices[1:]:
            M.commit(s, t)

    def reader():
        for _ in range(12):
            try:
                observed.append(M.read_version(spark, t).count())
            except Exception as e:  # torn manifest would land here
                errors.append(e)

    with ThreadPoolExecutor(max_workers=3) as ex:
        futs = [ex.submit(writer), ex.submit(reader), ex.submit(reader)]
        for f in futs:
            f.result()
    assert not errors, errors[:3]
    assert observed and set(observed) <= valid_counts
    assert M.read_version(spark, t).count() == sum(sizes)


def test_compact_commutes_with_interleaved_append(spark, sf_dir, tmp_path):
    """OPTIMIZE snapshots the tip, rewrites, then publishes.  An
    append landing in between must NOT be lost: since round 9 the
    publish REBASES (compaction commutes with appends — the compacted
    dir replaces the snapshot it read, the appended dir carries over),
    so both writes land in one pass; an unconditional overwrite would
    have silently dropped the interleaved rows."""
    t = str(tmp_path / "tbl")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    even = o.filter(F.col("o_orderkey") % 2 == 0)
    late = o.filter(F.col("o_orderkey") % 2 == 1).limit(7)
    M.commit(even.repartition(4), t)

    real_publish = M._publish

    def racing_publish(table_dir, build):
        M._publish = real_publish
        M.commit(late, t)  # the interleaved append
        return real_publish(table_dir, build)

    M._publish = racing_publish
    try:
        v = M.compact_table(spark, t, target_bytes=64 * 1024)
    finally:
        M._publish = real_publish
    # append = v2, rebased compaction = v3; no rows vanished
    assert v == 3
    got = M.read_version(spark, t)
    assert got.count() == even.count() + late.count()
    # a follow-up compaction folds everything into one clean layout
    M.compact_table(spark, t, target_bytes=64 * 1024)
    assert M.read_version(spark, t).count() == even.count() + late.count()


def test_vacuum_sweeps_orphaned_manifest_temp_files(spark, sf_dir, tmp_path):
    """A writer crashing between writing its .tmp-* manifest payload
    and the link/unlink leaks the temp file; vacuum reclaims it under
    the same retention window that protects in-flight publishes."""
    t = str(tmp_path / "tbl")
    o = table(spark, sf_dir, "orders").select("o_orderkey")
    M.commit(o.limit(10), t)
    mdir = os.path.join(t, "_manifests")
    stale = os.path.join(mdir, ".tmp-deadbeef")
    fresh = os.path.join(mdir, ".tmp-cafebabe")
    for p in (stale, fresh):
        with open(p, "w") as fh:
            fh.write("{}")
    past = os.path.getmtime(stale) - 7200
    os.utime(stale, (past, past))
    M.vacuum(t, retention_seconds=3600.0)
    assert not os.path.exists(stale)  # old orphan reclaimed
    assert os.path.exists(fresh)  # possible in-flight publish kept
    # the table itself is untouched
    assert M.read_version(spark, t).count() == 10


def test_as_of_timestamp_time_travel(spark, sf_dir, tmp_path):
    """read_version(as_of=ts) resolves the latest version committed at
    or before ts (Delta semantics), including the between-versions and
    before-v1 edges, and commit timestamps are strictly monotonic even
    for rapid-fire commits."""
    import datetime
    import json as _json

    import pytest as _pytest

    t = str(tmp_path / "tbl")
    o = table(spark, sf_dir, "orders").select("o_orderkey")
    M.commit(o.limit(10), t)
    M.commit(o.limit(30), t, mode="overwrite")
    M.commit(o.limit(50), t, mode="overwrite")

    ts = {}
    for v in (1, 2, 3):
        with open(os.path.join(t, "_manifests", f"v{v:06d}.json")) as fh:
            ts[v] = _json.load(fh)["ts"]
    assert ts[1] < ts[2] < ts[3]  # strictly monotonic

    # exact hit and between-versions floor
    assert M.version_as_of(t, ts[2]) == 2
    assert M.version_as_of(t, (ts[2] + ts[3]) / 2) == 2
    assert M.version_as_of(t, ts[3] + 3600) == 3
    assert M.read_version(spark, t, as_of=(ts[1] + ts[2]) / 2).count() == 10
    # datetime and ISO-string forms resolve identically
    dt = datetime.datetime.fromtimestamp(ts[3] + 1)
    assert M.version_as_of(t, dt) == 3
    assert M.version_as_of(t, dt.isoformat()) == 3

    # before-v1 edge: the snapshot is not reconstructible
    with _pytest.raises(M.VersionNotFoundError, match="predates"):
        M.version_as_of(t, ts[1] - 1.0)
    with _pytest.raises(ValueError, match="version OR as_of"):
        M.read_version(spark, t, version=2, as_of=ts[2])

    # vacuum expires v1/v2: an instant they covered is gone too
    M.vacuum(t, keep_last=1, retention_seconds=0.0)
    with _pytest.raises(M.VersionNotFoundError, match="predates"):
        M.version_as_of(t, (ts[1] + ts[2]) / 2)
    assert M.version_as_of(t, ts[3]) == 3


def test_latest_version_hint_is_self_healing(spark, sf_dir, tmp_path):
    """_LAST is a pure optimization: correct when fresh, harmless when
    missing, corrupt, stale, or pointing at a vacuumed version — every
    shape must resolve the same tip the full listing would."""
    t = str(tmp_path / "tbl")
    o = table(spark, sf_dir, "orders").select("o_orderkey")
    M.commit(o.limit(5), t)
    M.commit(o.limit(5), t)
    M.commit(o.limit(5), t)
    hint = os.path.join(t, "_manifests", "_LAST")
    assert os.path.exists(hint)
    with open(hint) as fh:
        assert int(fh.read()) == 3

    # stale hint: probe-forward finds the real tip
    with open(hint, "w") as fh:
        fh.write("1")
    assert M.latest_version(t) == 3
    # corrupt hint: listing fallback
    with open(hint, "w") as fh:
        fh.write("not-a-number")
    assert M.latest_version(t) == 3
    # missing hint: listing fallback, and the next publish restores it
    os.remove(hint)
    assert M.latest_version(t) == 3
    M.commit(o.limit(5), t)
    with open(hint) as fh:
        assert int(fh.read()) == 4
    # hint pointing at a vacuumed version: fallback, not a crash
    M.vacuum(t, keep_last=1, retention_seconds=0.0)
    with open(hint, "w") as fh:
        fh.write("2")
    assert M.latest_version(t) == 4
    assert M.read_version(spark, t).count() == 20  # 4 appends of 5


def test_distributed_stats_harvest_matches_local(spark, sf_dir, tmp_path):
    """Commits above the file-count threshold harvest footer stats on
    the executors; the entries must be byte-identical (and identically
    ordered) to the sequential driver-side loop, and the resulting
    manifest must still drive file skipping."""
    t = str(tmp_path / "tbl")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    n_files = M._DISTRIBUTED_HARVEST_MIN_FILES + 3
    M.commit(o.repartitionByRange(n_files, "o_orderkey"), t)

    m = M._read_manifest(t, 1)
    d = m["dirs"][0]
    entries = M._load_files(t, m)[d]
    assert len(entries) == n_files
    local = M._harvest_stats(os.path.join(t, d))  # no session → local
    assert entries == local

    cut = int(o.agg(F.expr("percentile(o_orderkey, 0.1)")).first()[0])
    kept = M.files_for_version(t, 1, where=[("o_orderkey", "<", cut)])
    assert 0 < len(kept) < n_files
    got = M.read_version(spark, t, where=[("o_orderkey", "<", cut)])
    assert got.count() == o.filter(F.col("o_orderkey") < cut).count()


def test_history_lists_retained_versions(spark, sf_dir, tmp_path):
    t = str(tmp_path / "tbl")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    M.commit(o.limit(10), t, txn=("app", 0))
    M.commit(o.limit(20), t)
    M.delete_where(t, [("o_orderkey", "==", -1)])
    h = M.history(t)
    assert [e["version"] for e in h] == [3, 2, 1]
    assert [e["mode"] for e in h] == ["delete", "append", "append"]
    assert h[2]["n_rows"] == 10 and h[1]["n_rows"] == 30
    assert h[0]["n_rows"] is None  # tombstone outstanding: unknowable
    assert h[0]["n_tombstones"] == 1
    assert h[0]["txns"] == {"app": 0}
    assert h[0]["ts"] > h[2]["ts"]
    M.vacuum(t, keep_last=1, retention_seconds=0.0)
    assert [e["version"] for e in M.history(t)] == [3]
