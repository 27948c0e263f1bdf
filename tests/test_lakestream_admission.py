"""Per-trigger admission control on the manifest stream source:
max_files_per_trigger / max_bytes_per_trigger split a multi-version
backlog into bounded micro-batches (Delta maxFilesPerTrigger
semantics), including across restarts and mid-version file splits,
with exactly-once delivery preserved throughout."""

from __future__ import annotations

import time

import pytest

from finance_etl_pipeline_spark.operators import manifest as M
from finance_etl_pipeline_spark.sources.lakestream import (
    ManifestTableDataSource,
)


def _mk_versions(spark, tbl, n_versions, files_per_version, start=0):
    """Each version appends exactly ``files_per_version`` files of one
    row each, so a micro-batch's ROW count equals its FILE count.

    The k rows are ``parallelize``d into k slices: slicing a local list
    is positional, one row per slice, and each slice is written as one
    file at every ``local[N]``.  ``repartition(k)`` does not give this
    layout: Spark's round-robin repartition starts each input
    partition at a random target, so k rows land in fewer than k
    files (some holding several rows, some empty) in a pattern that
    depends on ``defaultParallelism``."""
    for v in range(n_versions):
        base = start + v * files_per_version
        rows = spark.sparkContext.parallelize(
            [(base + i, f"v{v}") for i in range(files_per_version)],
            files_per_version,
        )
        M.commit(spark.createDataFrame(rows, "id int, tag string"), tbl)


def _run_capped(
    spark, tbl, ckpt, batches, seen, caps, crash_after=None
):
    """Drain the table through a capped stream into driver-side
    accumulators; returns after processAllAvailable.  With
    ``crash_after=N``, the sink raises on batch N+1 BEFORE recording
    it — a deterministic mid-backlog kill with that batch's offsets
    already in the WAL but uncommitted (the engine replays it on
    restart)."""
    reader = (
        spark.readStream.format("manifest_table").option("table_dir", tbl)
    )
    for k, v in caps.items():
        reader = reader.option(k, v)
    done = set()

    def sink(df, batch_id):
        rows = df.collect()
        if crash_after is not None and len(done | {batch_id}) > crash_after:
            raise RuntimeError("injected mid-backlog crash")
        done.add(batch_id)
        batches.append((batch_id, len(rows)))
        seen.update((batch_id, r["id"]) for r in rows)

    q = (
        reader.load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        if q.exception() is not None and crash_after is None:
            raise q.exception()
    except Exception:
        if crash_after is None:
            raise
    finally:
        try:
            q.stop()
            q.awaitTermination(60)
        except Exception:
            if crash_after is None:
                raise  # the injected crash also surfaces here


def _distinct_ids(seen):
    return {i for _, i in seen}


def _id_to_file(tbl):
    """id -> containing file, read from the manifest + parquet files
    (the caps count FILES, so batches are checked through the files
    their rows came from, not through their row counts)."""
    import os

    import pyarrow.parquet as pq

    out = {}
    m = M._read_manifest(tbl, M.latest_version(tbl))
    for d, entries in M._load_files(tbl, m).items():
        for e in entries:
            p = os.path.join(tbl, d, e["path"])
            for i in pq.read_table(p, columns=["id"])["id"].to_pylist():
                out[i] = p
    return out


def _files_per_batch(seen, id_file):
    by_batch = {}
    for b, i in seen:
        by_batch.setdefault(b, set()).add(id_file[i])
    return {b: len(fs) for b, fs in by_batch.items()}


def _total_files(tbl, after_version=0):
    """ALL files (including any 0-row files, which admission still
    counts) appended by versions > after_version."""
    tip = M.latest_version(tbl)
    n = 0
    prev_dirs = set()
    if after_version > 0:
        prev_dirs = set(M._read_manifest(tbl, after_version)["dirs"])
    m = M._read_manifest(tbl, tip)
    files = M._load_files(tbl, m)
    for d in m["dirs"]:
        if d not in prev_dirs:
            n += len(files[d])
    return n


def test_max_files_per_trigger_bounds_every_batch(spark, tmp_path):
    spark.dataSource.register(ManifestTableDataSource)
    tbl, ckpt = str(tmp_path / "tbl"), str(tmp_path / "ck")
    _mk_versions(spark, tbl, n_versions=4, files_per_version=5)  # 20 files

    batches, seen = [], set()
    _run_capped(
        spark, tbl, ckpt, batches, seen, {"max_files_per_trigger": "3"}
    )
    fpb = _files_per_batch(seen, _id_to_file(tbl))
    assert fpb, "no data drained"
    assert max(fpb.values()) <= 3, f"a batch exceeded the file cap: {fpb}"
    # the cap splits versions mid-way: every admitted file costs cap
    # budget
    n_total = _total_files(tbl)
    n_batches = len({b for b, n in batches})
    assert n_batches >= -(-n_total // 3), (n_total, batches)
    assert _distinct_ids(seen) == set(range(20))
    # exactly-once: every (batch, id) pair unique => no id in 2 batches
    assert len(seen) == 20


def test_max_bytes_per_trigger_admits_at_least_one_file(spark, tmp_path):
    spark.dataSource.register(ManifestTableDataSource)
    tbl, ckpt = str(tmp_path / "tbl"), str(tmp_path / "ck")
    _mk_versions(spark, tbl, n_versions=2, files_per_version=4)  # 8 files

    batches, seen = [], set()
    # 1 byte: every file exceeds it, yet each batch must still admit
    # exactly one file (soft max, never starvation)
    _run_capped(
        spark, tbl, ckpt, batches, seen, {"max_bytes_per_trigger": "1"}
    )
    fpb = _files_per_batch(seen, _id_to_file(tbl))
    assert fpb and max(fpb.values()) == 1, fpb
    # one file per batch exactly: as many batches as files exist
    assert len({b for b, n in batches}) >= _total_files(tbl)
    assert _distinct_ids(seen) == set(range(8))


def test_capped_restart_over_backlog_and_old_checkpoint(spark, tmp_path):
    """An UNCAPPED run checkpoints plain {"version": v} offsets; a
    capped restart over a 6-version backlog must still bound every
    batch (the engine's restart probe hands the reader its position)
    and deliver everything exactly once."""
    spark.dataSource.register(ManifestTableDataSource)
    tbl, ckpt = str(tmp_path / "tbl"), str(tmp_path / "ck")
    _mk_versions(spark, tbl, n_versions=2, files_per_version=3)  # ids 0..5

    batches, seen = [], set()
    _run_capped(spark, tbl, ckpt, batches, seen, {})  # uncapped first run
    assert _distinct_ids(seen) == set(range(6))

    # backlog lands while the stream is down
    _mk_versions(spark, tbl, n_versions=6, files_per_version=3, start=6)

    batches2, seen2 = [], set()
    _run_capped(
        spark, tbl, ckpt, batches2, seen2, {"max_files_per_trigger": "4"}
    )
    fpb = _files_per_batch(seen2, _id_to_file(tbl))
    assert fpb and max(fpb.values()) <= 4, fpb
    n_pending = _total_files(tbl, after_version=2)
    assert len({b for b, n in batches2}) >= -(-n_pending // 4)
    # the capped resume replays nothing from the first run
    assert _distinct_ids(seen2) == set(range(6, 24))
    assert len(seen2) == 18


def test_mid_version_offset_survives_restart(spark, tmp_path):
    """Stop a capped stream while its offset sits MID-version
    ({"version": v, "index": i}) and restart: the remainder of the
    split version arrives exactly once."""
    spark.dataSource.register(ManifestTableDataSource)
    tbl, ckpt = str(tmp_path / "tbl"), str(tmp_path / "ck")
    # one big version: 10 files; cap 3 => offsets must split it
    _mk_versions(spark, tbl, n_versions=1, files_per_version=10)
    # precondition: 10 distinct one-row files, so the crash after two
    # capped batches (<= 6 files) leaves the version partly consumed
    id_file = _id_to_file(tbl)
    assert sorted(id_file) == list(range(10))
    assert len(set(id_file.values())) == 10, id_file

    batches, seen = [], set()
    _run_capped(
        spark,
        tbl,
        ckpt,
        batches,
        seen,
        {"max_files_per_trigger": "3"},
        crash_after=2,  # die with the version partially consumed
    )
    assert 0 < len(_distinct_ids(seen)) < 10

    batches2, seen2 = [], set()
    _run_capped(
        spark, tbl, ckpt, batches2, seen2, {"max_files_per_trigger": "3"}
    )
    fpb = _files_per_batch(seen2, id_file)
    assert not fpb or max(fpb.values()) <= 3, fpb
    # union covers everything; overlap only from the engine replaying
    # the last UNCOMMITTED batch, which re-reads the same files
    # bit-for-bit (same (version,index) range), never a different cut
    assert _distinct_ids(seen) | _distinct_ids(seen2) == set(range(10))
    by_id = {}
    for b, i in sorted(seen | seen2):
        by_id.setdefault(i, []).append(b)
    # an id delivered under two DIFFERENT batch ids is a duplicate
    # (an engine replay of the last uncommitted batch reuses the same
    # batch id over the same (version,index) cut, so it dedups above)
    for i, bs in by_id.items():
        assert len(bs) == 1, (i, bs)


def test_invalid_caps_rejected(spark, tmp_path):
    spark.dataSource.register(ManifestTableDataSource)
    tbl = str(tmp_path / "tbl")
    _mk_versions(spark, tbl, 1, 2)
    # the reader is constructed lazily at query start, so the bad
    # option surfaces when the stream runs, not at .load()
    q = (
        spark.readStream.format("manifest_table")
        .option("table_dir", tbl)
        .option("max_files_per_trigger", "0")
        .load()
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    with pytest.raises(Exception, match=">= 1|positive"):
        q.awaitTermination(120)
    q.stop()
