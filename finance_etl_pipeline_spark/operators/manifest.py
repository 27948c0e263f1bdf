"""Versioned tables on plain Parquet — a minimal manifest log giving
time travel, snapshot isolation, and safe vacuum without a table
format dependency.

Layout under the table root:

    data/commit-<version>-<token>/part-*.parquet   immutable data dirs
    _manifests/v<00000N>.json                      one snapshot per version

A manifest lists the data directories composing that version, so a
version is an immutable FILE SET: readers resolve one manifest and
never see a torn state; writers add new data dirs and publish the next
manifest; nothing is mutated in place.  Publication is atomic via
write-to-temp + hard link (link fails like O_EXCL when the version
exists), which doubles as optimistic concurrency control — two
concurrent committers race for v(N+1); the loser re-reads and retries
at v(N+2), exactly the commit-protocol shape of the big table formats,
reduced to its core.

Beyond the file list, each manifest records (the two things that make
a manifest WORTH having at 100 TB):

* **per-file column statistics** — min / max / null count per leaf
  column, harvested from the parquet footers at commit time (one
  footer read per file, no data scan).  ``read_version(..., where=)``
  prunes the file list against simple predicates BEFORE Spark ever
  lists or opens them — file-level skipping above the row-group-level
  skipping the scan already does, and the piece Iceberg/Delta
  manifests add over a bare directory listing.
* **the schema, per version and per data dir** — so the table can
  EVOLVE: an append may add columns, and readers of any version see
  that version's logical schema, with older files' missing columns
  read as NULL (``unionByName(allowMissingColumns=True)`` semantics).
  Time travel to a pre-evolution version returns the old schema
  unchanged.

Scale posture: the log is SHARDED (format v2, see the shard section
below) — per-file entries live in immutable per-dir shard files and
each version manifest carries only O(#dirs) refs plus deduplicated
schemas, so COMMIT cost is O(changed dirs/files), not O(all files):
a 1-file append to a 10⁶-file table writes one small shard + one
small manifest.  Reads that need every file's stats (file skipping)
still materialize O(#files) of metadata, same as any manifest-based
format, amortized by an immutable-shard cache.  The data path is
untouched parquet (all pushdown / row-group skipping behavior
preserved since ``read_version`` is a plain ``spark.read.parquet``
over the surviving files).  On object stores without atomic create,
swap the link-based publish for a conditional PUT (if-none-match) —
the one primitive this protocol needs.

Relationship to siblings: ``operators/compact.py`` rewrites files
in place (crash-safe swap); committing the compacted files as a new
VERSION here keeps old snapshots readable until ``vacuum``.
``operators/diff.py::table_diff`` between two versions is the audit.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid
from collections import OrderedDict

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_MANIFESTS = "_manifests"
_DATA = "data"


class ConcurrentTableModificationError(RuntimeError):
    """An optimistic operation lost its race in a way that cannot be
    safely recomposed (e.g. ``update_where`` over a moved tip) — the
    caller re-runs against the new snapshot."""


class _TxnAlreadyApplied(Exception):
    """Internal: a ``txn``-stamped commit found its (app_id, version)
    already recorded — the write is a replay and must become a no-op,
    not a duplicate version."""

#: predicate triple ops accepted by ``read_version(where=...)``
_COMPARISONS = ("==", "!=", "<", "<=", ">", ">=", "in")


def _json_safe(v):
    """A footer-stat / predicate value in a JSON-storable form whose
    Python ordering matches the column's ordering, or None when the
    type has no such form (then no stats are recorded / no skipping
    happens — conservative).  Dates and timestamps go to fixed-width
    strings so lexicographic == chronological."""
    import datetime

    if isinstance(v, bool):
        return None
    if isinstance(v, (int, float, str)):
        return v
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    return None


def _parse_partition_value(s: str):
    """A hive-style path value as the most specific of int/float/str —
    mirroring Spark's partition-type inference so stats comparisons
    use the same ordering the residual filter will."""
    from urllib.parse import unquote

    s = unquote(s)
    for cast in (int, float):
        try:
            return cast(s)
        except ValueError:
            pass
    return s


def _harvest_one(
    data_dir: str, rel: str, forbid_cols: tuple = ()
) -> dict:
    """The manifest entry for ONE parquet file: relative path, row
    count, and per-column {min, max, nulls} aggregated over the
    file's row groups — read from the footer only (no data scan).
    A column whose stats are unavailable or not order-safe in ANY row
    group is omitted for that file, which simply disables skipping on
    it.

    Partition columns never appear in the footers (partitionBy strips
    them from the data files), so their stats come from the PATH:
    each ``k=v`` component records min = max = v (exact by
    construction — every row of the file shares the value), making
    partition pruning ride the same ``_file_may_match`` machinery as
    data-column skipping.  ``__HIVE_DEFAULT_PARTITION__`` records an
    all-NULL column.  Module-level and argument-pure so the
    distributed harvest can ship it to executors by reference."""
    import pyarrow.parquet as pq
    from urllib.parse import unquote

    part_values: dict[str, object] = {}
    raw_parts: dict[str, object] = {}
    for comp in rel.split(os.sep)[:-1]:
        if "=" in comp:
            k, _, v = comp.partition("=")
            if v == "__HIVE_DEFAULT_PARTITION__":
                part_values[k] = None
                raw_parts[k] = None
            else:
                part_values[k] = _parse_partition_value(v)
                # the RAW path component too: type inference collapses
                # distinct string values with equal numeric forms
                # ('1' vs '01'), so identity-sensitive consumers
                # (dynamic partition overwrite) need the exact string
                raw_parts[k] = unquote(v)
    abs_path = os.path.join(data_dir, rel)
    pf = pq.ParquetFile(abs_path)
    md = pf.metadata
    if forbid_cols:
        # CONVERT adoption: a path-partition column duplicated inside
        # a data file makes the read ambiguous — reject per file, so
        # the check rides the (possibly executor-distributed) harvest
        # instead of a second footer sweep
        clash = set(pf.schema_arrow.names) & set(forbid_cols)
        if clash:
            raise ValueError(
                f"partition column(s) {sorted(clash)} also present "
                f"inside the data file {rel} — unsupported layout"
            )
    stats: dict[str, dict] = {}
    bad: set[str] = set()
    for rg in range(md.num_row_groups):
        rg_meta = md.row_group(rg)
        for ci in range(md.num_columns):
            col = rg_meta.column(ci)
            name = col.path_in_schema
            if "." in name:
                continue  # nested leaf: no file-level pruning
            try:
                st = col.statistics
            except Exception:
                # pyarrow cannot extract stats for some physical types
                # (e.g. certain decimals) — stats are an OPTIMIZATION,
                # so the column just loses skipping, never the commit
                bad.add(name)
                continue
            if st is None or st.null_count is None:
                bad.add(name)
                continue
            e = stats.setdefault(
                name, {"min": None, "max": None, "nulls": 0}
            )
            e["nulls"] += st.null_count
            if st.has_min_max:
                try:
                    # .min/.max are lazy: pyarrow's statistics cast can
                    # raise HERE (not at col.statistics) for logical
                    # types it does not implement — observed with
                    # DECIMAL columns written by Spark.  Same treatment
                    # as the guard above: the column loses skipping,
                    # never the commit.
                    mn, mx = _json_safe(st.min), _json_safe(st.max)
                except Exception:
                    bad.add(name)
                    continue
                if mn is None or mx is None:
                    bad.add(name)
                    continue
                # parquet writers leak NaN into float min/max (observed:
                # Spark's writer records max=NaN when any row is NaN).
                # NaN poisons Python's min()/max() (order-dependent
                # result) AND diverges from Spark's ordering (NaN sorts
                # greatest), so a NaN-touched column gets NO stats for
                # this file — skipping and metadata aggregates both
                # fall back to the scan instead of trusting a bound a
                # NaN row may violate.
                if any(
                    isinstance(x, float) and x != x for x in (mn, mx)
                ):
                    bad.add(name)
                    continue
                e["min"] = mn if e["min"] is None else min(e["min"], mn)
                e["max"] = mx if e["max"] is None else max(e["max"], mx)
            elif st.null_count != rg_meta.num_rows:
                # non-null values exist but min/max was not
                # written: unusable for range pruning
                bad.add(name)
    for b in bad:
        stats.pop(b, None)
    for k, v in part_values.items():
        sv = _json_safe(v)
        if v is None:
            stats[k] = {"min": None, "max": None, "nulls": md.num_rows}
        elif sv is not None:
            stats[k] = {"min": sv, "max": sv, "nulls": 0}
    entry = {
        "path": rel,
        "rows": md.num_rows,
        # on-disk size: what byte-based stream admission control
        # (max_bytes_per_trigger) budgets against — one stat call,
        # harvested alongside the footer read
        "bytes": os.path.getsize(abs_path),
        "stats": stats,
    }
    if raw_parts:
        entry["parts"] = raw_parts
    return entry


#: commits with at least this many files harvest their footer stats on
#: the EXECUTORS instead of a sequential driver loop
_DISTRIBUTED_HARVEST_MIN_FILES = 33


def _harvest_stats(
    data_dir: str, spark: SparkSession | None = None
) -> list[dict]:
    """One entry per parquet file just written to ``data_dir`` (see
    ``_harvest_one`` for what an entry records).

    Scale posture: a 100 TB commit writes thousands of files, and a
    sequential driver-side footer loop becomes the commit-time
    bottleneck (the exact 'driver-side footer harvest needs
    executor-side stats' gap SCALE.md recorded).  With a session and
    enough files, the per-file harvest fans out as one Spark job over
    the file list — each executor reads only footers, the driver
    collects O(#files × #cols) of JSON it was going to hold anyway.
    Small commits keep the zero-overhead local loop."""
    import glob as _glob

    rels = [
        os.path.relpath(f, data_dir)
        for f in sorted(
            _glob.glob(os.path.join(data_dir, "**", "part-*"), recursive=True)
        )
        if f.endswith(".parquet")
    ]
    if spark is not None and len(rels) >= _DISTRIBUTED_HARVEST_MIN_FILES:
        sc = spark.sparkContext
        out = (
            sc.parallelize(rels, min(len(rels), 256))
            .map(lambda r: _harvest_one(data_dir, r))
            .collect()
        )
        return sorted(out, key=lambda e: e["path"])
    return [_harvest_one(data_dir, r) for r in rels]


def _merge_schema(prev_json: dict, new_schema: StructType) -> StructType:
    """Append-mode schema evolution: the version's logical schema is
    the previous schema plus any NEW columns (appended in arrival
    order).  A same-named column must keep its type — type evolution
    is rejected loudly rather than half-supported."""
    prev = StructType.fromJson(prev_json)
    by_name = {f.name: f for f in prev.fields}
    fields = list(prev.fields)
    for f in new_schema.fields:
        if f.name not in by_name:
            fields.append(f)
        elif by_name[f.name].dataType != f.dataType:
            raise ValueError(
                f"type evolution not supported for column {f.name}: "
                f"{by_name[f.name].dataType} vs {f.dataType}"
            )
    return StructType(fields)


# --------------------------------------------------------------------
# Per-file bloom filters (point-lookup skipping beyond min/max)
#
# min/max stats are useless for equality probes on high-cardinality
# UNSORTED ids (every file's range covers every key).  A per-file
# bloom over the column's values — the public pattern of Parquet's
# bloom filters / Delta's bloom index, lifted to the manifest so
# pruning happens before any file is opened — turns an id-equality
# read into opening ~1 file instead of all of them.  Opt-in
# (``commit(bloom_cols=...)`` or ``add_bloom_index``) because
# building one costs a column read per file; consulted automatically
# by ``_file_may_match`` for == and IN.  No-false-negative is the
# contract: a bloom that cannot promise it (un-normalizable value)
# is simply not built / not consulted.

_BLOOM_K = 8  # double-hashing probes per key
_BLOOM_MAX_BITS = 1 << 23  # 1 MiB bitset cap per (file, column)


def _bloom_key(v) -> str | None:
    """The canonical hash string of one value — NUMERIC identity is
    collapsed (int 5, long 5, double 5.0 hash alike) because equality
    predicates compare numerically; None = value outside the bloom
    contract (no filter built / probe passes).

    Integral floats with abs >= 2**53 are OUTSIDE the contract on both
    build and probe sides: above 2**53 doubles are not exact over the
    integers, so a double predicate value can equal MANY distinct int
    column values after Spark's widening cast (e.g. 2**53 and 2**53+1
    both cast to the same double) — no single hash key can collapse
    that identity, and hashing repr() would false-negative against an
    equal int's str() key."""
    if isinstance(v, bool):
        return None
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if v != v:  # NaN never equals anything
            return None
        if v.is_integer():
            return str(int(v)) if abs(v) < 2**53 else None
        return repr(v)
    if isinstance(v, str):
        return v
    return None


def _bloom_kind(v) -> str | None:
    """'num' / 'str' type-class of one _json_safe value.  Probes whose
    class differs from the column's stored class (e.g. numeric probe
    against string keys) are outside the contract: Spark's residual
    filter compares them after an implicit cast ('01' == 1 matches),
    which the literal hash cannot model."""
    if isinstance(v, bool):
        return None
    if isinstance(v, (int, float)):
        return "num"
    if isinstance(v, str):
        return "str"
    return None


def _bloom_positions(key: str, m: int) -> list[int]:
    import hashlib

    d = hashlib.md5(key.encode("utf-8")).digest()
    h1 = int.from_bytes(d[:8], "little")
    h2 = int.from_bytes(d[8:], "little") | 1
    return [(h1 + i * h2) % m for i in range(_BLOOM_K)]


def _build_bloom(values) -> dict | None:
    """{"m", "k", "kind", "b64"} over the column's non-null values, or
    None when any value falls outside the bloom contract (a partial
    bloom would produce false negatives — wrong answers, not slow
    ones).  ``kind`` records the column's value class so mismatched-
    type probes can be recognised as outside the contract."""
    import base64

    keys = []
    kind = None
    for v in values:
        if v is None:
            continue
        sv = _json_safe(v)
        key = _bloom_key(sv) if sv is not None else None
        if key is None:
            return None
        k = _bloom_kind(sv)
        if kind is None:
            kind = k
        elif k != kind:
            return None  # mixed-class column: no single probe class
        keys.append(key)
    n = max(64, len(keys) * 12)
    m = 64
    while m < n and m < _BLOOM_MAX_BITS:
        m <<= 1
    bits = bytearray(m // 8)
    for key in keys:
        for pos in _bloom_positions(key, m):
            bits[pos >> 3] |= 1 << (pos & 7)
    return {
        "m": m,
        "k": _BLOOM_K,
        "kind": kind or "num",
        "b64": base64.b64encode(bytes(bits)).decode("ascii"),
    }


def _bloom_may_contain(bloom: dict, value) -> bool:
    """False only when the bloom PROVES the value is absent from the
    file; anything outside the contract passes (never a wrong skip).
    Outside the contract: un-normalizable values, integral doubles
    >= 2**53, probes whose type class differs from the column's
    stored class, and legacy blooms that never recorded a class."""
    import base64

    sv = _json_safe(value)
    key = _bloom_key(sv) if sv is not None else None
    if key is None:
        return True
    kind = bloom.get("kind")
    if kind is None or _bloom_kind(sv) != kind:
        return True
    bits = base64.b64decode(bloom["b64"])
    m = int(bloom["m"])
    for pos in _bloom_positions(key, m):
        if not (bits[pos >> 3] >> (pos & 7)) & 1:
            return False
    return True


def _bloom_one(data_dir: str, entry: dict, cols: list[str]) -> dict:
    """The entry enriched with blooms for ``cols`` (those present in
    the file's physical schema) — one column read per file, module-
    level and argument-pure so the distributed build ships it by
    reference."""
    import pyarrow.parquet as pq

    if not entry.get("rows"):
        return entry
    path = os.path.join(data_dir, entry["path"])
    pf = pq.ParquetFile(path)
    present = [c for c in cols if c in pf.schema_arrow.names]
    if not present:
        return entry
    t = pf.read(columns=present)
    blooms = dict(entry.get("bloom", {}))
    for c in present:
        b = _build_bloom(t[c].to_pylist())
        if b is not None:
            blooms[c] = b
    out = dict(entry)
    if blooms:
        out["bloom"] = blooms
    return out


def _harvest_blooms(
    data_dir: str,
    entries: list[dict],
    cols: list[str],
    spark: SparkSession | None = None,
) -> list[dict]:
    """Entries enriched with per-file blooms; distributed over the
    executors for large commits (same fan-out rule as the stats
    harvest — the driver must not serially re-read every file)."""
    if spark is not None and len(entries) >= _DISTRIBUTED_HARVEST_MIN_FILES:
        sc = spark.sparkContext
        out = (
            sc.parallelize(entries, min(len(entries), 256))
            .map(lambda e: _bloom_one(data_dir, e, cols))
            .collect()
        )
        return sorted(out, key=lambda e: e["path"])
    return [_bloom_one(data_dir, e, cols) for e in entries]


def add_bloom_index(
    spark: SparkSession, table_dir: str, cols: list[str]
) -> int:
    """Backfill per-file blooms for ``cols`` over EVERY live file and
    publish a metadata-only version carrying them (Delta's bloom
    index shape).  Costs one column read per file — say so, don't
    hide it — after which every == / IN read on those columns prunes
    to the files that can actually contain the key.  Columns are
    LOGICAL names; blooms key the physical layout like all stats."""
    if not cols:
        raise ValueError("add_bloom_index requires at least one column")

    def build(prev: int) -> dict:
        if prev == 0:
            raise ValueError("cannot bloom-index an empty table")
        m = _read_manifest(table_dir, prev)
        mapping, _ = _load_mapping(m)
        phys_cols = [mapping.get(c, c) for c in cols]
        if "schema" in m:
            have = set(StructType.fromJson(m["schema"]).fieldNames())
            missing = [c for c in cols if c not in have]
            if missing:
                raise ValueError(f"no such column(s): {missing}")
        files: dict[str, list] = {}
        for d in m["dirs"]:
            entries = _dir_entries(table_dir, m, d)
            if entries is None:
                raise ValueError(
                    f"dir {d} has no per-file manifest entries (legacy "
                    "manifest); rewrite the table first"
                )
            files[d] = _harvest_blooms(
                os.path.join(table_dir, d), entries, phys_cols, spark
            )
        return {
            "dirs": list(m["dirs"]),
            "mode": "set_bloom",
            "files": files,  # every dir re-shards: blooms are payload
            "dir_schemas": _load_dir_schemas(m),
            "partitioned_dirs": dict(m.get("partitioned_dirs", {})),
            "deletes": list(m.get("deletes", [])),
            **({"schema": m["schema"]} if "schema" in m else {}),
            "constraints": _carry_constraints(m),
            "txns": _carry_txns(m),
            **_carry_mapping(m),
        }

    return _publish(table_dir, build)


# --------------------------------------------------------------------
# Column mapping (RENAME / DROP COLUMN without rewriting data)
#
# The public pattern (Delta's columnMapping, Iceberg's field ids,
# reduced to its core): data files always store PHYSICAL column
# names; the manifest's logical schema maps each logical name to its
# physical one via ``column_mapping`` ({logical: physical}; identity
# entries omitted, so the map is empty — and every code path
# zero-cost — until the first rename/collision).  RENAME changes only
# the logical name (physical stays, zero data movement); DROP removes
# the logical field and retires its physical name
# (``retired_physical``) so a later re-add of the same logical name
# gets a FRESH physical name instead of resurrecting the dropped
# bytes.  Per-version mapping means time travel shows each version
# under its own names; per-file stats, tombstone predicates, and
# partition path components are all keyed PHYSICAL (stable forever),
# so skipping and merge-on-read survive any number of renames.


def _load_mapping(m: dict | None) -> tuple[dict, list]:
    """(column_mapping, retired_physical) of a manifest — ({}, [])
    when absent: identity mapping, the zero-overhead common case."""
    if not m:
        return {}, []
    return (
        dict(m.get("column_mapping", {})),
        list(m.get("retired_physical", [])),
    )


def _carry_mapping(m: dict | None) -> dict:
    """The mapping keys for the next manifest payload, carried
    verbatim — spliced into every metadata-preserving build()."""
    mapping, retired = _load_mapping(m)
    out = {}
    if mapping:
        out["column_mapping"] = mapping
    if retired:
        out["retired_physical"] = retired
    return out


def _phys_preds(mapping: dict, preds: list) -> list:
    """Predicate triples translated logical → physical for the stats
    / tombstone layer (both are keyed by physical names)."""
    if not mapping:
        return preds
    return [(mapping.get(c, c), o, v) for c, o, v in preds]


def _physical_schema(schema: StructType, mapping: dict) -> StructType:
    """``schema`` with field names translated logical → physical."""
    if not mapping:
        return schema
    from pyspark.sql.types import StructField

    return StructType(
        [
            StructField(
                mapping.get(f.name, f.name),
                f.dataType,
                f.nullable,
                f.metadata,
            )
            for f in schema.fields
        ]
    )


def _to_physical_df(df: DataFrame, mapping: dict) -> DataFrame:
    if not mapping or not any(c in mapping for c in df.columns):
        return df  # identity: keep the plan untouched
    return df.select(
        *[F.col(c).alias(mapping.get(c, c)) for c in df.columns]
    )


def _to_logical_df(df: DataFrame, mapping: dict) -> DataFrame:
    if not mapping:
        return df
    inv = {p: l for l, p in mapping.items()}
    if not any(c in inv for c in df.columns):
        return df
    return df.select(*[F.col(c).alias(inv.get(c, c)) for c in df.columns])


def _assign_physical(
    new_cols: list[str],
    mapping: dict,
    retired: list,
    existing_logical: list[str],
) -> dict:
    """Mapping extended with physical names for NEW logical columns:
    identity unless the name is already a live or retired physical
    name (then a fresh suffixed physical, so the new column can never
    read the old column's bytes)."""
    taken = (
        set(retired)
        | {mapping.get(c, c) for c in existing_logical}
        | set(mapping.values())
    )
    out = dict(mapping)
    for c in new_cols:
        p = c
        if p in taken:
            p = f"{c}__{uuid.uuid4().hex[:8]}"
        if p != c:
            out[c] = p
        taken.add(p)
    return out


def table_column_mapping(
    table_dir: str, version: int | None = None
) -> dict:
    """{logical: physical} in force at ``version`` (default latest);
    identity entries omitted; {} for an unmapped or empty table."""
    v = latest_version(table_dir) if version is None else version
    if v == 0:
        return {}
    return _load_mapping(_read_manifest(table_dir, v))[0]


def _constraint_references(cons: dict, column: str) -> list[str]:
    import re as _re

    pat = _re.compile(rf"\b{_re.escape(column)}\b")
    return sorted(n for n, e in cons.items() if pat.search(e))


def rename_column(table_dir: str, old: str, new: str) -> int:
    """ALTER TABLE ... RENAME COLUMN old TO new — a metadata-only
    version: the logical field is renamed, the physical name (what
    the data files store) is unchanged, so no byte of data moves and
    every file-level stat keeps pruning.  Time travel to pre-rename
    versions shows the old name.  Refused while a CHECK constraint
    references the column (the expression would silently stop
    matching rows — drop/re-add the constraint around the rename)."""

    def build(prev: int) -> dict:
        if prev == 0:
            raise ValueError("cannot rename a column of an empty table")
        m = _read_manifest(table_dir, prev)
        if "schema" not in m:
            raise ValueError(
                "manifest predates schema records; rewrite the table"
            )
        schema = StructType.fromJson(m["schema"])
        names = schema.fieldNames()
        if old not in names:
            raise ValueError(f"no column {old!r} (have: {names})")
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        cons = _carry_constraints(m)
        refs = _constraint_references(cons, old)
        if refs:
            raise ValueError(
                f"column {old!r} is referenced by CHECK constraint(s) "
                f"{refs}; drop them before renaming"
            )
        mapping, retired = _load_mapping(m)
        phys = mapping.pop(old, old)
        if phys != new:  # renaming back to the physical name is identity
            mapping[new] = phys
        fields = []
        for f in schema.fields:
            if f.name == old:
                from pyspark.sql.types import StructField

                fields.append(
                    StructField(new, f.dataType, f.nullable, f.metadata)
                )
            else:
                fields.append(f)
        payload = {
            "dirs": list(m["dirs"]),
            "mode": "set_schema",
            "files": _carry_files(table_dir, m),
            "dir_schemas": _load_dir_schemas(m),
            "partitioned_dirs": dict(m.get("partitioned_dirs", {})),
            "deletes": list(m.get("deletes", [])),
            "schema": StructType(fields).jsonValue(),
            "constraints": cons,
            "txns": _carry_txns(m),
        }
        if mapping:
            payload["column_mapping"] = mapping
        if retired:
            payload["retired_physical"] = retired
        return payload

    return _publish(table_dir, build)


def add_column(table_dir: str, name: str, dtype) -> int:
    """ALTER TABLE ... ADD COLUMN — a metadata-only version: the
    logical schema widens with a nullable field, every EXISTING file
    reads the column as typed NULLs through the ``dir_schemas``
    machinery (the same rule append-mode evolution already uses), and
    later writes may supply values.  No byte of data moves.

    ``dtype`` is a ``pyspark.sql.types.DataType`` or a DDL type
    string ('int', 'array<double>', ...).  The new column's PHYSICAL
    name is assigned through ``_assign_physical``: if the logical name
    collides with a live or RETIRED physical (e.g. the column was
    dropped earlier), the fresh physical guarantees the new column can
    never resurrect the dropped column's bytes.  Time travel to
    pre-add versions shows the narrow schema."""
    from pyspark.sql.types import DataType

    if not isinstance(dtype, DataType):
        field = StructType.fromDDL(f"`{name}` {dtype}").fields[0]
        dtype = field.dataType

    def build(prev: int) -> dict:
        if prev == 0:
            raise ValueError("cannot add a column to an empty table")
        m = _read_manifest(table_dir, prev)
        if "schema" not in m:
            raise ValueError(
                "manifest predates schema records; rewrite the table"
            )
        schema = StructType.fromJson(m["schema"])
        names = schema.fieldNames()
        if name in names:
            raise ValueError(f"column {name!r} already exists")
        mapping, retired = _load_mapping(m)
        full = _assign_physical([name], mapping, retired, names)
        from pyspark.sql.types import StructField

        payload = {
            "dirs": list(m["dirs"]),
            "mode": "set_schema",
            "files": _carry_files(table_dir, m),
            "dir_schemas": _load_dir_schemas(m),
            "partitioned_dirs": dict(m.get("partitioned_dirs", {})),
            "deletes": list(m.get("deletes", [])),
            "schema": StructType(
                list(schema.fields) + [StructField(name, dtype, True)]
            ).jsonValue(),
            "constraints": _carry_constraints(m),
            "txns": _carry_txns(m),
        }
        if full:
            payload["column_mapping"] = full
        if retired:
            payload["retired_physical"] = retired
        return payload

    return _publish(table_dir, build)


def drop_column(table_dir: str, name: str) -> int:
    """ALTER TABLE ... DROP COLUMN — a metadata-only version: the
    logical field disappears (reads never select it again — column
    pruning makes the dropped bytes free); the physical name is
    RETIRED so a future column re-using the logical name gets a fresh
    physical name and can never resurrect the dropped data.  Refused
    for partition columns of live dirs and constraint-referenced
    columns; vacuum of historical versions eventually reclaims the
    bytes with the files that hold them."""

    def build(prev: int) -> dict:
        if prev == 0:
            raise ValueError("cannot drop a column of an empty table")
        m = _read_manifest(table_dir, prev)
        if "schema" not in m:
            raise ValueError(
                "manifest predates schema records; rewrite the table"
            )
        schema = StructType.fromJson(m["schema"])
        names = schema.fieldNames()
        if name not in names:
            raise ValueError(f"no column {name!r} (have: {names})")
        if len(names) == 1:
            raise ValueError("cannot drop the only column")
        cons = _carry_constraints(m)
        refs = _constraint_references(cons, name)
        if refs:
            raise ValueError(
                f"column {name!r} is referenced by CHECK constraint(s) "
                f"{refs}; drop them first"
            )
        mapping, retired = _load_mapping(m)
        phys = mapping.pop(name, name)
        for d, cols in m.get("partitioned_dirs", {}).items():
            if d in m["dirs"] and phys in cols:
                raise ValueError(
                    f"column {name!r} is a partition column of live "
                    f"dir {d}; rewrite the table to drop it"
                )
        if phys not in retired:
            retired.append(phys)
        payload = {
            "dirs": list(m["dirs"]),
            "mode": "set_schema",
            "files": _carry_files(table_dir, m),
            "dir_schemas": _load_dir_schemas(m),
            "partitioned_dirs": dict(m.get("partitioned_dirs", {})),
            "deletes": list(m.get("deletes", [])),
            "schema": StructType(
                [f for f in schema.fields if f.name != name]
            ).jsonValue(),
            "constraints": cons,
            "txns": _carry_txns(m),
        }
        if mapping:
            payload["column_mapping"] = mapping
        if retired:
            payload["retired_physical"] = retired
        return payload

    return _publish(table_dir, build)


def _manifest_path(table_dir: str, version: int) -> str:
    return os.path.join(table_dir, _MANIFESTS, f"v{version:06d}.json")


# --------------------------------------------------------------------
# Sharded file-entry log (manifest format v2)
#
# A version's per-file entries (path + rows + column stats — the
# O(#files × #columns) bulk) live in immutable per-dir SHARD files
# ``_manifests/s-<uuid>.json``, one per data dir; the version manifest
# itself carries only ``files_ref: {dir: {shard, n, rows}}`` plus a
# deduplicated schema list.  This is the Iceberg manifest-list /
# manifest-file split: a commit re-serializes shards ONLY for the dirs
# it changed (an append: one new shard; a metadata-only delete: zero)
# and carries every other dir by reference, so commit cost is
# O(changed dirs + #dirs-in-refs), never O(all files) — the property
# that keeps a 10⁶-file table committable.  Shards are content-
# immutable by construction (any change writes a new uuid name), which
# makes the read cache below trivially safe and lets vacuum reclaim
# them by reference counting over retained manifests.  Manifests
# written before this format (inline ``files`` / ``dir_schemas``)
# remain readable everywhere via the ``_load_*`` accessors and are
# re-sharded wholesale on their next publish.

_SHARD_PREFIX = "s-"
_SHARD_CACHE: OrderedDict = OrderedDict()  # abs path -> entries (immutable)
_SHARD_CACHE_MAX = 1024


class _ShardRef:
    """Publish-time marker: this dir's entry list is UNCHANGED, carry
    the previous version's shard by name instead of re-serializing
    O(#files) entries."""

    __slots__ = ("ref",)

    def __init__(self, ref: dict):
        self.ref = ref  # {"shard": name, "n": files, "rows": rows}


def _read_shard(table_dir: str, name: str) -> list[dict]:
    path = os.path.join(table_dir, _MANIFESTS, name)
    hit = _SHARD_CACHE.get(path)
    if hit is not None:
        _SHARD_CACHE.move_to_end(path)
        return hit
    with open(path) as fh:
        entries = json.load(fh)["entries"]
    _SHARD_CACHE[path] = entries
    if len(_SHARD_CACHE) > _SHARD_CACHE_MAX:
        _SHARD_CACHE.popitem(last=False)
    return entries


def _load_files(table_dir: str, m: dict) -> dict[str, list]:
    """The version's full {dir: [file entries]} map — shard refs
    resolved (v2) or the inline map (legacy).  O(#files) to
    materialize, same as reading the old monolithic manifest; callers
    that only need counts use ``_files_summary`` instead."""
    refs = m.get("files_ref")
    if refs is None:
        return m.get("files", {})
    return {d: _read_shard(table_dir, r["shard"]) for d, r in refs.items()}


def _dir_entries(table_dir: str, m: dict, d: str) -> list | None:
    """One dir's file entries without touching any other shard."""
    refs = m.get("files_ref")
    if refs is None:
        return m.get("files", {}).get(d)
    r = refs.get(d)
    return None if r is None else _read_shard(table_dir, r["shard"])


def _files_summary(m: dict) -> dict[str, tuple[int, int]] | None:
    """{dir: (n_files, n_rows)} WITHOUT opening any shard — answered
    from the refs a v2 manifest already carries.  None when some
    listed dir has no per-file entries (legacy manifests), so callers
    fall back to a scan rather than trust a partial number."""
    refs = m.get("files_ref")
    if refs is not None:
        if set(m["dirs"]) - set(refs):
            return None
        return {d: (r["n"], r["rows"]) for d, r in refs.items()}
    files = m.get("files")
    if files is None or set(m["dirs"]) - set(files):
        return None
    return {
        d: (len(es), sum(e.get("rows", 0) for e in es))
        for d, es in files.items()
    }


def _carry_files(table_dir: str, m: dict | None) -> dict:
    """The previous version's files map in PUBLISHABLE form: v2 shard
    refs carry by name — O(1) each, the point of sharding; legacy
    inline lists carry by value and get sharded at this publish."""
    if m is None:
        return {}
    refs = m.get("files_ref")
    if refs is not None:
        return {d: _ShardRef(r) for d, r in refs.items()}
    return dict(m.get("files", {}))


def _load_dir_schemas(m: dict) -> dict[str, dict]:
    """{dir: schema json} — expanded from the deduped v2 form (shared
    dict references, O(#dirs) to expand) or the legacy inline map."""
    c = m.get("dir_schemas_v2")
    if c is None:
        return dict(m.get("dir_schemas", {}))  # copy: builds mutate it
    schemas = c["schemas"]
    return {d: schemas[i] for d, i in c["by_dir"].items()}


def _finalize_payload(
    table_dir: str, payload: dict, written: list[str]
) -> None:
    """Rewrite a build()-produced payload into the sharded on-disk
    form.  ``files`` values that are entry LISTS (new or rewritten
    dirs) are serialized to fresh shard files (atomic replace — a
    shard is complete or absent), recorded in ``written`` so a publish
    attempt that loses its race can unlink them; ``_ShardRef`` values
    become their carried ref verbatim.  ``dir_schemas`` dedupes to a
    unique-schema list + per-dir index — one schema copy for the
    common single-schema table instead of one per data dir."""
    files = payload.pop("files", None)
    if files is not None:
        refs = {}
        for d, v in files.items():
            if isinstance(v, _ShardRef):
                refs[d] = v.ref
                continue
            name = f"{_SHARD_PREFIX}{uuid.uuid4().hex}.json"
            path = os.path.join(table_dir, _MANIFESTS, name)
            tmp = os.path.join(table_dir, _MANIFESTS, f".tmp-{name}")
            with open(tmp, "w") as fh:
                json.dump({"dir": d, "entries": v}, fh)
            os.replace(tmp, path)
            written.append(path)
            refs[d] = {
                "shard": name,
                "n": len(v),
                "rows": sum(e.get("rows", 0) for e in v),
            }
        payload["files_ref"] = refs
    ds = payload.pop("dir_schemas", None)
    if ds is not None:
        uniq: list = []
        index: dict[str, int] = {}
        by_dir: dict[str, int] = {}
        for d, sj in ds.items():
            key = json.dumps(sj, sort_keys=True)
            i = index.get(key)
            if i is None:
                i = len(uniq)
                index[key] = i
                uniq.append(sj)
            by_dir[d] = i
        payload["dir_schemas_v2"] = {"schemas": uniq, "by_dir": by_dir}


_LAST_HINT = "_LAST"


def _read_last_hint(mdir: str) -> int:
    try:
        with open(os.path.join(mdir, _LAST_HINT)) as fh:
            return int(fh.read().strip())
    except (FileNotFoundError, ValueError):
        return 0


#: manifest-log checkpoint cadence (Delta writes one every 10
#: commits): every Nth publish also writes a SUMMARY of the last N
#: versions (version → ts/mode/counts/txns), so timestamp travel and
#: history() open O(versions/N) files on long histories instead of
#: walking every manifest
_CHECKPOINT_EVERY = 10


def _checkpoint_path(table_dir: str, version: int) -> str:
    return os.path.join(
        table_dir, _MANIFESTS, f"ckpt-{version:08d}.json"
    )


def _history_row(table_dir: str, v: int, m: dict) -> dict:
    """One version's DESCRIBE HISTORY dict — shared by ``history()``
    (manifest walk) and the checkpoint writer, so a row served from a
    checkpoint is byte-identical to the linear walk's."""
    summary = _files_summary(m)
    return {
        "version": v,
        "ts": m.get("ts"),
        "mode": m.get("mode"),
        "n_dirs": len(m["dirs"]),
        "n_files": (
            sum(n for n, _ in summary.values())
            if summary is not None
            else None
        ),
        "n_rows": (
            sum(r for _, r in summary.values())
            if summary is not None and not m.get("deletes")
            else None
        ),
        "n_tombstones": len(m.get("deletes", [])),
        "txns": dict(m.get("txns", {})),
    }


def _write_checkpoint(table_dir: str, version: int) -> None:
    """Best-effort checkpoint covering versions
    (version - N, version] — written ONLY by the publisher of
    ``version`` (no race: the version's link already serialized
    ownership), atomically via temp + replace.  Failure is silent:
    readers fall back to the per-manifest walk, which is always
    correct."""
    try:
        summaries = {}
        for w in range(version - _CHECKPOINT_EVERY + 1, version + 1):
            m = _read_manifest(table_dir, w)
            row = _history_row(table_dir, w, m)
            row.pop("version")
            summaries[str(w)] = row
        tmp = os.path.join(
            table_dir, _MANIFESTS, f".tmp-ckpt-{uuid.uuid4().hex}"
        )
        with open(tmp, "w") as fh:
            json.dump(
                {
                    "version": version,
                    "every": _CHECKPOINT_EVERY,
                    "summaries": summaries,
                },
                fh,
            )
        os.replace(tmp, _checkpoint_path(table_dir, version))
    except OSError:
        pass
    except VersionNotFoundError:
        pass  # a covered version already vacuumed: skip the ckpt


def _read_checkpoint(table_dir: str, version: int) -> dict | None:
    try:
        with open(_checkpoint_path(table_dir, version)) as fh:
            ck = json.load(fh)
    except (OSError, ValueError):
        return None
    try:
        every = int(ck.get("every"))
    except (TypeError, ValueError):
        return None
    if ck.get("version") != version or every <= 0:
        return None
    summaries = ck.get("summaries")
    if not isinstance(summaries, dict) or any(
        not isinstance(summaries.get(str(w)), dict)
        for w in range(version - every + 1, version + 1)
    ):
        return None  # partial/corrupt ckpt: fall back per-manifest
    ck["every"] = every
    return ck


def _write_last_hint(table_dir: str, version: int) -> None:
    """Advance the tip-pointer HINT (atomic replace, forward-only).
    Purely an optimization: losers of a concurrent-publish race may
    write out of order, and the file may be deleted or stale — every
    reader verifies against the actual manifests and probes forward,
    so a wrong hint costs a directory listing, never a wrong answer."""
    mdir = os.path.join(table_dir, _MANIFESTS)
    if _read_last_hint(mdir) >= version:
        return
    tmp = os.path.join(mdir, f".tmp-hint-{uuid.uuid4().hex}")
    try:
        with open(tmp, "w") as fh:
            fh.write(str(version))
        os.replace(tmp, os.path.join(mdir, _LAST_HINT))
    except OSError:
        try:
            os.unlink(tmp)
        except OSError:
            pass


def latest_version(table_dir: str) -> int:
    """Highest published version, or 0 if the table is empty.

    Scale hygiene: a full ``_manifests/`` listing is O(#versions) per
    call — the lakehouse checkpoint problem at version 10⁵.  The
    ``_LAST`` pointer file makes the common case O(1): start at the
    hinted version (verified to exist) and probe forward to the true
    tip; the listing remains only as the fallback when the hint is
    missing, corrupt, or expired by vacuum."""
    mdir = os.path.join(table_dir, _MANIFESTS)
    if not os.path.isdir(mdir):
        return 0
    hint = _read_last_hint(mdir)
    if hint > 0 and os.path.exists(_manifest_path(table_dir, hint)):
        v = hint
        while os.path.exists(_manifest_path(table_dir, v + 1)):
            v += 1
        return v
    versions = [
        int(f[1:7])
        for f in os.listdir(mdir)
        if f.startswith("v") and f.endswith(".json")
    ]
    return max(versions, default=0)


class VersionNotFoundError(FileNotFoundError):
    """The requested version has no manifest — it never existed, or
    vacuum expired it."""


def _as_epoch(as_of) -> float:
    """``as_of`` in epoch seconds: accepts a number, a datetime
    (naive = local time, matching the commit stamps), or an ISO-8601
    string."""
    import datetime

    if isinstance(as_of, (int, float)) and not isinstance(as_of, bool):
        return float(as_of)
    if isinstance(as_of, str):
        as_of = datetime.datetime.fromisoformat(as_of)
    if isinstance(as_of, datetime.datetime):
        return as_of.timestamp()
    raise TypeError(f"unsupported as_of type: {type(as_of).__name__}")


def version_as_of(table_dir: str, as_of) -> int:
    """Timestamp time travel (Delta semantics): the LATEST version
    whose commit timestamp is <= ``as_of`` — i.e. the snapshot a
    reader at that wall-clock instant would have resolved.  Commit
    timestamps are made monotonic at publish, so the answer is the
    last element of a sorted prefix, not a fuzzy match.

    Raises ``VersionNotFoundError`` when ``as_of`` predates the first
    RETAINED version (either the table did not exist yet, or vacuum
    expired the versions that covered that instant — both mean the
    snapshot is not reconstructible).  Legacy manifests without a
    ``ts`` stamp are treated as infinitely old: readable by version
    number, never resolvable by timestamp."""
    target = _as_epoch(as_of)
    tip = latest_version(table_dir)
    if tip == 0:
        raise VersionNotFoundError(f"no published versions in {table_dir}")
    best = None
    earliest = None
    v = tip
    while v >= 1:
        # a checkpoint covering (v - N, v] answers the whole block
        # from ONE file — the long-history fast path (O(versions/N))
        ck = (
            _read_checkpoint(table_dir, v)
            if v % _CHECKPOINT_EVERY == 0
            else None
        )
        if ck is not None and not os.path.exists(
            _manifest_path(table_dir, v - int(ck["every"]) + 1)
        ):
            ck = None  # stale ckpt: block (partially) vacuumed
        if ck is not None:
            for w in range(v, v - int(ck["every"]), -1):
                ts = ck["summaries"][str(w)].get("ts")
                if ts is None:
                    continue
                earliest = (w, ts)
                if ts <= target:
                    best = w
                    break
            if best is not None:
                break
            v -= int(ck["every"])
            continue
        try:
            ts = _read_manifest(table_dir, v).get("ts")
        except VersionNotFoundError:
            break  # versions below this are vacuumed
        if ts is not None:
            earliest = (v, ts)
            if ts <= target:
                best = v
                break
        v -= 1
    if best is not None:
        return best
    raise VersionNotFoundError(
        f"as_of={as_of!r} predates the earliest retained version of "
        f"{table_dir}"
        + (
            f" (v{earliest[0]} committed at epoch {earliest[1]:.6f})"
            if earliest
            else " (no timestamped versions retained)"
        )
    )


def _read_manifest(table_dir: str, version: int) -> dict:
    try:
        with open(_manifest_path(table_dir, version)) as fh:
            return json.load(fh)
    except FileNotFoundError:
        mdir = os.path.join(table_dir, _MANIFESTS)
        have = sorted(
            int(f[1:7])
            for f in (os.listdir(mdir) if os.path.isdir(mdir) else [])
            if f.startswith("v") and f.endswith(".json")
        )
        raise VersionNotFoundError(
            f"version {version} of {table_dir} not found — never "
            f"published or expired by vacuum; available: {have or 'none'}"
        ) from None


def _publish(table_dir: str, build_payload) -> int:
    """Atomically publish the next manifest.  ``build_payload(prev)``
    composes the snapshot against tip version ``prev`` and is
    RE-INVOKED on every retry: a committer that loses the
    exclusive-create race must recompose against the winner's
    manifest, or the winner's files would be silently dropped from
    the lineage (the classic optimistic-concurrency lost update)."""
    os.makedirs(os.path.join(table_dir, _MANIFESTS), exist_ok=True)
    while True:
        prev = latest_version(table_dir)
        #: shards written by THIS attempt — unlinked if the attempt
        #: loses the publish race or aborts, so failed attempts leave
        #: no orphaned metadata (vacuum would sweep them anyway, but
        #: cleanliness here keeps reference counting exact)
        written: list[str] = []
        try:
            payload = build_payload(prev)
            # ONE read of the previous manifest serves both the
            # copy-history carry and the monotonic-ts rule below
            m_prev = None
            if prev > 0:
                try:
                    m_prev = _read_manifest(table_dir, prev)
                except VersionNotFoundError:
                    pass  # prev vacuumed mid-race: retry re-reads
            # COPY INTO load history carries by reference through
            # EVERY publish (append/overwrite/DML/compact/restore —
            # like txns, it tracks ingestion progress, not data), and
            # it carries HERE so no build site can forget it.  A
            # payload that sets the key itself (copy_into's union, or
            # an explicit None to clear) wins.  Clones never inherit:
            # their target's prev is 0.
            if "copy_sources_ref" not in payload:
                ref = (m_prev or {}).get("copy_sources_ref")
                if ref:
                    payload["copy_sources_ref"] = ref
            elif payload.get("copy_sources_ref") is None:
                payload.pop("copy_sources_ref", None)
            # CONVERT's foreign-stats marker carries intersected with
            # the live dir set: an overwrite/compact that rewrites the
            # adopted files first-party drops the marker naturally
            # (and thereby re-enables exact metadata min/max)
            if "foreign_stats_dirs" not in payload:
                prev_f = (m_prev or {}).get("foreign_stats_dirs")
                if prev_f:
                    kept = [
                        d
                        for d in prev_f
                        if d in payload.get("dirs", [])
                    ]
                    if kept:
                        payload["foreign_stats_dirs"] = kept
            _finalize_payload(table_dir, payload, written)
            payload["version"] = prev + 1
            # commit timestamp, made MONOTONIC against the previous
            # version (Delta's in-commit-timestamp rule): a wall clock
            # stepping backwards between commits must not make
            # ``as_of`` resolution non-deterministic
            ts = time.time()
            if m_prev is not None:
                prev_ts = m_prev.get("ts")
                if prev_ts is not None and ts <= prev_ts:
                    ts = prev_ts + 1e-6
            payload["ts"] = ts
            # Atomic CONTENT publication: the payload is fully written
            # to a private temp file first, then hard-linked to the
            # manifest path.  link(2) fails like O_EXCL when the target
            # exists (the optimistic-concurrency race) but — unlike
            # create-then-write — never exposes an empty/partial
            # manifest to a concurrent reader that resolves
            # latest_version() in the window between claim and write.
            tmp = os.path.join(
                table_dir, _MANIFESTS, f".tmp-{uuid.uuid4().hex}"
            )
            with open(tmp, "w") as fh:
                json.dump(payload, fh)
            try:
                os.link(tmp, _manifest_path(table_dir, prev + 1))
            except FileExistsError:
                # lost the race — drop this attempt's shards and
                # recompose against the new tip
                for s in written:
                    try:
                        os.unlink(s)
                    except OSError:
                        pass
                continue
            finally:
                os.unlink(tmp)
        except BaseException:
            for s in written:
                try:
                    os.unlink(s)
                except OSError:
                    pass
            raise
        _write_last_hint(table_dir, prev + 1)
        if (prev + 1) % _CHECKPOINT_EVERY == 0:
            _write_checkpoint(table_dir, prev + 1)
        return prev + 1


def _txn_seen(m: dict | None, txn) -> bool:
    """True when the manifest already records this writer txn at or
    beyond the given version — the write is a replay."""
    if not txn or not m:
        return False
    app, ver = txn
    prev = m.get("txns", {}).get(str(app))
    return prev is not None and int(ver) <= prev


def _carry_txns(m: dict | None, txn=None) -> dict:
    """The txns map for the next manifest: carried forward verbatim
    (writer idempotence must survive overwrites, deletes, and
    compaction — it is about the WRITER's progress, not the data),
    plus this commit's stamp."""
    txns = dict(m.get("txns", {})) if m else {}
    if txn:
        app, ver = txn
        txns[str(app)] = int(ver)
    return txns


class ConstraintViolationError(ValueError):
    """A write contained rows violating a table CHECK constraint —
    nothing was published."""


def _carry_constraints(m: dict | None) -> dict:
    """CHECK constraints carry through every commit mode including
    overwrite — they are table PROPERTIES (the Delta model), not
    snapshot data; only ``drop_constraint`` removes one."""
    return dict(m.get("constraints", {})) if m else {}


def table_constraints(table_dir: str, version: int | None = None) -> dict:
    """{name: spark-sql expression} in force at ``version`` (default
    latest); {} for an empty table."""
    v = latest_version(table_dir) if version is None else version
    if v == 0:
        return {}
    return dict(_read_manifest(table_dir, v).get("constraints", {}))


def _validate_new_dir(
    cons: dict,
    abs_dir: str,
    has_files: bool,
    schema: StructType,
    mapping: dict | None = None,
) -> None:
    """Constraint-check the freshly written data dir INSIDE the
    publish (build() scope), so the check is race-free against a
    concurrent ``add_constraint``: the constraints validated are
    exactly the tip's at publish time, re-read on every retry.  Costs
    one scan of the NEW dir only, and only when constraints exist.
    The read is aligned to the version's LOGICAL schema first, so a
    commit that omits an evolved column contributes typed NULLs to
    the check — which pass, per SQL CHECK semantics.  On violation
    the publish aborts with nothing referenced — the orphaned dir is
    reclaimed by vacuum like any failed commit."""
    if not cons or not has_files:
        return
    spark = SparkSession.getActiveSession()
    if spark is None:
        # belt and braces behind the DataSource-writer plan-time
        # refusal: never publish rows a constraint could not vet
        raise RuntimeError(
            "no active SparkSession to validate CHECK constraints — "
            "this write path cannot enforce them; use manifest.commit"
        )
    # declare the commit's logical schema on the read (as read_version
    # does): hive partition values parse from the path AS the declared
    # type instead of through inference — a string '001' must reach the
    # CHECK expression as '001', not as the int 1 — and evolved columns
    # the dir lacks surface as typed NULLs without a footer-inference
    # round trip
    from pyspark.sql.types import StructField

    # the files store PHYSICAL names; constraints are written against
    # LOGICAL names — declare physical, then rename for the check
    phys = _physical_schema(schema, mapping or {})
    declared = StructType(
        # all-nullable: evolved columns this dir legitimately lacks
        # read as NULLs, which must not trip a declared not-null field
        [StructField(f.name, f.dataType, True, f.metadata) for f in phys.fields]
    )
    reader = spark.read.schema(declared).option("basePath", abs_dir)
    df = _to_logical_df(reader.parquet(abs_dir), mapping or {})
    df = _align_to(df, schema)
    _check_constraints(df, cons, f"write into {abs_dir}")


def _check_constraints(df: DataFrame, cons: dict, context: str) -> None:
    """Raise ``ConstraintViolationError`` when any row of ``df``
    violates any constraint.  SQL-standard CHECK semantics: only rows
    where the expression is FALSE violate — NULL passes (so a
    constraint on an evolved column never rejects old NULL-filled
    rows).  One action over the conjunction; zero cost when no
    constraints exist."""
    if not cons:
        return
    viol = None
    for name, expr in cons.items():
        c = F.expr(expr) == F.lit(False)
        viol = c if viol is None else viol | c
    bad = df.filter(viol).limit(1).collect()
    if bad:
        detail = ", ".join(f"{n}: ({e})" for n, e in cons.items())
        raise ConstraintViolationError(
            f"{context} violates a CHECK constraint [{detail}]; "
            f"first offending row: {bad[0].asDict()}"
        )


def _revalidate_moved_tip(
    spark: SparkSession,
    table_dir: str,
    old_tip: int,
    new_tip: int,
    cons: dict,
) -> None:
    """Constraint-check the DATA ADDED between two snapshots — the
    re-validation an ``add_constraint`` that lost its publish race
    needs before retrying over the moved tip.  Row REMOVAL (deletes,
    tombstones, files dropped by merge/overwrite replacement) can
    never introduce a violation, so only dirs new since ``old_tip``
    are scanned; a whole-table 'overwrite' step falls back to
    re-validating the full new snapshot."""
    m_old = _read_manifest(table_dir, old_tip)
    seen = set(m_old["dirs"])
    new_dirs: list[str] = []
    for v in range(old_tip + 1, new_tip + 1):
        m = _read_manifest(table_dir, v)
        if m.get("mode") == "overwrite":
            _check_constraints(
                read_version(spark, table_dir, new_tip),
                cons,
                "existing table data (re-validated after a concurrent "
                "overwrite)",
            )
            return
        for d in m["dirs"]:
            if d not in seen:
                new_dirs.append(d)
                seen.add(d)
    m_tip = _read_manifest(table_dir, new_tip)
    live = set(m_tip["dirs"])
    if "schema" not in m_tip:
        # legacy manifest without a recorded schema: no per-dir
        # declared read is possible — re-validate the whole snapshot
        _check_constraints(
            read_version(spark, table_dir, new_tip),
            cons,
            "existing table data (re-validated, legacy manifest)",
        )
        return
    schema = StructType.fromJson(m_tip["schema"])
    tip_mapping, _ = _load_mapping(m_tip)
    for d in new_dirs:
        if d not in live:
            continue  # already replaced again: its rows are gone or
            # live in another dir that is itself in new_dirs
        entries = _dir_entries(table_dir, m_tip, d)
        if not entries:
            continue
        _validate_new_dir(
            cons, os.path.join(table_dir, d), True, schema,
            mapping=tip_mapping,
        )


def add_constraint(
    spark: SparkSession,
    table_dir: str,
    name: str,
    expr: str,
    max_retries: int = 5,
) -> int:
    """ALTER TABLE ... ADD CONSTRAINT name CHECK (expr): validates the
    EXISTING data first (a constraint the current rows already break
    would make every future write ambiguous), then publishes a
    metadata-only version carrying it.  Every subsequent write path —
    commit, DataSource writes, update_where, merge_into, dynamic
    partition overwrite — validates its new/rewritten rows against
    the constraints in force and conflict-aborts the publish on
    violation, leaving no published version and no referenced files
    (the write dir is reclaimed by vacuum).

    The publish is PINNED to the snapshot the validation read
    (expected_base-style): a concurrent commit landing between the
    validation scan and the publish was itself vetted against the
    constraint set WITHOUT this one, so its rows are unvetted — on a
    moved tip the publish aborts internally, the delta (new dirs
    only; removals cannot violate) is re-validated, and the publish
    retries against the new snapshot, up to ``max_retries`` before
    surfacing ``ConcurrentTableModificationError``."""
    tip = latest_version(table_dir)
    if tip == 0:
        raise ValueError("cannot add a constraint to an empty table")
    existing = table_constraints(table_dir, tip)
    if name in existing:
        raise ValueError(f"constraint {name!r} already exists")
    _check_constraints(
        read_version(spark, table_dir, tip),
        {name: expr},
        "existing table data",
    )

    validated = tip
    for _ in range(max_retries):

        def build(prev: int, pin: int = validated) -> dict:
            if prev != pin:
                raise ConcurrentTableModificationError(
                    f"table advanced to v{prev} while the constraint "
                    f"was validated against v{pin}"
                )
            m = _read_manifest(table_dir, prev)
            cons = _carry_constraints(m)
            if name in cons:
                raise ValueError(f"constraint {name!r} already exists")
            cons[name] = expr
            return {
                "dirs": list(m["dirs"]),
                "mode": "set_constraint",
                "files": _carry_files(table_dir, m),
                "dir_schemas": _load_dir_schemas(m),
                "partitioned_dirs": dict(m.get("partitioned_dirs", {})),
                "deletes": list(m.get("deletes", [])),
                **({"schema": m["schema"]} if "schema" in m else {}),
                "constraints": cons,
                "txns": _carry_txns(m),
                **_carry_mapping(m),
            }

        try:
            return _publish(table_dir, build)
        except ConcurrentTableModificationError:
            new_tip = latest_version(table_dir)
            _revalidate_moved_tip(
                spark, table_dir, validated, new_tip, {name: expr}
            )
            validated = new_tip
    raise ConcurrentTableModificationError(
        f"add_constraint lost the publish race {max_retries} times "
        f"under sustained concurrent commits; re-run"
    )


def drop_constraint(table_dir: str, name: str) -> int:
    """ALTER TABLE ... DROP CONSTRAINT: metadata-only version without
    it; unknown names raise (a typo'd drop silently succeeding would
    leave the caller believing enforcement stopped)."""

    def build(prev: int) -> dict:
        if prev == 0:
            raise ValueError("empty table has no constraints")
        m = _read_manifest(table_dir, prev)
        cons = _carry_constraints(m)
        if name not in cons:
            raise ValueError(
                f"no constraint {name!r} (have: {sorted(cons) or 'none'})"
            )
        del cons[name]
        return {
            "dirs": list(m["dirs"]),
            "mode": "set_constraint",
            "files": _carry_files(table_dir, m),
            "dir_schemas": _load_dir_schemas(m),
            "partitioned_dirs": dict(m.get("partitioned_dirs", {})),
            "deletes": list(m.get("deletes", [])),
            **({"schema": m["schema"]} if "schema" in m else {}),
            "constraints": cons,
            "txns": _carry_txns(m),
            **_carry_mapping(m),
        }

    return _publish(table_dir, build)


def commit(
    df: DataFrame,
    table_dir: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
    expected_base: int | None = None,
    txn: tuple[str, int] | None = None,
    bloom_cols: list[str] | None = None,
    extra_payload: dict | None = None,
) -> int:
    """Write ``df`` as immutable data files and publish the next
    version.  ``mode='append'`` extends the previous file set (and may
    ADD columns — schema evolution; see ``_merge_schema``);
    ``mode='overwrite'`` starts a fresh set and a fresh schema (old
    versions stay readable until vacuum).  The published manifest
    carries per-file column min/max/null-count stats harvested from
    the parquet footers, enabling ``read_version(where=...)`` file
    skipping.

    ``partition_by`` writes the commit hive-partitioned.  Partition
    values land in the manifest as exact per-file min = max stats, so
    a ``where=`` on a partition column prunes whole partitions from
    the METADATA — no directory listing, the classic manifest win over
    filesystem-discovery partition pruning.  Different commits of one
    table may use different (or no) partitioning; each data dir is
    read under its own layout.

    ``expected_base`` pins the commit to a snapshot: when set, the
    publish conflict-aborts (``ConcurrentTableModificationError``)
    if any other version landed since — the OCC primitive that
    ``compact_table`` and ``merge_into`` build on, because their
    payloads are derived FROM a snapshot and silently publishing over
    a moved tip would drop the interleaved commit (a lost update).

    ``txn=(app_id, txn_version)`` makes the commit IDEMPOTENT per
    writer (Delta's txnAppId/txnVersion pattern): the manifest carries
    a ``txns`` map of each app's highest applied version, and a commit
    whose txn_version is <= the recorded one becomes a NO-OP returning
    the current tip — the exactly-once primitive a ``foreachBatch``
    streaming sink needs, because Spark re-executes a micro-batch
    after a crash between the sink action and the checkpoint advance.
    The map survives overwrites/deletes/compaction: it tracks WRITER
    progress, not data."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"unsupported mode: {mode}")
    tip = latest_version(table_dir)
    m_tip = _read_manifest(table_dir, tip) if tip > 0 else None
    if txn is not None and _txn_seen(m_tip, txn):
        return tip  # replay detected before any data was written
    # column mapping: data files always store PHYSICAL names.  An
    # overwrite starts a fresh file set, so it resets to identity;
    # an append maps existing logical columns through the tip mapping
    # and assigns fresh physical names to new columns whose name
    # would collide with a live or retired physical.  Unmapped tables
    # ({} mapping, the common case) skip all of this.
    mapping, retired = _load_mapping(m_tip)
    if mode == "overwrite":
        mapping_used: dict = {}
    elif mapping or retired:
        existing = (
            StructType.fromJson(m_tip["schema"]).fieldNames()
            if m_tip is not None and "schema" in m_tip
            else []
        )
        new_cols = [c for c in df.columns if c not in existing]
        full = _assign_physical(new_cols, mapping, retired, existing)
        # restricted to this df's columns: tip entries carry for
        # existing columns, fresh entries cover the new ones
        mapping_used = {c: p for c, p in full.items() if c in df.columns}
    else:
        mapping_used = {}
    phys_df = _to_physical_df(df, mapping_used)
    phys_partition_by = (
        [mapping_used.get(c, c) for c in partition_by]
        if partition_by
        else None
    )
    token = uuid.uuid4().hex[:12]
    # data dir name carries no version: the version is assigned at
    # publish time, after the (possibly contended) race
    rel = os.path.join(_DATA, f"commit-{token}")
    abs_dir = os.path.join(table_dir, rel)
    writer = phys_df.write
    if phys_partition_by:
        writer = writer.partitionBy(*phys_partition_by)
    writer.parquet(abs_dir)
    file_entries = _harvest_stats(abs_dir, df.sparkSession)
    if bloom_cols:
        # per-file point-lookup blooms for the named LOGICAL columns
        # (one column read per file, executor-distributed when large)
        file_entries = _harvest_blooms(
            abs_dir,
            file_entries,
            [mapping_used.get(c, c) for c in bloom_cols],
            df.sparkSession,
        )
    return _publish_dir(
        table_dir,
        rel,
        file_entries,
        df.schema,
        mode,
        partition_by=phys_partition_by,
        expected_base=expected_base,
        txn=txn,
        mapping_used=mapping_used,
        extra_payload=extra_payload,
    )


#: pyarrow types for the driver-local tiny-commit fast path; anything
#: outside this set falls back to the Spark write path
_PA_SIMPLE = {
    # keys are Spark DataType.simpleString() names
    "bigint": "int64",
    "int": "int32",
    "smallint": "int16",
    "tinyint": "int8",
    "double": "float64",
    "float": "float32",
    "string": "string",
    "boolean": "bool_",
}


def _pa_schema(schema: StructType):
    """pyarrow schema mirroring a Spark schema of simple scalars /
    arrays of simple scalars, or None when any field is outside that
    set (the caller falls back to ``commit``)."""
    import pyarrow as pa

    fields = []
    for f in schema.fields:
        tn = f.dataType.simpleString()
        if tn in _PA_SIMPLE:
            t = getattr(pa, _PA_SIMPLE[tn])()
        elif tn.startswith("array<") and tn[6:-1] in _PA_SIMPLE:
            t = pa.list_(getattr(pa, _PA_SIMPLE[tn[6:-1]])())
        else:
            return None
        fields.append(pa.field(f.name, t, nullable=True))
    return pa.schema(fields)


def commit_rows(
    spark: SparkSession,
    rows: list[tuple],
    schema: StructType | str,
    table_dir: str,
    mode: str = "append",
    txn: tuple[str, int] | None = None,
    extra_payload: dict | None = None,
) -> int:
    """Driver-local fast path of ``commit`` for TINY row sets the
    caller already holds in memory (version cursors, meta tables,
    collected centroids — bounded by construction, never data).

    A ``commit(spark.createDataFrame(...))`` of one row costs a full
    Spark write job (plan → schedule → task → parquet codec → footer
    harvest) — measured ~0.5-1 s per commit on local[32], a tax every
    index/lifecycle operation pays several times over.  Here the
    parquet file is written directly on the driver with pyarrow (no
    Spark job at all), stats are harvested by the SAME ``_harvest_one``
    every commit uses, and the version is published through the SAME
    ``_publish_dir`` — so OCC, txn idempotence, constraints validation
    and retention semantics are identical to ``commit``; only the
    data-file producer differs.  Scale posture: this path is for
    metadata-sized tables ONLY (the caller holds the rows by
    contract); real data goes through ``commit``.

    Falls back to ``commit`` verbatim when the schema needs types the
    mirror doesn't cover or the table carries column mapping."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"unsupported mode: {mode}")
    if isinstance(schema, str):
        from pyspark.sql.types import _parse_datatype_string

        schema = _parse_datatype_string(schema)
    tip = latest_version(table_dir)
    m_tip = _read_manifest(table_dir, tip) if tip > 0 else None
    if txn is not None and _txn_seen(m_tip, txn):
        return tip  # replay detected before any data was written
    mapping, retired = _load_mapping(m_tip)
    pa_schema = (
        None
        if (mode != "overwrite" and (mapping or retired))
        else _pa_schema(schema)
    )
    if pa_schema is None:
        return commit(
            spark.createDataFrame(list(rows), schema),
            table_dir,
            mode=mode,
            txn=txn,
            extra_payload=extra_payload,
        )
    import pyarrow as pa
    import pyarrow.parquet as pq

    token = uuid.uuid4().hex[:12]
    rel = os.path.join(_DATA, f"commit-{token}")
    abs_dir = os.path.join(table_dir, rel)
    os.makedirs(abs_dir)
    fname = f"part-00000-{token}.parquet"
    cols = (
        list(zip(*rows)) if rows else [() for _ in schema.fields]
    )
    arrays = [
        pa.array(list(c), type=pa_schema.field(i).type)
        for i, c in enumerate(cols)
    ]
    pq.write_table(
        pa.Table.from_arrays(arrays, schema=pa_schema),
        os.path.join(abs_dir, fname),
    )
    entry = _harvest_one(abs_dir, fname)
    return _publish_dir(
        table_dir,
        rel,
        [entry],
        schema,
        mode,
        txn=txn,
        mapping_used={},
        extra_payload=extra_payload,
    )


def _publish_dir(
    table_dir: str,
    rel: str,
    file_entries: list[dict],
    schema: StructType,
    mode: str,
    partition_by: list[str] | None = None,
    expected_base: int | None = None,
    txn: tuple[str, int] | None = None,
    mapping_used: dict | None = None,
    extra_payload: dict | None = None,
) -> int:
    """Publish an already-written data dir as the next version — the
    shared back half of ``commit`` and the DataSource write path
    (``ManifestBatchWriter.commit``), which produces its files on the
    executors and hands the driver only the dir + entries.

    ``schema`` is the LOGICAL schema of the write; ``mapping_used``
    the {logical: physical} map the files were written under (what
    ``commit`` resolved at write time).  ``None`` marks a
    mapping-unaware caller (the DataSource writer), which is refused
    on mapped tables; a mapping that changed concurrently between
    write and publish conflict-aborts (the files carry stale physical
    names).

    ``extra_payload`` may be a CALLABLE — evaluated here, after the
    (possibly hours-long) data write and immediately before the
    publish, so side effects it performs (copy_into's load-history
    shard write) stay inside the same sub-second in-flight window
    retention protects for file shards."""
    if callable(extra_payload):
        extra_payload = extra_payload()
    abs_dir = os.path.join(table_dir, rel)
    phys_schema_json = _physical_schema(
        schema, mapping_used or {}
    ).jsonValue()

    def build(prev: int) -> dict:
        if expected_base is not None and prev != expected_base:
            raise ConcurrentTableModificationError(
                f"table advanced to v{prev} while a snapshot-derived "
                f"commit was computing against v{expected_base}; "
                "re-run against the new snapshot"
            )
        m = _read_manifest(table_dir, prev) if prev > 0 else None
        if _txn_seen(m, txn):
            # a concurrent instance of the same writer published this
            # txn between the early check and here — replay, back out
            raise _TxnAlreadyApplied()
        mapping_prev, retired_prev = _load_mapping(m)
        if mapping_used is None and (mapping_prev or retired_prev):
            raise ValueError(
                "this write path is column-mapping-unaware and the "
                "table has renamed/dropped columns — write via "
                "manifest.commit"
            )
        if mode == "overwrite" or prev == 0:
            dirs: list[str] = []
            files: dict[str, list] = {}
            dir_schemas: dict[str, dict] = {}
            part_dirs: dict[str, list] = {}
            deletes: list[dict] = []  # overwrite materializes/clears
            merged_schema = schema
            # fresh file set: mapping resets to identity (the new
            # files were written with mapping_used, which commit
            # resolves to {} for overwrites)
            pub_mapping: dict = dict(mapping_used or {})
            pub_retired: list = []
        else:
            dirs = list(m["dirs"])
            # carried dirs keep their existing shard by NAME — this
            # append serializes only the new dir's entries
            files = _carry_files(table_dir, m)
            dir_schemas = _load_dir_schemas(m)
            part_dirs = dict(m.get("partitioned_dirs", {}))
            # tombstones carry forward; their dir scope is already
            # pinned, so the new dir is never retro-deleted
            deletes = list(m.get("deletes", []))
            merged_schema = (
                _merge_schema(m["schema"], schema)
                if "schema" in m
                else schema
            )
            used = mapping_used or {}
            prev_names = (
                set(StructType.fromJson(m["schema"]).fieldNames())
                if "schema" in m
                else set()
            )
            for c in schema.fieldNames():
                # guard only columns the table already has: NEW
                # columns legitimately carry fresh physical names
                if c in prev_names and mapping_prev.get(c, c) != used.get(
                    c, c
                ):
                    raise ConcurrentTableModificationError(
                        f"column mapping for {c!r} changed while the "
                        "commit was writing (concurrent RENAME); "
                        "re-run against the new snapshot"
                    )
            pub_mapping = dict(mapping_prev)
            for c, p in used.items():
                pub_mapping.setdefault(c, p)
            pub_retired = retired_prev
        dirs.append(rel)
        files[rel] = file_entries
        dir_schemas[rel] = phys_schema_json
        if partition_by:
            part_dirs[rel] = list(partition_by)
        cons = _carry_constraints(m)
        _validate_new_dir(
            cons,
            abs_dir,
            bool(file_entries),
            merged_schema,
            mapping=pub_mapping,
        )
        payload = {
            "dirs": dirs,
            "mode": mode,
            "files": files,
            "dir_schemas": dir_schemas,
            "partitioned_dirs": part_dirs,
            "deletes": deletes,
            "schema": merged_schema.jsonValue(),
            "constraints": cons,
            "txns": _carry_txns(m, txn),
        }
        if pub_mapping:
            payload["column_mapping"] = pub_mapping
        if pub_retired:
            payload["retired_physical"] = pub_retired
        if extra_payload:
            # caller-owned keys (e.g. copy_into's load-history ref);
            # reserved payload keys are not overridable
            for k, v in extra_payload.items():
                if k in payload:
                    raise ValueError(
                        f"extra_payload key {k!r} collides with a "
                        "reserved manifest key"
                    )
                payload[k] = v
        return payload

    try:
        return _publish(table_dir, build)
    except _TxnAlreadyApplied:
        shutil.rmtree(abs_dir, ignore_errors=True)  # orphaned data
        return latest_version(table_dir)


def _string_typed(schema: StructType | None) -> frozenset:
    """Field names whose declared type is a string flavor — the
    columns where path type inference can CHANGE identity ('1' vs
    '01' are distinct string partitions but equal after inference)."""
    if schema is None:
        return frozenset()
    return frozenset(
        f.name
        for f in schema.fields
        if f.dataType.typeName() in ("string", "char", "varchar")
    )


def _entry_partition_combo(
    entry: dict, partition_by: list[str], string_cols: frozenset = frozenset()
):
    """The exact partition-value tuple of one file entry, or None when
    any value is not exactly known.

    Identity follows the column's DECLARED type, matching read-path
    semantics: for ``string_cols`` the value is the RAW path component
    (``entry['parts']``, recorded by ``_harvest_one`` — '1' and '01'
    stay distinct), for everything else the stats value (hive partition
    values record min = max = v; inference canonicalizes numerics,
    which is correct equality for numeric declared types).  A legacy
    entry without ``parts`` whose string value LOOKS numeric is
    ambiguous ('1' on disk could have been '1' or '01' pre-inference)
    and returns None — callers abort loudly rather than guess."""
    combo = []
    parts = entry.get("parts")
    for c in partition_by:
        st = entry.get("stats", {}).get(c)
        if c in string_cols:
            if parts is not None and c in parts:
                combo.append(parts[c])
                continue
            # legacy entry: the stats value is the value only when
            # inference was a no-op (it stayed a string)
            if st is not None and st["min"] is None:
                if st["nulls"] == entry["rows"]:
                    combo.append(None)
                    continue
                return None
            if (
                st is not None
                and isinstance(st["min"], str)
                and st["min"] == st["max"]
            ):
                combo.append(st["min"])
                continue
            return None
        if st is None:
            return None
        if st["min"] is None and st["nulls"] == entry["rows"]:
            combo.append(None)  # __HIVE_DEFAULT_PARTITION__
        elif st["min"] is not None and st["min"] == st["max"]:
            combo.append(st["min"])
        else:
            return None
    return tuple(combo)


def publish_dynamic_overwrite(
    table_dir: str,
    rel: str,
    file_entries: list[dict],
    schema: StructType,
    partition_by: list[str],
    txn: tuple[str, int] | None = None,
    mapping_used: dict | None = None,
) -> int:
    """Dynamic partition overwrite as ONE manifest version (Spark's
    ``partitionOverwriteMode=dynamic`` / Hive's insert-overwrite
    semantics on the log): the partitions PRESENT in the newly
    written dir replace their prior files; every other partition is
    carried untouched — by shard reference, so the publish cost is
    O(dirs that lost a file), never O(table).

    Replacement is decided from the manifest's exact partition-value
    stats (hive path values record min = max by construction), which
    requires every PRIOR dir to be partitioned by the same columns —
    an unpartitioned dir cannot be partition-replaced and aborts the
    publish loudly, matching the guardrail of the big formats.
    Time travel to the pre-overwrite version sees the replaced
    partitions again; vacuum reclaims their files after retention."""
    # entries / paths / partition_by are PHYSICAL; ``schema`` is the
    # LOGICAL write schema (identical for unmapped tables)
    new_strings = _string_typed(_physical_schema(schema, mapping_used or {}))
    written = {
        _entry_partition_combo(e, partition_by, new_strings)
        for e in file_entries
    }
    if None in written:
        raise ValueError(
            "a written file lacks exact partition-value identity "
            "(no stats, or an ambiguous legacy string value) — "
            "dynamic overwrite cannot decide what it replaces"
        )
    if txn is not None:
        tip = latest_version(table_dir)
        if tip > 0 and _txn_seen(_read_manifest(table_dir, tip), txn):
            return tip
    abs_dir = os.path.join(table_dir, rel)
    schema_json = _physical_schema(schema, mapping_used or {}).jsonValue()

    def build(prev: int) -> dict:
        m = _read_manifest(table_dir, prev) if prev > 0 else None
        if _txn_seen(m, txn):
            raise _TxnAlreadyApplied()
        mapping_prev, retired_prev = _load_mapping(m)
        if mapping_used is None and (mapping_prev or retired_prev):
            raise ValueError(
                "this write path is column-mapping-unaware and the "
                "table has renamed/dropped columns — write via "
                "manifest.overwrite_partitions"
            )
        used = mapping_used or {}
        prev_names = (
            set(StructType.fromJson(m["schema"]).fieldNames())
            if m is not None and "schema" in m
            else set()
        )
        for c in schema.fieldNames():
            if c in prev_names and mapping_prev.get(c, c) != used.get(c, c):
                raise ConcurrentTableModificationError(
                    f"column mapping for {c!r} changed while the "
                    "dynamic overwrite was writing (concurrent "
                    "RENAME); re-run"
                )
        if m is None:
            dirs: list[str] = []
            files: dict = {}
            dir_schemas: dict = {}
            part_dirs: dict = {}
            deletes: list[dict] = []
            merged_schema = schema
        else:
            dirs = list(m["dirs"])
            files = _carry_files(table_dir, m)
            dir_schemas = _load_dir_schemas(m)
            part_dirs = dict(m.get("partitioned_dirs", {}))
            deletes = list(m.get("deletes", []))
            merged_schema = (
                _merge_schema(m["schema"], schema)
                if "schema" in m
                else schema
            )
            for d in dirs:
                if part_dirs.get(d) != list(partition_by):
                    raise ValueError(
                        "dynamic partition overwrite requires every "
                        f"prior dir to be partitioned by {partition_by}; "
                        f"dir {d} is partitioned by {part_dirs.get(d)} — "
                        "use mode=overwrite (whole table) instead"
                    )
                entries = _dir_entries(table_dir, m, d)
                if entries is None:
                    raise ValueError(
                        f"dir {d} has no per-file manifest entries "
                        "(legacy manifest); rewrite the table before "
                        "a dynamic partition overwrite"
                    )
                sj = dir_schemas.get(d)
                d_strings = _string_typed(
                    StructType.fromJson(sj) if sj else None
                )
                kept = []
                for e in entries:
                    combo = _entry_partition_combo(e, partition_by, d_strings)
                    if combo is None:
                        raise ValueError(
                            f"file {d}/{e['path']} has no exact "
                            "partition-value identity (no stats, or an "
                            "ambiguous legacy string value); cannot "
                            "prove it outside the replaced partitions"
                        )
                    if combo not in written:
                        kept.append(e)
                if len(kept) != len(entries):
                    files[d] = kept  # re-shard only dirs that changed
        dirs.append(rel)
        files[rel] = file_entries
        dir_schemas[rel] = schema_json
        part_dirs[rel] = list(partition_by)
        cons = _carry_constraints(m)
        pub_mapping = dict(mapping_prev)
        for c, p in used.items():
            pub_mapping.setdefault(c, p)
        _validate_new_dir(
            cons, abs_dir, bool(file_entries), merged_schema,
            mapping=pub_mapping,
        )
        payload = {
            "dirs": dirs,
            "mode": "dynpart_overwrite",
            "files": files,
            "dir_schemas": dir_schemas,
            "partitioned_dirs": part_dirs,
            "deletes": deletes,
            "schema": merged_schema.jsonValue(),
            "constraints": cons,
            "txns": _carry_txns(m, txn),
        }
        if pub_mapping:
            payload["column_mapping"] = pub_mapping
        if retired_prev:
            payload["retired_physical"] = retired_prev
        return payload

    try:
        return _publish(table_dir, build)
    except _TxnAlreadyApplied:
        shutil.rmtree(abs_dir, ignore_errors=True)
        return latest_version(table_dir)


def overwrite_partitions(
    df: DataFrame,
    table_dir: str,
    partition_by: list[str],
    txn: tuple[str, int] | None = None,
) -> int:
    """Python-API form of dynamic partition overwrite: write ``df``
    hive-partitioned and publish one version replacing exactly the
    partitions it contains (see ``publish_dynamic_overwrite``)."""
    tip = latest_version(table_dir)
    m_tip = _read_manifest(table_dir, tip) if tip > 0 else None
    if txn is not None and _txn_seen(m_tip, txn):
        return tip
    mapping, _retired = _load_mapping(m_tip)
    if mapping or _retired:
        existing = (
            StructType.fromJson(m_tip["schema"]).fieldNames()
            if m_tip is not None and "schema" in m_tip
            else []
        )
        full = _assign_physical(
            [c for c in df.columns if c not in existing],
            mapping,
            _retired,
            existing,
        )
        mapping_used = {c: p for c, p in full.items() if c in df.columns}
    else:
        mapping_used = {}
    phys_partition_by = [mapping_used.get(c, c) for c in partition_by]
    token = uuid.uuid4().hex[:12]
    rel = os.path.join(_DATA, f"commit-{token}")
    abs_dir = os.path.join(table_dir, rel)
    _to_physical_df(df, mapping_used).write.partitionBy(
        *phys_partition_by
    ).parquet(abs_dir)
    file_entries = _harvest_stats(abs_dir, df.sparkSession)
    return publish_dynamic_overwrite(
        table_dir,
        rel,
        file_entries,
        df.schema,
        phys_partition_by,
        txn=txn,
        mapping_used=mapping_used,
    )


def _normalize_pred(p) -> tuple[str, str, object]:
    """(col, op) or (col, op, value) → canonical triple, validated."""
    if len(p) == 2:
        col, op = p
        value = None
    elif len(p) == 3:
        col, op, value = p
    else:
        raise ValueError(f"predicate must be (col, op[, value]): {p!r}")
    if op not in _COMPARISONS + ("is_null", "is_not_null"):
        raise ValueError(f"unsupported predicate op: {op!r}")
    if op in _COMPARISONS and len(p) != 3:
        raise ValueError(f"comparison predicate needs a value: {p!r}")
    return col, op, value


def _pred_column(col: str, op: str, value) -> Column:
    c = F.col(col)
    if op == "is_null":
        return c.isNull()
    if op == "is_not_null":
        return c.isNotNull()
    if op == "in":
        return c.isin(list(value))
    return {
        "==": c == value,
        "!=": c != value,
        "<": c < value,
        "<=": c <= value,
        ">": c > value,
        ">=": c >= value,
    }[op]


def _file_may_match(
    entry: dict, preds: list[tuple], present: set[str] | None
) -> bool:
    """False only when the file's footer stats PROVE no row satisfies
    the conjunction of ``preds``; unknown stats keep the file
    (skipping is an optimization, never a semantics change — the
    residual filter re-applies every predicate exactly)."""
    if entry.get("rows", 1) == 0:
        return False  # a 0-row file matches nothing, stats or not
    for col, op, value in preds:
        if present is not None and col not in present:
            # column absent from this file's physical schema: every
            # row reads as NULL, so only is_null can match
            if op == "is_null":
                continue
            return False
        st = entry.get("stats", {}).get(col)
        if st is None:
            continue
        if op == "is_null":
            if st["nulls"] == 0:
                return False
            continue
        if op == "is_not_null":
            if st["nulls"] >= entry["rows"]:
                return False
            continue
        mn, mx = st["min"], st["max"]
        if mn is None or mx is None:
            # the column is entirely NULL in this file: no comparison
            # (incl. != and in) can be satisfied by any row
            return False
        if op == "in":
            bl = entry.get("bloom", {}).get(col)
            if bl is not None and not any(
                _bloom_may_contain(bl, x) for x in value
            ):
                return False
            vs = [x for x in (_json_safe(v) for v in value) if x is not None]
            if len(vs) != len(list(value)):
                continue  # un-normalizable member: keep the file
            try:
                if all(x < mn or x > mx for x in vs):
                    return False
            except TypeError:
                pass
            continue
        v = _json_safe(value)
        if v is None:
            continue
        if op == "==":
            bl = entry.get("bloom", {}).get(col)
            if bl is not None and not _bloom_may_contain(bl, value):
                return False
        try:
            if op == "==" and (v < mn or v > mx):
                return False
            if op == "<" and mn >= v:
                return False
            if op == "<=" and mn > v:
                return False
            if op == ">" and mx <= v:
                return False
            if op == ">=" and mx < v:
                return False
            if op == "!=" and mn == mx == v and st["nulls"] == 0:
                return False
        except TypeError:
            continue  # incomparable stat/predicate types: keep file
    return True


def read_version(
    spark: SparkSession,
    table_dir: str,
    version: int | None = None,
    where: list[tuple] | None = None,
    as_of=None,
    _only_files: set[str] | None = None,
) -> DataFrame:
    """The table as of ``version`` (default: latest) — a plain parquet
    read over that snapshot's immutable file set.

    ``as_of`` (mutually exclusive with ``version``) resolves the
    snapshot by COMMIT TIMESTAMP instead: the latest version published
    at or before that instant (see ``version_as_of``) — epoch seconds,
    datetime, or ISO-8601 string.

    ``where`` is an optional conjunction of simple predicates —
    ``(col, op, value)`` with op in ==, !=, <, <=, >, >= or
    ``(col, 'is_null'|'is_not_null')`` — used twice: files whose
    manifest stats prove they cannot match are dropped from the scan
    (file skipping), and the predicates are re-applied to the result
    (exactness — pruning never changes answers, it only removes I/O).

    Schema evolution: every file is read under its commit's physical
    schema; commits with missing columns contribute NULLs for them
    (``unionByName(allowMissingColumns=True)``), and the result is
    projected to the version's logical schema / column order.  When
    all commits share one schema (the common case) the read collapses
    to a single multi-path parquet scan — no union, no format tax.

    ``_only_files`` (internal) restricts the scan to the given set of
    RESOLVED absolute file paths — file-granular, never row-filtering:
    callers that already know exactly which files they need (e.g.
    ``merge_into``'s touched-file rewrite) open those files instead of
    scanning the table and filtering on ``input_file_name()``, which
    no format can push down.  Dirs without per-file manifest entries
    (legacy) cannot be intersected and are kept whole — a sound
    superset; callers keep their residual filter."""
    if as_of is not None:
        if version is not None:
            raise ValueError("pass version OR as_of, not both")
        version = version_as_of(table_dir, as_of)
    v = latest_version(table_dir) if version is None else version
    m = _read_manifest(table_dir, v)
    preds = [_normalize_pred(p) for p in where] if where else []

    schema = (
        StructType.fromJson(m["schema"]) if "schema" in m else None
    )
    # column mapping: stats / tombstones / file columns are PHYSICAL;
    # predicates and the returned frame are LOGICAL.  Empty mapping
    # (unmapped table) makes every step below the identity.
    mapping, _retired = _load_mapping(m)
    skip_preds = _phys_preds(mapping, preds)
    phys_target = (
        _physical_schema(schema, mapping) if schema is not None else None
    )
    files_meta = _load_files(table_dir, m)
    dir_schemas = _load_dir_schemas(m)

    # group surviving paths into scans: unpartitioned dirs coalesce by
    # (physical schema, applicable tombstones) — one multi-path scan
    # per group, the fast path; hive-partitioned dirs each scan under
    # their own basePath so Spark reconstructs the partition columns
    # from the file paths.  Merge-on-read deletes are scoped to the
    # dirs that existed when each was published, so dirs appended
    # later carry a shorter tombstone list (typically: old dirs with
    # deletes + new dirs without → two scans).
    part_dirs = m.get("partitioned_dirs", {})
    deletes = m.get("deletes", [])
    by_group: dict[tuple, list[str]] = {}
    part_scans: list[tuple[str, list[str], tuple[int, ...]]] = []
    for d in m["dirs"]:
        sj = dir_schemas.get(d)
        key = json.dumps(sj, sort_keys=True) if sj else ""
        del_ids = tuple(
            i for i, dl in enumerate(deletes) if d in dl["dirs"]
        )
        entries = files_meta.get(d)
        if entries is None:  # legacy manifest: whole dir, no skipping
            by_group.setdefault((key, del_ids), []).append(
                os.path.join(table_dir, d)
            )
            continue
        present = (
            set(StructType.fromJson(sj).fieldNames()) if sj else None
        )
        del_preds = [
            [_normalize_pred(tuple(p)) for p in deletes[i]["preds"]]
            for i in del_ids
        ]
        kept = [
            os.path.join(table_dir, d, e["path"])
            for e in entries
            if (not skip_preds or _file_may_match(e, skip_preds, present))
            and not any(_file_all_match(e, dp, present) for dp in del_preds)
        ]
        if _only_files is not None:
            kept = [p for p in kept if os.path.realpath(p) in _only_files]
        if not kept:
            continue
        if d in part_dirs:
            part_scans.append(
                (os.path.join(table_dir, d), kept, del_ids, key)
            )
        else:
            by_group.setdefault((key, del_ids), []).extend(kept)

    def _tombstone_filter(df: DataFrame, del_ids: tuple[int, ...]) -> DataFrame:
        for i in del_ids:
            conj = None
            for p in deletes[i]["preds"]:
                c = _pred_column(*_normalize_pred(tuple(p)))
                conj = c if conj is None else (conj & c)
            # three-valued logic: a NULL predicate must KEEP the row
            # (NULL never matched the delete), hence the coalesce
            df = df.filter(~F.coalesce(conj, F.lit(False)))
        return df

    branches: list[DataFrame] = []
    for (key, del_ids), paths in by_group.items():
        reader = spark.read
        if key:
            # the branch's physical schema is recorded in the
            # manifest — declaring it skips the footer-read schema
            # inference (one driver round trip per branch; the bulk
            # of the measured format tax on small reads)
            reader = reader.schema(StructType.fromJson(json.loads(key)))
        b = reader.parquet(*paths)
        if phys_target is not None:
            b = _align_to(b, phys_target)
        # tombstone predicates are stored under PHYSICAL names: apply
        # them on the physical frame, then surface logical names
        branches.append(_to_logical_df(_tombstone_filter(b, del_ids), mapping))
    for base, paths, del_ids, key in part_scans:
        reader = spark.read.option("basePath", base)
        if key:
            # declaring the commit's recorded schema (which includes
            # the partition columns) does double duty: no footer
            # inference read, AND the partition values are parsed
            # from the raw path component AS the declared type — path
            # type inference would turn a string '001' into a decimal
            # 1, silently corrupting a numeric-looking string column
            reader = reader.schema(StructType.fromJson(json.loads(key)))
        b = reader.parquet(*paths)
        if phys_target is not None:
            b = _align_to(b, phys_target)
        branches.append(_to_logical_df(_tombstone_filter(b, del_ids), mapping))
    if not branches:
        out = spark.createDataFrame([], schema or StructType([]))
    else:
        out = branches[0]
        for b in branches[1:]:
            out = out.unionByName(b, allowMissingColumns=True)
        if schema is not None:
            out = _align_to(out, schema)
    for col, op, value in preds:
        out = out.filter(_pred_column(col, op, value))
    return out


def read_rows_local(
    table_dir: str, version: int | None = None
) -> list[dict] | None:
    """Driver-local read of a TINY manifest table (version cursors,
    meta tables, centroid tables — metadata-sized by construction):
    the snapshot's rows as a list of dicts in the logical schema,
    read with pyarrow on the driver — no Spark job, no scan stage.
    The dual of ``commit_rows``: a 1-row cursor read through the full
    ``read_version`` + collect path costs a schema-declared scan job
    (~0.2-0.5 s on local[32]) for one tuple the driver needs in hand.

    Returns ``None`` whenever the snapshot needs machinery this path
    does not replicate — merge-on-read tombstones, column mapping,
    hive-partitioned dirs, legacy dirs without per-file entries, or a
    manifest without a recorded schema — and the caller falls back to
    ``read_version``.  Values are identical either way: same files,
    same snapshot resolution, no predicate involved."""
    v = latest_version(table_dir) if version is None else version
    if v <= 0:
        return None
    m = _read_manifest(table_dir, v)
    if m.get("deletes") or m.get("partitioned_dirs") or "schema" not in m:
        return None
    mapping, retired = _load_mapping(m)
    if mapping or retired:
        return None
    import pyarrow.parquet as pq

    names = StructType.fromJson(m["schema"]).fieldNames()
    files_meta = _load_files(table_dir, m)
    out: list[dict] = []
    for d in m["dirs"]:
        entries = files_meta.get(d)
        if entries is None:
            return None  # legacy dir: membership unknown without listing
        for e in entries:
            t = pq.read_table(os.path.join(table_dir, d, e["path"]))
            for r in t.to_pylist():
                # evolved columns a file lacks contribute None, and
                # the dict is projected to the logical column set —
                # the unionByName(allowMissingColumns) + _align_to
                # semantics of the full read path
                out.append({n: r.get(n) for n in names})
    return out


def read_version_local(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame | None:
    """``read_rows_local`` surfaced as a LOCAL-RELATION DataFrame in
    the snapshot's logical schema — for tiny tables that feed a plan
    (broadcast centroid joins), sparing the scan job and the footer
    round trip.  None on fallback, like ``read_rows_local``."""
    rows = read_rows_local(table_dir, version)
    if rows is None:
        return None
    v = latest_version(table_dir) if version is None else version
    m = _read_manifest(table_dir, v)
    schema = StructType.fromJson(m["schema"])
    names = schema.fieldNames()
    return spark.createDataFrame(
        [tuple(r[n] for n in names) for r in rows], schema
    )


def _align_to(df: DataFrame, schema: StructType) -> DataFrame:
    """Project ``df`` to the logical schema's columns and order,
    contributing typed NULLs for columns the scanned files lack
    (possible when file skipping pruned away every file of the commit
    that introduced a column)."""
    have = set(df.columns)
    return df.select(
        *[
            F.col(f.name)
            if f.name in have
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in schema.fields
        ]
    )


def _file_all_match(
    entry: dict, preds: list[tuple], present: set[str] | None
) -> bool:
    """True only when the file's stats PROVE every row satisfies the
    conjunction of ``preds`` — the dual of ``_file_may_match``, used
    to drop files that a merge-on-read delete has fully tombstoned.
    Unknown stats → False (the file is kept and filtered row-wise)."""
    for col, op, value in preds:
        if present is not None and col not in present:
            # every row reads the column as NULL
            if op == "is_null":
                continue
            return False
        st = entry.get("stats", {}).get(col)
        if st is None or entry.get("rows", 0) == 0:
            return False
        rows, nulls = entry["rows"], st["nulls"]
        mn, mx = st["min"], st["max"]
        if op == "is_null":
            if nulls >= rows:
                continue
            return False
        if op == "is_not_null":
            if nulls == 0:
                continue
            return False
        if nulls > 0:
            return False  # NULL rows never satisfy comparisons
        if mn is None or mx is None:
            return False
        try:
            if op == "in":
                vs = [x for x in (_json_safe(v) for v in value) if x is not None]
                ok = mn == mx and mn in vs
            else:
                v = _json_safe(value)
                if v is None:
                    return False
                ok = {
                    "==": mn == mx == v,
                    "!=": mx < v or mn > v,
                    "<": mx < v,
                    "<=": mx <= v,
                    ">": mn > v,
                    ">=": mn >= v,
                }[op]
        except TypeError:
            return False
        if not ok:
            return False
    return True


def _store_value(op: str, value):
    """A predicate value in the JSON-storable form ``_json_safe``
    defines, validated — a delete predicate must persist faithfully or
    not at all."""
    if op in ("is_null", "is_not_null"):
        return None
    if op == "in":
        vs = [_json_safe(v) for v in value]
        if any(v is None for v in vs):
            raise ValueError(f"unsupported value type in IN list: {value!r}")
        return vs
    v = _json_safe(value)
    if v is None:
        raise ValueError(f"unsupported predicate value type: {value!r}")
    return v


def delete_where(table_dir: str, where: list[tuple]) -> int:
    """MERGE-ON-READ row deletes: publish a new version whose manifest
    carries a predicate tombstone — no data file is touched (the
    metadata-only DELETE of Iceberg's equality-delete flavor, with the
    predicate itself as the delete record, O(1) storage).

    Scoping: the tombstone records the data dirs existing at publish
    time and applies ONLY to them — rows APPENDED afterwards are never
    retro-deleted, matching snapshot-isolation semantics.  Readers
    drop files the stats prove fully deleted and anti-filter the rest
    row-wise; ``compact_table`` (or any overwrite commit) materializes
    outstanding tombstones and resets the list.  Time travel to a
    pre-delete version sees the rows again, by construction."""
    preds = [_normalize_pred(p) for p in where]
    if not preds:
        raise ValueError("delete_where requires at least one predicate")

    def build(prev: int) -> dict:
        if prev == 0:
            raise ValueError("cannot delete from an empty table")
        m = _read_manifest(table_dir, prev)
        # tombstones persist under PHYSICAL names (stable across any
        # later rename), translated under the manifest the publish
        # actually lands on
        mapping, _ = _load_mapping(m)
        stored = [
            [c, o, _store_value(o, v)]
            for c, o, v in _phys_preds(mapping, preds)
        ]
        # pure metadata commit: every dir carries its shard by name —
        # ZERO file entries are re-serialized for a DELETE
        payload = {
            "dirs": list(m["dirs"]),
            "files": _carry_files(table_dir, m),
            "dir_schemas": _load_dir_schemas(m),
            "partitioned_dirs": dict(m.get("partitioned_dirs", {})),
            **_carry_mapping(m),
        }
        if "schema" in m:
            payload["schema"] = m["schema"]
        payload["mode"] = "delete"
        dels = list(m.get("deletes", []))
        dels.append({"preds": stored, "dirs": list(m["dirs"])})
        payload["deletes"] = dels
        payload["constraints"] = _carry_constraints(m)  # deletes add no rows
        payload["txns"] = _carry_txns(m)
        return payload

    return _publish(table_dir, build)


def _shared_layout(m: dict, dirs) -> list[str] | None:
    """The hive partition columns (PHYSICAL names) that EVERY one of
    ``dirs`` is partitioned by — the layout a rewrite of their rows
    keeps; None when ``dirs`` is empty, any of them is unpartitioned,
    or their layouts differ."""
    part_dirs = m.get("partitioned_dirs", {})
    layouts = {tuple(part_dirs.get(d, ())) for d in dirs}
    if len(layouts) != 1:
        return None
    return list(layouts.pop()) or None


def update_where(
    spark: SparkSession,
    table_dir: str,
    where: list[tuple],
    set_exprs: dict[str, Column],
) -> int:
    """MERGE-ON-READ row UPDATE in ONE atomic version: rows matching
    ``where`` get ``set_exprs`` applied (column → new-value Column);
    everything else is untouched, and no existing data file is
    rewritten.

    Mechanics: the matching rows are rewritten (with the updates
    applied) into a NEW data dir, and the published manifest both
    appends that dir and records a tombstone for the predicate scoped
    to the PRIOR dirs — so a reader of the new version sees exactly
    the updated rows (old copies tombstoned, new copies appended),
    and a reader of any older version sees the originals.  Because
    dir + tombstone land in one manifest, there is no intermediate
    state where the rows are deleted but not yet re-added — the gap a
    delete_where + commit sequence would expose.

    Cost ∝ |matching rows| (stats-pruned read + one write), never the
    table.  Completes the DML triad: INSERT = ``commit(append)``,
    DELETE = ``delete_where``, UPDATE = here; MERGE = the changefeed
    sink.

    Partition preservation: when EVERY dir of the base snapshot is
    hive-partitioned by the same columns, the rewritten dir keeps that
    layout (``partitionBy`` on the write, recorded in the manifest's
    ``partitioned_dirs``) — an update must not silently destroy the
    partition pruning a table was designed around, nor the file
    alignment ``compact_where`` proves partition predicates against.
    Otherwise the rewrite is unpartitioned."""
    preds = [_normalize_pred(p) for p in where]
    if not preds:
        raise ValueError("update_where requires at least one predicate")
    if not set_exprs:
        raise ValueError("update_where requires at least one SET column")

    base_version = latest_version(table_dir)
    m_base = _read_manifest(table_dir, base_version) if base_version else None
    base_mapping, _ = _load_mapping(m_base)
    shared = _shared_layout(m_base, m_base["dirs"]) if m_base else None
    stored = [
        [c, o, _store_value(o, v)]
        for c, o, v in _phys_preds(base_mapping, preds)
    ]
    matching = read_version(spark, table_dir, base_version, where=where)
    bad = set(set_exprs) - set(matching.columns)
    if bad:
        raise ValueError(f"SET on unknown column(s): {sorted(bad)}")
    # SQL UPDATE assignment semantics: the SET expression CASTS to the
    # column's existing type.  Without this, an innocuous literal like
    # `-1.0` (a DECIMAL(1,1) in ANSI parsing) would silently change
    # the rewritten dir's physical type for that column — a schema
    # drift no one asked for.
    types = {f.name: f.dataType for f in matching.schema.fields}
    updated = matching.withColumns(
        {c: e.cast(types[c]) for c, e in set_exprs.items()}
    )

    token = uuid.uuid4().hex[:12]
    rel = os.path.join(_DATA, f"commit-{token}")
    abs_dir = os.path.join(table_dir, rel)
    # the rewritten dir stores PHYSICAL names like every data dir
    writer = _to_physical_df(updated, base_mapping).write
    if shared:
        writer = writer.partitionBy(*shared)
    writer.parquet(abs_dir)
    file_entries = _harvest_stats(abs_dir, spark)
    schema_json = _physical_schema(updated.schema, base_mapping).jsonValue()

    def build(prev: int) -> dict:
        if prev == 0:
            raise ValueError("cannot update an empty table")
        if prev != base_version:
            # the rewritten rows were computed from base_version's
            # snapshot; publishing over a different tip could
            # tombstone concurrently-appended rows without a
            # rewritten copy (a lost update) or stack onto an
            # overwrite.  BUT a tip moved only by appends whose files
            # provably contain no row matching ``where`` (the
            # update's exact read set) cannot be harmed: the
            # tombstone is a no-op over them and the rewrite misses
            # nothing — rebase instead of aborting (logical conflict
            # resolution; unprovable cases still abort like the big
            # formats).
            ok, why = _interleaved_commits_disjoint(
                table_dir, base_version, prev, preds
            )
            if not ok:
                raise ConcurrentTableModificationError(
                    f"table advanced to v{prev} while update_where "
                    f"was computing against v{base_version}, and the "
                    f"interleaved commits are not provably disjoint "
                    f"({why}); re-run the update"
                )
        m = _read_manifest(table_dir, prev)
        if _load_mapping(m)[0] != base_mapping:
            raise ConcurrentTableModificationError(
                "column mapping changed while update_where was "
                "computing (concurrent RENAME); re-run the update"
            )
        dirs = list(m["dirs"])
        # prior dirs carry their shards by name; only the rewritten
        # dir's entries are serialized
        files = _carry_files(table_dir, m)
        dir_schemas = _load_dir_schemas(m)
        deletes = list(m.get("deletes", []))
        # tombstone the OLD copies (scoped to the dirs that hold them),
        # then append the rewritten dir — one manifest, no gap
        deletes.append({"preds": stored, "dirs": list(dirs)})
        dirs.append(rel)
        files[rel] = file_entries
        dir_schemas[rel] = schema_json
        part_dirs = dict(m.get("partitioned_dirs", {}))
        if shared:
            part_dirs[rel] = list(shared)
        # mode='update', NOT 'append': the version both appends a dir
        # AND tombstones rows, so an append-only consumer (the
        # lakestream source) must reject it loudly — publishing it as
        # 'append' would stream the rewritten copies as plain inserts
        # while the consumer keeps the stale originals it already saw
        cons = _carry_constraints(m)
        _validate_new_dir(
            cons,
            abs_dir,
            bool(file_entries),
            StructType.fromJson(m["schema"]),
            mapping=base_mapping,
        )
        return {
            "dirs": dirs,
            "mode": "update",
            "files": files,
            "dir_schemas": dir_schemas,
            "partitioned_dirs": part_dirs,
            "deletes": deletes,
            "schema": m["schema"],
            "constraints": cons,
            "txns": _carry_txns(m),
            **_carry_mapping(m),
        }

    return _publish(table_dir, build)


#: interleaved version modes a snapshot-derived write can try to
#: rebase over; everything else (overwrite, set_schema, clone,
#: dynpart_overwrite) restructures history or identity and always
#: conflict-aborts
_REBASEABLE_MODES = frozenset(
    ("append", "set_constraint", "set_bloom", "compact", "delete",
     "update", "merge")
)


def _interleaved_commits_disjoint(
    table_dir: str, base: int, prev: int, read_preds: list | None
) -> tuple[bool, str]:
    """Logical conflict check: can a snapshot-derived write computed
    at ``base`` be safely REBASED onto ``prev`` instead of aborting?

    This is the Delta/Iceberg file-set/predicate-intersection shape,
    proven per file against the manifest's footer stats with the same
    may-match machinery file skipping uses; anything unprovable stays
    a conflict-abort (pruning-grade proofs never guess).  Per
    interleaved version, by what it did to the file set:

    * pure appends (+ metadata-only constraint/bloom versions): every
      NEW file must provably contain no row matching ``read_preds``;
    * file rewrites (``compact`` — scoped or full OPTIMIZE — and COW
      ``merge``): every file REMOVED **and** every file ADDED must
      provably miss the read set — two disjoint scoped compactions
      commute, and a MERGE whose touched files miss ours does too;
    * MoR tombstones (``delete``, and the tombstone half of
      ``update``): no file live when the tombstone landed may match
      BOTH the tombstone's predicates and the read set — row-level
      disjointness at file granularity, so the interleaved delete
      cannot have removed a row this operation read or rewrote (a
      rewritten dir sits outside the tombstone's pinned dir scope, so
      an overlap would resurrect deleted rows);
    * anything else (overwrite, rename, clone) aborts.

    One busy appender — or a concurrent OPTIMIZE of a cold partition,
    the thing that runs concurrently with everything on a real table —
    no longer starves every MERGE.

    A concurrent vacuum may expire a manifest or shard in (base, prev]
    mid-walk; that surfaces as a clean (False, reason) — the caller's
    ``ConcurrentTableModificationError`` abort — never a raw
    FileNotFoundError out of a rebase attempt."""
    try:
        return _interleaved_commits_disjoint_walk(
            table_dir, base, prev, read_preds
        )
    except FileNotFoundError:
        return False, (
            "a manifest or shard in the interleaved span was expired "
            "by a concurrent vacuum mid-walk"
        )


def _interleaved_commits_disjoint_walk(
    table_dir: str, base: int, prev: int, read_preds: list | None
) -> tuple[bool, str]:
    if read_preds is None:
        return False, "the operation's read set has no pruning envelope"
    m_base = _read_manifest(table_dir, base)
    # stats are keyed by PHYSICAL names; interleaved rebaseable modes
    # cannot change the mapping (a rename is mode='set_schema',
    # rejected below), so the base mapping is authoritative
    read_preds = _phys_preds(_load_mapping(m_base)[0], read_preds)

    def _dir_present(m: dict, cache: dict) -> dict:
        # keyed by the manifest's VERSION: an id(m) key would collide
        # when a freed dict's address is reused by a later manifest
        key = m.get("version", id(m))
        if key not in cache:
            ds = _load_dir_schemas(m)
            cache[key] = {
                d: (
                    set(StructType.fromJson(sj).fieldNames())
                    if (sj := ds.get(d))
                    else None
                )
                for d in m["dirs"]
            }
        return cache[key]

    pres_cache: dict = {}
    m_a = m_base
    for v in range(base + 1, prev + 1):
        m_b = _read_manifest(table_dir, v)
        mode = m_b.get("mode")
        if mode not in _REBASEABLE_MODES:
            return False, f"version {v} is mode={mode!r}, not rebaseable"
        dels_a = m_a.get("deletes", [])
        dels_b = m_b.get("deletes", [])
        # ---- tombstone-list evolution ----
        if mode in ("delete", "update"):
            if (
                len(dels_b) != len(dels_a) + 1
                or dels_b[: len(dels_a)] != dels_a
            ):
                return False, (
                    f"version {v} restructured the tombstone list"
                )
            new_del = [tuple(p) for p in dels_b[-1].get("preds", [])]
            if not new_del:
                return False, f"version {v} tombstone has no predicates"
            # no file live at v-1 may hold a row matching BOTH the
            # tombstone and the operation's read set
            pres_a = _dir_present(m_a, pres_cache)
            for d in m_a["dirs"]:
                entries = _dir_entries(table_dir, m_a, d)
                if entries is None:
                    return False, f"dir {d} has no per-file entries"
                pr = pres_a.get(d)
                for e in entries:
                    if _file_may_match(e, new_del, pr) and _file_may_match(
                        e, read_preds, pr
                    ):
                        return False, (
                            f"file {d}/{e['path']} may hold rows "
                            f"matching both v{v}'s delete predicate "
                            "and the operation's read set"
                        )
        elif dels_b != dels_a:
            return False, f"version {v} changed the tombstone list"
        # ---- file-set evolution (added / removed entries) ----
        refs_a = m_a.get("files_ref") or {}
        refs_b = m_b.get("files_ref") or {}
        # dirs whose shard ref is byte-identical have identical
        # entries: only changed/new/dropped dirs are opened — the
        # walk stays O(changed files), not O(table)
        dirs_a, dirs_b = set(m_a["dirs"]), set(m_b["dirs"])
        changed = set()
        for d in dirs_a | dirs_b:
            ra, rb = refs_a.get(d), refs_b.get(d)
            if ra is None or rb is None or ra.get("shard") != rb.get("shard"):
                changed.add(d)
        pres_a = _dir_present(m_a, pres_cache)
        pres_b = _dir_present(m_b, pres_cache)
        for d in changed:
            # None (a legacy dir with no per-file entries) is NOT an
            # empty dir: files this version added/removed there cannot
            # be proven disjoint from the read set — abort, exactly
            # like the tombstone branch (an `or []` here would let a
            # rebased UPDATE/MERGE/compact lose or resurrect rows on
            # legacy tables)
            ents_a = _dir_entries(table_dir, m_a, d) if d in dirs_a else []
            ents_b = _dir_entries(table_dir, m_b, d) if d in dirs_b else []
            if ents_a is None or ents_b is None:
                return False, f"dir {d} has no per-file entries"
            ea = {x["path"]: x for x in ents_a}
            eb = {x["path"]: x for x in ents_b}
            added = [(eb[p], pres_b.get(d)) for p in eb.keys() - ea.keys()]
            removed = [(ea[p], pres_a.get(d)) for p in ea.keys() - eb.keys()]
            if removed and mode not in ("compact", "merge"):
                return False, (
                    f"version {v} (mode={mode!r}) removed file entries"
                )
            for e, pr in added:
                if _file_may_match(e, read_preds, pr):
                    return False, (
                        f"file {d}/{e['path']} (added by v{v}) may "
                        "contain rows matching the operation's read set"
                    )
            for e, pr in removed:
                if _file_may_match(e, read_preds, pr):
                    return False, (
                        f"file {d}/{e['path']} (removed by v{v}) may "
                        "have contained rows matching the operation's "
                        "read set"
                    )
        m_a = m_b
    return True, ""


#: historical name (rounds 8-9 grew the pure-append form first)
_interleaved_appends_disjoint = _interleaved_commits_disjoint


def _strip_file_uri(u: str) -> str:
    """``input_file_name()`` URI → plain filesystem path."""
    if u.startswith("file:"):
        from urllib.parse import unquote, urlparse

        return unquote(urlparse(u).path)
    return u


def merge_into(
    spark: SparkSession,
    table_dir: str,
    source: DataFrame,
    keys: list[str],
    delete_col: str | None = None,
    order_col: str | None = None,
    txn: tuple[str, int] | None = None,
    evolve_schema: bool = False,
) -> int:
    """Row-level MERGE as ONE conflict-aborting manifest version —
    copy-on-write at FILE granularity, the Delta/Iceberg MERGE INTO
    shape on the plain-parquet log:

    * matched keys → source row (update); unmatched source keys →
      insert; unmatched target keys → untouched.  ``delete_col``
      flags source rows whose key is deleted instead;``order_col``
      compacts duplicate source keys to the latest (CDC semantics) —
      identical semantics to ``operators/merge.py::upsert``, which
      performs the row work.
    * only the FILES that contain a matched key are rewritten: the
      touched-file set comes from a key semi-join over the snapshot
      tagged with ``input_file_name()`` (the driver collects one row
      per touched FILE, never per row), stats-pre-pruned by the source
      key range when the key is a single column.  Untouched files
      carry over by reference — cost ∝ |touched files| + |source|,
      not the table.
    * the rewritten dir + the untouched remainder publish as ONE
      version pinned to the snapshot the merge read
      (``ConcurrentTableModificationError`` on a moved tip, like
      ``update_where``), so readers never see a half-merged state and
      a concurrent append cannot be silently dropped.
    * ``txn=(app_id, version)`` makes the merge idempotent under
      micro-batch replay (see ``commit``) — the streaming CDC sink's
      exactly-once primitive.

    ``evolve_schema=True`` is Delta's autoMerge for the CDC pipeline
    whose upstream added a column: NEW source payload columns widen
    the version's logical schema (appended in source order, the same
    ``_merge_schema`` rule as append evolution); untouched files keep
    their physical schema and read the new columns as NULLs through
    the existing ``dir_schemas`` machinery, and time travel to a
    pre-merge version still returns the old schema.  Without the
    flag, new columns abort loudly (the default, because a typo'd
    source column silently widening a table is worse than a re-run).
    Type changes to EXISTING columns are always rejected.

    Time travel composes: the pre-merge version still reads the old
    file set; ``vacuum`` reclaims rewritten files after retention."""
    from finance_etl_pipeline_spark.operators.merge import upsert

    # the touched-file set is matched against ``input_file_name()``
    # URIs, which Spark always reports as RESOLVED absolute paths — a
    # relative / non-normalized / symlinked table_dir would make the
    # comparison miss every file and silently keep the originals
    # alongside the rewrites.  Normalize once at entry so every join
    # below is in the same canonical space.
    table_dir = os.path.realpath(table_dir)

    if txn is not None:
        tip = latest_version(table_dir)
        if tip > 0 and _txn_seen(_read_manifest(table_dir, tip), txn):
            return tip

    base = latest_version(table_dir)
    if base == 0:
        # bootstrap: MERGE into an empty table = the insert-only half.
        # delete_col/order_col are treated as CDC bookkeeping, not
        # data — the table's columns are the source's payload columns.
        target = spark.createDataFrame(
            [],
            StructType(
                [
                    f
                    for f in source.schema.fields
                    if f.name not in (delete_col, order_col)
                ]
            ),
        )
        first = upsert(
            target, source, keys, delete_col=delete_col, order_col=order_col
        )
        return commit(
            first, table_dir, mode="overwrite", expected_base=0, txn=txn
        )

    m0 = _read_manifest(table_dir, base)
    summary0 = _files_summary(m0)
    if summary0 is None:
        raise ValueError(
            "legacy manifest without per-file entries; rewrite the table"
        )
    logical = StructType.fromJson(m0["schema"])
    aux = {delete_col} | (
        {order_col} if order_col not in logical.fieldNames() else set()
    )
    src_types = {
        f.name: f.dataType
        for f in source.schema.fields
        if f.name not in aux
    }
    for f in logical.fields:
        if f.name not in src_types:
            raise ValueError(f"source lacks table column {f.name}")
        if src_types[f.name] != f.dataType:
            raise ValueError(
                f"type mismatch on {f.name}: table {f.dataType} vs "
                f"source {src_types[f.name]}"
            )
    new_cols = set(src_types) - set(logical.fieldNames())
    if new_cols and not evolve_schema:
        raise ValueError(
            f"MERGE cannot add columns: {sorted(new_cols)} "
            "(pass evolve_schema=True to widen the table — Delta's "
            "autoMerge — or drop them in the source)"
        )
    if new_cols:
        src_payload = StructType(
            [f for f in source.schema.fields if f.name not in aux]
        )
        logical = _merge_schema(m0["schema"], src_payload)

    # find the touched files: key semi-join over the snapshot, file
    # list stats-pruned by the source key ENVELOPE first (a small
    # delta against a big clustered table touches few files).  Multi-
    # column keys take the conjunction of per-column envelopes — a
    # sound over-approximation of the key set (every matching row
    # satisfies every column's [min, max]), which both prunes the
    # probe and gives the rebase-on-disjoint-append proof a predicate
    # to work with (one aggregate over the source either way).
    where = None
    aggs = []
    for i, k in enumerate(keys):
        aggs.append(F.min(k).alias(f"lo{i}"))
        aggs.append(F.max(k).alias(f"hi{i}"))
    # ONE pass over the source computes the key envelope AND the
    # distinct-key count used for output sizing (previously a separate
    # distinct().persist().count() job — guide §1.2: don't run a
    # second pass for a number the first pass can carry).
    # count_distinct skips rows with a NULL key column; that only
    # shades the sizing ESTIMATE down, never correctness.
    aggs.append(F.count_distinct(*[F.col(k) for k in keys]).alias("__nk"))
    b = source.agg(*aggs).first()
    n_src_keys = b["__nk"]
    env = []
    for i, k in enumerate(keys):
        lo, hi = b[f"lo{i}"], b[f"hi{i}"]
        if (
            lo is None
            or _json_safe(lo) is None
            or _json_safe(hi) is None
        ):
            env = None  # a column without a sound envelope: no proof
            break
        env.append((k, ">=", lo))
        env.append((k, "<=", hi))
    if env:
        where = env
    probe = read_version(spark, table_dir, base, where=where).withColumn(
        "__file", F.input_file_name()
    )
    # semi-join dedups the build side itself; the explicit distinct
    # keeps the shuffle map-side-combined at scale
    src_keys = source.select(*keys).distinct()
    raw_files = [
        r["__file"]
        for r in probe.join(src_keys, keys, "left_semi")
        .select("__file")
        .distinct()
        .collect()  # one row per touched FILE — bounded by #files
    ]
    # realpath both sides: input_file_name() reports the resolved
    # physical path, which can differ from the manifest's logical one
    # under symlinks even after the abspath normalization above
    touched = {os.path.realpath(_strip_file_uri(u)) for u in raw_files}

    # open ONLY the touched files (file-granular scan restriction) —
    # the previous shape read the WHOLE table and filtered on
    # input_file_name(), which no scan can push down: an O(table) read
    # for an O(touched) contract.  The isin filter stays as a residual
    # guard (it also covers legacy whole-dir fallbacks, where the
    # restriction cannot apply).
    tgt = read_version(
        spark, table_dir, base, _only_files=touched
    ).withColumn("__file", F.input_file_name())
    tgt_touched = tgt.filter(
        F.col("__file").isin(raw_files) if raw_files else F.lit(False)
    ).drop("__file")
    # under evolution the touched rows align to the WIDENED logical
    # schema (new columns as typed NULLs) so the upsert emits the full
    # column set; without evolution this is the identity projection
    tgt_touched = _align_to(tgt_touched, logical)
    merged = upsert(
        tgt_touched, source, keys, delete_col=delete_col, order_col=order_col
    )

    token = uuid.uuid4().hex[:12]
    rel = os.path.join(_DATA, f"commit-{token}")
    abs_dir = os.path.join(table_dir, rel)
    # size the output from an estimate of the rows it will hold
    # (rewritten-file rows + source keys as an insert upper bound)
    # against the table's observed rows-per-file, not the touched
    # count alone: an insert-heavy merge that touched one file must
    # not collapse to one task / one giant file.  repartition, not
    # coalesce — coalesce propagates upstream and would fold the
    # whole upsert (shuffle, window, joins) into that one task.
    # dirs holding touched files — the ONLY dirs whose entry shards
    # this merge loads and rewrites; every other dir carries its shard
    # by reference, keeping the publish O(touched), not O(table)
    touched_dirs = set()
    for d in m0["dirs"]:
        droot = os.path.realpath(os.path.join(table_dir, d)) + os.sep
        if any(p.startswith(droot) for p in touched):
            touched_dirs.add(d)
    touched_rows = sum(
        e["rows"]
        for d in touched_dirs
        for e in _dir_entries(table_dir, m0, d)
        if os.path.realpath(os.path.join(table_dir, d, e["path"]))
        in touched
    )
    n_files = sum(n for n, _ in summary0.values())
    n_rows = sum(r for _, r in summary0.values())
    rows_per_file = max(1, n_rows // n_files) if n_files else 1_000_000
    est_rows = touched_rows + n_src_keys
    n_out = max(1, min(4096, est_rows // rows_per_file))
    merged = merged.repartition(n_out)
    base_mapping, base_retired = _load_mapping(m0)
    if new_cols:
        # evolved columns need physical names too (fresh on collision
        # with live/retired physicals)
        base_mapping = _assign_physical(
            [c for c in logical.fieldNames() if c in new_cols],
            base_mapping,
            base_retired,
            m0 and StructType.fromJson(m0["schema"]).fieldNames() or [],
        )
    _to_physical_df(merged, base_mapping).write.parquet(abs_dir)
    file_entries = _harvest_stats(abs_dir, spark)
    schema_json = _physical_schema(merged.schema, base_mapping).jsonValue()

    def build(prev: int) -> dict:
        if prev != base:
            # logical conflict resolution (the Delta/Iceberg shape):
            # a tip moved ONLY by appends whose files provably hold no
            # source key lets the merge REBASE — the rewritten dir is
            # still exact (no interleaved row could have matched or
            # collided with an insert), the interleaved dirs carry
            # over untouched, and both writes land.  Anything
            # unprovable aborts as before.
            ok, why = _interleaved_commits_disjoint(
                table_dir, base, prev, where
            )
            if not ok:
                raise ConcurrentTableModificationError(
                    f"table advanced to v{prev} while merge_into was "
                    f"computing against v{base}, and the interleaved "
                    f"commits are not provably disjoint ({why}); "
                    "re-run the merge"
                )
        m = _read_manifest(table_dir, prev)
        if _txn_seen(m, txn):
            raise _TxnAlreadyApplied()
        prev_mapping, prev_retired = _load_mapping(m)
        prev_names = set(StructType.fromJson(m["schema"]).fieldNames())
        for c in logical.fieldNames():
            # new (evolved) columns legitimately carry fresh physicals
            if c in prev_names and prev_mapping.get(c, c) != base_mapping.get(c, c):
                raise ConcurrentTableModificationError(
                    f"column mapping for {c!r} changed while merge_into "
                    "was computing (concurrent RENAME); re-run the merge"
                )
        dirs = list(m["dirs"])
        files = _carry_files(table_dir, m)
        # touched_dirs/touched were computed at base; a rebase is
        # reachable only over interleaves provably disjoint from the
        # merge's read set — and touched files DO match it (they hold
        # matched target rows), so no interleaved rewrite can have
        # replaced one: the base-time sets remain exact at prev
        for d in touched_dirs:
            files[d] = [
                e
                for e in _dir_entries(table_dir, m, d)
                if os.path.realpath(os.path.join(table_dir, d, e["path"]))
                not in touched
            ]
        dir_schemas = _load_dir_schemas(m)
        dirs.append(rel)
        files[rel] = file_entries
        dir_schemas[rel] = schema_json
        cons = _carry_constraints(m)
        # under a rebase the tip schema may have widened (an evolving
        # append is still an append): the published schema is the
        # union, never a silent narrowing that would drop the
        # interleaved column
        pub_schema = (
            logical
            if prev == base
            else _merge_schema(m["schema"], logical)
        )
        pub_mapping = dict(prev_mapping)
        for c, p in base_mapping.items():
            pub_mapping.setdefault(c, p)
        _validate_new_dir(
            cons, abs_dir, bool(file_entries), pub_schema,
            mapping=pub_mapping,
        )
        payload = {
            "dirs": dirs,
            "mode": "merge",
            "files": files,
            "dir_schemas": dir_schemas,
            "partitioned_dirs": dict(m.get("partitioned_dirs", {})),
            "deletes": list(m.get("deletes", [])),
            # widened under evolve_schema, otherwise byte-identical to
            # the previous version's schema
            "schema": pub_schema.jsonValue(),
            "constraints": cons,
            "txns": _carry_txns(m, txn),
        }
        if pub_mapping:
            payload["column_mapping"] = pub_mapping
        if prev_retired:
            payload["retired_physical"] = prev_retired
        return payload

    try:
        return _publish(table_dir, build)
    except _TxnAlreadyApplied:
        shutil.rmtree(abs_dir, ignore_errors=True)
        return latest_version(table_dir)


def count_rows(
    table_dir: str,
    version: int | None = None,
) -> int | None:
    """Metadata-only COUNT(*) of a version — summed from the per-file
    row counts the manifest recorded at commit time; no file is opened
    (the SELECT COUNT(*) shortcut the big formats answer from their
    manifests).  Returns None when the manifest predates per-file
    stats (legacy), so a caller can fall back to a scan rather than
    trust a partial number."""
    v = latest_version(table_dir) if version is None else version
    m = _read_manifest(table_dir, v)
    summary = _files_summary(m)
    if summary is None:
        return None
    if m.get("deletes"):
        # merge-on-read tombstones make per-file counts an upper
        # bound, not an answer — scan (or compact first)
        return None
    # answered from the manifest's per-dir ref summaries: O(#dirs),
    # no shard is even opened
    return sum(rows for _, rows in summary.values())


def column_bounds(
    table_dir: str,
    column: str,
    version: int | None = None,
) -> tuple | None:
    """Metadata-only (min, max) of a column — the MIN()/MAX() shortcut
    answered from the manifest's per-file stats, no file opened.
    Returns None when any file lacks stats for the column, when
    tombstones are outstanding (a delete may have removed the extreme
    row), or when every row is NULL — the caller falls back to a scan
    rather than trust a partial envelope."""
    v = latest_version(table_dir) if version is None else version
    m = _read_manifest(table_dir, v)
    files = _load_files(table_dir, m)
    if not files or set(m["dirs"]) - set(files) or m.get("deletes"):
        return None
    # stats are keyed physical; the caller asks by logical name
    column = _load_mapping(m)[0].get(column, column)
    schemas = _load_dir_schemas(m)
    mn = mx = None
    for d in m["dirs"]:
        sj = schemas.get(d)
        present = (
            set(StructType.fromJson(sj).fieldNames()) if sj else None
        )
        for e in files[d]:
            if e["rows"] == 0:
                continue
            if present is not None and column not in present:
                continue  # column reads as NULL here: no extremes
            st = e.get("stats", {}).get(column)
            if st is None:
                return None  # unknown stats: envelope would be a lie
            if st["min"] is None:  # all-NULL in this file
                continue
            mn = st["min"] if mn is None else min(mn, st["min"])
            mx = st["max"] if mx is None else max(mx, st["max"])
    return None if mn is None else (mn, mx)


def _stat_to_logical(value, field):
    """A manifest stat value (its JSON-serialized ordering form, see
    ``_json_safe``) reconstructed as the Python object Spark would
    return for ``field``'s logical type — or raise ValueError when the
    serialized form cannot be an EXACT witness of that type (type
    drift between a path-inferred partition stat and the declared
    column, an unexpected format), in which case the caller falls back
    to a scan rather than publish a lossy reconstruction.

    Exactness argument per type: integral/float stats are stored
    verbatim from the footer (floats are NaN-free by the harvest
    guard); date/timestamp go through the fixed-width forms
    ``_json_safe`` wrote, so parsing is lossless; strings are exact
    because every data file is written by THIS engine's Spark session,
    whose parquet writer (observed behavior, pinned version) never
    truncates binary stats — it drops them wholesale past the size
    cap, which reads as missing stats and falls back."""
    import datetime

    t = field.dataType.typeName()
    if isinstance(value, bool):
        raise ValueError("boolean stats carry no ordering form")
    if t in ("byte", "short", "integer", "long"):
        if isinstance(value, int):
            return value
    elif t in ("float", "double"):
        # NaN never qualifies (Spark orders it greatest; a footer
        # NaN says nothing about the true extreme) — current harvests
        # refuse NaN stats, this guards manifests written before that
        if isinstance(value, (int, float)) and value == value:
            return float(value)
    elif t == "string":
        if isinstance(value, str):
            return value
    elif t == "date":
        if isinstance(value, str):
            return datetime.date.fromisoformat(value)
    elif t in ("timestamp", "timestamp_ntz"):
        if isinstance(value, str):
            return datetime.datetime.strptime(
                value, "%Y-%m-%d %H:%M:%S.%f"
            )
    raise ValueError(f"stat {value!r} is not an exact {t} witness")


_STRICT_DATE = re.compile(r"^\d{4}-\d{2}-\d{2}$")


def _pred_literal(lit, field):
    """A WHERE literal normalized to ``field``'s Python type-kind, or
    raise ValueError when the kinds mismatch — the caller DECLINES and
    lets Spark's own coercion rules answer (comparing `int_col = '5'`
    metadata-side would have to reimplement those rules to stay
    exact).  Three deliberate narrownesses, each a decline-not-guess:

    * a string literal containing a backslash declines — Spark's
      parser processes ``\\n``-style escapes (escapedStringLiterals
      defaults false) and this route does not reimplement them;
    * date literals must be EXACTLY ``yyyy-mm-dd`` — Python 3.11+
      ``fromisoformat`` accepts ``20240105`` / ISO-week forms that
      Spark's string→date cast rejects (returns NULL);
    * FloatType (32-bit) columns decline — Spark compares after
      float→double widening (0.1f widens to 0.10000000149…), which a
      double-precision equality here would silently get wrong."""
    import datetime

    t = field.dataType.typeName()
    if isinstance(lit, bool):
        raise ValueError("boolean literals are not metadata-served")
    if t == "string":
        if isinstance(lit, str) and "\\" not in lit:
            return lit
    elif t in ("byte", "short", "integer", "long"):
        if isinstance(lit, int):
            return lit
    elif t == "double":
        if isinstance(lit, (int, float)) and lit == lit:
            return float(lit)
    elif t == "date":
        if isinstance(lit, str) and _STRICT_DATE.match(lit):
            return datetime.date.fromisoformat(lit)
    raise ValueError(f"literal {lit!r} is not a {t} kind")


def metadata_aggregate(
    table_dir: str,
    items: list[tuple],
    version: int | None = None,
    group_by: list[str] | None = None,
    where: list[tuple] | None = None,
):
    """An aggregate answered from the MANIFEST alone — the
    ``SELECT count(*)/count(c)/min(c)/max(c) FROM t`` shortcut every
    lakehouse format serves without opening a data file, optionally
    ``GROUP BY`` partition columns (per-file partition identities are
    exact min = max stats, so each file contributes wholesale to one
    group).  O(#files) driver-side metadata walk; on a 100 TB table
    this replaces a full-corpus scan with a shard read.

    ``items`` is a list of ``(op, col)`` with op in ``count_star``
    (col ignored), ``count``, ``min``, ``max``, or ``group`` (a bare
    reference to a GROUP BY column); col names resolve
    case-insensitively against the version's logical schema (Spark's
    default resolution).  ``group_by`` lists the GROUP BY columns —
    every one must be a hive-partition column of EVERY data dir with
    an exactly-known identity, else the whole call declines.

    ``where`` restricts the walk to files whose PARTITION identity
    satisfies every predicate — ``(col, '=', literal)`` or
    ``(col, 'is_null', None)`` conjunctions over partition columns
    only (same exact-identity rule as ``group_by``).  The literal must
    already be the column's Python type-kind (str for string/date
    columns — dates parse from ISO — int for integral, int/float for
    float): a kind mismatch DECLINES rather than guessing Spark's
    coercion.  Every row of a file shares its partition values, so
    filtering whole files is exact, never approximate.

    Returns ``(rows, fields)`` — a list of value tuples (one for the
    ungrouped form, one per live partition combo otherwise) +
    ``StructField`` per item (Spark's default output name, type and
    nullability) — or **None whenever exactness cannot be PROVEN**,
    and the caller runs the normal scan instead.  Fallback triggers:
    any outstanding merge-on-read tombstone, a dir without per-file
    entries, a file missing stats for a needed column (includes
    NaN-touched floats and oversized strings, which the harvest
    refuses to record), a dir not partitioned by every group column,
    an inexact partition identity (numeric-looking string partitions
    on legacy entries), non-orderable logical types, case-ambiguous
    columns, or a stat whose serialized form is not an exact witness
    of the column type (``_stat_to_logical``).  Pruning-oriented
    callers that only need a safe envelope use ``column_bounds``."""
    from pyspark.sql.types import LongType, StructField

    v = latest_version(table_dir) if version is None else version
    m = _read_manifest(table_dir, v)
    if m.get("deletes") or "schema" not in m:
        return None
    if m.get("foreign_stats_dirs") and any(
        op in ("min", "max") for op, _ in items
    ):
        # adopted (CONVERT) files: foreign footer min/max are BOUNDS
        # (sound for skipping) but possibly truncated, so they are not
        # exact value witnesses; counts and partition identities stay
        # served
        return None
    schema = StructType.fromJson(m["schema"])
    files = _load_files(table_dir, m)
    if set(m["dirs"]) - set(files):
        return None  # legacy dir with no per-file entries
    # case-insensitive logical resolution, ambiguity falls back
    by_lower: dict[str, object] = {}
    for f in schema.fields:
        if f.name.lower() in by_lower:
            by_lower[f.name.lower()] = None
        else:
            by_lower[f.name.lower()] = f
    group_fields: list = []
    if group_by:
        for g in group_by:
            f = by_lower.get(g.lower())
            if f is None:
                return None
            group_fields.append(f)
    gnames = {f.name for f in group_fields}
    pred_fields: list = []  # (field, op, normalized literal)
    if where:
        try:
            for col, op, lit in where:
                f = by_lower.get(col.lower())
                if f is None or op not in ("=", "is_null"):
                    return None
                pred_fields.append(
                    (f, op, None if op == "is_null" else _pred_literal(lit, f))
                )
        except (ValueError, TypeError):
            return None  # literal kind mismatch: Spark coercion rules apply
    fields_out: list = []
    resolved: list = []  # (op, schema-resolved column | None)
    need: dict[str, object] = {}
    for op, col in items:
        if op == "count_star":
            fields_out.append(StructField("count(1)", LongType(), False))
            resolved.append((op, None))
            continue
        f = by_lower.get(col.lower())
        if f is None:
            return None
        if op == "group":
            if f.name not in gnames:
                return None  # bare column not in GROUP BY: not valid SQL
            fields_out.append(
                StructField(f.name, f.dataType, f.nullable)
            )
            resolved.append((op, f.name))
            continue
        need[f.name] = f
        resolved.append((op, f.name))
        if op == "count":
            fields_out.append(
                StructField(f"count({f.name})", LongType(), False)
            )
        else:
            fields_out.append(
                StructField(f"{op}({f.name})", f.dataType, True)
            )
    mapping, _ = _load_mapping(m)
    dir_schemas = _load_dir_schemas(m)
    part_dirs = m.get("partitioned_dirs", {})
    phys_group = [mapping.get(f.name, f.name) for f in group_fields]
    phys_pred = [
        mapping.get(f.name, f.name) for f, _, _ in pred_fields
    ]

    def _blank():
        return {
            "rows": 0,
            "cols": {
                c: {"non_null": 0, "min": None, "max": None}
                for c in need
            },
        }

    groups: dict[tuple, dict] = {}
    #: ONE identity resolution per file covers predicates AND grouping
    part_needed = phys_pred + phys_group
    n_pred = len(phys_pred)
    try:
        for d in m["dirs"]:
            sj = dir_schemas.get(d)
            s_struct = StructType.fromJson(sj) if sj else None
            present = (
                set(s_struct.fieldNames()) if s_struct else None
            )
            if part_needed:
                pcols = part_dirs.get(d)
                if pcols is None or not set(part_needed) <= set(pcols):
                    return None  # dir not partitioned by group/pred cols
                strings = _string_typed(s_struct)
            for e in files[d]:
                rows = e.get("rows", 0)
                if rows == 0:
                    continue  # contributes no rows and no group
                if part_needed:
                    combo_all = _entry_partition_combo(
                        e, part_needed, strings
                    )
                    if combo_all is None:
                        return None  # identity not exactly known
                if pred_fields:
                    keep = True
                    for raw, (f, op, lit) in zip(
                        combo_all[:n_pred], pred_fields
                    ):
                        if op == "is_null":
                            keep = raw is None
                        elif raw is None:
                            keep = False  # NULL = lit is never true
                        else:
                            keep = _stat_to_logical(raw, f) == lit
                        if not keep:
                            break
                    if not keep:
                        continue  # whole file excluded, exactly
                key = tuple(combo_all[n_pred:]) if group_by else ()
                g = groups.get(key)
                if g is None:
                    g = groups[key] = _blank()
                g["rows"] += rows
                for c in need:
                    p = mapping.get(c, c)
                    if present is not None and p not in present:
                        continue  # pre-evolution file: all-NULL here
                    st = e.get("stats", {}).get(p)
                    if st is None:
                        raise ValueError("file without stats")
                    a = g["cols"][c]
                    a["non_null"] += rows - st["nulls"]
                    if st["min"] is not None:
                        for x in (st["min"], st["max"]):
                            # pre-NaN-guard harvest: NaN poisons
                            # Python min/max ORDER-DEPENDENTLY — a
                            # wrong non-NaN answer could survive, so
                            # reject at accumulation, not just output
                            if isinstance(x, float) and x != x:
                                raise ValueError("NaN stat (legacy)")
                        a["min"] = (
                            st["min"]
                            if a["min"] is None
                            else min(a["min"], st["min"])
                        )
                        a["max"] = (
                            st["max"]
                            if a["max"] is None
                            else max(a["max"], st["max"])
                        )
        if not groups and not group_by:
            groups[()] = _blank()  # empty table: one all-zero row
        out_rows = []
        for key, g in groups.items():
            vals: list = []
            for op, name in resolved:
                if op == "count_star":
                    vals.append(g["rows"])
                elif op == "group":
                    i = next(
                        i
                        for i, f in enumerate(group_fields)
                        if f.name == name
                    )
                    raw = key[i]
                    if raw is None:
                        if not group_fields[i].nullable:
                            return None  # cannot represent NULL group
                        vals.append(None)
                    else:
                        vals.append(
                            _stat_to_logical(raw, group_fields[i])
                        )
                elif op == "count":
                    vals.append(g["cols"][name]["non_null"])
                else:
                    raw = g["cols"][name][op]
                    vals.append(
                        None
                        if raw is None
                        else _stat_to_logical(raw, need[name])
                    )
            out_rows.append(tuple(vals))
    except (ValueError, TypeError):
        # TypeError: un-orderable mixed stat forms (path-inferred
        # partition value vs footer type) — exactness unprovable
        return None
    return out_rows, fields_out


def table_partitions(
    table_dir: str, version: int | None = None
) -> list[dict]:
    """SHOW PARTITIONS from METADATA only — one dict per live
    partition combo: {values: {logical col: value}, n_files, n_rows}
    (row counts are upper bounds when merge-on-read tombstones are
    outstanding; the ``approx`` flag says so).  Answered from the
    manifest's exact partition-value identities (raw path strings for
    string columns, stats for the rest) without listing a directory
    or opening a file; raises for tables with unpartitioned dirs —
    they have no partition inventory to show."""
    v = latest_version(table_dir) if version is None else version
    if v == 0:
        return []
    m = _read_manifest(table_dir, v)
    part_dirs = m.get("partitioned_dirs", {})
    mapping, _ = _load_mapping(m)
    inv = {p: l for l, p in mapping.items()}
    approx = bool(m.get("deletes"))
    out: dict[tuple, dict] = {}
    dir_schemas = _load_dir_schemas(m)
    for d in m["dirs"]:
        cols = part_dirs.get(d)
        if cols is None:
            raise ValueError(
                f"dir {d} is not hive-partitioned; the table has no "
                "partition inventory (partition only some commits is "
                "fine for reads, but SHOW PARTITIONS needs all)"
            )
        entries = _dir_entries(table_dir, m, d)
        if entries is None:
            raise ValueError(
                f"dir {d} has no per-file manifest entries (legacy "
                "manifest); rewrite the table first"
            )
        sj = dir_schemas.get(d)
        strings = _string_typed(StructType.fromJson(sj) if sj else None)
        for e in entries:
            combo = _entry_partition_combo(e, list(cols), strings)
            if combo is None:
                raise ValueError(
                    f"file {d}/{e['path']} has no exact partition "
                    "identity; rewrite the table first"
                )
            key = (tuple(cols), combo)
            slot = out.setdefault(
                key,
                {
                    "values": {
                        inv.get(c, c): val for c, val in zip(cols, combo)
                    },
                    "n_files": 0,
                    "n_rows": 0,
                    "approx": approx,
                },
            )
            slot["n_files"] += 1
            slot["n_rows"] += e.get("rows", 0)
    return [
        out[k]
        for k in sorted(out, key=lambda kk: (kk[0], str(kk[1])))
    ]


def history(table_dir: str) -> list[dict]:
    """DESCRIBE HISTORY: one dict per RETAINED version, newest first —
    version, commit timestamp, mode, file/dir counts, metadata row
    count (None when tombstones or legacy entries make it unknowable),
    and the writer txns map.  Driver-side manifest JSON only; no file
    is opened."""
    out = []
    v = latest_version(table_dir)
    while v >= 1:
        # a checkpoint covering (v - N, v] serves the whole block from
        # one file; rows are byte-identical to the per-manifest walk
        # (_history_row is shared with the checkpoint writer)
        ck = (
            _read_checkpoint(table_dir, v)
            if v % _CHECKPOINT_EVERY == 0
            else None
        )
        if ck is not None and not os.path.exists(
            _manifest_path(table_dir, v - int(ck["every"]) + 1)
        ):
            ck = None  # stale ckpt: block (partially) vacuumed
        if ck is not None:
            for w in range(v, v - int(ck["every"]), -1):
                out.append({"version": w, **ck["summaries"][str(w)]})
            v -= int(ck["every"])
            continue
        try:
            m = _read_manifest(table_dir, v)
        except VersionNotFoundError:
            break  # older versions expired by vacuum
        # per-dir ref summaries answer file/row counts without opening
        # a single shard — history stays O(#versions × #dirs)
        out.append(_history_row(table_dir, v, m))
        v -= 1
    return out


def describe_detail(table_dir: str) -> dict:
    """DESCRIBE DETAIL (the Delta table-level summary): ONE dict for
    the current snapshot — version, commit ts, mode, location, counts,
    total size in bytes, the distinct hive partition layouts in force,
    tombstone count, constraint names, whether column mapping is
    active, and the number of registered live clones.  Driver-side
    metadata only (manifest + shard JSON, O(#files); no data file is
    opened).  ``n_rows`` is None when tombstones make the metadata
    count unknowable — same contract as ``history()``/``count_rows``."""
    v = latest_version(table_dir)
    if v == 0:
        return {"location": os.path.abspath(table_dir), "version": 0}
    m = _read_manifest(table_dir, v)
    # legacy manifests with dirs lacking per-file entries: report None
    # (no proof, no partial number — the count_rows contract), never a
    # confidently-wrong undercount
    if _files_summary(m) is None:
        n_files = size_bytes = None
    else:
        files = _load_files(table_dir, m)
        n_files = sum(len(es) for es in files.values())
        size_bytes = sum(
            int(e.get("bytes", 0)) for es in files.values() for e in es
        )
    layouts = sorted(
        {tuple(c) for c in m.get("partitioned_dirs", {}).values()}
    )
    n_clones = 0
    reg_dir = os.path.join(table_dir, _MANIFESTS, "clones")
    if os.path.isdir(reg_dir):
        n_clones = sum(
            1 for f in os.listdir(reg_dir) if f.endswith(".json")
        )
    return {
        "location": os.path.abspath(table_dir),
        "version": v,
        "ts": m.get("ts"),
        "mode": m.get("mode"),
        "n_dirs": len(m["dirs"]),
        "n_files": n_files,
        "n_rows": count_rows(table_dir, v),
        "size_bytes": size_bytes,
        "partition_layouts": [list(c) for c in layouts],
        "n_tombstones": len(m.get("deletes", [])),
        "constraints": sorted(m.get("constraints", {})),
        "column_mapping": bool(m.get("column_mapping")),
        "copy_sources": (m.get("copy_sources_ref") or {}).get("n", 0),
        "foreign_stats_dirs": len(m.get("foreign_stats_dirs", [])),
        "schema_fields": (
            len(StructType.fromJson(m["schema"]).fields)
            if "schema" in m
            else None
        ),
        "registered_clones": n_clones,
    }


def files_for_version(
    table_dir: str,
    version: int | None = None,
    where: list[tuple] | None = None,
) -> list[str]:
    """The absolute file list ``read_version`` would scan — the
    metadata-only view of file skipping (what a SHOW FILES / EXPLAIN
    surface would print)."""
    v = latest_version(table_dir) if version is None else version
    m = _read_manifest(table_dir, v)
    preds = [_normalize_pred(p) for p in where] if where else []
    deletes = m.get("deletes", [])
    schemas = _load_dir_schemas(m)
    out = []
    for d in m["dirs"]:
        entries = _dir_entries(table_dir, m, d)
        if entries is None:
            out.append(os.path.join(table_dir, d))
            continue
        sj = schemas.get(d)
        present = (
            set(StructType.fromJson(sj).fieldNames()) if sj else None
        )
        del_preds = [
            [_normalize_pred(tuple(p)) for p in dl["preds"]]
            for dl in deletes
            if d in dl["dirs"]
        ]
        for e in entries:
            if (not preds or _file_may_match(e, preds, present)) and not any(
                _file_all_match(e, dp, present) for dp in del_preds
            ):
                out.append(os.path.join(table_dir, d, e["path"]))
    return out


def vacuum(
    table_dir: str,
    keep_last: int = 1,
    retention_seconds: float = 3600.0,
    dry_run: bool = False,
) -> list[str]:
    """Delete data dirs referenced only by expired versions (older
    than the ``keep_last`` most recent) and drop their manifests.
    Returns the removed paths (whole dirs, plus individual
    merge-rewritten files — see below).  Readers of retained versions
    are unaffected — their file sets are intact by construction.

    ``retention_seconds`` protects IN-FLIGHT commits: ``commit``
    writes its data dir BEFORE publishing the manifest, so an
    unreferenced dir younger than the threshold may belong to a commit
    that has not published yet — deleting it would make that commit
    publish a manifest over vanished files.  Only dirs whose mtime is
    older than the threshold are removed (the ``RETAIN n HOURS``
    semantics of the big table formats); pass 0 only when no writer
    can be concurrent.  A never-committed table vacuums to [].

    Cleanup is FILE-granular inside live dirs: ``merge_into`` rewrites
    individual files and drops their entries while the dir stays
    referenced, so a dir-only sweep would leak every rewritten file
    forever.  A ``part-*`` file inside a live dir that NO retained
    manifest references (and that is older than retention — a writer
    may be mid-write into a dir it has not published yet) is deleted
    individually.  Dirs without per-file entries in every retained
    manifest (legacy) are skipped — no proof, no deletion.

    ``dry_run=True`` (the ``VACUUM t DRY RUN`` surface) reports the
    DATA paths the sweep would reclaim without deleting anything —
    no data, no manifests, no shards, no registry pruning; the
    returned list covers the data dir/file sweep (metadata expiry is
    derived state and not listed, matching what the big formats
    report)."""
    import glob as _glob

    tip = latest_version(table_dir)
    if tip == 0:
        return []
    keep = set(range(max(1, tip - keep_last + 1), tip + 1))
    live: set[str] = set()
    live_files: set[str] = set()
    live_shards: set[str] = set()  # shard files some retained
    # manifest references — everything else under s-* is reclaimable
    no_proof: set[str] = set()  # dirs some retained manifest lists
    # without per-file entries (legacy) — never file-swept
    for v in keep:
        m = _read_manifest(table_dir, v)
        live.update(m["dirs"])
        live_shards.update(
            r["shard"] for r in m.get("files_ref", {}).values()
        )
        cref = m.get("copy_sources_ref")
        if cref:
            live_shards.add(cref["shard"])
        for d in m["dirs"]:
            try:
                entries = _dir_entries(table_dir, m, d)
            except FileNotFoundError:
                # a concurrent vacuum with a shorter keep_last swept a
                # shard this run still considers retained — degrade to
                # "no proof" (the dir is never file-swept), never crash
                entries = None
            if entries is None:
                no_proof.add(d)
            else:
                live_files.update(
                    os.path.join(d, e["path"]) for e in entries
                )
    # ---- clone protection: dirs a LIVE clone's retained manifests
    # still reference stay, file-granularly (clones register at every
    # owner root before publishing — see _register_clone) ----
    now = time.time()
    reg_dir = os.path.join(table_dir, _MANIFESTS, "clones")
    rroot = os.path.realpath(table_dir)
    data_sweep_blocked = False
    if os.path.isdir(reg_dir):
        for f in sorted(os.listdir(reg_dir)):
            if not f.endswith(".json"):
                continue
            reg_path = os.path.join(reg_dir, f)
            try:
                with open(reg_path) as fh:
                    clone = json.load(fh)["clone"]
            except (OSError, ValueError, KeyError):
                continue  # unreadable: conservative keep of nothing
            if not isinstance(clone, str):
                continue  # corrupt value: never crash the sweep
            if latest_version(clone) == 0:
                try:
                    age = now - os.path.getmtime(reg_path)
                except OSError:
                    continue
                if age >= retention_seconds:
                    # clone gone (or a failed clone's stale claim)
                    if not dry_run:
                        try:
                            os.remove(reg_path)
                        except OSError:
                            pass
                    continue
                # IN-FLIGHT clone: registered (before publish, by
                # contract) but its manifest has not landed yet.  It
                # may be snapshotting ANY of our versions right now,
                # so this sweep cannot prove any DATA dir or file
                # dead — block the data sweep rather than race the
                # clone's read set.  Manifest/ckpt/shard/tmp expiry
                # below still runs: a clone mid-read of an expiring
                # version fails loudly (VersionNotFoundError) and its
                # published manifest references data dirs, never our
                # metadata.  The window is retention-bounded: a
                # crashed clone's claim ages out and the next vacuum
                # prunes it.  Warn so an operator can diagnose a
                # vacuum that reclaims no data (e.g. a clone dir
                # rmtree'd without unregistering keeps a young
                # registry file behind).
                import warnings

                warnings.warn(
                    f"vacuum({table_dir}): data sweep skipped — "
                    f"clone registry entry {reg_path} points at an "
                    f"in-flight (or abandoned-young) clone at "
                    f"{clone}; data dirs/files are kept until the "
                    "claim publishes or ages past retention",
                    stacklevel=2,
                )
                data_sweep_blocked = True
                continue
            cmdir = os.path.join(clone, _MANIFESTS)
            try:
                cnames = os.listdir(cmdir)
            except FileNotFoundError:
                continue  # clone rmtree'd after the version check
            cvers = sorted(
                int(n[1:7])
                for n in cnames
                if n.startswith("v") and n.endswith(".json")
            )
            for cv in cvers:
                try:
                    cm = _read_manifest(clone, cv)
                except VersionNotFoundError:
                    continue
                for d in cm["dirs"]:
                    if not os.path.isabs(d):
                        continue
                    dr = os.path.realpath(d)
                    droot = os.path.join(rroot, _DATA) + os.sep
                    if not dr.startswith(droot):
                        continue  # not this table's data root
                    rel = os.path.join(_DATA, dr[len(droot):])
                    live.add(rel)
                    try:
                        entries = _dir_entries(clone, cm, d)
                    except FileNotFoundError:
                        # the clone's own vacuum swept this shard
                        # concurrently: degrade to no-proof (the dir
                        # is kept whole, never file-swept)
                        entries = None
                    if entries is None:
                        no_proof.add(rel)
                    else:
                        live_files.update(
                            os.path.join(rel, e["path"]) for e in entries
                        )
    removed = []
    data_root = os.path.join(table_dir, _DATA)
    sweep_dirs = (
        sorted(os.listdir(data_root))
        if os.path.isdir(data_root) and not data_sweep_blocked
        else []
    )
    for d in sweep_dirs:
        rel = os.path.join(_DATA, d)
        path = os.path.join(data_root, d)
        if rel not in live and now - os.path.getmtime(path) >= retention_seconds:
            if not dry_run:
                shutil.rmtree(path)
            removed.append(rel)
        elif rel in live and rel not in no_proof:
            # file-granular sweep of merge-rewritten leftovers
            for f in _glob.glob(
                os.path.join(path, "**", "part-*"), recursive=True
            ):
                if not f.endswith(".parquet"):
                    continue
                frel = os.path.join(rel, os.path.relpath(f, path))
                try:
                    if (
                        frel not in live_files
                        and now - os.path.getmtime(f) >= retention_seconds
                    ):
                        if not dry_run:
                            os.remove(f)
                        removed.append(frel)
                except FileNotFoundError:
                    pass  # concurrent vacuum got it first
    if dry_run:
        return removed  # metadata expiry never runs on a dry run
    mdir = os.path.join(table_dir, _MANIFESTS)
    for f in os.listdir(mdir):
        path = os.path.join(mdir, f)
        if f.startswith("v") and f.endswith(".json") and int(f[1:7]) not in keep:
            os.remove(path)
        elif f.startswith("ckpt-") and f.endswith(".json"):
            # a checkpoint covering ANY expired version goes with the
            # manifests it summarizes (a partially-covered ckpt would
            # otherwise resurrect expired versions in history /
            # timestamp travel); readers fall back per-manifest
            cv = int(f[5:-5])
            if cv - _CHECKPOINT_EVERY + 1 not in keep:
                os.remove(path)
        elif (
            f.startswith(_SHARD_PREFIX) or f.startswith(_COPY_PREFIX)
        ) and f.endswith(".json"):
            # reference-counted shard sweep (file shards AND copy
            # load-history shards): a shard no retained manifest
            # names is dead — unless it is younger than retention (it
            # may belong to a publish in flight that wrote its shards
            # but has not linked its manifest yet)
            try:
                if (
                    f not in live_shards
                    and now - os.path.getmtime(path) >= retention_seconds
                ):
                    os.remove(path)
                    _SHARD_CACHE.pop(path, None)
            except FileNotFoundError:
                pass  # concurrent vacuum got it first
        elif f.startswith(".tmp-"):
            # a writer that crashed between writing its temp payload
            # and the link/unlink leaks the temp file; sweep it under
            # the same retention window (younger ones may belong to a
            # publish in flight right now)
            try:
                if now - os.path.getmtime(path) >= retention_seconds:
                    os.remove(path)
            except FileNotFoundError:
                pass  # a concurrent publish just unlinked it
    return removed


def changes(
    spark: SparkSession,
    table_dir: str,
    keys: list[str],
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Changefeed between two versions — the ``table_changes()`` API
    of the big formats, composed from this log + the snapshot diff:
    every key classified added / removed / changed / unchanged between
    the two immutable file sets.  Cost: one ``table_diff`` (key-hash
    shuffle) over the two snapshot reads; for sparse drift, route
    through ``diff.reconcile`` instead to touch only divergent
    buckets.

    Schema evolution across the span is reconciled: both snapshots are
    aligned to the UNION of the two versions' logical schemas (missing
    columns read as typed NULLs), so a column added between the
    versions classifies rows as 'changed' exactly where it holds a
    non-NULL value — the ``unionByName(allowMissingColumns=True)``
    semantics, applied to the diff.

    ``from_version=0`` is the EMPTY baseline: every key of
    ``to_version`` classifies as 'added' — the bootstrap snapshot a
    CDC consumer applies before the incremental steps, riding the same
    feed shape."""
    from finance_etl_pipeline_spark.operators.diff import table_diff

    if from_version == 0:
        new = read_version(spark, table_dir, to_version)
        return table_diff(new.limit(0), new, keys)
    old = read_version(spark, table_dir, from_version)
    new = read_version(spark, table_dir, to_version)
    if set(old.columns) != set(new.columns):
        mo = _read_manifest(table_dir, from_version)
        mn = _read_manifest(
            table_dir,
            latest_version(table_dir) if to_version is None else to_version,
        )
        # RENAMES across the span: a column's identity is its PHYSICAL
        # name, so map the old snapshot's logical names through
        # physical identity into the to-version's logical names — the
        # feed (like the ``keys`` argument) speaks the CURRENT names.
        # A column renamed between the versions then diffs as itself,
        # not as one drop plus one unrelated add.
        map_o = _load_mapping(mo)[0]
        inv_n = {p: l for l, p in _load_mapping(mn)[0].items()}
        rename = {}
        for l_o in old.columns:
            p = map_o.get(l_o, l_o)
            l_n = inv_n.get(p, p)
            if l_n != l_o:
                rename[l_o] = l_n
        if rename:
            # a rename landing on a concurrently DROPPED column's name
            # (old has a,b; span drops b and renames a->b) would alias
            # two old-snapshot columns to the same name — the feed has
            # no unambiguous current-name representation for the
            # dropped column's data, so fail specifically rather than
            # let Spark throw an ambiguous-reference error downstream
            final = [rename.get(c, c) for c in old.columns]
            dupes = sorted({n for n in final if final.count(n) > 1})
            if dupes:
                raise ValueError(
                    f"changes({from_version}->{to_version}): rename "
                    f"collides with dropped column(s) {dupes} across "
                    "the span; diff the sub-spans on either side of "
                    "the rename instead"
                )
            old = old.select(
                *[F.col(c).alias(rename.get(c, c)) for c in old.columns]
            )
        union = _merge_schema(old.schema.jsonValue(), new.schema)
        old = _align_to(old, union)
        new = _align_to(new, union)
    return table_diff(old, new, keys)


def _commit_replace(
    df: DataFrame,
    table_dir: str,
    base: int,
    partition_by: list[str] | None = None,
) -> int:
    """compact_table's publish: the compacted rewrite of snapshot
    ``base`` REPLACES base's dirs, and dirs appended since base carry
    over untouched — compaction COMMUTES with appends (the
    Delta/Iceberg OPTIMIZE conflict rule), so a busy appender no
    longer aborts every OPTIMIZE.  Anything else interleaving
    (deletes, updates, merges, renames, another compaction, or any
    interleave on a column-mapped table) still conflict-aborts: those
    change rows or layout the rewrite already materialized."""
    m_base = _read_manifest(table_dir, base)
    base_dirs = set(m_base["dirs"])
    base_mapping, _ = _load_mapping(m_base)
    spark = df.sparkSession
    token = uuid.uuid4().hex[:12]
    rel = os.path.join(_DATA, f"commit-{token}")
    abs_dir = os.path.join(table_dir, rel)
    writer = df.write
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(abs_dir)
    file_entries = _harvest_stats(abs_dir, spark)
    schema_json = df.schema.jsonValue()

    def build(prev: int) -> dict:
        m = _read_manifest(table_dir, prev)
        if prev != base:
            if base_mapping:
                raise ConcurrentTableModificationError(
                    f"table advanced to v{prev} while OPTIMIZE was "
                    f"rewriting v{base} of a column-mapped table; "
                    "re-run the compaction"
                )
            n_del = len(m_base.get("deletes", []))
            for w in range(base + 1, prev + 1):
                mw = _read_manifest(table_dir, w)
                mode = mw.get("mode")
                if mode not in ("append", "set_constraint", "set_bloom"):
                    raise ConcurrentTableModificationError(
                        f"table advanced to v{prev} while OPTIMIZE "
                        f"was rewriting v{base}, and version {w} is "
                        f"mode={mode!r} (not an append); re-run the "
                        "compaction"
                    )
                if len(mw.get("deletes", [])) != n_del:
                    raise ConcurrentTableModificationError(
                        f"version {w} changed the tombstone list "
                        "while OPTIMIZE was rewriting; re-run the "
                        "compaction"
                    )
        inter_dirs = [d for d in m["dirs"] if d not in base_dirs]
        carried = _carry_files(table_dir, m)
        files = {rel: file_entries}
        dir_schemas_prev = _load_dir_schemas(m)
        dir_schemas = {rel: schema_json}
        part_prev = m.get("partitioned_dirs", {})
        part_dirs = {}
        if partition_by:
            part_dirs[rel] = list(partition_by)
        for d in inter_dirs:
            files[d] = carried[d]
            if d in dir_schemas_prev:
                dir_schemas[d] = dir_schemas_prev[d]
            if d in part_prev:
                part_dirs[d] = list(part_prev[d])
        merged_schema = (
            _merge_schema(m["schema"], df.schema)
            if "schema" in m
            else df.schema
        )
        cons = _carry_constraints(m)
        _validate_new_dir(cons, abs_dir, bool(file_entries), merged_schema)
        return {
            "dirs": [rel] + inter_dirs,
            "mode": "overwrite" if not inter_dirs else "compact",
            "files": files,
            "dir_schemas": dir_schemas,
            "partitioned_dirs": part_dirs,
            # base tombstones are MATERIALIZED in the rewrite, and
            # appends-only interleaves cannot have added one (checked
            # above) nor be subject to the old ones (scoped at delete
            # time): the replaced snapshot starts clean
            "deletes": [],
            "schema": merged_schema.jsonValue(),
            "constraints": cons,
            "txns": _carry_txns(m),
        }

    return _publish(table_dir, build)


def compact_table(
    spark: SparkSession,
    table_dir: str,
    target_bytes: int | None = None,
    zorder_cols: list[str] | None = None,
) -> int:
    """Transactional OPTIMIZE: commit a compacted (optionally
    Z-ordered) rewrite of the latest version as a NEW version.

    This is the manifest-log composition of the two maintenance
    operators: ``operators/compact.py`` sizes the output file count
    from real on-disk bytes, ``operators/zorder.py`` clusters along
    the Morton curve.  Because the rewrite lands as a version:

    * readers of any existing version are untouched (time travel keeps
      working mid-OPTIMIZE — no swap window at all);
    * the new manifest harvests fresh per-file stats over the
      CLUSTERED layout, so ``read_version(where=...)`` file skipping
      gets strictly tighter after the rewrite (test-proven);
    * the old layout's dirs are reclaimed later by ``vacuum`` under
      the normal retention rules.

    Row content is preserved exactly — physical layout only.  The
    publish is pinned to the snapshot it rewrote (``expected_base``):
    a commit landing between the read and the publish makes OPTIMIZE
    conflict-abort instead of silently dropping the interleaved rows
    from the compacted manifest — the same lost-update guard as
    ``update_where``.

    Partition preservation: when EVERY dir of the snapshot is hive-
    partitioned by the same columns, the compacted rewrite keeps that
    layout (repartitioned on the partition columns so each task
    writes whole partitions, then ``partitionBy`` on the commit) —
    compaction must not silently destroy the partition pruning a
    table was designed around.  Explicit ``zorder_cols`` override
    this: the caller is choosing stats-clustering as the layout, and
    the rewrite is unpartitioned Morton order."""
    from finance_etl_pipeline_spark.operators.compact import (
        DEFAULT_TARGET_BYTES,
    )
    from finance_etl_pipeline_spark.operators.zorder import zorder_by

    tgt = DEFAULT_TARGET_BYTES if target_bytes is None else target_bytes
    v = latest_version(table_dir)
    on_disk = sum(os.path.getsize(f) for f in files_for_version(table_dir, v))
    n_files = max(1, -(-on_disk // tgt))
    m = _read_manifest(table_dir, v)
    shared = _shared_layout(m, m["dirs"])  # mixed: unpartitioned
    if shared is not None:
        # partitioned_dirs record PHYSICAL column names; the rewrite
        # operates on the logical frame (and, being an overwrite,
        # resets the mapping — OPTIMIZE doubles as a mapping purge)
        inv = {p: l for l, p in _load_mapping(m)[0].items()}
        shared = [inv.get(c, c) for c in shared]
    df = read_version(spark, table_dir, v)
    if zorder_cols:
        df = zorder_by(df, zorder_cols, num_partitions=n_files)
        return _commit_replace(df, table_dir, base=v)
    if shared:
        df = df.repartition(n_files, *[F.col(c) for c in shared])
        return _commit_replace(
            df, table_dir, base=v, partition_by=list(shared)
        )
    return _commit_replace(df.coalesce(n_files), table_dir, base=v)


def compact_where(
    spark: SparkSession,
    table_dir: str,
    where: list[tuple],
    target_bytes: int | None = None,
    zorder_cols: list[str] | None = None,
) -> int:
    """Scoped OPTIMIZE (Delta's ``OPTIMIZE ... WHERE``): compact ONLY
    the files matching ``where`` — at 100 TB you compact the hot
    partition that fragmented today, not the table.

    File-granular replacement: the predicate must align with file
    boundaries (every file that MAY contain a matching row must
    provably contain ONLY matching rows — true by construction for
    partition-column predicates on hive-partitioned commits, and for
    any predicate over range-clustered files with disjoint stats);
    a predicate cutting through a file raises loudly, because
    rewriting its matching rows while the file stays referenced would
    duplicate them.  Matched files' live rows (merge-on-read
    tombstones applied) are rewritten into one fresh dir; every other
    file is untouched and carried by shard reference.  Cost ∝ matched
    bytes, never the table.  The publish rebases over interleaved
    pure appends (compaction commutes with appends) and
    conflict-aborts on anything else, like ``compact_table``.
    Unlike a full OPTIMIZE, the column mapping is KEPT (untouched
    files still use their physical names; the rewrite writes the same
    physical layout)."""
    from finance_etl_pipeline_spark.operators.compact import (
        DEFAULT_TARGET_BYTES,
    )
    from finance_etl_pipeline_spark.operators.zorder import zorder_by

    preds = [_normalize_pred(p) for p in where]
    if not preds:
        raise ValueError("compact_where requires at least one predicate")
    tgt = DEFAULT_TARGET_BYTES if target_bytes is None else target_bytes
    base = latest_version(table_dir)
    if base == 0:
        raise ValueError("cannot compact an empty table")
    m0 = _read_manifest(table_dir, base)
    base_mapping, _ = _load_mapping(m0)
    phys = _phys_preds(base_mapping, preds)
    dir_schemas0 = _load_dir_schemas(m0)
    # string-DECLARED columns (physical names): predicates on them are
    # decided against the RAW hive path value when the file records
    # one ('1' and '01' are distinct partitions) — the stats value is
    # the inferred numeric and would collapse numerically-equal
    # string partitions (read-path identity of _entry_partition_combo)
    str_phys: set[str] = set()
    if "schema" in m0:
        for f in StructType.fromJson(m0["schema"]).fields:
            if f.dataType.typeName() == "string":
                str_phys.add(base_mapping.get(f.name, f.name))

    def _raw_part_decide(e: dict, col: str, op: str, value) -> bool | None:
        """Exact tri-state decision for one predicate against the
        file's raw partition-path value; None = not decidable here
        (fall through to the stats proofs)."""
        parts = e.get("parts") or {}
        if col not in parts:
            return None
        raw = parts[col]
        if op == "is_null":
            return raw is None
        if op == "is_not_null":
            return raw is not None
        if raw is None:
            return False  # NULL partition never satisfies comparisons
        if op == "in":
            vs = list(value)
            if not all(isinstance(x, str) for x in vs):
                return None
            return raw in vs
        if not isinstance(value, str):
            return None
        return {
            "==": raw == value,
            "!=": raw != value,
            "<": raw < value,
            "<=": raw <= value,
            ">": raw > value,
            ">=": raw >= value,
        }.get(op)

    replaced: dict[str, set] = {}
    n_bytes = 0
    for d in m0["dirs"]:
        entries = _dir_entries(table_dir, m0, d)
        if entries is None:
            raise ValueError(
                f"dir {d} has no per-file manifest entries (legacy "
                "manifest); rewrite the table first"
            )
        sj = dir_schemas0.get(d)
        present = (
            set(StructType.fromJson(sj).fieldNames()) if sj else None
        )
        sel = set()
        for e in entries:
            residual = []
            skip = False
            for p in phys:
                dec = (
                    _raw_part_decide(e, *p) if p[0] in str_phys else None
                )
                if dec is False:
                    skip = True
                    break
                if dec is None:
                    residual.append(p)
            if skip:
                continue
            if residual:
                if not _file_may_match(e, residual, present):
                    continue
                if not _file_all_match(e, residual, present):
                    raise ValueError(
                        f"file {d}/{e['path']} may contain both "
                        "matching and non-matching rows — the "
                        "predicate does not align with file "
                        "boundaries; use a partition predicate or "
                        "compact_table (whole table)"
                    )
            sel.add(e["path"])
            nb = e.get("bytes")
            if nb is None:
                nb = os.path.getsize(os.path.join(table_dir, d, e["path"]))
            n_bytes += nb
        if sel:
            replaced[d] = sel
    if not replaced:
        return base  # nothing matches: no version spam
    n_files = max(1, -(-n_bytes // tgt))

    # the matched files' live rows — tombstones applied, logical names
    df = read_version(spark, table_dir, base, where=where)
    shared = _shared_layout(m0, replaced)  # physical names
    if zorder_cols:
        df = zorder_by(df, zorder_cols, num_partitions=n_files)
        out_partition_by = None
    elif shared:
        inv = {p: l for l, p in base_mapping.items()}
        logical_shared = [inv.get(c, c) for c in shared]
        df = df.repartition(n_files, *[F.col(c) for c in logical_shared])
        out_partition_by = shared  # physical, for the manifest record
    else:
        df = df.coalesce(n_files)
        out_partition_by = None

    token = uuid.uuid4().hex[:12]
    rel = os.path.join(_DATA, f"commit-{token}")
    abs_dir = os.path.join(table_dir, rel)
    phys_df = _to_physical_df(df, base_mapping)
    writer = phys_df.write
    if out_partition_by:
        writer = writer.partitionBy(*out_partition_by)
    writer.parquet(abs_dir)
    file_entries = _harvest_stats(abs_dir, spark)
    phys_schema_json = phys_df.schema.jsonValue()

    def build(prev: int) -> dict:
        m = _read_manifest(table_dir, prev)
        if prev != base:
            # rebase over provably-disjoint interleaves: pure appends
            # outside the compaction's read set (compaction commutes
            # with appends), a second scoped OPTIMIZE of DISJOINT
            # files, a MERGE/delete that provably missed ours —
            # anything unprovable aborts (an overlapping delete would
            # have its rows resurrected by this rewrite, whose dir
            # sits outside the tombstone's pinned scope)
            ok, why = _interleaved_commits_disjoint(
                table_dir, base, prev, preds
            )
            if not ok:
                raise ConcurrentTableModificationError(
                    f"table advanced to v{prev} while compact_where "
                    f"was rewriting v{base}, and the interleaved "
                    f"commits are not provably disjoint ({why}); "
                    "re-run the scoped compaction"
                )
            if _load_mapping(m)[0] != base_mapping:
                raise ConcurrentTableModificationError(
                    "column mapping changed mid-compaction; re-run"
                )
        dirs = list(m["dirs"])
        files = _carry_files(table_dir, m)
        for d, sel in replaced.items():
            files[d] = [
                e
                for e in _dir_entries(table_dir, m, d)
                if e["path"] not in sel
            ]
        dir_schemas = _load_dir_schemas(m)
        dirs.append(rel)
        files[rel] = file_entries
        dir_schemas[rel] = phys_schema_json
        part_dirs = dict(m.get("partitioned_dirs", {}))
        if out_partition_by:
            part_dirs[rel] = list(out_partition_by)
        cons = _carry_constraints(m)
        merged_schema = (
            _merge_schema(m["schema"], df.schema)
            if "schema" in m
            else df.schema
        )
        _validate_new_dir(
            cons,
            abs_dir,
            bool(file_entries),
            merged_schema,
            mapping=base_mapping,
        )
        return {
            "dirs": dirs,
            "mode": "compact",
            "files": files,
            "dir_schemas": dir_schemas,
            "partitioned_dirs": part_dirs,
            # the rewrite materialized the tombstones for ITS files;
            # the carried list still governs the untouched remainder
            # of its scoped dirs, and never the new dir (delete scopes
            # are pinned at delete time)
            "deletes": list(m.get("deletes", [])),
            "schema": merged_schema.jsonValue(),
            "constraints": cons,
            "txns": _carry_txns(m),
            **_carry_mapping(m),
        }

    return _publish(table_dir, build)


def _owner_root(abs_dir: str) -> str | None:
    """The table root owning an absolute data dir
    (``.../<root>/data/...``), or None when the path has no data
    segment."""
    marker = f"{os.sep}{_DATA}{os.sep}"
    i = abs_dir.rfind(marker)
    return abs_dir[:i] if i > 0 else None


def _register_clone(owner_root: str, clone_dir: str) -> None:
    """Record ``clone_dir`` in ``owner_root``'s clone registry
    (``_manifests/clones/<hash>.json``) — one file per clone, atomic
    create, idempotent content — so the owner's ``vacuum`` can keep
    the dirs live clones still reference.  Registered BEFORE the
    clone's manifest publishes; a failed clone leaves a stale entry
    the next vacuum prunes (same retention guard as in-flight
    commits)."""
    import hashlib

    d = os.path.join(owner_root, _MANIFESTS, "clones")
    os.makedirs(d, exist_ok=True)
    key = hashlib.sha1(
        os.path.realpath(clone_dir).encode("utf-8")
    ).hexdigest()[:16]
    path = os.path.join(d, f"{key}.json")
    tmp = f"{path}.tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        json.dump({"clone": os.path.realpath(clone_dir)}, fh)
    os.replace(tmp, path)


def clone_table(
    src_dir: str, dst_dir: str, version: int | None = None
) -> int:
    """SHALLOW CLONE (the Delta primitive): publish ``dst_dir`` v1
    referencing the SOURCE snapshot's data files in place — zero data
    copied, O(#files) of metadata (fresh shards at the clone).  The
    clone's dirs are recorded as ABSOLUTE paths into the source, which
    every reader/writer path already composes with correctly
    (``os.path.join(table_dir, d)`` returns an absolute ``d``
    unchanged):

    * reads (incl. skipping, tombstones, partitions) hit the source
      files directly;
    * writes to the clone publish NEW local dirs — the source table
      never observes them;
    * merge/update on the clone copy-on-write locally: rewritten
      source files are merely DE-referenced from the clone's manifest;
    * ``vacuum`` on the clone only ever sweeps its own ``data/``
      root, so source bytes are structurally out of reach.

    The dev/test-branch shape: experiment against production data
    with full DML, throw the clone away, nothing shared was touched.
    Unlike Delta, vacuum on the SOURCE is clone-AWARE: the clone
    registers itself at every owner root before publishing
    (``_register_clone``), and the owner's ``vacuum`` keeps any dir a
    live clone's retained manifests still reference (abandoned
    clones' registry entries are pruned).  Writer
    ``txns`` are NOT carried (they track per-table writer progress;
    a clone is a new table), and constraints ARE (table properties
    travel with the data contract)."""
    src_dir = os.path.realpath(src_dir)
    v = latest_version(src_dir) if version is None else version
    m = _read_manifest(src_dir, v)
    if latest_version(dst_dir) != 0:
        raise ValueError(f"clone target {dst_dir} is not empty")
    files = _load_files(src_dir, m)
    schemas = _load_dir_schemas(m)
    part_dirs = m.get("partitioned_dirs", {})
    absd = {d: os.path.join(src_dir, d) for d in m["dirs"]}
    # register at EVERY owner root the clone will reference (a clone
    # of a clone references the ORIGINAL table's dirs directly), so
    # each owner's vacuum protects them; registered before publish so
    # there is no window where an unprotected clone exists
    dst_real = os.path.realpath(dst_dir)
    owner_roots = {
        _owner_root(os.path.realpath(a)) for a in absd.values()
    }
    for root in sorted(r for r in owner_roots if r and r != dst_real):
        _register_clone(root, dst_dir)

    def build(prev: int) -> dict:
        if prev != 0:
            raise ConcurrentTableModificationError(
                f"clone target {dst_dir} gained a version mid-clone"
            )
        payload = {
            "dirs": [absd[d] for d in m["dirs"]],
            "mode": "clone",
            # a legacy dir WITHOUT per-file entries stays absent (the
            # whole-dir read path), never an empty list (zero files)
            "files": {
                absd[d]: list(files[d]) for d in m["dirs"] if d in files
            },
            "dir_schemas": {
                absd[d]: schemas[d] for d in m["dirs"] if d in schemas
            },
            "partitioned_dirs": {
                absd[d]: list(cols) for d, cols in part_dirs.items()
            },
            # tombstone scopes re-key to the absolute names
            "deletes": [
                {
                    "preds": dl["preds"],
                    "dirs": [absd.get(d, d) for d in dl["dirs"]],
                }
                for dl in m.get("deletes", [])
            ],
            "constraints": _carry_constraints(m),
            "txns": {},
            **_carry_mapping(m),
        }
        if "schema" in m:
            payload["schema"] = m["schema"]
        # a clone of a CONVERT-adopted table references the same
        # foreign files — the stats-honesty marker travels with them
        # (re-keyed to the absolute names like every other dir map)
        fsd = [
            absd.get(d, d)
            for d in m.get("foreign_stats_dirs", [])
            if d in m["dirs"]
        ]
        if fsd:
            payload["foreign_stats_dirs"] = fsd
        return payload

    return _publish(dst_dir, build)


def restore_table(
    table_dir: str, version: int | None = None, as_of=None
) -> int:
    """ROLLBACK as a NEW version (Delta's RESTORE TABLE): publish a
    tip whose data state — file set, tombstones, schema, partition
    layouts, column mapping, constraints — is byte-identical to the
    target ``version`` (or the version resolved by ``as_of``
    timestamp), while HISTORY is preserved: the bad versions stay
    time-travelable until vacuum, the changefeed across the restore
    shows exactly the undo delta, and a reader mid-flight never sees a
    torn state (it is one atomic publish like any commit).

    Files are resurrected BY REFERENCE: the target's shard refs carry
    by name (O(#dirs) metadata, zero data copied or rewritten) — the
    target version is retained by definition (its manifest must exist,
    else ``VersionNotFoundError``), so vacuum has kept every file and
    shard it names, and once the restore publishes, the new tip itself
    keeps them live even after the interim versions expire.

    A CONCURRENT vacuum (which publishes no version, so the OCC pin
    cannot see it) is handled in two layers: before publishing, every
    target data dir, file, and shard is mtime-TOUCHED, so a vacuum
    with a sane retention window skips them as in-flight (the same
    contract that protects a mid-commit writer — retention 0 remains
    'only when no writer can be concurrent', and restore IS a writer);
    after publishing, the restored file set is re-verified on disk,
    and on any loss the restore SELF-HEALS by publishing a rollback to
    the pre-restore tip (whose files the vacuum provably kept) and
    raising — a loud retryable error, never a tip pointing at
    vanished files.

    What does NOT roll back: the writer ``txns`` map carries from the
    TIP, not the target — it tracks WRITER progress, and restoring it
    would make every streaming sink replay (double-commit) its batches
    since the target.  Restoring to the current tip is a no-op (no
    version published, the tip is returned).

    Concurrency: the publish is pinned to the tip observed at entry —
    any interleaved commit raises ``ConcurrentTableModificationError``
    (a restore is a history decision made against a snapshot; silently
    rebasing it over someone's new data would undo their write).

    Reference parity: the reference pipeline re-reads curated outputs
    per month (scripts/export_bi_datasets.py:58-122) but has no
    rollback; this follows the public Delta RESTORE semantics on the
    manifest log."""
    if as_of is not None:
        if version is not None:
            raise ValueError("pass version OR as_of, not both")
        version = version_as_of(table_dir, as_of)
    tip = latest_version(table_dir)
    if version is None or version < 1:
        raise ValueError(f"restore needs a target version >= 1, got {version}")
    if version == tip:
        return tip  # already there: no version spam
    m_t = _read_manifest(table_dir, version)  # VersionNotFoundError if gone
    files_payload = _carry_files(table_dir, m_t)
    # touch everything the restore will reference: a concurrent
    # vacuum's retention window then treats them as in-flight
    target_files = _load_files(table_dir, m_t)
    now = time.time()
    for d in m_t["dirs"]:
        absd = os.path.join(table_dir, d)
        for p in [absd] + [
            os.path.join(absd, e["path"]) for e in target_files.get(d) or []
        ]:
            try:
                os.utime(p, (now, now))
            except OSError:
                pass  # verified after publish either way
    for r in (m_t.get("files_ref") or {}).values():
        try:
            os.utime(
                os.path.join(table_dir, _MANIFESTS, r["shard"]), (now, now)
            )
        except OSError:
            pass

    def _restore_payload(m_src: dict, of_version: int, m_now: dict) -> dict:
        payload = {
            "dirs": list(m_src["dirs"]),
            "mode": "restore",
            "restore_of": of_version,
            "files": _carry_files(table_dir, m_src),
            "dir_schemas": _load_dir_schemas(m_src),
            "partitioned_dirs": dict(m_src.get("partitioned_dirs", {})),
            "deletes": list(m_src.get("deletes", [])),
            "constraints": _carry_constraints(m_src),
            "txns": _carry_txns(m_now),
            **_carry_mapping(m_src),
        }
        if "schema" in m_src:
            payload["schema"] = m_src["schema"]
        # restoring a CONVERT-adopted state must restore its
        # foreign-stats honesty marker too, or the restored tip would
        # serve exact min/max from foreign footer bounds (when absent
        # here, _publish's carry intersects the TIP's marker with the
        # restored dir set — correct for every other shape)
        fsd = m_src.get("foreign_stats_dirs")
        if fsd:
            payload["foreign_stats_dirs"] = list(fsd)
        return payload

    def build(prev: int) -> dict:
        if prev != tip:
            raise ConcurrentTableModificationError(
                f"table advanced to v{prev} while RESTORE TO v{version} "
                f"was computing against v{tip}; re-examine the history "
                "and re-run"
            )
        return _restore_payload(m_t, version, _read_manifest(table_dir, prev))

    new_v = _publish(table_dir, build)
    # post-publish verification against a concurrent vacuum that
    # computed its live set before this publish: every referenced
    # file must still exist (legacy dirs without entries verify at
    # dir granularity).  On loss, SELF-HEAL: roll the tip back to the
    # pre-restore snapshot — ITS files were the vacuum's keep set —
    # and raise loudly so the caller re-runs against intact history.
    missing = [
        p
        for d in m_t["dirs"]
        for p in (
            [
                os.path.join(table_dir, d, e["path"])
                for e in target_files[d]
            ]
            if target_files.get(d) is not None
            else [os.path.join(table_dir, d)]
        )
        if not os.path.exists(p)
    ]
    if missing:
        m_tip = _read_manifest(table_dir, tip)

        def heal(prev: int) -> dict:
            if prev != new_v:
                raise ConcurrentTableModificationError(
                    f"restore to v{version} lost files to a concurrent "
                    f"vacuum AND v{new_v} gained a successor while "
                    "healing; repair the tip manually from history"
                )
            return _restore_payload(m_tip, tip, _read_manifest(table_dir, prev))

        _publish(table_dir, heal)
        raise ConcurrentTableModificationError(
            f"RESTORE TO v{version} raced a concurrent vacuum: "
            f"{len(missing)} referenced file(s) were swept (first: "
            f"{missing[0]}); the tip was rolled back to the v{tip} "
            "state — re-run the restore only if the target is still "
            "retained"
        )
    return new_v


# ------------------------------------------------- CONVERT TO MANIFEST


def convert_parquet(
    spark: SparkSession, src_dir: str, table_dir: str
) -> int:
    """CONVERT TO MANIFEST (Delta's CONVERT TO DELTA): adopt an
    EXISTING parquet directory — flat or hive-partitioned, any file
    names, any writer — as version 1 of a new manifest table IN
    PLACE.  Zero bytes are copied or rewritten (the onboarding path
    for a 100 TB corpus, where COPY INTO's rewrite would be a second
    full write); the manifest references the source files absolutely,
    exactly like a shallow clone, so every reader/DML path composes:
    reads scan the adopted files directly, DML copy-on-writes into
    the table's own ``data/`` root and merely de-references adopted
    files (vacuum's data sweep is scoped to the table root, so the
    user's source bytes are structurally out of its reach).

    Foreign-writer stats honesty: footer stats are harvested for the
    adopted files and trusted for FILE SKIPPING (the parquet spec
    requires min/max to BOUND the values, so pruning stays sound even
    under writer-side truncation) but the dir is recorded in
    ``foreign_stats_dirs``, which makes ``metadata_aggregate`` DECLINE
    exact min/max answers — a truncated bound is a valid bound but
    not necessarily a value present in the data.  count(*)/count(col)
    stay metadata-served (row and null counts are exact in any
    spec-compliant footer), and partition identities are path-derived,
    so WHERE/GROUP BY partition shapes still serve.  The marker
    carries through every publish intersected with the live dir set:
    the first OPTIMIZE rewrites the data first-party and thereby
    re-enables exact metadata min/max.

    Partition columns are discovered from the ``k=v`` path layout
    (every file must agree on the same column sequence); their types
    follow Spark's own partition inference over the directory read."""
    import glob as _glob

    src = os.path.realpath(src_dir)
    if not os.path.isdir(src):
        raise ValueError(f"CONVERT source is not a directory: {src_dir!r}")
    tbl = os.path.realpath(table_dir)
    if os.path.commonpath([src, tbl]) in (src, tbl):
        raise ValueError(
            "CONVERT source and table directories must not nest"
        )
    if latest_version(table_dir) != 0:
        raise ValueError(
            f"CONVERT target {table_dir!r} already has versions; "
            "convert only creates NEW tables"
        )
    rels = sorted(
        os.path.relpath(f, src)
        for f in _glob.glob(
            os.path.join(src, "**", "*.parquet"), recursive=True
        )
        if os.path.isfile(f)
        # Spark's listing ignores '_'/'.'-prefixed paths (_SUCCESS,
        # _temporary task-attempt leftovers, .crc) — adopting them
        # would double-count aborted writes the user's own reads skip
        and not any(
            c.startswith(("_", "."))
            for c in os.path.relpath(f, src).split(os.sep)
        )
    )
    if not rels:
        raise ValueError(f"no parquet files under {src_dir!r}")

    # CHEAP validations first (pure string work) — before any footer
    # sweep: one partition layout for the whole dir, from the paths
    def _layout(rel: str) -> list[str]:
        return [
            comp.partition("=")[0]
            for comp in rel.split(os.sep)[:-1]
            if "=" in comp
        ]

    part_cols = _layout(rels[0])
    for r in rels[1:]:
        if _layout(r) != part_cols:
            raise ValueError(
                f"inconsistent partition layouts under {src_dir!r}: "
                f"{part_cols} vs {_layout(r)} ({r}); a convert "
                "adopts ONE hive layout"
            )
    # sweep 1: footer-stats harvest (executor-distributed when large);
    # the duplicated-partition-column check rides it per file
    forbid = tuple(part_cols)
    try:
        if len(rels) >= _DISTRIBUTED_HARVEST_MIN_FILES:
            sc = spark.sparkContext
            entries = sorted(
                sc.parallelize(rels, min(len(rels), 256))
                .map(lambda r: _harvest_one(src, r, forbid))
                .collect(),
                key=lambda e: e["path"],
            )
        else:
            entries = [_harvest_one(src, r, forbid) for r in rels]
    except Exception as e:  # noqa: BLE001 — unwrap executor errors
        if "also present inside the data file" in str(e):
            raise ValueError(str(e)) from e
        raise
    # sweep 2: ONE Spark schema inference.  Partitioned sources read
    # the directory (partition columns typed by Spark's own
    # inference — the types its reader will produce); flat sources
    # read the explicit file list, so stray non-parquet junk cannot
    # fail a conversion it does not participate in
    if part_cols:
        schema = (
            spark.read.option("mergeSchema", "true")
            .option("basePath", src)
            .parquet(src)
            .schema
        )
    else:
        schema = (
            spark.read.option("mergeSchema", "true")
            .parquet(*[os.path.join(src, r) for r in rels])
            .schema
        )
    # the adopted dir may live inside ANOTHER manifest table's data
    # root (converting one table's dir into a new table) — register
    # like a clone so the owner's vacuum keeps the referenced files
    owner = _owner_root(src)
    if (
        owner
        and os.path.realpath(owner) != tbl
        and os.path.isdir(os.path.join(owner, _MANIFESTS))
    ):
        _register_clone(owner, table_dir)

    def build(prev: int) -> dict:
        if prev != 0:
            raise ConcurrentTableModificationError(
                f"convert target {table_dir} gained a version "
                "mid-convert"
            )
        payload = {
            "dirs": [src],
            "mode": "convert",
            "files": {src: entries},
            # commit's convention: the dir schema INCLUDES partition
            # columns (the basePath scan reconstructs them) — a
            # file-only schema would read them as evolution-missing
            # all-NULL and wrongly prune every partition predicate
            "dir_schemas": {src: schema.jsonValue()},
            "partitioned_dirs": (
                {src: list(part_cols)} if part_cols else {}
            ),
            "deletes": [],
            "schema": schema.jsonValue(),
            "constraints": {},
            "txns": {},
            "foreign_stats_dirs": [src],
        }
        return payload

    return _publish(table_dir, build)


# ------------------------------------------------------------ COPY INTO
#
# Idempotent file ingestion (Delta's COPY INTO): each successful copy
# records its source files (by absolute path — Delta's identity too) in
# a load-history shard ``_manifests/cs-<uuid>.json``; the manifest
# carries only ``copy_sources_ref: {shard, n}``, O(1) per publish, and
# ``_publish`` carries the ref through EVERY commit mode centrally, so
# re-running the same COPY — after a crash, from a rescheduled job,
# against a compacted/overwritten/restored table — ingests nothing
# twice.  The data itself is RE-WRITTEN through ``commit`` (never
# adopted in place): the table's files stay this engine's own parquet,
# so footer-stat exactness (skipping, metadata aggregates) never
# depends on a foreign writer's statistics behavior.

_COPY_PREFIX = "cs-"
_COPY_RETRIES = 5


def _read_copy_sources(table_dir: str, m: dict | None) -> dict:
    """The cumulative {source path: {bytes}} load history of a
    manifest, {} when none."""
    ref = (m or {}).get("copy_sources_ref")
    if not ref:
        return {}
    path = os.path.join(table_dir, _MANIFESTS, ref["shard"])
    try:
        with open(path) as fh:
            return json.load(fh)["sources"]
    except FileNotFoundError:
        # a manifest that references a missing history shard means
        # something external swept it; degrading to {} would silently
        # DOUBLE-LOAD every previously ingested file — block loudly
        raise RuntimeError(
            f"load-history shard {ref['shard']} referenced by the "
            f"manifest is missing from {table_dir!r}; refusing to "
            "ingest (an empty history would re-load every source "
            "file). Restore the shard or OVERWRITE the table to "
            "reset its load history."
        ) from None


def copy_sources(table_dir: str, version: int | None = None) -> dict:
    """Public inspector: the source files a version's load history
    records as already ingested."""
    v = latest_version(table_dir) if version is None else version
    if v == 0:
        return {}
    return _read_copy_sources(table_dir, _read_manifest(table_dir, v))


def copy_into(
    spark: SparkSession,
    table_dir: str,
    source: str,
    pattern: str = "*.parquet",
) -> dict:
    """Ingest the parquet files under ``source`` (a directory,
    searched recursively with ``pattern``, or a glob) into the table,
    SKIPPING every file the load history already records — re-running
    the exact same statement is a no-op that publishes no version.
    Identity is the source file's absolute path (Delta's COPY INTO
    rule: an overwritten source file is NOT re-ingested; ingest
    changed data under a new name).

    Concurrency: the read-history → write-data → publish cycle pins
    ``expected_base`` to the tip it planned against, so a racing
    writer conflict-aborts the publish; the loop then re-reads the
    (possibly grown) load history and re-plans — two concurrent
    copies of one source ingest each file exactly once.  Returns
    {version, ingested, skipped}."""
    import glob as _glob

    import fnmatch

    src = os.path.realpath(source)
    tbl_real = os.path.realpath(table_dir)
    if os.path.isdir(src):
        cands = sorted(
            _glob.glob(os.path.join(src, "**", pattern), recursive=True)
        )
    else:
        # glob source: PATTERN still filters by basename, so
        # `FROM '<root>/drop*' PATTERN '*.parquet'` never feeds a
        # matching non-parquet sibling to the reader
        cands = sorted(
            f
            for f in _glob.glob(src)
            if fnmatch.fnmatch(os.path.basename(f), pattern)
        )
    cands = [os.path.realpath(f) for f in cands if os.path.isfile(f)]
    if not cands:
        raise ValueError(
            f"COPY INTO source matched no files: {source!r} "
            f"(pattern {pattern!r})"
        )
    for f in cands:
        if os.path.commonpath([f, tbl_real]) == tbl_real:
            raise ValueError(
                f"COPY INTO source file {f} lies inside the target "
                "table directory — self-ingestion refused"
            )
    for _attempt in range(_COPY_RETRIES):
        tip = latest_version(table_dir)
        m_tip = _read_manifest(table_dir, tip) if tip else None
        loaded = _read_copy_sources(table_dir, m_tip)
        new = [f for f in cands if f not in loaded]
        if not new:
            return {
                "version": tip,
                "ingested": 0,
                "skipped": len(cands),
            }
        merged = dict(loaded)
        for f in new:
            merged[f] = {"bytes": os.path.getsize(f)}
        # mergeSchema: heterogeneous source batches union by name
        # instead of silently adopting one sampled file's schema;
        # incompatible TYPES still fail loudly (at read or at
        # _merge_schema).  Read failures (corrupt/non-parquet source)
        # surface as a clean ValueError, not a raw JVM traceback.
        try:
            df = spark.read.option("mergeSchema", "true").parquet(*new)
        except Exception as e:  # noqa: BLE001 — rewrap for the caller
            raise ValueError(
                f"COPY INTO could not read {len(new)} source file(s) "
                f"under {source!r}: {e}"
            ) from e
        # the load-history shard is written by a commit callback that
        # runs AFTER the (possibly hours-long) data write, immediately
        # before the publish — so a concurrent vacuum's
        # unreferenced-shard sweep sees it only inside the same
        # sub-second window retention already protects
        shard_written: list[str] = []

        def _write_history() -> dict:
            os.makedirs(
                os.path.join(table_dir, _MANIFESTS), exist_ok=True
            )
            name = f"{_COPY_PREFIX}{uuid.uuid4().hex}.json"
            spath = os.path.join(table_dir, _MANIFESTS, name)
            tmp = os.path.join(table_dir, _MANIFESTS, f".tmp-{name}")
            with open(tmp, "w") as fh:
                json.dump({"sources": merged}, fh)
            os.replace(tmp, spath)
            shard_written.append(spath)
            return {
                "copy_sources_ref": {"shard": name, "n": len(merged)}
            }

        try:
            v = commit(
                df,
                table_dir,
                mode="append",
                expected_base=tip,
                extra_payload=_write_history,
            )
        except ConcurrentTableModificationError:
            for s in shard_written:  # this attempt's history is dead
                try:
                    os.unlink(s)
                except OSError:
                    pass
            continue
        except BaseException:
            for s in shard_written:
                try:
                    os.unlink(s)
                except OSError:
                    pass
            raise
        return {
            "version": v,
            "ingested": len(new),
            "skipped": len(cands) - len(new),
        }
    raise ConcurrentTableModificationError(
        f"COPY INTO lost the publish race {_COPY_RETRIES} times "
        "(table is under heavy concurrent writes) — re-run"
    )


def changefeed_rows(
    spark: SparkSession,
    table_dir: str,
    keys: list[str],
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """The APPLYABLE form of ``changes()`` — a CDC feed a downstream
    consumer can merge without touching this table again:

        (change_type, version, keys..., value columns...)

    'added'/'changed' rows carry the TO-version payload; 'removed'
    rows carry keys with NULL values (a delete marker); 'unchanged'
    rows are dropped (a changefeed ships deltas, not snapshots — a
    consumer bootstraps with the ``from_version=0`` feed, which emits
    the full snapshot as 'added' rows, then applies increments).
    ``version`` stamps the feed's target version so multiple steps can
    be applied out of order or within one micro-batch — the consumer
    resolves each key to its highest-version row (see
    ``streaming/sink.py::apply_changefeed_each_batch``).

    Cost: ``changes()``'s key-hash diff + one left join of the delta
    keys against the new snapshot — at scale the join's left side is
    ∝ |changed keys|, not the table."""
    to_v = latest_version(table_dir) if to_version is None else to_version
    delta = changes(spark, table_dir, keys, from_version, to_v).filter(
        F.col("change_type") != "unchanged"
    )
    new = read_version(spark, table_dir, to_v)
    return delta.join(new, keys, "left").select(
        "change_type",
        F.lit(to_v).cast("int").alias("version"),
        *new.columns,
    )
