"""The benchmark's workloads.

Each workload makes its inputs from the seed in ``prepare`` (input
generation plus one-time table builds, repeatable into a fresh
directory), runs one op of a given type in ``op`` (the only timed
call), and checks that op's output in ``check`` outside the timed
region.  ``verify`` is an extra once-per-run check pass, also untimed.
``layers`` installs the traced run's wrappers around the public names
the package's own modules call.
"""

from __future__ import annotations

import datetime
import os
import re
import sys

import duckdb
import numpy as np
import pyarrow.parquet as pq

import gen
from tracing import Tracer


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(base, f))
    return total


class Workload:
    name = ""
    op_types: tuple[str, ...] = ()
    warmup_laps = 0  # untimed laps after the cold lap and ``verify``
    cold_runs = 1  # fresh processes that each give one first-op sample

    def __init__(self, spark, seed: int) -> None:
        self.spark = spark
        self.seed = seed
        self.bytes_given = 0  # user data handed to writing ops

    def prepare(self, d: str) -> None:
        raise NotImplementedError

    def before_op(self, kind: str) -> None:
        """Untimed preparation of the next op's inputs."""

    def op(self, kind: str, tracer: Tracer):
        """Run one op; returns ``(logical_rows, result)``."""
        raise NotImplementedError

    def op_info(self, kind: str, result) -> dict:
        """Small untimed facts recorded with every op."""
        return {}

    def check(self, kind: str, result) -> str | None:
        return None

    def verify(self) -> tuple[int, list[str]]:
        """Returns the number of checks made and the failures."""
        return 0, []

    def layers(self, tracer: Tracer) -> None:
        pass

    def op_attrs(self, kind: str, result) -> dict:
        """Per-op counters for the traced run, read after timing."""
        return {}

    def write_amp(self) -> float | None:
        """Bytes the ops left behind per byte of user data given."""
        return None


# ---------------------------------------------------------------------------
# month_close
# ---------------------------------------------------------------------------

_FACT_SQL = """
WITH fx AS (
  SELECT CAST(date AS DATE) AS d, from_currency AS c, rate
  FROM read_csv('{raw}/fx_rates.csv', header=true, all_varchar=true)
  WHERE to_currency = 'USD'
), pre AS (
  SELECT CAST(date AS DATE) AS d, currency AS c, TRY_CAST(amount AS DOUBLE) AS amount
  FROM read_csv('{raw}/sales.csv', header=true, all_varchar=true)
  WHERE CAST(date AS DATE) >= DATE '{start}' AND CAST(date AS DATE) < DATE '{end}'
  UNION ALL
  SELECT CAST(date AS DATE), currency, -TRY_CAST(amount AS DOUBLE)
  FROM read_csv('{raw}/expenses.csv', header=true, all_varchar=true)
  WHERE CAST(date AS DATE) >= DATE '{start}' AND CAST(date AS DATE) < DATE '{end}'
  UNION ALL
  SELECT DATE '{last}', currency, -TRY_CAST(net AS DOUBLE)
  FROM read_csv('{raw}/payroll.csv', header=true, all_varchar=true)
  WHERE month = '{month}'
  UNION ALL
  SELECT CAST(date AS DATE), currency,
         CASE WHEN movement_type = 'issue' THEN -1 ELSE 1 END
         * round_even(TRY_CAST(qty AS DOUBLE) * TRY_CAST(unit_cost AS DOUBLE) * 100, 0) / 100
  FROM read_csv('{raw}/inventory_movements.csv', header=true, all_varchar=true)
  WHERE CAST(date AS DATE) >= DATE '{start}' AND CAST(date AS DATE) < DATE '{end}'
)
SELECT count(*) AS n,
       sum(round_even(amount * CASE WHEN pre.c = 'USD' THEN 1.0
                                    ELSE CAST(fx.rate AS DOUBLE) END * 100, 0) / 100) AS total
FROM pre LEFT JOIN fx ON pre.d = fx.d AND pre.c = fx.c
"""


class MonthClose(Workload):
    """One op closes one generated month: ``run_month`` (fail_on=NEVER,
    so the DQ exception path does real work) → ``export_bi_datasets``
    → the six ``export_star`` tables written → ``render_dashboard``."""

    name = "month_close"
    op_types = ("close",)
    entities, rows_per_entity, dirty_share = 20, 100, 0.02

    def prepare(self, d: str) -> None:
        self.dir = d
        self.months: list[tuple[str, str, str, int, int]] = []
        self._next = 0
        self._add_month()

    def _add_month(self) -> None:
        i = len(self.months)
        month = f"{2021 + i // 12}-{i % 12 + 1:02d}"
        m = os.path.join(self.dir, month)
        raw, ref = os.path.join(m, "raw"), os.path.join(m, "ref")
        counts = gen.finance_month(
            raw, ref, month, self.seed * 1009 + i,
            self.entities, self.rows_per_entity, self.dirty_share,
        )
        self.months.append((month, raw, ref, sum(counts.values()), dir_bytes(m)))

    def op(self, kind: str, tracer: Tracer):
        from finance_etl_pipeline_spark import dashboard, export_bi, pipeline, star
        from finance_etl_pipeline_spark.sources import writers

        month, raw, ref, rows, in_bytes = self.months[self._next]
        self._next += 1
        spark = self.spark
        out = os.path.join(self.dir, "out", month)
        cur = os.path.join(out, "curated")
        with tracer.span("pipeline.run_month"):
            res = pipeline.run_month(spark, month, raw, cur, ref, fail_on="NEVER")
        with tracer.span("export_bi.export"):
            export_bi.export_bi_datasets(spark, cur, os.path.join(out, "bi"), month)
        fact = spark.read.parquet(res.paths["fact_transactions"])
        kpi = spark.read.parquet(res.paths["kpi_monthly"])
        dim = spark.read.parquet(res.paths["dim_accounts"])
        with tracer.span("star.export"):
            for name, df in star.export_star(fact, kpi, dim).items():
                writers.write_parquet(df, os.path.join(out, "star", name))
        with tracer.span("dashboard.render"):
            csv = spark.read.option("header", "true").csv
            dashboard.render_dashboard(
                kpi, fact, dim, csv(res.paths["dq_summary"]), csv(res.paths["dq_exceptions"]),
                month, os.path.join(out, "dashboard.html"),
            )
        self.bytes_given += in_bytes
        return rows, (month, raw, out, res)

    def before_op(self, kind: str) -> None:
        if self._next >= len(self.months):
            self._add_month()

    def write_amp(self) -> float | None:
        return dir_bytes(os.path.join(self.dir, "out")) / self.bytes_given

    def check(self, kind: str, result) -> str | None:
        month, raw, out, res = result
        days = gen.month_days(month)
        start, last = days[0], days[-1]
        end = last + datetime.timedelta(days=1)
        con = duckdb.connect()
        try:
            n, total = con.execute(
                _FACT_SQL.format(raw=raw, month=month, start=start, end=end, last=last)
            ).fetchone()
            fact = os.path.join(res.paths["fact_transactions"], "*.parquet")
            fn, ftotal = con.execute(
                f"SELECT count(*), sum(amount_base) FROM read_parquet('{fact}')"
            ).fetchone()
        finally:
            con.close()
        got_n = res.metrics["fact_rows"]
        got_t = res.metrics["fact_amount_base_total"]
        if not (n == got_n == fn):
            return f"{month}: fact_rows oracle={n} run_month={got_n} parquet={fn}"
        if abs(total - got_t) > 0.005 or abs(ftotal - got_t) > 0.005:
            return f"{month}: amount_base oracle={total} run_month={got_t} parquet={ftotal}"
        stars = os.listdir(os.path.join(out, "star"))
        if len(stars) != 6 or os.path.getsize(os.path.join(out, "dashboard.html")) == 0:
            return f"{month}: star tables {sorted(stars)} or empty dashboard"
        return None

    def op_attrs(self, kind: str, result) -> dict:
        _, _, _, res = result
        exc = res.paths["dq_exceptions"]
        rows = 0
        for f in os.listdir(exc):
            if f.endswith(".csv"):
                with open(os.path.join(exc, f)) as fh:
                    rows += max(0, sum(1 for _ in fh) - 1)
        return {"quality.exception_rows": rows}

    def layers(self, tracer: Tracer) -> None:
        from finance_etl_pipeline_spark import export_bi, pipeline, transform
        from finance_etl_pipeline_spark.operators import quality
        from finance_etl_pipeline_spark.sources import writers

        def wrote(sp, args, out):
            sp.attrs["bytes"] = dir_bytes(args[1])

        tracer.wrap(pipeline, "read_csv", "sources.read_csv")
        tracer.wrap(pipeline, "write_parquet", "sources.write_parquet", wrote)
        tracer.wrap(writers, "write_parquet", "sources.write_parquet", wrote)
        tracer.wrap(pipeline, "write_csv", "sources.write_csv", wrote)
        tracer.wrap(export_bi, "write_csv", "sources.write_csv", wrote)
        tracer.wrap(quality, "gate", "quality.gate")
        for fn in ("build_dim_accounts", "fx_to_base", "to_fact_transactions", "kpi_monthly"):
            tracer.wrap(transform, fn, "transform.build")


# ---------------------------------------------------------------------------
# analyst_queries
# ---------------------------------------------------------------------------

_TPCH_TABLES = "region nation customer supplier part orders lineitem events".split()


def _rows_key(row: tuple) -> tuple:
    return tuple((v is None, str(v)) for v in row)


def _norm(rows, cols) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        t = []
        for i in order:
            v = r[i]
            if hasattr(v, "isoformat"):
                v = v.isoformat()
            elif isinstance(v, float) and v != v:
                v = "NaN"
            t.append(v)
        out.append(tuple(t))
    return sorted(out, key=_rows_key)


class AnalystQueries(Workload):
    """Round-robin over read-only registry queries: two of the TPC-H
    bench entries, ``asof_last_purchase`` and a bench ``e_*`` event shape.
    Each op is ``QueryDef.fn(spark, sf_dir)`` drained to the noop sink.

    ``e_cep_funnel_patterns`` is left out: on about a third of the
    seeds its DuckDB oracle (``list_reduce`` over grouped lists, DuckDB
    1.0.0) folds some users' sequences wrongly, while Spark agrees with
    a plain Python fold of the same sequences."""

    name = "analyst_queries"
    op_types = ("q1_pricing_summary", "q5_region_revenue", "asof_last_purchase", "e_concurrent_sessions")
    warmup_laps = 2
    # the first op is short (about 5 s, nearly all JIT warm-up), so one
    # sample of it spreads more between runs than the other workloads'
    cold_runs = 2
    sf, events = 0.005, 5000

    def prepare(self, d: str) -> None:
        from finance_etl_pipeline_spark.plans import all_queries

        self.sf_dir = os.path.join(d, "sf")
        gen.tpch_like(self.sf_dir, self.seed, self.sf, events=self.events)
        self.registry = all_queries()
        self.rows = {}
        for kind in self.op_types:
            sql = self.registry[kind].oracle
            used = [t for t in _TPCH_TABLES if re.search(rf"\b{t}\b", sql)]
            self.rows[kind] = sum(
                pq.ParquetFile(os.path.join(self.sf_dir, f"{t}.parquet")).metadata.num_rows
                for t in used
            )

    def op(self, kind: str, tracer: Tracer):
        with tracer.span("plans.build"):
            df = self.registry[kind].fn(self.spark, self.sf_dir)
        with tracer.span("plans.exec"):
            df.write.format("noop").mode("overwrite").save()
        return self.rows[kind], None

    def verify(self) -> tuple[int, list[str]]:
        """Every op type's result against its DuckDB oracle, exact."""
        con = duckdb.connect()
        errors = []
        try:
            for t in _TPCH_TABLES:
                p = os.path.join(self.sf_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
            for kind in self.op_types:
                q = self.registry[kind]
                try:
                    sdf = q.fn(self.spark, self.sf_dir)
                    got = _norm([tuple(r) for r in sdf.collect()], sdf.columns)
                    res = con.execute(q.oracle)
                    want = _norm(res.fetchall(), [c[0] for c in res.description])
                except Exception as e:  # counted as a failed check
                    errors.append(f"{kind}: {type(e).__name__}: {e}")
                    continue
                if not got:
                    errors.append(f"{kind}: empty result")
                elif got != want:
                    errors.append(f"{kind}: {len(got)} rows differ from oracle ({len(want)} rows)")
        finally:
            con.close()
        return len(self.op_types), errors

    def layers(self, tracer: Tracer) -> None:
        from finance_etl_pipeline_spark.sources import readers

        mods = [m for n, m in sys.modules.items() if n.startswith("finance_etl_pipeline_spark")]
        tracer.wrap_everywhere(readers.table, "sources.table", mods)


# ---------------------------------------------------------------------------
# lake_upsert
# ---------------------------------------------------------------------------

_TABLE_SCHEMA = "k long, v double"
_CURSOR_SCHEMA = "step long, version long"


class LakeUpsert(Workload):
    """A fixed op sequence on a manifest table built in set-up:
    small-delta ``merge_into`` followed by a ``commit_rows`` cursor row
    that records the merged version, and a pruned
    ``read_version(where=…)`` aggregate.  The cursor commit is part of
    the merge op: alone it is a few-millisecond op whose jitter would
    swing the geomean over op types by a quarter.

    The table is built with even keys only, one key range per file.
    Each merge updates a run of even keys inside one file's range and
    inserts odd keys between them, so every merge touches exactly one
    file whatever the seed; each read covers exactly one file's range.
    Every run starts from the same table state.  The expected table is
    kept in numpy (slot ``i`` holds keys ``2i`` and ``2i+1``) and each
    read is checked against it."""

    name = "lake_upsert"
    op_types = ("merge", "read")
    warmup_laps = 4
    files, rows_per_file, delta, insert = 40, 500, 48, 8

    def prepare(self, d: str) -> None:
        from finance_etl_pipeline_spark.operators import manifest as M

        rng = np.random.default_rng(self.seed)
        n = self.files * self.rows_per_file
        self.even = rng.uniform(1, 1000, n).round(2)
        self.odd = np.full(n, np.nan)
        self.table = os.path.join(d, "orders_tbl")
        self.cursor = os.path.join(d, "cursor_tbl")
        for f in range(self.files):
            lo, hi = f * self.rows_per_file, (f + 1) * self.rows_per_file
            M.commit_rows(
                self.spark, [(2 * i, float(self.even[i])) for i in range(lo, hi)],
                _TABLE_SCHEMA, self.table,
            )
        self.rng = rng
        self.step = 0
        self.version = M.latest_version(self.table)
        self.base_bytes = dir_bytes(self.table)

    def op(self, kind: str, tracer: Tracer):
        from pyspark.sql import functions as F

        from finance_etl_pipeline_spark.operators import manifest as M

        spark = self.spark
        rpf = self.rows_per_file
        if kind == "merge":
            f = int(self.rng.integers(0, self.files))
            lo = f * rpf + int(self.rng.integers(0, rpf - self.delta))
            upd = self.rng.uniform(1, 1000, self.delta).round(2)
            ins = self.rng.uniform(1, 1000, self.insert).round(2)
            rows = [(2 * (lo + j), float(v)) for j, v in enumerate(upd)]
            rows += [(2 * (lo + j) + 1, float(v)) for j, v in enumerate(ins)]
            src = spark.createDataFrame(rows, _TABLE_SCHEMA)
            with tracer.span("manifest.merge"):
                self.version = M.merge_into(spark, self.table, src, ["k"])
            self.step += 1
            with tracer.span("manifest.commit_rows"):
                M.commit_rows(spark, [(self.step, self.version)], _CURSOR_SCHEMA, self.cursor)
            self.even[lo:lo + self.delta] = upd
            self.odd[lo:lo + self.insert] = ins
            self.bytes_given += 16 * (len(rows) + 1)
            return len(rows) + 1, None
        f = int(self.rng.integers(0, self.files))
        where = [("k", ">=", 2 * f * rpf), ("k", "<", 2 * (f + 1) * rpf)]
        with tracer.span("manifest.read"):
            df = M.read_version(spark, self.table, where=where)
            got = df.agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")).collect()[0]
        odd = self.odd[f * rpf:(f + 1) * rpf]
        want_n = rpf + int(np.count_nonzero(~np.isnan(odd)))
        want_s = float(self.even[f * rpf:(f + 1) * rpf].sum() + np.nansum(odd))
        table_rows = len(self.even) + int(np.count_nonzero(~np.isnan(self.odd)))
        return table_rows, (got.n, got.s, want_n, want_s, df)

    def op_info(self, kind: str, result) -> dict:
        return {"version": self.version}

    def check(self, kind: str, result) -> str | None:
        if kind != "read":
            return None
        n, s, want_n, want_s, _ = result
        if n != want_n or abs(s - want_s) > 1e-6 * max(1.0, abs(want_s)):
            return f"read at v{self.version}: got ({n}, {s}) want ({want_n}, {want_s})"
        return None

    def op_attrs(self, kind: str, result) -> dict:
        from finance_etl_pipeline_spark.operators import manifest as M

        attrs = {}
        if kind == "merge":
            attrs["manifest.files_live"] = len(M.files_for_version(self.table))
        elif kind == "read":
            attrs["manifest.files_read"] = len(result[4].inputFiles())
        attrs["manifest.log_bytes"] = dir_bytes(os.path.join(self.table, "_manifests"))
        attrs["table_bytes"] = dir_bytes(self.table) + dir_bytes(self.cursor)
        return attrs

    def write_amp(self) -> float | None:
        grown = dir_bytes(self.table) + dir_bytes(self.cursor) - self.base_bytes
        return grown / self.bytes_given


WORKLOADS = {w.name: w for w in (MonthClose, AnalystQueries, LakeUpsert)}
