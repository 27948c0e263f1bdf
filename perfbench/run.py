"""Benchmark entry point.

    python3 perfbench/run.py --workload month_close --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  One process runs one workload:
set-up (session start, input generation and one-time table builds,
the latter repeated three times), a cold lap (one op of each type; the
run's very first op is one sample of ``first_op_s``), an untimed check
and warm-up phase, then whole
round-robin laps until ``--seconds`` have passed.  A workload with
``cold_runs`` > 1 then starts that many fresh processes less one, in
turn, each of which runs set-up and the first op only
(``--cold-only``); ``setup_s`` and ``first_op_s`` are the medians over
all of them.  With ``--trace 1``
the timed laps alternate traced and untraced, and the per-layer
metrics come from the traced laps.  The last stdout line is the
result object; the line before it carries the full detail.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "finance_etl_pipeline_spark"

# local[N].  One task thread: every stage waits for its slowest task, so
# with more task threads a vCPU the shared host takes from any one of
# them stalls the whole stage; the other cores are left to the JIT, GC
# and the host.
CPUS = 1
DRIVER_MEM = "1g"
SETUP_REPEATS = 3
DEADLINE_S = 160  # cancel Spark jobs and stop starting ops after this

E2E = {
    "setup_s": "s", "first_op_s": "s", "p50_s": "s", "tail_s": "s",
    "rows_per_s": "1/s", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "plans.build_s": "s", "plans.build_jobs": "count",
    "plans.exec_s": "s", "plans.exec_jobs": "count",
    "sources.table_s": "s", "sources.table_jobs": "count",
    "sources.read_csv_s": "s", "sources.write_parquet_s": "s",
    "sources.write_csv_s": "s", "sources.bytes_written": "bytes",
    "quality.gate_s": "s", "quality.gate_jobs": "count", "quality.exception_rows": "count",
    "transform.build_s": "s", "pipeline.run_month_s": "s", "pipeline.jobs": "count",
    "export_bi.export_s": "s", "star.export_s": "s", "dashboard.render_s": "s",
    "manifest.merge_s": "s", "manifest.merge_jobs": "count",
    "manifest.commit_rows_s": "s", "manifest.read_s": "s", "manifest.read_jobs": "count",
    "manifest.files_live": "count", "manifest.files_read": "count",
    "manifest.bytes_written": "bytes", "manifest.log_bytes": "bytes",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.gc_s": "s", "spark.run_s": "s",
    "spark.cpu_s": "s", "spark.input_bytes": "bytes",
    "session.start_s": "s", "host.steal_pct": "%", "host.cpu_util_pct": "%",
    "trace.overhead_s": "s",
}
# per-layer metric <- (span name, "s" for its time or "jobs" for its jobs)
SPAN_METRICS = {
    "plans.build_s": ("plans.build", "s"), "plans.build_jobs": ("plans.build", "jobs"),
    "plans.exec_s": ("plans.exec", "s"), "plans.exec_jobs": ("plans.exec", "jobs"),
    "sources.table_s": ("sources.table", "s"), "sources.table_jobs": ("sources.table", "jobs"),
    "sources.read_csv_s": ("sources.read_csv", "s"),
    "sources.write_parquet_s": ("sources.write_parquet", "s"),
    "sources.write_csv_s": ("sources.write_csv", "s"),
    "quality.gate_s": ("quality.gate", "s"), "quality.gate_jobs": ("quality.gate", "jobs"),
    "transform.build_s": ("transform.build", "s"),
    "pipeline.run_month_s": ("pipeline.run_month", "s"),
    "pipeline.jobs": ("pipeline.run_month", "jobs"),
    "export_bi.export_s": ("export_bi.export", "s"), "star.export_s": ("star.export", "s"),
    "dashboard.render_s": ("dashboard.render", "s"),
    "manifest.merge_s": ("manifest.merge", "s"), "manifest.merge_jobs": ("manifest.merge", "jobs"),
    "manifest.commit_rows_s": ("manifest.commit_rows", "s"),
    "manifest.read_s": ("manifest.read", "s"), "manifest.read_jobs": ("manifest.read", "jobs"),
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cold-only", action="store_true",
                   help="run set-up and the first op only; print their times")
    return p.parse_args(argv)


def configure_env(work: str) -> None:
    """Keep every file the run writes inside ``work`` and size the
    session for this box: explicit local[N], matching shuffle
    partitions, fixed driver heap, status-store retention high enough
    that no job group is evicted before it is read."""
    local = os.path.join(work, "local")
    os.makedirs(local)
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # Python workers must import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    confs = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
        "spark.ui.retainedTasks": "1000",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(f"--conf {k}={v}" for k, v in confs.items()) + " pyspark-shell"
    # every JVM started here (the spark-submit launcher and the driver)
    # keeps its temp files in ``work`` and writes no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work} -XX:-UsePerfData"


def geomean(xs) -> float:
    xs = list(xs)
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def quantile(xs, q: float) -> float:
    """Linear-interpolated quantile of ``xs`` at ``q`` in [0, 1]."""
    xs = sorted(xs)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


class Run:
    def __init__(self, args, sc, wl, tracer, store) -> None:
        self.args, self.sc, self.wl = args, sc, wl
        self.tracer, self.store = tracer, store
        self.ops: list[dict] = []
        self.errors: list[str] = []
        self.stopped = threading.Event()

    def run_op(self, kind: str, phase: str, traced: bool = False) -> dict:
        rec = {"id": len(self.ops), "kind": kind, "phase": phase, "traced": traced, "ok": False}
        self.ops.append(rec)
        if self.stopped.is_set():
            self.errors.append(f"op {rec['id']} {kind}: not started, run deadline passed")
            return rec
        group = f"op{rec['id']}:{kind}"
        self.wl.before_op(kind)
        self.sc.setJobGroup(group, group)
        self.tracer.op, self.tracer.enabled = group, traced
        t = time.perf_counter()
        try:
            rows, result = self.wl.op(kind, self.tracer)
        except Exception:  # an op failure is counted, never fatal
            rec["latency"] = time.perf_counter() - t
            self.tracer.enabled = False
            self.errors.append(f"op {rec['id']} {kind}: {traceback.format_exc(limit=3)}")
            return rec
        rec["latency"] = time.perf_counter() - t
        self.tracer.enabled = False
        self.sc.setJobGroup(f"check{rec['id']}", "check")
        rec.update(ok=True, rows=rows, jobs=len(self.store.job_ids(group)))
        rec.update(self.wl.op_info(kind, result))
        try:
            err = self.wl.check(kind, result)
        except Exception:  # a check that cannot run is a failed check
            err = traceback.format_exc(limit=3)
        if err:
            rec["ok"] = False
            self.errors.append(f"op {rec['id']} {kind}: check failed: {err}")
        if self.args.trace:
            rec["attrs"] = self.wl.op_attrs(kind, result)
            rec["spark"], rec["job_tags"] = self.store.group_metrics(group)
        return rec

    def lap(self, phase: str, traced: bool = False) -> None:
        for kind in self.wl.op_types:
            self.run_op(kind, phase, traced)


def summarize(run: Run, timed: list[dict]) -> dict:
    """End-to-end metrics over the timed ops (untraced ones only)."""
    kinds = run.wl.op_types
    by = {k: [r["latency"] for r in timed if r["kind"] == k and r["ok"]] for k in kinds}
    med = {k: statistics.median(v) for k, v in by.items()}
    ratios = [x / med[k] for k, v in by.items() for x in v]
    tail_q = max(0.5, 1 - 10 / len(ratios))
    ok = [r for r in timed if r["ok"]]
    return {
        "p50_s": geomean(med.values()),
        "tail_s": geomean(med.values()) * quantile(ratios, tail_q),
        "tail_pct": 100 * tail_q,
        "samples": len(ratios),
        "rows_per_s": sum(r["rows"] for r in ok) / sum(r["latency"] for r in ok),
        "p50_by_type": med,
    }


def per_layer(run: Run, traced: list[dict]) -> dict:
    """Per-lap layer metrics: for each op type the median over its
    traced timed ops, summed over op types."""
    spans = run.tracer.spans
    by_op: dict[str, list] = {}
    for s in spans:
        by_op.setdefault(s.op, []).append(s)
    prev: dict[str, float] = {}
    per_op = []
    for r in run.ops:
        vals: dict[str, float] = {}
        if r.get("attrs") is not None:
            group = f"op{r['id']}:{r['kind']}"
            mine = by_op.get(group, [])
            for metric, (name, what) in SPAN_METRICS.items():
                hit = [s for s in mine if s.name == name]
                if what == "s":
                    vals[metric] = sum(s.end - s.start for s in hit)
                else:
                    ids = {f"span{s.sid}" for s in hit}
                    vals[metric] = sum(1 for t in r["job_tags"].values() if t & ids)
            vals["sources.bytes_written"] = sum(
                s.attrs.get("bytes", 0) for s in mine if s.name.startswith("sources.write")
            )
            vals.update(r["spark"])
            a = r["attrs"]
            for k in ("quality.exception_rows", "manifest.files_live", "manifest.files_read"):
                if k in a:
                    vals[k] = a[k]
            for src, dst in (("table_bytes", "manifest.bytes_written"),
                             ("manifest.log_bytes", "manifest.log_bytes")):
                if src in a:
                    vals[dst] = a[src] - prev.get(src, a[src])
                    prev[src] = a[src]
        per_op.append(vals)
    out = {k: 0.0 for k in PER_LAYER}
    for kind in run.wl.op_types:
        rows = [per_op[r["id"]] for r in traced if r["kind"] == kind and r["ok"]]
        for k in {k for v in rows for k in v}:
            xs = [v[k] for v in rows if k in v]
            out[k] += statistics.median(xs)
    live = [v["manifest.files_live"] for v in per_op if "manifest.files_live" in v]
    out["manifest.files_live"] = float(live[-1]) if live else 0.0
    return out


def self_time_per_lap(tracing, tracer, traced: list[dict]) -> dict[str, float]:
    """Each span name's self time over the traced timed ops, per lap."""
    groups = {f"op{r['id']}:{r['kind']}" for r in traced}
    laps = len(traced) / len({r["kind"] for r in traced})
    own = tracing.self_times(tracer.spans)
    out: dict[str, float] = {}
    for s in tracer.spans:
        if s.op in groups:
            out[s.name] = out.get(s.name, 0.0) + own[s.sid] / laps
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import finance_etl_pipeline_spark as pkg
    except ImportError as e:
        print(f"perfbench: cannot import {PACKAGE} from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: {PACKAGE} resolves to {pkg.__file__}, not the checkout {ROOT}", file=sys.stderr)
        return 2
    import tracing
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl_cls = WORKLOADS[args.workload]
    env = dict(os.environ)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    configure_env(work)
    try:
        with tracing.RssSampler() as rss:
            detail, result = run_workload(args, work, rss, tracing, wl_cls)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if args.cold_only:
        print(json.dumps(result))
        return 0
    if not args.trace and wl_cls.cold_runs > 1:
        extra = [cold_run(args, env) for _ in range(wl_cls.cold_runs - 1)]
        fold_cold_runs(detail, result, extra)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out_dir, stem + ".json"), "w") as fh:
        json.dump(detail, fh, indent=1, default=str)
    print(json.dumps({k: v for k, v in detail.items() if k not in ("spans", "ops")}, default=str))
    print(json.dumps(result))
    return 0


def run_workload(args, work, rss, tracing, wl_cls):
    from finance_etl_pipeline_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", master=f"local[{CPUS}]", shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    session_start = time.perf_counter() - t
    session_ready = time.perf_counter() - T_START
    gateway = spark.sparkContext._gateway
    try:
        if args.cold_only:
            return None, first_op_only(args, work, tracing, wl_cls, spark, session_ready)
        return measure(args, work, rss, tracing, wl_cls, spark, session_start, session_ready)
    finally:
        spark.stop()
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def set_up(sc, wl, work) -> list[float]:
    """Input generation and table builds, repeated into fresh
    directories; the ops use the last copy.  Returns each repeat's time."""
    prep = []
    for i in range(SETUP_REPEATS):
        sc.setJobGroup(f"setup{i}", "setup")
        t = time.perf_counter()
        wl.prepare(os.path.join(work, f"setup{i}"))
        prep.append(time.perf_counter() - t)
    return prep


def first_op_only(args, work, tracing, wl_cls, spark, session_ready) -> dict:
    """A ``--cold-only`` process: the same set-up as ``measure`` and
    its first op, nothing more."""
    sc = spark.sparkContext
    tracer = tracing.Tracer(sc)
    store = tracing.StatusStore(sc)
    wl = wl_cls(spark, args.seed)
    prep = set_up(sc, wl, work)
    run = Run(args, sc, wl, tracer, store)
    rec = run.run_op(wl.op_types[0], "cold")
    return {
        "setup_s": session_ready + statistics.median(prep),
        "first_op_s": rec["latency"] if rec["ok"] else None,
        "errors": run.errors,
    }


def cold_run(args, env: dict) -> dict:
    """Runs one ``--cold-only`` process to its end, in its own process
    group so that a timeout kills its JVM too."""
    cmd = [
        sys.executable, os.path.abspath(__file__), "--workload", args.workload,
        "--seed", str(args.seed), "--seconds", str(args.seconds), "--cold-only",
    ]
    left = max(1.0, DEADLINE_S + 10 - (time.perf_counter() - T_START))
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=left)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        return {"setup_s": None, "first_op_s": None, "errors": [f"timed out after {left:.0f} s"]}
    lines = out.strip().splitlines()
    if proc.returncode or not lines:
        return {"setup_s": None, "first_op_s": None, "errors": [f"exited with {proc.returncode}"]}
    return json.loads(lines[-1])


def fold_cold_runs(detail: dict, result: dict, extra: list[dict]) -> None:
    """``setup_s`` and ``first_op_s`` become the medians over this
    process and the ``--cold-only`` ones; their ops count as attempted."""
    runs = [{"setup_s": detail["setup_s"], "first_op_s": detail["first_op_s"], "errors": []}] + extra
    detail["cold_runs"] = runs
    failed = sum(1 for r in extra if r["errors"] or r["first_op_s"] is None)
    detail["errors"] += [f"cold run {i}: {e}" for i, r in enumerate(extra, 1) for e in r["errors"]]
    for counts in (detail, result):
        counts["attempted"] += len(extra)
        counts["failed"] += failed
    detail["error_rate"] = detail["failed"] / detail["attempted"]
    result["correct"] = result["correct"] and failed == 0
    for key in ("setup_s", "first_op_s"):
        xs = [r[key] for r in runs if r[key] is not None]
        detail[key] = result["metrics"][key]["value"] = statistics.median(xs) if xs else None


def measure(args, work, rss, tracing, wl_cls, spark, session_start, session_ready):
    sc = spark.sparkContext
    tracer = tracing.Tracer(sc)
    store = tracing.StatusStore(sc)
    wl = wl_cls(spark, args.seed)
    prep = set_up(sc, wl, work)
    if args.trace:
        wl.layers(tracer)
    run = Run(args, sc, wl, tracer, store)
    watchdog = threading.Timer(DEADLINE_S - (time.perf_counter() - T_START), _expire, (run,))
    watchdog.daemon = True
    watchdog.start()
    try:
        setup_s = session_ready + statistics.median(prep)
        run.lap("cold")
        sc.setJobGroup("verify", "verify")
        checked, verify_errors = wl.verify()
        run.errors += [f"verify: {e}" for e in verify_errors]
        for _ in range(wl.warmup_laps):
            run.lap("warmup")
        cpu0 = tracing.cpu_times()
        t0 = time.perf_counter()
        # whole laps; a further lap starts only if it is due to end
        # within --seconds, judged by the previous lap's length
        laps, lap_s = 0, 0.0
        while laps < 1 + args.trace or time.perf_counter() - t0 + lap_s <= args.seconds:
            t = time.perf_counter()
            run.lap("timed", traced=bool(args.trace) and laps % 2 == 0)
            lap_s = time.perf_counter() - t
            laps += 1
        timed_s = time.perf_counter() - t0
        host = tracing.host_context(cpu0, tracing.cpu_times())
    finally:
        watchdog.cancel()
        tracer.unwrap_all()
    cold = [r for r in run.ops if r["phase"] == "cold"]
    timed = [r for r in run.ops if r["phase"] == "timed"]
    failed = sum(1 for r in run.ops if not r["ok"]) + len(verify_errors)
    attempted = len(run.ops) + checked
    untraced = [r for r in timed if not r["traced"]]
    jobs = {k: [r.get("jobs") for r in run.ops if r["kind"] == k and r["ok"]] for k in wl.op_types}
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cpus": CPUS, "driver_mem": DRIVER_MEM, "laps": laps, "timed_s": timed_s,
        "setup_s": setup_s, "session_ready_s": session_ready, "prepare_s": prep,
        "first_op_s": cold[0]["latency"] if cold[0]["ok"] else None,
        "first_op_by_type": {r["kind"]: r.get("latency") for r in cold},
        "peak_rss_mb": rss.peak_mb,
        "attempted": attempted, "failed": failed,
        "error_rate": failed / attempted,
        "write_amp": wl.write_amp(),
        "jobs_by_type": jobs,
        "loadavg": os.getloadavg(),
        **host,
        "errors": run.errors,
        "ops": run.ops,
    }
    if any("version" in r for r in run.ops):
        detail["version_log"] = [[r["id"], r["kind"], r.get("version"), r.get("jobs")] for r in run.ops]
    correct = failed == 0 and bool(untraced or timed)
    if args.trace:
        traced = [r for r in timed if r["traced"]]
        layer = per_layer(run, traced)
        layer["session.start_s"] = session_start
        layer.update(host)
        if untraced and all(r["ok"] for r in timed):
            layer["trace.overhead_s"] = summarize(run, traced)["p50_s"] - summarize(run, untraced)["p50_s"]
        detail["per_layer"] = layer
        detail["self_s_per_lap"] = self_time_per_lap(tracing, tracer, traced)
        detail["spans"] = [vars(s) for s in tracer.spans]
        metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        summary = summarize(run, timed) if all(r["ok"] for r in timed) else None
        detail["summary"] = summary
        values = dict(summary or {}, setup_s=setup_s, first_op_s=detail["first_op_s"], peak_rss_mb=rss.peak_mb)
        metrics = {k: {"value": values.get(k), "unit": u} for k, u in E2E.items()}
        correct = correct and summary is not None and detail["first_op_s"] is not None
    result = {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
    return detail, result


def _expire(run: Run) -> None:
    run.stopped.set()
    run.sc.cancelAllJobs()


if __name__ == "__main__":
    sys.exit(main())
