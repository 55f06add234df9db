"""Benchmark for hdfe_spark: one workload, one seed, one run.

    python3 perfbench/run.py --workload panel_large --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from ``--seed``, starts the engine on
``local[nproc]`` and drives it through the package's public functions,
one call at a time from one client (closed loop). The first pass warms
every call and checks its output in depth; timed passes then run until
``--seconds`` have passed, and every call that returns values is
checked again. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics from Spark's event log
(``--trace 1``). The line before it holds the full record of the run:
settings, capacity probes, every call's latency and job count.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import host, trace  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "1/s",
    "call_s_p50": "s",
    "call_s_tail": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "ok_ratio": "ratio",
}


# The host is a VM on a shared machine, and the hypervisor "steals" CPU
# time in bursts of ten seconds to minutes; a timed pass that lost more
# than MAX_STEAL_SHARE of its CPU time that way ran up to 2x slower.
# Such a pass is run again, up to MAX_TIMED_PASSES, when another pass as
# long as the last one would end before the run is RUN_LIMIT_S old (this
# keeps the benchmark's runs within their time budget). The end-to-end
# metrics come from the undisturbed passes, or else from the least
# disturbed one; every pass stays in the record.
MAX_STEAL_SHARE = 0.04
RUN_LIMIT_S = 75.0
MAX_TIMED_PASSES = 3


def tail_percentile(samples: list[float]) -> tuple[float, float]:
    """``(percentile, value)``: the nearest-rank value at the highest
    whole percentile that leaves at least ten samples above it. A run
    with fewer than 20 samples has no such percentile above the median;
    its tail is then its slowest call (percentile 100)."""
    xs = sorted(samples)
    n = len(xs)
    if n < 20:
        return 100.0, xs[-1]
    pct = math.floor(100 * (n - 10) / n)
    return float(pct), xs[math.ceil(pct / 100 * n) - 1]


class Session:
    """The engine session of a run, with the benchmark's warm-up."""

    def __init__(self, app: str, extra_conf: dict):
        self.app, self.extra_conf = app, extra_conf
        self.spark = None

    def start(self, extra: dict | None = None, tracer=None) -> float:
        """(Re)start the session and warm it; returns seconds taken."""
        from hdfe_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        if tracer:
            tracer.sc = None  # no context to label until get_spark returns
        conf = {**self.extra_conf, **(extra or {})}
        t0 = time.perf_counter()
        with tracer.span("get_spark", "session") if tracer else nullcontext():
            self.spark = get_spark(app_name=self.app, extra_conf=conf)
        if tracer:
            tracer.sc = self.spark.sparkContext
        with tracer.span("warm_up", "warmup") if tracer else nullcontext():
            self.warm_up()
        return time.perf_counter() - t0

    def close(self) -> None:
        """Stop the session and the JVM behind it (it exits at EOF on its
        stdin), then wait until every process the run started has ended."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None
        deadline = time.monotonic() + 60
        while len(host.tree_pids(os.getpid())) > 1 and time.monotonic() < deadline:
            time.sleep(0.2)

    def warm_up(self) -> None:
        """One small shuffle aggregation, so the context is live when
        set-up ends. Each call's own warm-up is the first pass."""
        from pyspark.sql import functions as F

        self.spark.range(0, 10_000, 1, 4).groupBy((F.col("id") % 7).alias("k")).count().collect()

    def total_jobs(self) -> int:
        """Jobs submitted so far in this context (reads a counter; runs
        no job)."""
        return int(self.spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs())

    def isolate(self) -> int:
        """Drop everything a call left cached; returns how many
        query-scoped persists the call left registered."""
        from hdfe_spark.operators import dedup

        left = len(getattr(dedup, "_SCOPED_PERSISTS", []))
        self.spark.catalog.clearCache()
        jmap = self.spark.sparkContext._jsc.getPersistentRDDs()
        for rid in list(jmap.keySet().toArray()):
            jmap.get(rid).unpersist(False)
        dedup.release_query_caches()
        return left

    def leftovers(self) -> int:
        """Cached state still registered (checked at the end of a pass)."""
        from hdfe_spark.operators import dedup

        return len(getattr(dedup, "_SCOPED_PERSISTS", [])) + int(
            self.spark.sparkContext._jsc.getPersistentRDDs().size()
        )


def run_pass(sess: Session, calls, pass_no: int, deep: bool = False, tracer=None) -> dict:
    """One closed-loop pass over ``calls``. Each call's latency covers
    the call and the materialization of its result; checks and
    isolation run after the clock stops."""
    records = []
    t_pass, jiffies0 = time.perf_counter(), host.cpu_jiffies()
    cpu0 = host.tree_cpu_s(os.getpid())
    with tracer.span(f"pass{pass_no}", "pass", pass_no) if tracer else nullcontext():
        for call in calls:
            layer = trace.layer_of(call.fn)
            jobs0 = sess.total_jobs()
            err = None
            t0 = time.perf_counter()
            try:
                with (
                    tracer.span(call.name, layer, pass_no, call.table_bytes)
                    if tracer
                    else nullcontext()
                ):
                    value = call.run()
            except Exception:  # a failing call counts against ok_ratio
                value, err = None, traceback.format_exc(limit=3)
            dt = time.perf_counter() - t0
            jobs = sess.total_jobs() - jobs0
            ok = err is None
            for fn in (call.verify, call.check if deep else None):
                if ok and fn is not None:
                    try:
                        ok = bool(fn(value))
                    except Exception:
                        ok, err = False, traceback.format_exc(limit=3)
            records.append(
                {"call": call.name, "layer": layer, "s": dt, "jobs": jobs, "ok": ok,
                 "scoped_persists": sess.isolate(), **({"error": err} if err else {})}
            )
    return {
        "wall_s": time.perf_counter() - t_pass,
        "steal_share": host.steal_share(jiffies0, host.cpu_jiffies()),
        "cpu_s": host.tree_cpu_s(os.getpid()) - cpu0,
        "calls": records,
        "leftover_persists": sess.leftovers(),
    }


def timed_passes(sess: Session, calls, seconds: float, first_no: int, tracer=None, count=None):
    """Passes until ``seconds`` have elapsed (or exactly ``count``)."""
    passes, t0 = [], time.perf_counter()
    while True:
        passes.append(run_pass(sess, calls, first_no + len(passes), tracer=tracer))
        if count is not None:
            if len(passes) >= count:
                return passes
        elif time.perf_counter() - t0 >= seconds:
            return passes


def measured(passes: list[dict]) -> list[dict]:
    """The passes the end-to-end metrics come from: those the hypervisor
    did not disturb, or else the least disturbed one."""
    quiet = [p for p in passes if p["steal_share"] <= MAX_STEAL_SHARE]
    return quiet or [min(passes, key=lambda p: p["steal_share"])]


def layer_jobs(passes: list[dict]) -> dict[str, float]:
    out: dict[str, float] = {}
    for p in passes:
        for r in p["calls"]:
            out[r["layer"]] = out.get(r["layer"], 0) + r["jobs"] / len(passes)
    return out


def jobs_mismatch(traced: dict[str, float], untraced: dict[str, float]) -> dict:
    """Layers whose jobs per pass differ between the traced passes (from
    the event log) and the untraced ones (from the scheduler's counter),
    as ``{layer: [traced, untraced]}``. Tracing must add no job."""
    return {
        l: [traced.get(l, 0), untraced.get(l, 0)]
        for l in sorted(set(traced) | set(untraced))
        if abs(traced.get(l, 0) - untraced.get(l, 0)) > 1e-9
    }


def result(records: list[dict], metrics: dict, mismatch: dict) -> dict:
    """The last line of output. A run is correct when every call passed
    its checks and tracing changed no layer's job count."""
    failed = sum(not r["ok"] for r in records)
    return {
        "correct": failed == 0 and not mismatch,
        "attempted": len(records),
        "failed": failed,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor (tests use small)")
    args = ap.parse_args(argv)

    import hdfe_spark  # noqa: F401  (fails fast outside a checkout)

    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; have {sorted(workloads.WORKLOADS)}")
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(HERE, "_work", f"{tag}-{os.getpid()}")
    out_dir = os.path.join(HERE, "_out")
    os.makedirs(out_dir, exist_ok=True)
    settings = host.engine_settings(ROOT, work)
    sess = Session(
        f"perfbench-{args.workload}",
        {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={settings['TMPDIR']} {host.JVM_OPTS}",
        },
    )
    try:
        record = run(args, work, settings, sess)
    finally:
        sess.close()
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    print(json.dumps(record["summary"], default=str))
    print(json.dumps(record["result"]))
    return 0


def run(args, work: str, settings: dict, sess: Session) -> dict:
    from perfbench import workloads

    t_run = time.perf_counter()
    pid = os.getpid()
    ev_dir = os.path.join(work, "eventlog")
    probes = [host.capacity_probe()]
    # Inputs and reference answers first, so the JVM launch that set-up
    # measures has the host to itself.
    wl = workloads.build(args.workload, args.seed, os.path.join(work, "data"), args.scale)
    # A traced run's session layer covers this JVM launch as well as the
    # restart with the event log on.
    tracer = trace.Tracer() if args.trace else None
    cold_s = sess.start(tracer=tracer)
    calls = wl.calls(sess.spark)

    with host.RssPeak(pid) as rss:
        first = run_pass(sess, calls, 0, deep=True)
        passes = timed_passes(sess, calls, args.seconds, 1)
        while (
            not args.trace
            and len(passes) < MAX_TIMED_PASSES
            and all(p["steal_share"] > MAX_STEAL_SHARE for p in passes)
            and time.perf_counter() - t_run + passes[-1]["wall_s"] < RUN_LIMIT_S
        ):
            passes.append(run_pass(sess, calls, 1 + len(passes)))
    used = measured(passes)
    first_s = sum(r["s"] for r in first["calls"])

    warm, traced, layer = [], [], None
    if args.trace:
        os.makedirs(ev_dir, exist_ok=True)
        sess.start(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + ev_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            },
            tracer=tracer,
        )
        calls = wl.calls(sess.spark)
        # Stopping the context stopped its Python workers too: one pass
        # outside any span restarts them, so the traced passes are as
        # warm as the timed ones.
        warm = [run_pass(sess, calls, 1 + len(passes))]
        traced = timed_passes(sess, calls, 0, 2 + len(passes), tracer, count=len(passes))
        sess.spark.stop()
        sess.spark = None
        lines = []
        for name in sorted(os.listdir(ev_dir)):
            with open(os.path.join(ev_dir, name)) as fh:
                lines += fh.readlines()
        jobs, tasks = trace.parse_event_log(lines)
        overhead = statistics.median(p["wall_s"] for p in traced) - statistics.median(
            p["wall_s"] for p in passes
        )
        layer = trace.layer_metrics(tracer.spans, jobs, tasks, len(traced), overhead)
        tracer.dump(os.path.join(HERE, "_out", f"{args.workload}-seed{args.seed}-spans.json"))
    probes.append(host.capacity_probe())

    all_passes = [first] + passes + warm + traced
    records = [r for p in all_passes for r in p["calls"]]
    ok_ratio = sum(r["ok"] for r in records) / len(records)
    # Call latency covers the operator calls; a pass's load_table calls
    # (lazy reads of the schema) count in its wall time and the sources
    # layer only.
    lat = [r["s"] for p in used for r in p["calls"] if r["layer"] != "sources"]
    pct, tail = tail_percentile(lat)
    wall = sum(p["wall_s"] for p in used)
    e2e = {
        "setup_s": cold_s + first_s,
        "rows_per_s": wl.rows * len(used) / wall,
        "call_s_p50": statistics.median(lat),
        "call_s_tail": tail,
        "cpu_s": sum(p["cpu_s"] for p in used) / len(used),
        "peak_rss_mb": rss.peak,
        "ok_ratio": ok_ratio,
    }
    if args.trace:
        units = trace.per_layer_names()
        metrics = {k: {"value": layer[k], "unit": u} for k, u in units.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    untraced_jobs = layer_jobs(passes)
    traced_jobs = {l: layer[f"{l}.jobs"] for l in trace.LAYERS if l != "session"} if layer else {}
    mismatch = jobs_mismatch(traced_jobs, untraced_jobs) if layer else {}
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "scale": args.scale,
        "input_rows": wl.rows,
        "table_bytes": wl.tables,
        "settings": {
            **settings,
            "master": f"local[{settings['SPARK_GRAFT_CPUS']}]",
            "driver_java_options": host.JVM_OPTS,
        },
        "probes": probes,
        "in_band": all(p["in_band"] for p in probes)
        and all(p["steal_share"] <= MAX_STEAL_SHARE for p in used),
        "steal_share_timed": [p["steal_share"] for p in passes],
        "measured_passes": [passes.index(p) + 1 for p in used],
        "cold_start_s": cold_s,
        "first_pass_calls_s": first_s,
        "timed_passes": len(passes),
        "timed_calls": len(lat),
        "call_s_tail_percentile": pct,
        "fail_ratio": 1 - ok_ratio,
        "leftover_persists": sum(p["leftover_persists"] for p in all_passes),
        "end_to_end": e2e,
        "run_wall_s": time.perf_counter() - t_run,
        "jobs_per_pass_untraced": untraced_jobs,
    }
    if layer:
        summary["jobs_per_pass_traced"] = traced_jobs
        summary["jobs_mismatch"] = mismatch
    failures = [r for r in records if not r["ok"]]
    if failures:
        summary["failures"] = failures[:10]
    return {
        "summary": summary,
        "passes": {"first": first, "timed": passes, "warm": warm, "traced": traced},
        "result": result(records, metrics, mismatch),
    }


if __name__ == "__main__":
    sys.exit(main())
