"""Benchmark entry point.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 4 --trace 0

Runs one workload in one process against the engine in this checkout:
generate the inputs (once per checkout, not timed), import the query
registry, start the session, warm up on the seeded request stream, then
time whole passes: as many as ``--seconds`` of request time needs at the
workload's nominal pass time.  Every output is checked after the timed
passes.

The last stdout line is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``.  ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` records spans and job-group counts and reports the
per-layer metrics instead (see perfbench/README.md).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")


class Tracer:
    """In-memory spans (name, start, end, parent, request id) and the
    per-request counts attached to them.  Disabled, every hook is free."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.spark = None
        self.req: str | None = None
        self.chkpt_calls = 0
        self.chkpt_s = 0.0

    @contextmanager
    def span(self, name: str, group: str | None = None):
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.spans), "name": name, "req": self.req,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        if group and self.req is not None:
            self.spark.sparkContext.setJobGroup(f"{self.req}.{group}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group and self.req is not None:
                self.spark.sparkContext.setJobGroup(self.req, "request")

    def compile(self, df) -> None:
        """Catalyst compile of ``df``, timed on its own before the action."""
        if self.enabled:
            with self.span("plans.compile"):
                df._jdf.queryExecution().executedPlan()

    def wrap_chkpt(self) -> None:
        """Count ``chkpt.materialize`` barriers.  Must run before
        ``magi_etl_spark.queries`` imports the operators that bind it."""
        import magi_etl_spark.chkpt as chkpt

        inner = chkpt.materialize

        def materialize(df, eager=True):
            t0 = time.perf_counter()
            try:
                return inner(df, eager)
            finally:
                self.chkpt_calls += 1
                self.chkpt_s += time.perf_counter() - t0

        chkpt.materialize = materialize

    def span_s(self, req: str, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["req"] == req and s["name"] == name)


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    return sorted(values)[math.ceil(q * len(values)) - 1]


def run_pass(spark, wl, requests, pass_dir, tr, records, timing, pass_no, warm):
    from perfbench import probes
    from perfbench.workloads import isolate

    wl.begin_pass(spark, pass_dir, warm)
    cpu = probes.RequestCpu()
    for i, req in enumerate(requests):
        rid = f"p{pass_no}r{i}"
        tr.req = None if warm else rid
        if tr.enabled and not warm:
            spark.sparkContext.setJobGroup(rid, "request")
            calls0, chk0 = tr.chkpt_calls, tr.chkpt_s
        cpu0 = cpu.sample()
        t0 = time.perf_counter()
        with tr.span("request"):
            out = wl.run(spark, req, tr)
        t1 = time.perf_counter()
        cpu1 = cpu.sample()
        # off the clock from here: capture outputs, read counts, isolate
        if tr.enabled:
            spark.sparkContext.setJobGroup("harness", "harness")
        rec = wl.capture(spark, req, out, tr)
        isolate(spark)
        if warm:
            continue
        rec.update({"pass": pass_no, "req": rid, "latency_s": t1 - t0, "cpu_s": cpu1 - cpu0})
        if tr.enabled:
            counts = probes.group_counts(spark, rid)
            built = probes.group_counts(spark, f"{rid}.construct")
            for k, v in built.items():
                counts[k] += v
            rec["counts"] = counts
            rec["construct_jobs"] = built["jobs"]
            rec["chkpt_calls"] = tr.chkpt_calls - calls0
            rec["chkpt_s"] = tr.chkpt_s - chk0
        records.append((rec, req))
        timing["request_s"] += t1 - t0
    tr.req = None


def stop_spark(spark) -> None:
    """Stop the session, then the JVM behind it, and wait until the JVM
    and every Python worker it forked have exited.

    ``SparkSession.stop`` leaves the JVM running; PySpark relies on the
    JVM noticing, after this process has gone, that its stdin closed.
    Closing that pipe here and waiting makes the exit synchronous."""
    from pyspark import SparkContext

    from perfbench import probes

    gateway = SparkContext._gateway
    procs = probes.descendants()
    try:
        if spark is not None:
            spark.stop()
    finally:
        procs.update(probes.descendants())
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        probes.reap(procs)


def main(argv: list[str] | None = None, workload_hook=None) -> int:
    t_main = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a SIGTERM unwinds through main's finally, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    from perfbench import probes
    from perfbench.workloads import WORKLOADS

    age_at_start = probes.process_start_age_s() - (time.perf_counter() - t_main)
    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    tr = Tracer(bool(args.trace))

    # Spark's scratch space and temp files stay inside the checkout.
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # Every JVM, the launcher spark-submit starts first included: temp
    # files in the checkout and no hsperfdata file (it goes under /tmp).
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"

    t = time.perf_counter()
    import magi_etl_spark.chkpt  # noqa: F401  fails fast outside a checkout

    wl = WORKLOADS[args.workload](os.path.join(WORK, "data"))
    if workload_hook:
        workload_hook(wl)
    wl.prepare()  # builds inputs on the first run in a checkout
    datagen_s = time.perf_counter() - t

    layer: dict[str, float] = {}
    if tr.enabled:
        tr.wrap_chkpt()
    t = time.perf_counter()
    with tr.span("queries.import"):
        import magi_etl_spark.queries  # noqa: F401
    layer["queries.import_s"] = time.perf_counter() - t

    from magi_etl_spark.session import get_spark

    t = time.perf_counter()
    spark = None
    try:
        with tr.span("session.start"):
            spark = get_spark(
                app_name=f"perfbench-{args.workload}",
                master=f"local[{len(os.sched_getaffinity(0))}]",
            )
            spark.range(1).count()
        layer["session.start_s"] = time.perf_counter() - t
        tr.spark = spark
        return measure(spark, wl, args, tr, layer, age_at_start, t_main, datagen_s)
    finally:
        stop_spark(spark)


def measure(spark, wl, args, tr, layer, age_at_start, t_main, datagen_s) -> int:
    from perfbench import probes

    requests = wl.requests(args.seed)
    passes_dir = os.path.join(WORK, "passes", wl.name)
    shutil.rmtree(passes_dir, ignore_errors=True)

    # warm-up: the same request mix, in its own directories
    with tr.span("warmup"):
        for k, warm_requests in enumerate(wl.warmup_passes(args.seed)):
            run_pass(spark, wl, warm_requests, os.path.join(passes_dir, f"warmup{k}"),
                     tr, [], {"request_s": 0.0}, -1, warm=True)
            shutil.rmtree(os.path.join(passes_dir, f"warmup{k}"), ignore_errors=True)

    setup_s = age_at_start + (time.perf_counter() - t_main) - datagen_s
    records: list[tuple[dict, object]] = []
    timing = {"request_s": 0.0}
    host = probes.HostWindow()
    gc0 = probes.jvm_gc_s(spark) if tr.enabled else 0.0
    # The pass count follows from --seconds and the workload's nominal
    # pass time, not from the clock: a run that stopped once enough time
    # was measured would time one pass or two depending on noise.
    n_pass = max(1, math.ceil(args.seconds / wl.pass_s))
    for p in range(n_pass):
        run_pass(spark, wl, requests, os.path.join(passes_dir, f"p{p}"),
                 tr, records, timing, p, warm=False)
    host_frac = host.close()
    gc_s = probes.jvm_gc_s(spark) - gc0 if tr.enabled else 0.0

    verdicts = wl.check(spark, records)
    shutil.rmtree(passes_dir, ignore_errors=True)
    failed = sum(v is not None for v in verdicts)
    for (rec, _), v in zip(records, verdicts):
        print(f"# {rec['req']} {rec['key']} latency_s={rec['latency_s']:.4f} "
              f"cpu_s={rec['cpu_s']:.2f} {'ok' if v is None else 'FAILED: ' + v}",
              file=sys.stderr)

    lat = [r["latency_s"] for r, _ in records]
    n = len(records)
    e2e = {
        "setup_s": (setup_s, "s"),
        "request_p50_s": (statistics.median(lat), "s"),
        "requests_per_s": (n / timing["request_s"], "1/s"),
        "cpu_s_per_request": (sum(r["cpu_s"] for r, _ in records) / n, "s"),
    }
    extra = {"failed_frac": (failed / n, "")}
    if n >= 100:
        extra["request_p90_s"] = (pct(lat, 0.9), "s")
    extra.update({k: (v, "") for k, v in host_frac.items()})
    summary = {**e2e, **extra, "requests": (n, ""), "passes": (n_pass, "")}
    print(f"# {wl.name} seed={args.seed} trace={args.trace} " + " ".join(
        f"{k}={v:.6g}{u}" for k, (v, u) in summary.items()), flush=True)

    if tr.enabled:
        metrics = layer_metrics(records, tr, layer, gc_s, host_frac, e2e)
        path = os.path.join(WORK, "traces", f"{wl.name}-seed{args.seed}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": tr.spans,
                       "requests": [{k: v for k, v in r.items() if k != "rows"}
                                    for r, _ in records]}, f)
        print(f"# trace written to {os.path.relpath(path, ROOT)}", file=sys.stderr)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": n, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0


def layer_metrics(records, tr, layer, gc_s, host_frac, e2e) -> dict:
    """Per-layer metrics of a traced run.  Counts are means per request;
    times are medians per request over the requests that have the span;
    a layer a workload never enters reads 0."""
    from perfbench import probes

    recs = [r for r, _ in records]
    n = len(recs)

    def med(xs):
        return statistics.median(xs) if xs else 0.0

    def spans(name):
        return [tr.span_s(r["req"], name) for r in recs
                if any(s["req"] == r["req"] and s["name"] == name for s in tr.spans)]

    def mean(key):
        return sum(r.get(key, 0) for r in recs) / n

    hits = [r["latency_s"] for r in recs if r.get("hit") is True]
    misses = [r["latency_s"] for r in recs if r.get("hit") is False]
    jobs = {j: [r["latency_s"] for r in recs if r.get("job") == j]
            for j in ("audit", "engagement", "govern")}
    n_pass = len({r["pass"] for r in recs})
    m = {
        **layer,
        "jvm.gc_s": (gc_s / n),
        "jvm.peak_rss_mb": probes.jvm_peak_rss_mb(),
        "query.construct_s": med(spans("query.construct")),
        "plans.compile_s": med(spans("plans.compile")),
        "spark.jobs": sum(r["counts"]["jobs"] for r in recs) / n,
        "spark.stages": sum(r["counts"]["stages"] for r in recs) / n,
        "spark.tasks": sum(r["counts"]["tasks"] for r in recs) / n,
        "spark.failed_tasks": sum(r["counts"]["failed_tasks"] for r in recs) / n,
        "chkpt.calls": mean("chkpt_calls"),
        "chkpt.s": mean("chkpt_s"),
        "construct.jobs": mean("construct_jobs"),
        "construct_s": med(spans("construct")),
        "sink_s": med(spans("sink")),
        "cache.hit_ratio": len(hits) / n if hits or misses else 0.0,
        "cache.hit_s": med(hits),
        "cache.miss_s": med(misses),
        "cache.bytes_written": sum(r.get("cache_bytes", 0) for r in recs) / max(1, len(misses)),
        **{f"jobs.{j}_s": med(v) for j, v in jobs.items()},
        "sinks.rows_written": sum(r.get("rows_written", 0) for r in recs) / n_pass,
        "sinks.bytes_written": sum(r.get("bytes_written", 0) for r in recs) / n_pass,
        **host_frac,
        "trace.request_p50_s": e2e["request_p50_s"][0],
        "trace.cpu_s_per_request": e2e["cpu_s_per_request"][0],
    }
    return {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in m.items()}


LAYER_UNITS = {
    "queries.import_s": "s", "session.start_s": "s", "jvm.gc_s": "s",
    "jvm.peak_rss_mb": "MB", "query.construct_s": "s", "plans.compile_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.failed_tasks": "count", "chkpt.calls": "count", "chkpt.s": "s",
    "construct.jobs": "count", "construct_s": "s", "sink_s": "s",
    "cache.hit_ratio": "ratio", "cache.hit_s": "s", "cache.miss_s": "s",
    "cache.bytes_written": "B", "jobs.audit_s": "s", "jobs.engagement_s": "s",
    "jobs.govern_s": "s", "sinks.rows_written": "count", "sinks.bytes_written": "B",
    "host.steal_frac": "ratio", "host.ext_cpu_frac": "ratio",
    "trace.request_p50_s": "s", "trace.cpu_s_per_request": "s",
}


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
