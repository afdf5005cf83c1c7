"""Layered benchmark of the pastash_spark engine.

    python3 perfbench/run.py --workload {flagship,queries} --seed N \
        --seconds S --trace {0,1}

Run from the repository root.  One driver process on ``local[$(nproc)]``,
closed loop: one client runs passes back to back.  A run

1. rebuilds ``dist/pastash_spark.zip`` with ``scripts/package.sh`` (so
   executors run this tree) and prints its content hash;
2. starts the session, writes the seeded inputs (DuckDB references and
   the query tables come from a child process, ``refs.py``) and warms up:
   one pass whose outputs are checked against the references, plus the
   workload's ``extra_warm`` passes (``setup_s`` is the session start plus
   the warm-up);
3. runs timed passes for ``--seconds`` (at least one) and reports medians;
4. with ``--trace 1``, interleaves traced passes (spans around the public
   calls, Spark's JSON event log on) with the untraced ones and reports
   per-layer metrics, the tracing overhead and plan-shape counts; on
   ``queries`` it checks each query's traced build + exec time against its
   untraced wall; on ``flagship`` it adds a checked fanout pass over a
   slice of the table (sink and lineage layers), prefix-forced layer times
   and the local[1] -> local[nproc] scaling efficiency.  Spans and
   per-layer metrics are written to
   ``.perfbench_work/trace-<workload>-<seed>.json``.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics untraced, per-layer metrics
traced).  Every other stdout line is a ``#`` record: package hash,
environment, run window with CPU-steal probes, and every metric with its
unit and sample count.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

# End-to-end metrics in the result line (the gated set of BENCHMARK.json),
# and those printed as records only.  On a shared 4-vCPU host a pass's wall
# time follows the neighbours' load, and the driver tree's peak RSS follows
# G1's adaptive heap sizing under the package's 8g driver memory: across
# seeds both spread by 0.12-0.15 of their median, while a pass's CPU time
# stays within 0.08.
END_TO_END = {"setup_s": "s", "cpu_s": "s"}
REPORTED = {"wall_s": "s", "rows_per_s": "1/s", "tok_per_s": "1/s",
            "peak_rss_mb": "MB"}
SPLIT_TOLERANCE = 0.05  # build_s + exec_s against a query's own wall
LAYER_ROUNDS = 3  # prefix-forced flagship layer times: median of rounds
# Traced and untraced passes of a traced run, at least.  The first timed
# pass is still slower (JIT), so medians of three keep it out of the
# tracing overhead and the build/exec check has a range of walls.
MIN_TRACED = 3


def per_layer_units() -> dict[str, str]:
    from workloads import CORRELATE, PAIRS
    units = {"session.start_s": "s"}
    for layer in ("scan", "parse", "enrich", "route", "aggregate"):
        units[f"{layer}.exec_s"] = "s"
    units.update({
        "udf.python_s": "s", "udf.boot_s": "s",
        "udf.bytes_to_python": "B", "udf.bytes_from_python": "B",
        "flagship.build_s": "s", "flagship.scaling_eff": "ratio",
        "sink.write_s": "s", "sink.bytes_written": "B",
        "sink.files_written": "count", "sink.write_amp": "ratio",
        "lineage.commit_s": "s", "lineage.completed_s": "s",
        "lineage.resume_s": "s", "lineage.jobs": "count",
        "driver.build_s": "s", "driver.build_jobs": "count",
        "pairs.candidate_rows": "count", "pairs.yield": "ratio",
        "plan.sort_ops": "count", "plan.arrow_ops": "count",
        "plan.bhj_ops": "count",
        "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
        "spark.run_s": "s", "spark.cpu_s": "s", "spark.gc_s": "s",
        "spark.core_busy": "ratio", "spark.shuffle_read_bytes": "B",
        "spark.shuffle_write_bytes": "B", "spark.spill_bytes": "B",
        "spark.task_skew": "ratio", "spark.failed_tasks": "count",
        "trace.overhead_s": "s",
    })
    for q in CORRELATE + PAIRS:
        for m in ("build_s", "exec_s"):
            units[f"q.{q}.{m}"] = "s"
        for m in ("window_ops", "exchange_ops", "generate_ops"):
            units[f"q.{q}.{m}"] = "count"
    return units


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def record(kind: str, payload) -> None:
    print(f"# {kind} {json.dumps(payload, sort_keys=True)}", flush=True)


class Ctx:
    """What a workload pass needs: session, tracer, work dir, seed."""

    def __init__(self, seed: int, spark, tracer, oracle):
        self.root, self.work, self.seed = ROOT, WORK, seed
        self.spark, self.tracer, self.oracle = spark, tracer, oracle
        self.log = log


def start_spark(master: str, trace: bool):
    from pastash_spark.session import get_spark
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # The package's own memory and GC policy (driver memory, G1 sizing);
    # only scratch files are kept inside the checkout, and the JVM writes
    # no perf-data file to the system /tmp.
    conf = {
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.eventLog.enabled": "true" if trace else "false",
    }
    if trace:
        log_dir = os.path.join(WORK, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({"spark.eventLog.dir": f"file://{log_dir}",
                     "spark.eventLog.compress": "false"})
    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=master, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the context and the JVM it runs in, and wait for it to exit."""
    import subprocess

    from pyspark import SparkContext
    gateway = SparkContext._gateway
    if gateway is None:
        return
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        SparkContext._gateway = SparkContext._jvm = None
        proc = gateway.proc
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def traced_pass(tr, trace_id: str, run) -> dict:
    tr.trace_id = trace_id
    try:
        with tr.span("pass"):
            res = run()
    finally:
        tr.trace_id = None
    res["trace"] = trace_id
    return res


def quantile_note(samples: list[float]) -> dict:
    """Median plus the highest tail percentile with >= 10 samples beyond."""
    note = {"n": len(samples), "p50": statistics.median(samples),
            "samples": [round(x, 4) for x in samples]}
    for p in (99, 95, 90):
        if len(samples) * (100 - p) / 100 >= 10:
            note[f"p{p}"] = statistics.quantiles(samples, n=100)[p - 1]
            break
    return note


def patch_public_calls(tr) -> None:
    from pyspark.sql import DataFrameWriter

    from pastash_spark.plans import flagship
    from pastash_spark.sources import lineage
    for fn in ("parse_stage", "enrich_stage", "route_stage",
               "aggregate_stage", "build", "run_with_lineage"):
        tr.patch(flagship, fn, f"plans.flagship.{fn}")
    tr.patch(lineage, "run_resumable", "lineage.run_resumable")
    tr.patch(lineage.LineageLog, "commit_many", "lineage.commit")
    tr.patch(lineage.LineageLog, "completed_buckets",
             "lineage.completed_buckets")
    tr.patch(lineage.LineageLog, "metrics", "lineage.metrics")
    tr.patch(DataFrameWriter, "parquet", "sink.write",
             when=lambda _w, path, *a, **k:
             os.path.basename(str(path).rstrip("/")) == "sinks")


def layer_metrics(wl, tr, traced, untraced, fan, warm, ev, cores) -> dict:
    """Per-layer metrics, per traced pass of the workload; sink and lineage
    metrics come from the traced fanout pass of ``flagship``."""
    from workloads import PAIRS, Queries
    n = len(traced)
    spans = tr.of_traces(p["trace"] for p in traced)
    per_pass = lambda name: sum(tr.durations(spans, name)) / n  # noqa: E731
    m = {k: 0.0 for k in per_layer_units()}
    m.update(ev.metrics({f"span-{s['id']}" for s in spans},
                        sum(p["wall"] for p in traced), cores, n))
    m["trace.overhead_s"] = (statistics.median(p["wall"] for p in traced)
                             - statistics.median(p["wall"] for p in untraced))
    m["flagship.build_s"] = per_pass("plans.flagship.build")
    if fan is not None:
        fspans = tr.of_traces([fan["trace"]])
        total = lambda name: sum(tr.durations(fspans, name))  # noqa: E731
        m["sink.write_s"] = total("sink.write")
        m["lineage.commit_s"] = total("lineage.commit")
        m["lineage.completed_s"] = total("lineage.completed_buckets")
        m["lineage.resume_s"] = tr.durations(fspans,
                                             "lineage.run_resumable")[-1]
        m["lineage.jobs"] = len(ev.jobs_in(tr.groups_under(
            fspans, {"lineage.commit", "lineage.completed_buckets",
                     "lineage.metrics"})))
        m["sink.bytes_written"] = fan["sink_bytes"]
        m["sink.files_written"] = fan["sink_files"]
        m["sink.write_amp"] = fan["sink_bytes"] / fan["input_bytes"]
    build_names = {"plans.flagship.build"}
    first = tr.of_traces([traced[0]["trace"]])
    shapes = {wl.name: ev.plan_shape(tr.groups_under(first, {"pass"}))}
    if isinstance(wl, Queries):
        shapes = {}
        for q in wl.names:
            m[f"q.{q}.build_s"] = per_pass(f"q.{q}.build")
            m[f"q.{q}.exec_s"] = per_pass(f"q.{q}.exec")
            build_names.add(f"q.{q}.build")
            shapes[q] = ev.plan_shape(tr.groups_under(
                first, {f"q.{q}.build", f"q.{q}.exec"}))
            for k in ("window_ops", "exchange_ops", "generate_ops"):
                m[f"q.{q}.{k}"] = shapes[q][k]
        # Generate-node output rows of the pair queries: candidate pairs
        m["pairs.candidate_rows"] = sum(ev.metrics(
            tr.groups_under(spans, {f"q.{q}.build", f"q.{q}.exec"}),
            1.0, cores, n)["pairs.candidate_rows"] for q in PAIRS)
        if m["pairs.candidate_rows"]:
            m["pairs.yield"] = (sum(warm["out_rows"].get(q, 0) for q in PAIRS)
                                / m["pairs.candidate_rows"])
    for k in ("sort_ops", "arrow_ops", "bhj_ops"):
        m[f"plan.{k}"] = sum(c[k] for c in shapes.values())
    m["driver.build_s"] = sum(per_pass(b) for b in build_names)
    m["driver.build_jobs"] = len(ev.jobs_in(
        tr.groups_under(spans, build_names))) / n
    return m


def check_split(tr, traced, untraced, names) -> int:
    """Each query's build_s + exec_s in the traced passes against its wall
    measured on its own in the untraced passes of the same run; returns the
    number of queries whose traced times lie more than 5% outside the range
    of those walls (above the slowest or below the fastest).  On a shared
    host one query's wall varies by 10-30% from pass to pass, so a 5% test
    against any single wall, or against a median of three, fails on noise
    alone; a range gap means the split loses or adds time."""
    gaps, parts_s, walls = {}, {}, {}
    for q in names:
        parts_s[q] = []
        for p in traced:
            spans = tr.of_traces([p["trace"]])
            parts_s[q].append(sum(tr.durations(spans, f"q.{q}.build"))
                              + sum(tr.durations(spans, f"q.{q}.exec")))
        walls[q] = [p["q_wall"][q] for p in untraced]
        lo, hi = min(walls[q]), max(walls[q])
        gaps[q] = (max(min(parts_s[q]) - hi, 0) / hi
                   + min(max(parts_s[q]) - lo, 0) / lo)
    bad = sum(abs(g) > SPLIT_TOLERANCE for g in gaps.values())
    record("build_exec_split", {"gap_frac": gaps, "parts_s": parts_s,
                                "wall_s": walls, "tolerance": SPLIT_TOLERANCE,
                                "failed": bad})
    return bad


def scaling_pass(wl, ctx, tok_per_s_n: float, cores: int) -> dict:
    """Flagship tok/s at local[1] against local[nproc]: one checked pass in
    a new context in the same JVM (its JIT is warm), event log off.  The
    pass result carries the efficiency as ``eff``."""
    ctx.spark.stop()
    ctx.spark, _ = start_spark("local[1]", trace=False)
    res = wl.run_pass(ctx, check=True)
    tok_per_s_1 = wl.tokens / res["wall"]
    record("scaling", {"tok_per_s_local1": tok_per_s_1,
                       "tok_per_s_nproc": tok_per_s_n, "nproc": cores})
    res["eff"] = tok_per_s_n / (cores * tok_per_s_1)
    return res


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["flagship", "queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    for need in ("pastash_spark", "scripts/package.sh",
                 "scripts/check_oracle.py", "__spark_entry__.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            log(f"not a pastash_spark checkout: {need} is missing")
            return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    import sysinfo
    import workloads
    from eventlog import EventLog, read_events
    from spans import Tracer

    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    os.chdir(WORK)
    record("package", {"zip_sha256": sysinfo.rebuild_package(ROOT)})
    t_run = time.time()
    window = {"steal_before": sysinfo.steal_probe(), "start": t_run}

    cores = sysinfo.nproc()
    master = f"local[{cores}]"
    trace = bool(args.trace)
    wl = workloads.make(args.workload)
    oracle = workloads.load_check_oracle(ROOT)
    ctx = Ctx(args.seed, None, Tracer(), oracle)

    rss = sysinfo.RssSampler()  # peak over the timed passes
    spark, start_s = start_spark(master, trace)
    ctx.spark = spark
    try:
        ctx.tracer.sc = spark.sparkContext
        env = sysinfo.environment(spark, master)
        env.update({"seed": args.seed, "inputs": wl.prepare(ctx),
                    "workload": wl.name})
        record("env", env)

        log(f"session {start_s:.1f}s, inputs at {time.time() - t_run:.1f}s")
        t0 = time.perf_counter()
        warm = wl.run_pass(ctx, check=True)
        log(f"checked pass done at {time.time() - t_run:.1f}s")
        warmups = [wl.run_pass(ctx, check=False)
                   for _ in range(wl.extra_warm)]
        setup_s = start_s + time.perf_counter() - t0
        log(f"warm-up done at {time.time() - t_run:.1f}s")
        attempted = sum(p["ops"] for p in [warm] + warmups)
        failed = sum(p["failed"] for p in [warm] + warmups)

        # Timed passes.  Peak RSS covers only these: input generation and
        # the DuckDB references ran in a child process, and the checked
        # pass is done.  A traced run interleaves untraced and traced
        # passes in ABBA order, so a warm-up trend cancels out of the
        # overhead.
        untraced, traced, fan, layers, scaling = [], [], None, {}, None
        tr = ctx.tracer

        def traced_run():
            patch_public_calls(tr)
            try:
                traced.append(traced_pass(
                    tr, f"{wl.name}-{len(traced)}",
                    lambda: wl.run_pass(ctx, check=False)))
            finally:
                tr.unpatch()

        def untraced_run():
            cpu0 = sysinfo.tree_cpu_seconds() - rss.cpu_s
            res = wl.run_pass(ctx, check=False)
            res["cpu"] = sysinfo.tree_cpu_seconds() - rss.cpu_s - cpu0
            untraced.append(res)

        rss.start()
        t0 = time.perf_counter()
        while True:
            order = [untraced_run] + ([traced_run] if trace else [])
            for run in order[::-1] if len(untraced) % 2 else order:
                run()
            if (time.perf_counter() - t0 >= args.seconds
                    and len(traced) >= MIN_TRACED * trace
                    and len(untraced) >= MIN_TRACED * trace):
                break
        rss.stop()
        if trace and isinstance(wl, workloads.Flagship):
            patch_public_calls(tr)
            fan = traced_pass(tr, "fanout-0", lambda: wl.fanout_pass(ctx))
            tr.unpatch()
            layers = wl.layers(ctx, LAYER_ROUNDS)
            record("layers", {"rounds": LAYER_ROUNDS, **layers})
        log(f"{len(untraced)} + {len(traced)} timed passes done at "
            f"{time.time() - t_run:.1f}s")
        for p in untraced + traced + ([fan] if fan else []):
            attempted += p["ops"]
            failed += p["failed"]

        walls = [p["wall"] for p in untraced]
        wall_s = statistics.median(walls)
        e2e = {"setup_s": setup_s, "wall_s": wall_s,
               "rows_per_s": warm["rows"] / wall_s,
               "cpu_s": statistics.median(p["cpu"] for p in untraced),
               "peak_rss_mb": rss.peak / 2**20}
        extra = {}
        if "tokens" in warm:
            extra["tok_per_s"] = warm["tokens"] / wall_s
            if trace:
                scaling = scaling_pass(wl, ctx, extra["tok_per_s"], cores)
                attempted += scaling["ops"]
                failed += scaling["failed"]
    finally:  # also on errors and SIGTERM: no JVM outlives the run
        rss.stop()
        stop_spark(ctx.spark)
    log(f"stopped at {time.time() - t_run:.1f}s")
    window.update({"steal_after": sysinfo.steal_probe(), "end": time.time()})
    record("window", window)

    metrics_out = e2e
    if trace:
        ev = EventLog(read_events(os.path.join(WORK, "eventlog")))
        metrics_out = layer_metrics(wl, ctx.tracer, traced, untraced, fan,
                                    warm, ev, cores)
        metrics_out.update(layers)
        metrics_out["session.start_s"] = start_s
        if scaling is not None:
            metrics_out["flagship.scaling_eff"] = scaling["eff"]
        if isinstance(wl, workloads.Queries):
            attempted += len(wl.names)
            failed += check_split(ctx.tracer, traced, untraced, wl.names)

    record("quantiles", {"wall_s": quantile_note(walls),
                         "cpu_s": quantile_note([p["cpu"] for p in untraced])})
    samples = {"setup_s": 1, "peak_rss_mb": rss.samples}
    for k, v in {**e2e, **extra}.items():
        record("metric", {"name": k, "value": v,
                          "unit": {**END_TO_END, **REPORTED}[k],
                          "samples": samples.get(k, len(walls))})
    record("metric", {"name": "failed_frac", "value": failed / attempted,
                      "unit": "ratio", "samples": attempted})
    units = per_layer_units() if trace else END_TO_END
    result = {
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": float(metrics_out[k]), "unit": units[k]}
                    for k in units},
    }
    if trace:
        out = os.path.join(WORK, f"trace-{wl.name}-{args.seed}.json")
        with open(out, "w") as fh:
            spans = tr.of_traces(p["trace"] for p in traced)
            self_s = {k: v / len(traced)
                      for k, v in tr.self_times(spans).items()}
            json.dump({"env": env, "window": window, "e2e_untraced": e2e,
                       "per_layer": result["metrics"],
                       "self_s_per_pass": self_s,
                       "spans": tr.dump()}, fh)
        record("trace_file", os.path.relpath(out, ROOT))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
