"""The benchmark workloads.

Each workload has ``prepare`` (writes the inputs and reference results,
untimed, and describes the inputs) and ``run_pass`` (one pass; with
``check`` it also verifies the outputs, outside the timed part).  A pass
returns ``{"wall", "ops", "failed", "rows"}`` plus workload extras;
``failed`` counts operations that raised or returned wrong results.
"""

from __future__ import annotations

import importlib.util
import math
import os
import statistics
import time
import traceback
from collections import Counter

import refs

# The registry queries of the keyed-window packs that direction 2 of
# ROADMAP.md ports onto shared latest-per-key / forward-fill kernels, and of
# the in-bucket pair generators that direction 3 folds into one bucket-pair
# kernel.
CORRELATE = ["rtpproxy_correlate"]
PAIRS = ["minhash_lsh_dedup"]
# Source table of each query (its input rows count towards rows_per_s).
QUERY_TABLE = {"rtpproxy_correlate": "events",
               "minhash_lsh_dedup": "documents"}

# Input sizes, cut so that a run fits the benchmark's time budget on a
# 4-vCPU host: every run generates its inputs (about 0.14 ms a flagship row)
# and warms the JIT up from cold.  The cut shifts the mix towards per-job
# cost.  Measured on 4 vCPUs, a flagship row costs about 58 us of Python UDF
# time here against 19 us in a 2M-row table, and driver build is 32-44% of
# a query pass here against 23% at sf0.1 (100k events, 5k documents).
FLAGSHIP_ROWS = 60_000
TABLE_ROWS = {"events": 20_000, "documents": 1_000}
FANOUT_SLICE = 4  # the fanout pass writes 1/FANOUT_SLICE of the table's files
N_BUCKETS = 4
BUCKETS_PER_JOB = 2


def load_check_oracle(root: str):
    """The row normalisation of scripts/check_oracle.py, loaded by path."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(root, "scripts", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _same_rows(got, want) -> bool:
    """Equal row lists; floats (averages, whose summation order Spark does
    not fix) to 1e-9 relative -- rounding both to 9 digits can split a
    value that sits on a rounding boundary."""
    return len(got) == len(want) and all(
        a == b or (isinstance(a, float) and isinstance(b, float)
                   and math.isclose(a, b, rel_tol=1e-9))
        for rg, rw in zip(got, want) for a, b in zip(rg, rw))


def _totals(cols, rows) -> tuple[int, int, Counter]:
    """Rows, tokens and rows per sink of a per-(sink, source) aggregate."""
    count, tok = cols.index("count"), cols.index("sum_tokens")
    per_sink = Counter()
    for r in rows:
        per_sink[r[0]] += r[count]
    return sum(per_sink.values()), sum(r[tok] for r in rows), per_sink


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# --- flagship --------------------------------------------------------------

class Flagship:
    """``flagship.build`` over a seeded ``datagen.write_token_table`` table;
    each pass collects the per-(sink, source) aggregate and compares it with
    a DuckDB recomputation (``refs.py``)."""

    name = "flagship"
    extra_warm = 1  # the second pass still speeds up (JIT tier-up)

    n = FLAGSHIP_ROWS

    def prepare(self, ctx) -> dict:
        from pastash_spark import datagen
        self.path = os.path.join(ctx.work, f"tokens_{self.n}")
        datagen.write_token_table(ctx.spark, self.path, self.n, seed=ctx.seed)
        files = sorted(os.path.join(self.path, f)
                       for f in os.listdir(self.path)
                       if f.endswith(".parquet"))
        self.fan_files = files[:max(1, len(files) // FANOUT_SLICE)]
        ref = refs.compute({"kind": "flagship", "paths": {
            "table": files, "fanout": self.fan_files}}, ctx.work)
        self.cols, rows = ref["table"]
        self.expected = sorted(rows)
        _, self.tokens, _ = _totals(*ref["table"])
        self.fan_rows, self.fan_tokens, self.fan_sinks = _totals(
            *ref["fanout"])
        self.fan_bytes = sum(os.path.getsize(f) for f in self.fan_files)
        return {"rows": self.n, "tokens": self.tokens,
                "fanout_rows": self.fan_rows,
                "path": os.path.relpath(self.path, ctx.root)}

    def run_pass(self, ctx, check: bool) -> dict:
        from pastash_spark import datagen
        from pastash_spark.plans import flagship
        tr, spark = ctx.tracer, ctx.spark
        t0 = time.perf_counter()
        with tr.span("scan"):
            df = spark.read.parquet(self.path)
        out = flagship.build(df, datagen.source_lookup(spark))
        with tr.span("exec"):
            rows = out["aggregates"].collect()
        wall = time.perf_counter() - t0
        got = sorted(tuple(r) for r in rows)
        failed = int(out["aggregates"].columns != self.cols
                     or not _same_rows(got, self.expected))
        if failed:
            ctx.log(f"flagship: aggregate {got} != DuckDB {self.expected}")
        return {"wall": wall, "ops": 1, "failed": failed, "rows": self.n,
                "tokens": self.tokens}

    def layers(self, ctx, rounds: int) -> dict[str, float]:
        """Per-layer execution time by prefix forcing: each prefix of the
        pipeline is run to a noop sink on exactly the columns the final
        aggregate consumes from it.  ``rounds`` times, the five prefixes run
        back to back; a layer's time is the median over the rounds of its
        prefix's wall minus the previous prefix's wall in the same round
        (it can read slightly negative for a layer that costs less than the
        run-to-run noise)."""
        from pastash_spark import datagen
        from pastash_spark.plans import flagship
        spark = ctx.spark
        lookup = datagen.source_lookup(spark)

        def scan():
            return spark.read.parquet(self.path)

        def parsed():
            return flagship.parse_stage(scan())

        def enriched():
            return flagship.enrich_stage(parsed(), lookup)

        def routed():
            return flagship.route_stage(enriched())

        prefixes = [
            ("scan", lambda: _noop(scan().select("source", "n_tok", "raw"))),
            ("parse", lambda: _noop(parsed().select(
                "source", "n_tok", "syslog_severity"))),
            ("enrich", lambda: _noop(enriched().select(
                "source", "n_tok", "syslog_severity", "route_tag",
                "weighted_tokens"))),
            ("route", lambda: _noop(routed().select(
                "_route", "source", "n_tok", "weighted_tokens"))),
            ("aggregate",
             lambda: flagship.aggregate_stage(routed()).collect()),
        ]
        walls = {name: [] for name, _ in prefixes}
        for _ in range(rounds):
            for name, fn in prefixes:
                t0 = time.perf_counter()
                fn()
                walls[name].append(time.perf_counter() - t0)
        out, prev = {}, [0.0] * rounds
        for name, _ in prefixes:
            out[f"{name}.exec_s"] = statistics.median(
                t - p for t, p in zip(walls[name], prev))
            prev = walls[name]
        return out

    def fanout_pass(self, ctx) -> dict:
        """``flagship.run_with_lineage`` over a slice of the same table (a
        quarter of its files): per-bucket dynamic-partition parquet writes
        per sink, lineage commits, then a resume run that must skip every
        bucket.  Checked: committed lineage rows equal the slice's rows, and
        per-sink readback equals the DuckDB sink counts of the slice."""
        from pyspark.sql import functions as F

        from pastash_spark.operators.route import ROUTE_COL
        from pastash_spark.plans import flagship
        spark = ctx.spark
        wd = os.path.join(ctx.work, "fanout")
        t0 = time.perf_counter()
        with ctx.tracer.span("scan"):
            df = spark.read.parquet(*self.fan_files)
        summary = flagship.run_with_lineage(
            spark, df, wd, n_buckets=N_BUCKETS,
            buckets_per_job=BUCKETS_PER_JOB).first()
        wall = time.perf_counter() - t0
        want = {"lineage_buckets_processed": N_BUCKETS,
                "lineage_rows": self.fan_rows,
                "lineage_tokens": self.fan_tokens,
                "lineage_committed_rows": self.fan_rows,
                "resume_buckets_skipped": N_BUCKETS,
                "resume_buckets_processed": 0}
        bad = {k: summary[k] for k, v in want.items() if summary[k] != v}
        per_sink = Counter({r["sink"]: r["rows"] for r in (
            spark.read.parquet(os.path.join(wd, "sinks"))
            .groupBy(F.col(ROUTE_COL).alias("sink"))
            .agg(F.count("*").alias("rows")).collect())})
        if per_sink != self.fan_sinks:
            bad["sink_readback"] = dict(per_sink)
        if bad:
            ctx.log(f"fanout: wrong summary or readback {bad}")
        files = n_bytes = 0
        for root, _dirs, names in os.walk(os.path.join(wd, "sinks")):
            for f in names:
                if f.endswith(".parquet"):
                    files += 1
                    n_bytes += os.path.getsize(os.path.join(root, f))
        return {"wall": wall, "ops": 1, "failed": int(bool(bad)),
                "sink_files": files, "sink_bytes": n_bytes,
                "input_bytes": self.fan_bytes}


# --- registry queries ------------------------------------------------------

class Queries:
    """``__spark_entry__.queries()`` factories over the seeded query tables.
    Each query's build (the factory call) and action run in their own spans;
    a checking pass collects and compares with the DuckDB
    ``queries.ORACLES`` result, a timed pass forces with a noop sink."""

    name = "queries"
    names = CORRELATE + PAIRS
    extra_warm = 1  # the second pass's CPU time still varies with JIT

    def prepare(self, ctx) -> dict:
        import __spark_entry__ as entry
        self.sf_dir = os.path.join(ctx.work, "sf")
        self.want = refs.compute(
            {"kind": "queries", "sf_dir": self.sf_dir, "seed": ctx.seed,
             "rows": TABLE_ROWS, "names": self.names}, ctx.work)
        self.factories = entry.queries()
        self.rows_in = sum(TABLE_ROWS[QUERY_TABLE[q]] for q in self.names)
        return {"rows": self.rows_in, "tables": TABLE_ROWS,
                "sf_dir": os.path.relpath(self.sf_dir, ctx.root)}

    def run_pass(self, ctx, check: bool) -> dict:
        tr, spark = ctx.tracer, ctx.spark
        failed, out_rows, q_wall = 0, {}, {}
        for q in self.names:
            t0 = time.perf_counter()
            try:
                with tr.span(f"q.{q}.build"):
                    df = self.factories[q](spark, self.sf_dir)
                with tr.span(f"q.{q}.exec"):
                    if check:  # Arrow collect: plain Python values, fast
                        table = df.toArrow()
                        rows = list(zip(*(c.to_pylist()
                                          for c in table.columns)))
                    else:
                        _noop(df)
            except Exception:  # one broken query must not hide the rest
                q_wall[q] = time.perf_counter() - t0
                failed += 1
                ctx.log(f"{q}: raised\n{traceback.format_exc()}")
                continue
            q_wall[q] = time.perf_counter() - t0
            if check:
                out_rows[q] = len(rows)
                cols, want = self.want[q]
                norm = ctx.oracle.norm_rows
                if (sorted(df.columns) != sorted(cols)
                        or norm(df.columns, rows) != norm(cols, want)):
                    failed += 1
                    ctx.log(f"{q}: {len(rows)} rows differ from the oracle "
                            f"({len(want)} rows)")
        return {"wall": sum(q_wall.values()), "ops": len(self.names),
                "failed": failed, "rows": self.rows_in, "out_rows": out_rows,
                "q_wall": q_wall}


def make(name: str):
    return Flagship() if name == "flagship" else Queries()
