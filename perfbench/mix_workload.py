"""The query-mix workload: six catalog queries over generated tables.

One operation is one pass over the mix: every query once, taken from
``__spark_entry__.queries()`` in a seed-permuted order. The first pass
in the fresh session collects each result and compares it, untimed,
with the query's DuckDB oracle the way ``tools/check_parity.py`` does;
the warm passes run each query to the noop sink.

The traced run splits each query into driver-side build (calling the
query function, including any Spark job it fires), Catalyst planning
(forcing the executed plan) and execution (running that same plan).
"""

from __future__ import annotations

import math
import os
import random
import statistics
import sys
import time

import duckdb
import pandas as pd

import star
from spans import Tracer

import __spark_entry__ as entry
from tabular_to_parquet_spark.sources.tables import load_table
from tools.check_parity import normalize

#: the mix; ROADMAP item 3 removes only the ``_fast`` twins, so these
#: names stay. s13_knn_ivf_pq and pl37_gd_linear_regressor are left out:
#: their driver-side builds (~6 s and ~8 s warm, ~10 s each cold) would
#: take most of a run, and vary the most from run to run.
MIX = (
    "g03_kcore",
    "d04_minhash_pairs",
    "h09_product_profit",
    "x39_sentence_stats",
    "pr25_chi2_contingency",
    "a30_sessionized_funnel",
)


#: warm passes after the cold one. The count is fixed: the JIT is still
#: compiling through the first of them, and the CPU that takes is the
#: same from run to run only over the same schedule
WARM_PASSES = 4


def geomean(values) -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def compare(spark_pdf, oracle_pdf) -> str | None:
    """The check_parity comparison: row count, column names, exact
    values after normalisation. None when they match."""
    if len(spark_pdf) != len(oracle_pdf):
        return f"rowcount {len(spark_pdf)} vs {len(oracle_pdf)}"
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        return f"columns {sorted(spark_pdf.columns)} vs {sorted(oracle_pdf.columns)}"
    try:
        pd.testing.assert_frame_equal(
            normalize(spark_pdf), normalize(oracle_pdf), check_dtype=False, check_exact=True
        )
    except AssertionError as exc:
        return f"values: {str(exc).splitlines()[-1][:200]}"
    return None


class MixWorkload:
    def __init__(self, spark, cpu_clock, seed: int, work: str):
        self.spark = spark
        self.cpu = cpu_clock
        self.dir = os.path.join(work, "tables")
        self.rows = star.write_tables(self.dir, seed)
        self.order = list(MIX)
        random.Random(seed).shuffle(self.order)
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        self.attempted = 0
        self.failed = 0
        #: walls of the last :meth:`run`, reported but not gated
        self.walls: dict[str, float] = {}
        #: per-query median warm wall of the last :meth:`run`
        self.warm: dict[str, float] = {}

    def inputs(self) -> dict:
        return {"rows": sum(self.rows.values()), "tables": self.rows, "order": self.order}

    def _query(self, name: str, sink):
        """Run one query into ``sink``; (wall, sink's result or None)."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = sink(self.queries[name](self.spark, self.dir))
        except Exception as exc:  # a failed operation is counted, not fatal
            self.failed += 1
            print(f"{name} failed: {exc!r}", file=sys.stderr)
            out = None
        return time.perf_counter() - t0, out

    def _pass(self, sink):
        """One pass over the mix: each query's wall, the pass's CPU
        seconds, and each query's result."""
        c0 = self.cpu()
        walls, results = {}, {}
        for name in self.order:
            walls[name], results[name] = self._query(name, sink)
        return walls, self.cpu() - c0, results

    def cold_pass(self) -> tuple[dict[str, float], float]:
        """The first pass, results collected; then the untimed oracle
        check of every result."""
        walls, cpu, results = self._pass(lambda df: df.toPandas())
        con = duckdb.connect()
        for table in star.TABLES:
            path = os.path.join(self.dir, f"{table}.parquet")
            con.sql(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")
        for name, pdf in results.items():
            if pdf is None:
                continue
            mismatch = compare(pdf, con.sql(self.oracles[name]).df())
            if mismatch:
                self.failed += 1
                print(f"{name} differs from its oracle: {mismatch}", file=sys.stderr)
        con.close()
        return walls, cpu

    def warm_pass(self) -> tuple[dict[str, float], float]:
        walls, cpu, _ = self._pass(_noop)
        return walls, cpu

    def run(self, seconds: float) -> dict:
        """The cold pass, then warm passes for at least ``seconds`` of
        wall; the end-to-end metrics."""
        cold = self.cold_pass()
        warm = [self.warm_pass() for _ in range(WARM_PASSES)]
        while sum(sum(walls.values()) for walls, _ in warm) < seconds:
            warm.append(self.warm_pass())
        print(f"(walls, cpu) cold {cold} s, warm {warm} s", file=sys.stderr)
        self.warm = {q: statistics.median(walls[q] for walls, _ in warm) for q in self.order}
        self.walls = {
            "run.cold_op_wall_s": sum(cold[0].values()),
            "run.cold_op_cpu_s": cold[1],
            "run.warm_op_wall_s": statistics.median(sum(w.values()) for w, _ in warm),
            "run.query_geomean_s": geomean(self.warm.values()),
        }
        cpu = statistics.fmean(c for _, c in warm)
        return {
            "session_cpu_s": cold[1] + sum(c for _, c in warm),
            "warm_op_cpu_s": cpu,
            "rows_per_cpu_s": sum(self.rows.values()) / cpu,
        }

    def traced(self, run_id: str) -> tuple[dict, Tracer]:
        """Per-layer metrics of one warm pass, the tracing overhead, and
        the tracer that holds the spans."""
        self.run(0)
        tracer = Tracer(self.spark, run_id)
        loads = []
        for table in star.TABLES:
            with tracer.span("sources.tables.load_table") as s:
                load_table(self.spark, self.dir, table)
            loads.append(s)
        layers = {}
        for name in self.order:
            self.attempted += 1
            try:
                with tracer.span(f"q.{name}.build") as build:
                    df = self.queries[name](self.spark, self.dir)
                with tracer.span(f"q.{name}.plan") as plan:
                    qe = df._jdf.queryExecution()
                    qe.executedPlan()
                with tracer.span(f"q.{name}.exec") as exe:
                    qe.toRdd().count()
            except Exception as exc:
                self.failed += 1
                print(f"{name} failed: {exc!r}", file=sys.stderr)
                continue
            layers[name] = (build, plan, exe)
        tracer.collect_counts()

        m = {
            "sources.tables.load_table_s": sum(s.seconds for s in loads),
            "sources.tables.jobs": sum(s.jobs for s in loads),
            "trace.untraced_wall_s": sum(self.warm.values()),
            "trace.traced_wall_s": sum(
                s.seconds for parts in layers.values() for s in parts),
        }
        for name, (build, plan, exe) in layers.items():
            m[f"q.{name}.build_s"] = build.seconds
            m[f"q.{name}.build_jobs"] = build.jobs
            m[f"q.{name}.py4j_calls"] = build.py4j_calls
            m[f"q.{name}.plan_s"] = plan.seconds
            m[f"q.{name}.exec_s"] = exe.seconds
            m[f"q.{name}.exec_jobs"] = exe.jobs
        return m, tracer
