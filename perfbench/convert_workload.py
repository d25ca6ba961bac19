"""The conversion workload: dirty F4 text in, one ordered Parquet file out.

One operation is one call of
``operators.convert.convert_delimited_to_parquet`` on the generated
file, with the reference's full-inference, ordered, one-file contract
(``infer_full``, ``preserve_order``, ``single_file``). Every output is
checked against the generator's ground truth.

The traced run splits the conversion wall into layers by timing the
same plan cut at each layer boundary through the noop sink:

- ``sources.sniff.detect_delimiter_s``: the driver-side sniff;
- ``plans.inference.infer_schema_distributed_s``: the full-scan
  inference job;
- ``sources.text.scan_s``: noop over ``read_delimited_as_strings``;
- ``functions.parsers.cast_s``: noop over ``typed_frame``, minus scan;
- ``operators.convert.observe_s``: noop over ``observed_typed_frame``,
  minus the ``typed_frame`` noop;
- ``operators.convert.order_s``: the observed noop with
  ``preserve_order=True``, minus the one without;
- ``operators.convert.write_s``: the conversion wall minus all of the
  above, so the parts add up to the wall.

``plans.inference.infer_schema_s``, the driver-side sample inference,
is timed as a control: this conversion does not run it.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.parquet as pq

import f4
from spans import Tracer
from tabular_to_parquet_spark.operators.convert import (
    convert_delimited_to_parquet,
    drop_replacement_char_rows,
    observed_typed_frame,
    typed_frame,
)
from tabular_to_parquet_spark.plans.inference import (
    infer_schema,
    infer_schema_distributed,
)
from tabular_to_parquet_spark.sources.sniff import detect_delimiter
from tabular_to_parquet_spark.sources.text import (
    read_delimited_as_strings,
    read_header,
    sanitize_names,
)

ROWS = 10_000
NULL_RATE = 0.05
#: under the 0.995/0.98 inference thresholds, so every column keeps its
#: F4 type; at 2% all 17 columns infer as strings
NOISE_RATE = 0.003
OPTIONS = {"infer_full": True, "preserve_order": True, "single_file": True}

#: warm conversions after the cold one. The count is fixed: the JIT is
#: still compiling through the first of them, and the CPU that takes is
#: the same from run to run only over the same schedule
WARM_CONVERSIONS = 5

_ARROW_TO_SPARK = {
    pa.bool_(): "boolean",
    pa.int64(): "bigint",
    pa.float64(): "double",
    pa.string(): "string",
    pa.date32(): "date",
    pa.timestamp("us"): "timestamp_ntz",
}


def check_output(src: f4.F4File, result, out_path: str) -> list[str]:
    """Every way the conversion's output differs from the ground truth,
    as messages; empty when the output is correct."""
    truth = src.truth
    bad = []
    if result.rows != truth.rows:
        bad.append(f"rows {result.rows} != {truth.rows}")
    for i, name in enumerate(result.columns):
        want = truth.noise[i] if i in f4.TYPED else 0
        got = result.parse_errors.get(name, 0)
        if got != want:
            bad.append(f"parse_errors[{name}] {got} != planted noise {want}")
    if not os.path.isfile(out_path):
        return bad + ["output is not a single file"]
    table = pq.read_table(out_path)
    if table.num_rows != truth.rows:
        bad.append(f"parquet rows {table.num_rows} != {truth.rows}")
    types = [_ARROW_TO_SPARK.get(t, str(t)) for t in table.schema.types]
    if types != f4.SPARK_TYPES:
        return bad + [f"types {types} != F4 {f4.SPARK_TYPES}"]
    for i in range(table.num_columns):
        want = truth.nulls[i] + (truth.noise[i] if i in f4.TYPED else 0)
        if table.column(i).null_count != want:
            bad.append(f"column {i} nulls {table.column(i).null_count} != {want}")
    if table.column(1).to_pylist() != src.int32:
        bad.append("input order not kept")
    return bad


class ConvertWorkload:
    def __init__(self, spark, cpu_clock, seed: int, work: str):
        self.spark = spark
        self.cpu = cpu_clock
        self.src = f4.write_f4(
            os.path.join(work, "input.tsv"), ROWS, seed,
            null_rate=NULL_RATE, noise_rate=NOISE_RATE,
        )
        self.out = os.path.join(work, "output.parquet")
        self.attempted = 0
        self.failed = 0
        #: walls of the last :meth:`run`, reported but not gated
        self.walls: dict[str, float] = {}

    def inputs(self) -> dict:
        return {"rows": self.src.truth.rows, "bytes": self.src.truth.bytes}

    def _convert(self):
        return convert_delimited_to_parquet(self.spark, self.src.path, self.out, **OPTIONS)

    def convert(self) -> tuple[float, float]:
        """One checked conversion; its wall and CPU seconds."""
        self.attempted += 1
        c0, t0 = self.cpu(), time.perf_counter()
        try:
            result = self._convert()
        except Exception as exc:  # a failed operation is counted, not fatal
            self.failed += 1
            print(f"conversion failed: {exc!r}", file=sys.stderr)
            return time.perf_counter() - t0, self.cpu() - c0
        wall, cpu = time.perf_counter() - t0, self.cpu() - c0
        bad = check_output(self.src, result, self.out)
        if bad:
            self.failed += 1
            print("conversion output wrong: " + "; ".join(bad), file=sys.stderr)
        return wall, cpu

    def run(self, seconds: float) -> dict:
        """The cold conversion, then the warm ones, for at least
        ``seconds`` of wall; the end-to-end metrics."""
        cold = self.convert()
        warm = [self.convert() for _ in range(WARM_CONVERSIONS)]
        while sum(wall for wall, _ in warm) < seconds:
            warm.append(self.convert())
        print(f"(wall, cpu) cold {cold} s, warm {warm} s", file=sys.stderr)
        self.walls = {
            "run.cold_op_wall_s": cold[0],
            "run.cold_op_cpu_s": cold[1],
            "run.warm_op_wall_s": statistics.median(wall for wall, _ in warm),
        }
        cpu = statistics.fmean(c for _, c in warm)
        return {
            "session_cpu_s": cold[1] + sum(c for _, c in warm),
            "warm_op_cpu_s": cpu,
            "rows_per_cpu_s": self.src.truth.rows / cpu,
        }

    # -- traced run --------------------------------------------------------

    @contextmanager
    def _conversion_confs(self):
        """The two session confs the conversion pins for its own job
        (operators/convert.py): split size and whole-stage codegen off.
        The layer noops run under the same confs."""
        par = self.spark.sparkContext.defaultParallelism
        split = min(128 << 20, max(4 << 20, self.src.truth.bytes // max(1, par * 2)))
        conf = self.spark.conf
        old = {k: conf.get(k, None) for k in (
            "spark.sql.files.maxPartitionBytes", "spark.sql.codegen.wholeStage")}
        conf.set("spark.sql.files.maxPartitionBytes", str(split))
        conf.set("spark.sql.codegen.wholeStage", "false")
        try:
            yield
        finally:
            for k, v in old.items():
                if v is None:
                    conf.unset(k)
                else:
                    conf.set(k, v)

    def traced(self, run_id: str, reps: int = 3) -> tuple[dict, Tracer]:
        """Per-layer metrics of one conversion (each cut timed ``reps``
        times, the median kept), the tracing overhead, and the tracer
        that holds the spans."""
        self.run(0)
        untraced = statistics.median(self.convert()[0] for _ in range(reps))
        tracer = Tracer(self.spark, run_id)
        path = self.src.path

        def timed(name, fn, n=reps):
            walls = []
            for _ in range(n):
                with tracer.span(name) as s:
                    out = fn()
                walls.append(s.seconds)
            return statistics.median(walls), out, s

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        def raw():
            return read_delimited_as_strings(self.spark, path, delim, names)

        m = {}
        sniff, delim, _ = timed(
            "sources.sniff.detect_delimiter", lambda: detect_delimiter(path), 5)
        names = sanitize_names(read_header(path, delim))
        m["sources.sniff.detect_delimiter_s"] = sniff
        m["plans.inference.infer_schema_s"], _, _ = timed(
            "plans.inference.infer_schema", lambda: infer_schema(path, delim))
        infer, types, infer_span = timed(
            "plans.inference.infer_schema_distributed",
            lambda: infer_schema_distributed(drop_replacement_char_rows(raw(), names)))
        m["plans.inference.infer_schema_distributed_s"] = infer
        with self._conversion_confs():
            scan, _, _ = timed("sources.text.scan", lambda: noop(raw()))
            typed, _, _ = timed(
                "functions.parsers.cast", lambda: noop(typed_frame(raw(), types)))
            observed, _, _ = timed(
                "operators.convert.observe",
                lambda: noop(observed_typed_frame(raw(), types)[0]))
            ordered, _, _ = timed(
                "operators.convert.order",
                lambda: noop(observed_typed_frame(raw(), types, preserve_order=True)[0]))
        m["sources.text.scan_s"] = scan
        m["functions.parsers.cast_s"] = typed - scan
        m["operators.convert.observe_s"] = observed - typed
        m["operators.convert.order_s"] = ordered - observed
        wall, result, span = timed(
            "operators.convert.convert_delimited_to_parquet", self._convert)
        m["operators.convert.write_s"] = wall - sniff - infer - ordered
        m["operators.convert.wall_s"] = wall
        tracer.collect_counts()
        m["plans.inference.jobs"] = infer_span.jobs
        m["operators.convert.jobs"] = span.jobs
        m["operators.convert.stages"] = span.stages
        m["operators.convert.tasks"] = span.tasks
        m["operators.convert.py4j_calls"] = span.py4j_calls
        size = os.path.getsize(self.out)
        m["operators.convert.bytes_out"] = size
        m["operators.convert.files_out"] = 1
        m["operators.convert.row_groups_out"] = pq.ParquetFile(self.out).metadata.num_row_groups
        m["operators.convert.parse_errors"] = sum(result.parse_errors.values())
        m["operators.convert.bytes_out_per_byte_in"] = size / self.src.truth.bytes
        m["trace.untraced_wall_s"] = untraced
        m["trace.traced_wall_s"] = wall
        return m, tracer
