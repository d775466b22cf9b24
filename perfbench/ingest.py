"""ingest_batch workload: ``main.run_batch`` over a sequence of distinct files.

One operation is one batch, on a file no batch has read before. The
first files are written while the JVM starts; later ones are written
between batches, outside the timing, so a faster program never runs
out of inputs. Each batch's outputs are checked against
``updates.expected_outputs`` before the next batch, outside the timing,
and then removed together with its input file.
"""

from __future__ import annotations

import os
import shutil
import statistics

import updates
from layers import CodegenCounter, catalyst_phases_ms

from navigator_data_ingest_spark import main
from navigator_data_ingest_spark.sources import pipeline_updates, sinks


class Ingest:
    def __init__(self, params: dict, seed: int, work: str):
        self.params = params
        self.seed = seed
        self.dir = os.path.join(work, "batches")
        self.docs = params["new_documents"] + params["updated_documents"]
        self.files: dict[int, str] = {}  # written ahead, not yet run
        self.expected: dict[int, dict] = {}
        self.sizes: list[int] = []
        self.next_index = 1
        # [index, input file, output dir, counts or None]: run, not yet checked
        self.pending: list[list] = []
        self.checks: list[tuple[str, str | None]] = []
        os.makedirs(self.dir, exist_ok=True)
        self._warm = os.path.join(self.dir, "warm.json")
        updates.write_batch(updates.make_batch(seed, 0, 50, 50), self._warm)

    def _write(self, index: int) -> str:
        batch = updates.make_batch(self.seed, index, self.params["new_documents"],
                                   self.params["updated_documents"])
        path = os.path.join(self.dir, f"batch{index}.json")
        self.sizes.append(updates.write_batch(batch, path))
        self.expected[index] = updates.expected_outputs(batch)
        return path

    def _take(self) -> tuple[int, str]:
        """The next batch: (index, input file)."""
        index = self.next_index
        self.next_index += 1
        path = self.files.pop(index, None)
        return index, path if path is not None else self._write(index)

    def _check_pending(self) -> None:
        for index, path, out_dir, counts in self.pending:
            want = self.expected.pop(index)
            if counts is not None:  # a batch that raised is already a failed operation
                errors = updates.check_outputs(want, out_dir, counts)
                self.checks.append((f"batch{index}", "; ".join(errors) or None))
            shutil.rmtree(out_dir, ignore_errors=True)
            os.remove(path)
        self.pending.clear()

    def prepare(self) -> None:
        for i in range(1, self.params["prepared_batches"] + 1):
            self.files[i] = self._write(i)

    def input_bytes(self) -> float:
        return statistics.fmean(self.sizes)

    def warm_up(self, spark) -> None:
        """A first read of a tiny batch; the warm batches do the rest."""
        for df in pipeline_updates.read_pipeline_updates(spark, self._warm):
            df.count()

    def before_windows(self, spark) -> list[tuple[str, str | None]]:
        """The warm batches: full size and untimed; their checks come with
        the others after the windows."""
        for _ in range(self.params["warm_batches"]):
            self.run(spark, self._take())
            self._check_pending()
        return []

    def after_windows(self, spark) -> list[tuple[str, str | None]]:
        """(batch, error) for every batch run; error None is a match."""
        self._check_pending()
        return self.checks

    def passes(self):
        """Endless passes of one batch each. Every batch is the same
        operation, so all share one label."""
        while True:
            self._check_pending()
            yield [("batch", self._take())]

    def run(self, spark, batch: tuple[int, str], tracer=None) -> None:
        index, path = batch
        out_dir = os.path.join(self.dir, f"out{index}")
        self.pending.append([index, path, out_dir, None])
        codegen = CodegenCounter(spark) if tracer is not None else None
        self.pending[-1][3] = main.run_batch(spark, path, out_dir)
        if tracer is not None:
            compiles, compile_ms = codegen.delta()
            tracer.add("codegen.compiles", compiles)
            tracer.add("codegen.compile_ms", compile_ms)
            tracer.add("sinks.files_written", sum(
                1 for _, _, files in os.walk(out_dir)
                for f in files if not f.startswith((".", "_"))))

    def trace_patches(self, tracer) -> None:
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        def phases_of(df):
            for phase, ms in catalyst_phases_ms(df).items():
                tracer.add(f"catalyst.{phase}_ms", ms)

        tracer.patch_function(pipeline_updates.read_pipeline_updates, "source")
        for fn in (sinks.write_parser_input, sinks.write_report):
            tracer.patch_function(fn, "sink", lambda a, k: phases_of(a[0]))
        for attr in ("parquet", "json"):
            tracer.patch(DataFrameWriter, attr, "sink", lambda a, k: phases_of(a[0]._df))
        tracer.patch(DataFrame, "count", "count")
