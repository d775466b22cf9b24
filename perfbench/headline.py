"""Headline workload: registry queries over the repository's test tables, noop sink.

One operation is one query: the registry function builds the DataFrame
and a noop write executes every expression without collecting rows.
"""

from __future__ import annotations

import os
import random

import oracle
from layers import CodegenCounter, catalyst_phases_ms
from workloads import HEADLINE_WARM_PASSES

from navigator_data_ingest_spark import registry
from navigator_data_ingest_spark.sources import tables as source_tables


class Headline:
    def __init__(self, keys: tuple[str, ...], data_dir: str, seed: int):
        self.keys = keys
        self.seed = seed
        self.data_dir = data_dir
        self.queries = registry.queries()

    def prepare(self) -> None:
        """Nothing to make: the tables are read as they are."""

    def input_bytes(self) -> int:
        return sum(e.stat().st_size for e in os.scandir(self.data_dir))

    def warm_up(self, spark) -> None:
        """A first job; the oracle pass that follows warms each query's own paths."""
        spark.range(0, 1000).selectExpr("sum(id)").collect()

    def before_windows(self, spark) -> list[tuple[str, str | None]]:
        """Every query once against its DuckDB oracle, which also pays each
        query's first-run costs, then untimed noop passes.
        Returns (key, error) per query; error None is a match."""
        checks = self._check(spark)
        for _ in range(HEADLINE_WARM_PASSES):
            for key, error in checks:
                if error is None:
                    self.run(spark, key)
        return checks

    def _check(self, spark) -> list[tuple[str, str | None]]:
        sql = registry.oracle_sql()
        con = oracle.connect(self.data_dir)
        out = []
        try:
            for key in self.keys:
                try:
                    out.append((key, oracle.compare(self.queries[key](spark, self.data_dir),
                                                    con, sql[key])))
                except Exception as e:  # a crash is a failed check, not a failed run
                    out.append((key, f"{type(e).__name__}: {e}"))
        finally:
            con.close()
        return out

    def after_windows(self, spark) -> list[tuple[str, str | None]]:
        return []

    def passes(self):
        """Endless passes of (label, query key): every key once per pass, in an
        order shuffled by the seed."""
        rng = random.Random(self.seed)
        while True:
            order = list(self.keys)
            rng.shuffle(order)
            yield [(key, key) for key in order]

    def run(self, spark, key: str, tracer=None) -> None:
        fn = self.queries[key]
        if tracer is None:
            fn(spark, self.data_dir).write.format("noop").mode("overwrite").save()
            return
        codegen = CodegenCounter(spark)
        df = tracer.wrap("build", fn)(spark, self.data_dir)
        for phase, ms in tracer.wrap("catalyst", catalyst_phases_ms)(df).items():
            tracer.add(f"catalyst.{phase}_ms", ms)
        tracer.wrap("sink", df.write.format("noop").mode("overwrite").save)()
        compiles, compile_ms = codegen.delta()
        tracer.add("codegen.compiles", compiles)
        tracer.add("codegen.compile_ms", compile_ms)

    def trace_patches(self, tracer) -> None:
        tracer.patch_function(source_tables.load_table, "source")
        tracer.patch_function(source_tables.raw_relation, "source")
