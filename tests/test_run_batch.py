"""The batch entry point, ``main.run_batch``, on synthesized input.

Each output is computed once, by its write, and the returned counts are
that write's observed row counts, so a batch runs a fixed number of
Spark jobs whatever its content.
"""

from __future__ import annotations

import json
import os

import pytest

from navigator_data_ingest_spark.main import run_batch
from navigator_data_ingest_spark.operators.ingest import ingest_archive_paths
from navigator_data_ingest_spark.sources.pipeline_updates import (
    _synthesize_updates_file,
)
from tests.conftest import SF_SMOKE

OUTPUTS = ("parser_input", "archive_plan", "report")

# parser_input: one write job; archive_plan: the action window's shuffle
# and the write; report: the distinct's and the rollup's shuffles and
# the write. A count() per output, or a presentation sort (a range
# exchange plus its sampling job), would add jobs.
BATCH_JOBS = 6


def _batch_file(spark, kind: str, tmp_path) -> str:
    if kind == "empty":
        payload = {"new_documents": [], "updated_documents": {}}
    else:
        synthetic = _synthesize_updates_file(spark, SF_SMOKE)
        if kind == "synthetic":
            return synthetic
        with open(synthetic) as f:
            payload = json.load(f)
        payload["updated_documents"] = {}  # new documents only
    path = str(tmp_path / "new_and_updated_documents.json")
    with open(path, "w") as f:
        json.dump(payload, f)
    return path


def _rows_written(spark, out: str, name: str) -> int:
    path = os.path.join(out, name)
    if name == "archive_plan":
        return spark.read.parquet(path).count()
    return spark.read.text(path).count()  # JSON lines: one row per line


@pytest.mark.parametrize("kind", ["synthetic", "empty", "new_only"])
def test_run_batch_counts_come_from_the_writes(spark, tmp_path, kind):
    path = _batch_file(spark, kind, tmp_path)
    out = str(tmp_path / "out")
    sc = spark.sparkContext
    group = f"run_batch_{kind}"
    sc.setJobGroup(group, "one run_batch")
    try:
        counts = run_batch(spark, path, out)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))

    assert set(counts) == set(OUTPUTS)
    for name in OUTPUTS:
        assert os.path.exists(os.path.join(out, name, "_SUCCESS")), name
        assert counts[name] == _rows_written(spark, out, name), name
    assert jobs == BATCH_JOBS

    if kind == "empty":
        assert counts == {name: 0 for name in OUTPUTS}
    elif kind == "new_only":
        assert counts["archive_plan"] == 0
        assert counts["parser_input"] > 0
        report = spark.read.json(os.path.join(out, "report"))
        assert {r.ingest_type for r in report.collect()} == {"new"}
    else:
        assert all(counts[name] > 0 for name in OUTPUTS)
        plan = spark.read.parquet(os.path.join(out, "archive_plan"))
        want = ingest_archive_paths(spark, SF_SMOKE)
        assert sorted(map(tuple, plan.select(*want.columns).collect())) == sorted(
            map(tuple, want.collect())
        )
