"""Batch entry point: the reference's `main.py` run shape on Spark.

One invocation = one batch (reference main.py:115): read a
PipelineUpdates JSON, plan the work, write outputs. Where the reference
fans out over a 4-worker thread pool mutating S3 one object at a time,
this plans everything as DataFrames and writes three datasets:

    {out}/parser_input/     initial ParserInput records (JSON lines)
    {out}/archive_plan/     (src_path, dst_path) rename plan parquet
    {out}/report/           the per-(type, error) batch summary JSON

The outputs are unordered datasets. The ingest rules live in
``operators/ingest.py``, the same functions the ``ingest_*`` registry
queries wrap; this module only reads, writes and counts. Each output is
computed once, by its write: its row count is an observed metric of that
write (``DataFrame.observe``), not a second pass. The CLI prints the
counts as ``{'parser_input': n, 'archive_plan': n, 'report': n}``.

Run:
    python -m navigator_data_ingest_spark.main \
        --updates-file new_and_updated_documents.json --output-dir /tmp/out
"""

from __future__ import annotations

import argparse
import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from navigator_data_ingest_spark.operators.ingest import (
    build_parser_input,
    build_report,
    expand_archive_paths,
    map_update_actions,
    order_update_actions,
)
from navigator_data_ingest_spark.sources.pipeline_updates import (
    read_pipeline_updates,
)
from navigator_data_ingest_spark.sources.sinks import write_parser_input, write_report


def _write_counted(df: DataFrame, write, path: str) -> int:
    """``write(df, path)``; returns the row count that write observed."""
    obs = Observation()
    write(df.observe(obs, F.count(F.lit(1)).alias("rows")), path)
    return obs.get["rows"]


def _write_parquet(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


def run_batch(spark: SparkSession, updates_file: str, output_dir: str) -> dict:
    """Execute one ingest batch; returns row counts per output."""
    new_docs, updates = read_pipeline_updates(spark, updates_file)
    outputs = {
        "parser_input": (build_parser_input(new_docs), write_parser_input),
        "archive_plan": (
            expand_archive_paths(order_update_actions(map_update_actions(updates))),
            _write_parquet,
        ),
        "report": (build_report(new_docs, updates), write_report),
    }
    return {
        name: _write_counted(df, write, os.path.join(output_dir, name))
        for name, (df, write) in outputs.items()
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--updates-file", required=True)
    ap.add_argument("--output-dir", required=True)
    ap.add_argument("--master", default=None)
    args = ap.parse_args()
    from navigator_data_ingest_spark.session import get_spark

    spark = get_spark(app_name="ingest-batch", master=args.master)
    counts = run_batch(spark, args.updates_file, args.output_dir)
    print(counts)
    spark.stop()


if __name__ == "__main__":
    main()
