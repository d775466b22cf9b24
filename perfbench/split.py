#!/usr/bin/env python3
"""Fixed/variable split of the 68 headliners.

    python3 perfbench/split.py --large <directory of the sf0.1 tables> [--seed 1]

Times every headliner once, build through noop write, in a fresh
process per scale factor (the sf0.001 tables in perfbench/data, then
the sf0.1 tables named by --large), after the same set-up a benchmark
run does. The sf0.001 time is mostly fixed cost; sf0.1 minus sf0.001 is
the data-dependent part. Prints a markdown table.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def _one(data_dir: str, seed: int) -> dict[str, float | None]:
    import run
    from workloads import HEADLINERS, MASTER

    work = os.path.join(HERE, "_work", f"split-{os.getpid()}")
    os.makedirs(work)
    sys.path.insert(0, run.ROOT)
    try:
        run._configure_environment(work, trace=False)
        from headline import Headline

        from navigator_data_ingest_spark.session import get_spark

        workload = Headline(HEADLINERS, data_dir, seed)
        workload.prepare()
        spark = get_spark(app_name="perfbench-split", master=MASTER)
        workload.warm_up(spark)
        times = {}
        for key in HEADLINERS:
            t0 = time.perf_counter()
            try:
                workload.run(spark, key)
                times[key] = time.perf_counter() - t0
            except Exception as e:
                print(f"split: {key} failed: {type(e).__name__}: {e}", file=sys.stderr)
                times[key] = None
        run._stop(spark)
        return times
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    from workloads import HEADLINE_DATA

    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--small", default=HEADLINE_DATA["headline_sf0.001"],
                    help="directory of the sf0.001 tables")
    ap.add_argument("--large", required=True, help="directory of the sf0.1 tables")
    ap.add_argument("--one", help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.one is not None:
        print(json.dumps(_one(args.one, args.seed)))
        return 0
    small, large = (
        json.loads(subprocess.run(
            [sys.executable, __file__, "--seed", str(args.seed), "--large", args.large,
             "--one", data_dir], capture_output=True, text=True, check=True,
        ).stdout.strip().splitlines()[-1])
        for data_dir in (args.small, args.large))
    print("| query | sf0.001 (s) | sf0.1 - sf0.001 (s) |")
    print("| --- | ---: | ---: |")
    for key, t in small.items():
        delta = None if t is None or large[key] is None else large[key] - t
        print(f"| {key} | {'fail' if t is None else f'{t:.2f}'} | "
              f"{'fail' if delta is None else f'{delta:+.2f}'} |")
    ok = [k for k in small if small[k] is not None and large[k] is not None]
    total_small = sum(small[k] for k in ok)
    total_delta = sum(large[k] - small[k] for k in ok)
    print(f"| **total ({len(ok)} queries)** | **{total_small:.1f}** | **{total_delta:+.1f}** |")
    return 0


if __name__ == "__main__":
    sys.exit(main())
