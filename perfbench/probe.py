"""One set-up sample in a fresh process: package import -> ``get_spark``
ready -> DBC parsed.  Prints ``{"wall_s": ..., "cpu_s": ...}`` and stops
its JVM.

    python3 perfbench/probe.py <bus.dbc>
"""

from __future__ import annotations

import json
import sys
import time

import harness  # numpy, pandas: loaded before the clock, as in run.py


def timed_setup(dbc_path: str):
    """Package import to a parsed DBC; returns ``({"wall_s", "cpu_s"}, spark)``.
    ``cpu_s`` counts this process and the JVM it launches."""
    t0, c0 = time.perf_counter(), time.process_time()
    from dbc_informed_socketcan_to_parquet_spark.dbc.parser import parse_dbc
    from dbc_informed_socketcan_to_parquet_spark.session import get_spark

    spark = get_spark("dbc-decode-cli", extra_conf=harness.spark_conf())
    parse_dbc(dbc_path)
    wall = time.perf_counter() - t0
    cpu = time.process_time() - c0 + harness.tree_cpu_s(harness.descendants())
    return {"wall_s": wall, "cpu_s": cpu}, spark


if __name__ == "__main__":
    harness.pin_environment()
    sample, spark = timed_setup(sys.argv[1])
    harness.stop_spark(spark)
    print(json.dumps(sample), flush=True)
