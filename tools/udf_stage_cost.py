#!/usr/bin/env python
"""Fixed cost of a Python stage in a Spark query, on the current host.

Times a 1-row, 1-partition query whose only projection is (a) a native
expression, (b) a row Python UDF and (c) an Arrow pandas UDF, and prints
the median latency of each.  The row count is 1, so the gap between the
native line and a UDF line is what one Python stage costs a query
whatever its size: worker hand-off, serialization and the extra
evaluation node.  That gap is why the pipeline compiler keeps Python out
of its plans and formats GeoJSON on the driver after the top-k.

Usage: python tools/udf_stage_cost.py [--reps 9]
The session is the engine's own (`session.get_spark`);
SPARK_GRAFT_CPUS and SPARK_GRAFT_DRIVER_MEM size it as they do the engine.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from overturemaps_duckdb_spark.session import get_spark  # noqa: E402


def _median_ms(df, reps: int) -> float:
    df.collect()  # first run: plan, codegen and Python worker start-up
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        df.collect()
        times.append((time.perf_counter() - t0) * 1e3)
    return statistics.median(times)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--reps", type=int, default=9, help="timed runs per kind")
    args = ap.parse_args()

    spark = get_spark("udf_stage_cost", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "4")))
    spark.sparkContext.setLogLevel("FATAL")
    one = spark.range(1, numPartitions=1)
    row_udf = F.udf(lambda i: f"x{i}", "string")
    pandas_udf = F.pandas_udf(lambda s: "x" + s.astype(str), "string")
    kinds = {
        "native": F.concat(F.lit("x"), F.col("id").cast("string")),
        "row_udf": row_udf("id"),
        "pandas_udf": pandas_udf("id"),
    }
    print(f"# 1-row query, median of {args.reps} warm runs, "
          f"{spark.sparkContext.master}, pyspark {spark.version}")
    ms = {name: _median_ms(one.select(expr.alias("v")), args.reps) for name, expr in kinds.items()}
    for name, v in ms.items():
        print(f"{name:<11} {v:8.1f} ms   (+{v - ms['native']:.1f} ms over native)")
    spark.stop()


if __name__ == "__main__":
    main()
