"""Optimization-round measurement harness: times single leaves of
bench.py's query registry (``bench.builders``) in isolation, with bench.py's
warm-up and min-of-N loop, optionally through a noop-write sink, and can
dump ``.explain("formatted")`` plans to files.

NOT the driver contract — ``bench.py`` prints the driver's JSON line; this
file exists so plan shapes and per-stage costs can be measured leaf by leaf.

Usage:
  python bench_extra.py time  q1 [q2 ...]      # min-of-N wall seconds (force sink)
  python bench_extra.py noop  q1 [q2 ...]      # same, noop-write sink
  python bench_extra.py plan  q1 [q2 ...]      # write plans to $PLAN_DIR
  python bench_extra.py planx q1 [q2 ...]      # execute, append final adaptive plan
  python bench_extra.py list
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, BENCH_DOCS, BENCH_REPEATS,
     PLAN_DIR (default plans/r06), PLAN_SUFFIX (default "before").
"""

from __future__ import annotations

import json
import os
import sys

from pyspark.sql import DataFrame

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import bench as B  # noqa: E402  (the query registry, sink and timing loop)
from seraster_spark.session import get_spark  # noqa: E402


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "time"
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_docs = int(os.environ.get("BENCH_DOCS", "2000000"))
    spark = get_spark(
        "bench_extra", master=f"local[{cpus}]", shuffle_partitions=max(cpus, 16)
    )
    bs = B.builders(spark, sf_dir, n_docs)
    if mode == "list":
        print("\n".join(bs))
        return
    if not names:
        names = list(bs)
    if mode in ("plan", "planx"):
        # "plan"  = formatted initial plan (pre-AQE; cheap, no execution)
        # "planx" = execute the query once, then append the FINAL adaptive
        #           plan (AQE join rewrites, codegen ids) — what actually ran
        plan_dir = os.environ.get("PLAN_DIR", "plans/r06")
        suffix = os.environ.get("PLAN_SUFFIX", "before")
        os.makedirs(plan_dir, exist_ok=True)
        for nme in names:
            df = bs[nme]()
            p = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            if mode == "planx":
                # collect() runs the Dataset's OWN QueryExecution, so the
                # adaptive plan below is the final one that actually ran
                # (safe: every builder returns an aggregated/small frame)
                df.collect()
                p += (
                    "\n\n== Final adaptive plan (after execution) ==\n"
                    + df._jdf.queryExecution().executedPlan().toString()
                )
            path = os.path.join(plan_dir, f"{nme}_{suffix}.txt")
            with open(path, "w") as f:
                f.write(p)
            print(f"wrote {path} ({len(p)} chars)")
        spark.stop()
        return
    B.warm_up(spark, n_docs)
    res = {}
    sink = noop if mode == "noop" else B.force
    for nme, best, _ in B.time_leaves(spark, bs, names, sink):
        res[nme] = best
        print(f"{nme}: {best}", flush=True)
    print(json.dumps(res))
    spark.stop()


if __name__ == "__main__":
    main()
