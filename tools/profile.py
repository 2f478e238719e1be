"""Optimization profiler: isolated per-query measurement.

Usage:
    python tools/profile.py <round> <query> [query ...] --sf DIR [--plans SUFFIX]

``<round>`` labels the run (e.g. r14). For each named query (a key of
__spark_entry__.queries()):
  - captures .explain("formatted") to plans/<round>/<query>_<SUFFIX>.txt
    when --plans is given (e.g. --plans before / --plans after)
  - times the query with the bench's own action (.count()) min-of-2
    after one untimed warmup of the host probe, and with the noop
    sink (guide §1.4, full-column evaluation) min-of-2
  - prints one JSON line per query with both numbers.

``--sf`` defaults to $SPARK_GRAFT_SF_DIR. Isolated, label-set (guide
§1.5), GC between runs (bench discipline).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def main() -> None:
    parser = argparse.ArgumentParser(description="isolated per-query profiler")
    parser.add_argument("round", help="run label, e.g. r14")
    parser.add_argument("names", nargs="+", metavar="query")
    parser.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    parser.add_argument("--plans", default=None, metavar="SUFFIX")
    args = parser.parse_args()
    if not args.sf:
        parser.error("--sf is required when $SPARK_GRAFT_SF_DIR is unset")
    rnd, names, sf_dir, plans_suffix = args.round, args.names, args.sf, args.plans

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    os.chdir(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from declarative_dataflow_spark.session import build_session

    spark = build_session(f"profile_{rnd}")
    import bench
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    # same warmup the bench does
    spark.read.parquet(f"{sf_dir}/nation.parquet").count()
    for warm in ("match_ea", "agg_min"):
        if warm in qs:
            qs[warm](spark, sf_dir).count()
    probe = bench.host_speed_probe(spark)
    print(json.dumps({"host_probe": probe, "sf_dir": sf_dir}), flush=True)

    plans_dir = os.path.join("plans", rnd)
    os.makedirs(plans_dir, exist_ok=True)

    for name in names:
        if name not in qs:
            print(json.dumps({"query": name, "error": "unknown"}), flush=True)
            continue
        spark.sparkContext.setJobDescription(f"{rnd}-profile:{name}")
        if plans_suffix:
            df = qs[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(
                os.path.join(plans_dir, f"{name}_{plans_suffix}.txt"), "w"
            ) as fh:
                fh.write(plan)

        def once_count() -> float:
            spark.sparkContext._jvm.System.gc()
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).count()
            return round(time.perf_counter() - t0, 3)

        def once_noop() -> float:
            spark.sparkContext._jvm.System.gc()
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            return round(time.perf_counter() - t0, 3)

        c = [once_count(), once_count()]
        n = [once_noop(), once_noop()]
        print(
            json.dumps(
                {
                    "query": name,
                    "count_s": min(c),
                    "count_both": c,
                    "noop_s": min(n),
                    "noop_both": n,
                }
            ),
            flush=True,
        )
    post = bench.host_speed_probe(spark)
    print(json.dumps({"host_probe_post": post}), flush=True)


if __name__ == "__main__":
    main()
