"""The batch workload: passes over declared query keys.

One operation is one key: ``__spark_entry__.queries()[key](spark,
data_dir)`` builds the DataFrame (for recursive keys this runs the
fixpoint's eager jobs), and a ``noop``-sink write executes it,
evaluating every output column. A traced pass also times
``executedPlan()`` between the two, so Catalyst planning shows as its
own span.

The untimed warm pass doubles as the output check: each key's frame is
collected and compared with its DuckDB oracle result by
``oracle_check.compare``.
"""

from __future__ import annotations

import time

from oracle_check import compare

from perfbench import oracle
from perfbench.generator import pass_orders
from perfbench.harness import Run, median, tail


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _check(run: Run, key: str, df, want) -> bool:
    try:
        res = compare(key, df, want)
    except Exception as exc:  # noqa: BLE001 - a failed check is a finding
        run.finding(f"{key}: check raised {type(exc).__name__}: {exc}")
        return False
    if res["rows_match"] and res["schema_match"] and res["values_match"]:
        return True
    detail = {k: v for k, v in res.items() if k != "query"}
    run.finding(f"{key}: output differs from oracle {detail}")
    return False


def run(run: Run, keys: list[str]) -> dict:
    import __spark_entry__ as entry

    spark, tracer = run.spark, run.tracer
    jvm = spark.sparkContext._jvm
    queries = entry.queries()
    with run.excluded():
        sql = entry.oracle_sql()
        want = oracle.expected_results(
            run.data_dir, {k: sql[k] for k in keys}, run.cache_dir
        )

    orders = pass_orders(keys, run.seed)
    wrong: set[str] = set()
    for key in next(orders):  # warm pass: set-up, plus the output check
        try:
            df = queries[key](spark, run.data_dir)
            _noop(df)
        except Exception as exc:  # noqa: BLE001 - counted, run goes on
            run.finding(f"{key}: warm pass raised {type(exc).__name__}: {exc}")
            wrong.add(key)
            continue
        with run.excluded():
            if not _check(run, key, df, want[key]):
                wrong.add(key)
        # Reap the key's scratch checkpoint blocks between keys, as
        # the repo's own marathon runners do (bench.py).
        jvm.System.gc()

    run.setup_done()
    passes: list[dict] = []  # {"traced", "wall", "keys": {key: wall}}
    # three passes when traced: the traced one between two untraced
    while run.measuring(len(passes), traced_minimum=3):
        traced = run.trace and len(passes) % 2 == 1
        tracer.enabled = traced
        walls: dict[str, float] = {}
        for key in next(orders):
            tag = f"pass{len(passes)}/{key}"
            ok = key not in wrong
            t0 = time.perf_counter()
            try:
                with tracer.span("query.build", tag):
                    df = queries[key](spark, run.data_dir)
                if traced:
                    with tracer.span("query.plan", tag):
                        df._jdf.queryExecution().executedPlan()
                with tracer.span("query.exec", tag):
                    _noop(df)
            except Exception as exc:  # noqa: BLE001 - counted, run goes on
                ok = False
                run.finding(f"{key}: raised {type(exc).__name__}: {exc}")
            walls[key] = time.perf_counter() - t0
            run.op(ok, "" if ok else f"{key}: failed")
            jvm.System.gc()
        tracer.resolve()
        passes.append(
            {"traced": traced, "wall": sum(walls.values()), "keys": walls}
        )
    tracer.enabled = False

    plain = [p for p in passes if not p["traced"]]
    key_walls = [w for p in plain for w in p["keys"].values()]
    if run.trace:
        _layers(run, passes)
        run.per_layer.update({
            "query.s_tail": tail(key_walls),
            "query.samples": len(key_walls),
        })
    return {
        "pass_s": median([p["wall"] for p in plain]),
        "query_s_p50": median(key_walls),
    }


def _layers(run: Run, passes: list[dict]) -> None:
    """Per-layer metrics: sums over one traced pass, median over the
    traced passes."""

    tracer = run.tracer
    rows = []
    for i, p in enumerate(passes):
        if not p["traced"]:
            continue
        mine = [s for s in tracer.spans if s.trace.startswith(f"pass{i}/")]
        build = tracer.layer([s for s in mine if s.name == "query.build"])
        plan = tracer.layer([s for s in mine if s.name == "query.plan"])
        exe = tracer.layer([s for s in mine if s.name == "query.exec"])
        rows.append({
            "build.s": build["s"],
            "build.driver_s": build["driver_s"],
            "build.jobs_s": build["jobs_s"],
            "build.jobs": build["jobs"],
            "build.stages": build["stages"],
            "build.tasks": build["tasks"],
            "build.shuffle_bytes": build["shuffle_read_bytes"] + build["shuffle_write_bytes"],
            "build.executor_cpu_s": build["executor_cpu_s"],
            "build.core_util": _util(build, run.cores),
            "catalyst.plan_s": plan["s"],
            "exec.s": exe["s"],
            "exec.jobs": exe["jobs"],
            "exec.stages": exe["stages"],
            "exec.tasks": exe["tasks"],
            "exec.input_bytes": exe["input_bytes"],
            "exec.shuffle_read_bytes": exe["shuffle_read_bytes"],
            "exec.shuffle_write_bytes": exe["shuffle_write_bytes"],
            "exec.spill_bytes": exe["spill_bytes"],
            "exec.executor_run_s": exe["executor_run_s"],
            "exec.executor_cpu_s": exe["executor_cpu_s"],
            "exec.gc_s": exe["gc_s"],
            "exec.core_util": _util(exe, run.cores),
        })
    for name in rows[0]:
        run.per_layer[name] = median([r[name] for r in rows])
    traced = median([p["wall"] for p in passes if p["traced"]])
    plain = median([p["wall"] for p in passes if not p["traced"]])
    run.per_layer["trace.overhead_frac"] = traced / plain - 1.0


def _util(layer: dict, cores: int) -> float:
    """Executor run time over the cores the jobs could have used."""

    if layer["jobs_s"] <= 0:
        return 0.0
    return layer["executor_run_s"] / (layer["jobs_s"] * cores)
