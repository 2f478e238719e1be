"""Scratch materialization (declarative_dataflow_spark.scratch):
``materialize`` is a stock executor-local localCheckpoint by default;
with spark.declarativeDataflow.reliableScratch=true it is a RELIABLE
DataFrame.checkpoint instead (cluster recompute-on-loss — the ADVICE
r8 / VERDICT r9 #7 trade made switchable). ``materialize_count``
returns a row count taken inside the materializing jobs."""

import glob
import io
import os
import threading
import time
import tokenize

import pytest
from pyspark.sql import functions as F

from declarative_dataflow_spark import scratch

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def _flag_off(spark):
    """Always restore the default, whatever a test does."""

    yield
    spark.conf.set(scratch.RELIABLE_FLAG, "false")


def _artifacts(spark) -> set:
    d = scratch.ensure_checkpoint_dir(spark).replace("file:", "")
    return set(glob.glob(os.path.join(d, "**", "rdd-*"), recursive=True))


def _group_jobs(spark, fn):
    """Run ``fn`` under a job group of its own; returns (fn's result,
    the group's job ids in submission order)."""

    sc = spark.sparkContext
    group = f"test_scratch_{time.monotonic_ns()}"
    sc.setJobGroup(group, "test_scratch", False)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, sorted(sc.statusTracker().getJobIdsForGroup(group))


def test_flag_switches_mechanism(spark, _flag_off):
    """Default: no checkpoint dir is ever set (stock localCheckpoint
    touches none). Flag on: ``materialize`` sets a checkpoint dir and a
    reliable checkpoint's rdd-* artifacts land in it."""

    df = spark.range(64).selectExpr("id", "id * 3 AS v")

    spark.conf.set(scratch.RELIABLE_FLAG, "false")
    out = scratch.materialize(df)
    assert out.count() == 64

    spark.conf.set(scratch.RELIABLE_FLAG, "true")
    out2 = scratch.materialize(df)
    d = spark.sparkContext.getCheckpointDir()
    assert d is not None
    local = d.replace("file:", "")
    artifacts = glob.glob(os.path.join(local, "**", "rdd-*"), recursive=True)
    assert artifacts, f"no reliable checkpoint artifacts under {d}"
    assert out2.count() == 64


def test_user_local_checkpoint_is_not_rerouted(spark, _flag_off):
    """With the flag on, a user's own ``df.localCheckpoint`` stays a
    local checkpoint: it writes nothing into the checkpoint dir."""

    spark.conf.set(scratch.RELIABLE_FLAG, "true")
    before = _artifacts(spark)
    out = spark.range(32).selectExpr("id * 2 AS v").localCheckpoint(eager=True)
    assert out.count() == 32
    assert _artifacts(spark) == before


def test_operator_results_identical_under_reliable_scratch(
    spark, _flag_off
):
    """A representative scratch-heavy operator (minhash_lsh_pairs:
    shingle-set checkpoint feeding both sides of the band join)
    returns the IDENTICAL pair set under both mechanisms — the flag
    changes durability, never semantics."""

    from declarative_dataflow_spark.operators import dedup

    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog today"),
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "a completely different document about spark engines"),
            (3, "a completely different document about spark engines"),
        ],
        ["doc_id", "text"],
    )

    spark.conf.set(scratch.RELIABLE_FLAG, "false")
    base = sorted(tuple(r) for r in dedup.minhash_lsh_pairs(docs).collect())

    spark.conf.set(scratch.RELIABLE_FLAG, "true")
    routed = sorted(tuple(r) for r in dedup.minhash_lsh_pairs(docs).collect())

    assert routed == base and base, "flag changed operator results"


@pytest.mark.parametrize("reliable", ["false", "true"])
@pytest.mark.parametrize("rows", [60, 0])
def test_materialize_count_counts(spark, _flag_off, reliable, rows):
    """The observed count equals ``count()`` of the frame, and of its
    filter when ``where`` is given, empty frames included."""

    spark.conf.set(scratch.RELIABLE_FLAG, reliable)
    df = (
        spark.range(rows)
        .groupBy((F.col("id") % 20).alias("k"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    where = F.col("k") < 7
    out, n = scratch.materialize_count(df)
    assert n == df.count() == out.count() == (20 if rows else 0)
    out, n = scratch.materialize_count(df, where)
    assert n == df.filter(where).count() == (7 if rows else 0)
    assert out.count() == df.count()


def test_materialize_count_runs_no_extra_job(spark):
    """Counting rides the checkpoint's own jobs: no more jobs than a
    plain ``materialize`` of a fresh copy of the same plan."""

    def plan():
        return (
            spark.range(500)
            .groupBy((F.col("id") % 13).alias("k"))
            .agg(F.sum("id").alias("s"))
        )

    (_, n), counted = _group_jobs(
        spark, lambda: scratch.materialize_count(plan(), F.col("s") > 0)
    )
    _, plain = _group_jobs(spark, lambda: scratch.materialize(plan()))
    assert n == 13
    assert plain and len(counted) <= len(plain)


def test_materialize_count_raises_the_spark_error(spark):
    """A failing action surfaces as the Spark error, not as a count (or
    a wait on an Observation that never arrives)."""

    df = spark.range(20).select(
        F.when(F.col("id") == 13, F.raise_error(F.lit("scratch-boom")))
        .otherwise(F.col("id"))
        .alias("id")
    )
    result = {}

    def run():
        try:
            result["count"] = scratch.materialize_count(df)[1]
        except Exception as exc:  # noqa: BLE001 - asserted below
            result["error"] = exc

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(120)
    assert not t.is_alive(), "materialize_count hung on a failed action"
    assert "count" not in result
    assert "scratch-boom" in str(result["error"])


def test_checkpoint_jobs_name_their_operator(spark):
    """An eager checkpoint's jobs carry the calling operator's name as
    their description; the job group and the previous description are
    left as they were."""

    from declarative_dataflow_spark.operators.graph import kcore

    sc = spark.sparkContext
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4)], ["src", "dst"]
    )

    def run():
        rows = kcore(edges, 2).collect()
        return rows, sc.getLocalProperty("spark.job.description")

    (rows, description), jobs = _group_jobs(spark, run)
    assert sorted(r[0] for r in rows) == [1, 2, 3]
    assert description == "test_scratch"
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    described = []
    for job_id in jobs:
        d = store.job(job_id).description()
        described.append(d.get() if d.isDefined() else None)
    assert "kcore" in described, described
    assert "test_scratch" in described, described  # the final collect


def _code_calls(path: str, names: set) -> list:
    """(line, name) of every ``.name(`` call in the file's code, with
    comments and strings (docstrings included) skipped."""

    with open(path, encoding="utf-8") as fh:
        toks = [
            t
            for t in tokenize.generate_tokens(io.StringIO(fh.read()).readline)
            if t.type
            not in (tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE)
        ]
    return [
        (tok.start[0], tok.string)
        for prev, tok, nxt in zip(toks, toks[1:], toks[2:])
        if tok.type == tokenize.NAME
        and tok.string in names
        and prev.string == "."
        and nxt.string == "("
    ]


def test_only_the_scratch_module_checkpoints():
    """Every scratch table of the package goes through
    ``scratch.materialize``: no other program module calls
    ``.localCheckpoint(`` or ``.checkpoint(`` itself, and importing the
    package leaves pyspark's DataFrame untouched."""

    pkg = os.path.join(REPO, "declarative_dataflow_spark")
    files = [os.path.join(REPO, "__spark_entry__.py")] + [
        p
        for p in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)
        if os.path.basename(p) != "scratch.py"
    ]
    assert len(files) > 20
    offenders = {
        os.path.relpath(p, REPO): calls
        for p in files
        if (calls := _code_calls(p, {"localCheckpoint", "checkpoint"}))
    }
    assert not offenders, offenders

    import pyspark.sql.classic.dataframe as classic

    import declarative_dataflow_spark  # noqa: F401

    assert classic.DataFrame.localCheckpoint.__module__ == classic.__name__
    assert (
        classic.DataFrame.localCheckpoint.__qualname__
        == "DataFrame.localCheckpoint"
    )
