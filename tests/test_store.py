"""The transacted store: its in-memory rows plan as an Arrow-built
``LocalRelation`` with exact statistics, typed exactly as
``createDataFrame(rows)`` would type them, and the parquet spill tier
answers like the heap it replaces."""

import pytest

from declarative_dataflow_spark.engine import (
    AttributeConfig,
    Datom,
    InputSemantics,
)
from declarative_dataflow_spark.plan.datalog import query
from declarative_dataflow_spark.plan.plans import MatchA
from declarative_dataflow_spark.plan.wire import decode_value

from conftest import rows

_NAMES = ["e", "v", "t", "diff", "__seq"]

_SEMANTICS = [
    InputSemantics.RAW,
    InputSemantics.LAST_WRITE_WINS,
    InputSemantics.DISTINCT,
    InputSemantics.COMPARE_AND_SWAP,
]


def _batch(aid, semantics, epoch, n=40):
    if semantics == InputSemantics.COMPARE_AND_SWAP:
        # Entity e moves epoch-1 -> epoch; odd entities also try a
        # stale swap that must not apply.
        ops = [
            Datom.cas(e, aid, epoch - 1 if epoch else None, epoch)
            for e in range(n)
        ]
        return ops + [Datom.cas(e, aid, -1, 99) for e in range(1, n, 2)]
    out = [Datom.add(e, aid, f"v{(e + epoch) % 7}") for e in range(n)]
    if epoch:
        out += [
            Datom.retract(e, aid, f"v{(e + epoch - 1) % 7}")
            for e in range(0, n, 3)
        ]
    return out


def _plan_stats(df):
    plan = df._jdf.queryExecution().optimizedPlan()
    return plan.nodeName(), plan.stats().rowCount().get()


@pytest.mark.parametrize("semantics", _SEMANTICS, ids=lambda s: s.value)
def test_heap_is_local_relation_with_exact_row_count(engine, semantics):
    engine.create_attribute("s/x", AttributeConfig(input_semantics=semantics))
    for epoch in range(3):
        engine.transact(_batch("s/x", semantics, epoch))
    ta = engine._transacted["s/x"]
    assert _plan_stats(ta._heap_df()) == ("LocalRelation", len(ta.rows))


def test_heap_schema_matches_row_inference(spark, engine):
    """Every scalar wire value type gets the schema and the values
    that ``createDataFrame(rows)`` infers — e.g. Real stays
    decimal(38,18), where Arrow alone would say decimal(3,2)."""

    values = {
        "eid": [{"Eid": 5}, {"Eid": 7}],
        "number": [{"Number": -3}, {"Number": 1 << 40}],
        "string": [{"String": "x"}, {"String": ""}],
        "bool": [{"Bool": True}, {"Bool": False}],
        "real": [{"Real": 81920}, {"Real": -98304}],
        "instant": [{"Instant": 0}, {"Instant": 1_700_000_000_000}],
    }
    for aid in values:
        engine.create_attribute(aid)
    engine.transact(
        [
            Datom(e, aid, decode_value(v), None, w)
            for aid, vs in values.items()
            for e, (v, w) in enumerate(zip(vs, (1, -1)), start=1)
        ]
    )
    for aid in values:
        ta = engine._transacted[aid]
        got = ta._heap_df()
        want = spark.createDataFrame(ta.rows).toDF(*_NAMES)
        assert got.schema == want.schema, aid
        assert sorted(got.collect()) == sorted(want.collect()), aid
    real = engine._transacted["real"]._heap_df()
    assert dict(real.dtypes)["v"] == "decimal(38,18)"


def test_cas_heap_keeps_explicit_struct_schema(spark, engine):
    """CAS ops convert straight from (old, new) tuples into the
    explicit struct<old,new> schema, NULL fields included."""

    engine.create_attribute(
        "c/x",
        AttributeConfig(
            input_semantics=InputSemantics.COMPARE_AND_SWAP,
            cas_value_type="string",
        ),
    )
    engine.transact(
        [
            Datom.cas(1, "c/x", None, "a"),
            Datom.cas(1, "c/x", "a", None),
            Datom.cas(2, "c/x", None, None),
        ]
    )
    ta = engine._transacted["c/x"]
    got = ta._heap_df()
    want = spark.createDataFrame(ta.rows, schema=ta._schema())
    assert got.schema == want.schema
    assert got.orderBy("__seq").collect() == want.orderBy("__seq").collect()
    assert dict(got.dtypes)["v"] == "struct<old:string,new:string>"
    assert rows(engine.implement(MatchA("?e", "c/x", "?v"))) == []


def test_transacted_join_broadcasts(engine):
    """The heap's statistics reach the read path: a two-attribute join
    over a few thousand transacted rows broadcasts instead of
    sort-merging."""

    engine.create_attribute("city")
    engine.create_attribute("age")
    engine.transact(
        [Datom.add(e, "city", f"c{e % 5}") for e in range(3000)]
        + [Datom.add(e, "age", e % 90) for e in range(3000)]
    )
    df = query(engine, "[:find ?e ?c ?a :where [?e :city ?c] [?e :age ?a]]")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert df.count() == 3000


@pytest.mark.parametrize("semantics", _SEMANTICS, ids=lambda s: s.value)
def test_spill_tier_answers_like_the_heap(spark, monkeypatch, semantics):
    """With a small spill threshold the reads (parquet spill unioned
    with the heap) equal those of an attribute that never spilled."""

    from declarative_dataflow_spark.engine import Engine

    cfg = AttributeConfig(input_semantics=semantics)
    heap, spilled = Engine(spark), Engine(spark)
    for eng in (heap, spilled):
        eng.create_attribute("s/x", cfg)
    monkeypatch.setattr(spilled._transacted["s/x"], "SPILL_ROWS", 50)
    # Every full batch passes the threshold and flushes; the short
    # last one stays on the heap.
    batches = [_batch("s/x", semantics, epoch) for epoch in range(4)]
    batches.append(_batch("s/x", semantics, 4)[:5])
    for batch in batches:
        for eng in (heap, spilled):
            eng.transact(batch)
    ta = spilled._transacted["s/x"]
    assert ta._spill_dir is not None and ta.rows
    assert heap._transacted["s/x"]._spill_dir is None
    read = MatchA("?e", "s/x", "?v")
    assert rows(spilled.implement(read)) == rows(heap.implement(read))
