"""Incremental delta-join maintenance
(reference: src/plan/hector.rs delta pipelines, AltNeu old/new split).

The gate: accumulated diffs from DeltaJoin must equal a full recompute
of the same Hector plan on the same inputs, epoch by epoch — including
retractions and self-join (triangle) patterns where a single epoch
touches one binding's attribute in several pipelines.
"""

from collections import Counter

import pytest

from declarative_dataflow_spark import Datom
from declarative_dataflow_spark.plan.plans import (
    AttributeBinding,
    BinaryPredicateBinding,
    Hector,
    Predicate,
)
from declarative_dataflow_spark.streaming.incremental import DeltaJoin


def _apply(acc: Counter, diffs_df) -> Counter:
    for r in diffs_df.collect():
        t = tuple(r)[:-1]
        acc[t] += r["diff"]
    return +acc  # drop zeros


def _full(engine, variables, bindings, datom_log):
    """Full recompute oracle: fresh engine state over all datoms so far."""

    for d in datom_log:
        if d.a not in engine._transacted:
            engine.create_attribute(d.a)
    engine.transact(datom_log)
    df = engine.implement(Hector(variables, bindings))
    out = Counter()
    for r in df.collect():
        row = tuple(r)
        if len(row) == len(variables) + 1:
            out[row[:-1]] += row[-1]
        else:
            out[row] += 1
    return +out


def test_binary_join_with_retraction(spark):
    bindings = [
        AttributeBinding("?e", "name", "?n"),
        AttributeBinding("?e", "age", "?a"),
    ]
    dj = DeltaJoin(spark, ["?e", "?n", "?a"], bindings)
    acc: Counter = Counter()

    batch1 = [
        Datom.add(1, "name", "Dipper"),
        Datom.add(1, "age", 12),
        Datom.add(2, "name", "Mabel"),
    ]
    acc = _apply(acc, dj.transact(batch1))
    assert acc == Counter({(1, "Dipper", 12): 1})

    batch2 = [Datom.add(2, "age", 13)]
    diffs_df = dj.transact(batch2)
    # Only the NEW tuple is emitted — the epoch's work is the delta.
    assert {(tuple(r)[:-1], r["diff"]) for r in diffs_df.collect()} == {
        ((2, "Mabel", 13), 1)
    }
    acc = _apply(acc, diffs_df)
    acc = _apply(acc, dj.transact([Datom.retract(1, "age", 12)]))
    _apply(acc, dj.transact([]))
    assert acc == Counter({(2, "Mabel", 13): 1})


def test_self_join_multiplicities(spark):
    """Same attribute on both sides of the join: both delta pipelines
    fire in one epoch and must not double-count (the AltNeu split)."""

    bindings = [
        AttributeBinding("?a", "edge", "?b"),
        AttributeBinding("?b", "edge", "?c"),
    ]
    dj = DeltaJoin(spark, ["?a", "?b", "?c"], bindings)
    acc: Counter = Counter()
    acc = _apply(acc, dj.transact([Datom.add(1, "edge", 2)]))
    assert acc == Counter()
    acc = _apply(acc, dj.transact([Datom.add(2, "edge", 3)]))
    assert acc == Counter({(1, 2, 3): 1})
    # One batch creating BOTH hops of new paths, plus closing a cycle.
    acc = _apply(
        acc,
        dj.transact(
            [Datom.add(3, "edge", 1), Datom.add(3, "edge", 4)]
        ),
    )
    assert acc == Counter(
        {(1, 2, 3): 1, (2, 3, 1): 1, (2, 3, 4): 1, (3, 1, 2): 1}
    )


def test_triangle_matches_full_recompute(spark, engine):
    """Triangle query [?a edge ?b][?b edge ?c][?a edge ?c] — the
    reference's canonical WCO case (hector_test.rs:230-251) — stays
    equal to a full recompute across randomized epochs."""

    import random

    rng = random.Random(7)
    bindings = [
        AttributeBinding("?a", "edge", "?b"),
        AttributeBinding("?b", "edge", "?c"),
        AttributeBinding("?a", "edge", "?c"),
    ]
    variables = ["?a", "?b", "?c"]
    dj = DeltaJoin(spark, variables, bindings)
    acc: Counter = Counter()
    log: list[Datom] = []
    live: list[tuple[int, int]] = []

    for _ in range(4):
        batch = []
        for _ in range(rng.randint(2, 5)):
            if live and rng.random() < 0.3:
                e, v = live.pop(rng.randrange(len(live)))
                batch.append(Datom.retract(e, "edge", v))
            else:
                e, v = rng.randint(1, 6), rng.randint(1, 6)
                live.append((e, v))
                batch.append(Datom.add(e, "edge", v))
        log.extend(batch)
        acc = _apply(acc, dj.transact(batch))

    assert acc == _full(engine, variables, bindings, log)


def test_predicate_binding(spark):
    bindings = [
        AttributeBinding("?e", "lo", "?x"),
        AttributeBinding("?e", "hi", "?y"),
        BinaryPredicateBinding(["?y", "?x"], Predicate.LT),  # ?x < ?y (reversed convention)
    ]
    dj = DeltaJoin(spark, ["?e", "?x", "?y"], bindings)
    acc: Counter = Counter()
    acc = _apply(
        acc,
        dj.transact(
            [
                Datom.add(1, "lo", 1),
                Datom.add(1, "hi", 5),
                Datom.add(2, "lo", 9),
                Datom.add(2, "hi", 3),
            ]
        ),
    )
    assert acc == Counter({(1, 1, 5): 1})


def test_antijoin_incremental_toggles(spark, engine):
    """Negation: anti-side membership flips retract/re-derive core
    tuples; equal to full recompute across randomized epochs."""

    import random
    from declarative_dataflow_spark.plan.plans import AntijoinBinding

    rng = random.Random(11)
    bindings = [
        AttributeBinding("?e", "name", "?n"),
        AttributeBinding("?e", "flag", "?f"),
        AntijoinBinding("?e", "banned", "?f"),
    ]
    variables = ["?e", "?n", "?f"]
    dj = DeltaJoin(spark, variables, bindings)
    acc: Counter = Counter()
    log: list[Datom] = []
    live_banned: list[tuple[int, int]] = []

    for epoch in range(4):
        batch = []
        for _ in range(rng.randint(2, 4)):
            e = rng.randint(1, 5)
            roll = rng.random()
            if roll < 0.4:
                batch.append(Datom.add(e, "name", f"p{e}"))
                batch.append(Datom.add(e, "flag", rng.randint(0, 2)))
            elif roll < 0.7 or not live_banned:
                f = rng.randint(0, 2)
                live_banned.append((e, f))
                batch.append(Datom.add(e, "banned", f))
            else:
                e2, f2 = live_banned.pop(rng.randrange(len(live_banned)))
                batch.append(Datom.retract(e2, "banned", f2))
        log.extend(batch)
        acc = _apply(acc, dj.transact(batch))

    assert acc == _full(engine, variables, bindings, log)


def test_antijoin_simple_toggle(spark):
    from declarative_dataflow_spark.plan.plans import AntijoinBinding

    dj = DeltaJoin(
        spark,
        ["?e", "?v"],
        [
            AttributeBinding("?e", "val", "?v"),
            AntijoinBinding("?e", "blocked", "?v"),
        ],
    )
    acc: Counter = Counter()
    acc = _apply(acc, dj.transact([Datom.add(1, "val", 10)]))
    assert acc == Counter({(1, 10): 1})
    # Key enters the anti set -> tuple retracts.
    acc = _apply(acc, dj.transact([Datom.add(1, "blocked", 10)]))
    assert acc == Counter()
    # Key leaves the anti set -> tuple returns.
    acc = _apply(acc, dj.transact([Datom.retract(1, "blocked", 10)]))
    assert acc == Counter({(1, 10): 1})


def test_incremental_aggregate_matches_full(spark, engine):
    """Differential reduce over the delta join: only touched keys
    re-aggregate; accumulated output equals a full grouped recompute
    after every epoch, including retractions."""

    import random

    from declarative_dataflow_spark.plan.plans import Aggregate, AggregationFn
    from declarative_dataflow_spark.streaming.incremental import (
        IncrementalAggregate,
    )

    rng = random.Random(3)
    bindings = [
        AttributeBinding("?e", "group", "?g"),
        AttributeBinding("?e", "amount", "?x"),
    ]
    dj = DeltaJoin(spark, ["?e", "?g", "?x"], bindings)
    agg = IncrementalAggregate(dj, ["?g"], AggregationFn.SUM, "?x")
    acc: Counter = Counter()
    log: list[Datom] = []
    live: list[tuple[int, int, int]] = []

    for _ in range(3):
        batch = []
        for _ in range(rng.randint(2, 4)):
            if live and rng.random() < 0.3:
                e, g, x = live.pop(rng.randrange(len(live)))
                batch.append(Datom.retract(e, "amount", x))
            else:
                e = rng.randint(1, 8)
                g, x = e % 3, rng.randint(1, 50)
                if not any(l[0] == e for l in live):
                    batch.append(Datom.add(e, "group", g))
                live.append((e, g, x))
                batch.append(Datom.add(e, "amount", x))
        log.extend(batch)
        acc = _apply(acc, agg.transact(batch))

    # Full recompute oracle.
    for d in log:
        if d.a not in engine._transacted:
            engine.create_attribute(d.a)
    engine.transact(log)
    plan = Aggregate(
        ["?g", "?x"],
        Hector(["?g", "?x", "?e"], bindings),
        [AggregationFn.SUM],
        ["?g"],
        ["?x"],
        with_variables=["?e"],
    )
    expected = Counter(
        {tuple(r): 1 for r in engine.implement(plan).collect()}
    )
    assert acc == expected


@pytest.mark.parametrize("reduce", ["aggregate", "topk"])
def test_reduce_seeds_from_seeded_delta_join(spark, engine, reduce):
    """A reduce built directly over a DeltaJoin that already holds
    ``initial`` snapshots starts from them: the batch result before the
    epochs, folded with the diffs of one add and one retract, equals
    the batch plan after each."""

    from declarative_dataflow_spark.plan.plans import (
        Aggregate,
        AggregationFn,
        TopK,
    )
    from declarative_dataflow_spark.streaming.incremental import (
        IncrementalAggregate,
        IncrementalTopK,
    )

    bindings = [
        AttributeBinding("?e", "group", "?g"),
        AttributeBinding("?e", "amount", "?x"),
    ]
    engine.create_attribute("group")
    engine.create_attribute("amount")
    engine.transact(
        [
            Datom.add(1, "group", 0), Datom.add(1, "amount", 5),
            Datom.add(2, "group", 0), Datom.add(2, "amount", 7),
            Datom.add(3, "group", 1), Datom.add(3, "amount", 4),
        ]
    )
    initial = {
        a: engine._transacted[a].dataframe().select("e", "v", "diff")
        for a in ("group", "amount")
    }
    dj = DeltaJoin(spark, ["?e", "?g", "?x"], bindings, initial)
    if reduce == "aggregate":
        maint = IncrementalAggregate(dj, ["?g"], AggregationFn.SUM, "?x")
        plan = Aggregate(
            ["?g", "?x"],
            Hector(["?g", "?x", "?e"], bindings),
            [AggregationFn.SUM],
            ["?g"],
            ["?x"],
            with_variables=["?e"],
        )
    else:
        order = [("?x", False), ("?e", True)]
        maint = IncrementalTopK(dj, order, 2)
        plan = TopK(
            ["?e", "?g", "?x"], Hector(["?e", "?g", "?x"], bindings), order, 2
        )

    def batch_result() -> Counter:
        return Counter({tuple(r): 1 for r in engine.implement(plan).collect()})

    acc = batch_result()
    for batch in (
        [Datom.add(4, "group", 1), Datom.add(4, "amount", 9)],
        [Datom.retract(1, "amount", 5)],
    ):
        engine.transact(batch)
        acc = _apply(acc, maint.transact(batch))
        assert acc == batch_result()


def test_incremental_min_retraction(spark):
    """MIN must recover the runner-up when the minimum retracts —
    the case sum-style state cannot handle."""

    from declarative_dataflow_spark.plan.plans import AggregationFn
    from declarative_dataflow_spark.streaming.incremental import (
        IncrementalAggregate,
    )

    dj = DeltaJoin(
        spark,
        ["?e", "?g", "?x"],
        [
            AttributeBinding("?e", "group", "?g"),
            AttributeBinding("?e", "amount", "?x"),
        ],
    )
    agg = IncrementalAggregate(dj, ["?g"], AggregationFn.MIN, "?x")
    acc: Counter = Counter()
    acc = _apply(
        acc,
        agg.transact(
            [
                Datom.add(1, "group", 0),
                Datom.add(1, "amount", 5),
                Datom.add(2, "group", 0),
                Datom.add(2, "amount", 9),
            ]
        ),
    )
    assert acc == Counter({(0, 5): 1})
    acc = _apply(acc, agg.transact([Datom.retract(1, "amount", 5)]))
    assert acc == Counter({(0, 9): 1})
    # Group empties -> aggregate row retracts entirely.
    acc = _apply(acc, agg.transact([Datom.retract(2, "amount", 9)]))
    assert acc == Counter()


def test_incremental_median_variance(spark):
    from declarative_dataflow_spark.plan.plans import AggregationFn
    from declarative_dataflow_spark.streaming.incremental import (
        IncrementalAggregate,
    )

    def fresh():
        return DeltaJoin(
            spark,
            ["?e", "?g", "?x"],
            [
                AttributeBinding("?e", "group", "?g"),
                AttributeBinding("?e", "amount", "?x"),
            ],
        )

    batch = [
        Datom.add(1, "group", 0), Datom.add(1, "amount", 1),
        Datom.add(2, "group", 0), Datom.add(2, "amount", 5),
        Datom.add(3, "group", 0), Datom.add(3, "amount", 100),
        Datom.add(4, "group", 0), Datom.add(4, "amount", 7),
    ]

    med = IncrementalAggregate(fresh(), ["?g"], AggregationFn.MEDIAN, "?x")
    acc: Counter = Counter()
    acc = _apply(acc, med.transact(batch))
    # Upper-middle of [1,5,7,100] -> 7 (reference: vals[len/2]).
    assert acc == Counter({(0, 7): 1})
    acc = _apply(acc, med.transact([Datom.retract(3, "amount", 100)]))
    # [1,5,7] -> 5
    assert acc == Counter({(0, 5): 1})

    var = IncrementalAggregate(fresh(), ["?g"], AggregationFn.VARIANCE, "?x")
    vacc: Counter = Counter()
    vacc = _apply(
        vacc,
        var.transact(
            [
                Datom.add(1, "group", 0), Datom.add(1, "amount", 2),
                Datom.add(2, "group", 0), Datom.add(2, "amount", 4),
            ]
        ),
    )
    # mean 3, sumsq/n = 10, var = 1.
    assert vacc == Counter({(0, 1.0): 1})

    sd = IncrementalAggregate(fresh(), ["?g"], AggregationFn.STDDEV, "?x")
    sacc: Counter = Counter()
    sacc = _apply(
        sacc,
        sd.transact(
            [
                Datom.add(1, "group", 0), Datom.add(1, "amount", 2),
                Datom.add(2, "group", 0), Datom.add(2, "amount", 6),
            ]
        ),
    )
    # mean 4, var = 4, stddev = 2.
    assert sacc == Counter({(0, 2.0): 1})


def test_stream_delta_join(spark, tmp_path):
    """Streaming datoms -> delta pipelines per micro-batch -> diffs
    (the full reference loop on Structured Streaming)."""

    import json

    from declarative_dataflow_spark.sources.files import stream_datom_source
    from declarative_dataflow_spark.streaming.incremental import (
        stream_delta_join,
    )

    src = tmp_path / "datoms"
    src.mkdir()

    def write_batch(name, rows_):
        with open(src / name, "w") as f:
            for r in rows_:
                f.write(json.dumps(r) + "\n")

    write_batch("b1.json", [
        {"e": 1, "a": "name", "v": "Dipper", "t": 0, "diff": 1},
        {"e": 1, "a": "age", "v": "12", "t": 0, "diff": 1},
    ])

    dj = DeltaJoin(
        spark,
        ["?e", "?n", "?a"],
        [
            AttributeBinding("?e", "name", "?n"),
            AttributeBinding("?e", "age", "?a"),
        ],
    )
    acc: Counter = Counter()
    batches = []

    def sink(diffs, batch_id):
        batches.append(batch_id)
        for r in diffs.collect():
            t = tuple(r)
            acc[t[:-1]] += t[-1]

    q = stream_delta_join(
        dj,
        stream_datom_source(spark, str(src), max_files_per_trigger=1),
        sink,
        checkpoint=str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
        assert +acc == Counter({(1, "Dipper", "12"): 1})
        write_batch("b2.json", [
            {"e": 2, "a": "name", "v": "Mabel", "t": 1, "diff": 1},
            {"e": 2, "a": "age", "v": "13", "t": 1, "diff": 1},
            {"e": 1, "a": "age", "v": "12", "t": 1, "diff": -1},
        ])
        q.processAllAvailable()
        assert +acc == Counter({(2, "Mabel", "13"): 1})
    finally:
        q.stop()


def test_incremental_min_ignores_overretracted(spark):
    """Values at net-negative weight are absent from the multiset: an
    over-retracted low value must not win MIN (same guard as MEDIAN)."""

    from declarative_dataflow_spark.plan.plans import AggregationFn
    from declarative_dataflow_spark.streaming.incremental import (
        IncrementalAggregate,
    )

    dj = DeltaJoin(
        spark,
        ["?e", "?g", "?x"],
        [
            AttributeBinding("?e", "group", "?g"),
            AttributeBinding("?e", "amount", "?x"),
        ],
    )
    agg = IncrementalAggregate(dj, ["?g"], AggregationFn.MIN, "?x")
    acc = _apply(
        Counter(),
        agg.transact(
            [
                Datom.add(1, "group", 0),
                Datom.add(1, "amount", 9),
                Datom.add(2, "group", 0),
                Datom.retract(2, "amount", 1),  # net weight -1
            ]
        ),
    )
    assert acc == Counter({(0, 9): 1})


def _reach_rule():
    from declarative_dataflow_spark import Join, MatchA, NameExpr, Union

    return Union(
        ["?x", "?y"],
        [
            MatchA("?x", "edge", "?y"),
            Join(
                ["?m"],
                NameExpr(["?x", "?m"], "reach"),
                MatchA("?m", "edge", "?y"),
            ),
        ],
    )


def _accumulate(history) -> Counter:
    acc: Counter = Counter()
    for _, rows_ in history:
        for r in rows_:
            t = tuple(r)
            acc[t[:-2]] += t[-2] * t[-1]
    return +acc


def test_incremental_recursion_cycle_deletion(engine):
    """DRed hard case: mutually-supporting path tuples on a cycle must
    all retract when the edge sustaining them disappears."""

    from declarative_dataflow_spark.streaming.incremental import (
        IncrementalRecursion,
    )
    from declarative_dataflow_spark.streaming.reactive import ReactiveSession

    engine.create_attribute("edge")
    engine.register("reach", _reach_rule())
    session = ReactiveSession(engine)
    session.interest("reach")
    assert isinstance(
        session.interests["reach"].delta_join, IncrementalRecursion
    )

    session.transact(
        [Datom.add(1, "edge", 2), Datom.add(2, "edge", 1)]
    )
    assert _accumulate(session.interests["reach"].history) == Counter(
        {(1, 2): 1, (2, 1): 1, (1, 1): 1, (2, 2): 1}
    )
    session.transact([Datom.retract(1, "edge", 2)])
    assert _accumulate(session.interests["reach"].history) == Counter(
        {(2, 1): 1}
    )


def test_incremental_recursion_randomized(engine):
    """Gate: recursive-rule diffs equal full recompute across
    randomized add/retract epochs."""

    import random

    from declarative_dataflow_spark.streaming.incremental import (
        IncrementalRecursion,
    )
    from declarative_dataflow_spark.streaming.reactive import ReactiveSession

    engine.create_attribute("edge")
    engine.register("reach", _reach_rule())
    session = ReactiveSession(engine)
    session.interest("reach")
    assert isinstance(
        session.interests["reach"].delta_join, IncrementalRecursion
    )

    rng = random.Random(7)
    live: list = []
    for _ in range(5):
        batch = []
        for _ in range(rng.randint(1, 4)):
            if live and rng.random() < 0.4:
                e, v = live.pop(rng.randrange(len(live)))
                batch.append(Datom.retract(e, "edge", v))
            else:
                e, v = rng.randint(1, 6), rng.randint(1, 6)
                live.append((e, v))
                batch.append(Datom.add(e, "edge", v))
        session.transact(batch)

    acc = _accumulate(session.interests["reach"].history)
    expected = Counter(
        {tuple(r): 1 for r in engine.interest("reach").collect()}
    )
    assert acc == expected


def _reach_nl_rule():
    from declarative_dataflow_spark import Join, MatchA, NameExpr, Union

    return Union(
        ["?x", "?y"],
        [
            MatchA("?x", "edge", "?y"),
            Join(
                ["?m"],
                NameExpr(["?x", "?m"], "reach_nl"),
                NameExpr(["?m", "?y"], "reach_nl"),
            ),
        ],
    )


def test_incremental_nonlinear_recursion_randomized(engine):
    """Gate: a NON-LINEAR recursive rule (reach . reach) maintained
    incrementally equals full recompute across randomized add/retract
    epochs."""

    import random

    from declarative_dataflow_spark.streaming.incremental import (
        IncrementalRecursion,
    )
    from declarative_dataflow_spark.streaming.reactive import ReactiveSession

    engine.create_attribute("edge")
    engine.register("reach_nl", _reach_nl_rule())
    session = ReactiveSession(engine)
    session.interest("reach_nl")
    assert isinstance(
        session.interests["reach_nl"].delta_join, IncrementalRecursion
    )

    rng = random.Random(11)
    live: list = []
    for _ in range(5):
        batch = []
        for _ in range(rng.randint(1, 4)):
            if live and rng.random() < 0.4:
                e, v = live.pop(rng.randrange(len(live)))
                batch.append(Datom.retract(e, "edge", v))
            else:
                e, v = rng.randint(1, 6), rng.randint(1, 6)
                live.append((e, v))
                batch.append(Datom.add(e, "edge", v))
        session.transact(batch)

    acc = _accumulate(session.interests["reach_nl"].history)
    expected = Counter(
        {tuple(r): 1 for r in engine.interest("reach_nl").collect()}
    )
    assert acc == expected


def test_incremental_mutual_recursion_randomized(engine):
    """Gate: a MUTUAL recursion cycle (even/odd path parity) maintained
    incrementally equals full recompute across randomized epochs."""

    import random

    from declarative_dataflow_spark import Join, MatchA, NameExpr, Union
    from declarative_dataflow_spark.streaming.incremental import (
        IncrementalRecursion,
    )
    from declarative_dataflow_spark.streaming.reactive import ReactiveSession

    engine.create_attribute("edge")
    engine.register(
        "odd",
        Union(
            ["?x", "?y"],
            [
                MatchA("?x", "edge", "?y"),
                Join(
                    ["?m"],
                    NameExpr(["?x", "?m"], "even"),
                    MatchA("?m", "edge", "?y"),
                ),
            ],
        ),
    )
    engine.register(
        "even",
        Union(
            ["?x", "?y"],
            [
                Join(
                    ["?m"],
                    NameExpr(["?x", "?m"], "odd"),
                    MatchA("?m", "edge", "?y"),
                ),
            ],
        ),
    )
    session = ReactiveSession(engine)
    session.interest("odd")
    assert isinstance(
        session.interests["odd"].delta_join, IncrementalRecursion
    )

    rng = random.Random(13)
    live: list = []
    for _ in range(4):
        batch = []
        for _ in range(rng.randint(1, 3)):
            if live and rng.random() < 0.4:
                e, v = live.pop(rng.randrange(len(live)))
                batch.append(Datom.retract(e, "edge", v))
            else:
                e, v = rng.randint(1, 5), rng.randint(1, 5)
                live.append((e, v))
                batch.append(Datom.add(e, "edge", v))
        session.transact(batch)

    acc = _accumulate(session.interests["odd"].history)
    expected = Counter(
        {tuple(r): 1 for r in engine.interest("odd").collect()}
    )
    assert acc == expected


def test_incremental_aggregate_over_recursion(engine):
    """Differential reduce over an iterate: COUNT of reachable nodes
    per source, maintained incrementally over the recursive fixpoint,
    equals full recompute across add/retract epochs."""

    from declarative_dataflow_spark import Aggregate, NameExpr
    from declarative_dataflow_spark.plan.plans import AggregationFn
    from declarative_dataflow_spark.streaming.incremental import (
        IncrementalAggregate,
    )
    from declarative_dataflow_spark.streaming.reactive import ReactiveSession

    engine.create_attribute("edge")
    engine.register("reach", _reach_rule())
    engine.register(
        "reach_count",
        Aggregate(
            ["?x", "?y"],
            NameExpr(["?x", "?y"], "reach"),
            [AggregationFn.COUNT],
            ["?x"],
            ["?y"],
        ),
    )
    session = ReactiveSession(engine)
    session.interest("reach_count")
    assert isinstance(
        session.interests["reach_count"].delta_join, IncrementalAggregate
    )

    session.transact([Datom.add(1, "edge", 2), Datom.add(2, "edge", 3)])
    session.transact([Datom.add(3, "edge", 4)])
    session.transact([Datom.retract(1, "edge", 2)])

    acc = _accumulate(session.interests["reach_count"].history)
    expected = Counter(
        {tuple(r): 1 for r in engine.interest("reach_count").collect()}
    )
    assert acc == expected


def _register_safe_reach(engine):
    """Reachability that never enters a node with a ``blocked`` fact:
    recursion with negation over a static-stratum attribute."""

    from declarative_dataflow_spark import Join, MatchA, NameExpr, Union
    from declarative_dataflow_spark.plan.plans import Antijoin, Project

    engine.create_attribute("edge")
    engine.create_attribute("blocked")

    def not_blocked(p):
        return Antijoin(
            ["?y"], p, Project(["?y"], MatchA("?y", "blocked", "?f"))
        )

    engine.register(
        "safe_reach",
        Union(
            ["?x", "?y"],
            [
                not_blocked(MatchA("?x", "edge", "?y")),
                not_blocked(
                    Join(
                        ["?m"],
                        NameExpr(["?x", "?m"], "safe_reach"),
                        MatchA("?m", "edge", "?y"),
                    )
                ),
            ],
        ),
    )


def test_incremental_stratified_negation_randomized(engine):
    """Gate: a recursive rule with negation over a STATIC-stratum
    attribute (stratified, monotone w.r.t. its cycle) maintained
    incrementally equals full recompute while BOTH the edge relation
    and the negated relation churn."""

    import random

    from declarative_dataflow_spark.streaming.incremental import (
        IncrementalRecursion,
    )
    from declarative_dataflow_spark.streaming.reactive import ReactiveSession

    _register_safe_reach(engine)
    session = ReactiveSession(engine)
    session.interest("safe_reach")
    assert isinstance(
        session.interests["safe_reach"].delta_join, IncrementalRecursion
    )

    rng = random.Random(17)
    live_e: list = []
    live_b: list = []
    for _ in range(5):
        batch = []
        for _ in range(rng.randint(1, 3)):
            if live_e and rng.random() < 0.35:
                e, v = live_e.pop(rng.randrange(len(live_e)))
                batch.append(Datom.retract(e, "edge", v))
            else:
                e, v = rng.randint(1, 6), rng.randint(1, 6)
                live_e.append((e, v))
                batch.append(Datom.add(e, "edge", v))
        if live_b and rng.random() < 0.5:
            b = live_b.pop(rng.randrange(len(live_b)))
            batch.append(Datom.retract(b, "blocked", 1))
        elif rng.random() < 0.6:
            b = rng.randint(1, 6)
            live_b.append(b)
            batch.append(Datom.add(b, "blocked", 1))
        session.transact(batch)

    acc = _accumulate(session.interests["safe_reach"].history)
    expected = Counter(
        {tuple(r): 1 for r in engine.interest("safe_reach").collect()}
    )
    assert acc == expected


def test_incremental_recursion_blocking_add_retracts(engine):
    """Adding a fact to an attribute read under negation retracts every
    path it now blocks, even in a batch with no retraction at all."""

    from declarative_dataflow_spark.streaming.reactive import ReactiveSession

    _register_safe_reach(engine)
    session = ReactiveSession(engine)
    session.interest("safe_reach")
    session.transact([Datom.add(1, "edge", 2), Datom.add(2, "edge", 3)])
    session.transact([Datom.add(3, "blocked", 1)])

    acc = _accumulate(session.interests["safe_reach"].history)
    assert acc == Counter({(1, 2): 1})
    assert acc == Counter(
        tuple(r) for r in engine.interest("safe_reach").collect()
    )


def test_delta_join_lww_attribute(engine):
    """Maintained join over a LastWriteWins attribute: a later write
    RETRACTS the previous winner downstream; randomized churn equals
    full recompute."""

    from declarative_dataflow_spark import Join, MatchA
    from declarative_dataflow_spark.engine import AttributeConfig, InputSemantics
    from declarative_dataflow_spark.streaming.reactive import ReactiveSession

    engine.create_attribute(
        "status",
        AttributeConfig(input_semantics=InputSemantics.LAST_WRITE_WINS),
    )
    engine.create_attribute("grp")
    engine.register(
        "by_group",
        Join(
            ["?e"],
            MatchA("?e", "status", "?s"),
            MatchA("?e", "grp", "?g"),
        ),
    )
    session = ReactiveSession(engine)
    session.interest("by_group")
    assert session.interests["by_group"].delta_join is not None

    session.transact(
        [
            Datom.add(1, "grp", "a"),
            Datom.add(2, "grp", "b"),
            Datom.add(1, "status", "new", t=1),
            Datom.add(2, "status", "new", t=1),
        ]
    )
    # Override entity 1's status: old value must retract downstream.
    session.transact([Datom.add(1, "status", "done", t=2)])
    # Out-of-order write for entity 2 (t=0 < 1): ignored by LWW.
    session.transact([Datom.add(2, "status", "stale", t=0)])

    acc = _accumulate(session.interests["by_group"].history)
    full = engine.interest("by_group")
    if "diff" in full.columns:
        full = full.drop("diff")
    expected = Counter({tuple(r): 1 for r in full.collect()})
    assert acc == expected
    # Sanity on semantics: entity 1 shows "done", entity 2 "new".
    vals = {t[0]: t[1] for t in acc}
    assert vals[1] == "done" and vals[2] == "new"


def test_delta_join_distinct_attribute(engine):
    """Distinct ingest: duplicate adds emit NO downstream diffs; the
    tuple disappears only when net weight reaches zero."""

    from declarative_dataflow_spark import Join, MatchA
    from declarative_dataflow_spark.engine import AttributeConfig, InputSemantics
    from declarative_dataflow_spark.streaming.reactive import ReactiveSession

    engine.create_attribute(
        "tag", AttributeConfig(input_semantics=InputSemantics.DISTINCT)
    )
    engine.create_attribute("grp")
    engine.register(
        "tagged",
        Join(["?e"], MatchA("?e", "tag", "?v"), MatchA("?e", "grp", "?g")),
    )
    session = ReactiveSession(engine)
    session.interest("tagged")

    session.transact(
        [Datom.add(1, "grp", "a"), Datom.add(1, "tag", "x")]
    )
    h1 = len(session.interests["tagged"].history[-1][1])
    session.transact([Datom.add(1, "tag", "x")])  # duplicate: no diff
    h2 = session.interests["tagged"].history[-1][1]
    assert h2 == []
    session.transact([Datom.retract(1, "tag", "x")])  # net 1: still there
    h3 = session.interests["tagged"].history[-1][1]
    assert h3 == []
    session.transact([Datom.retract(1, "tag", "x")])  # net 0: retracts
    acc = _accumulate(session.interests["tagged"].history)
    full = engine.interest("tagged")
    if "diff" in full.columns:
        full = full.drop("diff")
    expected = Counter({tuple(r): 1 for r in full.collect()})
    assert acc == expected
    assert not +acc  # nothing left


def test_incremental_recursion_lww_edges(engine):
    """Recursion over a LastWriteWins attribute: rewriting an entity's
    edge (a later write) retracts every path that used the old edge.
    Incremental diffs equal full recompute."""

    from declarative_dataflow_spark.engine import AttributeConfig, InputSemantics
    from declarative_dataflow_spark.streaming.incremental import (
        IncrementalRecursion,
    )
    from declarative_dataflow_spark.streaming.reactive import ReactiveSession

    engine.create_attribute(
        "edge", AttributeConfig(input_semantics=InputSemantics.LAST_WRITE_WINS)
    )
    engine.register("reach", _reach_rule())
    session = ReactiveSession(engine)
    session.interest("reach")
    assert isinstance(
        session.interests["reach"].delta_join, IncrementalRecursion
    )

    # chain 1->2->3->4 (each node's edge is its LWW value)
    session.transact(
        [
            Datom.add(1, "edge", 2, t=1),
            Datom.add(2, "edge", 3, t=1),
            Datom.add(3, "edge", 4, t=1),
        ]
    )
    # rewire node 2 to 5: paths through 2->3 must retract
    session.transact([Datom.add(2, "edge", 5, t=2)])
    # stale write for node 3 (t=0): ignored
    session.transact([Datom.add(3, "edge", 9, t=0)])

    acc = _accumulate(session.interests["reach"].history)
    full = engine.interest("reach")
    if "diff" in full.columns:
        full = full.drop("diff")
    expected = Counter({tuple(r): 1 for r in full.collect()})
    assert acc == expected
    # semantics: 2 now reaches 5, not 3/4
    assert (2, 5) in acc and (2, 3) not in acc and (1, 4) not in acc


def test_epoch_delta_schema_matches_row_inference(spark):
    """A driver-built delta has exactly the schema ``createDataFrame``
    infers for the same rows, for every scalar wire value type — Arrow
    alone would type the Real column decimal(3,2), which would not
    union with a row-built decimal(38,18) snapshot — and plans as a
    LocalRelation with exact row-count statistics."""

    from declarative_dataflow_spark.plan.wire import decode_value
    from declarative_dataflow_spark.streaming.incremental import epoch_deltas

    values = {
        "eid": [{"Eid": 5}, {"Eid": 7}],
        "number": [{"Number": -3}, {"Number": 1 << 40}],
        "string": [{"String": "x"}, {"String": "y"}],
        "bool": [{"Bool": True}, {"Bool": False}],
        "real": [{"Real": 81920}, {"Real": -98304}],
    }
    batch = [
        Datom(e, aid, decode_value(v), None, w)
        for aid, vs in values.items()
        for e, (v, w) in enumerate(zip(vs, (1, -1)), start=1)
    ]
    deltas = epoch_deltas(spark, batch, set(values), {})
    assert set(deltas) == set(values)
    for aid, df in deltas.items():
        rows = [(d.e, d.v, d.diff) for d in batch if d.a == aid]
        inferred = spark.createDataFrame(rows).toDF("e", "v", "diff")
        assert df.schema == inferred.schema, aid
        assert sorted(df.collect()) == sorted(inferred.collect()), aid
        qe = df._jdf.queryExecution()
        assert qe.optimizedPlan().nodeName() == "LocalRelation", aid
        assert qe.optimizedPlan().stats().rowCount().get() == 2, aid
    assert dict(deltas["real"].dtypes)["v"] == "decimal(38,18)"


def test_epoch_deltas_run_no_spark_job(spark):
    """Building a DeltaJoin's epoch deltas runs no Spark job, and
    attributes no binding references never become deltas."""

    from declarative_dataflow_spark.streaming.incremental import epoch_deltas

    dj = DeltaJoin(
        spark,
        ["?e", "?n", "?a"],
        [
            AttributeBinding("?e", "name", "?n"),
            AttributeBinding("?e", "age", "?a"),
        ],
    )
    batch = [Datom.add(e, "name", f"n{e}") for e in range(50)]
    batch += [Datom.add(e, "age", e % 7) for e in range(50)]
    batch += [Datom.add(e, "unrelated", "x") for e in range(50)]
    sc = spark.sparkContext
    group = "test_epoch_deltas_run_no_spark_job"
    tracker = sc.statusTracker()
    sc.setJobGroup(group, "epoch deltas", False)
    try:
        deltas = epoch_deltas(spark, batch, dj.relevant, dj.semantics)
        assert list(tracker.getJobIdsForGroup(group)) == []
        assert set(deltas) == {"name", "age"}
        assert deltas["age"].count() == 50  # the group does count jobs
        assert list(tracker.getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_cancelled_batch_yields_no_delta(spark, engine):
    """A batch that asserts and retracts the same datom nets to zero on
    the driver: no delta reaches the pipelines, and both a maintained
    join and a maintained recursion still equal ``Engine.interest``."""

    from declarative_dataflow_spark import Join, MatchA
    from declarative_dataflow_spark.streaming.incremental import (
        IncrementalRecursion,
        epoch_deltas,
    )
    from declarative_dataflow_spark.streaming.reactive import ReactiveSession

    cancelled = [Datom.add(3, "edge", 4), Datom.retract(3, "edge", 4)]
    assert epoch_deltas(spark, cancelled, {"edge"}, {}) == {}

    engine.create_attribute("edge")
    engine.register("reach", _reach_rule())
    engine.register(
        "hop2",
        Join(["?m"], MatchA("?x", "edge", "?m"), MatchA("?m", "edge", "?y")),
    )
    session = ReactiveSession(engine)
    session.interest("reach")
    session.interest("hop2")
    assert isinstance(
        session.interests["reach"].delta_join, IncrementalRecursion
    )
    assert isinstance(session.interests["hop2"].delta_join, DeltaJoin)

    session.transact([Datom.add(1, "edge", 2), Datom.add(2, "edge", 3)])
    session.transact(cancelled)
    for name in ("reach", "hop2"):
        assert session.interests[name].history[-1][1] == [], name
    session.transact(cancelled + [Datom.add(3, "edge", 1)])

    for name in ("reach", "hop2"):
        acc = _accumulate(session.interests[name].history)
        full = engine.interest(name)
        if "diff" in full.columns:
            full = full.drop("diff")
        assert acc == Counter(tuple(r) for r in full.collect()), name
        assert acc and max(acc.values()) == 1, name


def test_incremental_aggregate_over_named_view(engine):
    """Aggregate over a NameExpr targeting a NON-recursive conjunctive
    view: routes through IncrementalAggregate over a renamed DeltaJoin
    and equals full recompute across epochs."""

    from declarative_dataflow_spark import Aggregate, Join, MatchA, NameExpr
    from declarative_dataflow_spark.plan.plans import AggregationFn
    from declarative_dataflow_spark.streaming.incremental import (
        IncrementalAggregate,
    )
    from declarative_dataflow_spark.streaming.reactive import ReactiveSession

    engine.create_attribute("team")
    engine.create_attribute("score")
    engine.register(
        "scores",
        Join(
            ["?e"],
            MatchA("?e", "team", "?t"),
            MatchA("?e", "score", "?s"),
        ),
    )
    engine.register(
        "team_total",
        Aggregate(
            ["?t", "?s"],
            NameExpr(["?e", "?t", "?s"], "scores"),
            [AggregationFn.SUM],
            ["?t"],
            ["?s"],
        ),
    )
    session = ReactiveSession(engine)
    session.interest("team_total")
    assert isinstance(
        session.interests["team_total"].delta_join, IncrementalAggregate
    )

    session.transact(
        [
            Datom.add(1, "team", "red"),
            Datom.add(1, "score", 3),
            Datom.add(2, "team", "red"),
            Datom.add(2, "score", 4),
            Datom.add(3, "team", "blue"),
            Datom.add(3, "score", 5),
        ]
    )
    session.transact([Datom.retract(2, "score", 4), Datom.add(2, "score", 6)])

    acc = _accumulate(session.interests["team_total"].history)
    full = engine.interest("team_total")
    if "diff" in full.columns:
        full = full.drop("diff")
    expected = Counter({tuple(r): 1 for r in full.collect()})
    assert acc == expected
    vals = {t[0]: t[1] for t in acc}
    assert vals["red"] == 9 and vals["blue"] == 5


def test_delta_join_cas_attribute(engine):
    """Maintained join over a CompareAndSwap attribute: a successful
    swap retracts the old register value downstream and asserts the
    new one; failed swaps emit nothing; a matching delete retracts."""

    from declarative_dataflow_spark import Join, MatchA
    from declarative_dataflow_spark.engine import AttributeConfig, InputSemantics
    from declarative_dataflow_spark.streaming.reactive import ReactiveSession

    engine.create_attribute(
        "lock",
        AttributeConfig(input_semantics=InputSemantics.COMPARE_AND_SWAP),
    )
    engine.create_attribute("owner")
    engine.register(
        "held",
        Join(
            ["?e"],
            MatchA("?e", "lock", "?holder"),
            MatchA("?e", "owner", "?team"),
        ),
    )
    session = ReactiveSession(engine)
    session.interest("held")
    assert session.interests["held"].delta_join is not None

    session.transact(
        [
            Datom.add(1, "owner", "infra"),
            Datom.add(2, "owner", "data"),
            Datom.cas(1, "lock", None, 7, t=1),   # acquire -> 7
            Datom.cas(2, "lock", None, 9, t=1),   # acquire -> 9
        ]
    )
    # Successful handover on 1 (7 -> 8); failed CAS on 2 (expects 1).
    session.transact(
        [
            Datom.cas(1, "lock", 7, 8, t=2),
            Datom.cas(2, "lock", 1, 99, t=2),
        ]
    )
    # Release entity 2's register (matching delete).
    session.transact([Datom.cas(2, "lock", 9, None, t=3)])

    acc = _accumulate(session.interests["held"].history)
    full = engine.interest("held")
    if "diff" in full.columns:
        full = full.drop("diff")
    expected = Counter({tuple(r): 1 for r in full.collect()})
    assert acc == expected
    got = {t[0]: t[1] for t in acc}
    assert got[1] == 8 and 2 not in got


def test_delta_join_cas_random_churn(spark, engine):
    """Randomized CAS op churn across epochs: the maintained join's
    accumulated diffs equal a full recompute after every epoch."""

    import random

    from declarative_dataflow_spark import Join, MatchA
    from declarative_dataflow_spark.engine import AttributeConfig, InputSemantics
    from declarative_dataflow_spark.streaming.reactive import ReactiveSession

    rng = random.Random(23)
    engine.create_attribute(
        "slot",
        AttributeConfig(input_semantics=InputSemantics.COMPARE_AND_SWAP),
    )
    engine.create_attribute("tag")
    engine.register(
        "tagged",
        Join(["?e"], MatchA("?e", "slot", "?v"), MatchA("?e", "tag", "?g")),
    )
    session = ReactiveSession(engine)
    session.interest("tagged")

    # Model registers so op sequences stay plausible (some succeed).
    model: dict[int, int] = {}
    t = 0
    for e in range(1, 4):
        session.transact([Datom.add(e, "tag", f"g{e % 2}")])
    for _epoch in range(4):
        batch = []
        for _ in range(rng.randint(1, 3)):
            e = rng.randint(1, 3)
            t += 1
            cur = model.get(e)
            roll = rng.random()
            if roll < 0.4:
                old, new = cur, rng.randint(1, 5)       # succeeds
            elif roll < 0.6 and cur is not None:
                old, new = cur, None                    # delete
            else:
                old, new = rng.randint(6, 9), rng.randint(1, 5)  # fails
            if (cur is None and old is None) or cur == old:
                if new is None:
                    model.pop(e, None)
                else:
                    model[e] = new
            batch.append(Datom.cas(e, "slot", old, new, t=t))
        session.transact(batch)

    acc = _accumulate(session.interests["tagged"].history)
    full = engine.interest("tagged")
    if "diff" in full.columns:
        full = full.drop("diff")
    assert acc == Counter({tuple(r): 1 for r in full.collect()})
    assert {t[0]: t[1] for t in acc} == model


def test_incremental_topk_runner_up(spark):
    """Maintained top-k: retracting a ranked tuple pulls in the
    runner-up; diffs accumulate to the current top-k."""

    from declarative_dataflow_spark.streaming.incremental import (
        IncrementalTopK,
    )

    dj = DeltaJoin(
        spark, ["?e", "?s"], [AttributeBinding("?e", "points", "?s")]
    )
    tk = IncrementalTopK(dj, order_by=[("?s", False), ("?e", True)], k=2)
    acc: Counter = Counter()
    acc = _apply(
        acc,
        tk.transact(
            [
                Datom.add(1, "points", 10),
                Datom.add(2, "points", 30),
                Datom.add(3, "points", 20),
            ]
        ),
    )
    assert acc == Counter({(2, 30): 1, (3, 20): 1})
    # Retract the leader: runner-up (1, 10) enters the top-2.
    acc = _apply(acc, tk.transact([Datom.retract(2, "points", 30)]))
    assert acc == Counter({(3, 20): 1, (1, 10): 1})
    # An untouched epoch emits nothing.
    assert tk.transact([Datom.add(9, "unrelated_attr", 1)]).count() == 0


def test_incremental_topk_partitioned_random(spark, engine):
    """Partitioned maintained top-k equals the batch TopK plan after
    randomized add/retract churn."""

    import random

    from declarative_dataflow_spark.plan.plans import TopK
    from declarative_dataflow_spark.streaming.incremental import (
        IncrementalTopK,
    )

    rng = random.Random(31)
    bindings = [
        AttributeBinding("?e", "league", "?g"),
        AttributeBinding("?e", "pts", "?s"),
    ]
    dj = DeltaJoin(spark, ["?g", "?e", "?s"], bindings)
    tk = IncrementalTopK(
        dj, order_by=[("?s", False), ("?e", True)], k=2, partition_by=["?g"]
    )
    acc: Counter = Counter()
    log: list[Datom] = []
    live: list[tuple[int, int]] = []
    eid = 0
    for _ in range(4):
        batch = []
        for _ in range(rng.randint(1, 3)):
            if live and rng.random() < 0.35:
                e, s = live.pop(rng.randrange(len(live)))
                batch.append(Datom.retract(e, "pts", s))
            else:
                eid += 1
                s = rng.randint(1, 50)
                batch.append(Datom.add(eid, "league", f"g{eid % 2}"))
                batch.append(Datom.add(eid, "pts", s))
                live.append((eid, s))
        log.extend(batch)
        acc = _apply(acc, tk.transact(batch))

    for d in log:
        if d.a not in engine._transacted:
            engine.create_attribute(d.a)
    engine.transact(log)
    plan = TopK(
        ["?g", "?e", "?s"],
        Hector(["?g", "?e", "?s"], bindings),
        [("?s", False), ("?e", True)],
        2,
        partition_by=["?g"],
    )
    df = engine.implement(plan, ["g", "e", "s"])
    expected = Counter({tuple(r): 1 for r in df.collect()})
    assert acc == expected


def _batch_hops(spark, edge_rows, sources=None):
    from declarative_dataflow_spark.operators.graph import shortest_hops

    e = spark.createDataFrame(edge_rows, ["src", "dst"])
    s = (
        spark.createDataFrame([(x,) for x in sources], ["node"])
        if sources is not None
        else None
    )
    return {
        (r["x"], r["y"]): r["hops"]
        for r in shortest_hops(e, sources=s).collect()
    }


def test_incremental_shortest_hops_random_churn(spark):
    """Randomized add/retract epochs: the maintained min-hop table
    equals the batch operator on the current edge set after every
    epoch, and the emitted diffs replay to the same table."""

    import random

    from declarative_dataflow_spark.streaming.incremental import (
        IncrementalShortestHops,
    )

    rng = random.Random(11)
    nodes = list(range(12))
    current = {(0, 1), (1, 2), (2, 3), (3, 4), (4, 0), (1, 5), (5, 6)}
    inc = IncrementalShortestHops(
        spark.createDataFrame(sorted(current), ["src", "dst"])
    )
    acc = {
        (r["x"], r["y"]): r["hops"] for r in inc.current().collect()
    }
    for _epoch in range(4):
        adds = set()
        for _ in range(rng.randint(1, 3)):
            e = (rng.choice(nodes), rng.choice(nodes))
            if e[0] != e[1] and e not in current:
                adds.add(e)
        rems = set(rng.sample(sorted(current), k=rng.randint(0, 2)))
        current = (current - rems) | adds
        diffs = inc.apply(
            added=spark.createDataFrame(
                sorted(adds) or [(None, None)], "src long, dst long"
            ).dropna()
            if True
            else None,
            retracted=spark.createDataFrame(
                sorted(rems) or [(None, None)], "src long, dst long"
            ).dropna(),
        ).collect()
        for r in diffs:
            key = (r["x"], r["y"])
            if r["diff"] == 1:
                acc[key] = r["hops"]
            else:
                if acc.get(key) == r["hops"]:
                    del acc[key]
        got = {
            (r["x"], r["y"]): r["hops"] for r in inc.current().collect()
        }
        expect = _batch_hops(spark, sorted(current))
        assert got == expect, (sorted(current), _epoch)
        assert acc == expect, (sorted(current), _epoch)


def test_incremental_shortest_hops_small_epoch_large_snapshot(spark):
    """A small edge epoch against a large maintained snapshot advances
    WITHOUT full recompute: the delete phase touches only pairs whose
    shortest path used a removed edge, the insert phase only improving
    rows — and the result equals the batch operator on the new edges."""

    from declarative_dataflow_spark.streaming.incremental import (
        IncrementalShortestHops,
    )

    n = 5000
    base = (
        [(i, (i * 7 + 1) % n) for i in range(n)]
        + [(i, (i * 13 + 5) % n) for i in range(n)]
        + [(i, (i * 19 + 2) % n) for i in range(n)]
    )  # ~15k edges, 3 out-edges per node: removals reroute locally
    sources = [0, 1, 2]
    inc = IncrementalShortestHops(
        spark.createDataFrame(base, ["src", "dst"]),
        sources=spark.createDataFrame([(x,) for x in sources], ["node"]),
    )
    snapshot_rows = inc.current().count()
    assert snapshot_rows >= 10_000  # a genuinely large maintained state

    adds = [(i, (i * 31 + 17) % n) for i in range(95)]  # ~100-edge epoch
    rems = base[:5]
    diffs = inc.apply(
        added=spark.createDataFrame(adds, ["src", "dst"]),
        retracted=spark.createDataFrame(rems, ["src", "dst"]),
    )
    n_changed = diffs.count()
    got = {(r["x"], r["y"]): r["hops"] for r in inc.current().collect()}
    new_edges = [e for e in base if e not in set(rems)] + adds
    expect = _batch_hops(spark, new_edges, sources=sources)
    assert got == expect
    # The epoch's change set is a fraction of the snapshot — the
    # delta-proportional property that makes maintenance worthwhile
    # (each changed row emits a retract + an assert diff).
    assert 0 < n_changed < snapshot_rows


def test_incremental_shortest_paths_weighted_churn(spark):
    """Weighted maintainer: randomized epochs of edge adds, removals,
    weight decreases (plain add) and weight increases (retract + add)
    keep the maintained min-cost table equal to the batch
    shortest_paths operator on the current weighted edge set."""

    import random

    from declarative_dataflow_spark.operators.graph import shortest_paths
    from declarative_dataflow_spark.streaming.incremental import (
        IncrementalShortestPaths,
    )

    rng = random.Random(23)
    nodes = list(range(10))
    current = {
        (0, 1): 2.0, (1, 2): 1.0, (2, 3): 4.0, (3, 0): 1.0,
        (1, 4): 3.0, (4, 5): 2.0, (0, 5): 9.0,
    }

    def frame(d):
        return spark.createDataFrame(
            [(s, t, w) for (s, t), w in sorted(d.items())],
            ["src", "dst", "cost"],
        )

    inc = IncrementalShortestPaths(frame(current), cost="cost")
    for _epoch in range(4):
        adds: dict = {}
        rems = set()
        for _ in range(rng.randint(1, 3)):
            kind = rng.choice(["add", "rem", "dec", "inc"])
            if kind == "add":
                e = (rng.choice(nodes), rng.choice(nodes))
                if e[0] != e[1] and e not in current:
                    adds[e] = float(rng.randint(1, 9))
            elif kind == "rem" and current:
                rems.add(rng.choice(sorted(current)))
            elif kind == "dec" and current:
                e = rng.choice(sorted(current))
                adds[e] = max(0.5, current[e] - 1.0)
            elif kind == "inc" and current:
                e = rng.choice(sorted(current))
                rems.add(e)
                adds[e] = current[e] + 2.0
        for e in rems:
            current.pop(e, None)
        for e, w in adds.items():
            # plain 'dec' adds only ever lower; 'inc' re-adds after rem
            current[e] = min(current.get(e, float("inf")), w) \
                if e in current else w
        inc.apply(
            added=spark.createDataFrame(
                [(s, t, w) for (s, t), w in sorted(adds.items())]
                or [(None, None, None)],
                "src long, dst long, cost double",
            ).dropna(),
            retracted=spark.createDataFrame(
                sorted(rems) or [(None, None)], "src long, dst long"
            ).dropna(),
        )
        got = {
            (r["x"], r["y"]): r["cost"] for r in inc.current().collect()
        }
        expect = {
            (r["x"], r["y"]): r["cost"]
            for r in shortest_paths(frame(current)).collect()
        }
        assert got == expect, (sorted(current.items()), _epoch)


def test_incremental_shortest_paths_weighted_sources(spark):
    """Weighted maintainer under a sources restriction: the affected
    test coarsens to source trees (no suffix distances exist); churn
    epochs still equal the batch operator restricted to the sources."""

    import random

    from declarative_dataflow_spark.operators.graph import shortest_paths
    from declarative_dataflow_spark.streaming.incremental import (
        IncrementalShortestPaths,
    )

    rng = random.Random(31)
    nodes = list(range(9))
    current = {
        (0, 1): 1.0, (1, 2): 2.0, (2, 3): 1.0, (0, 4): 5.0,
        (4, 5): 1.0, (5, 2): 1.0, (3, 6): 2.0,
    }
    sources = [0, 4]

    def frame(d):
        return spark.createDataFrame(
            [(s, t, w) for (s, t), w in sorted(d.items())],
            ["src", "dst", "cost"],
        )

    src_df = spark.createDataFrame([(x,) for x in sources], ["node"])
    inc = IncrementalShortestPaths(frame(current), cost="cost", sources=src_df)
    for _epoch in range(3):
        adds: dict = {}
        rems = set()
        for _ in range(rng.randint(1, 3)):
            if rng.random() < 0.5 or not current:
                e = (rng.choice(nodes), rng.choice(nodes))
                if e[0] != e[1] and e not in current:
                    adds[e] = float(rng.randint(1, 6))
            else:
                rems.add(rng.choice(sorted(current)))
        for e in rems:
            current.pop(e, None)
        for e, w in adds.items():
            current[e] = w
        inc.apply(
            added=spark.createDataFrame(
                [(s, t, w) for (s, t), w in sorted(adds.items())]
                or [(None, None, None)],
                "src long, dst long, cost double",
            ).dropna(),
            retracted=spark.createDataFrame(
                sorted(rems) or [(None, None)], "src long, dst long"
            ).dropna(),
        )
        got = {(r["x"], r["y"]): r["cost"] for r in inc.current().collect()}
        expect = {
            (r["x"], r["y"]): r["cost"]
            for r in shortest_paths(frame(current), sources=src_df).collect()
        }
        assert got == expect, (sorted(current.items()), _epoch)


def test_incremental_shortest_paths_loop_bound_raises(spark):
    """The maintainer's relaxation raises instead of keeping a partial
    table, both when seeding and when an epoch's improvements need
    more rounds than ``max_iters``."""

    from declarative_dataflow_spark.streaming.incremental import (
        IncrementalShortestHops,
    )

    chain = [(1, 2), (2, 3), (3, 4)]
    with pytest.raises(RuntimeError, match="did not converge"):
        IncrementalShortestHops(
            spark.createDataFrame(chain, ["src", "dst"]), max_iters=1
        )
    inc = IncrementalShortestHops(
        spark.createDataFrame(chain[:1], ["src", "dst"]), max_iters=1
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        inc.apply(added=spark.createDataFrame(chain[1:], ["src", "dst"]))


def test_incremental_shortest_paths_non_improving_edge(spark, monkeypatch):
    """An epoch whose only change is an edge that improves no pair
    emits no diffs and runs no relaxation round, and the maintained
    table still equals the batch operator on the new edge set."""

    from declarative_dataflow_spark.operators import graph
    from declarative_dataflow_spark.streaming.incremental import (
        IncrementalShortestPaths,
    )

    chain = [(1, 2, 1.0), (2, 3, 1.0), (3, 4, 1.0)]
    extra = [(1, 3, 5.0)]  # (1, 3) already costs 2.0 via 2
    inc = IncrementalShortestPaths(
        spark.createDataFrame(chain, ["src", "dst", "cost"]), cost="cost"
    )
    expect = {
        (r["x"], r["y"]): r["cost"]
        for r in graph.shortest_paths(
            spark.createDataFrame(chain + extra, ["src", "dst", "cost"])
        ).collect()
    }

    def no_round(*args, **kwargs):
        raise AssertionError("relaxation ran for a non-improving edge")

    monkeypatch.setattr(graph, "_relax", no_round)
    diffs = inc.apply(
        added=spark.createDataFrame(extra, ["src", "dst", "cost"])
    )
    assert diffs.count() == 0
    got = {(r["x"], r["y"]): r["cost"] for r in inc.current().collect()}
    assert got == expect
    assert inc.edges.count() == 4


def test_incremental_recursion_loop_bound_raises(spark):
    """IncrementalRecursion's seed and insertion phase share the batch
    semi-naive loop and its bound: both raise instead of keeping a
    partial fixpoint."""

    from declarative_dataflow_spark.streaming.incremental import (
        IncrementalRecursion,
    )

    def edges(pairs):
        return spark.createDataFrame(
            [(a, b, 1) for a, b in pairs], "e long, v long, diff long"
        )

    with pytest.raises(RuntimeError, match="did not converge"):
        IncrementalRecursion(
            spark, "reach", _reach_rule(),
            {"edge": edges([(1, 2), (2, 3), (3, 4)])}, max_iterations=1,
        )
    ir = IncrementalRecursion(
        spark, "reach", _reach_rule(), {"edge": edges([(1, 2)])},
        max_iterations=2,
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        ir.transact([Datom.add(a, "edge", a + 1) for a in (2, 3, 4)])


def _batch_pagerank(spark, edges):
    from declarative_dataflow_spark.operators.graph import pagerank

    df = spark.createDataFrame(edges, ["src", "dst"])
    return {r["node"]: r["rank"] for r in pagerank(df).collect()}


def test_incremental_pagerank_small_epoch_large_snapshot(spark):
    """A ~100-edge epoch against a 10k-edge+ PageRank snapshot
    advances on the INCREMENTAL path (per-level frontier
    re-evaluation, no full recompute) and equals the batch operator on
    the new edge set."""

    from declarative_dataflow_spark.streaming.incremental import (
        IncrementalPageRank,
    )

    n = 5000
    base = (
        [(i, (i * 7 + 1) % n) for i in range(n)]
        + [(i, (i * 13 + 5) % n) for i in range(n)]
        + [(i, (i * 19 + 2) % n) for i in range(n)]
    )
    inc = IncrementalPageRank(spark.createDataFrame(base, ["src", "dst"]))
    assert inc.current().count() == n

    adds = [(i, (i * 31 + 17) % n) for i in range(95)]
    rems = base[:5]
    diffs = inc.apply(
        added=spark.createDataFrame(adds, ["src", "dst"]),
        retracted=spark.createDataFrame(rems, ["src", "dst"]),
    )
    assert inc.last_epoch_mode == "incremental"
    got = {r["node"]: r["rank"] for r in inc.current().collect()}
    new_edges = [e for e in base if e not in set(rems)] + adds
    assert got == _batch_pagerank(spark, new_edges)
    # Diffs are retract+assert pairs for moved ranks only.
    n_diffs = diffs.count()
    assert 0 < n_diffs <= 2 * n


def test_incremental_pagerank_node_set_change_rebuilds(spark):
    """An epoch that introduces a new node changes N (every node's
    base term): the maintainer falls back to a labeled rebuild and
    still equals batch."""

    from declarative_dataflow_spark.streaming.incremental import (
        IncrementalPageRank,
    )

    base = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 1)]
    inc = IncrementalPageRank(spark.createDataFrame(base, ["src", "dst"]))
    inc.apply(added=spark.createDataFrame([(3, 4)], ["src", "dst"]))
    assert inc.last_epoch_mode == "rebuild"
    got = {r["node"]: r["rank"] for r in inc.current().collect()}
    assert got == _batch_pagerank(spark, base + [(3, 4)])

    # Retracting it again drops node 4: rebuild again, equal again.
    inc.apply(retracted=spark.createDataFrame([(3, 4)], ["src", "dst"]))
    assert inc.last_epoch_mode == "rebuild"
    got = {r["node"]: r["rank"] for r in inc.current().collect()}
    assert got == _batch_pagerank(spark, base)

    # A no-op epoch (re-adding an existing edge) is labeled as such.
    inc.apply(added=spark.createDataFrame([(0, 1)], ["src", "dst"]))
    assert inc.last_epoch_mode == "noop"


def test_incremental_pagerank_random_churn(spark):
    """Randomized epochs of adds/removals over a fixed node universe
    keep the maintained ranks equal to batch on the current edge set
    (the incremental path throughout — node set preserved by a
    self-loop-free 2-regular backbone)."""

    import random

    rng = random.Random(41)
    n = 60
    backbone = [(i, (i + 1) % n) for i in range(n)] + [
        (i, (i + 7) % n) for i in range(n)
    ]
    extra = set()
    from declarative_dataflow_spark.streaming.incremental import (
        IncrementalPageRank,
    )

    inc = IncrementalPageRank(
        spark.createDataFrame(backbone, ["src", "dst"])
    )
    for _ in range(4):
        adds = {
            (rng.randrange(n), rng.randrange(n)) for _ in range(8)
        } - set(backbone) - extra
        rems = (
            set(rng.sample(sorted(extra), min(3, len(extra))))
            if extra
            else set()
        )
        inc.apply(
            added=spark.createDataFrame(
                sorted(adds) or [(0, 1)], ["src", "dst"]
            ),
            retracted=spark.createDataFrame(
                sorted(rems) or [(n + 5, n + 6)], ["src", "dst"]
            ),
        )
        extra = (extra | adds) - rems
        assert inc.last_epoch_mode in ("incremental", "noop")
        got = {r["node"]: r["rank"] for r in inc.current().collect()}
        assert got == _batch_pagerank(spark, backbone + sorted(extra))


def test_incremental_weighted_sample_via_topk(spark):
    """Maintained weighted reservoir sampling by COMPOSITION: the
    Efraimidis-Spirakis sample IS the top-k of the deterministic
    ln(u)/w keys, so IncrementalTopK over a sample-key attribute
    maintains it under churn — the selection equals batch
    sampling.weighted_sample on the net corpus after every epoch
    (including a retraction that promotes a runner-up into the
    sample)."""

    import hashlib
    import math

    from declarative_dataflow_spark.operators import sampling
    from declarative_dataflow_spark.streaming.incremental import (
        IncrementalTopK,
    )

    def skey(i, w):
        h = int(hashlib.md5(f"wsample_{i}".encode()).hexdigest()[:8], 16)
        return round(math.log((h + 1) / 4294967296.0) / w, 12)

    docs = {i: (i % 5) + 1 for i in range(20)}  # id -> weight
    dj = DeltaJoin(spark, ["?e", "?k"], [AttributeBinding("?e", "skey", "?k")])
    tk = IncrementalTopK(dj, order_by=[("?k", False), ("?e", True)], k=4)
    acc: Counter = Counter()
    acc = _apply(
        acc,
        tk.transact([Datom.add(i, "skey", skey(i, w)) for i, w in docs.items()]),
    )

    def batch_sample(live: dict) -> set:
        df = spark.createDataFrame(
            [(i, "t", w) for i, w in live.items()], ["doc_id", "text", "n_chars"]
        )
        return {
            r["doc_id"]
            for r in sampling.weighted_sample(df, k=4, weight_col="n_chars").collect()
        }

    assert {e for (e, k) in acc} == batch_sample(docs)
    # Retract two sampled docs: the maintained top-k pulls in the
    # runner-ups and still equals the batch selection on the net set.
    sampled = sorted(e for (e, k) in acc)[:2]
    acc = _apply(
        acc,
        tk.transact(
            [Datom.retract(i, "skey", skey(i, docs[i])) for i in sampled]
        ),
    )
    for i in sampled:
        del docs[i]
    assert {e for (e, k) in acc} == batch_sample(docs)


def test_incremental_cc_merge_split_and_locality(spark):
    """Directed cases: an add that bridges two components relabels
    only the absorbed side (the surviving-label side emits NOTHING —
    component-local maintenance); a retract that disconnects a
    component splits it back; a vertex whose last edge is retracted
    leaves the labeling."""

    from declarative_dataflow_spark.streaming.incremental import (
        IncrementalCC,
    )

    inc = IncrementalCC(
        spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11), (20, 21)], ["src", "dst"]
        )
    )
    assert {
        (r["id"], r["component"]) for r in inc.current().collect()
    } == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (20, 20), (21, 20)}

    # bridge {1,2,3} and {10,11}: only the 10-side relabels; the
    # untouched {20,21} component must not appear in the diffs
    diffs = inc.apply(
        added=spark.createDataFrame([(3, 10)], ["src", "dst"])
    ).collect()
    got = {(r["id"], r["component"], r["diff"]) for r in diffs}
    assert got == {
        (10, 10, -1), (11, 10, -1), (3, 1, -1),
        (10, 1, 1), (11, 1, 1), (3, 1, 1),
    } - {(3, 1, -1), (3, 1, 1)}, got
    assert not any(r["id"] in (20, 21) for r in diffs)

    # retract the bridge: the merged component splits back
    diffs2 = inc.apply(
        retracted=spark.createDataFrame([(3, 10)], ["src", "dst"])
    ).collect()
    got2 = {(r["id"], r["component"], r["diff"]) for r in diffs2}
    assert got2 == {(10, 1, -1), (11, 1, -1), (10, 10, 1), (11, 10, 1)}

    # retract a leaf's only edge: it leaves the labeling
    diffs3 = inc.apply(
        retracted=spark.createDataFrame([(20, 21)], ["src", "dst"])
    ).collect()
    got3 = {(r["id"], r["component"], r["diff"]) for r in diffs3}
    assert got3 == {(20, 20, -1), (21, 20, -1)}


def test_incremental_cc_randomized_churn_equals_batch(spark):
    """Randomized add/retract epochs: the maintained labeling stays
    equal to the batch operator on the surviving edge set, and the
    folded diff stream reconstructs it."""

    import random

    from declarative_dataflow_spark.operators.dedup import (
        connected_components,
    )
    from declarative_dataflow_spark.streaming.incremental import (
        IncrementalCC,
    )

    rng = random.Random(20260816)
    current = {(1, 2), (2, 3), (4, 5), (6, 7), (7, 8), (9, 9)}

    def frame(pairs):
        return spark.createDataFrame(
            sorted(pairs) or [(None, None)], "src long, dst long"
        ).dropna()

    inc = IncrementalCC(frame(current))
    folded = {
        (r["id"], r["component"]): 1 for r in inc.current().collect()
    }
    for epoch in range(5):
        adds, rems = set(), set()
        for _ in range(rng.randint(1, 4)):
            if rng.random() < 0.55:
                a, b = rng.randrange(12), rng.randrange(12)
                adds.add((min(a, b), max(a, b)))
            elif current:
                rems.add(rng.choice(sorted(current)))
        adds -= rems
        current = (current | adds) - rems
        diffs = inc.apply(added=frame(adds), retracted=frame(rems))
        for r in diffs.collect():
            k = (r["id"], r["component"])
            folded[k] = folded.get(k, 0) + r["diff"]
            if folded[k] == 0:
                del folded[k]
        got = {
            (r["id"], r["component"]) for r in inc.current().collect()
        }
        expect = {
            (r["id"], r["component"])
            for r in connected_components(
                frame(current), "src", "dst"
            ).collect()
        }
        assert got == expect, (epoch, sorted(current))
        assert set(folded) == got and all(
            v == 1 for v in folded.values()
        ), (epoch, folded)


def test_incremental_dedup_groups_churn_equals_batch(spark):
    """Maintained near-dup groups: randomized epochs of document adds
    and retracts keep current() equal to the batch dedup_groups
    operator on the surviving corpus, and the folded diff stream
    reconstructs it (including canonical takeover when a group's
    min-id doc is retracted)."""

    import random

    from declarative_dataflow_spark.operators.dedup import dedup_groups
    from declarative_dataflow_spark.streaming.curation import (
        IncrementalDedupGroups,
    )

    rng = random.Random(20260817)
    templates = [
        "the quick brown fox jumps over the lazy dog near the river",
        "pack my box with five dozen liquor jugs before the deadline",
        "sphinx of black quartz judge my vow tonight under the moon",
    ]

    def text(i):
        t = templates[i % 3]
        return t + f" tail {i}" if i % 2 else t

    corpus = {i: text(i) for i in range(8)}
    next_id = 8

    def frame(d):
        return spark.createDataFrame(
            sorted(d.items()) or [(None, None)], "doc_id long, text string"
        ).dropna()

    inc = IncrementalDedupGroups(frame(corpus), threshold=0.4)
    folded = {
        (r["doc_id"], r["canonical"]): 1
        for r in inc.current().collect()
    }
    for epoch in range(4):
        adds, rems = {}, set()
        for _ in range(rng.randint(1, 3)):
            if rng.random() < 0.6 or not corpus:
                adds[next_id] = text(next_id)
                next_id += 1
            else:
                rems.add(rng.choice(sorted(corpus)))
        for i in rems:
            corpus.pop(i, None)
        corpus.update(adds)
        diffs = inc.apply(
            added=frame(adds),
            retracted=spark.createDataFrame(
                [(i,) for i in sorted(rems)] or [(None,)], "doc_id long"
            ).dropna(),
        )
        for r in diffs.collect():
            key = (r["doc_id"], r["canonical"])
            folded[key] = folded.get(key, 0) + r["diff"]
            if folded[key] == 0:
                del folded[key]
        got = {
            (r["doc_id"], r["canonical"])
            for r in inc.current().collect()
        }
        expect = {
            (r["doc_id"], r["canonical"])
            for r in dedup_groups(frame(corpus), threshold=0.4).collect()
        }
        assert got == expect, (epoch, sorted(corpus))
        assert set(folded) == got and all(
            v == 1 for v in folded.values()
        ), (epoch, folded)


def test_incremental_edge_support_randomized_churn_equals_batch(
    spark, tmp_path
):
    """IncrementalEdgeSupport: across randomized add/retract epochs,
    (1) current() == the batch edge_triangle_support on the surviving
    edge set, and (2) the folded diff stream equals the same batch
    result — including edges whose support drops to 0 but that
    survive, and edges removed outright."""

    import random

    from declarative_dataflow_spark.operators import graph as G
    from declarative_dataflow_spark.streaming.incremental import (
        IncrementalEdgeSupport,
    )

    from collections import Counter

    rng = random.Random(4242)
    maint = IncrementalEdgeSupport(spark, str(tmp_path / "es_state"))
    counts: Counter = Counter()  # signed multiset, live = cnt > 0
    folded: dict = {}

    def fold(diffs):
        if diffs is None:
            return
        for r in diffs.collect():
            key = (r["a"], r["b"])
            if r["diff"] > 0:
                folded[key] = r["support"]
            elif folded.get(key) == r["support"]:
                del folded[key]

    for epoch in range(6):
        adds = [
            (rng.randrange(12), rng.randrange(12)) for _ in range(10)
        ]
        retractable = [
            e for e, c in counts.items() if c > 0 and rng.random() < 0.3
        ]
        add_df = spark.createDataFrame(adds, "src long, dst long")
        ret_df = (
            spark.createDataFrame(retractable, "src long, dst long")
            if retractable
            else None
        )
        fold(maint.process_batch(add_df, ret_df, epoch=epoch))
        for a, b in adds:
            if a != b:
                counts[(min(a, b), max(a, b))] += 1
        for a, b in retractable:
            counts[(min(a, b), max(a, b))] -= 1

        batch_edges = spark.createDataFrame(
            [e for e, c in counts.items() if c > 0],
            "src long, dst long",
        )
        want = {
            (r["a"], r["b"]): r["support"]
            for r in G.edge_triangle_support(batch_edges).collect()
        }
        got = {
            (r["a"], r["b"]): r["support"]
            for r in maint.current().collect()
        }
        assert got == want, f"current() drift at epoch {epoch}"
        assert folded == want, f"diff-fold drift at epoch {epoch}"


def test_incremental_edge_support_retry_is_noop(spark, tmp_path):
    """A RETRIED epoch (same epoch id, same payload — foreachBatch's
    at-least-once) overwrites its own state partition and emits no
    diff: old == new by construction."""

    from declarative_dataflow_spark.streaming.incremental import (
        IncrementalEdgeSupport,
    )

    maint = IncrementalEdgeSupport(spark, str(tmp_path / "es_state"))
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "src long, dst long"
    )
    first = maint.process_batch(edges, epoch=0)
    assert first is not None and first.count() == 4
    retry = maint.process_batch(edges, epoch=0)
    assert retry is None or retry.count() == 0


@pytest.mark.parametrize("over", ["hector", "recursion"])
def test_empty_epoch_keeps_reduce_types(spark, engine, over):
    """An epoch that touches none of a maintained MAX's attributes
    leaves the reduce's state typed: without ANSI mode, an all-string
    empty epoch used to coerce the state to strings, after which MAX
    compared lexicographically ('9' > '10')."""

    from declarative_dataflow_spark import Aggregate, Hector, NameExpr
    from declarative_dataflow_spark.plan.plans import AggregationFn
    from declarative_dataflow_spark.streaming.reactive import ReactiveSession

    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        engine.create_attribute("edge")
        engine.create_attribute("other")
        if over == "hector":
            inner = Hector(["?x", "?y"], [AttributeBinding("?x", "edge", "?y")])
        else:
            engine.register("reach", _reach_rule())
            inner = NameExpr(["?x", "?y"], "reach")
        engine.register(
            "top", Aggregate(["?x", "?y"], inner, [AggregationFn.MAX], ["?x"], ["?y"])
        )
        engine.transact([Datom.add(1, "edge", 9)])
        session = ReactiveSession(engine)
        session.interest("top")
        session.advance()  # replay
        session.transact([Datom.add(5, "other", "x")])  # touches no edge
        session.transact([Datom.add(1, "edge", 10)])
        acc = _accumulate(session.interests["top"].history)
        expected = Counter({tuple(r): 1 for r in engine.interest("top").collect()})
        assert expected == Counter({(1, 10): 1})
        assert acc == expected
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
