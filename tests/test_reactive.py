"""ReactiveSession: transact -> diffs, the reference's end-to-end
contract (ports the driver loop of tests/query_test.rs:36-113)."""

import pytest

from declarative_dataflow_spark import Datom, Join, MatchA
from declarative_dataflow_spark.streaming.reactive import ReactiveSession


def _diffs(history, epoch):
    """Net weight change per value tuple: diff x __epoch_diff, so the
    recompute encoding (diff=1, epoch=-1) and the delta-pipeline
    encoding (diff=-1, epoch=1) compare equal — both mean one
    retraction."""

    out = {}
    for e, rows in history:
        if e != epoch:
            continue
        for r in rows:
            t = tuple(r)
            key, net = t[:-2], t[-2] * t[-1]
            out[key] = out.get(key, 0) + net
    return {k: v for k, v in out.items() if v != 0}


def test_reactive_add_then_retract(engine):
    engine.create_attribute("name")
    engine.create_attribute("age")
    engine.register(
        "people",
        Join(["?e"], MatchA("?e", "name", "?n"), MatchA("?e", "age", "?a")),
    )
    session = ReactiveSession(engine)
    session.interest("people")

    session.transact(
        [Datom.add(1, "name", "Dipper"), Datom.add(1, "age", 12)]
    )
    d0 = _diffs(session.interests["people"].history, 0)
    assert d0 == {(1, "Dipper", 12): 1}

    # second entity appears; first is untouched -> no diff for it
    session.transact(
        [Datom.add(2, "name", "Mabel"), Datom.add(2, "age", 13)]
    )
    d1 = _diffs(session.interests["people"].history, 1)
    assert d1 == {(2, "Mabel", 13): 1}

    # retraction produces a -1 diff
    session.transact([Datom.retract(1, "age", 12)])
    d2 = _diffs(session.interests["people"].history, 2)
    assert d2 == {(1, "Dipper", 12): -1}


def test_reactive_uninterest(engine):
    engine.create_attribute("x")
    engine.register("xs", MatchA("?e", "x", "?v"))
    session = ReactiveSession(engine)
    session.interest("xs")
    session.transact([Datom.add(1, "x", 1)])
    session.uninterest("xs")
    assert session.interests == {}
    # transacting after teardown does not fail
    session.transact([Datom.add(2, "x", 2)])


def test_hector_rule_uses_delta_join(engine):
    """Conjunctive rules take the incremental path automatically and
    produce the same accumulated result as the recompute path."""

    from collections import Counter

    from declarative_dataflow_spark.plan.plans import (
        AttributeBinding,
        Hector,
    )
    from declarative_dataflow_spark.streaming.reactive import ReactiveSession

    for a in ("name", "age"):
        engine.create_attribute(a)
    # Pre-existing data: replayed on subscription.
    engine.transact([Datom.add(1, "name", "Dipper"), Datom.add(1, "age", 12)])

    engine.register(
        "people",
        Hector(
            ["?e", "?n", "?a"],
            [
                AttributeBinding("?e", "name", "?n"),
                AttributeBinding("?e", "age", "?a"),
            ],
        ),
    )
    session = ReactiveSession(engine)
    session.interest("people")
    assert session.interests["people"].delta_join is not None

    session.advance()  # replay epoch
    session.transact([Datom.add(2, "name", "Mabel"), Datom.add(2, "age", 13)])
    session.transact([Datom.retract(1, "age", 12)])

    acc: Counter = Counter()
    for _, rows_ in session.interests["people"].history:
        for r in rows_:
            t = tuple(r)
            acc[t[:-2]] += t[-2] * t[-1]  # diff * __epoch_diff
    acc = +acc
    assert acc == Counter({(2, "Mabel", 13): 1})


def test_interest_granularity_coalesces(engine):
    """granularity=2: diffs batch every second epoch; assert-then-
    retract inside one window cancels entirely (the reference's
    delay+coarsen+consolidate, server/src/main.rs:482-490)."""

    from declarative_dataflow_spark.plan.plans import MatchA
    from declarative_dataflow_spark.streaming.reactive import ReactiveSession

    engine.create_attribute("color")
    engine.register("colors", MatchA("?e", "color", "?v"))
    session = ReactiveSession(engine)
    emitted = []
    session.interest(
        "colors",
        callback=lambda df, epoch: emitted.append((epoch, df.collect())),
        granularity=2,
    )
    session.transact([Datom.add(1, "color", "red")])      # epoch 0: buffered
    assert emitted == []
    session.transact([Datom.add(2, "color", "blue")])     # epoch 1: emit both
    assert len(emitted) == 1
    rows1 = {tuple(r)[:-2] + (r["diff"] * r["__epoch_diff"],) for r in emitted[0][1]}
    assert rows1 == {(1, "red", 1), (2, "blue", 1)}
    # add + retract inside one window -> nothing emitted for entity 3.
    session.transact([Datom.add(3, "color", "teal")])     # epoch 2: buffered
    session.transact([Datom.retract(3, "color", "teal")]) # epoch 3: emit
    rows2 = emitted[1][1]
    assert all(tuple(r)[0] != 3 for r in rows2)


def test_granularity_window_with_an_empty_replay(engine):
    """A window whose first epoch replayed nothing — a conjunction with
    one attribute still empty, so its maintainer holds no state —
    coalesces with the epochs after it."""

    engine.create_attribute("name")
    engine.create_attribute("age")
    engine.register(
        "people",
        Join(["?e"], MatchA("?e", "name", "?n"), MatchA("?e", "age", "?a")),
    )
    session = ReactiveSession(engine)
    emitted = []
    session.interest(
        "people",
        callback=lambda df, epoch: emitted.append(df.collect()),
        granularity=2,
    )
    session.transact([Datom.add(1, "name", "Dipper")])  # nothing to replay
    session.transact([Datom.add(1, "age", 12)])
    assert [
        tuple(r)[:-2] + (r["diff"] * r["__epoch_diff"],) for r in emitted[0]
    ] == [(1, "Dipper", 12, 1)]


def test_attribute_registered_after_subscription(engine):
    """Subscribing to a rule whose attributes do not exist yet emits
    empty epochs, then picks up data once the attribute is created
    (reference: tests/registration_test.rs)."""

    from declarative_dataflow_spark.plan.plans import MatchA
    from declarative_dataflow_spark.streaming.reactive import ReactiveSession

    engine.register("late", MatchA("?e", "late/attr", "?v"))
    session = ReactiveSession(engine)
    session.interest("late")
    session.advance()  # attribute missing: empty epoch, no error
    assert session.interests["late"].history[0][1] == []

    engine.create_attribute("late/attr")
    session.transact([Datom.add(1, "late/attr", "x")])
    rows_ = session.interests["late"].history[-1][1]
    assert [tuple(r)[:2] for r in rows_] == [(1, "x")]


def test_aggregate_rule_incremental(engine):
    """Aggregate-over-Hector rules take the incremental path: grouped
    SUM updates arrive as retract/assert diffs per changed key."""

    from collections import Counter

    from declarative_dataflow_spark.plan.plans import (
        Aggregate,
        AggregationFn,
        AttributeBinding,
        Hector,
    )
    from declarative_dataflow_spark.streaming.reactive import ReactiveSession

    for a in ("grp", "amt"):
        engine.create_attribute(a)
    engine.transact(
        [
            Datom.add(1, "grp", "a"),
            Datom.add(1, "amt", 5),
            Datom.add(2, "grp", "b"),
            Datom.add(2, "amt", 7),
        ]
    )
    engine.register(
        "sums",
        Aggregate(
            ["?g", "?x"],
            Hector(
                ["?g", "?x", "?e"],
                [
                    AttributeBinding("?e", "grp", "?g"),
                    AttributeBinding("?e", "amt", "?x"),
                ],
            ),
            [AggregationFn.SUM],
            ["?g"],
            ["?x"],
            with_variables=["?e"],
        ),
    )
    session = ReactiveSession(engine)
    session.interest("sums")
    assert session.interests["sums"].delta_join is not None

    session.advance()  # replay: current sums
    acc: Counter = Counter()
    for _, rows_ in session.interests["sums"].history:
        for r in rows_:
            t = tuple(r)
            acc[t[:-2]] += t[-2] * t[-1]
    assert +acc == Counter({("a", 5): 1, ("b", 7): 1})

    session.transact([Datom.add(3, "grp", "a"), Datom.add(3, "amt", 10)])
    acc = Counter()
    for _, rows_ in session.interests["sums"].history:
        for r in rows_:
            t = tuple(r)
            acc[t[:-2]] += t[-2] * t[-1]
    assert +acc == Counter({("a", 15): 1, ("b", 7): 1})


def test_late_delta_join_no_double_count(engine):
    """A DeltaJoin seeded during the same advance (attribute appeared
    after subscription, engine.transact already ran) must not replay
    that epoch's datoms on top of its snapshot seed — a later
    retraction would otherwise emit diff=-2."""

    from declarative_dataflow_spark.plan.plans import (
        AttributeBinding,
        Hector,
    )

    engine.register(
        "xs2", Hector(["?e", "?v"], [AttributeBinding("?e", "x2", "?v")])
    )
    session = ReactiveSession(engine)
    session.interest("xs2")  # attribute does not exist yet
    assert session.interests["xs2"].delta_join is None

    engine.create_attribute("x2")
    session.transact([Datom.add(1, "x2", 1)])  # re-probe seeds DeltaJoin
    assert session.interests["xs2"].delta_join is not None
    d0 = _diffs(session.interests["xs2"].history, 0)
    assert d0 == {(1, 1): 1}

    session.transact([Datom.retract(1, "x2", 1)])
    rows1 = [r for e, rs in session.interests["xs2"].history if e == 1 for r in rs]
    assert [(tuple(r)[:2], r["diff"] * r["__epoch_diff"]) for r in rows1] == [
        ((1, 1), -1)
    ]


def test_reactive_topk_routes_incremental(spark, engine):
    """A TopK-over-Hector rule routes through IncrementalTopK; diffs
    accumulate to the batch result, including runner-up promotion."""

    from collections import Counter

    from declarative_dataflow_spark import Datom
    from declarative_dataflow_spark.plan.plans import (
        AttributeBinding,
        Hector,
        TopK,
    )
    from declarative_dataflow_spark.streaming.incremental import (
        IncrementalTopK,
    )
    from declarative_dataflow_spark.streaming.reactive import ReactiveSession

    engine.create_attribute("elo")
    engine.register(
        "leaders",
        TopK(
            ["?p", "?r"],
            Hector(["?p", "?r"], [AttributeBinding("?p", "elo", "?r")]),
            [("?r", False), ("?p", True)],
            2,
        ),
    )
    session = ReactiveSession(engine)
    session.interest("leaders")
    assert isinstance(session.interests["leaders"].delta_join, IncrementalTopK)

    session.transact(
        [
            Datom.add(1, "elo", 1500),
            Datom.add(2, "elo", 1800),
            Datom.add(3, "elo", 1600),
        ]
    )
    session.transact([Datom.retract(2, "elo", 1800)])
    acc: Counter = Counter()
    for e, rows in session.interests["leaders"].history:
        for r in rows:
            t = tuple(r)
            acc[t[:-2]] += t[-2] * t[-1]
    acc = +acc
    assert acc == Counter({(3, 1600): 1, (1, 1500): 1})


def test_history_bounded_with_eviction_spill(engine):
    """Driver-side diff history is bounded: a long-lived subscription
    keeps only the newest history_limit epochs; evicted epochs spill
    through on_evict (oldest first) so no diff is lost, and the diffs
    that remain in the window are unchanged."""

    engine.create_attribute("hx")
    engine.register("hxs", MatchA("?e", "hx", "?v"))
    session = ReactiveSession(engine)
    spilled = []
    session.interest(
        "hxs",
        history_limit=3,
        on_evict=lambda e, rows: spilled.append((e, rows)),
    )
    for i in range(8):
        session.transact([Datom.add(i, "hx", i * 10)])
    h = session.interests["hxs"].history
    assert len(h) == 3
    assert [e for e, _ in h] == [5, 6, 7]
    assert [e for e, _ in spilled] == [0, 1, 2, 3, 4]
    # Window + spill together hold every epoch's diffs exactly once.
    d7 = _diffs(h, 7)
    assert d7 == {(7, 70): 1}
    d1 = _diffs(spilled, 1)
    assert d1 == {(1, 10): 1}


def test_diff_sink_history_bounded():
    """DiffSink's no-callback buffer is a bounded deque: 1000 epochs of
    recorded diffs retain only the newest history_limit entries, with
    eviction spilling oldest-first — driver memory stays O(limit), not
    O(epochs)."""

    from declarative_dataflow_spark.streaming.diff_sink import DiffSink

    spilled = []
    sink = DiffSink(history_limit=16, on_evict=lambda e, r: spilled.append(e))
    for epoch in range(1000):
        sink._record(epoch, [("row", epoch, 1)])
    assert len(sink.history) == 16
    assert [e for e, _ in sink.history] == list(range(984, 1000))
    assert spilled == list(range(0, 984))


def _fold_rows(rows) -> "Counter":
    """A weighted result as {tuple: net weight}: ``diff`` (when
    present) times ``__epoch_diff`` (when present)."""

    from collections import Counter

    out: Counter = Counter()
    for r in rows:
        d = r.asDict()
        w = d.pop("diff", 1) * d.pop("__epoch_diff", 1)
        out[tuple(d.values())] += w
    return +out


def _contract_shape(engine, shape):
    """Register rule ``q`` of one maintained shape; returns its seed
    datoms and its (add, retract) epochs."""

    from declarative_dataflow_spark import Aggregate, Hector, NameExpr, Union
    from declarative_dataflow_spark.plan.plans import (
        AggregationFn,
        AttributeBinding,
        TopK,
    )

    person = [
        AttributeBinding("?e", "city", "?c"),
        AttributeBinding("?e", "age", "?a"),
    ]
    if shape in ("recursive", "aggregate_recursive"):
        reach = "q" if shape == "recursive" else "reach"
        engine.create_attribute("edge")
        engine.register(
            reach,
            Union(
                ["?x", "?y"],
                [
                    MatchA("?x", "edge", "?y"),
                    Join(
                        ["?m"],
                        NameExpr(["?x", "?m"], reach),
                        MatchA("?m", "edge", "?y"),
                    ),
                ],
            ),
        )
        if shape == "aggregate_recursive":
            engine.register(
                "q",
                Aggregate(
                    ["?x", "?y"],
                    NameExpr(["?x", "?y"], "reach"),
                    [AggregationFn.COUNT],
                    ["?x"],
                    ["?y"],
                ),
            )
        seed = [Datom.add(1, "edge", 2), Datom.add(2, "edge", 3)]
        return seed, [Datom.add(3, "edge", 4)], [Datom.retract(1, "edge", 2)]

    engine.create_attribute("city")
    engine.create_attribute("age")
    hector = Hector(["?e", "?c", "?a"], person)
    if shape == "hector":
        engine.register("q", hector)
    elif shape == "aggregate":
        engine.register(
            "q",
            Aggregate(
                ["?c", "?a"],
                hector,
                [AggregationFn.SUM],
                ["?c"],
                ["?a"],
                with_variables=["?e"],
            ),
        )
    elif shape == "topk":
        # Partitioned by a variable that is not first, so the replay
        # and the diffs must agree on the column order.
        order = [("?a", False), ("?e", True)]
        engine.register(
            "q", TopK(["?e", "?c", "?a"], hector, order, 1, ["?c"])
        )
    else:  # aggregate over a non-recursive named view
        engine.register(
            "people",
            Join(["?e"], MatchA("?e", "city", "?c"), MatchA("?e", "age", "?a")),
        )
        engine.register(
            "q",
            Aggregate(
                ["?c", "?a"],
                NameExpr(["?e", "?c", "?a"], "people"),
                [AggregationFn.SUM],
                ["?c"],
                ["?a"],
            ),
        )
    seed = [
        Datom.add(1, "city", "oslo"), Datom.add(1, "age", 30),
        Datom.add(2, "city", "oslo"), Datom.add(2, "age", 40),
        Datom.add(3, "city", "rome"), Datom.add(3, "age", 20),
    ]
    add = [Datom.add(4, "city", "rome"), Datom.add(4, "age", 50)]
    return seed, add, [Datom.retract(2, "age", 40)]


@pytest.mark.parametrize(
    "shape, maintainer",
    [
        ("hector", "DeltaJoin"),
        ("aggregate", "IncrementalAggregate"),
        ("topk", "IncrementalTopK"),
        ("recursive", "IncrementalRecursion"),
        ("aggregate_recursive", "IncrementalAggregate"),
        ("aggregate_view", "IncrementalAggregate"),
    ],
)
def test_maintainer_contract(engine, shape, maintainer):
    """Every routed maintainer answers ``transact`` and ``current``:
    subscribing to a rule over data already transacted replays its
    maintained state, which folds to ``Engine.interest``, and so does
    the replay plus the diffs of one add and one retract."""

    from declarative_dataflow_spark.streaming import incremental

    seed, add, retract = _contract_shape(engine, shape)
    engine.transact(seed)
    session = ReactiveSession(engine)
    session.interest("q")
    maint = session.interests["q"].delta_join
    expected_cls = getattr(incremental, maintainer) if maintainer else type(None)
    assert type(maint) is expected_cls

    session.advance()
    history = session.interests["q"].history
    assert _fold_rows(history[0][1]) == _fold_rows(
        engine.interest("q").collect()
    )
    session.transact(add)
    session.transact(retract)
    folded = _fold_rows(r for _, rows in history for r in rows)
    assert folded == _fold_rows(engine.interest("q").collect())


def test_maintainer_contract_sweep():
    """Structural gate for the one maintainer contract: every class the
    reactive router can return (and the rename a reduce may wrap)
    defines ``transact`` and ``current``; the reactive modules carry no
    duck-typed probe and no opt-in seeding flag; the WebSocket frame
    codec lives once, in ``ws.py``."""

    import ast
    import inspect
    import pathlib

    import declarative_dataflow_spark
    from declarative_dataflow_spark import engine, server
    from declarative_dataflow_spark.streaming import incremental, reactive

    modules = {m.__name__: ast.parse(inspect.getsource(m)) for m in (incremental, reactive)}
    functions = {
        node.name: node
        for tree in modules.values()
        for node in ast.walk(tree)
        if isinstance(node, ast.FunctionDef)
    }

    def returned(fn: str, seen: set) -> set:
        """Names of the classes ``fn`` can return, following returned
        calls into other router functions."""

        out = set()
        seen.add(fn)
        for node in ast.walk(functions[fn]):
            if not (isinstance(node, ast.Return) and isinstance(node.value, ast.Call)):
                continue
            callee = node.value.func
            name = callee.id if isinstance(callee, ast.Name) else None
            if name in functions and name not in seen:
                out |= returned(name, seen)
            elif name and isinstance(getattr(incremental, name, None), type):
                out.add(name)
        return out

    classes = returned("_delta_join_for", set()) | {"RenamedMaintainer"}
    assert {
        "DeltaJoin",
        "IncrementalAggregate",
        "IncrementalTopK",
        "IncrementalRecursion",
    } <= classes
    for name in classes:
        cls = getattr(incremental, name)
        for method in ("transact", "current"):
            assert callable(getattr(cls, method, None)), (name, method)

    for mod in (incremental, reactive):
        src = inspect.getsource(mod)
        assert "hasattr(" not in src, mod.__name__
        assert "seed_from_snapshots" not in src, mod.__name__

    server_src = inspect.getsource(server)
    for codec in ("def _ws_read", "def _ws_write", "struct.unpack"):
        assert codec not in server_src, codec

    # Job attribution: no package module starts a thread or submits a
    # pool task without wrapping its target in
    # ``inheritable_thread_target`` (else its Spark jobs lose the
    # caller's job group, description and scheduler pool), and no
    # fixpoint state lives on the shared Engine (``_static_dedup`` was
    # an instance flag each fixpoint run wrote and ``catalog`` read).
    def wrapped(node) -> bool:
        """``inheritable_thread_target(f)`` or ``...(session)(f)``."""

        while isinstance(node, ast.Call):
            node = node.func
            if isinstance(node, ast.Name) and node.id == "inheritable_thread_target":
                return True
        return False

    root = pathlib.Path(declarative_dataflow_spark.__file__).parent
    starts = []
    for path in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if not isinstance(node, ast.Call):
                continue
            func = node.func
            name = func.attr if isinstance(func, ast.Attribute) else getattr(func, "id", None)
            if name == "Thread":
                target = [k.value for k in node.keywords if k.arg == "target"]
            elif name in ("submit", "start_new_thread"):
                target = node.args[:1]
            else:
                continue
            starts.append(f"{path.name}:{node.lineno}")
            assert target and wrapped(target[0]), starts[-1]
    assert any(s.startswith("reactive.py:") for s in starts), starts

    with open(engine.__file__, encoding="utf-8") as fh:
        assert "_static_dedup" not in fh.read()


def _people_rules(engine):
    """``people`` (a DeltaJoin over name and age) and ``ages`` (a MAX
    per name over the same conjunction, an IncrementalAggregate)."""

    from declarative_dataflow_spark import Aggregate, Hector
    from declarative_dataflow_spark.plan.plans import (
        AggregationFn,
        AttributeBinding,
    )

    engine.create_attribute("name")
    engine.create_attribute("age")
    hector = Hector(
        ["?e", "?n", "?a"],
        [AttributeBinding("?e", "name", "?n"), AttributeBinding("?e", "age", "?a")],
    )
    engine.register("people", hector)
    engine.register(
        "ages",
        Aggregate(
            ["?n", "?a"], hector, [AggregationFn.MAX], ["?n"], ["?a"],
            with_variables=["?e"],
        ),
    )


def _folded(history):
    return _fold_rows(r for _, rows in history for r in rows)


def test_interests_advance_concurrently(engine):
    """Two interests' callbacks meet at a barrier: the session runs
    their steps at the same time (one after the other, the first
    callback would wait out the timeout)."""

    import threading

    _people_rules(engine)
    barrier = threading.Barrier(2, timeout=60)
    met = []

    def meet(name):
        def callback(diffs, epoch):
            barrier.wait()
            met.append((name, epoch))

        return callback

    session = ReactiveSession(engine)
    session.interest("people", meet("people"))
    session.interest("ages", meet("ages"))
    session.transact([Datom.add(1, "name", "ann"), Datom.add(1, "age", 30)])
    assert sorted(met) == [("ages", 0), ("people", 0)]


def test_advance_keeps_the_callers_job_group(spark, engine):
    """Every job started during ``transact`` under a caller's job group
    is in that group, and a scratch checkpoint's jobs still name their
    operator."""

    import time

    _people_rules(engine)
    engine.transact([Datom.add(1, "name", "ann"), Datom.add(1, "age", 30)])
    session = ReactiveSession(engine)
    session.interest("people")
    session.interest("ages")
    session.advance()

    sc = spark.sparkContext
    jsc = sc._jsc.sc()

    def jobs():
        jsc.listenerBus().waitUntilEmpty()
        seq = jsc.statusStore().jobsList(None)
        return {seq.apply(i).jobId(): seq.apply(i) for i in range(seq.size())}

    before = jobs()
    group = f"test_reactive_{time.monotonic_ns()}"
    sc.setJobGroup(group, "reactive transact", False)
    try:
        session.transact([Datom.add(2, "name", "bob"), Datom.add(2, "age", 40)])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    started = [j for i, j in jobs().items() if i not in before]
    assert started
    groups = {j.jobGroup().get() if j.jobGroup().isDefined() else None for j in started}
    assert groups == {group}
    described = {
        j.description().get() for j in started if j.description().isDefined()
    }
    assert any("_TouchedGroupReduce" in d for d in described), described


def test_empty_advance_runs_no_job(spark, engine):
    """An advance without datoms (the server runs one per new
    subscription) leaves an already-replayed maintainer alone: no
    Spark job, and its folded diffs unchanged."""

    import time

    _people_rules(engine)
    engine.transact([Datom.add(1, "name", "ann"), Datom.add(1, "age", 30)])
    session = ReactiveSession(engine)
    session.interest("ages")
    session.advance()  # replay
    history = session.interests["ages"].history
    replayed = _folded(history)

    sc = spark.sparkContext
    group = f"test_reactive_{time.monotonic_ns()}"
    sc.setJobGroup(group, "empty advance", False)
    try:
        session.advance()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert _folded(history) == replayed == _fold_rows(
        engine.interest("ages").collect()
    )


def test_failing_interest_does_not_starve_the_others(engine):
    """Interest ``people``'s callback raises once: ``transact`` raises,
    but ``ages`` (registered after it) still advanced in that epoch,
    so its folded diffs equal ``Engine.interest`` afterwards."""

    _people_rules(engine)
    session = ReactiveSession(engine)
    calls = []

    def flaky(diffs, epoch):
        calls.append(epoch)
        if len(calls) == 2:
            raise RuntimeError("callback failed")

    session.interest("people", flaky)
    session.interest("ages")
    session.transact([Datom.add(1, "name", "ann"), Datom.add(1, "age", 30)])
    with pytest.raises(RuntimeError, match="callback failed"):
        session.transact([Datom.add(2, "name", "ann"), Datom.add(2, "age", 41)])
    assert session.epoch == 1  # a failed epoch does not advance
    session.transact([Datom.add(3, "name", "bob"), Datom.add(3, "age", 20)])
    assert _folded(session.interests["ages"].history) == _fold_rows(
        engine.interest("ages").collect()
    )
