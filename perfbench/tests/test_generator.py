"""The benchmark's inputs are a pure function of the seed."""

import itertools
import json

from perfbench.generator import (
    BATCH_KEYS,
    READ_EVERY,
    TXN_DATOMS,
    TXN_RETRACTIONS,
    LiveStore,
    ReactiveGenerator,
    pass_orders,
)


def _inputs(seed: int, requests: int = 12) -> bytes:
    """Every input a run with ``seed`` sends: batch key orders, then
    the reactive set-up, interests and first requests."""

    orders = list(itertools.islice(pass_orders(BATCH_KEYS, seed), 4))
    gen = ReactiveGenerator(seed)
    sent = [orders, gen.setup(), gen.interests()]
    for _ in range(requests):
        kind, req = gen.next_request()
        sent.append([kind, [text for text, _ in req] if kind == "reads" else req])
    return json.dumps(sent).encode()


def test_same_seed_same_bytes():
    assert _inputs(7) == _inputs(7)


def test_seeds_differ():
    assert _inputs(7) != _inputs(8)


def test_pass_orders_are_permutations():
    for order in itertools.islice(pass_orders(BATCH_KEYS, 3), 5):
        assert sorted(order) == sorted(BATCH_KEYS)


def test_transacts_retract_only_live_datoms():
    gen = ReactiveGenerator(5)
    gen.setup()
    live = set(gen.live.index)
    for i in range(2 * READ_EVERY):
        kind, req = gen.next_request()
        if kind == "reads":
            continue
        datoms = req["Transact"]
        assert len(datoms) == TXN_DATOMS
        retracted = [d for d in datoms if d[4] == -1]
        assert len(retracted) == TXN_RETRACTIONS
        for e, aid, v, _, diff in datoms:
            key = (e["Eid"], aid, next(iter(v.values())))
            if diff == -1:
                assert key in live
                live.remove(key)
            else:
                assert key not in live
                live.add(key)
    assert live == set(gen.live.index)


def test_model_answers():
    live = LiveStore()
    for d in [(0, "edge", 1), (1, "edge", 2), (0, "edge", 2), (2, "edge", 3),
              (7, "city", "a"), (7, "age", 40), (8, "city", "a"), (8, "age", 20)]:
        live.add(d)
    assert set(live.triangles()) == {(0, 1, 2)}
    assert set(live.adults_per_city()) == {("a", 1)}
    live.retract((1, "edge", 2))
    assert not live.triangles()
