"""Seeded inputs for every workload.

Everything the program receives is made here from ``--seed``: the key
order of each batch pass, and for the reactive workload the bulk load,
each transact batch (including which live datoms it retracts) and the
constants of each ad-hoc read. The generator also keeps the live datom
set, which is the model the benchmark checks the program's answers
against. It imports nothing from the program.
"""

from __future__ import annotations

import random
from collections import Counter, defaultdict

#: the batch workload's declared query keys, run as one pass each time:
#: relational keys whose wall is mostly execution, and recursive keys
#: whose wall is mostly fixpoint jobs run before the DataFrame exists.
#: Few keys, so that a run fits the benchmark's time budget
#: (README.md, "Sizing").
BATCH_KEYS = [
    "tpch_q3",
    "tpch_q21",
    "minhash_lsh",
    "graph_cc",
    "tclosure",
]


def pass_orders(keys: list[str], seed: int):
    """Endless sequence of per-pass key orders, each a fresh seeded
    permutation of ``keys``."""

    rng = random.Random(f"passes:{seed}")
    while True:
        order = list(keys)
        rng.shuffle(order)
        yield order


# -- reactive workload -------------------------------------------------------

ATTRIBUTES = ("edge", "city", "age")
CITIES = [f"city{i}" for i in range(12)]
ADULT_AGE = 30
#: the rules the client registers, in wire form. Hector binary
#: predicates take their operands reversed (GT over (x, y) admits
#: y > x), so (?n, ?a) with ?n = ADULT_AGE reads "?a > ADULT_AGE".
RULES = [
    {
        "name": "triangles",
        "plan": {
            "Hector": {
                "variables": ["?a", "?b", "?c"],
                "bindings": [
                    {"Attribute": {"variables": ["?a", "?b"], "source_attribute": "edge"}},
                    {"Attribute": {"variables": ["?b", "?c"], "source_attribute": "edge"}},
                    {"Attribute": {"variables": ["?a", "?c"], "source_attribute": "edge"}},
                ],
            }
        },
    },
    {
        "name": "adults_per_city",
        "plan": {
            "Aggregate": {
                "variables": ["?c", "?e"],
                "plan": {
                    "Hector": {
                        "variables": ["?c", "?e"],
                        "bindings": [
                            {"Attribute": {"variables": ["?e", "?c"], "source_attribute": "city"}},
                            {"Attribute": {"variables": ["?e", "?a"], "source_attribute": "age"}},
                            {"Constant": {"variable": "?n", "value": {"Number": ADULT_AGE}}},
                            {"BinaryPredicate": {"variables": ["?n", "?a"], "predicate": "GT"}},
                        ],
                    }
                },
                "aggregation_fns": ["COUNT"],
                "key_variables": ["?c"],
                "aggregation_variables": ["?e"],
                "with_variables": [],
            }
        },
    },
]
INTERESTS = [r["name"] for r in RULES]

#: one transact request: 100 datoms, a fifth of them retractions
TXN_DATOMS = 100
TXN_RETRACTIONS = 20
TXN_NEW_EDGES = 40  # the other 40 datoms are 20 new (city, age) persons
#: one request slot in every READ_EVERY is a round of ad-hoc reads
READ_EVERY = 4
PERSON_BASE = 1_000_000  # person entity ids start here, nodes below
#: the bulk load: edges over NODES nodes, and (city, age) persons
NODES = 160
BULK_EDGES = 2400
BULK_PERSONS = 1200


def _encode(aid: str, v):
    if aid == "edge":
        return {"Eid": v}
    if aid == "city":
        return {"String": v}
    return {"Number": v}


class LiveStore:
    """The live datom set and the answers the program must give on it.

    Datoms are never duplicated while live, so the set is the multiset
    the program holds (all attributes use Raw semantics)."""

    def __init__(self) -> None:
        self.datoms: list[tuple] = []  # (e, aid, v), for seeded sampling
        self.index: dict[tuple, int] = {}
        self.out: dict[int, set] = defaultdict(set)
        self.city: dict[int, str] = {}
        self.age: dict[int, int] = {}

    def __contains__(self, datom: tuple) -> bool:
        return datom in self.index

    def add(self, datom: tuple) -> None:
        self.index[datom] = len(self.datoms)
        self.datoms.append(datom)
        e, aid, v = datom
        if aid == "edge":
            self.out[e].add(v)
        elif aid == "city":
            self.city[e] = v
        else:
            self.age[e] = v

    def retract(self, datom: tuple) -> None:
        i = self.index.pop(datom)
        last = self.datoms.pop()
        if last != datom:
            self.datoms[i] = last
            self.index[last] = i
        e, aid, v = datom
        if aid == "edge":
            self.out[e].discard(v)
        elif aid == "city":
            del self.city[e]
        else:
            del self.age[e]

    # -- expected answers, as {tuple: multiplicity} ------------------------

    def triangles(self) -> Counter:
        out = Counter()
        for a, succ in self.out.items():
            for b in succ:
                for c in self.out.get(b, ()):
                    if c in succ:
                        out[(a, b, c)] += 1
        return out

    def adults_per_city(self) -> Counter:
        n = Counter(
            c for e, c in self.city.items() if self.age.get(e, -1) > ADULT_AGE
        )
        return Counter({(c, k): 1 for c, k in n.items()})

    def expected(self, interest: str) -> Counter:
        return getattr(self, interest)()


class ReactiveGenerator:
    """Requests of one reactive run, all drawn from one seeded stream.

    ``setup()`` gives the requests before the first interest (attribute
    creation, rule registration, the bulk load); ``interests()`` the
    Interest requests; after them ``next_request()`` yields transacts
    and, every ``READ_EVERY``-th request, a round of reads."""

    def __init__(self, seed: int):
        self.rng = random.Random(f"reactive:{seed}")
        self.live = LiveStore()
        self.next_person = PERSON_BASE
        self.requests = 0

    # -- datom generation ----------------------------------------------------

    def _new_edge(self, taken: set) -> tuple:
        """A random edge that is neither live nor in ``taken``."""

        while True:
            a, b = self.rng.randrange(NODES), self.rng.randrange(NODES)
            d = (a, "edge", b)
            if a != b and d not in self.live and d not in taken:
                taken.add(d)
                return d

    def _new_person(self) -> list[tuple]:
        e = self.next_person
        self.next_person += 1
        return [
            (e, "city", self.rng.choice(CITIES)),
            (e, "age", self.rng.randrange(16, 80)),
        ]

    def _apply(self, adds: list[tuple], retracts: list[tuple]) -> list:
        wire = []
        for d in retracts:
            self.live.retract(d)
            wire.append([{"Eid": d[0]}, d[1], _encode(d[1], d[2]), None, -1])
        for d in adds:
            self.live.add(d)
            wire.append([{"Eid": d[0]}, d[1], _encode(d[1], d[2]), None, 1])
        return wire

    # -- requests --------------------------------------------------------------

    def setup(self) -> list[dict]:
        taken: set = set()
        adds = [self._new_edge(taken) for _ in range(BULK_EDGES)]
        for _ in range(BULK_PERSONS):
            adds.extend(self._new_person())
        return [
            {"CreateAttribute": {"name": a, "config": {"input_semantics": "Raw"}}}
            for a in ATTRIBUTES
        ] + [
            {"Register": {"rules": RULES, "publish": []}},
            {"Transact": self._apply(adds, [])},
        ]

    def interests(self) -> list[dict]:
        return [{"Interest": {"name": n}} for n in INTERESTS]

    def transact(self) -> dict:
        picks = self.rng.sample(range(len(self.live.datoms)), TXN_RETRACTIONS)
        retracts = [self.live.datoms[i] for i in picks]
        taken: set = set()
        adds = [self._new_edge(taken) for _ in range(TXN_NEW_EDGES)]
        while len(adds) + len(retracts) < TXN_DATOMS:
            adds.extend(self._new_person())
        return {"Transact": self._apply(adds, retracts)}

    def reads(self) -> list[tuple[str, Counter]]:
        """One Datalog read of each shape over the live store, with
        seeded constants, and the rows each must return."""

        live = self.live
        n = self.rng.randrange(20, 70)
        k = self.rng.randrange(NODES)
        city = self.rng.choice(CITIES)
        return [
            (
                "[:find ?e ?c :where [?e :city ?c] [?e :age ?a] "
                f"[(> ?a {n})]]",
                Counter(
                    (e, c) for e, c in live.city.items()
                    if live.age.get(e, -1) > n
                ),
            ),
            (
                f"[:find ?b ?c :where [{k} :edge ?b] [?b :edge ?c]]",
                Counter(
                    (b, c) for b in live.out.get(k, ())
                    for c in live.out.get(b, ())
                ),
            ),
            (
                f'[:find ?e ?a :where [?e :city "{city}"] [?e :age ?a]]',
                Counter(
                    (e, live.age[e]) for e, c in live.city.items()
                    if c == city and e in live.age
                ),
            ),
        ]

    def next_request(self) -> tuple[str, object]:
        """("reads", [(text, expected rows), ...]) or ("txn", request).
        A cycle of READ_EVERY requests opens with its read round."""

        i = self.requests
        self.requests += 1
        if i % READ_EVERY == 0:
            return "reads", self.reads()
        return "txn", self.transact()
