"""Reactive workload: one closed-loop client of ``Server.handle``.

The client speaks the wire format: each request batch is JSON text the
server side decodes with ``json.loads``, and its outputs are encoded
with ``json.dumps`` before the call counts as answered. Set-up creates
three Raw attributes, registers two rules (``triangles``, maintained
by DeltaJoin, and ``adults_per_city``, maintained by
IncrementalAggregate), bulk-loads the store, subscribes to both rules
and sends a few untimed warm requests. The measured loop then runs
cycles of one round of ad-hoc Datalog reads (one read of each of three
shapes) and three 100-datom transacts.

Every answer is checked outside the timings: the folded ``QueryDiff``s
of each interest against the generator's live model after every
request, each read's rows against the same model, and at the end each
fold against an ``Engine.interest`` recompute.
"""

from __future__ import annotations

import json
import time
from collections import Counter

from perfbench.generator import INTERESTS, READ_EVERY, ReactiveGenerator
from perfbench.harness import Run, median, tail

#: untimed requests after the interests: the first read round and two
#: transacts. The first epoch runs 15-40% slower than later ones while
#: the JVM compiles the transact path, and the first reads pay for
#: compiling the read path, so measured cycles start warm. A cycle of
#: READ_EVERY requests from any offset holds one read round.
WARM_REQUESTS = 3


def _rows(df) -> Counter:
    """A result frame as {tuple: multiplicity}."""

    weighted = "diff" in df.columns
    out = Counter()
    for r in df.collect():
        t = tuple(r)
        if weighted:
            out[t[:-1]] += t[-1]
        else:
            out[t] += 1
    return +out


class Client:
    """The one closed-loop client: sends each request, folds the
    QueryDiffs it gets back, and checks them."""

    def __init__(self, run: Run, server, gen: ReactiveGenerator):
        self.run = run
        self.server = server
        self.gen = gen
        self.folds: dict[str, Counter] = {}  # per subscribed interest

    def handle(self, requests: list, name: str, tag: str) -> tuple[float, list]:
        """One request batch over the wire: (wall, decoded outputs)."""

        text = json.dumps(requests)
        t0 = time.perf_counter()
        with self.run.tracer.span(name, tag) as sp:
            reply = json.dumps(self.server.handle(json.loads(text)))
        wall = time.perf_counter() - t0
        outputs = json.loads(reply)
        sp.attrs["diff_rows"] = self._fold(outputs)
        return wall, outputs

    def _fold(self, outputs: list) -> int:
        n = 0
        for out in outputs:
            if "QueryDiff" not in out:
                continue
            name, rows = out["QueryDiff"]
            fold = self.folds[name]
            for row in rows:
                fold[tuple(row[:-2])] += row[-1]
                n += 1
        return n

    def check(self, outputs: list, what: str) -> bool:
        """No Error output, and every fold equals the live model."""

        with self.run.excluded():
            errors = [o["Error"] for o in outputs if "Error" in o]
            if errors:
                self.run.finding(f"{what}: Error output {errors[0]}")
                return False
            for name, fold in self.folds.items():
                got, want = +fold, self.gen.live.expected(name)
                if got != want:
                    self.run.finding(_mismatch(f"{what}: {name} diffs", got, want))
                    return False
            return True

    def read(self, text: str, want: Counter, tag: str, traced: bool) -> tuple[float, bool]:
        from declarative_dataflow_spark.plan.datalog import parse_query

        tracer, engine = self.run.tracer, self.server.engine
        t0 = time.perf_counter()
        try:
            with tracer.span("read.parse", tag):
                plan = parse_query(text)
            with tracer.span("read.build", tag):
                df = engine.implement(plan)
            if traced:
                with tracer.span("read.plan", tag):
                    df._jdf.queryExecution().executedPlan()
            with tracer.span("read.exec", tag):
                got = _rows(df)
        except Exception as exc:  # noqa: BLE001 - counted, run goes on
            self.run.finding(f"read {text}: raised {type(exc).__name__}: {exc}")
            return time.perf_counter() - t0, False
        wall = time.perf_counter() - t0
        with self.run.excluded():
            if got != want:
                self.run.finding(_mismatch(f"read {text}", got, want))
                return wall, False
        return wall, True

    def cycle(self, tag: str, traced: bool, timed: bool, n: int = READ_EVERY) -> dict:
        """The next ``n`` requests; a full cycle holds one read round
        and READ_EVERY - 1 transacts."""

        walls = {"read": [], "txn": []}
        datoms = 0
        # A JVM garbage collection between requests, outside the
        # timings, as between batch keys: requests then start from the
        # same heap state instead of paying for their predecessors.
        gc = self.run.spark.sparkContext._jvm.System.gc
        for _ in range(n):
            kind, req = self.gen.next_request()
            if kind == "reads":
                for text, want in req:
                    wall, ok = self.read(text, want, tag, traced)
                    walls["read"].append(wall)
                    if timed:
                        self.run.op(ok, "" if ok else f"{tag} read")
                    gc()
                continue
            t0 = time.perf_counter()
            try:
                wall, outputs = self.handle([req], "txn.handle", tag)
                ok = self.check(outputs, f"{tag} transact")
            except Exception as exc:  # noqa: BLE001 - counted
                wall, ok = time.perf_counter() - t0, False
                self.run.finding(f"{tag} transact raised {type(exc).__name__}: {exc}")
            datoms += len(req["Transact"])
            walls["txn"].append(wall)
            if timed:
                self.run.op(ok, "" if ok else f"{tag} transact")
            gc()
        return {
            "traced": traced,
            "wall": sum(walls["read"]) + sum(walls["txn"]),
            "read": walls["read"],
            "txn": walls["txn"],
            "datoms": datoms,
        }


def _mismatch(what: str, got: Counter, want: Counter) -> str:
    extra = list((got - want).items())[:3]
    missing = list((want - got).items())[:3]
    return (
        f"{what}: {sum(got.values())} rows, expected {sum(want.values())}; "
        f"unexpected {extra}, missing {missing}"
    )


def run(run: Run) -> dict:
    from declarative_dataflow_spark.server import Server

    tracer = run.tracer
    server = Server(run.spark)
    gen = ReactiveGenerator(run.seed)
    client = Client(run, server, gen)

    _, outputs = client.handle(gen.setup(), "setup.handle", "setup")
    client.check(outputs, "setup")
    tracer.enabled = run.trace
    for req in gen.interests():
        name = req["Interest"]["name"]
        client.folds[name] = Counter()
        _, outputs = client.handle([req], "interest.replay", f"interest/{name}")
        client.check(outputs, f"interest {name}")
    tracer.enabled = False
    with run.excluded():
        tracer.resolve()
    client.cycle("warm", traced=False, timed=False, n=WARM_REQUESTS)

    run.setup_done()
    cycles: list[dict] = []
    while run.measuring(len(cycles)):
        traced = run.trace and len(cycles) % 2 == 1
        tracer.enabled = traced
        cycles.append(client.cycle(f"cycle{len(cycles)}", traced, timed=True))
        tracer.enabled = False
        tracer.resolve()

    for name in INTERESTS:  # after measuring, so no timing is touched
        fold = +client.folds[name]
        try:
            got = _rows(server.engine.interest(name))
            ok = got == fold
            what = "" if ok else _mismatch(f"{name} recompute vs folded diffs", got, fold)
        except Exception as exc:  # noqa: BLE001 - counted
            ok, what = False, f"{name} recompute raised {type(exc).__name__}: {exc}"
        run.op(ok, what)

    plain = [c for c in cycles if not c["traced"]]
    reads = [w for c in plain for w in c["read"]]
    if run.trace:
        txns = [w for c in plain for w in c["txn"]]
        _layers(run, cycles)
        run.per_layer.update({
            "txn_s_p50": median(txns),
            "datoms_per_s": sum(c["datoms"] for c in plain) / max(sum(txns), 1e-9),
            "txn.s_tail": tail(txns),
            "txn.samples": len(txns),
            "query.s_tail": tail(reads),
            "query.samples": len(reads),
        })
    return {
        "pass_s": median([c["wall"] for c in plain]),
        "query_s_p50": median(reads),
    }


def _layers(run: Run, cycles: list[dict]) -> None:
    """Per-layer metrics: sums over one traced cycle, median over the
    traced cycles; the interest replays are set-up, counted once."""

    tracer = run.tracer
    replay = tracer.layer([s for s in tracer.spans if s.name == "interest.replay"])
    rows = []
    for i, c in enumerate(cycles):
        if not c["traced"]:
            continue
        mine = [s for s in tracer.spans if s.trace == f"cycle{i}"]
        txn_spans = [s for s in mine if s.name == "txn.handle"]
        txn = tracer.layer(txn_spans)
        plan = tracer.layer([s for s in mine if s.name == "read.plan"])
        parse = tracer.layer([s for s in mine if s.name == "read.parse"])
        build = tracer.layer([s for s in mine if s.name == "read.build"])
        exe = tracer.layer([s for s in mine if s.name == "read.exec"])
        diff_rows = sum(s.attrs.get("diff_rows", 0) for s in txn_spans)
        rows.append({
            "txn.driver_s": txn["driver_s"],
            "txn.jobs_s": txn["jobs_s"],
            "txn.jobs": txn["jobs"],
            "txn.stages": txn["stages"],
            "txn.tasks": txn["tasks"],
            "txn.shuffle_bytes": txn["shuffle_read_bytes"] + txn["shuffle_write_bytes"],
            "txn.executor_cpu_s": txn["executor_cpu_s"],
            "txn.diff_rows": diff_rows,
            "txn.diff_rows_per_datom": diff_rows / c["datoms"],
            "catalyst.plan_s": plan["s"],
            "read.parse_s": parse["s"],
            "read.build_s": build["s"],
            "read.exec_s": exe["s"],
            "read.jobs": parse["jobs"] + build["jobs"] + plan["jobs"] + exe["jobs"],
        })
    for name in rows[0]:
        run.per_layer[name] = median([r[name] for r in rows])
    run.per_layer.update({
        "interest.replay_s": replay["s"],
        "interest.jobs": replay["jobs"],
        "trace.overhead_frac": median([c["wall"] for c in cycles if c["traced"]])
        / median([c["wall"] for c in cycles if not c["traced"]]) - 1.0,
    })
