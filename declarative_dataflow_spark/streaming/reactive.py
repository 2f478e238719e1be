"""ReactiveSession: the reference's end-to-end contract — clients
transact datoms and receive incrementally-maintained result diffs for
every registered interest (README.md:12-23; server loop
server/src/main.rs:588-656).

Spark-first realization: each transaction advances the epoch
(micro-batch analog). Rules the router ``_delta_join_for`` recognizes
are maintained INCREMENTALLY — conjunctions by DeltaJoin, monotone
recursion by IncrementalRecursion, a single aggregate or a top-k over
either by the touched-group reduce — so per-epoch work tracks the
change, the reference's delta-pipeline behavior. Every maintainer
answers ``transact(datoms)`` with the epoch's diffs and ``current()``
with its maintained state; a new Interest replays ``current()``, the
reference's replay of an already-maintained arrangement
(src/server/mod.rs:109-119; ADR 0012). Every other rule is
re-evaluated through the engine's Catalyst-compiled plan and diffed
against the previous epoch's snapshot with a distributed exceptAll —
no driver-side relation state. For the streaming-source path the same
diffing runs inside foreachBatch (see diff_sink).

All interests advance together, as the reference's one worker steps
every registered dataflow in the same step: ``advance`` hands each
interest's step (maintainer transact or replay, granularity window,
callback) to one session-owned thread pool, sized to the interests up
to the context's default parallelism, and waits for every step. One
interest's driver-side plan building then overlaps the other
interests' Spark jobs; the jobs themselves are unchanged. Each step
is wrapped with ``inheritable_thread_target``, so its jobs carry the
caller's job group, description and scheduler pool (ADR 0013).

Scale notes: every frame built from rows held in Python is an Arrow-built
``LocalRelation`` with exact size statistics (``engine.local_frame``).
That covers each transacted attribute's heap, which ad-hoc reads,
interest replays and maintainer seed snapshots all plan over, and each
maintainer's per-attribute epoch deltas (``incremental.epoch_deltas``),
so no Spark job runs before the delta pipelines. Catalyst broadcasts
these relations on their statistics instead of sort-merge joining an
RDD scan it cannot size. Spark keeps a relation local up to
``spark.sql.execution.arrow.localRelationThreshold`` (48 MB by default),
well above a heap of at most ``SPILL_ROWS`` short rows; older history
lives in the parquet spill tier. Maintainer snapshots are
localCheckpoint-ed, recompute snapshots cached DataFrames (swap for
Delta tables at very large results); re-evaluation cost is one Catalyst
job per epoch, which AQE sizes to the actual data.
"""

from __future__ import annotations

import functools
from collections import deque
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Callable, Iterable, Optional

from pyspark.sql import DataFrame, functions as F
from pyspark.util import inheritable_thread_target

from ..engine import Datom, Engine, empty_frame
from .diff_sink import DEFAULT_HISTORY_LIMIT, record_bounded
from .generational import _fold


@dataclass
class Interest:
    """A subscription to a rule's result diffs
    (reference: Interest request, src/server/mod.rs:109-119).

    ``history`` buffers collected diffs only when no callback consumes
    them, bounded to the newest ``history_limit`` epochs (the reference
    streams diffs out and keeps nothing — an unbounded driver-side
    list would OOM on a long-lived high-churn subscription);
    ``on_evict`` spills entries leaving the window."""

    name: str
    callback: Optional[Callable[[DataFrame, int], None]] = None
    previous: Optional[DataFrame] = None
    history: "deque[tuple[int, list]]" = field(
        default_factory=lambda: deque(maxlen=DEFAULT_HISTORY_LIMIT)
    )
    on_evict: Optional[Callable[[int, list], None]] = None
    # Incremental maintainer (transact/current), if the rule is eligible.
    delta_join: Optional[object] = None
    # True when the DeltaJoin was (re)seeded inside the current advance,
    # i.e. AFTER engine.transact — its snapshots already contain this
    # epoch's datoms, so the replay path must not transact them again.
    seeded_post_transact: bool = False
    # Output batching: emit coalesced diffs every `granularity` epochs
    # (the reference's delay+coarsen, server/src/main.rs:482-490).
    granularity: int = 1
    pending: list[DataFrame] = field(default_factory=list)


def _delta_join_for(engine: Engine, name: str):
    """Build the incremental maintainer for a rule: a DeltaJoin for
    conjunctive (Hector) rules, an IncrementalRecursion for an eligible
    recursive rule, an IncrementalTopK over a Hector, and an
    IncrementalAggregate for a single-function Aggregate over a Hector
    or a named rule maintained by either; None if ineligible. Every
    one answers ``transact`` and ``current``."""

    from ..plan.plans import (
        Aggregate as AggregatePlan,
        Hector,
        NameExpr as NameExprPlan,
        TopK as TopKPlan,
    )
    from .incremental import DeltaJoin, IncrementalAggregate

    plan = engine.rules[name]
    if (
        isinstance(plan, TopKPlan)
        and isinstance(plan.plan, Hector)
        # The maintainer emits the inner conjunction's variable order;
        # only route when the TopK projects exactly that.
        and list(plan.variables_) == list(plan.plan.variables_)
    ):
        from .incremental import IncrementalTopK

        inner = _delta_join_for_plan(engine, plan.plan)
        if inner is None:
            return None
        return IncrementalTopK(
            inner,
            [(str(v), bool(asc)) for v, asc in plan.order_by],
            plan.k,
            [str(v) for v in plan.partition_by],
        )
    if (
        isinstance(plan, AggregatePlan)
        and isinstance(plan.plan, Hector)
        and len(plan.aggregation_fns) == 1
        and not plan.exact
    ):
        inner = _delta_join_for_plan(engine, plan.plan)
        if inner is None:
            return None
        try:
            return IncrementalAggregate(
                inner,
                list(plan.key_variables),
                plan.aggregation_fns[0],
                plan.aggregation_variables[0],
            )
        except ValueError:
            return None
    if (
        isinstance(plan, AggregatePlan)
        and isinstance(plan.plan, NameExprPlan)
        and len(plan.aggregation_fns) == 1
        and not plan.exact
    ):
        # Differential reduce over an iterate: aggregate over a
        # recursive rule chains IncrementalAggregate onto the
        # maintained fixpoint (reference: aggregates sit on
        # differential reduce over any collection, including Variables
        # inside the iterative scope).
        from .incremental import RenamedMaintainer, incremental_recursion_for

        target = plan.plan.name
        if target in engine.rules:
            needed = {str(v) for v in plan.key_variables} | {
                str(plan.aggregation_variables[0])
            }
            names = [str(v) for v in plan.plan.variables_]
            if needed <= set(names):
                wrapped = None
                inner = incremental_recursion_for(engine, target)
                if inner is not None:
                    wrapped = RenamedMaintainer(inner, names)
                elif not engine._recursive_rules(target):
                    # Non-recursive named view: flatten to Hector and
                    # delta-track like an inline conjunction.
                    tplan = engine.rules[target]
                    opt = (
                        tplan
                        if isinstance(tplan, Hector)
                        else engine.optimized(tplan)
                    )
                    if isinstance(opt, Hector):
                        dj = _delta_join_for_plan(engine, opt)
                        if dj is not None and len(dj.variables) == len(names):
                            wrapped = RenamedMaintainer(
                                dj, names, source_vars=dj.variables
                            )
                if wrapped is not None:
                    try:
                        return IncrementalAggregate(
                            wrapped,
                            list(plan.key_variables),
                            plan.aggregation_fns[0],
                            plan.aggregation_variables[0],
                        )
                    except ValueError:
                        return None
        return None
    if not isinstance(plan, Hector):
        # Conjunctive plans (nested Joins etc.) flatten to one Hector
        # (implement_neu, engine.optimized) and delta-track as such.
        opt = engine.optimized(plan)
        if isinstance(opt, Hector):
            return _delta_join_for_plan(engine, opt)
        # Recursive rules: DRed-style incremental maintenance (the
        # reference maintains recursion inside its differential scope,
        # src/lib.rs:943-1019).
        from .incremental import incremental_recursion_for

        return incremental_recursion_for(engine, name)
    return _delta_join_for_plan(engine, plan)


def _delta_join_for_plan(engine: Engine, plan):
    """DeltaJoin over a Hector plan's bindings, seeded from the current
    transacted-attribute snapshots; None if a binding is outside the
    delta-join fragment or reads an attribute that is not transacted."""

    from ..plan.plans import (
        AntijoinBinding,
        AttributeBinding,
        BinaryPredicateBinding,
        ConstantBinding,
    )
    from .incremental import DeltaJoin, seed_inputs

    aids = set()
    for b in plan.bindings:
        if isinstance(b, (AttributeBinding, AntijoinBinding)):
            aids.add(b.attribute)
        elif not isinstance(b, (ConstantBinding, BinaryPredicateBinding)):
            return None
    seeds = seed_inputs(engine, aids)
    if seeds is None:
        return None
    return DeltaJoin(engine.spark, plan.variables_, plan.bindings, *seeds)


def _no_diffs(spark) -> DataFrame:
    """An epoch that has nothing to emit."""

    return empty_frame(spark, "__epoch_diff int")


def _coalesce_diffs(dfs: list[DataFrame]) -> DataFrame:
    """Coarsen a window of per-epoch diff frames into one consolidated
    batch: net weight per tuple, zero-net tuples (asserted then
    retracted inside the window) vanish — the reference's
    delay(coarsen) + consolidate (server/src/main.rs:482-490). Epochs
    that emitted nothing (``_no_diffs``) carry no tuple columns and
    drop out."""

    nets = []
    for df in dfs:
        cols = [c for c in df.columns if c not in ("diff", "__epoch_diff")]
        net = (
            F.col("diff") * F.col("__epoch_diff")
            if "diff" in df.columns
            else F.col("__epoch_diff")
        )
        nets.append(df.select(*cols, net.alias("diff")))
    nets = [df for df in nets if len(df.columns) > 1] or nets[:1]
    return _fold(
        functools.reduce(DataFrame.unionByName, nets), ("diff",)
    ).withColumn("__epoch_diff", F.lit(1))


class ReactiveSession:
    """Transact -> advance -> emit diffs, per registered interest."""

    def __init__(self, engine: Engine):
        self.engine = engine
        self.interests: dict[str, Interest] = {}
        self.epoch = 0
        self._workers: Optional[ThreadPoolExecutor] = None
        self._workers_size = 0

    def interest(
        self,
        name: str,
        callback: Optional[Callable[[DataFrame, int], None]] = None,
        incremental: bool = True,
        granularity: int = 1,
        history_limit: int = DEFAULT_HISTORY_LIMIT,
        on_evict: Optional[Callable[[int, list], None]] = None,
    ) -> None:
        """Subscribe to rule ``name``'s diffs, maintained incrementally
        when the router finds a maintainer (and ``incremental``), else
        recomputed and diffed per epoch. Each epoch's diffs go to
        ``callback(diffs, epoch)``, or, without one, into ``history``.

        Callbacks run on the session's worker threads: different
        interests' callbacks may run at the same time, one interest's
        never do, and ``advance`` returns only after all of them."""

        if name not in self.engine.rules:
            raise KeyError(f"unknown rule {name}")
        dj = _delta_join_for(self.engine, name) if incremental else None
        self.interests[name] = Interest(
            name,
            callback,
            history=deque(maxlen=max(1, history_limit)),
            on_evict=on_evict,
            delta_join=dj,
            granularity=max(1, granularity),
        )

    def uninterest(self, name: str) -> None:
        """Tear down a subscription (reference: Uninterest +
        ShutdownHandle, src/server/mod.rs:475-488)."""

        sub = self.interests.pop(name, None)
        if sub is not None and isinstance(sub.previous, DataFrame):
            sub.previous.unpersist()

    def transact(self, datoms: Iterable[Datom]) -> int:
        """Append a transaction and advance the domain: emit diffs for
        every interest — incrementally for DeltaJoin-backed rules,
        recompute + exceptAll otherwise."""

        datoms = list(datoms)
        self.engine.transact(datoms)
        return self.advance(datoms)

    def advance(self, datoms: Optional[list[Datom]] = None) -> int:
        """Advance every interest by one epoch, all together: each
        interest's step runs on the session's worker pool, so one
        interest's driver-side planning overlaps the others' Spark
        jobs. Every interest attempts the epoch; if steps raise, the
        first error in registration order re-raises once all steps
        are done, and the epoch does not advance."""

        epoch = self.epoch
        datoms = datoms or []
        subs = list(self.interests.values())
        pool = self._pool(len(subs))
        # Wrapped at submit time, so every step's Spark jobs carry the
        # caller's job group, description and scheduler pool.
        steps = [
            pool.submit(
                inheritable_thread_target(self.engine.spark)(
                    functools.partial(self._step, sub, epoch, datoms)
                )
            )
            for sub in subs
        ]
        errors = [f.exception() for f in steps]
        for error in errors:
            if error is not None:
                raise error
        self.epoch += 1
        # The reference advances domain traces as the frontier moves
        # (advance_traces, src/domain/mod.rs:291-341): attributes with
        # trace_slack compact history older than frontier - slack.
        self.engine.advance_traces()
        return epoch

    def _pool(self, n: int) -> ThreadPoolExecutor:
        """The session's worker pool, one worker per interest up to the
        context's default parallelism; regrown when interests are
        added past its size."""

        size = max(
            1, min(n, self.engine.spark.sparkContext.defaultParallelism)
        )
        if size > self._workers_size:
            if self._workers is not None:
                self._workers.shutdown(wait=False)
            self._workers = ThreadPoolExecutor(
                size, thread_name_prefix="reactive-advance"
            )
            self._workers_size = size
        return self._workers

    def _step(self, sub: Interest, epoch: int, datoms: list[Datom]) -> None:
        """One interest's share of an epoch: its diffs, its
        granularity window, its callback or history."""

        if sub.delta_join is None and sub.previous is None:
            # Attributes may appear after subscription; until the
            # first successful epoch, keep probing for the
            # incremental path. A DeltaJoin built here is seeded
            # from snapshots that already include this epoch's
            # datoms (engine.transact ran first).
            sub.delta_join = _delta_join_for(self.engine, sub.name)
            sub.seeded_post_transact = sub.delta_join is not None
        if sub.delta_join is not None:
            diffs = self._advance_incremental(sub, datoms)
        else:
            diffs = self._advance_recompute(sub)
        if sub.granularity > 1:
            sub.pending.append(diffs)
            if (epoch + 1) % sub.granularity != 0:
                return
            diffs = _coalesce_diffs(sub.pending)
            sub.pending = []
        if sub.callback is not None:
            sub.callback(diffs, epoch)
        else:
            record_bounded(sub.history, sub.on_evict, epoch, diffs.collect())

    def _advance_incremental(
        self, sub: Interest, datoms: list[Datom]
    ) -> DataFrame:
        """Delta-pipeline path: per-epoch work tracks the change. On
        the first advance the maintainer's ``current()`` state replays
        (the reference replays the arrangement on subscription); the
        weighted change rides in `diff`, `__epoch_diff` stays +1."""

        if sub.previous is not None:
            if not datoms:
                # Nothing to transact: the maintained state stands.
                return _no_diffs(self.engine.spark)
            diffs = sub.delta_join.transact(datoms)
            return diffs.withColumn("__epoch_diff", F.lit(1))
        sub.previous = True  # replay marker
        # Consume this epoch's datoms so they are not re-applied —
        # unless the maintainer was seeded post-transact in this very
        # advance, in which case its snapshots already hold them and a
        # second transact would double the weights.
        if datoms and not sub.seeded_post_transact:
            sub.delta_join.transact(datoms)
        sub.seeded_post_transact = False
        state = sub.delta_join.current()
        if state is None:
            return _no_diffs(self.engine.spark)
        return state.withColumn("__epoch_diff", F.lit(1))

    def _advance_recompute(self, sub: Interest) -> DataFrame:
        try:
            current = self.engine.interest(sub.name).persist()
        except KeyError:
            # A rule may reference attributes registered AFTER the
            # subscription (reference: tests/registration_test.rs) —
            # until they exist the result is empty, not an error.
            return _no_diffs(self.engine.spark)
        current.count()
        if sub.previous is None:
            diffs = current.withColumn("__epoch_diff", F.lit(1))
        else:
            added = current.exceptAll(sub.previous).withColumn(
                "__epoch_diff", F.lit(1)
            )
            removed = sub.previous.exceptAll(current).withColumn(
                "__epoch_diff", F.lit(-1)
            )
            diffs = added.unionByName(removed)
        if sub.previous is not None:
            sub.previous.unpersist()
        sub.previous = current
        return diffs
