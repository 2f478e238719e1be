"""Logical query plan algebra.

Mirrors the reference's serializable ``Plan`` enum
(reference: src/plan/mod.rs:153-190) and the ``Binding`` constraint
language used by the worst-case-optimal join operator
(reference: src/binding/mod.rs:52-62). These dataclasses are the
engine's IR: clients construct (or JSON-decode) a Plan tree and the
compiler in ``plan.compiler`` lowers it to a PySpark DataFrame and
lets Catalyst choose the physical strategy.

Variables are plain strings or ints (reference uses ``Var = u64``,
src/plan/mod.rs:22). Aggregation functions mirror
src/plan/aggregate_neu.rs:21-39; transform functions mirror
src/plan/transform.rs:16-24; predicates mirror
src/binding/mod.rs:283-297.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from enum import Enum
import typing
from typing import Any, Optional

Var = typing.Union[str, int]
Aid = str


class Predicate(str, Enum):
    """Binary predicates (reference: src/binding/mod.rs:283-297)."""

    LT = "LT"
    GT = "GT"
    LTE = "LTE"
    GTE = "GTE"
    EQ = "EQ"
    NEQ = "NEQ"


class Function(str, Enum):
    """Scalar transform functions (reference: src/plan/transform.rs:16-24)."""

    TRUNCATE = "TRUNCATE"
    ADD = "ADD"
    SUBTRACT = "SUBTRACT"


class AggregationFn(str, Enum):
    """Aggregates (reference: src/plan/aggregate_neu.rs:21-39)."""

    MIN = "MIN"
    MAX = "MAX"
    MEDIAN = "MEDIAN"
    COUNT = "COUNT"
    SUM = "SUM"
    AVG = "AVG"
    VARIANCE = "VARIANCE"
    # The reference declares STDDEV but leaves it commented out
    # (aggregate_neu.rs:37-38) — its exact-rational result type cannot
    # represent a square root. The Spark build completes it as
    # sqrt(population variance), double-typed by construction.
    STDDEV = "STDDEV"


class Plan:
    """Base class for all plan nodes."""

    def variables(self) -> list[Var]:  # pragma: no cover - overridden
        raise NotImplementedError


def children(plan: Plan) -> list[Plan]:
    """The direct sub-plans of ``plan``, in field order: every field
    holding a Plan, and every Plan inside a list field."""

    out: list[Plan] = []
    for name in getattr(plan, "__dataclass_fields__", {}):
        v = getattr(plan, name)
        if isinstance(v, Plan):
            out.append(v)
        elif isinstance(v, list):
            out.extend(item for item in v if isinstance(item, Plan))
    return out


# ---------------------------------------------------------------------------
# Leaf scans (reference: src/plan/mod.rs:173-178, impl 341-401)
# ---------------------------------------------------------------------------


@dataclass
class MatchA(Plan):
    """Scan an attribute, binding ``[?e a ?v]``."""

    e: Var
    attribute: Aid
    v: Var

    def variables(self) -> list[Var]:
        return [self.e, self.v]


@dataclass
class MatchEA(Plan):
    """Scan with a constant entity: ``[e a ?v]``."""

    entity: Any
    attribute: Aid
    v: Var

    def variables(self) -> list[Var]:
        return [self.v]


@dataclass
class MatchAV(Plan):
    """Scan with a constant value: ``[?e a v]``."""

    e: Var
    attribute: Aid
    value: Any

    def variables(self) -> list[Var]:
        return [self.e]


# ---------------------------------------------------------------------------
# Relational operators
# ---------------------------------------------------------------------------


@dataclass
class Scan(Plan):
    """Whole-table relation leaf — a Spark-first EXTENSION beyond the
    reference's attribute-only data model, for tables without a unique
    entity key (e.g. fact tables like lineitem). Binds each selected
    column to a variable; rows keep bag semantics.

    ``pushed`` holds raw-column scan predicates the compiler's
    date-pushdown prepass derived from Filter nodes over DERIVED date
    expressions (epoch-us / year() bindings): each entry is
    ``(kind, column, predicate, literal)`` with kind one of
    "epoch_us" / "year". They are REDUNDANT with the Filters they
    mirror (exactly equivalent predicates on the raw timestamp
    column), added only so the parquet reader sees a bare-column
    comparison it can push into PushedFilters / row-group skipping —
    the filter on the derived expression cannot push because the scan
    expression wraps the column. Never set by query authors; never on
    the wire (Scan is not wire-serialized).
    """

    table: str
    columns: dict[str, Var]  # column name -> variable
    pushed: tuple = ()

    def variables(self) -> list[Var]:
        return list(self.columns.values())


@dataclass
class Project(Plan):
    """Reorder/select variables, bag semantics (reference: src/plan/project.rs:20-64)."""

    variables_: list[Var]
    plan: Plan

    def variables(self) -> list[Var]:
        return list(self.variables_)


@dataclass
class Join(Plan):
    """Binary equijoin on shared ``variables`` (reference: src/plan/join.rs:26-33).

    Output column order is key ++ left rest ++ right rest, matching the
    reference's tuple layout.
    """

    variables_: list[Var]
    left_plan: Plan
    right_plan: Plan

    def variables(self) -> list[Var]:
        key = list(self.variables_)
        rest_l = [v for v in self.left_plan.variables() if v not in key]
        rest_r = [v for v in self.right_plan.variables() if v not in key]
        return key + rest_l + rest_r


@dataclass
class Antijoin(Plan):
    """Left tuples whose key has no match in right, set semantics
    (reference: src/plan/antijoin.rs:20-27, both sides distinct at 95-97)."""

    variables_: list[Var]
    left_plan: Plan
    right_plan: Plan

    def variables(self) -> list[Var]:
        return list(self.left_plan.variables())


@dataclass
class Negate(Plan):
    """Negate multiplicities (reference: src/plan/mod.rs:167-168, impl 320-336)."""

    plan: Plan

    def variables(self) -> list[Var]:
        return self.plan.variables()


@dataclass
class Union(Plan):
    """N-ary union + distinct (reference: src/plan/union.rs:20-25, distinct at 77)."""

    variables_: list[Var]
    plans: list[Plan]

    def variables(self) -> list[Var]:
        return list(self.variables_)


@dataclass
class Filter(Plan):
    """Binary predicate over two variables or variable vs constant
    (reference: src/plan/filter.rs:45-55, impl 96-131).

    ``constants`` maps position (0/1) -> literal, like the reference's
    ``Vec<Option<Value>>``.
    """

    variables_: list[Var]
    predicate: Predicate
    plan: Plan
    constants: dict[int, Any] = field(default_factory=dict)

    def variables(self) -> list[Var]:
        return self.plan.variables()


@dataclass
class Transform(Plan):
    """Scalar function appending ``result_variable``
    (reference: src/plan/transform.rs:16-42)."""

    variables_: list[Var]
    result_variable: Var
    plan: Plan
    function: Function
    constants: dict[int, Any] = field(default_factory=dict)

    def variables(self) -> list[Var]:
        return self.plan.variables() + [self.result_variable]


@dataclass
class TopK(Plan):
    """Top-k selection — a beyond-reference plan extension (the
    reference delegates ordering to clients, SURVEY §2.2 gap list).

    Keep the ``k`` rows ranking highest under ``order_by`` (list of
    (variable, ascending) pairs — include a tiebreak variable for a
    total, engine-portable order), optionally per ``partition_by``
    group. Without a partition Catalyst lowers the global form to
    TakeOrderedAndProject — per-partition heaps + a k-row merge, never
    a full sort; with a partition it is one partitioned window.
    """

    variables_: list[Var]
    plan: Plan
    order_by: list[tuple[Var, bool]]
    k: int
    partition_by: list[Var] = field(default_factory=list)

    def variables(self) -> list[Var]:
        return self.plan.variables()


@dataclass
class Aggregate(Plan):
    """Grouped aggregation (reference: src/plan/aggregate_neu.rs:44-58).

    ``key_variables`` group; each ``aggregation_fns[i]`` applies to
    ``aggregation_variables[i]``; ``with_variables`` keep duplicate
    contributions distinct without appearing in the output (Datomic
    ``:with``, reference: aggregate_neu.rs:128-143).
    """

    variables_: list[Var]
    plan: Plan
    aggregation_fns: list[AggregationFn]
    key_variables: list[Var]
    aggregation_variables: list[Var]
    with_variables: list[Var] = field(default_factory=list)
    # The reference returns exact Rational32 for AVG/VARIANCE
    # (aggregate_neu.rs:206). ``exact=True`` computes them in
    # Decimal(38,18) — exact to 18 fractional digits — instead of
    # binary double; ``exact="rational"`` returns the reference's own
    # shape: a REDUCED struct(num, den) with positive denominator,
    # encodable on the wire as {"Rational32": [num, den]} bit-for-bit
    # with serde's Ratio encoding; default False matches SQL engines.
    exact: bool | str = False
    # Beyond-reference extension (SURVEY §2.2 gap list): "rollup" or
    # "cube" computes sub- and grand-total groups alongside the full
    # grouping (subtotal rows carry NULL keys, SQL semantics). None =
    # plain GROUP BY. MEDIAN is incompatible (windowed, not folded).
    grouping: Optional[str] = None

    def variables(self) -> list[Var]:
        return list(self.key_variables) + list(self.aggregation_variables)


@dataclass
class NameExpr(Plan):
    """Reference a named rule; enables composition and recursion
    (reference: src/plan/mod.rs:179-180, recursion src/lib.rs:968-1019)."""

    variables_: list[Var]
    name: str

    def variables(self) -> list[Var]:
        return list(self.variables_)


# ---------------------------------------------------------------------------
# Hector (n-way join over bindings) — reference: src/plan/hector.rs:128-134
# and the Binding language src/binding/mod.rs:52-62. We compile the
# conjunction to a Catalyst join chain (with same-entity scan fusion)
# instead of a delta-pipeline WCO join; see compiler.
# ---------------------------------------------------------------------------


@dataclass
class AttributeBinding:
    """``[?e a ?v]`` constraint (reference: src/binding/mod.rs:109-147)."""

    e: Var
    attribute: Aid
    v: Var


@dataclass
class ConstantBinding:
    """``?x = c`` (reference: src/binding/mod.rs:149-176)."""

    variable: Var
    value: Any


@dataclass
class BinaryPredicateBinding:
    """``pred(?x, ?y)`` (reference: src/binding/mod.rs:235-281)."""

    variables_: list[Var]
    predicate: Predicate


@dataclass
class AntijoinBinding:
    """Negated attribute binding (reference: src/binding/mod.rs:205-233)."""

    e: Var
    attribute: Aid
    v: Var


Binding = typing.Union[
    AttributeBinding, ConstantBinding, BinaryPredicateBinding, AntijoinBinding
]


class NotConjunctive(Exception):
    """Raised by :func:`into_bindings` for plans outside the
    conjunctive fragment (union, aggregation, recursion, ...)."""


def into_bindings(plan: "Plan") -> list[Binding]:
    """Flatten a conjunctive plan tree into its Binding set — the
    reference's optimizer front door (Plan::into_bindings,
    src/plan/mod.rs:263-297; used by implement_neu,
    src/lib.rs:1026-1127). Raises NotConjunctive when the plan
    contains operators bindings cannot express.
    """

    fresh = iter(range(1_000_000))

    def gensym() -> str:
        return f"?__ib{next(fresh)}"

    def go(p: "Plan") -> list[Binding]:
        if isinstance(p, MatchA):
            return [AttributeBinding(p.e, p.attribute, p.v)]
        if isinstance(p, MatchEA):
            e = gensym()
            return [
                AttributeBinding(e, p.attribute, p.v),
                ConstantBinding(e, p.entity),
            ]
        if isinstance(p, MatchAV):
            v = gensym()
            return [
                AttributeBinding(p.e, p.attribute, v),
                ConstantBinding(v, p.value),
            ]
        if isinstance(p, Join):
            return go(p.left_plan) + go(p.right_plan)
        if isinstance(p, Project):
            return go(p.plan)
        if isinstance(p, Hector):
            return list(p.bindings)
        if isinstance(p, Filter):
            inner = go(p.plan)
            # variables_ fill the non-constant operand slots in order.
            operands: list[Var] = []
            vi = iter(p.variables_)
            for pos in (0, 1):
                if pos in p.constants:
                    cv = gensym()
                    inner.append(ConstantBinding(cv, p.constants[pos]))
                    operands.append(cv)
                else:
                    operands.append(next(vi))
            # Filter means predicate(op0, op1) positionally
            # (filter.rs:96-131); the Hector binding convention is
            # reversed — LT((x, y)) admits y < x (hector.rs:1055-1089)
            # — so the flattening swaps the operands to preserve
            # meaning.
            inner.append(
                BinaryPredicateBinding(operands[::-1], p.predicate)
            )
            return inner
        if isinstance(p, Antijoin):
            right = go(p.right_plan)
            attrs = [b for b in right if isinstance(b, AttributeBinding)]
            if len(attrs) != 1 or len(right) != 1:
                raise NotConjunctive(
                    "antijoin right side must be a single pattern"
                )
            [ab] = attrs
            return go(p.left_plan) + [
                AntijoinBinding(ab.e, ab.attribute, ab.v)
            ]
        raise NotConjunctive(type(p).__name__)

    return go(plan)


@dataclass
class Hector(Plan):
    """Conjunction of bindings, projected to ``variables_``
    (reference: src/plan/hector.rs:128-134)."""

    variables_: list[Var]
    bindings: list[Binding]

    def variables(self) -> list[Var]:
        return list(self.variables_)


# ---------------------------------------------------------------------------
# Pull (document projection) — reference: src/plan/pull.rs
# ---------------------------------------------------------------------------


@dataclass
class PullLevel(Plan):
    """For each entity bound by ``plan``, emit one row per pulled
    attribute (reference: src/plan/pull.rs:22-36, impl 94-236).

    With empty ``path_attributes`` the row is ``[path.., aid, v]``.
    With path attributes the path is interleaved with them —
    ``[p0, a0, p1, .., pn, aid, v]`` (pull.rs interleave, 52-77) — and
    ``cardinality_many`` controls whether the pulled entity id ``pn``
    stays in the row: cardinality-single levels drop it and instead
    synthesize one ``[p0, a0, .., "db__id", pn]`` row per path
    (pull.rs:208-226).

    ``pull_aliases`` optionally renames the emitted ``aid`` per pulled
    attribute (GraphQL field aliases; the scan still reads the real
    attribute)."""

    variables_: list[Var]
    plan: Plan
    pull_variable: Var
    pull_attributes: list[Aid]
    path_attributes: list[Aid] = field(default_factory=list)
    cardinality_many: bool = False
    pull_aliases: Optional[list[Aid]] = None

    def variables(self) -> list[Var]:
        return list(self.variables_)


@dataclass
class Pull(Plan):
    """Union of PullLevel paths (reference: src/plan/pull.rs:44-50)."""

    variables_: list[Var]
    paths: list[PullLevel]

    def variables(self) -> list[Var]:
        return list(self.variables_)


@dataclass
class PullAll(Plan):
    """Dump all (e, a, v) for a set of attributes
    (reference: src/plan/pull.rs:288-294)."""

    variables_: list[Var]
    pull_attributes: list[Aid]

    def variables(self) -> list[Var]:
        return list(self.variables_)


def q(target_variables: list[Var], bindings: list[Binding]) -> Hector:
    """Canonical query constructor (reference: src/lib.rs:867-875)."""

    return Hector(variables_=list(target_variables), bindings=list(bindings))
