"""declarative_dataflow_spark — a PySpark-native analytics engine with
the query and data-processing capabilities of comnik/declarative-dataflow.

The reference (at /root/reference, Rust on timely/differential dataflow)
is a reactive Datalog engine: per-attribute (e, v) collections with
add/retract weights, a compositional Plan algebra (n-way joins,
negation, union, aggregation, recursion, pull/GraphQL document
queries), and incrementally-maintained results. This package
re-expresses that contract Spark-first: DataFrames + Catalyst for the
algebra, driver-side semi-naive fixpoints for recursion, Structured
Streaming for live inputs — never mimicking timely scheduling or
differential arrangements.
"""

from .engine import (
    AttributeConfig,
    Datom,
    Engine,
    InputSemantics,
    Rule,
)
from .plan import plans
from .plan.plans import (
    Aggregate,
    AggregationFn,
    Antijoin,
    AntijoinBinding,
    AttributeBinding,
    BinaryPredicateBinding,
    ConstantBinding,
    Filter,
    Function,
    Hector,
    Join,
    MatchA,
    MatchAV,
    MatchEA,
    NameExpr,
    Negate,
    Plan,
    Predicate,
    Project,
    Pull,
    PullAll,
    PullLevel,
    TopK,
    Transform,
    Union,
    q,
)

__all__ = [
    "AttributeConfig",
    "Datom",
    "Engine",
    "InputSemantics",
    "Rule",
    "plans",
    "Aggregate",
    "AggregationFn",
    "Antijoin",
    "AntijoinBinding",
    "AttributeBinding",
    "BinaryPredicateBinding",
    "ConstantBinding",
    "Filter",
    "Function",
    "Hector",
    "Join",
    "MatchA",
    "MatchAV",
    "MatchEA",
    "NameExpr",
    "Negate",
    "Plan",
    "Predicate",
    "Project",
    "Pull",
    "PullAll",
    "PullLevel",
    "TopK",
    "Transform",
    "Union",
    "q",
]

__version__ = "0.1.0"
