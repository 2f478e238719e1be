"""File sources: CSV / JSON / Parquet -> attributes.

Parity with the reference's Sourceable connectors
(src/sources/csv_file.rs:17-39 — schema is a list of
(aid, (column, type-hint)) plus an entity-id column; one output
collection per attribute; src/sources/json_file.rs — one attribute per
object key). Spark-first: the file becomes a (streaming or batch)
DataFrame and each attribute is a column-pruned view registered on the
Engine, so Catalyst prunes the scan per attribute and the Hector
compiler can fuse them back.

The reference's polling ``interval`` maps to Structured Streaming file
discovery; batch ``fuel`` maps to ``maxFilesPerTrigger``.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..engine import Engine


@dataclass
class ColumnSpec:
    """One attribute sourced from one column (csv_file.rs:33-34)."""

    aid: str
    column: str
    type_hint: str = "string"  # v type: string/long/double/boolean/timestamp


def register_csv_source(
    engine: Engine,
    table_name: str,
    path: str,
    eid_column: str,
    columns: list[ColumnSpec],
    header: bool = True,
    delimiter: str = ",",
    timestamp_column: Optional[str] = None,
) -> DataFrame:
    """Read a CSV and register one attribute per column spec.

    Returns the base DataFrame (also registered as a Scan table).
    """

    schema_parts = [f"`{eid_column}` long"]
    for c in columns:
        schema_parts.append(f"`{c.column}` {c.type_hint}")
    if timestamp_column:
        schema_parts.append(f"`{timestamp_column}` long")
    df = (
        engine.spark.read.option("header", header)
        .option("delimiter", delimiter)
        .schema(", ".join(schema_parts))
        .csv(path)
    )
    engine.register_table(table_name, df)
    for c in columns:
        engine.register_table_attribute(
            c.aid, table_name, eid_column, c.column
        )
    return df


def register_json_source(
    engine: Engine,
    table_name: str,
    path: str,
    eid_column: str,
    aid_prefix: str = "",
) -> DataFrame:
    """Newline-delimited JSON -> one attribute per top-level key
    (json_file.rs parity). Keys are discovered from the inferred
    schema; nested objects are left as JSON strings."""

    df = engine.spark.read.json(path)
    engine.register_table(table_name, df)
    for field in df.schema.fields:
        if field.name == eid_column:
            continue
        aid = f"{aid_prefix}{field.name}"
        engine.register_table_attribute(
            aid, table_name, eid_column, f"`{field.name}`"
        )
    return df


def json_fields(
    df: DataFrame, json_col: str, fields: dict[str, str]
) -> DataFrame:
    """Project typed columns out of an embedded JSON-string column
    (the metadata-sidecar pattern: a parquet table carries a `props`
    VARCHAR holding per-row JSON). ``fields`` maps field name ->
    Spark SQL type; one ``from_json`` with an EXPLICIT schema parses
    the blob JVM-side inside whole-stage codegen — schema-on-read
    without inference jobs, no Python in the loop, and unparseable
    rows or type-mismatched fields (e.g. a string-typed "7" against a
    BIGINT field) yield NULLs instead of failures (the large-corpus
    contract: a single malformed sidecar must not kill a 100 TB scan).

    Beyond-reference: the reference ingests JSON only as whole files
    (json_file.rs); embedded per-row JSON columns have no analog.
    """

    schema = ", ".join(f"`{name}` {typ}" for name, typ in fields.items())
    parsed = F.from_json(F.col(json_col), schema)
    return df.select(
        "*", *[parsed[name].alias(name) for name in fields]
    ).drop(json_col)


def stream_datom_source(
    spark: SparkSession,
    path: str,
    v_type: str = "string",
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Streaming transactional input: newline-JSON datoms
    {e, a, v, t, diff} (the reference's Transact request stream,
    src/server/mod.rs:284-296)."""

    return (
        spark.readStream.schema(
            f"e long, a string, v {v_type}, t long, diff long"
        )
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(path)
    )
