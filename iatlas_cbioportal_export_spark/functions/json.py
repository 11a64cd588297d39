"""Schema-on-read JSON extraction (extension).

The reference has no nested data anywhere (SURVEY.md §1.2); the driver's
``events.props`` column is a JSON text payload, the shape every
event-ingestion pipeline carries. Two extraction paths:

- :func:`json_field` — ``get_json_object`` for one path: no schema needed,
  stays JVM-side (codegen), the right tool for pulling a couple of fields.
- :func:`variant_field_stats` — ``try_parse_json`` into a VARIANT: one
  parse, typed access without a declared schema.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def json_field(col: str, path: str, cast: str | None = None) -> Column:
    """Extract one JSON path as a column; optionally cast (JVM-side)."""
    c = F.get_json_object(F.col(col), path)
    return c.cast(cast) if cast else c


def json_field_stats(events: DataFrame) -> DataFrame:
    """Per-event-type stats over the ``props.k`` JSON field: the
    schema-on-read aggregation demo. Long sums are exact, so the avg
    derived as sum/count is hash-stable on any engine."""
    k = json_field("props", "$.k", "long")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n"),
            F.sum("k").alias("k_sum"),
            F.round(F.sum("k").cast("double") / F.count("k"), 6).alias("k_avg"),
        )
    )


def variant_field_stats(events: DataFrame) -> DataFrame:
    """Per-event-type stats over ``props`` through Spark 4's VARIANT type —
    the third extraction path: ``parse_json`` converts the text payload
    ONCE into the binary variant encoding (typed access without a declared
    schema — ``from_json``'s single-parse economics with
    ``get_json_object``'s schema freedom). At scale the variant column can
    be written to parquet shredded, so re-reads skip text parsing
    entirely; ``try_parse_json`` + ``try_variant_get`` are the null-safe
    parse/access pair (malformed payload, missing path or type mismatch →
    NULL, never an error row — plain ``parse_json`` is FAILFAST).

    Output: (event_type, n_events, n_k, k_sum, k_min, k_max) — exact
    longs, hash-stable on any engine.
    """
    v = F.try_parse_json(F.col("props"))
    k = F.try_variant_get(v, "$.k", "long")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("k").alias("n_k"),
            F.sum("k").alias("k_sum"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
        )
    )
