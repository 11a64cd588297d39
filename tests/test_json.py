"""Schema-on-read JSON extraction: single-path extract and
malformed-payload null behavior."""

from pyspark.sql import functions as F

from iatlas_cbioportal_export_spark.functions.json import (
    json_field,
    json_field_stats,
)


def _events(spark):
    return spark.createDataFrame(
        [
            (1, "click", '{"k": 10, "tag": "a"}'),
            (2, "click", '{"k": 20}'),
            (3, "view", '{"k": 5, "tag": "b"}'),
            (4, "view", "not json at all"),
            (5, "view", None),
        ],
        "event_id long, event_type string, props string",
    )


def test_json_field_extract_and_cast(spark):
    got = {
        r["event_id"]: r["k"]
        for r in _events(spark).select("event_id", json_field("props", "$.k", "long").alias("k")).collect()
    }
    assert got == {1: 10, 2: 20, 3: 5, 4: None, 5: None}


def test_json_field_stats_counts_only_parsed(spark):
    got = {
        r["event_type"]: (r["n"], r["k_sum"], r["k_avg"])
        for r in json_field_stats(_events(spark)).collect()
    }
    assert got["click"] == (2, 30, 15.0)
    # malformed + null rows contribute nothing to count/sum
    assert got["view"] == (1, 5, 5.0)


def test_xml_roundtrip_escaping(spark, tmp_path):
    """XML write/read must survive entity-escaping hazards (&, <, >, quotes,
    unicode) and nulls with a declared schema."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from iatlas_cbioportal_export_spark.sources.readers import read_xml, write_xml

    rows = [
        (1, "a < b & c > d"),
        (2, 'quotes "x" and \'y\''),
        (3, "unicode: héllo – ⊕"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    path = str(tmp_path / "xmlrt")
    write_xml(df, path, row_tag="rec")
    schema = StructType(
        [StructField("id", LongType()), StructField("text", StringType())]
    )
    back = read_xml(spark, path, row_tag="rec", schema=schema)
    assert sorted((r["id"], r["text"]) for r in back.collect()) == sorted(rows)


def test_variant_field_stats_null_safety(spark):
    """Malformed JSON, missing path, and wrong-typed values all land as
    NULL k (counted in n_events, absent from n_k) — try_variant_get never
    errors a row."""
    from pyspark.sql import functions as F

    from iatlas_cbioportal_export_spark.functions.json import (
        variant_field_stats,
    )

    rows = [
        ("a", '{"k": 5}'),
        ("a", '{"k": 7}'),
        ("a", '{"other": 1}'),   # path missing
        ("b", '{"k": "txt"}'),   # not castable to long
        ("b", "not json"),       # malformed
    ]
    ev = spark.createDataFrame(rows, "event_type string, props string")
    out = {r["event_type"]: r for r in variant_field_stats(ev).collect()}
    assert out["a"]["n_events"] == 3 and out["a"]["n_k"] == 2
    assert out["a"]["k_sum"] == 12 and out["a"]["k_min"] == 5
    assert out["b"]["n_k"] == 0 and out["b"]["k_sum"] is None
