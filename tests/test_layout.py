"""Data layout: exact Morton interleave, compaction and zone maps."""

import pyspark.sql.functions as F

from iatlas_cbioportal_export_spark.sources.layout import z_order_value


def test_z_order_value_exact_interleave(spark):
    df = spark.createDataFrame([(5, 3)], "x long, y long")
    # x=0b101 -> output bits 0,4; y=0b011 -> output bits 1,3  => 0b11011 = 27
    out = df.select(z_order_value(["x", "y"], bits=3).alias("z")).collect()
    assert out[0]["z"] == 27


def test_z_order_value_masks_out_of_range(spark):
    df = spark.createDataFrame([(0b1101, 0)], "x long, y long")
    # bits=2 keeps only x's low 2 bits (0b01 -> bit 0)
    out = df.select(z_order_value(["x", "y"], bits=2).alias("z")).collect()
    assert out[0]["z"] == 1


def test_compaction_plan_is_metadata_only(spark, tmp_path):
    from iatlas_cbioportal_export_spark.sources.layout import (
        list_data_files,
        plan_compaction,
    )

    path = str(tmp_path / "frag")
    spark.range(10_000).repartition(8).write.parquet(path)
    files = list_data_files(spark, path)
    assert len(files) == 8
    assert all(b > 0 for _, b in files)
    total = sum(b for _, b in files)
    plan = plan_compaction(spark, path, target_file_bytes=total // 3 + 1)
    assert plan == {"n_files": 8, "total_bytes": total, "n_target": 3}
    # target larger than the table -> one file, never zero
    assert plan_compaction(spark, path, total * 10)["n_target"] == 1


def test_compact_small_files_roundtrip(spark, tmp_path):
    from iatlas_cbioportal_export_spark.sources.layout import (
        compact_small_files,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    df = spark.range(5_000).select(
        F.col("id"), (F.col("id") % 7).alias("grp")
    )
    df.repartition(16).write.parquet(src)
    plan = compact_small_files(spark, src, out, target_file_bytes=1 << 40)
    assert plan["n_target"] == 1
    assert plan["n_output_files"] == 1
    back = spark.read.parquet(out)
    assert back.count() == 5_000
    assert back.agg(F.sum("id")).collect()[0][0] == 5_000 * 4_999 // 2


def test_zone_map_pruning_report(spark, tmp_path):
    """Clustered write + zone-map report: per-bucket min/max/count exact,
    pruning decision matches the stats, and the structural guarantee holds
    (a pruned bucket never contains qualifying rows)."""
    from iatlas_cbioportal_export_spark.sources.layout import (
        write_bucket_clustered,
        zone_map_pruning_report,
    )

    df = spark.range(0, 100).selectExpr("id AS k", "id * 2 AS v")
    path = str(tmp_path / "clustered")
    write_bucket_clustered(df, path, "k", 10)
    rows = {
        r["zm_bucket"]: r
        for r in zone_map_pruning_report(spark, path, "k", 25, 44).collect()
    }
    assert set(rows) == set(range(10))
    for b, r in rows.items():
        assert (r["zm_min"], r["zm_max"], r["n_rows"]) == (b * 10, b * 10 + 9, 10)
        assert r["prune_safe"]
    assert [b for b in sorted(rows) if not rows[b]["pruned"]] == [2, 3, 4]
    assert rows[2]["qualifying_rows"] == 5   # 25..29
    assert rows[3]["qualifying_rows"] == 10  # 30..39
    assert rows[4]["qualifying_rows"] == 5   # 40..44
    assert all(rows[b]["qualifying_rows"] == 0 for b in rows if rows[b]["pruned"])
