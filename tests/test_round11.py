"""Round-11 regression tests: the ADVICE fix for partitioned PIT
snapshots plus new-entry probes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.sources.readers import (
    pit_snapshot,
    write_parquet,
)


def test_pit_snapshot_partitioned_layout_is_pinned(spark, sf_dir, tmp_path):
    """ADVICE r10 (medium): a partition_by table stores leaf files in
    key=value subdirectories; the old non-recursive listing found zero
    files there and silently fell back to a live directory read, leaking
    concurrent appends into an open PIT session."""
    tbl_dir = str(tmp_path / "docs.parquet")
    base = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "lang", "n_chars")
    )
    write_parquet(base, tbl_dir, partition_by=["lang"])
    written = spark.read.parquet(tbl_dir)
    n0 = written.count()
    langs0 = {r.lang for r in written.select("lang").distinct().collect()}

    pit = pit_snapshot(spark, str(tmp_path), "docs")
    assert pit.count() == n0
    # partition-column discovery must survive explicit leaf-file listing
    assert {r.lang for r in pit.select("lang").distinct().collect()} == langs0

    # concurrent append into an EXISTING partition and a NEW partition
    base.limit(7).withColumn("doc_id", F.col("doc_id") + 10_000_000).write.mode(
        "append"
    ).partitionBy("lang").parquet(tbl_dir)
    spark.createDataFrame([(99_999_999, 1)], "doc_id long, n_chars int").withColumn(
        "lang", F.lit("zz")
    ).write.mode("append").partitionBy("lang").parquet(tbl_dir)

    assert pit.count() == n0, "partitioned PIT leaked a concurrent append"
    assert pit.filter(F.col("lang") == "zz").count() == 0
    assert spark.read.parquet(tbl_dir).count() == n0 + 8  # live read sees both


def test_pit_snapshot_empty_dir_raises(spark, tmp_path):
    (tmp_path / "empty.parquet").mkdir()
    with pytest.raises(FileNotFoundError):
        pit_snapshot(spark, str(tmp_path), "empty")


def test_pit_snapshot_single_file_table(spark, sf_dir, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({"doc_id": [1, 2, 3]}), str(tmp_path / "one.parquet")
    )
    assert pit_snapshot(spark, str(tmp_path), "one").count() == 3
