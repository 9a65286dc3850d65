"""Distributed sink tests (the S6 anti-pattern replacement)."""

from __future__ import annotations

import glob
import json
import os
import shutil

from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.sources.readers import (
    load_table,
)
from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.sources.sinks import (
    foreach_partition_bulk,
)

TMP = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp")


def test_foreach_partition_bulk_batches(spark, sf_dir):
    """Batches land per-partition with bounded size — the bulk-ingest shape
    (executor-side collection via accumulator-free temp files)."""
    out = os.path.join(TMP, "bulk_batches")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    docs = load_table(spark, sf_dir, "documents").select("doc_id").repartition(4)

    def send_batch(rows):
        # stands in for a bulk HTTP call; runs on executor threads
        import tempfile

        with tempfile.NamedTemporaryFile(
            "w", dir=out, prefix="batch_", suffix=".json", delete=False
        ) as f:
            json.dump(rows, f)

    foreach_partition_bulk(docs, send_batch, batch_size=50)
    batches = [json.load(open(p)) for p in glob.glob(os.path.join(out, "batch_*.json"))]
    assert all(len(b) <= 50 for b in batches)
    seen = sorted(r["doc_id"] for b in batches for r in b)
    want = sorted(r.doc_id for r in docs.collect())
    assert seen == want
    shutil.rmtree(out, ignore_errors=True)


