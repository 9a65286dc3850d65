from __future__ import annotations

import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.session import (  # noqa: E402
    get_spark,
)

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark("engine-tests", extra_conf={"spark.sql.shuffle.partitions": "8"})
    yield s


@pytest.fixture(params=["driver", "loop"])
def cluster_path(request, monkeypatch):
    """Runs a ``dedup_clusters`` test on both of its paths: the driver
    union-find, and the label propagation, forced by an edge bound of 0."""
    if request.param == "loop":
        from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.operators import dedup

        monkeypatch.setattr(dedup, "DRIVER_EDGE_BOUND", 0)
    return request.param


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE
