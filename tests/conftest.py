from __future__ import annotations

import sys
from pathlib import Path

import pytest

# the checkout this conftest lives in, so a copy of the repo tests its own engine
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from rs_graphdb_spark.session import get_spark

    return get_spark("tests")


@pytest.fixture(scope="session")
def graph(spark):
    from rs_graphdb_spark.loaders import load_tpch_graph

    return load_tpch_graph(spark, SF_DIR)


@pytest.fixture(scope="session")
def q(graph):
    from rs_graphdb_spark.query import Query

    return Query(graph=graph)
