"""Spark-vs-DuckDB oracle parity inside the test gate for the shared
integer kernels: flat, per-subspace and coarse-cell nearest-centroid
assigns, the integer-mean update, the seed rule and the weighted
PageRank. Same comparison as ``tools/oracle_check.py`` (row count,
column names and type classes, order-insensitive values)."""

from __future__ import annotations

import os
import sys

import pytest
from conftest import SF_SMALL

import joblink_etl_spark

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(joblink_etl_spark.__file__)))
sys.path.insert(0, _REPO)

from tools.oracle_check import compare, duckdb_views  # noqa: E402


@pytest.fixture(scope="module")
def con():
    c = duckdb_views(SF_SMALL)
    yield c
    c.close()


@pytest.mark.parametrize(
    "name",
    ["kmeans_clusters", "pq_codes", "ann_index_add", "rocchio_classify", "pagerank_weighted"],
)
def test_shared_kernel_queries_match_oracle(spark, con, name):
    n, fails = compare(spark, con, name, SF_SMALL)
    spark.catalog.clearCache()
    assert not fails, "\n".join(fails)
    assert n > 0
