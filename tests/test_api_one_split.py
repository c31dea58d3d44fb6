"""Every endpoint test of ``test_api`` again, over one-split tables.

``test_api``'s ``domain`` fixture gives the tables as multi-partition
in-memory frames, so its tests check the distributed plans. The
``domain`` fixture here gives the one-file parquet copies of the same
rows, opened with ``spark.read.parquet``: one split each, which
``api._table`` plans as one partition, so the endpoints run without
shuffles. pytest resolves a test's fixtures in the module that collects
it, so every test imported below takes this module's ``domain``."""

from __future__ import annotations

import pytest

from tests.test_api import *  # noqa: F403 (the tests and domain_files)
from tests.test_api import domain_files, one_split_tables

# a test_api test that takes no ``domain`` runs there only: delete it here
del test_api_serves_etl_sync_output  # noqa: F821


@pytest.fixture(scope="module")
def domain(spark, domain_files):  # noqa: F811
    """The one-file parquet copies of test_api's tables."""
    frames, con, root = domain_files
    return one_split_tables(spark, frames, root), con
