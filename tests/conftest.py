from __future__ import annotations

import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the reference's 10-edge *Deeper Inside PageRank* graph (FIXTURES.md §F1);
# its row order fixes the first-appearance ids 1,2,3,5,4,6
SMALL_CSV = os.path.join(REPO_ROOT, "tests", "data", "small.csv.gz")

sys.path.insert(0, REPO_ROOT)

from pagerank_project_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", cores=4, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf0001_fixture():
    from pagerank_project_spark.datagen import ensure_fixture

    return ensure_fixture(0.001)


@pytest.fixture(scope="session")
def small_csv():
    """Path of the vendored reference small.csv.gz (FIXTURES.md §F1)."""
    return SMALL_CSV


@pytest.fixture(scope="session")
def small_rows():
    """The reference small.csv.gz edge rows (FIXTURES.md §F1)."""
    import csv
    import gzip

    with gzip.open(SMALL_CSV, "rt") as f:
        return [(r["source"], r["target"]) for r in csv.DictReader(f)]
