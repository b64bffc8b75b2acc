"""Shared pytest fixtures: one SparkSession per test session."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mercurygate_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


def pytest_report_header(config):
    """Say up front when the whole-registry sweeps are sampled, so a
    green default run is not read as registry-wide parity."""
    from mercurygate_spark.queries import all_oracles
    from tests.registry_sample import full_tests, registry_sample

    if full_tests():
        return None
    keys = all_oracles()
    return (
        f"registry sweeps run the stride-4 sample: {len(registry_sample(keys))} "
        f"of {len(keys)} oracle keys (SPARK_GRAFT_FULL_TESTS=1 runs all)"
    )


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="mercurygate_spark_tests", cpus=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture(scope="session")
def duck_con(sf_dir):
    from tests.oracle_harness import duck_connection

    con = duck_connection(sf_dir)
    yield con
    con.close()
