"""Shared fixtures: one local SparkSession per test session."""

from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from financial_data_lakehouse_pipeline__spark.session import build_session  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = build_session("tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMALL
