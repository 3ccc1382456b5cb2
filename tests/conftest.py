from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO_ROOT))

from ocr_service_spark.sources.pages import REFERENCE_DOCS  # noqa: E402


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "requires_reference: reads the reference checkout's test documents"
    )


def pytest_collection_modifyitems(config, items):
    """Tests marked ``requires_reference`` or using ``fixture_bytes`` are
    skipped, with the directory named, when the reference is absent."""
    if REFERENCE_DOCS.is_dir():
        return
    skip = pytest.mark.skip(reason=f"reference test documents not found: {REFERENCE_DOCS}")
    for item in items:
        if "requires_reference" in item.keywords or "fixture_bytes" in item.fixturenames:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def fixture_bytes():
    def load(rel: str) -> bytes:
        return (REFERENCE_DOCS / rel).read_bytes()

    return load


@pytest.fixture(scope="session")
def spark():
    """Session-scoped local SparkSession (local[4] keeps tests snappy)."""
    from ocr_service_spark.plans.session import build_session

    spark = build_session(app_name="ocr-service-spark-tests", cpus=4, shuffle_partitions=8)
    yield spark
    spark.stop()
