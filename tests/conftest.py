import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: the reference implementation's golden test pages; absent on machines
#: without a reference checkout
REFERENCE_PAGES = "/root/reference/test/test-pages"


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        f"requires_reference: needs the golden pages at {REFERENCE_PAGES}; "
        "skipped when that directory is missing",
    )


def pytest_collection_modifyitems(config, items):
    if os.path.isdir(REFERENCE_PAGES):
        return
    skip = pytest.mark.skip(reason=f"golden pages missing: {REFERENCE_PAGES}")
    for item in items:
        if item.get_closest_marker("requires_reference") is not None:
            # ahead of any other skip mark (an empty parameter set's), so
            # this reason is the one reported
            item.add_marker(skip, append=False)


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.driver.memory", "4g")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.log.level", "ERROR")
        # timestamp assertions compare against naive-UTC wall clocks;
        # pin the session tz so tests pass under any host TZ
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    yield s
    s.stop()
