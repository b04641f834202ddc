import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def _lane(config) -> str:
    markexpr = config.getoption("markexpr")
    if markexpr == "not slow":
        return (
            "lane: DEFAULT (tests marked slow are skipped; "
            'run the full lane with -m "")'
        )
    if not markexpr:
        return "lane: FULL (every test, slow included)"
    return f"lane: CUSTOM (-m {markexpr!r})"


def pytest_report_header(config):
    """Name the lane in the session header: pytest.ini's default
    ``-m "not slow"`` skips the slow tests, so a green default run is
    not the full gate."""
    return _lane(config)


def pytest_terminal_summary(terminalreporter, exitstatus, config):
    # -q hides the header; repeat the lane next to the pass counts
    terminalreporter.write_line(_lane(config))


@pytest.fixture(scope="session")
def spark():
    from gpd_lite_toolbox_spark.session import get_spark

    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
