from __future__ import annotations

import os
import shutil
import sys
import threading

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

SF_SMOKE = "/root/testdata/sf0.001"

# Deterministic Hypothesis corpus (VERDICT r8 item 8): by default every
# property test draws the SAME example sequence (derandomize derives it
# from the test itself), so builder, driver, and judge sessions reach
# identical verdicts; discovered-failure corners are committed as
# explicit @example pins in the test files.  Set HYPOTHESIS_EXPLORE=1
# to re-enable randomized exploration during development (how the r8
# cascade_toc_check counterexample was found).
from hypothesis import settings as _hyp_settings  # noqa: E402

_hyp_settings.register_profile("deterministic", derandomize=True)
_hyp_settings.register_profile("explore", derandomize=False)
_hyp_settings.load_profile(
    "explore" if os.environ.get("HYPOTHESIS_EXPLORE") else "deterministic"
)


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: opt-in tests needing real models/libraries (skipped in the sandbox)"
    )


def pytest_terminal_summary(terminalreporter):
    """The golden cascade tests skip when their reference file is absent;
    say so in the summary instead of leaving it to the skip count."""
    golden = sys.modules.get("test_golden_cascade")
    if golden is not None and not os.path.exists(golden._REF_FILE):
        terminalreporter.write_line(
            f"golden cascade coverage is off: {golden._REF_FILE} is missing",
            yellow=True,
        )


@pytest.fixture(scope="session")
def spark():
    from mergeextractor_spark.session import get_spark

    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def filings_df(spark):
    import pandas as pd

    from fixtures.filings import build_filings
    from mergeextractor_spark.schemas import FILING_DOCUMENTS

    # pandas/Arrow build: JVM-local batches, ~100x cheaper per action than
    # a list-of-dicts Python RDD (see operators/domain_queries._filings_df)
    return spark.createDataFrame(pd.DataFrame(build_filings()), schema=FILING_DOCUMENTS)


@pytest.fixture(scope="session")
def deals_df(spark):
    from mergeextractor_spark.sources.csv_deals import scan_csv_deals

    return scan_csv_deals(spark, os.path.join(REPO, "tests", "fixtures", "deals.csv"))


@pytest.fixture(scope="session")
def counting_move():
    """Factory of ``shutil.move`` stand-ins for fault injection: each one
    counts its calls and raises ``OSError`` on call ``fail_at``."""
    real = shutil.move

    def make(fail_at=None):
        lock = threading.Lock()

        def move(src, dst):
            with lock:
                move.n += 1
                if move.n == fail_at:
                    raise OSError(f"injected failure on move {move.n}")
            return real(src, dst)

        move.n = 0
        return move

    return make
