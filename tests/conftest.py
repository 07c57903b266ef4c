import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def requires_reference(*paths):
    """Skip unless every file of the LogAI reference checkout that the test
    reads exists: parity against the reference's own code and pins on its
    real labeled logs. The reason names the missing path(s); the test runs
    unchanged wherever the checkout is present."""
    missing = [p for p in paths if not os.path.exists(p)]
    return pytest.mark.skipif(
        bool(missing), reason=f"needs reference checkout file(s): {', '.join(missing)}"
    )


@pytest.fixture(scope="session")
def spark():
    from logai_spark.session import get_spark

    s = get_spark("logai_spark_tests", cpus=4)
    yield s
    s.stop()
