import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from yahoo_anomaly_detection_spark.session import get_spark  # noqa: E402


def plan_str(df) -> str:
    """Executed physical plan as text (shared plan-audit helper)."""
    return df._jdf.queryExecution().executedPlan().toString()


def count_exchanges(df) -> int:
    """Number of shuffle exchanges in the executed plan (shared
    plan-audit helper — update HERE if a Spark upgrade adds a new
    Exchange flavor)."""
    import re

    return len(re.findall(r"Exchange (?:hash|range)partitioning",
                          plan_str(df)))


@pytest.fixture(scope="session")
def spark():
    s = get_spark("yads-tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


# confs the jobs' in-process main() calls re-set on the SHARED session
# (get_spark's getOrCreate applies builder options as SQL confs on an
# existing session) — restore them per test so e.g. a rollup_job e2e
# test can't leave shuffle_partitions=64 / 64m scan splits behind and
# make later plan-shape/timing tests order-dependent
_SESSION_CONFS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.files.maxPartitionBytes",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes",
    "spark.sql.session.timeZone",
    "spark.sql.execution.arrow.maxRecordsPerBatch",
)


@pytest.fixture(autouse=True)
def _stable_session_confs(request):
    if "spark" not in request.fixturenames:
        yield
        return
    s = request.getfixturevalue("spark")
    saved = {}
    for k in _SESSION_CONFS:
        try:
            saved[k] = s.conf.get(k)
        except Exception:
            saved[k] = None
    yield
    for k, v in saved.items():
        if v is not None:
            s.conf.set(k, v)
