import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from yahoo_anomaly_detection_spark import caching  # noqa: E402
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


def file_digests(root) -> dict:
    """sha256 of every file under ``root``, by path."""
    import hashlib

    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[p] = hashlib.sha256(fh.read()).hexdigest()
    return out


def jobs_started(spark, fn):
    """``(fn(), number of Spark jobs fn started)``: job ids from the
    status tracker, read once the listener bus has drained."""
    tracker = spark.sparkContext.statusTracker()
    bus = spark.sparkContext._jsc.sc().listenerBus()
    bus.waitUntilEmpty(30_000)
    before = set(tracker.getJobIdsForGroup())
    out = fn()
    bus.waitUntilEmpty(30_000)
    return out, len(set(tracker.getJobIdsForGroup()) - before)


def events_df(spark, rows):
    """Event-table frame from ``(event_id, ts, user_id, event_type,
    value)`` tuples."""
    return spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double",
    )


def docs_df(spark, texts):
    """``doc_id, text`` frame with doc ids 0..len(texts)-1."""
    return spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string")


def pairs_df(spark, pairs):
    """``doc_a, doc_b`` candidate-pair frame."""
    return spark.createDataFrame(pairs, "doc_a long, doc_b long")


def lcg_embeddings(spark, n: int):
    """Deterministic synthetic embeddings with md5-derived components
    (iid-uniform-ish). An LCG won't do here: affine in the key, it
    puts every vector on a line in R^64 — degenerate bucket skew no
    plane count can fix."""
    from pyspark.sql import functions as F

    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(0, 63), d -> cast("
            "cast(conv(substr(md5(concat('v:', id, ':', d)), 1, 8), 16, 10)"
            " as double) / 4294967296.0 - 0.5 as float))"
        ).alias("embedding"),
    )


@pytest.fixture
def release_caches():
    """Release every registered cache after the test. Operators that
    materialize shared tiers leave the release to the caller, so the
    modules that run them opt in with ``pytestmark`` and the shared
    session does not accumulate caches."""
    yield
    caching.release_all()


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
