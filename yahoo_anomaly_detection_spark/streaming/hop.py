"""What every streaming hop shares: the file source, the parquet sink,
the UTC guard and the per-key state scaffold.

Each hop module keeps only its own operator (an aggregate, or a pure
``step`` kernel run under :func:`keyed_state`); sources, sinks and the
``applyInPandasWithState`` TTL plumbing live here once.
"""

from __future__ import annotations

from typing import Callable

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

TRANSCRIPTS_DDL = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)
POINTS_DDL = "conv_id string, ts timestamp, value double"
TIERS_DDL = (
    "conv_id string, bucket_start timestamp, cnt long, vcnt long,"
    " sum double, sum_sq double, min double, max double,"
    " mean double, std double, turn_rate double"
)
EVENTS_DDL = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double"
)


def read_parquet_stream(spark: SparkSession, path: str, ddl: str,
                        max_files_per_trigger: int = 8) -> DataFrame:
    """File-source stream over a growing parquet directory — the local
    stand-in for a Kafka/queue source, and the streaming medallion
    handoff when ``path`` is the sink of the hop below (swap
    ``.format`` and options for Kafka without touching the hop)."""
    return (
        spark.readStream.schema(ddl)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def start_to_parquet(df: DataFrame, out_path: str, checkpoint_path: str,
                     trigger_secs: int = 1):
    """Append-mode parquet sink with a streaming checkpoint: finalized
    rows land exactly once, and a restart resumes from the checkpoint
    like the batch path resumes from the catalog snapshot table."""
    return (
        df.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .trigger(processingTime=f"{trigger_secs} seconds")
        .start()
    )


def require_utc(df: DataFrame) -> None:
    """The streaming hops bucket with ``F.window()`` (epoch/UTC
    aligned — the only groupBy shape whose state the watermark can
    evict), while the batch tiers bucket with ``date_trunc`` in the
    SESSION timezone. get_spark pins the session to UTC so the two
    agree bit-for-bit; any other zone would silently shift streamed
    1h/1d bucket_starts by the zone offset — fail loudly instead."""
    tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
    if tz.upper() not in ("UTC", "GMT", "ETC/UTC", "Z"):
        raise ValueError(
            f"streaming tier rollups require spark.sql.session.timeZone"
            f"=UTC for batch parity (window() is epoch-aligned, batch "
            f"date_trunc is session-zone); got {tz!r}"
        )


def keyed_state(df: DataFrame, keys: list[str],
                step: Callable[[tuple, pd.DataFrame, GroupState],
                               pd.DataFrame | None],
                out_schema: T.StructType, state_schema: T.StructType,
                state_ttl_ms: int | None = None,
                sort_col: str | None = None) -> DataFrame:
    """Run ``step(key, pdf, state)`` once per key and micro-batch
    (``applyInPandasWithState`` in append mode).

    ``pdf`` is the key's whole batch in one frame (sorted by
    ``sort_col`` if given, never empty); ``step`` reads and updates
    ``state`` and returns the rows to emit, or ``None``. With
    ``state_ttl_ms`` (processing-time timeout) a key's state is
    removed once it has received no rows for that long, so the state
    store holds live keys only, not every key ever seen; a key that
    returns after eviction starts fresh. A key without state (its
    batch left none) arms no timer: there is nothing to evict.

    Known Spark 4.1 caveat: with ``state_ttl_ms`` set, run the session
    with ``spark.sql.streaming.noDataMicroBatches.enabled=false``.
    Processing-time timeouts schedule no-data micro-batches, and
    planning one NPEs inside ``FlatMapGroupsInPandasWithStateExec.copy``
    (null session during CollapseCodegenStages) — an upstream bug,
    observed as a permanently hung ``processAllAvailable``. With
    no-data batches off, timeouts are evaluated during ordinary data
    batches (an eviction can be deferred until the next batch arrives,
    which is harmless for a TTL).
    """
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if state_ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )

    def fn(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if pdf.empty:
            return
        if sort_col is not None:
            pdf = pdf.sort_values(sort_col, ignore_index=True)
        out = step(key, pdf, state)
        if state_ttl_ms is not None and state.exists:
            state.setTimeoutDuration(state_ttl_ms)
        if out is not None:
            yield out

    return df.groupBy(*keys).applyInPandasWithState(
        fn, out_schema, state_schema, "append", timeout
    )
