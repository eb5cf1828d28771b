"""Structured Streaming analog of the 1m tier rollup.

The reference is strictly batch (SURVEY §2.9 — full-split ARMA fits
are offline, /root/reference/StatsTesting/arma_anm_detc.py:49-53), and
the north rule asks for batch rollup with checkpoint resumability —
which `jobs/rollup_job.py` + `sources/catalog.py` provide. This module
is the engine's STREAMING INGEST surface for the same tier schema over
the engine's point-series model `(conv_id, ts, value)`: late points
are handled by an event-time watermark instead of the batch path's
idempotent bucket re-rollup, and the sink is append-mode parquet with
a streaming checkpoint.

The per-turn latency derivation that feeds this aggregate is itself
available as a streaming operator: ``latency_stream.stream_latency``
(:func:`hop.keyed_state` keyed by conv_id carrying last-turn
state), so the full north-star pipeline runs as a two-hop streaming
topology — transcripts → latency points → 1m tiers (parity with the
batch path asserted in tests/test_streaming.py).

Semantics parity: the streamed aggregate carries the same
(cnt, vcnt, sum, sum_sq, min, max) decomposition as
``operators/rollup.py``, so a finalized streamed bucket equals the
batch tier row exactly and upper tiers recombine from it with
``rollup_cascade`` unchanged (tested in tests/test_streaming.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from yahoo_anomaly_detection_spark.operators.rollup import (
    TIER_STATE_COLS,
    _finish_tier,
    merged_state,
    point_state,
)
from yahoo_anomaly_detection_spark.streaming.hop import require_utc

TIER_WINDOW = {"1m": "1 minute", "1h": "1 hour", "1d": "1 day"}


def _window_tier(df: DataFrame, ts_col: str, tier: str,
                 aggs: list) -> DataFrame:
    """Per-conversation ``F.window`` aggregate of the tier state,
    finished like a batch tier row."""
    agg = (
        df.groupBy("conv_id", F.window(ts_col, TIER_WINDOW[tier]).alias("w"))
        .agg(*aggs)
        .select("conv_id", F.col("w.start").alias("bucket_start"),
                *TIER_STATE_COLS[2:])
    )
    return _finish_tier(agg, tier)


def stream_rollup_1m(points: DataFrame,
                     watermark: str = "10 minutes",
                     set_watermark: bool = True) -> DataFrame:
    """Watermarked per-conversation 1m bucket aggregate.

    The watermark bounds state: buckets older than (max event time −
    watermark) finalize and evict from the state store, which is what
    lets this run forever at 10^12-turn scale — late points inside the
    watermark still merge into their bucket; later ones are dropped
    (the batch path's idempotent re-rollup covers reprocessing).

    ``set_watermark=False`` when an upstream hop already declared one
    on ``ts`` (e.g. ``dedup_stream.stream_dedup``): Spark forbids
    redefining a watermark mid-plan, and the upstream one composes —
    the engine tracks the min across chained stateful operators.
    """
    require_utc(points)
    if set_watermark:
        points = points.withWatermark("ts", watermark)
    return _window_tier(points, "ts", "1m",
                        point_state(F.col("value").cast("double")))


def stream_rollup_cascade(tiers: DataFrame, to_tier: str,
                          watermark: str = "2 hours") -> DataFrame:
    """Streaming lower-tier → upper-tier recombination: the streaming
    twin of ``rollup.rollup_cascade``, completing the continuous-
    aggregate tier chain in streaming mode (1m sink → 1h stream →
    1d stream).

    Exactness: the input rows are FINALIZED lower-tier buckets (the
    append sink only emits watermark-expired buckets), and the
    recombination sums the decomposed (cnt, vcnt, sum, sum_sq, min,
    max) state — so a finalized upper bucket equals the batch
    ``rollup_cascade`` row bit-for-bit (parity-tested). The watermark
    here rides on ``bucket_start`` of the lower tier: an upper bucket
    finalizes once lower buckets ``watermark`` past its end have been
    seen. State is one row per open (conv_id, upper bucket) — already
    1/60th (or 1/1440th) of the lower tier's key space, evicted on
    finalization, which is what lets the chain run forever.

    Sizing the cushion: the lower hop emits ALL buckets older than
    its new watermark in one commit, so one upstream commit can span
    a wide bucket_start range. If the file source then splits that
    commit across micro-batches (``maxFilesPerTrigger``) and happens
    to read the newest file first, this hop's watermark can jump past
    still-unread old buckets and drop them as late. Choose
    ``watermark`` LARGER than the biggest event-time jump between
    consecutive upstream commits (for steady ingestion that is the
    trigger interval — minutes; the 2h default is conservative), or
    set ``max_files_per_trigger`` high enough that one upstream
    commit lands in one batch. A queue source (Kafka) with
    per-partition ordering does not have the file-reorder hazard."""
    require_utc(tiers)
    return _window_tier(tiers.withWatermark("bucket_start", watermark),
                        "bucket_start", to_tier, merged_state())
