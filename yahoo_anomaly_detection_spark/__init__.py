"""PySpark-native time-series rollup + downsample + retention engine.

A brand-new engine (NOT a port) with the query/data-processing
capabilities of the reference repo BhargavBade/Yahoo-Anomaly-Detection,
re-expressed Spark-first: event-time bucketing into 1m/1h/1d
continuous-aggregate tiers, rolling/EWMA statistics and z-score
envelopes echoing the reference's statistical anomaly detectors
(/root/reference/StatsTesting/arma_anm_detc.py:61-73), threshold-grid
F1 sweep, confusion metrics, Gorilla XOR + delta-of-delta compression,
linear-interpolation gap-fill, TTL tier eviction, checkpoint resume,
plus large-scale training-data-pipeline operators (dedup, similarity
search, text analysis, multimodal plumbing).

Everything is DataFrame API + vectorized pandas/Arrow UDFs; no RDDs,
no per-row Python in hot paths.
"""

from yahoo_anomaly_detection_spark import zipguard

zipguard.install()

__version__ = "0.1.0"
