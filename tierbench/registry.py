"""The registry pass: one analyst query per registry operator module,
over small seeded tables shaped like the engine's test tables
(``events``, ``documents``, ``embeddings``), and its check against the
DuckDB oracle (``__spark_entry__.oracle_sql()``).

The tables are generated here, from the run's seed, because the
benchmark reads and writes nothing outside its checkout.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd

# query -> the registry operator module it exercises. acf_1d runs the
# centered co-moment kernel; holt_1m and multimodal_features cross the
# Python boundary (applyInPandas / mapInPandas).
QUERIES = {
    "acf_1d": "tsanalytics",
    "holt_1m": "tsanalytics",
    "ou_halflife": "statstests",
    "hll_actives_1d": "sketches",
    "sessionize": "sessions",
    "breach_intervals": "alerting",
    "event_transitions": "journeys",
    "dedup_exact": "dedup",
    "embedding_topk": "similarity",
    "weighted_sample": "textstats",
    "doc_repetition": "curation",
    "props_profile": "enrich",
    "compaction_plan": "layout",
    "multimodal_features": "multimodal",
    "residual_cascade": "cascade",
}
MODULES = tuple(sorted(set(QUERIES.values())))
TABLES = ("events", "documents", "embeddings")

N_EVENTS, EVENTS_PER_USER, N_DOCS, N_EMBS, EMB_DIM = 2000, 67, 400, 400, 64
_EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
_LANGS = np.array(["en", "fr", "es", "zh", "de"])
_WORDS = np.array((
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window").split())


def write_tables(root: str, seed: int, scale: float = 1.0) -> str:
    """Write the three tables as ``<root>/<name>.parquet``: January
    2024 events of ~30 users (sorted by time, ids in time order, an
    exponential value, a ``{"k": n}`` props string); documents over a
    small vocabulary with ~5% near-copies marked ``dup``; unit-norm
    64-d embeddings with ten weakly clustered labels."""
    rng = np.random.default_rng(np.random.SeedSequence([seed, 0x5F]))
    os.makedirs(root, exist_ok=True)
    n_ev = max(200, int(N_EVENTS * scale))
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.uniform(0, 30 * 86400e6, n_ev)).astype("timedelta64[us]")
    pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": t0 + offs,
        "user_id": rng.integers(0, max(3, n_ev // EVENTS_PER_USER), n_ev),
        "event_type": _EVENT_TYPES[rng.integers(0, 5, n_ev)],
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }).to_parquet(os.path.join(root, "events.parquet"), index=False)

    n_docs = max(50, int(N_DOCS * scale))
    texts = [" ".join(_WORDS[rng.integers(0, len(_WORDS), n)])
             for n in rng.integers(10, 100, n_docs)]
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    lang = np.where(rng.random(n_docs) < 0.4, "en",
                    _LANGS[rng.integers(1, 5, n_docs)])
    pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": lang,
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }).to_parquet(os.path.join(root, "documents.parquet"), index=False)

    n_embs = max(50, int(N_EMBS * scale))
    label = rng.integers(0, 10, n_embs).astype(np.int32)
    centers = rng.normal(size=(10, EMB_DIM))
    x = 0.15 * centers[label] + rng.normal(size=(n_embs, EMB_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    pd.DataFrame({
        "vec_id": np.arange(n_embs, dtype=np.int64),
        "embedding": list(x),
        "label": label,
    }).to_parquet(os.path.join(root, "embeddings.parquet"), index=False)
    return root


def oracle_check(spark, sf_dir: str, ops, release) -> None:
    """Run each query once more, collect it and compare it with its
    oracle SQL on DuckDB, through ``scripts/check_oracle.py``'s
    canonical compare (row count, column set, order-insensitive
    values). Each query is one checked operation."""
    import duckdb

    import __spark_entry__ as entry

    sys.path.insert(0, os.path.join(os.path.dirname(entry.__file__),
                                    "scripts"))
    from check_oracle import compare

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(sf_dir, t + '.parquet')}'")
        queries, oracles = entry.queries(), entry.oracle_sql()
        for name in QUERIES:
            def one(name=name):
                try:
                    got = queries[name](spark, sf_dir).toPandas()
                finally:
                    release()
                verdict = compare(name, got,
                                  con.execute(oracles[name]).fetchdf())
                if verdict != "OK":
                    raise AssertionError(verdict)
            ops.run(f"registry {name} == oracle", one)
    finally:
        con.close()
