"""Round-4 operator tests: ANSI/Iceberg NULL-predicate DELETE
semantics, harness-only guard on the orphan-RDD sweep, connected-
components hygiene (max_iter validation, per-round block release,
reliable-checkpoint mode), two-phase as-of join, bounded top-k per
stratum, and sketch percentiles."""

import pytest
from pyspark.sql import functions as F

from conftest import lcg_embeddings, pairs_df
from yahoo_anomaly_detection_spark import caching
from yahoo_anomaly_detection_spark.operators import dedup, similarity
from yahoo_anomaly_detection_spark.sources.catalog import ParquetCatalog


@pytest.fixture()
def catalog(tmp_path):
    return ParquetCatalog(str(tmp_path / "warehouse"))


# ------------------------- DELETE with NULL-predicate rows (ADVICE)
def test_delete_where_retains_null_predicate_rows(spark, catalog):
    """ANSI / Iceberg DELETE removes only predicate=TRUE rows; rows
    where the predicate evaluates NULL survive — and must survive
    REGARDLESS of whether their data dir was rewritten (it contained
    TRUE matches) or carried over untouched (it did not). The old
    ``NOT (p)`` rewrite filter dropped NULL rows from rewritten dirs
    only, making survival depend on physical layout."""
    # dir 1: a TRUE match + a NULL row  -> rewritten
    catalog.append(
        spark.createDataFrame(
            [(1, 5.0), (2, None)], "id long, v double"
        ),
        "t",
    )
    # dir 2: a FALSE row + a NULL row   -> untouched (no TRUE match)
    catalog.append(
        spark.createDataFrame(
            [(3, 50.0), (4, None)], "id long, v double"
        ),
        "t",
    )
    catalog.delete_where(spark, "t", "v < 10")
    snap = catalog.snapshots("t")[-1]
    assert snap.summary["rewritten_dirs"] == 1
    assert snap.summary["pruned_dirs"] == 1
    kept = sorted(r["id"] for r in catalog.read(spark, "t").collect())
    # only id=1 (v=5, predicate TRUE) is deleted; both NULL rows live
    assert kept == [2, 3, 4]


# --------------------------------- orphan-RDD sweep guard (ADVICE)
def test_release_orphan_rdds_refuses_with_live_registry(spark):
    df = spark.range(10)
    caching.materialize(df)
    try:
        with pytest.raises(RuntimeError, match="still live"):
            caching.release_orphan_rdds(spark)
    finally:
        caching.release_all()
    # registry drained -> sweep is allowed again
    caching.release_orphan_rdds(spark)
    # scoped registrations (any thread's) also block the sweep — a
    # global release_all() does NOT make a mid-scope sweep safe
    with caching.scope():
        caching.materialize(spark.range(5))
        caching.release_all()  # global registry empty...
        with pytest.raises(RuntimeError, match="scoped"):
            caching.release_orphan_rdds(spark)  # ...but scope is live
    caching.release_orphan_rdds(spark)  # scope exited -> allowed


# ------------------------------------ connected-components hygiene
def test_cc_max_iter_zero_raises(spark):
    with pytest.raises(ValueError, match="max_iter"):
        dedup.connected_components(pairs_df(spark, [(1, 2)]), max_iter=0)


def test_cc_releases_previous_round_blocks(spark):
    """After a multi-round CC run, only the FINAL round's checkpoint
    blocks (plus the registered edges cache) may remain persisted —
    earlier rounds' localCheckpoint RDDs must have been unpersisted
    as the loop advanced (ADVICE: repeated library calls were
    accumulating block-manager memory for the session lifetime)."""
    caching.release_all()
    caching.release_orphan_rdds(spark)  # clean slate
    edges = [(i, i + 1) for i in range(12)]  # ~11 propagation rounds
    stats = {}
    cc = dedup.connected_components(pairs_df(spark, edges), stats=stats)
    got = {r["doc_id"]: r["cluster"] for r in cc.collect()}
    assert got == {i: 0 for i in range(13)}
    assert stats["rounds"] >= 10
    n_persistent = len(dedup._persistent_rdd_ids(spark))
    # edges cache + final-round checkpoint blocks only — NOT one RDD
    # per round (which would be >= stats["rounds"])
    assert n_persistent <= 3, n_persistent
    caching.release_all()
    caching.release_orphan_rdds(spark)


def test_cc_reliable_requires_checkpoint_dir(spark):
    # runs BEFORE test_cc_reliable_checkpoint (definition order):
    # the session has no checkpoint dir yet
    if not spark.sparkContext._jsc.sc().getCheckpointDir().isEmpty():
        pytest.skip("checkpoint dir already set in this session")
    with pytest.raises(RuntimeError, match="setCheckpointDir"):
        dedup.connected_components(
            pairs_df(spark, [(1, 2)]), reliable=True
        )


def test_cc_reliable_checkpoint(spark, tmp_path):
    """reliable=True commits each round to the configured checkpoint
    dir (survives executor loss on a real cluster) and still returns
    the same components with truncated lineage: the returned plan
    reads the checkpointed RDD, not the round-k join tree."""
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    edges = [(1, 2), (2, 3), (3, 4), (10, 11)]
    stats = {}
    cc = dedup.connected_components(pairs_df(spark, edges),
                                    reliable=True, stats=stats)
    got = {r["doc_id"]: r["cluster"] for r in cc.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    # reliable checkpoint files were actually written
    ckpt_files = list((tmp_path / "ckpt").rglob("part-*"))
    assert ckpt_files, "no reliable checkpoint files on disk"
    # superseded round files were pruned as the loop advanced: only
    # the final round's rdd-* dir survives, not one per round
    rdd_dirs = [d for d in (tmp_path / "ckpt").rglob("rdd-*")
                if d.is_dir()]
    assert stats["rounds"] >= 3
    assert len(rdd_dirs) == 1, rdd_dirs
    # lineage truncation: the final plan is a scan of the checkpointed
    # RDD — the iterative join/aggregate subtree is gone
    plan = cc._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan, plan
    caching.release_all()
    caching.release_orphan_rdds(spark)


# ------------------------------------- two-phase as-of join (scale)
def _asof_fixture(spark, n_days: int):
    """Two low-cardinality keys, hourly left events over n_days, a
    daily right baseline effective at next midnight — plus edge
    cases: events before any baseline (day 0), and a baseline gap
    (key 'b' has no day-2 baseline, so day-3 events must carry in
    from day 1 across the empty bucket)."""
    t0 = 1704067200  # 2024-01-01 00:00:00 UTC
    left = [
        (d * 24 + h, k, t0 + d * 86400 + h * 3600, float(d * 100 + h))
        for k in ("a", "b")
        for d in range(n_days)
        for h in (1, 13)
    ]
    ldf = spark.createDataFrame(
        left, "event_id long, key string, sec long, v double"
    ).select("event_id", "key", F.timestamp_seconds("sec").alias("ts"), "v")
    right = [
        (k, t0 + (d + 1) * 86400, float(d * 10))
        for k in ("a", "b")
        for d in range(n_days - 1)
        if not (k == "b" and d == 2)
    ]
    rdf = spark.createDataFrame(
        right, "key string, sec long, base double"
    ).select("key", F.timestamp_seconds("sec").alias("eff"), "base")
    return ldf, rdf


def test_asof_two_phase_matches_single_phase(spark):
    """Bucketed (two-phase) as-of join must return exactly the
    single-phase result — including rows before any baseline (NULL)
    and carry-ins across buckets with no right rows."""
    from yahoo_anomaly_detection_spark.operators.sessions import asof_join

    ldf, rdf = _asof_fixture(spark, n_days=6)
    kw = dict(key="key", left_ts="ts", right_ts="eff",
              value_cols=("base",))
    one = asof_join(ldf, rdf, **kw)
    two = asof_join(ldf, rdf, bucket_seconds=86400, **kw)
    assert one.exceptAll(two).count() == 0
    assert two.exceptAll(one).count() == 0
    got = {r["event_id"]: r["base"]
           for r in two.where("key = 'b'").collect()}
    assert got[1] is None          # day 0: no trailing baseline yet
    assert got[3 * 24 + 1] == 10.0  # day-3 carries day-1 base over gap


def test_asof_two_phase_per_task_input_stays_bounded(spark):
    """Doubling history length must NOT grow the biggest window
    partition of the two-phase path: (key, bucket) group sizes stay
    flat while key-alone group sizes double — the straggler the
    bucketing exists to prevent."""
    from yahoo_anomaly_detection_spark.operators.sessions import asof_join

    def max_groups(n_days):
        ldf, rdf = _asof_fixture(spark, n_days)
        u = ldf.select(
            "key", "ts").unionByName(rdf.select("key", F.col("eff").alias("ts")))
        b = u.withColumn("bkt", F.floor(F.unix_micros("ts") / 86400e6))
        per_key = b.groupBy("key").count().agg(F.max("count")).first()[0]
        per_kb = b.groupBy("key", "bkt").count().agg(F.max("count")).first()[0]
        # sanity: results stay correct at both scales
        out = asof_join(ldf, rdf, key="key", left_ts="ts",
                        right_ts="eff", value_cols=("base",),
                        bucket_seconds=86400)
        assert out.count() == ldf.count()
        return per_key, per_kb

    key8, kb8 = max_groups(8)
    key16, kb16 = max_groups(16)
    assert key16 >= 2 * key8 - 2      # key-alone partitions grow ~2x
    assert kb16 == kb8                # (key, bucket) partitions do not


# -------------------------------------- bounded top-k per stratum
def test_topk_per_band_bounded_matches_window_path(spark):
    """The per-partition-heap formulation must return exactly the
    naive single-window result, across ties and many partitions."""
    from yahoo_anomaly_detection_spark.operators import textstats

    words = " ".join(f"w{i}" for i in range(40))  # band 1 (30<=40<70)
    docs = spark.createDataFrame(
        [(i,
          " ".join("the" if i % 7 == j % 5 else f"t{i}x{j}"
                   for j in range(10 + (i * 13) % 90)))
         for i in range(300)] + [(1000, words), (1001, words)],
        "doc_id long, text string",
    ).repartition(8)
    fast = textstats.topk_per_band(docs, k=6, bounded=True)
    naive = textstats.topk_per_band(docs, k=6, bounded=False)
    assert fast.exceptAll(naive).count() == 0
    assert naive.exceptAll(fast).count() == 0
    # every band that exists yields exactly k (or all) rows, ranks 1..k
    got = fast.groupBy("band").agg(
        F.count(F.lit(1)).alias("n"), F.max("rk").alias("mx")
    ).collect()
    for r in got:
        assert r["n"] == r["mx"] <= 6


# ---------------------------------------- sketch percentile option
def test_value_percentiles_sketch_within_rank_error(spark):
    """rel_error=r maps to approx_percentile(accuracy=ceil(1/r)):
    per group, the sketch's pXX must sit within ±r of the exact rank.
    Values are a uniform integer grid, so value distance IS rank
    distance (scaled by n) — the bound checks directly."""
    from yahoo_anomaly_detection_spark.operators import sessions

    n = 5000
    rows = [(i, t, 1704067200 + (i * 7919) % 86400, float(i))
            for t in ("x", "y") for i in range(n)]
    ev = spark.createDataFrame(
        rows, "event_id long, event_type string, sec long, value double"
    ).select("event_id", "event_type",
             F.timestamp_seconds("sec").alias("ts"), "value")
    r = 0.01
    exact = {(x["event_type"]): x
             for x in sessions.value_percentiles(ev).collect()}
    sk = {(x["event_type"]): x
          for x in sessions.value_percentiles(ev, rel_error=r).collect()}
    assert set(exact) == set(sk) == {"x", "y"}
    for t in ("x", "y"):
        assert sk[t]["n"] == exact[t]["n"] == n
        for q, col in ((0.5, "p50"), (0.95, "p95"), (0.99, "p99")):
            # value == rank on the uniform grid; allow r·n rank slack
            assert abs(sk[t][col] - q * (n - 1)) <= r * n + 1, (t, col, sk[t][col])
    with pytest.raises(ValueError, match="rel_error"):
        sessions.value_percentiles(ev, rel_error=0.9)


# ------------------------------------- IVF Lloyd centroid training
def test_ivf_lloyd_objective_monotone_and_normalized(spark):
    """Each Lloyd round's mean assigned-cosine objective (recorded
    BEFORE that round's update) must be non-decreasing — the
    spherical-k-means convergence guarantee — and trained centroids
    come back unit-normalized in the same sorted (cid, ce) array
    shape as the seed quantizer."""
    embs = lcg_embeddings(spark, 300)
    stats = []
    cents = similarity.ivf_train_centroids(
        embs, centroid_mod=30, iters=4, stats=stats
    )
    assert len(stats) == 4
    for a, b in zip(stats, stats[1:]):
        assert b >= a - 1e-9, stats
    assert stats[-1] > stats[0], stats  # it actually improved
    arr = cents.first()["cents"]
    assert [c["cid"] for c in arr] == sorted(c["cid"] for c in arr)
    for c in arr:
        nrm = sum(x * x for x in c["ce"]) ** 0.5
        assert abs(nrm - 1.0) < 1e-9


def test_ivf_topk_trained_full_probe_still_equals_brute_force(spark):
    """Training moves cell boundaries but never the exact rerank:
    with nprobe = #cells, trained-IVF top-k must equal brute force
    exactly (the invariance that makes training safe to enable)."""
    embs = lcg_embeddings(spark, 200)
    n_cells = embs.where(F.col("vec_id") % 40 == 0).count()
    bf = similarity.brute_force_topk(embs, query_mod=50, k=3)
    ivf = similarity.ivf_topk(embs, centroid_mod=40, nprobe=n_cells,
                              query_mod=50, k=3, train_iters=2)
    caching.release_all()
    assert bf.exceptAll(ivf).count() == 0
    assert ivf.exceptAll(bf).count() == 0


def test_ivf_lloyd_empty_cell_keeps_previous_centroid(spark):
    """A centroid that wins no vectors must carry over unchanged
    (deterministic, no respawn jitter). Every centroid is also a
    corpus vector (cos to itself = 1), so the only way a cell goes
    empty is a TIE: seed centroids 0 and 200 are identical vectors,
    the argmax's strict-> fold keeps the smaller cid, so cell 200
    receives zero vectors — including its own — and must survive
    training bit-identical."""
    def unit(axis, eps_axis=None, eps=0.0):
        v = [0.0] * 8
        v[axis] = 1.0
        if eps_axis is not None:
            v[eps_axis] = eps
        n = sum(x * x for x in v) ** 0.5
        return [x / n for x in v]

    rows = [(0, unit(0)), (100, unit(1)), (200, unit(0))]  # 200 == 0
    for i, vid in enumerate(range(1, 31)):
        rows.append((vid, unit(i % 2, 2 + (i % 3), 0.05 * (1 + i % 4))))
    embs = spark.createDataFrame(
        [(vid, [float(x) for x in v]) for vid, v in rows],
        "vec_id long, embedding array<double>",
    )
    seed = {c["cid"]: list(c["ce"])
            for c in similarity.ivf_centroid_array(embs, 100).first()["cents"]}
    trained = {c["cid"]: list(c["ce"])
               for c in similarity.ivf_train_centroids(
                   embs, 100, iters=2).first()["cents"]}
    assert set(seed) == set(trained) == {0, 100, 200}
    # cell 200 lost the tie for every vector (incl. its own seed) —
    # zero members, carried over exactly
    assert trained[200] == seed[200]
    # the populated cells DID move (training happened)
    assert trained[0] != seed[0] and trained[100] != seed[100]


def test_ivf_train_iters_zero_is_seed_quantizer(spark):
    embs = lcg_embeddings(spark, 100)
    seed = similarity.ivf_centroid_array(embs, 20).first()["cents"]
    zero = similarity.ivf_train_centroids(embs, 20, iters=0).first()["cents"]
    assert [c["cid"] for c in seed] == [c["cid"] for c in zero]
    for a, b in zip(seed, zero):
        assert list(a["ce"]) == list(b["ce"])
    with pytest.raises(ValueError, match="iters"):
        similarity.ivf_train_centroids(embs, 20, iters=-1)


# ------------------------------------------- curation job (e2e)
def test_curation_job_end_to_end_and_resume(spark, tmp_path, capsys):
    """jobs/curation_job.py: full curation DAG through the catalog
    with per-stage checkpoints — curated ids must equal the operator
    composition exactly, and a re-run with the same run-id skips
    every stage (resume) while reading back identical results."""
    from jobs import curation_job
    from yahoo_anomaly_detection_spark.operators import textstats
    from yahoo_anomaly_detection_spark.sources.catalog import (
        ParquetCatalog as PC,
    )

    src = "/root/testdata/sf0.001/documents.parquet"
    wh = str(tmp_path / "cur_wh")
    argv = ["--input", src, "--catalog-root", wh, "--run-id", "r1"]
    m1 = curation_job.main(argv)
    assert m1["skipped_units"] == 0
    cat = PC(wh)
    curated = sorted(
        r["doc_id"] for r in cat.read(spark, "curated_ids").collect()
    )
    docs = spark.read.parquet(src)
    quality = textstats.quality_filter(
        docs, min_quality=0.4, min_stop_ratio=0.01, langs=("en",)
    ).select("doc_id")
    canon = dedup.canonical_corpus(docs, n=3, threshold=0.5)
    sample = textstats.stratified_sample(
        docs, rates=(0.25, 0.5, 1.0), salt="s0"
    ).select("doc_id")
    expect = sorted(
        r["doc_id"]
        for r in quality.join(canon, "doc_id", "left_semi")
        .join(sample, "doc_id", "left_semi")
        .collect()
    )
    caching.release_all()
    caching.release_orphan_rdds(spark)
    assert curated == expect and len(curated) > 0
    # digest table carries the text-equality invariant for every doc
    assert m1["stages"]["doc_digest_rows"] == docs.count()
    # resume: same run-id skips all five stages, same curated set
    m2 = curation_job.main(argv)
    assert m2["skipped_units"] == 5
    curated2 = sorted(
        r["doc_id"] for r in cat.read(spark, "curated_ids").collect()
    )
    assert curated2 == curated


def test_asof_two_phase_randomized_equivalence(spark):
    """Seeded random scenarios: two-phase must equal single-phase on
    corners the hand-built fixture can't enumerate — several right
    rows inside one bucket, right rows after the last left row, keys
    with only left (or only right) rows, bucket-boundary timestamps,
    non-day bucket spans, and NULL-bearing right value columns (the
    per-column carry must expose an older non-null value when a
    bucket's newest right row is NULL in that column, exactly like
    single-phase last(c, ignorenulls=True))."""
    import random

    from yahoo_anomaly_detection_spark.operators.sessions import asof_join

    t0 = 1704067200
    for seed in range(6):
        rng = random.Random(seed)
        span = rng.choice([3600, 7200, 86400])
        keys = ["k%d" % i for i in range(rng.randint(1, 4))]
        left = []
        for i in range(rng.randint(5, 40)):
            k = rng.choice(keys + ["left_only"])
            # include exact bucket-boundary hits
            sec = t0 + rng.randrange(0, 6 * 86400, rng.choice([1, span]))
            left.append((i, k, sec, float(i)))
        right, seen = [], set()
        for j in range(rng.randint(0, 25)):
            k = rng.choice(keys + ["right_only"])
            sec = t0 + rng.randrange(0, 8 * 86400, rng.choice([1, span]))
            # (key, eff) kept unique: two right rows at the SAME
            # instant have no defined as-of winner, and the two
            # paths break that tie differently by design
            if (k, sec) in seen:
                continue
            seen.add((k, sec))
            base = None if rng.random() < 0.3 else float(100 + j)
            aux = None if rng.random() < 0.3 else float(200 + j)
            right.append((k, sec, base, aux))
        ldf = spark.createDataFrame(
            left, "event_id long, key string, sec long, v double"
        ).select("event_id", "key",
                 F.timestamp_seconds("sec").alias("ts"), "v")
        rdf = spark.createDataFrame(
            right or [("_", t0 - 10**6, 0.0, 0.0)],
            "key string, sec long, base double, aux double",
        ).select("key", F.timestamp_seconds("sec").alias("eff"),
                 "base", "aux")
        kw = dict(key="key", left_ts="ts", right_ts="eff",
                  value_cols=("base", "aux"))
        one = asof_join(ldf, rdf, **kw)
        two = asof_join(ldf, rdf, bucket_seconds=span, **kw)
        assert one.exceptAll(two).count() == 0, seed
        assert two.exceptAll(one).count() == 0, seed


def test_rollup_job_vacuum_stage(spark, tmp_path):
    """jobs/rollup_job.py --vacuum-keep-last: after two runs each tier
    table carries two overwrite snapshots; vacuum compacts the live
    view and physically removes every superseded commit dir while the
    tier contents survive byte-for-row."""
    import os

    from jobs import rollup_job
    from yahoo_anomaly_detection_spark.sources.catalog import (
        ParquetCatalog as PC,
    )
    from yahoo_anomaly_detection_spark.synthgen import gen_transcripts

    src = str(tmp_path / "transcripts")
    gen_transcripts(spark, n_convs=20, partitions=4).write.parquet(src)
    wh = str(tmp_path / "wh")
    base = ["--input", src, "--catalog-root", wh, "--tiers", "1m,1h"]
    rollup_job.main(base + ["--run-id", "v1"])
    # --evict-now far in the past: a no-op eviction that still
    # exercises the partition-pruned predicate + the verify gate
    m2 = rollup_job.main(
        base + ["--run-id", "v2", "--vacuum-keep-last", "1",
                "--evict-now", "2020-01-01 00:00:00"]
    )
    for tier in ("1m", "1h"):
        assert f"evict_{tier}_snapshot" in m2["stages"]
        # only the run-1 dir is GC'd: the no-op eviction commits
        # nothing and run 2's view already is one dir, so compaction
        # is a no-op too and leaves no pre-compaction dir behind
        assert m2["stages"][f"vacuum_tier_{tier}_removed_dirs"] == 1
        cat = PC(wh)
        snaps = cat.snapshots(f"tier_{tier}")
        assert len(snaps) == 1 and len(snaps[-1].paths) == 1
        n_dirs = sum(
            1 for n in os.listdir(os.path.join(wh, f"tier_{tier}"))
            if n.startswith("snap="))
        assert n_dirs == 1
        # tiers are hive-partitioned by day and the layout survived
        # the no-op eviction + compaction (sticky spec)
        assert any(n.startswith("day=")
                   for n in os.listdir(snaps[-1].paths[0]))
        assert (cat.read(spark, f"tier_{tier}").count()
                == m2["stages"][f"tier_{tier}_rows"] > 0)


# ----------------------------- loud-failure guards (review pass 3)
def test_minhash_lsh_rejects_non_divisible_bands(spark):
    docs = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    with pytest.raises(ValueError, match="multiple of bands"):
        dedup.minhash_lsh_pairs(docs, k=18, bands=4)


def test_salted_agg_rejects_non_decomposable_alias(spark):
    from yahoo_anomaly_detection_spark.operators.rollup import salted_agg

    df = spark.createDataFrame([("c1", 1.0)], "conv_id string, value double")
    with pytest.raises(ValueError, match="cannot recombine"):
        salted_agg(df, "conv_id", [F.avg("value").alias("mean")])
    # the decomposable shape still works
    out = salted_agg(
        df, "conv_id",
        [F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("sum")],
    ).collect()
    assert out[0]["cnt"] == 1 and out[0]["sum"] == 1.0


def test_multimodal_decode_batch_shapes():
    """Zero-row Arrow batches decode to (0, 16) instead of raising,
    and ragged payloads fail loudly instead of misaligning rows."""
    import numpy as np

    from yahoo_anomaly_detection_spark.operators.multimodal import (
        PAYLOAD_BYTES,
        _decode_batch,
    )

    assert _decode_batch([]).shape == (0, PAYLOAD_BYTES)
    two = _decode_batch([bytes(range(16)), bytes(range(16, 32))])
    assert two.shape == (2, PAYLOAD_BYTES)
    assert two[1, 0] == 16
    with pytest.raises(ValueError):
        _decode_batch([bytes(range(16)), b"\x00" * 15])  # ragged


def test_streaming_rollup_requires_utc(spark):
    """F.window() buckets are epoch/UTC-aligned while batch date_trunc
    follows the session zone — a non-UTC session must fail loudly
    instead of silently shifting streamed 1h/1d buckets."""
    from yahoo_anomaly_detection_spark.streaming import hop

    df = spark.range(1)
    hop.require_utc(df)  # session is UTC: passes
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    try:
        with pytest.raises(ValueError, match="timeZone"):
            hop.require_utc(df)
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_text_invariant_table_antijoin(spark):
    """The per-turn text-equality invariant (BASELINE input_hint):
    two datasets are turn-equal iff their invariant tables anti-join
    to zero rows both ways; a single corrupted turn is caught; rn
    equals turn_idx under stable ordering for dense indices."""
    from yahoo_anomaly_detection_spark.sources.ingest import (
        text_invariant_table,
    )
    from yahoo_anomaly_detection_spark.synthgen import gen_transcripts

    a = gen_transcripts(spark, n_convs=6, partitions=2)
    inv_a = text_invariant_table(a)
    inv_b = text_invariant_table(gen_transcripts(spark, n_convs=6,
                                                 partitions=3))
    on = ["conv_id", "turn_idx", "text_sha"]
    assert inv_a.join(inv_b, on, "left_anti").count() == 0
    assert inv_b.join(inv_a, on, "left_anti").count() == 0
    # stable-order invariant: row_number-1 == dense turn_idx
    assert inv_a.where(F.col("rn") != F.col("turn_idx")).count() == 0
    # one corrupted turn text -> exactly one mismatch row each way
    c = a.withColumn(
        "text",
        F.when((F.col("turn_idx") == 1)
               & (F.col("conv_id") == "conv_00000000"),
               F.lit("CORRUPTED")).otherwise(F.col("text")),
    )
    inv_c = text_invariant_table(c)
    assert a.where(
        "conv_id = 'conv_00000000' and turn_idx = 1"
    ).count() == 1, "fixture lacks the corrupted coordinate"
    assert inv_a.join(inv_c, on, "left_anti").count() == 1
    assert inv_c.join(inv_a, on, "left_anti").count() == 1


def test_distinct_counts_exact_and_sketch(spark):
    """Exact path counts true distinct ids (repeat visitors collapse,
    NULL ids ignored); rsd=r HLL path lands within the advertised
    relative error and plans MERGEABLE partial sketches — the shuffle
    carries sketches, not id sets."""
    from conftest import plan_str
    from yahoo_anomaly_detection_spark.operators import sessions

    n, n_distinct = 6000, 1500
    rows = [(i, "x", 1704067200 + i, float(i % n_distinct))
            for i in range(n)]
    rows.append((n, "x", 1704067200, None))  # NULL id never counts
    ev = spark.createDataFrame(
        rows, "event_id long, event_type string, sec long, uid double"
    ).select("event_id", "event_type",
             F.timestamp_seconds("sec").alias("ts"),
             F.col("uid").cast("long").alias("user_id"))
    exact = sessions.distinct_counts(ev).collect()
    assert len(exact) == 1
    assert exact[0]["n_users"] == n_distinct
    assert exact[0]["n_events"] == n + 1
    sk_df = sessions.distinct_counts(ev, rsd=0.02)
    sk = sk_df.collect()[0]["n_users"]
    assert abs(sk - n_distinct) <= 0.1 * n_distinct, sk
    # mergeable sketch: map-side partial_approx_count_distinct
    assert "partial_approx_count_distinct" in plan_str(sk_df)
    with pytest.raises(ValueError, match="rsd"):
        sessions.distinct_counts(ev, rsd=0.9)


def test_funnel_ordered_first_touch(spark):
    """u1 completes in order; u2's click precedes their view (no
    conversion); u3 stops at click; u4 purchases without viewing."""
    from yahoo_anomaly_detection_spark.operators import sessions

    rows = [(1, "view", 0), (1, "click", 10), (1, "purchase", 20),
            (2, "click", 0), (2, "view", 10),
            (3, "view", 0), (3, "click", 5),
            (4, "purchase", 0)]
    ev = spark.createDataFrame(
        [(u, t, 1704067200 + s) for u, t, s in rows],
        "user_id long, event_type string, sec long",
    ).select("user_id", "event_type",
             F.timestamp_seconds("sec").alias("ts"))
    out = {r["stage"]: (r["step"], r["n_users"])
           for r in sessions.funnel(ev).collect()}
    assert out == {0: ("view", 3), 1: ("click", 2), 2: ("purchase", 1)}
    with pytest.raises(ValueError, match="at least 2"):
        sessions.funnel(ev, steps=("view",))
    with pytest.raises(ValueError, match="distinct"):
        sessions.funnel(ev, steps=("view", "view"))


def test_funnel_strictly_after_semantics(spark):
    # a click at EXACTLY the view time does not convert (strict >)
    from yahoo_anomaly_detection_spark.operators import sessions

    ev = spark.createDataFrame(
        [(1, "view", 1704067200), (1, "click", 1704067200)],
        "user_id long, event_type string, sec long",
    ).select("user_id", "event_type",
             F.timestamp_seconds("sec").alias("ts"))
    out = {r["stage"]: r["n_users"]
           for r in sessions.funnel(ev, steps=("view", "click")).collect()}
    assert out == {0: 1, 1: 0}


def test_retention_cohorts_matrix(spark):
    """u1,u2 first seen day0 (u1 returns day1+day2, u2 returns day2);
    u3 first seen day1, never returns. Multiple same-day events
    count once."""
    from yahoo_anomaly_detection_spark.operators import sessions

    rows = [(1, 0), (1, 0), (1, 1), (1, 2),   # dup day-0 event
            (2, 0), (2, 2),
            (3, 1)]
    ev = spark.createDataFrame(
        [(u, 1704067200 + d * 86400 + u) for u, d in rows],
        "user_id long, sec long",
    ).select("user_id", F.timestamp_seconds("sec").alias("ts"))
    out = {(r["cohort"].day, r["day_offset"]):
           (r["n_active"], r["retention"])
           for r in sessions.retention_cohorts(ev).collect()}
    d0 = min(d for d, _ in out)
    assert out[(d0, 0)] == (2, 1.0)        # cohort day0: u1,u2
    assert out[(d0, 1)] == (1, 0.5)        # day1: u1 only
    assert out[(d0, 2)] == (2, 1.0)        # day2: both return
    assert out[(d0 + 1, 0)] == (1, 1.0)    # cohort day1: u3
    assert len(out) == 4


def _monitor_transcripts(spark, tmp_path):
    """Deterministic transcripts with one engineered incident: conv
    "a" ticks every 10 s, then goes silent for 50 minutes (absence
    run + a 3000 s latency spike on return); conv "b" stays steady."""
    base = 1699999200  # hour-aligned
    rows = []
    for i in range(180):  # 30 min of 10s turns
        rows.append(("a", i, "user", "t", "none", base + i * 10))
    rows.append(("a", 180, "user", "t", "none", base + 179 * 10 + 3000))
    for i in range(120):
        rows.append(("b", i, "user", "t", "none", base + i * 30))
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, epoch long",
    ).select("conv_id", "turn_idx", "role", "text", "tool",
             F.timestamp_seconds(F.col("epoch")).alias("ts"))
    path = str(tmp_path / "mon_transcripts")
    df.write.mode("overwrite").parquet(path)
    return path


def test_monitor_job_end_to_end_and_resume(spark, tmp_path):
    """jobs/monitor_job.py: tier → ensemble flags → padded incident
    windows → daily coverage (+ absence channel) through the catalog;
    coverage must equal the operator composition exactly and a re-run
    with the same run-id skips every stage."""
    from jobs import monitor_job
    from yahoo_anomaly_detection_spark.operators import (
        alerting, tsanalytics,
    )
    from yahoo_anomaly_detection_spark.operators.rollup import (
        rollup_points, transcripts_latency,
    )
    from yahoo_anomaly_detection_spark.sources.ingest import (
        bronze_transcripts,
    )

    src = _monitor_transcripts(spark, tmp_path)
    wh = str(tmp_path / "mon_wh")
    argv = ["--input", src, "--catalog-root", wh, "--run-id", "m1"]
    m1 = monitor_job.main(argv)
    assert m1["skipped_units"] == 0
    cat = ParquetCatalog(wh)
    flags = cat.read(spark, "mon_flags")
    # the engineered spike is caught by at least two detectors
    assert flags.where(F.col("flag") == 1).count() >= 1
    # absence channel fires inside the 50-minute silence
    assert m1["stages"]["mon_absent_rows"] >= 1
    got_cov = sorted(
        (r["conv_id"], str(r["bucket_start"]), r["covered_s"])
        for r in cat.read(spark, "mon_coverage").collect()
    )
    # direct operator composition (same parameters as the job)
    t1m = rollup_points(
        transcripts_latency(bronze_transcripts(spark.read.parquet(src))),
        "1m",
    ).select("conv_id", "bucket_start", F.col("mean").alias("mean_v"))
    ens = tsanalytics.ensemble_flags(
        t1m.where(F.col("mean_v").isNotNull()), "mean_v")
    eps = alerting.flag_intervals(ens, "flag", sample_seconds=60).select(
        "conv_id",
        F.timestamp_micros(F.unix_micros("interval_start")
                           - F.lit(120_000_000)).alias("s"),
        F.timestamp_micros(F.unix_micros("interval_end")
                           + F.lit(120_000_000)).alias("e"),
    )
    mi = alerting.merge_intervals(eps, keys=("conv_id",),
                                  start_col="s", end_col="e")
    want_cov = sorted(
        (r["conv_id"], str(r["bucket_start"]), r["covered_s"])
        for r in alerting.interval_coverage(
            mi, start_col="interval_start",
            end_col="interval_end").collect()
    )
    caching.release_all()
    assert got_cov == want_cov and len(got_cov) > 0
    # resume: same run-id skips all five stages
    m2 = monitor_job.main(argv)
    assert m2["skipped_units"] == 5


# ------------------------------------------------- rolling actives
def test_rolling_actives_matches_python_walk(spark):
    """Trailing 7-day distinct actives per observed day: a user active
    twice in the window counts once; day−6 is in, day−7 is out; days
    with no events never appear."""
    from conftest import plan_str
    from yahoo_anomaly_detection_spark.operators import sessions

    day0 = 1704067200  # 2024-01-01, day-aligned
    # (user, day) activity incl. a repeat visitor and a gap > window
    acts = [(1, 0), (2, 0), (1, 1), (1, 3), (3, 3), (1, 3),
            (2, 9), (1, 10), (4, 17)]
    rows = [
        (i, "x", day0 + d * 86400 + 60 * i, u)
        for i, (u, d) in enumerate(acts)
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, event_type string, sec long, user_id long"
    ).select("event_id", "event_type",
             F.timestamp_seconds("sec").alias("ts"), "user_id")
    out = sessions.rolling_actives(ev, window_days=7).collect()
    got = {
        (int(r["day"].timestamp()) - day0) // 86400:
            (r["n_active"], r["n_events"])
        for r in out
    }
    obs_days = sorted({d for _, d in acts})
    expect = {}
    for d in obs_days:
        in_win = [(u, dd) for u, dd in acts if d - 6 <= dd <= d]
        expect[d] = (len({u for u, _ in in_win}), len(in_win))
    assert got == expect
    # boundary pins: day 3 window [−3..3] has users {1,2,3}; day 10
    # window [4..10] has {1,2} (day-3 activity aged out); day 17 sees
    # only user 4
    assert got[3] == (3, 6) and got[10] == (2, 2) and got[17] == (1, 1)
    with pytest.raises(ValueError, match="window_days"):
        sessions.rolling_actives(ev, window_days=0)
    # plan: never the range-join formulation (no nested loop /
    # cartesian); ONE corpus-touching exchange on (user, day), the
    # rest run on the post-aggregate relation (count_distinct's
    # expand adds 2 small-side exchanges)
    plan = plan_str(sessions.rolling_actives(ev, 7))
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert plan.count("Exchange") <= 3


def test_rolling_actives_sketch_parity_and_mergeable_plan(spark):
    """sketch=True estimates within HLL error on a real cardinality
    and plans mergeable partial sketches — the corpus-touching stage
    is ONE map-side-combined exchange carrying sketches, not id
    sets."""
    from conftest import plan_str
    from yahoo_anomaly_detection_spark.operators import sessions

    day0 = 1704067200
    n = 4000
    rows = [
        (i, "x", day0 + (i % 10) * 86400 + i, i % 800)
        for i in range(n)
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, event_type string, sec long, user_id long"
    ).select("event_id", "event_type",
             F.timestamp_seconds("sec").alias("ts"), "user_id")
    exact = {r["day"]: r["n_active"]
             for r in sessions.rolling_actives(ev, 7).collect()}
    sk_df = sessions.rolling_actives(ev, 7, sketch=True)
    sk = {r["day"]: r["n_active"] for r in sk_df.collect()}
    assert set(sk) == set(exact)
    for d, v in exact.items():
        assert abs(sk[d] - v) <= max(3, 0.05 * v), (d, sk[d], v)
    assert "partial_hll_sketch_agg" in plan_str(sk_df)


# ------------------------------------------------- weighted sample
def test_weighted_sample_matches_python_priorities(spark):
    """A-ES priorities ln(u)/w reproduce bit-for-bit from the salted
    md5; top-k selection matches the python sort; zero/NULL weights
    are excluded."""
    import hashlib
    import math as m

    from conftest import plan_str
    from yahoo_anomaly_detection_spark.operators import textstats

    rows = [(i, (i * 37) % 500 + 1) for i in range(200)]
    rows += [(200, 0), (201, None)]  # excluded: zero / NULL weight
    docs = spark.createDataFrame(rows, "doc_id long, n_chars long")

    def pri(doc_id, w):
        h = hashlib.md5(f"w0:{doc_id}".encode()).hexdigest()[:8]
        u = (int(h, 16) + 0.5) / 2**32
        return m.log(u) / w

    expect = sorted(
        ((pri(i, w), i, w) for i, w in rows if w),
        key=lambda t: (-t[0], t[1]),
    )[:25]
    out = textstats.weighted_sample(docs, k=25).collect()
    assert len(out) == 25
    got = {r["doc_id"]: (r["weight"], r["priority"]) for r in out}
    assert set(got) == {i for _, i, _ in expect}
    for p, i, w in expect:
        assert got[i][0] == float(w)
        assert got[i][1] == pytest.approx(p, abs=2e-4)
    # k beyond corpus: every positive-weight doc survives
    assert textstats.weighted_sample(docs, k=1000).count() == 200
    # per-partition k-heap + driver merge, never a global corpus sort
    assert "TakeOrderedAndProject" in plan_str(
        textstats.weighted_sample(docs, k=25))
    with pytest.raises(ValueError, match="k"):
        textstats.weighted_sample(docs, k=0)


def test_weighted_sample_weight_proportional_inclusion(spark):
    """Statistical sanity over many salts: a doc with 9x the weight of
    the others is included in the k-sample far more often than a
    light doc (probability-proportional-to-size without
    replacement)."""
    from yahoo_anomaly_detection_spark.operators import textstats

    rows = [(i, 900 if i < 10 else 100) for i in range(100)]
    docs = spark.createDataFrame(rows, "doc_id long, n_chars long")
    heavy_hits = light_hits = 0
    for s in range(12):
        ids = {r["doc_id"] for r in textstats.weighted_sample(
            docs, k=20, salt=f"s{s}").collect()}
        heavy_hits += sum(1 for i in range(10) if i in ids)
        light_hits += sum(1 for i in range(10, 100) if i in ids)
    # heavy docs: 10 of 100 docs but 50% of total weight — expect
    # heavy inclusion rate several times the light rate
    heavy_rate = heavy_hits / (10 * 12)
    light_rate = light_hits / (90 * 12)
    assert heavy_rate > 2.5 * light_rate, (heavy_rate, light_rate)


# ------------------------------------------------- ann recall@k
def test_ann_recall_properties(spark):
    """ann_recall vs a python replay: brute-force vs itself = 1.0
    everywhere; LSH recall matches the exact set-intersection count;
    zero-hit queries still appear (left join, not semi)."""
    from yahoo_anomaly_detection_spark.operators import similarity

    embs = lcg_embeddings(spark, 300)
    exact = similarity.brute_force_topk(embs, query_mod=50, k=5)
    # identity: an exact result scored against itself is perfect
    self_r = similarity.ann_recall(exact, exact, k=5).collect()
    assert len(self_r) == 6  # vec_id % 50 == 0 -> 6 queries in 300
    assert all(r["recall"] == 1.0 and r["n_hits"] == 5 for r in self_r)

    approx = similarity.lsh_bucketed_topk(embs, n_planes=8,
                                          query_mod=50, k=5)
    got = {r["q_id"]: (r["n_hits"], r["recall"])
           for r in similarity.ann_recall(approx, exact, k=5).collect()}
    ex = {}
    for r in exact.collect():
        ex.setdefault(r["q_id"], set()).add(r["neighbor_id"])
    ap = {}
    for r in approx.collect():
        ap.setdefault(r["q_id"], set()).add(r["neighbor_id"])
    assert set(got) == set(ex)  # every exact query appears
    for q, nbrs in ex.items():
        hits = len(nbrs & ap.get(q, set()))
        assert got[q] == (hits, pytest.approx(hits / 5.0, abs=1e-9))
    # single-bucket LSH at 8 planes on 300 iid vectors cannot be
    # perfect everywhere AND must beat random; both ends pinned
    mean_recall = sum(v[1] for v in got.values()) / len(got)
    assert 0.0 < mean_recall < 1.0
    with pytest.raises(ValueError, match="k"):
        similarity.ann_recall(approx, exact, k=0)


# ------------------------------------------------- tf-idf top terms
def test_tfidf_matches_python_replay(spark):
    """Smoothed TF-IDF (sklearn formula) reproduces a python replay
    on a corpus with a stopword-like common term, a shared mid-df
    term, and doc-unique terms; common terms never win rank 1."""
    import math as m
    import re

    from conftest import plan_str
    from yahoo_anomaly_detection_spark.operators import textstats

    texts = {
        0: "the cat sat on the mat the cat",
        1: "the dog ate the bone",
        2: "the cat chased the dog dog",
        3: "quantum flux the capacitor",
    }
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string")
    out = textstats.tfidf_topk(docs, m=2).collect()
    got = {(r["doc_id"], r["rk"]): (r["token"], r["tf"], r["tfidf"])
           for r in out}

    toks = {i: re.findall("[a-z0-9]+", t.lower()) for i, t in texts.items()}
    n = len(texts)
    df = {}
    for ts in toks.values():
        for t in set(ts):
            df[t] = df.get(t, 0) + 1
    expect = {}
    for i, ts in toks.items():
        tf = {t: ts.count(t) for t in set(ts)}
        scored = sorted(
            ((tf[t] * (m.log((1 + n) / (1 + df[t])) + 1), t)
             for t in tf),
            key=lambda p: (-p[0], p[1]),
        )[:2]
        for rk, (x, t) in enumerate(scored, 1):
            expect[(i, rk)] = (t, tf[t], round(x, 4))
    assert set(got) == set(expect)
    for key, (t, tf_, x) in expect.items():
        gt, gtf, gx = got[key]
        assert (gt, gtf) == (t, tf_)
        assert gx == pytest.approx(x, abs=2e-4)
    # idf discrimination: in doc 0, "cat" (tf=2, df=2) outranks "the"
    # (tf=3 but df=N, idf floor 1.0) — 3.02 > 3.00
    assert got[(0, 1)][0] == "cat" and got[(0, 2)][0] == "the"
    with pytest.raises(ValueError, match="m must"):
        textstats.tfidf_topk(docs, m=0)
    # plan pins: idf side broadcast, no cartesian on the tf join (the
    # 1-row N crossjoin on the vocab side is the one BNLJ allowed)
    plan = plan_str(textstats.tfidf_topk(docs, m=2))
    assert "BroadcastHashJoin" in plan


# ------------------------------------------------------ embedding outliers
def test_embedding_outliers_flags_planted_off_cluster_vector(spark):
    import numpy as np

    rng = np.random.default_rng(41)
    rows = []
    # two tight clusters around orthogonal axes + one planted stray
    for i in range(30):
        lab = i % 2
        base = np.zeros(64)
        base[lab] = 1.0
        v = base + rng.normal(0, 0.05, size=64)
        rows.append((i, [float(x) for x in v], lab))
    stray = np.zeros(64)
    stray[10] = 1.0  # label-0 vector pointing nowhere near axis 0
    rows.append((100, [float(x) for x in stray], 0))
    embs = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    out = {r["vec_id"]: r for r in
           similarity.embedding_outliers(embs, z_thresh=2.0).collect()}
    assert len(out) == 31
    assert out[100]["outlier"] == 1
    # the stray inflates label-0's cosine spread, so no genuine
    # label-0 cluster member can sit 2 sigmas out beside it (label-1's
    # tight spread may still flag its own worst member — z-scores are
    # scale-free, that's the operator working as designed)
    assert all(out[i]["outlier"] == 0
               for i in range(30) if i % 2 == 0)
    # python replay of the cosine for one cluster member
    import numpy.linalg as la
    vs0 = [np.array(r[1]) for r in rows if r[2] == 0]
    cent = np.mean([v.astype(np.float32).astype(np.float64) for v in vs0],
                   axis=0)
    v7 = np.array(rows[14][1]).astype(np.float32).astype(np.float64)
    want = float(v7 @ cent / (la.norm(v7) * la.norm(cent)))
    assert out[14]["cos_centroid"] == pytest.approx(want, abs=2e-4)


def test_embedding_outliers_corpus_never_shuffles_for_the_join(spark):
    from conftest import plan_str

    embs = lcg_embeddings(spark, 40).withColumn(
        "label", (F.col("vec_id") % 3).cast("int"))
    plan = plan_str(similarity.embedding_outliers(embs))
    # all joins broadcast (the centroid BHJ appears twice — `scored`
    # feeds both the stats aggregate and the final join, two pruned
    # passes like quality_filter); no sort-merge, no window
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan and "Window" not in plan
