"""Physical-plan audits: assert the shuffle structure that the scale
design depends on, so a refactor that silently adds an exchange (or
drops a broadcast) fails CI instead of surfacing at 100 TB.

Counts come from the executed plan string; AQE is left on (the same
conf the engine runs with), so these are the plans production sees.
"""

import re

import pytest
from pyspark.sql import functions as F

from conftest import count_exchanges, plan_str
from yahoo_anomaly_detection_spark.operators import rollup, stats
from yahoo_anomaly_detection_spark.operators.cascade import residual_cascade


def _broadcasts(df) -> int:
    return len(re.findall(r"BroadcastExchange", plan_str(df)))


@pytest.fixture(scope="module")
def points(spark):
    df = spark.createDataFrame(
        [("c%d" % (i % 5), i, float(i % 13)) for i in range(200)],
        "conv_id string, turn_idx int, v double",
    ).select(
        "conv_id",
        F.timestamp_seconds(F.lit(1700000000) + F.col("turn_idx") * 40).alias(
            "ts"
        ),
        F.col("v").alias("value"),
        "turn_idx",
    )
    return df


def test_latency_plus_rollup_one_shuffle(spark, points):
    """Window over conv_id then groupBy(conv_id, bucket) must reuse
    ONE exchange — the superset-key distribution satisfies the agg."""
    lat = rollup.transcripts_latency(points.select("conv_id", "ts", "turn_idx"))
    t1m = rollup.rollup_points(lat, "1m")
    assert count_exchanges(t1m) == 1, plan_str(t1m)


def test_cascade_recombination_one_shuffle(spark, points):
    t1m = rollup.rollup_points(points.select("conv_id", "ts", "value"), "1m")
    t1h = rollup.rollup_cascade(t1m, "1h")
    # one for the 1m agg, one for the 1h regroup — nothing more
    assert count_exchanges(t1h) == 2, plan_str(t1h)


def test_residual_cascade_one_shuffle(spark, points):
    t1m = rollup.rollup_points(points.select("conv_id", "ts", "value"), "1m")
    series = t1m.select("conv_id", "bucket_start", F.col("mean").alias("v"))
    out = residual_cascade(series, value_col="v")
    # 1m agg + ONE partitioning shared by all cascade windows
    assert count_exchanges(out) == 2, plan_str(out)
    assert len(re.findall(r"Window", plan_str(out))) >= 3


def test_threshold_sweep_broadcasts_grid(spark, points):
    sc = points.select(F.col("value").alias("score"),
                       (F.col("turn_idx") % 7 == 0).cast("int").alias("label"))
    g = stats.grid(spark, 1.0, 10.0, 1.0)
    sw = stats.threshold_sweep(sc, g, score_col="score", label_col="label")
    # the grid (and the 1-row stats) reach the scores via broadcast —
    # no shuffle of the scores for the join itself
    assert _broadcasts(sw) >= 1, plan_str(sw)
    # only the |grid|-group aggregation shuffles
    assert count_exchanges(sw) <= 1, plan_str(sw)


def test_zscore_flags_no_score_shuffle(spark, points):
    sc = points.select(F.col("value").alias("score"))
    flagged = stats.zscore_envelope_flags(sc, "score", y=3.0)
    # global mean/std is a 1-row broadcast onto the scan — the scores
    # themselves never shuffle
    assert count_exchanges(flagged) == 0, plan_str(flagged)
    assert _broadcasts(flagged) >= 1


# ---------------------------------------------- pipeline operators
def _no_product_joins(plan: str) -> bool:
    """No all-pairs join strategy anywhere in the plan — candidate
    generation must stay an equality (hash/sort-merge) join."""
    return ("CartesianProduct" not in plan
            and "BroadcastNestedLoopJoin" not in plan)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(i, f"alpha beta w{i} gamma delta w{i + 1} zeta") for i in range(40)],
        "doc_id long, text string",
    )


@pytest.fixture(scope="module")
def embs(spark):
    return spark.createDataFrame(
        [(i, [float((i * 31 + d * 7) % 13) - 6.0 for d in range(64)])
         for i in range(60)],
        "vec_id long, embedding array<float>",
    )


def test_minhash_lsh_pairs_no_cartesian(spark, docs):
    """Candidate generation is band-signature equality joins; the
    verify touches candidates only — a silent regression to an
    all-pairs strategy must fail here, not at 100 TB."""
    from yahoo_anomaly_detection_spark import caching
    from yahoo_anomaly_detection_spark.operators import dedup

    try:
        out = dedup.minhash_lsh_pairs(docs, n=3, k=16, bands=4,
                                      threshold=0.5)
        plan = plan_str(out)
        assert _no_product_joins(plan), plan
        assert re.search(r"(SortMergeJoin|ShuffledHashJoin|"
                         r"BroadcastHashJoin)", plan), plan
    finally:
        caching.release_all()


def test_embedding_near_dups_bucket_join(spark, embs):
    from yahoo_anomaly_detection_spark.operators import similarity

    out = similarity.embedding_near_dups(embs, n_planes=8, threshold=0.9)
    plan = plan_str(out)
    assert _no_product_joins(plan), plan
    # the self-join keys on the bucket column
    assert "bucket" in plan


def test_lsh_topk_single_projection_no_self_join(spark, embs):
    """Bucket assignment must ride the corpus projection: no vec_id
    self-join (an extra scan + wide shuffle of the embedding arrays),
    and the only join is the broadcast of the tiny query side on
    bucket."""
    from yahoo_anomaly_detection_spark.operators import similarity

    for out in (
        similarity.lsh_bucketed_topk(embs, n_planes=8, query_mod=10, k=3),
        similarity.lsh_multiprobe_topk(embs, n_planes=8, query_mod=10,
                                       k=3),
    ):
        plan = plan_str(out)
        assert _no_product_joins(plan), plan
        assert "SortMergeJoin" not in plan, plan
        assert _broadcasts(out) >= 1, plan
        # the only exchange is the rank window's partition-by-query —
        # never a corpus-wide join shuffle
        assert count_exchanges(out) <= 1, plan


def test_simhash_hamming_block_equality_join(spark, docs):
    from yahoo_anomaly_detection_spark.operators import dedup

    out = dedup.simhash_hamming_pairs(docs, k=2, bits=64)
    plan = plan_str(out)
    assert _no_product_joins(plan), plan


def test_detector_lifecycle_broadcasts_fitted_threshold(spark):
    """The 3-phase lifecycle (val-fit → test-apply → metrics) must
    reach the scores via a broadcast of the 1-row fitted threshold —
    no driver collect, no score-side shuffle for the join."""
    import __spark_entry__ as entry

    df = entry.q_detector_lifecycle(spark, "/root/testdata/sf0.001")
    plan = plan_str(df)
    # a BroadcastNestedLoopJoin against the 1-row fitted threshold IS
    # the intended shape; an unbroadcast CartesianProduct is not
    assert "CartesianProduct" not in plan, plan
    assert _broadcasts(df) >= 1, plan


def test_vocab_topk_is_take_ordered_not_global_sort(spark, docs):
    """Top-k over token counts must plan as TakeOrderedAndProject
    (per-partition heap + driver merge), never a full global Sort of
    the vocabulary."""
    from yahoo_anomaly_detection_spark.operators import textstats

    out = textstats.vocab_topk(docs, k=10)
    plan = plan_str(out)
    assert "TakeOrderedAndProject" in plan, plan


def test_sessionize_single_exchange_two_window_phases(spark):
    """Break-detect lag and running session number share the user_id
    partitioning — exactly ONE shuffle in the whole plan."""
    from yahoo_anomaly_detection_spark.operators import sessions

    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 7, "c", 1.0, "")],
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).select("event_id", F.col("ts").cast("timestamp").alias("ts"),
             "user_id", "event_type", "value", "props")
    plan = plan_str(sessions.sessionize(df))
    assert plan.count("Exchange") == 1, plan


def test_asof_join_is_union_window_not_range_join(spark):
    """The as-of join must plan as union + one window pass — never a
    range/cartesian join that explodes |l|x|r| per key."""
    from yahoo_anomaly_detection_spark.operators import sessions

    ev = spark.createDataFrame(
        [(1, "2024-01-01 05:00:00", 7, "c", 1.0, "")],
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).select("event_id", F.col("ts").cast("timestamp").alias("ts"),
             "user_id", "event_type", "value", "props")
    plan = plan_str(sessions.events_vs_trailing_p95(ev))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Window" in plan, plan


def test_asof_join_two_phase_windows_on_key_and_bucket(spark):
    """With bucket_seconds set (the low-cardinality-key scale path,
    and the default inside events_vs_trailing_p95), the MAIN window —
    the one the full corpus flows through — must partition on (key,
    bucket), never on the key alone; only the carry-in window over
    the bucket-count-sized spine may partition by key alone."""
    from yahoo_anomaly_detection_spark.operators import sessions

    ev = spark.createDataFrame(
        [(1, "2024-01-01 05:00:00", 7, "c", 1.0, "")],
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).select("event_id", F.col("ts").cast("timestamp").alias("ts"),
             "user_id", "event_type", "value", "props")
    plan = plan_str(sessions.events_vs_trailing_p95(ev))
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, plan

    def partition_cols(spec: str) -> list[str]:
        # leading args up to the first ordered (ASC/DESC) arg
        cols = []
        for arg in spec.split(", "):
            if " ASC" in arg or " DESC" in arg:
                break
            cols.append(arg.split("#")[0])
        return cols

    parts = [partition_cols(s) for s in specs]
    # the corpus-bearing window keys on (event_type, _bkt) — never
    # on the low-cardinality key alone
    assert ["event_type", "_bkt"] in parts, parts
    # any key-alone window must be the carry-in over the tiny
    # bucket spine (its ORDER BY is the bucket id)
    for spec, p in zip(specs, parts):
        if p == ["event_type"]:
            order_first = spec.split(", ")[len(p)]
            assert order_first.startswith("_bkt"), spec


def test_topk_per_band_never_exchanges_full_corpus(spark, docs):
    """Bounded top-k per stratum: the corpus flows into the
    per-partition MapInPandas heap WITHOUT an exchange; the only
    band-partitioned exchange sits ABOVE the Python stage, carrying
    the ≤ k·#bands·P survivors into the final rank window."""
    from yahoo_anomaly_detection_spark.operators import textstats

    plan = plan_str(textstats.topk_per_band(docs, k=5))
    assert "MapInPandas" in plan, plan
    band_ex = plan.index("Exchange hashpartitioning(band")
    # tree prints parents first: the band exchange must be a parent
    # of (appear before) the MapInPandas stage, never below it
    assert band_ex < plan.index("MapInPandas"), plan
    assert plan.count("Exchange hashpartitioning(band") == 1, plan


def test_ivf_assign_zero_shuffle_of_corpus(spark, embs):
    """IVF cell assignment must be a map-side argmax fold against the
    broadcast centroid array — no Exchange of the corpus relation
    (the only exchange allowed is the 1-row centroid-array agg)."""
    from yahoo_anomaly_detection_spark.operators import similarity

    plan = plan_str(similarity.ivf_assign(embs, centroid_mod=10))
    assert "BroadcastExchange" in plan or "broadcast" in plan.lower(), plan
    # corpus-side shuffle would appear as a hash-partitioned Exchange
    # over the embeddings scan; the centroid agg is a single-partition
    # collect — allow only exchanges feeding the broadcast side
    body = plan.split("BroadcastExchange")[0]
    assert "Exchange hashpartitioning" not in body, plan


def test_merge_tiers_single_merge_shuffle(spark, points):
    """The refresh primitive: merging same-tier partials must cost
    ONE map-side-combined regroup on top of each part's own rollup
    exchange — 2 parts -> exactly 3 exchanges, nothing extra."""
    pts = points.select("conv_id", "ts", "value")
    parity = F.unix_micros("ts") % 2
    halves = [pts.where(parity == i) for i in (0, 1)]
    merged = rollup.merge_tiers(
        [rollup.rollup_points(h, "1m") for h in halves], "1m")
    assert count_exchanges(merged) == 3, plan_str(merged)


def test_incremental_latency_semi_prunes_tails(spark, points):
    """The carry-in must prune the (corpus-sized) tails relation with
    a LEFT SEMI join on the delta's active conversations before the
    union — never a cartesian/nested-loop — so the conv_id window
    shuffles delta-sized data plus one carried row per active conv."""
    from yahoo_anomaly_detection_spark.operators import refresh as R

    delta = points.select("conv_id", "ts", "turn_idx")
    tails = R.conv_tails(delta)  # stands in for the big state table
    plan = plan_str(R.incremental_latency(delta, tails))
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # the stateful hop itself stays one conv_id-keyed window exchange
    assert "Exchange hashpartitioning(conv_id" in plan, plan


def test_broadcast_enrich_facts_never_shuffle(spark):
    """Snowflake enrichment (facts→dim1→dim2) + rollup: every dim
    join is a BroadcastHashJoin (never sort-merge — a SMJ would
    shuffle the fact table per dimension) and the ONLY exchange is
    the final map-side-combined groupBy."""
    from yahoo_anomaly_detection_spark.operators.enrich import (
        broadcast_enrich,
    )

    facts = spark.createDataFrame(
        [(i % 5, 1700000000 + i, float(i)) for i in range(100)],
        "user_id long, epoch long, value double",
    ).select("user_id", F.timestamp_seconds("epoch").alias("ts"), "value")
    d1 = spark.createDataFrame(
        [(i, f"seg{i % 2}", i % 3) for i in range(5)],
        "c_custkey long, c_mktsegment string, c_nationkey int",
    )
    d2 = spark.createDataFrame(
        [(i, f"nation{i}") for i in range(3)],
        "n_nationkey int, n_name string",
    )
    out = broadcast_enrich(facts, [
        (d1, "user_id", "c_custkey", ("c_mktsegment", "c_nationkey")),
        (d2, "c_nationkey", "n_nationkey", ("n_name",)),
    ]).groupBy("c_mktsegment", "n_name").agg(F.count(F.lit(1)).alias("n"))
    p = plan_str(out)
    assert p.count("BroadcastHashJoin") == 2, p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, p
    assert count_exchanges(out) == 1, p


def test_broadcast_enrich_left_keeps_orphans(spark):
    from yahoo_anomaly_detection_spark.operators.enrich import (
        broadcast_enrich,
    )

    facts = spark.createDataFrame(
        [(1, 10.0), (99, 20.0)], "user_id long, value double")
    dim = spark.createDataFrame(
        [(1, "A")], "c_custkey long, seg string")
    inner = broadcast_enrich(
        facts, [(dim, "user_id", "c_custkey", ("seg",))]).collect()
    assert [r["user_id"] for r in inner] == [1]
    left = broadcast_enrich(
        facts, [(dim, "user_id", "c_custkey", ("seg",))], how="left")
    rows = {r["user_id"]: r["seg"] for r in left.collect()}
    assert rows == {1: "A", 99: None}
    with pytest.raises(ValueError, match="how must be"):
        broadcast_enrich(facts, [], how="outer")
