"""Round-2 operators: residual cascade, SimHash Hamming index,
multi-probe LSH, EWMA partition sizing."""

import math

import numpy as np

from yahoo_anomaly_detection_spark.operators import dedup, similarity, stats
from yahoo_anomaly_detection_spark.operators.cascade import (
    SIN_OMEGA,
    residual_cascade,
)


def test_residual_cascade_matches_numpy(spark):
    rng = np.random.default_rng(3)
    rows = []
    for conv in ("a", "b"):
        for i in range(40):
            rows.append((conv, i, float(5 + 0.3 * i
                                        + 2 * math.sin(SIN_OMEGA * i)
                                        + rng.normal(0, 0.1))))
    df = spark.createDataFrame(rows, "conv_id string, bucket_start int, v double")
    out = {
        (r["conv_id"], r["bucket_start"]): (r["recon"], r["residual"])
        for r in residual_cascade(df, value_col="v").collect()
    }
    # numpy oracle: identical closed-form projections
    for conv in ("a", "b"):
        v = np.array([r[2] for r in rows if r[0] == conv])
        x = np.arange(len(v), dtype=float)
        s = np.sin(SIN_OMEGA * x)
        rec1 = np.full_like(v, v.mean())
        r1 = v - rec1
        slope = ((x * r1).mean() - x.mean() * r1.mean()) / (
            (x * x).mean() - x.mean() ** 2
        )
        rec2 = r1.mean() + slope * (x - x.mean())
        r2 = r1 - rec2
        amp = (r2 * s).sum() / (s * s).sum()
        rec3 = amp * s
        for i in range(len(v)):
            got_recon, got_res = out[(conv, i)]
            assert abs(got_recon - (rec1[i] + rec2[i] + rec3[i])) < 1e-6
            assert abs(got_res - (r2[i] - rec3[i])) < 1e-6
    # the cascade explains most of the structured signal
    resid = np.array([out[("a", i)][1] for i in range(40)])
    assert np.abs(resid).mean() < 0.5


def test_simhash_hamming_finds_all_planted(spark):
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta token{i} epsilon") for i in range(60)],
        "doc_id long, text string",
    )
    pairs = dedup.simhash_hamming_pairs(docs, k=2,
                                        plant_twins=True).collect()
    found = {(r["doc_a"], r["doc_b"]) for r in pairs}
    # every planted 1-bit-flip twin must be found (pigeonhole: d=1 <= 2)
    for i in range(60):
        assert (i, i + 1000000) in found, i
    assert all(r["dist"] <= 2 for r in pairs)


def test_multiprobe_recall_superset(spark):
    rng = np.random.default_rng(5)
    rows = [
        (int(i), [float(x) for x in rng.normal(0, 1, similarity.DIM)])
        for i in range(300)
    ]
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    single = similarity.lsh_bucketed_topk(embs, n_planes=8, query_mod=100, k=5)
    multi = similarity.lsh_multiprobe_topk(embs, n_planes=8, query_mod=100, k=5)
    n_single = single.count()
    n_multi = multi.count()
    # multi-probe can only add candidates -> at least as many results
    assert n_multi >= n_single
    # exact top-1 recall should not decrease
    bf = similarity.brute_force_topk(embs, query_mod=100, k=1)
    top1 = {(r["q_id"], r["neighbor_id"]) for r in bf.collect()}
    hit_m = len(
        top1
        & {(r["q_id"], r["neighbor_id"]) for r in multi.collect()}
    )
    hit_s = len(
        top1
        & {(r["q_id"], r["neighbor_id"]) for r in single.collect()}
    )
    assert hit_m >= hit_s


def test_ewma_partition_bound(spark):
    df = spark.createDataFrame(
        [(f"c{i % 7}", i, float(i)) for i in range(500)],
        "conv_id string, bucket_start int, v double",
    )
    # explicit n_rows avoids the count job and pins the partition math
    out = stats.ewma(df, "v", alpha=0.5, n_rows=500)
    pdf = out.toPandas().sort_values(["conv_id", "bucket_start"])
    for conv, g in pdf.groupby("conv_id"):
        expected = g["v"].ewm(alpha=0.5, adjust=False).mean().to_numpy()
        np.testing.assert_allclose(g["ewma"].to_numpy(), expected, rtol=1e-12)
    # partition count scales with data, floored at parallelism
    par = spark.sparkContext.defaultParallelism
    assert max(par, -(-500 // stats.EWMA_MAX_ROWS_PER_PARTITION)) == par
