"""The benchmark's workloads. Each is a closed loop with one client:
the next pass starts when the previous one has returned.

A workload writes its seeded input files in ``prepare`` (no Spark),
builds what its passes read in ``setup``, runs ``one_pass``
repeatedly, and checks the engine's outputs in ``check`` after all
timing is done. ``one_pass`` returns the per-layer values of that
pass: stage wall times always, row and byte counts only when the
tracer reads engine metrics (they cost extra Spark jobs).
``traced_extra`` runs once, in traced runs only, after the timed
passes: the layers too slow to repeat inside a run's time budget
(the refresh cycle, the registry pass).
"""

from __future__ import annotations

import os
from concurrent.futures import ProcessPoolExecutor
from datetime import datetime

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from registry import MODULES, QUERIES, oracle_check, write_tables

# gen_transcripts' defaults, except that no conversation is "hot":
# the default 1% hot conversations (50-100x the median turn count,
# sizes drawn per seed) swing the input size by 9% and the share of
# turns inside the 1m TTL by 27% (IQR/median over ten seeds, 1000
# conversations) — more than any regression bound. Without them both
# stay within 2.5%.
MEAN_TURNS, HOT_EVERY, MAX_WORDS = 40, 0, 40
_ARROW_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])
GEN_PARTS = 8

TIERS = ("1m", "1h", "1d")
# TTL watermark inside the generated span (2025-01-01 .. ~01-31): the
# 1m tier (7 day TTL) loses its first ~12 days, 1h and 1d keep all
EVICT_NOW = datetime(2025, 1, 20)
# warm-up ends once a pass is no faster than the one before it by
# more than this factor (a fresh JVM's first pass takes 2-3x a settled
# one, the next ones keep falling)
SETTLED = 1.25


def _gen_part(args) -> None:
    path, seed, convs = args
    from yahoo_anomaly_detection_spark.synthgen import _conv_turns

    pdf = pd.concat([_conv_turns(seed, int(c), MEAN_TURNS, HOT_EVERY,
                                 MAX_WORDS) for c in convs])
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False)
                   .cast(_ARROW_SCHEMA), path)


def generate(path: str, seed: int, n: int, procs: int) -> str:
    """The rows ``synthgen.gen_transcripts`` produces for this seed and
    its first ``n`` conversations, as parquet files, built by a process
    pool before Spark starts (so no Spark job, no forked JVM client)."""
    os.makedirs(path)
    parts = [(os.path.join(path, f"part-{i:05d}.parquet"), seed, convs)
             for i, convs in enumerate(np.array_split(np.arange(n),
                                                      GEN_PARTS))]
    with ProcessPoolExecutor(procs) as ex:
        list(ex.map(_gen_part, parts))
    return path


def data_files(root: str) -> dict[str, int]:
    """Parquet data files under ``root`` (path -> bytes); checksum
    files, markers and manifests are not data."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.startswith(("part-", "part_")) and not f.endswith(".crc"):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


def live_bytes(catalog, tables) -> int:
    """Bytes of the data files the tables' current snapshots reference."""
    total = 0
    for t in tables:
        for path in catalog.snapshots(t)[-1].paths:
            total += sum(data_files(path).values())
    return total


def _sum_col(df, col: str) -> int:
    from pyspark.sql import functions as F

    return int(df.agg(F.sum(col)).collect()[0][0] or 0)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _release(spark) -> None:
    from yahoo_anomaly_detection_spark import caching

    caching.release_all()
    caching.release_orphan_rdds(spark)


def _tier_digest(df) -> tuple[int, int, int]:
    """(rows, Σcnt, Σhash of the exact columns) of a tier table."""
    from pyspark.sql import functions as F

    r = df.agg(F.count(F.lit(1)), F.sum("cnt"),
               F.sum(F.hash("conv_id", "bucket_start", "cnt", "vcnt",
                             "min", "max"))).collect()[0]
    return int(r[0]), int(r[1] or 0), int(r[2] or 0)


class Workload:
    name = ""
    n_convs = 0
    max_warmup = 1  # warm-up passes at most (the run's time budget)
    min_passes = 3  # timed passes at least

    def __init__(self, work: str, seed: int, scale: float, procs: int):
        self.work = work
        self.seed = seed
        self.procs = procs
        self.n = max(20, int(self.n_convs * scale))
        self.scale = scale
        self.n_items = 0
        self.n_bytes = 0

    def prepare(self) -> None:
        self.raw_path = generate(os.path.join(self.work, "transcripts"),
                                 self.seed, self.n, self.procs)

    def attach(self, spark, tracer) -> None:
        self.spark = spark
        self.tr = tracer

    def setup(self) -> None:
        pass

    def warm_up(self) -> list[float]:
        """Untimed passes until one has not fallen by more than
        SETTLED from the one before, at most ``max_warmup``; returns
        their wall times."""
        import time

        times: list[float] = []
        for i in range(self.max_warmup):
            t = time.perf_counter()
            self.one_pass(-1 - i)
            times.append(time.perf_counter() - t)
            if len(times) > 1 and times[-1] * SETTLED >= times[-2]:
                break
        return times

    def traced_extra(self, ops) -> dict:
        return {}

    def _pass_root(self, i: int) -> str:
        return os.path.join(self.work, f"{self.name}_pass{i}")


class TierBuild(Workload):
    """Bronze ingest → latency series → 1m/1h/1d tiers committed
    through the catalog → TTL eviction at a watermark inside the data
    → vacuum of the evicted 1m tier: the tier path of
    ``jobs/rollup_job.py``, composed from the same operators, without
    the job's per-stage checkpoint and lineage commits and its
    eviction verification (the verification is part of ``check``).
    Each pass writes into a fresh catalog root.

    Traced runs add ``jobs.rollup_job.main`` itself (checkpointed
    units, lineage, verified eviction, vacuum of every job table) and
    one ``jobs.refresh_job.refresh_once`` cycle."""

    name = "tier_build"
    n_convs = 2000
    max_warmup = 2

    def one_pass(self, i: int) -> dict:
        from pyspark.sql import functions as F

        from yahoo_anomaly_detection_spark.operators import retention
        from yahoo_anomaly_detection_spark.operators.rollup import (
            rollup_cascade,
            rollup_points,
            transcripts_latency,
        )
        from yahoo_anomaly_detection_spark.sources.catalog import (
            ParquetCatalog,
        )
        from yahoo_anomaly_detection_spark.sources.ingest import (
            bronze_transcripts,
        )

        spark, tr = self.spark, self.tr
        catalog = ParquetCatalog(self._pass_root(i))
        raw = spark.read.parquet(self.raw_path)
        out: dict = {}
        prev = None
        for tier in TIERS:
            with tr.span(f"rollup.tier_{tier}_s") as sp:
                df = (rollup_points(transcripts_latency(bronze_transcripts(raw)),
                                    tier)
                      if prev is None else rollup_cascade(prev, tier))
                snap = catalog.overwrite_table(
                    df.withColumn("day", F.to_date("bucket_start")),
                    f"tier_{tier}", partition_by=["day"])
                prev = catalog.read(spark, f"tier_{tier}", snap)
            out[sp["name"]] = sp["wall_s"]
            if tr.engine:
                out[f"rollup.rows_{tier}"] = prev.count()
                tr.skip()
        with tr.span("retention.evict_s") as sp:
            for tier in TIERS:
                retention.evict_tier(catalog, spark, f"tier_{tier}", tier,
                                     EVICT_NOW, partition_col="day")
        out[sp["name"]] = sp["wall_s"]
        with tr.span("retention.vacuum_s") as sp:
            # the only tier whose eviction rewrote data (1h and 1d keep
            # everything): compact it and expire the pre-eviction dirs
            removed = retention.vacuum_tier(
                catalog, spark, "tier_1m", keep_last=1)["removed_dirs"]
        out[sp["name"]] = sp["wall_s"]
        if tr.engine:
            tables = [f"tier_{t}" for t in TIERS]
            kept = sum(catalog.read(spark, t).count() for t in tables)
            tr.skip()
            out["retention.rows_evicted"] = sum(
                out[f"rollup.rows_{t}"] for t in TIERS) - kept
            out["catalog.live_bytes"] = live_bytes(catalog, tables)
            out["catalog.removed_dirs"] = removed
        self.last_pass = i
        return out

    def check(self, ops, passes) -> None:
        from pyspark.sql import functions as F

        from yahoo_anomaly_detection_spark.operators import retention
        from yahoo_anomaly_detection_spark.sources.catalog import (
            ParquetCatalog,
        )

        spark = self.spark
        raw = spark.read.parquet(self.raw_path)
        self.n_items = raw.count()
        catalog = ParquetCatalog(self._pass_root(self.last_pass))
        tiers = {t: catalog.read(spark, f"tier_{t}") for t in TIERS}
        for t in ("1h", "1d"):  # TTL longer than the data span: all kept
            got = _sum_col(tiers[t], "cnt")
            ops.check(f"tier_{t} sum(cnt) == input turns",
                      got == self.n_items, f"{got} != {self.n_items}")
        cutoff = retention.cutoff_for("1m", EVICT_NOW)
        want = raw.where(
            F.col("ts") >= F.lit(cutoff.isoformat(sep=" ")).cast("timestamp")
        ).count()
        got = _sum_col(tiers["1m"], "cnt")
        ops.check("tier_1m sum(cnt) == input turns inside the TTL",
                  got == want, f"{got} != {want}")
        bad = retention.verify_evicted(tiers["1m"], cutoff)
        ops.check("tier_1m holds no row past the TTL", bad == 0, f"{bad} rows")
        self.n_bytes = live_bytes(catalog, [f"tier_{t}" for t in TIERS])

    def traced_extra(self, ops) -> dict:
        out = self._rollup_job(ops)
        out.update(self._refresh_cycle(ops))
        return out

    def _rollup_job(self, ops) -> dict:
        """``jobs.rollup_job.main`` once, with the parquet sink, the
        same watermark and ``--vacuum-keep-last 1``, on a fresh run-id
        and catalog root. The job verifies the eviction itself and
        raises on a violation; checked here: it counted every input
        turn and skipped no stage."""
        import rollup_job

        tr = self.tr
        with tr.span("rollup_job.main_s") as sp:
            m = rollup_job.main([
                "--input", self.raw_path,
                "--catalog-root", os.path.join(self.work, "rollup_job"),
                "--run-id", f"seed{self.seed}",
                "--evict-now", EVICT_NOW.isoformat(" "),
                "--vacuum-keep-last", "1",
                "--shuffle-partitions",
                self.spark.conf.get("spark.sql.shuffle.partitions"),
            ])
        st = m["stages"]
        out = {f"rollup_job.tier_{t}_s": st[f"tier_{t}"] for t in TIERS}
        out["rollup_job.main_s"] = sp["wall_s"]
        out["rollup_job.evict_vacuum_s"] = sp["wall_s"] - sum(
            st[f"tier_{t}"] for t in TIERS)
        out["rollup_job.jobs"] = sp["engine"]["engine.jobs"]
        n = self.spark.read.parquet(self.raw_path).count()
        self.tr.skip()
        ops.check("rollup_job counted every input turn", m["n_turns"] == n,
                  f"{m['n_turns']} != {n}")
        ops.check("rollup_job skipped no stage (fresh run-id)",
                  m["skipped_units"] == 0, f"{m['skipped_units']} skipped")
        return out

    def _refresh_cycle(self, ops) -> dict:
        """One append + ``refresh_once`` cycle. Untimed set-up: the
        first 23/24 of the input's event time appended to a bronze
        table and an initial refresh; the cycle then appends the last
        1/24 and refreshes with ``vacuum_keep_last=2``, so the cycle
        also compacts and expires the tier and tails tables. Checked
        afterwards: every final tier equals a full recompute of the
        input, which is what the bronze table holds."""
        from pyspark.sql import functions as F

        import refresh_job
        from yahoo_anomaly_detection_spark.operators.rollup import (
            rollup_cascade,
            rollup_points,
            transcripts_latency,
        )
        from yahoo_anomaly_detection_spark.sources.catalog import (
            ParquetCatalog,
        )
        from yahoo_anomaly_detection_spark.sources.ingest import (
            bronze_transcripts,
        )

        spark, tr = self.spark, self.tr
        catalog = ParquetCatalog(os.path.join(self.work, "refresh"))
        raw = spark.read.parquet(self.raw_path)
        lo, hi = raw.agg(F.min("ts"), F.max("ts")).collect()[0]
        cut = F.lit(lo + (hi - lo) * 23 / 24)
        catalog.append(bronze_transcripts(raw.where(F.col("ts") < cut)),
                       "transcripts", partition_by=["day"])
        refresh_job.refresh_once(spark, catalog)
        tr.skip()
        with tr.span("refresh.cycle_s") as cyc:
            with tr.span("refresh.append_s") as app:
                catalog.append(
                    bronze_transcripts(raw.where(F.col("ts") >= cut)),
                    "transcripts", partition_by=["day"])
            m = refresh_job.refresh_once(spark, catalog, vacuum_keep_last=2)
        st = m["stages"]
        stages = ("delta_1m", "tier_1m", "tier_1h", "tier_1d", "tails")
        out = {f"refresh.{k}_s": st[k] for k in stages}
        out["refresh.cycle_s"] = cyc["wall_s"]
        out["refresh.append_s"] = app["wall_s"]
        out["refresh.other_s"] = (cyc["wall_s"] - app["wall_s"]
                                  - sum(st[k] for k in stages))
        out["refresh.affected_days"] = m["affected_days"]
        out["refresh.affected_rows_1m"] = st["tier_1m_affected_rows"]
        out["refresh.bytes_written"] = cyc["engine"]["catalog.bytes_written"]
        out["refresh.jobs"] = cyc["engine"]["engine.jobs"]
        out["refresh.live_dirs"] = sum(
            len(catalog.snapshots(t)[-1].paths)
            for t in [*(f"tier_{t}" for t in TIERS), refresh_job.TAILS_TABLE])

        full = rollup_points(transcripts_latency(bronze_transcripts(raw)),
                             "1m")
        for t in TIERS:
            if t != "1m":
                full = rollup_cascade(full, t)
            got = _tier_digest(catalog.read(spark, f"tier_{t}"))
            want = _tier_digest(full)
            ops.check(f"refresh tier_{t} == full recompute of bronze",
                      got == want, f"{got} != {want}")
        return out


class CodecStats(Workload):
    """Gorilla encode → catalog commit, decode, rolling stats with
    z-score flags, EWMA and linear gap-fill over latency points and a
    1m tier built once in setup. The Python boundary (mapInPandas /
    applyInPandas) does most of the work.

    Traced runs add one registry pass (``__spark_entry__.queries()``,
    one query per registry operator module)."""

    name = "codec_stats"
    n_convs = 800
    max_warmup = 2

    def prepare(self) -> None:
        super().prepare()
        self.sf_dir = write_tables(os.path.join(self.work, "sf"), self.seed,
                                   self.scale)

    def setup(self) -> None:
        """Latency points and their 1m tier, each written once and read
        back, so every pass starts from stored inputs."""
        from pyspark.sql import functions as F

        from yahoo_anomaly_detection_spark.operators.rollup import (
            rollup_points,
            transcripts_latency,
        )
        from yahoo_anomaly_detection_spark.sources.ingest import (
            bronze_transcripts,
        )

        spark = self.spark
        raw = spark.read.parquet(self.raw_path)
        points = transcripts_latency(bronze_transcripts(raw))
        pts_path = os.path.join(self.work, "points")
        points.where(F.col("value").isNotNull()).write.parquet(pts_path)
        self.points = spark.read.parquet(pts_path)
        t1m_path = os.path.join(self.work, "tier_1m")
        rollup_points(self.points, "1m").write.parquet(t1m_path)
        self.t1m = spark.read.parquet(t1m_path)

    def one_pass(self, i: int) -> dict:
        from pyspark.sql import functions as F

        from yahoo_anomaly_detection_spark.operators import stats as S
        from yahoo_anomaly_detection_spark.operators.codec import (
            compress_buckets,
            decompress_buckets,
        )
        from yahoo_anomaly_detection_spark.operators.gapfill import (
            gapfill_linear,
        )
        from yahoo_anomaly_detection_spark.sources.catalog import (
            ParquetCatalog,
        )

        spark, tr = self.spark, self.tr
        points, t1m = self.points, self.t1m
        series = t1m.select("conv_id", "bucket_start",
                            F.col("mean").alias("mean_v"))
        catalog = ParquetCatalog(self._pass_root(i))
        out: dict = {}
        with tr.span("codec.encode_s") as sp:
            snap = catalog.overwrite_table(
                compress_buckets(points, "hour"), "encoded_1h")
        out[sp["name"]] = sp["wall_s"]
        encoded = catalog.read(spark, "encoded_1h", snap)
        with tr.span("codec.decode_s") as sp:
            _noop(decompress_buckets(encoded))
        out[sp["name"]] = sp["wall_s"]
        with tr.span("stats.rolling_flags_s") as sp:
            rolled = S.rolling_stats(series, value_col="mean_v", k=10)
            _noop(S.zscore_envelope_flags(
                rolled.where(F.col("residual").isNotNull()), "residual", y=3.0))
        out[sp["name"]] = sp["wall_s"]
        with tr.span("stats.ewma_s") as sp:
            _noop(S.ewma(series, "mean_v", alpha=0.3))
        out[sp["name"]] = sp["wall_s"]
        with tr.span("gapfill.linear_s") as sp:
            filled = gapfill_linear(t1m, "1m")
            _noop(filled)
        out[sp["name"]] = sp["wall_s"]
        if tr.engine:
            out["gapfill.rows_out"] = filled.count()
            out["codec.points"] = _sum_col(encoded, "n_points")
            out["codec.payload_bytes"] = _sum_col(
                encoded.select(F.length("payload").alias("n")), "n")
            tr.skip()
        _release(spark)
        self.last_encoded = encoded
        return out

    def check(self, ops, passes) -> None:
        from pyspark.sql import functions as F

        from yahoo_anomaly_detection_spark.operators.codec import (
            decompress_buckets,
        )

        def digest(df):
            r = df.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.hash("conv_id", "ts", "value")).alias("h"),
            ).collect()[0]
            return int(r["n"]), int(r["h"] or 0)

        enc = self.last_encoded
        want = digest(self.points)
        got = digest(decompress_buckets(enc))
        ops.check("decode(encode(points)) == points (count, checksum)",
                  got == want, f"{got} != {want}")
        self.n_items = want[0]
        n_enc = _sum_col(enc, "n_points")
        ops.check("encoded n_points == input points", n_enc == want[0],
                  f"{n_enc} != {want[0]}")
        self.n_bytes = _sum_col(enc.select(F.length("payload").alias("n")), "n")

    def traced_extra(self, ops) -> dict:
        """One pass over QUERIES: each query built (its eager driver-
        side actions included), noop-written, then the operator caches
        released. Checked afterwards against the DuckDB oracle."""
        import __spark_entry__ as entry

        spark, tr = self.spark, self.tr
        queries = entry.queries()
        out = dict.fromkeys(
            [f"registry.{m}.{k}" for m in MODULES
             for k in ("build_s", "exec_s", "jobs")], 0.0)
        with tr.span("registry.pass_s") as whole:
            for name, mod in QUERIES.items():
                with tr.span(f"registry.{mod}.build_s") as b:
                    df = queries[name](spark, self.sf_dir)
                with tr.span(f"registry.{mod}.exec_s") as x:
                    _noop(df)
                _release(spark)
                out[b["name"]] += b["wall_s"]
                out[x["name"]] += x["wall_s"]
                out[f"registry.{mod}.jobs"] += (b["engine"]["engine.jobs"]
                                                + x["engine"]["engine.jobs"])
        out["registry.pass_s"] = whole["wall_s"]
        out["registry.python_ms"] = whole["engine"]["engine.python_ms"]
        tr.set_engine(False)
        oracle_check(spark, self.sf_dir, ops, lambda: _release(spark))
        return out


WORKLOADS = {w.name: w for w in (TierBuild, CodecStats)}
