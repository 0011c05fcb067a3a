"""The benchmark's workloads.

Each workload stores its seeded inputs as parquet during set-up, runs one
timed pipeline per iteration through the engine's public entry points,
checks each timed iteration's output right after it (outside its wall time),
and, in a traced run, probes single layers after the timed pipeline.

Sizes are chosen so that set-up, a cold warm-up, at least one timed
iteration and the checks fit in one short run on a 4-core machine; at
these sizes the fixed per-job cost of each layer is a large share of its
time, which is what a driver-side optimisation would move.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import contextmanager

import numpy as np
from pyspark.sql import functions as F

from kapra_timeseries_anonymization_spark.functions import gorilla, kernels, sax_udfs
from kapra_timeseries_anonymization_spark.operators import naive as naive_mod
from kapra_timeseries_anonymization_spark.operators import rollup
from kapra_timeseries_anonymization_spark.operators.chunks import (
    compress_chunks,
    decompress_chunks,
)
from kapra_timeseries_anonymization_spark.operators.derive import inter_event_latency
from kapra_timeseries_anonymization_spark.operators.envelope import envelope_agg
from kapra_timeseries_anonymization_spark.operators.kapra import kapra_anonymize
from kapra_timeseries_anonymization_spark.operators.naive import naive_anonymize
from kapra_timeseries_anonymization_spark.plans.lineage import (
    materialize_cascade,
    read_tier,
)
from kapra_timeseries_anonymization_spark.sources.transcripts import (
    conv_turn_rate_series,
)

from . import checks, gen

K, P, SAX_LEVEL, MAX_LEVEL, T = 8, 2, 8, 10, 8
TIERS = ("1m", "1h", "1d")
ORACLE_N = 3000


def _noop(df) -> None:
    """Run the full plan and discard the rows."""
    df.write.format("noop").mode("overwrite").save()


def _median_us(fn, n_items: int, reps: int = 5) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return float(np.median(times)) * 1e6 / n_items


class Anonymize:
    """Transcripts -> per-conversation turn-rate series -> KAPRA. The naive
    top-down pipeline on the same series (the reference's own
    naive-vs-KAPRA comparison) is ``finish``: it runs in the warm-up and
    after the traced iteration, never inside the wall that ``turns_per_s``
    divides by."""

    name = "anonymize"
    N_CONVS, MEAN_TURNS, SKEW_TURNS = 12_000, 24, 6_000

    def __init__(self, bench):
        self.b = bench
        self.table = os.path.join(bench.work, "transcripts")
        self.digests: set[int] = set()
        self.naive_digests: set[int] = set()
        self.input_parts: int | None = None

    def setup(self) -> list[str]:
        spark, seed = self.b.spark, self.b.seed
        gen.transcripts(spark, seed, self.N_CONVS, self.MEAN_TURNS,
                        self.SKEW_TURNS).write.parquet(self.table)
        self.items = spark.read.parquet(self.table).count()
        # warm-up: one full pipeline and the naive step, checked and
        # discarded. A shorter warm-up leaves the first timed pipeline on
        # the steep part of the JIT warm-up curve, where its wall varies
        # most between runs. It runs under another partitioning, so the
        # digest checks of the later runs catch a grouping that depends
        # on partitioning.
        with self._other_partitioning():
            _, fails = self.check(self.iterate(self.b.layer), keep=False)
            fails += self.finish(self.b.layer)[1]
        self.b.release()
        return fails

    @contextmanager
    def _other_partitioning(self):
        """The stored table read into 7 partitions and 2n+1 shuffle
        partitions, instead of the file splits and n."""
        conf, key = self.b.spark.conf, "spark.sql.shuffle.partitions"
        old = conf.get(key)
        conf.set(key, str(2 * int(old) + 1))
        self.input_parts = 7
        try:
            yield
        finally:
            conf.set(key, old)
            self.input_parts = None

    def _series(self):
        src = self.b.spark.read.parquet(self.table)
        if self.input_parts:
            src = src.repartition(self.input_parts)
        return conv_turn_rate_series(src, T).persist()

    def iterate(self, layer) -> dict:
        out: dict = {}
        with layer("transcripts.series"):
            series = self._series()
            out["n_series"] = series.count()
        with layer("kapra.anonymize"):
            kg = kapra_anonymize(series, K=K, P=P, sax_level=SAX_LEVEL, t=T)
            kg.records.count()
        out.update(series=series, kg=kg)
        return out

    def check(self, out: dict, keep: bool) -> tuple[dict, list[str]]:
        # Every iteration releases its series: a cached copy would let the
        # next iteration's identical plan skip the derive.
        n = self.n_series = out["n_series"]
        fails, info = checks.check_kapra(out["kg"], n, K)
        d = self.kapra_digest = checks.digest(out["kg"].records)
        self.digests.add(d)
        if len(self.digests) > 1:
            fails.append("kapra: (original_index, group_id) digest differs between "
                         "iterations or partitionings")
        stats = {
            "transcripts.series_rows": n,
            "kapra.groups": info["groups"],
            "kapra.suppressed": out["kg"].n_suppressed,
            "kapra.no_partner": info["no_partner"],
        }
        out["kg"].records.unpersist()
        out["series"].unpersist()
        return stats, fails

    def stage_metrics(self, walls: dict[str, float], stats: dict) -> dict:
        return {"kapra_series_per_s": stats["transcripts.series_rows"]
                / walls["kapra.anonymize"]}

    def finish(self, layer) -> tuple[dict, list[str]]:
        """``naive_anonymize`` on the same series, checked."""
        series = self._series()
        n = series.count()
        with layer("naive.anonymize") as st, self.b.tracer.wrapped(
                naive_mod, "mondrian_partition", "naive.mondrian"):
            ng = naive_anonymize(series, K=K, P=P, max_level=MAX_LEVEL, t=T)
            ng.records.count()
        fails, info = checks.check_naive(ng, n, K)
        d = checks.digest(ng.records)
        self.naive_digests.add(d)
        if len(self.naive_digests) > 1:
            fails.append("naive: (original_index, group_id) digest differs between partitionings")
        print(f"digests: kapra {self.kapra_digest & (2**64 - 1):016x}, "
              f"naive {d & (2**64 - 1):016x}")
        ng.records.unpersist()
        series.unpersist()
        return {
            "naive.groups": info["groups"],
            "naive.dropped": info["dropped"],
            "naive_series_per_s": n / st.wall,
        }, fails

    def oracle_check(self) -> list[str]:
        """Both anonymizers on the 3,000 stored series with the smallest
        original_index equal the numpy oracle of the reference."""
        from tests.oracle.reference_impl import kapra_pipeline, naive_pipeline

        spark = self.b.spark
        rows = (conv_turn_rate_series(spark.read.parquet(self.table), T)
                .orderBy("original_index").limit(ORACLE_N).collect())
        series = np.array([r["values"] for r in rows], dtype=np.float64)
        inst = spark.createDataFrame(
            [(i, [float(v) for v in r]) for i, r in enumerate(series)],
            "original_index long, values array<double>")
        kg = kapra_anonymize(inst, K=K, P=P, sax_level=SAX_LEVEL, t=T)
        got_k = kg.records.select("original_index", "group_id", "pattern", "level").collect()
        kg.records.unpersist()
        ng = naive_anonymize(inst, K=K, P=P, max_level=MAX_LEVEL, t=T)
        got_n = (ng.records.orderBy("group_id", "leaf_seq", "row_ord")
                 .select("original_index", "group_id", "pattern", "level").collect())
        ng.records.unpersist()
        self.b.release()
        ok = kapra_pipeline(series, K=K, P=P, sax_level=SAX_LEVEL)
        on = naive_pipeline(series.astype(np.int64), K=K, P=P, max_level=MAX_LEVEL)
        return (checks.check_kapra_oracle(got_k, kg.n_suppressed, ok)
                + checks.check_naive_oracle(got_n, on))

    def probes(self, layer) -> tuple[dict, list[str]]:
        """Single-layer probes on this workload's own series, run after the
        timed pipeline: in-process kernels, then Spark scans of the two
        Arrow UDFs and the combo aggregation over an in-memory copy."""
        spark, series = self.b.spark, self._series()
        levels = list(range(3, SAX_LEVEL + 1))
        block = np.array([r["values"] for r in series.select("values").limit(10_000)
                          .collect()], dtype=np.float64)
        n = len(block)
        words = kernels.sax_all_levels_block(block, levels)[SAX_LEVEL]
        lv = np.full(n, SAX_LEVEL)
        m = {
            "kernels.sax_us_per_row": _median_us(
                lambda: kernels.sax_all_levels_block(block, levels), n),
            "kernels.pl_us_per_row": _median_us(
                lambda: kernels.pattern_loss_block(block, words, lv), n),
        }
        # replicate the series so per-row costs outweigh per-job costs
        rep = (series.select("values").crossJoin(spark.range(8))
               .withColumn("pattern", sax_udfs.make_sax_udf(SAX_LEVEL)(F.col("values")))
               .withColumn("level", F.lit(SAX_LEVEL))
               .withColumn("sax_vec", sax_udfs.make_sax_levels_udf(levels)(F.col("values")))
               .withColumn("combo_key", F.concat_ws("\x1f", "sax_vec"))
               .persist())
        rows = rep.count()
        with layer("sax_udfs.sax_scan", probe=True) as s1:
            _noop(rep.select(sax_udfs.make_sax_levels_udf(levels)(F.col("values"))))
        with layer("sax_udfs.pl_scan", probe=True) as s2:
            _noop(rep.select(sax_udfs.pattern_loss_udf(
                F.col("values"), F.col("pattern"), F.col("level"))))
        with layer("envelope.combo_agg", probe=True) as s3:
            m["envelope.combos"] = envelope_agg(
                rep, ["combo_key", "sax_vec"], "values", T, with_vl=False).count()
        rep.unpersist()
        series.unpersist()
        m["sax_udfs.sax_scan_us_per_row"] = s1.wall * 1e6 / rows
        m["sax_udfs.pl_scan_us_per_row"] = s2.wall * 1e6 / rows
        m["envelope.combo_agg_s"] = s3.wall
        return m, []


class RetentionTiers:
    """Long agent conversations over 14 days -> inter-event latency ->
    lineage-checkpointed 1m/1h/1d cascade -> Gorilla chunks -> decompress;
    then one more day is appended and the cascade resumed."""

    name = "retention_tiers"
    N_CONVS, MEAN_TURNS, DAYS = 500, 96, 14

    def __init__(self, bench):
        self.b = bench
        self.raw = os.path.join(bench.work, "raw")
        self.day = os.path.join(bench.work, "day15")
        self.n_iter = 0

    def _latency(self, *paths):
        src = self.b.spark.read.parquet(*paths)
        return inter_event_latency(src, ["conv_id"], "ts", ["turn_idx"])

    def setup(self) -> list[str]:
        spark, seed = self.b.spark, self.b.seed
        gen.agent_turns(spark, seed, self.N_CONVS, self.MEAN_TURNS, 0,
                        self.DAYS).write.parquet(self.raw)
        gen.agent_turns(spark, seed, self.N_CONVS // self.DAYS, self.MEAN_TURNS,
                        self.DAYS, 1, id_offset=self.N_CONVS).write.parquet(self.day)
        self.n_raw = spark.read.parquet(self.raw).count()
        self.items = self.n_raw + spark.read.parquet(self.day).count()
        # warm-up: one full pipeline, discarded unchecked (every timed
        # iteration is checked)
        out = self.iterate(self.b.layer)
        out["lat"].unpersist()
        shutil.rmtree(out["dir"], ignore_errors=True)
        self.b.release()
        return []

    def iterate(self, layer) -> dict:
        spark = self.b.spark
        d = os.path.join(self.b.work, f"iter{self.n_iter}")
        self.n_iter += 1
        out = {"dir": d, "tiers": os.path.join(d, "tiers"),
               "chunks": os.path.join(d, "chunks")}
        with layer("derive.latency"):
            lat = self._latency(self.raw).persist()
            lat.count()
        with layer("lineage.build"):
            out["built"] = materialize_cascade(
                spark, lat, out["tiers"], ["conv_id"], "ts", "latency_sec",
                run_id="build")
        with layer("chunks.compress"):
            compress_chunks(lat, ["conv_id"], "ts", "value").write.parquet(out["chunks"])
        with layer("chunks.decompress"):
            _noop(decompress_chunks(spark.read.parquet(out["chunks"]), ["conv_id"]))
        out["lat"] = lat
        with layer("lineage.resume"):
            out["resumed"] = materialize_cascade(
                spark, self._latency(self.raw, self.day), out["tiers"],
                ["conv_id"], "ts", "latency_sec", run_id="resume")
        return out

    def check(self, out: dict, keep: bool) -> tuple[dict, list[str]]:
        spark = self.b.spark
        fails = []
        if out["built"] != {t: self.DAYS for t in TIERS}:
            fails.append(f"lineage: build wrote {out['built']}, want {self.DAYS} per tier")
        if out["resumed"] != {t: 1 for t in TIERS}:
            fails.append(f"lineage: resume wrote {out['resumed']}, want 1 per tier")
        tiers = {t: read_tier(spark, out["tiers"], t) for t in TIERS}
        fails += checks.check_tiers(tiers, self.items)
        fails += checks.check_tiers_direct(
            tiers, self._latency(self.raw, self.day), rollup.TIER_SECONDS)
        chunks = spark.read.parquet(out["chunks"])
        fails += checks.check_roundtrip(
            decompress_chunks(chunks, ["conv_id"]), spark.read.parquet(self.raw))
        c = chunks.agg(F.count(F.lit(1)), F.sum("n_points"), F.sum("n_bytes")).first()
        if c[1] != self.n_raw:
            fails.append(f"chunks: {c[1]} points in chunks, raw has {self.n_raw}")
        stats = {
            "rollup.points_1m": tiers["1m"].count(),
            "rollup.points_1h": tiers["1h"].count(),
            "rollup.points_1d": tiers["1d"].count(),
            "lineage.partitions_written": sum(out["built"].values()),
            "lineage.resume_partitions_written": sum(out["resumed"].values()),
            "lineage.bytes_written": _du(out["tiers"]),
            "chunks.n_chunks": c[0],
            "chunks.points": c[1],
            "chunks.points_per_chunk": c[1] / c[0],
            "bytes_per_point": c[2] / c[1],
        }
        if keep:
            self.last = out
        else:
            out["lat"].unpersist()
            shutil.rmtree(out["dir"], ignore_errors=True)
        return stats, fails

    def stage_metrics(self, walls: dict[str, float], stats: dict) -> dict:
        # the stored tiers hold what the build and the resume wrote
        tier_points = sum(stats[f"rollup.points_{t}"] for t in TIERS)
        comp = walls["chunks.compress"]
        return {
            "tier_points_per_s": tier_points / (
                walls["lineage.build"] + walls["lineage.resume"]),
            "chunk_points_per_s": stats["chunks.points"] / (
                comp + walls["chunks.decompress"]),
            "chunks.compress_us_per_chunk": comp * 1e6 / stats["chunks.n_chunks"],
        }

    def probes(self, layer) -> tuple[dict, list[str]]:
        """The in-memory cascade alone (no writes, no lineage), then the
        Gorilla codec in-process on this workload's own chunks."""
        spark, out = self.b.spark, self.last
        lat = out["lat"]
        with layer("rollup.cascade", probe=True) as s:
            for df in rollup.cascade(lat, ["conv_id"], "ts", "latency_sec", TIERS).values():
                _noop(df)
        lat.unpersist()
        m = {"rollup.cascade_s": s.wall}
        payloads = [bytes(r["payload"]) for r in spark.read.parquet(out["chunks"])
                    .orderBy("conv_id", "chunk_idx").select("payload").limit(400).collect()]
        decoded = [gorilla.decode_chunk(p) for p in payloads]
        points = sum(len(ts) for ts, _ in decoded)
        m["gorilla.decode_us_per_point"] = _median_us(
            lambda: [gorilla.decode_chunk(p) for p in payloads], points, reps=3)
        m["gorilla.encode_us_per_point"] = _median_us(
            lambda: [gorilla.encode_chunk(ts, v) for ts, v in decoded], points, reps=3)
        m["gorilla.bytes_per_point"] = sum(len(p) for p in payloads) / points
        same = all(gorilla.encode_chunk(ts, v) == p for (ts, v), p in zip(decoded, payloads))
        shutil.rmtree(out["dir"], ignore_errors=True)
        return m, [] if same else ["gorilla: re-encoding a decoded chunk changed its bytes"]


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


WORKLOADS = {w.name: w for w in (Anonymize, RetentionTiers)}
