"""EP3 nightly refresh cycles, each followed by an EP2 cold read.

One cycle, all through the engine's public API:

1. ``LandingJob.land`` commits the next seeded snapshot to bronze;
2. ``table_diff`` against the previous bronze version gives the typed
   change feed, staged as parquet files in the stream's source dir;
3. ``replay_upsert_merge`` merges it into the silver target as an
   ``availableNow`` ``foreachBatch`` stream (tombstones retained);
4. ``MakanmanaEngine(target).enrich().resolve_halal()`` →
   ``SnapshotCache.save``.

Then the cold read: ``SnapshotCache.load`` → first page. Construction
runs the initial load (all inserts) and one warm cycle. After every
recorded cycle the served target (``op <> 'delete'``) is checked
against the generator's expected snapshot, and the first page against
its (name, id) order.
"""

from __future__ import annotations

import os
import time

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from cdc_makanmana_spark.engine import MakanmanaEngine
from cdc_makanmana_spark.operators.scd import table_diff
from cdc_makanmana_spark.sources.cache import SnapshotCache
from cdc_makanmana_spark.sources.landing import LandingJob
from cdc_makanmana_spark.streaming.replay import replay_upsert_merge

from perfbench import gen
from perfbench.harness import dir_bytes, file_index, median, tree_cpu_s
from perfbench.reference import PAGE, snapshot_mismatches

PAYLOAD = gen.SNAPSHOT_COLS[1:]
LINEAGE = ["_landed_at", "_source_route"]
DAY0 = 1_700_000_000


class Refresh:
    def __init__(self, spark, dirs, tracer, seed: int):
        self.spark, self.dirs, self.tracer, self.seed = spark, dirs, tracer, seed
        self.snapshot = gen.merchants(seed)
        est = gen.establishments(seed, self.snapshot)
        est.to_parquet(dirs.path("data", "establishments.parquet"), index=False)
        self.est_pd = est
        self.est = spark.read.parquet(dirs.path("data", "establishments.parquet"))
        schema = spark.createDataFrame(self.snapshot.head(1)).schema
        self.landing = LandingJob(
            spark,
            [lambda: spark.read.parquet(self._incoming)],
            schema,
            dirs.path("data", "bronze"),
            retries=1,
        )
        self.stage = dirs.path("data", "feed")
        self.target = dirs.path("data", "silver_target")
        self.ckpt = dirs.path("data", "merge_ckpt")
        self.cache = SnapshotCache(spark, dirs.path("data", "snapshot"), data_version="bench")
        self.prev_bronze: str | None = None
        self.cycle_no = 0
        self.cycles: list[dict] = []
        self.failed = 0
        self.attempted = 0
        self._incoming = ""
        self._cycle(self.snapshot, record=False)
        self.advance(record=False)

    def advance(self, record: bool, unit: int = -1) -> dict:
        """Run the next nightly cycle and its cold read as part of timed
        ``unit``. Returns the cycle's record; ``rec["snap"]`` is the
        snapshot the cold read loaded and ``self.snapshot`` the
        generator's view of it."""
        self.cycle_no += 1
        nxt, _ = gen.churn(self.seed, self.cycle_no, self.snapshot, self.est_pd)
        rec = self._cycle(nxt, record, unit)
        self.snapshot = nxt
        return rec

    def _cycle(self, expected, record: bool, unit: int = -1) -> dict:
        spark, tr = self.spark, self.tracer
        self._incoming = self.dirs.path("data", f"incoming_{self.cycle_no}.parquet")
        expected.to_parquet(self._incoming, index=False)
        if tr.enabled:
            before = (
                file_index(self.stage),
                file_index(self.target),
                _count(os.path.join(self.ckpt, "commits")),
            )
        rec: dict = {"unit": unit}
        gc0 = tr.gc_ms() if tr.enabled else 0
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        with tr.span("refresh.cycle", counts=False) as top:
            with tr.span("landing.land", top["id"]) as s:
                landed = self.landing.land(now_s=DAY0 + self.cycle_no * 86400)
            rec["landing.land_s"] = s["wall_s"]
            new = spark.read.parquet(landed.path).drop(*LINEAGE)
            old = (
                spark.read.parquet(self.prev_bronze).drop(*LINEAGE)
                if self.prev_bronze
                else new.limit(0)
            )
            with tr.span("scd.diff", top["id"]) as s:
                diff = table_diff(old, new, ["id"])
                is_del = F.col("op") == "delete"
                feed = diff.select(
                    "id",
                    "op",
                    F.timestamp_seconds(F.lit(DAY0 + self.cycle_no * 86400)).alias("ts"),
                    *[F.when(is_del, F.col(f"old.{c}")).otherwise(F.col(f"new.{c}")).alias(c)
                      for c in PAYLOAD],
                )
                feed.repartition(2, "id").write.mode("append").parquet(self.stage)
            rec["scd.diff_s"] = s["wall_s"]
            with tr.span("cdc.merge", top["id"]) as s:
                replay_upsert_merge(spark, self.stage, self.target, self.ckpt, ["id"], ts_col="ts")
            rec["cdc.merge_s"] = s["wall_s"]
            served = (
                spark.read.parquet(self.target).filter(F.col("op") != "delete").select("id", *PAYLOAD)
            )
            with tr.span("engine.enrich_build", top["id"]):
                silver = MakanmanaEngine(served).enrich().resolve_halal(self.est)
            with tr.span("cache.save", top["id"]) as s:
                self.cache.save(silver.df)
            rec["cache.save_s"] = s["wall_s"]
        rec["cycle_s"] = time.perf_counter() - t0
        self.prev_bronze = landed.path

        t1 = time.perf_counter()
        with tr.span("cache.load") as s:
            snap = self.cache.load()
        rec["cache.load_ms"] = s["wall_s"] * 1000
        with tr.span("first_page"):
            rows = MakanmanaEngine(snap).page_after(None).df.collect()
        rec["first_page_ms"] = (time.perf_counter() - t1) * 1000
        rec["cpu_s"] = tree_cpu_s() - cpu0
        # GC of the timed cycle and cold read only, not of the checks
        rec["gc_ms"] = tr.gc_ms() - gc0 if tr.enabled else 0
        rec["traced"] = tr.enabled

        if tr.enabled:
            self._probe(rec, served, *before)
        if record:
            self.cycles.append(rec)
            self.attempted += 2
            got = spark.read.parquet(self.target).filter(F.col("op") != "delete").toPandas()
            self.failed += snapshot_mismatches(got, expected, gen.SNAPSHOT_COLS) > 0
            want = expected.sort_values(["name", "id"])["id"].head(PAGE).tolist()
            self.failed += [r["id"] for r in rows] != want
        return {**rec, "snap": snap}

    def _probe(self, rec, served, feed_before, target_before, commits_before) -> None:
        """Traced-only, untimed: split enrich from resolve_halal by
        forcing each plan with the noop sink, and size what the merge
        wrote."""
        eng = MakanmanaEngine(served).enrich()
        t0 = time.perf_counter()
        eng.df.write.format("noop").mode("overwrite").save()
        t1 = time.perf_counter()
        eng.resolve_halal(self.est).df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        rec["engine.enrich_s"] = t1 - t0
        rec["engine.resolve_halal_s"] = max(0.0, (t2 - t1) - (t1 - t0))
        snap = self.cache.load()
        rec["halal.matches"] = snap.filter(F.col("halalSource").startswith("MUIS")).count()
        rec["cache.bytes"] = dir_bytes(self.cache.path)
        feed_new = _new_files(self.stage, feed_before)
        target_new = _new_files(self.target, target_before)
        feed_bytes = sum(os.path.getsize(p) for p in feed_new)
        rec["scd.changes"] = sum(pq.ParquetFile(p).metadata.num_rows for p in feed_new)
        rec["cdc.bytes_written"] = sum(os.path.getsize(p) for p in target_new)
        rec["cdc.write_amplification"] = rec["cdc.bytes_written"] / max(feed_bytes, 1)
        rec["cdc.micro_batches"] = _count(os.path.join(self.ckpt, "commits")) - commits_before

    def report(self, keep: set[int]) -> dict:
        plain = [c for c in self.cycles if c["unit"] in keep]
        return {
            "cycles": len(plain),
            "cycle_p50_s": median([c["cycle_s"] for c in plain]),
            "first_page_ms": median([c["first_page_ms"] for c in plain]),
        }

    def layers(self) -> dict:
        """Medians over the traced cycles of every layer figure."""
        traced = [c for c in self.cycles if c["traced"]]
        keys = [k for k in traced[0] if "." in k]
        return {k: median([c[k] for c in traced]) for k in keys}


def _count(path: str) -> int:
    return len([f for f in os.listdir(path) if not f.startswith(".")]) if os.path.isdir(path) else 0


def _new_files(root: str, before: dict) -> list[str]:
    after = file_index(root)
    return [os.path.join(root, k) for k, v in after.items() if before.get(k) != v]
