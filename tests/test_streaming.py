"""Streaming/CDC layer tests (SURVEY.md §5 item 5): deterministic
micro-batch tests over file-based upsert streams with
``trigger(availableNow=True)`` — every assertion is on a finished
query, no sleeps-and-hope."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from cdc_makanmana_spark.streaming import (
    VerdictCache,
    dedup_within_watermark,
    latest_state,
    read_upsert_stream,
    upsert_to_parquet,
    windowed_agg_stream,
)

EVENT_SCHEMA = StructType(
    [
        StructField("key", LongType()),
        StructField("op", StringType()),
        StructField("ts", TimestampType()),
        StructField("value", DoubleType()),
    ]
)


def _land(tmpdir: str, name: str, rows: list[dict]) -> None:
    os.makedirs(tmpdir, exist_ok=True)
    with open(os.path.join(tmpdir, name), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _run_available(stream_df, sink_dir, ckpt_dir, output_mode="append"):
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", ckpt_dir)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_upsert_stream_materializes_latest_state(spark, tmp_path):
    from cdc_makanmana_spark.session import release_materialized

    # start from an empty block store: earlier test files in the shared
    # session (plan builds of iterative queries) may have live
    # checkpoint blocks, and the leak assertion below is about THIS
    # stream's batches only
    release_materialized(spark)

    src = str(tmp_path / "src")
    target = str(tmp_path / "target")
    # batch 1: inserts for keys 1..3
    _land(src, "b1.json", [
        {"key": 1, "op": "upsert", "ts": "2024-01-01T00:00:00", "value": 10.0},
        {"key": 2, "op": "upsert", "ts": "2024-01-01T00:01:00", "value": 20.0},
        {"key": 3, "op": "upsert", "ts": "2024-01-01T00:02:00", "value": 30.0},
    ])
    stream = read_upsert_stream(spark, src, EVENT_SCHEMA, max_files_per_trigger=1)
    q = upsert_to_parquet(stream, target, ["key"], checkpoint_dir=str(tmp_path / "ck1"))
    q.awaitTermination(120)

    state = {r.key: r.value for r in spark.read.parquet(target).collect()}
    assert state == {1: 10.0, 2: 20.0, 3: 30.0}

    # batch 2: update key 2, delete key 3, insert key 4 — restart from
    # the same checkpoint picks up only the new file.
    _land(src, "b2.json", [
        {"key": 2, "op": "upsert", "ts": "2024-01-01T01:00:00", "value": 21.0},
        {"key": 3, "op": "delete", "ts": "2024-01-01T01:01:00", "value": None},
        {"key": 4, "op": "upsert", "ts": "2024-01-01T01:02:00", "value": 40.0},
    ])
    stream = read_upsert_stream(spark, src, EVENT_SCHEMA)
    q = upsert_to_parquet(stream, target, ["key"], checkpoint_dir=str(tmp_path / "ck1"))
    q.awaitTermination(120)

    state = {r.key: r.value for r in spark.read.parquet(target).collect()}
    assert state == {1: 10.0, 2: 21.0, 4: 40.0}  # 3 deleted, 2 updated

    # a stream runs for months: each batch's localCheckpoint blocks
    # must die with the batch, not accumulate in executor storage
    assert len(spark.sparkContext._jsc.sc().getRDDStorageInfo()) == 0


def test_retained_tombstone_suppresses_older_upsert_across_batches(spark, tmp_path):
    """Batch-order independence of the MERGE (the property q103's
    oracle relies on): a delete that wins its batch must keep
    suppressing OLDER upserts of the same key that land in LATER
    micro-batches. Without retention the tombstone is consumed by its
    own batch and the stale upsert silently resurrects the key."""
    from pyspark.sql import functions as F

    for retain, expect_one in ((False, True), (True, False)):
        sub = str(tmp_path / f"r{int(retain)}")
        src, target = f"{sub}/src", f"{sub}/target"
        # batch 1: key 1 is deleted at t=02:00
        _land(src, "b1.json", [
            {"key": 1, "op": "delete", "ts": "2024-01-01T02:00:00", "value": None},
        ])
        stream = read_upsert_stream(spark, src, EVENT_SCHEMA, max_files_per_trigger=1)
        q = upsert_to_parquet(
            stream, target, ["key"], checkpoint_dir=f"{sub}/ck",
            retain_tombstones=retain,
        )
        q.awaitTermination(120)
        # batch 2 (late file): an OLDER upsert of key 1 from t=01:00
        _land(src, "b2.json", [
            {"key": 1, "op": "upsert", "ts": "2024-01-01T01:00:00", "value": 11.0},
        ])
        stream = read_upsert_stream(spark, src, EVENT_SCHEMA, max_files_per_trigger=1)
        q = upsert_to_parquet(
            stream, target, ["key"], checkpoint_dir=f"{sub}/ck",
            retain_tombstones=retain,
        )
        q.awaitTermination(120)
        served = (
            spark.read.parquet(target).filter(F.col("op") != "delete").collect()
        )
        assert bool(served) is expect_one  # resurrection iff not retained


def test_upsert_rewrites_only_touched_buckets(spark, tmp_path):
    """The 100 TB property of the upsert sink: a micro-batch touching
    one key must leave every other bucket's files physically untouched
    (same file names and mtimes) — partition-pruned read, dynamic
    partition overwrite."""
    src = str(tmp_path / "src")
    target = str(tmp_path / "target")
    _land(src, "b1.json", [
        {"key": k, "op": "upsert", "ts": "2024-01-01T00:00:00", "value": float(k)}
        for k in range(1, 33)
    ])
    stream = read_upsert_stream(spark, src, EVENT_SCHEMA, max_files_per_trigger=1)
    q = upsert_to_parquet(stream, target, ["key"], checkpoint_dir=str(tmp_path / "ck"))
    q.awaitTermination(120)

    def file_state():
        out = {}
        for bucket in os.listdir(target):
            if not bucket.startswith("__bucket="):
                continue
            bdir = os.path.join(target, bucket)
            out[bucket] = {
                f: os.stat(os.path.join(bdir, f)).st_mtime_ns
                for f in os.listdir(bdir) if f.endswith(".parquet")
            }
        return out

    before = file_state()
    assert len(before) > 4  # keys spread over several buckets

    # second batch: update ONE key
    _land(src, "b2.json", [
        {"key": 7, "op": "upsert", "ts": "2024-01-01T01:00:00", "value": 700.0},
    ])
    stream = read_upsert_stream(spark, src, EVENT_SCHEMA)
    q = upsert_to_parquet(stream, target, ["key"], checkpoint_dir=str(tmp_path / "ck"))
    q.awaitTermination(120)

    after = file_state()
    changed = [b for b in before if before[b] != after.get(b)]
    assert len(changed) == 1, f"expected exactly one rewritten bucket, got {changed}"
    state = {r.key: r.value for r in spark.read.parquet(target).collect()}
    assert state[7] == 700.0 and state[1] == 1.0 and len(state) == 32


def test_watermark_drops_late_rows(spark, tmp_path):
    """An event later than watermark behind the max seen ts must not
    reopen its (already finalized) window in append mode."""
    src = str(tmp_path / "src")
    _land(src, "b1.json", [
        {"key": 1, "op": "u", "ts": "2024-01-01T00:05:00", "value": 1.0},
        {"key": 1, "op": "u", "ts": "2024-01-01T05:00:00", "value": 1.0},  # advances watermark far
    ])
    stream = read_upsert_stream(spark, src, EVENT_SCHEMA)
    agg = windowed_agg_stream(stream, window="1 hour", watermark="30 minutes")
    sink1 = str(tmp_path / "sink")
    _run_available(agg, sink1, str(tmp_path / "ck"))

    # late straggler for the (finalized) 00:00 window
    _land(src, "b2.json", [
        {"key": 1, "op": "u", "ts": "2024-01-01T00:10:00", "value": 99.0},
    ])
    stream = read_upsert_stream(spark, src, EVENT_SCHEMA)
    agg = windowed_agg_stream(stream, window="1 hour", watermark="30 minutes")
    _run_available(agg, sink1, str(tmp_path / "ck"))

    out = spark.read.parquet(sink1).filter(F.col("window_start") == "2024-01-01 00:00:00")
    rows = out.collect()
    # the 00:00 window was emitted once with the on-time row only
    assert len(rows) == 1 and rows[0]["n_events"] == 1 and rows[0]["total_value"] == 1.0


def test_dedup_within_watermark(spark, tmp_path):
    src = str(tmp_path / "src")
    _land(src, "b1.json", [
        {"key": 1, "op": "u", "ts": "2024-01-01T00:00:00", "value": 1.0},
        {"key": 1, "op": "u", "ts": "2024-01-01T00:00:30", "value": 1.0},  # dup inside horizon
        {"key": 2, "op": "u", "ts": "2024-01-01T00:01:00", "value": 2.0},
    ])
    stream = read_upsert_stream(spark, src, EVENT_SCHEMA)
    deduped = dedup_within_watermark(stream, ["key"], watermark="10 minutes")
    sink = str(tmp_path / "sink")
    _run_available(deduped, sink, str(tmp_path / "ck"))
    keys = sorted(r.key for r in spark.read.parquet(sink).collect())
    assert keys == [1, 2]


def test_latest_state_batch_twin(spark):
    df = spark.createDataFrame(
        [(1, "upsert", "2024-01-01T00:00:00", 1.0),
         (1, "upsert", "2024-01-01T02:00:00", 5.0),
         (2, "delete", "2024-01-01T01:00:00", 2.0)],
        "key long, op string, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {r.key: r.value for r in latest_state(df, ["key"]).collect()}
    assert out == {1: 5.0}  # key 2's latest op is delete → dropped


def test_verdict_cache_hits_misses_and_ttl(spark, tmp_path):
    cache = VerdictCache(spark, str(tmp_path / "vc"), key_col="k", ttl_hours=24.0)
    facts = spark.createDataFrame([("a",), ("b",), ("c",)], "k string")

    calls: list[int] = []

    def compute(misses):
        calls.append(misses.count())
        return misses.withColumn("verdict", F.upper("k"))

    out1 = cache.enrich_with(facts, "k", compute, ["verdict"], now="2024-01-01T00:00:00")
    assert {r.k: r.verdict for r in out1.collect()} == {"a": "A", "b": "B", "c": "C"}
    assert calls == [3]  # cold cache: everything recomputed

    # Within TTL: all hits, compute not called again.
    out2 = cache.enrich_with(facts, "k", compute, ["verdict"], now="2024-01-01T12:00:00")
    assert {r.k: r.verdict for r in out2.collect()} == {"a": "A", "b": "B", "c": "C"}
    assert calls == [3]

    # Past TTL: everything expired → recomputed.
    out3 = cache.enrich_with(facts, "k", compute, ["verdict"], now="2024-01-03T00:00:00")
    assert {r.k: r.verdict for r in out3.collect()} == {"a": "A", "b": "B", "c": "C"}
    assert calls == [3, 3]


def test_verdict_cache_merge_newest_wins(spark, tmp_path):
    cache = VerdictCache(spark, str(tmp_path / "vc2"), key_col="k")
    v1 = spark.createDataFrame([("a", "old")], "k string, verdict string")
    v2 = spark.createDataFrame([("a", "new")], "k string, verdict string")
    cache.merge(v1, computed_at="2024-01-01T00:00:00")
    cache.merge(v2, computed_at="2024-01-02T00:00:00")
    rows = cache.read().collect()
    assert len(rows) == 1 and rows[0]["verdict"] == "new"
    cache.vacuum(keep=1)
    assert len(cache._versions()) == 1
    assert cache.read().collect()[0]["verdict"] == "new"


def test_verdict_cache_torn_commit_invisible_and_number_not_reused(spark, tmp_path):
    """Commit-marker protocol: a torn version dir (rename landed, the
    _COMMITTED stamp never written — the raw-S3 crash shape) must be
    invisible to readers, must not steal the next merge's version
    number, and vacuum must sweep it."""
    from cdc_makanmana_spark import fs

    path = str(tmp_path / "vc3")
    cache = VerdictCache(spark, path, key_col="k")
    cache.merge(
        spark.createDataFrame([("a", "good")], "k string, verdict string"),
        computed_at="2024-01-01T00:00:00",
    )
    # torn v000002: parquet files present (with Spark's own _SUCCESS,
    # which must NOT count as the marker), no _COMMITTED
    spark.createDataFrame(
        [("a", "torn", "2024-01-02T00:00:00")],
        "k string, verdict string, computed_at string",
    ).withColumn("computed_at", F.col("computed_at").cast("timestamp")).write.parquet(
        f"{path}/v000002"
    )
    assert not fs.is_committed(spark, f"{path}/v000002")

    assert cache.read().collect()[0]["verdict"] == "good"  # torn dir skipped
    cache.merge(
        spark.createDataFrame([("a", "newer")], "k string, verdict string"),
        computed_at="2024-01-03T00:00:00",
    )
    # merge skipped past the torn number...
    assert cache._versions() == ["v000001", "v000003"]
    assert cache.read().collect()[0]["verdict"] == "newer"
    # ...and the torn row never leaked into the merged lineage
    assert cache.read().count() == 1

    cache.vacuum(keep=1)
    names = fs.list_names(spark, path, dirs_only=True)
    assert names == ["v000003"]  # torn v000002 swept with the old v000001


def test_verdict_cache_lookup_does_not_pin_broadcast(spark, tmp_path):
    """Round-3 verdict item: the cache is entity-cardinality (tracks
    the fact side), so lookup must not carry a broadcast HINT. With
    auto-broadcast disabled, only hinted sides can broadcast — the
    lookup join must degrade to a shuffle join."""
    cache = VerdictCache(spark, str(tmp_path / "vc4"), key_col="k")
    cache.merge(
        spark.createDataFrame([("a", "v")], "k string, verdict string"),
        computed_at="2024-01-01T00:00:00",
    )
    facts = spark.createDataFrame([("a",), ("b",)], "k string")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        looked = cache.lookup(facts, "k", now="2024-01-01T01:00:00")
        plan = looked._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "BroadcastHashJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    # semantics unchanged
    hits = {r.k: r["__cache_hit"] for r in looked.collect()}
    assert hits == {"a": True, "b": False}


def test_progress_tracker_reports_per_batch_rows(spark, tmp_path):
    """T5: the listener sees each micro-batch's row count and the
    cumulative total matches the data landed (dataManager.ts:170-172
    progress-callback parity)."""
    import time as _time

    from cdc_makanmana_spark.streaming import ProgressTracker

    src = str(tmp_path / "src")
    _land(src, "b1.json", [
        {"key": 1, "op": "u", "ts": "2024-01-01T00:00:00", "value": 1.0},
        {"key": 2, "op": "u", "ts": "2024-01-01T00:01:00", "value": 2.0},
    ])
    _land(src, "b2.json", [
        {"key": 3, "op": "u", "ts": "2024-01-01T00:02:00", "value": 3.0},
    ])
    seen = []
    with ProgressTracker(spark, on_progress=seen.append) as tracker:
        stream = read_upsert_stream(spark, src, EVENT_SCHEMA, max_files_per_trigger=1)
        q = (
            stream.writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        # listener events are delivered asynchronously post-termination
        for _ in range(50):
            if tracker.total_rows >= 3:
                break
            _time.sleep(0.2)
    assert tracker.total_rows == 3
    batch_rows = sorted(b["num_input_rows"] for b in tracker.batches if b["num_input_rows"])
    assert batch_rows == [1, 2]


def test_streaming_decontamination_foreach_batch(spark, tmp_path):
    """Streaming ingest hygiene: each micro-batch of arriving documents
    is decontaminated against the static eval suite inside foreachBatch
    (the batch-operator-reuse pattern the CDC upsert sink also uses),
    so contaminated docs never reach the clean landing zone — across
    multiple batches and restarts of the source."""
    from cdc_makanmana_spark.operators.dedup import decontaminate

    doc_schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    src = str(tmp_path / "incoming")
    out = str(tmp_path / "clean")
    ckpt = str(tmp_path / "ckpt")

    ev = spark.createDataFrame(
        [(100, "the forbidden benchmark passage that must never leak through")],
        "doc_id long, text string",
    )

    def clean_batch(batch_df, batch_id):
        decontaminate(batch_df, ev, "text", "doc_id", n=5).write.mode(
            "append"
        ).parquet(out)

    def run_once():
        q = (
            spark.readStream.schema(doc_schema)
            .option("maxFilesPerTrigger", "1")
            .json(src)
            .writeStream.foreachBatch(clean_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    _land(src, "b1.jsonl", [
        {"doc_id": 1, "text": "clean content about window aggregation in spark"},
        {"doc_id": 2, "text": "prefix words then the forbidden benchmark passage that must never leak through"},
    ])
    run_once()
    _land(src, "b2.jsonl", [
        {"doc_id": 3, "text": "more clean content entirely unrelated to the eval suite"},
        {"doc_id": 4, "text": "the forbidden benchmark passage that must never leak verbatim again"},
    ])
    run_once()

    kept = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert kept == [1, 3]  # 2 and 4 each share a 5-gram with the eval doc


def test_streaming_incremental_ingest_dedup_against_landed_corpus(spark, tmp_path):
    """The growing-corpus ingest pipeline end-to-end: each arriving
    micro-batch is deduped against everything ALREADY LANDED
    (SignatureIndex.ingest as the foreachBatch body), survivors land
    in the corpus, and later batches dedup against earlier batches'
    survivors — exact dups, near dups, and cross-batch dups all die;
    novel docs accumulate."""
    from cdc_makanmana_spark.operators.dedup_index import SignatureIndex

    doc_schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    src = str(tmp_path / "incoming")
    corpus = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")

    A = "the first novel document about adaptive query execution in distributed engines"
    B = "a second unrelated piece concerning columnar storage layouts and encodings"
    C = "fresh third content mentioning watermarks and state store eviction policies"

    idx = SignatureIndex(spark, str(tmp_path / "idx"), id_col="doc_id")

    def ingest(batch_df, batch_id):
        # per-batch corpus dir: the sink is idempotent per batch_id,
        # as ingest's retry contract asks of its caller
        idx.ingest(batch_df, batch_id).write.mode("overwrite").parquet(
            f"{corpus}/b{batch_id}"
        )

    def run_once():
        q = (
            spark.readStream.schema(doc_schema)
            .option("maxFilesPerTrigger", "1")
            .json(src)
            .writeStream.foreachBatch(ingest)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    _land(src, "b1.jsonl", [{"doc_id": 1, "text": A}, {"doc_id": 2, "text": B}])
    run_once()
    _land(src, "b2.jsonl", [
        {"doc_id": 3, "text": A},                 # exact dup of landed 1
        {"doc_id": 4, "text": A + " postscript"}, # near dup of landed 1
        {"doc_id": 5, "text": C},                 # novel
    ])
    run_once()
    _land(src, "b3.jsonl", [
        {"doc_id": 6, "text": C},                 # exact dup of batch-2 survivor
        {"doc_id": 7, "text": B + " addendum"},   # near dup of landed 2
    ])
    run_once()

    landed = sorted(r["doc_id"] for r in spark.read.parquet(f"{corpus}/b*").collect())
    assert landed == [1, 2, 5]


def test_stream_stream_interval_join_matches_batch_twin(spark, tmp_path):
    """Two live file streams (impressions, clicks) joined within an
    attribution band; the finished result must equal the identical
    batch join — and the plan must carry watermarks on BOTH sides
    (the state-eviction contract)."""
    from cdc_makanmana_spark.streaming.joins import stream_stream_interval_join

    imp_schema = StructType([
        StructField("key", LongType()),
        StructField("imp_ts", TimestampType()),
        StructField("campaign", StringType()),
    ])
    clk_schema = StructType([
        StructField("key", LongType()),
        StructField("clk_ts", TimestampType()),
        StructField("target", StringType()),
    ])
    imp_dir, clk_dir = str(tmp_path / "imp"), str(tmp_path / "clk")
    _land(imp_dir, "i.json", [
        {"key": 1, "imp_ts": "2024-01-01T00:00:00", "campaign": "a"},
        {"key": 1, "imp_ts": "2024-01-01T00:10:00", "campaign": "b"},
        {"key": 2, "imp_ts": "2024-01-01T00:00:00", "campaign": "c"},
        {"key": 3, "imp_ts": "2024-01-01T00:00:00", "campaign": "d"},
    ])
    _land(clk_dir, "c.json", [
        # in-band for campaign a (+30 s) and campaign b (+9 min < 10 min? no: band is 60 s) …
        {"key": 1, "clk_ts": "2024-01-01T00:00:30", "target": "x"},
        {"key": 1, "clk_ts": "2024-01-01T00:10:45", "target": "y"},
        {"key": 2, "clk_ts": "2024-01-01T00:05:00", "target": "z"},  # out of band
        {"key": 4, "clk_ts": "2024-01-01T00:00:10", "target": "w"},  # no impression
    ])
    imp = spark.readStream.schema(imp_schema).json(imp_dir)
    clk = spark.readStream.schema(clk_schema).json(clk_dir)
    joined = stream_stream_interval_join(
        imp, clk, ["key"], "imp_ts", "clk_ts", lower_s=0, upper_s=60,
    )
    sink, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    _run_available(joined, sink, ckpt)
    got = {
        (r.key, r.campaign, r.target)
        for r in spark.read.parquet(sink).collect()
    }
    assert got == {(1, "a", "x"), (1, "b", "y")}

    # batch twin on the same files agrees
    bi = spark.read.schema(imp_schema).json(imp_dir)
    bc = spark.read.schema(clk_schema).json(clk_dir)
    twin = {
        (r.key, r.campaign, r.target)
        for r in bi.join(
            bc,
            (bi["key"] == bc["key"])
            & (bc["clk_ts"] >= bi["imp_ts"])
            & (bc["clk_ts"] <= bi["imp_ts"] + F.expr("INTERVAL 60 SECONDS")),
        ).collect()
    }
    assert got == twin


def test_stream_stream_join_refuses_colliding_columns(spark, tmp_path):
    from cdc_makanmana_spark.streaming.joins import stream_stream_interval_join

    (tmp_path / "src").mkdir()
    s = spark.readStream.schema(
        StructType([StructField("key", LongType()), StructField("ts", TimestampType()),
                    StructField("v", DoubleType())])
    ).json(str(tmp_path / "src"))
    with pytest.raises(ValueError, match="re-uses left column names"):
        stream_stream_interval_join(s, s, ["key"], "ts", "ts", 0, 60)


def test_streaming_ingest_with_signature_index(spark, tmp_path):
    """Steady-state ingest via the composed ``ingest`` body: each
    micro-batch dedups against the PERSISTED signature index (no
    corpus recompute, corpus text never re-read, MinHash computed once
    per batch), survivors land in a PER-BATCH corpus dir (the caller's
    half of the idempotency contract) and index themselves under the
    batch_id — same end state as the recompute-based pipeline above."""
    from cdc_makanmana_spark.operators.dedup_index import SignatureIndex

    doc_schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    src = str(tmp_path / "incoming")
    corpus = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")

    A = "the first novel document about adaptive query execution in distributed engines"
    B = "a second unrelated piece concerning columnar storage layouts and encodings"
    C = "fresh third content mentioning watermarks and state store eviction policies"

    idx = SignatureIndex(spark, str(tmp_path / "sigidx"))

    def ingest(batch_df, batch_id):
        keep = idx.ingest(batch_df, batch_id)
        # overwrite a per-batch dir: a foreachBatch retry rewrites the
        # same dir instead of appending duplicate corpus rows
        keep.write.mode("overwrite").parquet(f"{corpus}/b{batch_id}")

    def run_once():
        q = (
            spark.readStream.schema(doc_schema)
            .option("maxFilesPerTrigger", "1")
            .json(src)
            .writeStream.foreachBatch(ingest)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    _land(src, "b1.jsonl", [{"doc_id": 1, "text": A}, {"doc_id": 2, "text": B}])
    run_once()
    _land(src, "b2.jsonl", [
        {"doc_id": 3, "text": A},                 # exact dup of landed 1
        {"doc_id": 4, "text": A + " postscript"}, # near dup of landed 1
        {"doc_id": 5, "text": C},                 # novel
    ])
    run_once()
    _land(src, "b3.jsonl", [
        {"doc_id": 6, "text": C},                 # exact dup of batch-2 survivor
        {"doc_id": 7, "text": B + " addendum"},   # near dup of landed 2
    ])
    run_once()

    landed = sorted(
        r["doc_id"] for r in spark.read.parquet(f"{corpus}/b*").collect()
    )
    assert landed == [1, 2, 5]
    assert idx.docs().count() == 3  # index tracked exactly the survivors


def test_rollup_maintainer_matches_batch_twin_and_compacts(spark, tmp_path):
    """Continuous aggregate: per-batch additive partials must serve the
    same rollup as a one-shot batch aggregation of all events;
    compact() folds partials without changing the served result; a
    retry of a committed batch is a no-op (no double counting)."""
    from cdc_makanmana_spark.streaming.rollup import RollupMaintainer

    src = str(tmp_path / "src")
    rows1 = [
        {"key": 1, "op": "upsert", "ts": "2024-01-01T00:10:00", "value": 10.0},
        {"key": 2, "op": "upsert", "ts": "2024-01-01T00:20:00", "value": 20.0},
        {"key": 1, "op": "upsert", "ts": "2024-01-01T01:05:00", "value": 30.0},
    ]
    rows2 = [
        {"key": 1, "op": "upsert", "ts": "2024-01-01T00:40:00", "value": 5.0},
        {"key": 2, "op": "upsert", "ts": "2024-01-01T01:30:00", "value": 7.0},
    ]
    _land(src, "b1.json", rows1)
    _land(src, "b2.json", rows2)
    roll = RollupMaintainer(
        spark, str(tmp_path / "roll"), window="1 hour", keys=["key"]
    )
    stream = read_upsert_stream(spark, src, EVENT_SCHEMA, max_files_per_trigger=1)
    q = roll.ingest_stream(stream, checkpoint_dir=str(tmp_path / "ck"))
    q.awaitTermination(120)

    def served():
        return {
            (str(r.window_start), r.key): (r.n_events, r.total_value, r.avg_value)
            for r in roll.serve().collect()
        }

    all_rows = spark.createDataFrame(
        [(r["key"], r["ts"], r["value"]) for r in rows1 + rows2],
        "key long, ts string, value double",
    ).selectExpr("key", "ts::timestamp AS ts", "value")
    twin = {
        (str(r.window_start), r.key): (r.n_events, r.total_value, r.avg_value)
        for r in all_rows.groupBy(F.window("ts", "1 hour").alias("w"), "key")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("s"))
        .select(
            F.col("w.start").alias("window_start"),
            "key",
            "n_events",
            F.round("s", 4).alias("total_value"),
            F.round(F.col("s") / F.col("n_events"), 4).alias("avg_value"),
        )
        .collect()
    }
    before = served()
    assert before == twin and len(before) == 4

    # retry of a committed batch: write-once no-op, counts unchanged
    batch0 = spark.createDataFrame(
        [(9, "2024-01-01T00:10:00", 99.0)], "key long, ts string, value double"
    ).selectExpr("key", "ts::timestamp AS ts", "value")
    roll._ingest_batch(batch0, batch_id=0)
    assert served() == twin

    # compact folds everything into one base; served result unchanged
    assert roll.compact() >= 2
    assert served() == twin
    assert roll.compact() == 0  # single base left -> no-op
    import os as _os

    names = _os.listdir(str(tmp_path / "roll" / "partials"))
    assert names == ["base"]
    # new batches after compaction keep merging
    roll._ingest_batch(batch0, batch_id=99)
    after = served()
    assert after[("2024-01-01 00:00:00", 9)] == (1, 99.0, 99.0)


def test_rollup_decimal_avg_exact_at_rounding_boundary(spark, tmp_path):
    """DECIMAL-ingested rollups derive avg via exact integer half-up:
    263 x 294.00 + 293.67 = 77615.67 over 264 events — in exact
    decimal arithmetic the average is EXACTLY 293.99875, a 4-dp tie,
    so half-up gives 293.9988. Rounding through doubles is not
    replayable on exactly this class: the nearest double to the tie is
    293.998749999...; DuckDB's round(double, 4) returns 293.9987 from
    it while Spark's returns 293.9988 (shortest-repr half-up) — the
    engine/oracle divergence the x10 organic probe caught on q104.
    The integer path must return the decimal-arithmetic answer and
    agree with the same formula evaluated exactly in Python."""
    from cdc_makanmana_spark.streaming.rollup import RollupMaintainer

    roll = RollupMaintainer(
        spark, str(tmp_path / "rd"), window="1 hour", keys=[]
    )
    rows = [(f"2024-01-01T00:{i % 60:02d}:00", 294.00) for i in range(263)]
    rows.append(("2024-01-01T00:59:00", 293.67))
    batch = spark.createDataFrame(rows, "ts string, value string").selectExpr(
        "ts::timestamp AS ts", "CAST(value AS DECIMAL(18,6)) AS value"
    )
    roll._ingest_batch(batch, batch_id=0)
    got = roll.serve().collect()
    assert len(got) == 1
    r = got[0]
    assert r.n_events == 264
    assert r.total_value == 77615.67
    # exact half-up of the decimal tie, replayed in Python integers:
    # m = sum * 10^6, half-up(m / (100 n)) = (2m + 100n) // (200n)
    m, n = 77615670000, 264
    expected = ((2 * m + 100 * n) // (200 * n)) / 10_000
    assert expected == 293.9988
    assert r.avg_value == expected


def test_rollup_decimal_negative_and_total_ties_half_up(spark, tmp_path):
    """Sign-aware half-up: a NEGATIVE decimal sum at a 4-dp tie must
    round AWAY FROM ZERO (both engines' round() semantics) — the naive
    (2m + d) div 2d formula silently rounds a negative tie toward
    +inf because Spark's `div` truncates; and total_value (scale 6 >
    round_dp 4) must take the same exact integer path as avg_value,
    not round-through-double. Mirror of the r7 x10-probe bug class,
    extended per the r7 advice."""
    from cdc_makanmana_spark.streaming.rollup import RollupMaintainer

    roll = RollupMaintainer(
        spark, str(tmp_path / "rneg"), window="1 hour", keys=[]
    )
    # one row: sum = -7.000050 exactly (a 4-dp tie at scale 6).
    # total half-up away from zero -> -7.0001; avg over n=1 likewise.
    batch = spark.createDataFrame(
        [("2024-01-01T00:00:00", "-7.00005")], "ts string, value string"
    ).selectExpr("ts::timestamp AS ts", "CAST(value AS DECIMAL(18,6)) AS value")
    roll._ingest_batch(batch, batch_id=0)
    r = roll.serve().collect()[0]
    assert r.total_value == -7.0001
    assert r.avg_value == -7.0001
    # positive twin of the same tie, total path (263x294.00 + 293.67
    # has scale-6 sum 77615.670000 — NOT a total tie; force one):
    roll2 = RollupMaintainer(
        spark, str(tmp_path / "rpos"), window="1 hour", keys=[]
    )
    batch2 = spark.createDataFrame(
        [("2024-01-01T00:00:00", "7.00005")], "ts string, value string"
    ).selectExpr("ts::timestamp AS ts", "CAST(value AS DECIMAL(18,6)) AS value")
    roll2._ingest_batch(batch2, batch_id=0)
    r2 = roll2.serve().collect()[0]
    assert r2.total_value == 7.0001
    assert r2.avg_value == 7.0001


def test_rollup_compact_crash_heals_without_double_count(spark, tmp_path):
    """Crash after committing compact staging but BEFORE deleting the
    folded inputs: healing must delete the manifest-listed inputs and
    install the staging — never serve input + staging together."""
    import shutil

    from cdc_makanmana_spark import fs
    from cdc_makanmana_spark.streaming.rollup import _MANIFEST, _STAGING, RollupMaintainer

    roll = RollupMaintainer(spark, str(tmp_path / "r2"), window="1 hour", keys=[])
    mk = lambda k, ts, v: spark.createDataFrame(
        [(k, ts, v)], "key long, ts string, value double"
    ).selectExpr("key", "ts::timestamp AS ts", "value")
    roll._ingest_batch(mk(1, "2024-01-01T00:10:00", 10.0), 0)
    roll._ingest_batch(mk(1, "2024-01-01T00:20:00", 20.0), 1)
    root = str(tmp_path / "r2" / "partials")
    # hand-stage the compaction result, as if the process died after
    # mark_committed but before any input deletion
    staging = f"{root}/{_STAGING}"
    merged = spark.read.parquet(f"{root}/b0", f"{root}/b1").groupBy(
        "window_start"
    ).agg(F.sum("n_events").alias("n_events"), F.sum("sum_value").alias("sum_value"))
    merged.write.mode("overwrite").parquet(staging)
    fs.write_text(spark, f"{staging}/{_MANIFEST}", "b0\nb1")
    fs.mark_committed(spark, staging)

    row = roll.serve().collect()[0]
    assert (row.n_events, row.total_value) == (2, 30.0)  # not 60.0
    import os as _os

    assert sorted(_os.listdir(root)) == ["base"]


def test_rollup_distinct_sketch_merges_across_batches(spark, tmp_path):
    """HLL distinct-count measure: users seen in BOTH batches must not
    double-count (sketch union, not sum); estimates are exact at tiny
    cardinality; compaction preserves the sketch."""
    from cdc_makanmana_spark.streaming.rollup import RollupMaintainer

    roll = RollupMaintainer(
        spark, str(tmp_path / "r3"), window="1 hour", keys=[], distinct_col="key"
    )
    mk = lambda rows: spark.createDataFrame(
        rows, "key long, ts string, value double"
    ).selectExpr("key", "ts::timestamp AS ts", "value")
    # batch 0: users 1,2,3 ; batch 1: users 2,3,4 -> 4 distinct total
    roll._ingest_batch(
        mk([(1, "2024-01-01T00:05:00", 1.0), (2, "2024-01-01T00:06:00", 1.0),
            (3, "2024-01-01T00:07:00", 1.0)]), 0)
    roll._ingest_batch(
        mk([(2, "2024-01-01T00:15:00", 1.0), (3, "2024-01-01T00:16:00", 1.0),
            (4, "2024-01-01T00:17:00", 1.0)]), 1)
    row = roll.serve().collect()[0]
    assert (row.n_events, row.approx_distinct) == (6, 4)
    assert roll.compact() == 2
    row2 = roll.serve().collect()[0]
    assert (row2.n_events, row2.approx_distinct) == (6, 4)


def test_chunking_runs_unchanged_on_a_stream(spark, tmp_path):
    """The corpus prep stages are stateless transforms, so the SAME
    operator body runs in a streaming plan: chunk_documents over a file
    stream produces exactly the batch chunker's rows."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from cdc_makanmana_spark.operators.corpus import chunk_documents

    src = str(tmp_path / "docs_src")
    _land(src, "d1.json", [
        {"doc_id": 1, "text": " ".join(f"w{i}" for i in range(10))},
        {"doc_id": 2, "text": "short one"},
        {"doc_id": 3, "text": None},
    ])
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    stream = spark.readStream.schema(schema).json(src)
    out = chunk_documents(stream, "text", "doc_id", window=4, stride=3)
    q = (
        out.writeStream.format("memory")
        .queryName("chunk_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.doc_id, r.chunk_id): r.chunk_text
        for r in spark.sql("SELECT * FROM chunk_stream").collect()
    }
    batch = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(10))), (2, "short one"), (3, None)],
        schema,
    )
    want = {
        (r.doc_id, r.chunk_id): r.chunk_text
        for r in chunk_documents(batch, "text", "doc_id", 4, 3).collect()
    }
    assert got == want and len(got) >= 4


def test_ordered_part_files_numeric_order_and_loud_failures(tmp_path):
    """Replay order must come from the PARSED writer-partition index:
    lexicographic order happens to match for zero-padded names but a
    naming change must raise, not scramble q105's event-time replay
    (r5 advisor find)."""
    import pytest

    from cdc_makanmana_spark.streaming.replay import ordered_part_files

    d = tmp_path / "stage"
    d.mkdir()
    # deliberately non-padded names: lexicographic would give 1,10,2
    for i in (1, 2, 10):
        (d / f"part-{i}-uuid.parquet").touch()
    (d / "_SUCCESS").touch()  # non-parquet ignored
    assert [int(f.split("-")[1]) for f in ordered_part_files(str(d))] == [1, 2, 10]

    (d / "data-0001.parquet").touch()  # foreign naming scheme
    with pytest.raises(ValueError, match="unrecognized part-file"):
        ordered_part_files(str(d))


def test_replay_stateful_asof_is_batching_independent(spark, tmp_path):
    """q106's determinism argument, pinned as a property: the stateful
    as-of replay must produce the identical answer multiset whether the
    staged files arrive 1 or 8 per micro-batch, and must equal the
    plain batch as-of expectation (latest update at-or-before each
    probe, inclusive ties)."""
    from pyspark.sql import functions as F

    from cdc_makanmana_spark.streaming.replay import (
        replay_stateful_asof,
        stage_ranged_files,
    )

    rows = []
    # two keys, updates at :00/:10/:20, probes interleaved incl. an
    # exact-ts tie and a probe before any update
    for k in ("a", "b"):
        rows += [
            (k, "2024-01-01T00:00:05", "probe", None),      # before any update
            (k, "2024-01-01T00:01:00", "update", 1.0),
            (k, "2024-01-01T00:01:00", "probe", None),      # inclusive tie
            (k, "2024-01-01T00:05:00", "probe", None),
            (k, "2024-01-01T00:10:00", "update", 2.5),
            (k, "2024-01-01T00:30:00", "probe", None),
        ]
    tagged = spark.createDataFrame(
        rows, "key string, ts_s string, kind string, value double"
    ).select("key", F.col("ts_s").cast("timestamp").alias("ts"), "kind", "value")

    def run(mft: int) -> set:
        d = tmp_path / f"mft{mft}"
        stage_ranged_files(spark, tagged, str(d / "stage"), n_files=6)
        replay_stateful_asof(
            spark, str(d / "stage"), str(d / "out"), str(d / "ckpt"),
            max_files_per_trigger=mft,
        )
        return {
            (r.key, str(r.probe_ts), str(r.obs_ts), r.obs_value)
            for r in spark.read.parquet(str(d / "out"))
            .filter(F.col("obs_ts").isNotNull())
            .collect()
        }

    one, many = run(1), run(8)
    assert one == many
    expected_per_key = {
        ("2024-01-01 00:01:00", "2024-01-01 00:01:00", 1.0),
        ("2024-01-01 00:05:00", "2024-01-01 00:01:00", 1.0),
        ("2024-01-01 00:30:00", "2024-01-01 00:10:00", 2.5),
    }
    assert one == {
        (k, p, o, v) for k in ("a", "b") for (p, o, v) in expected_per_key
    }


def test_replay_stream_dedup_emits_each_key_once(spark, tmp_path):
    """q107's contract: with a watermark delay beyond the data span,
    the streaming dedup emits exactly one row per key regardless of
    micro-batch topology — a global DISTINCT."""
    from pyspark.sql import functions as F

    from cdc_makanmana_spark.streaming.replay import (
        replay_stream_dedup,
        stage_ranged_files,
    )

    rows = [
        (i, ["x", "y", "x", "x", "y", "z"][i % 6],
         f"2024-01-01T{i % 24:02d}:00:00")
        for i in range(48)
    ]
    df = spark.createDataFrame(rows, "event_id long, k string, ts_s string").select(
        "event_id", "k", F.col("ts_s").cast("timestamp").alias("ts")
    )
    for mft in (1, 8):
        d = tmp_path / f"mft{mft}"
        stage_ranged_files(spark, df, str(d / "stage"), n_files=6)
        replay_stream_dedup(
            spark, str(d / "stage"), str(d / "out"), str(d / "ckpt"),
            ["k"], watermark_delay="365 days", max_files_per_trigger=mft,
        )
        got = sorted(r.k for r in spark.read.parquet(str(d / "out")).select("k").collect())
        assert got == ["x", "y", "z"]


def test_replay_stream_dedup_rejects_span_exceeding_watermark(spark, tmp_path):
    """q107's span precondition is enforced: staging data whose
    event-time span reaches the watermark delay must raise before the
    stream starts, not silently re-emit evicted duplicates."""
    import pytest
    from pyspark.sql import functions as F

    from cdc_makanmana_spark.streaming.replay import (
        replay_stream_dedup,
        stage_ranged_files,
    )

    df = spark.createDataFrame(
        [(1, "x", "2024-01-01T00:00:00"), (2, "x", "2024-01-05T00:00:00")],
        "event_id long, k string, ts_s string",
    ).select("event_id", "k", F.col("ts_s").cast("timestamp").alias("ts"))
    d = tmp_path / "short"
    stage_ranged_files(spark, df, str(d / "stage"), n_files=2)
    with pytest.raises(ValueError, match="span"):
        replay_stream_dedup(
            spark, str(d / "stage"), str(d / "out"), str(d / "ckpt"),
            ["k"], watermark_delay="2 days",
        )
    with pytest.raises(ValueError, match="must be"):
        replay_stream_dedup(
            spark, str(d / "stage"), str(d / "out"), str(d / "ckpt"),
            ["k"], watermark_delay="1 hour",
        )


def test_writer_lock_guards_foreign_checkpoint(spark, tmp_path):
    """Single-writer contract (r6 judge item): a second stream with a
    DIFFERENT checkpoint targeting the same upsert table must raise
    ForeignWriterError before touching data (the race it prevents —
    interleaved read-merge-overwrite cycles — silently loses upserts);
    the SAME checkpoint resumes normally and takeover=True transfers
    ownership explicitly."""
    from cdc_makanmana_spark.streaming.cdc import ForeignWriterError

    src = str(tmp_path / "src")
    target = str(tmp_path / "target")
    _land(src, "b1.json", [
        {"key": 1, "op": "upsert", "ts": "2024-01-01T00:00:00", "value": 10.0},
    ])
    stream = read_upsert_stream(spark, src, EVENT_SCHEMA)
    q = upsert_to_parquet(stream, target, ["key"], checkpoint_dir=str(tmp_path / "ck1"))
    q.awaitTermination(120)

    # foreign checkpoint: refused before any data is touched
    stream = read_upsert_stream(spark, src, EVENT_SCHEMA)
    with pytest.raises(ForeignWriterError, match="owned by checkpoint"):
        upsert_to_parquet(stream, target, ["key"], checkpoint_dir=str(tmp_path / "ck2"))

    # same checkpoint: normal resume
    _land(src, "b2.json", [
        {"key": 2, "op": "upsert", "ts": "2024-01-01T00:01:00", "value": 20.0},
    ])
    stream = read_upsert_stream(spark, src, EVENT_SCHEMA)
    q = upsert_to_parquet(stream, target, ["key"], checkpoint_dir=str(tmp_path / "ck1"))
    q.awaitTermination(120)
    assert {r.key for r in spark.read.parquet(target).collect()} == {1, 2}

    # explicit ownership transfer: allowed, and the lock moves
    stream = read_upsert_stream(spark, src, EVENT_SCHEMA)
    q = upsert_to_parquet(
        stream, target, ["key"], checkpoint_dir=str(tmp_path / "ck2"), takeover=True
    )
    q.awaitTermination(120)
    stream = read_upsert_stream(spark, src, EVENT_SCHEMA)
    with pytest.raises(ForeignWriterError):
        upsert_to_parquet(stream, target, ["key"], checkpoint_dir=str(tmp_path / "ck1"))


def test_writer_lock_lease_reclaims_crashed_owner_and_fences_zombie(spark, tmp_path):
    """Crash-then-new-writer (r7 judge item): a dead owner's lock
    heartbeat goes stale, so a new writer with a lease policy reclaims
    the target WITHOUT manual takeover; without a lease policy (or
    against a pre-lease lock with no heartbeat) the lock never
    expires. The reclaimed-from owner, if it turns out to be a zombie,
    is fenced at its next micro-batch instead of interleaving."""
    import time as _time

    from cdc_makanmana_spark import fs
    from cdc_makanmana_spark.streaming.cdc import (
        ForeignWriterError,
        _fence_and_heartbeat,
        writer_lock_path,
    )

    src = str(tmp_path / "src")
    target = str(tmp_path / "target")
    _land(src, "b1.json", [
        {"key": 1, "op": "upsert", "ts": "2024-01-01T00:00:00", "value": 10.0},
    ])
    # writer A runs once, then "crashes" (its lock + heartbeat remain)
    stream = read_upsert_stream(spark, src, EVENT_SCHEMA)
    q = upsert_to_parquet(stream, target, ["key"], checkpoint_dir=str(tmp_path / "ckA"))
    q.awaitTermination(120)
    lock = writer_lock_path(target)

    # no lease policy: still refused (pre-lease contract)
    stream = read_upsert_stream(spark, src, EVENT_SCHEMA)
    with pytest.raises(ForeignWriterError, match="never expires"):
        upsert_to_parquet(stream, target, ["key"], checkpoint_dir=str(tmp_path / "ckB"))

    # lease policy but heartbeat still fresh: refused, age reported
    stream = read_upsert_stream(spark, src, EVENT_SCHEMA)
    with pytest.raises(ForeignWriterError, match="not yet stale"):
        upsert_to_parquet(
            stream, target, ["key"],
            checkpoint_dir=str(tmp_path / "ckB"), lease_timeout_s=3600,
        )

    # heartbeat older than the lease: writer B reclaims and runs
    _time.sleep(1.1)
    _land(src, "b2.json", [
        {"key": 2, "op": "upsert", "ts": "2024-01-01T00:01:00", "value": 20.0},
    ])
    stream = read_upsert_stream(spark, src, EVENT_SCHEMA)
    q = upsert_to_parquet(
        stream, target, ["key"],
        checkpoint_dir=str(tmp_path / "ckB"), lease_timeout_s=1.0,
    )
    q.awaitTermination(120)
    assert {r.key for r in spark.read.parquet(target).collect()} == {1, 2}

    # zombie A wakes up mid-stream: its per-batch fence sees the lock
    # now naming B and dies loudly instead of clobbering
    with pytest.raises(ForeignWriterError, match="writer fenced"):
        _fence_and_heartbeat(spark, lock, str(tmp_path / "ckA"), target)

    # pre-lease lock format (no heartbeat line): never stale, even
    # under an aggressive lease policy
    fs.write_text(spark, lock, str(tmp_path / "ckOld"))
    _time.sleep(0.1)
    stream = read_upsert_stream(spark, src, EVENT_SCHEMA)
    with pytest.raises(ForeignWriterError, match="owned by checkpoint"):
        upsert_to_parquet(
            stream, target, ["key"],
            checkpoint_dir=str(tmp_path / "ckB"), lease_timeout_s=0.01,
        )
