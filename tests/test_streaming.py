"""Structured Streaming semantics tests (SURVEY.md §2.9): watermarked hourly
aggregation with late-data drop, schema-enforced JSON incremental ingest,
stateful dedup, and foreachBatch CDC upsert."""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F

from zeta_etl_spark.sinks.delta_log import read_delta
from zeta_etl_spark.sources.json_source import read_json
from zeta_etl_spark.streaming.runner import (
    dedup_stream,
    foreach_batch_upsert,
    hourly_agg_stream,
    read_upsert_table,
    run_available_now,
)

SCHEMA = "user string, ts timestamp, amount double"


def _write_json(path, rows, name):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, name), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_watermark_hourly_agg_drops_late_rows(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _write_json(
        src,
        [
            {"user": "a", "ts": "2024-01-01 00:10:00", "amount": 1.0},
            {"user": "a", "ts": "2024-01-01 01:20:00", "amount": 2.0},
            {"user": "b", "ts": "2024-01-01 02:30:00", "amount": 3.0},
        ],
        "batch1.json",
    )

    def agg():
        stream = read_json(spark, src, SCHEMA, streaming=True)
        return hourly_agg_stream(
            stream,
            "ts",
            keys=[F.col("user")],
            aggs=[F.count(F.lit(1)).alias("n"), F.sum("amount").alias("total")],
            watermark="5 minutes",
        )

    run_available_now(agg(), out, ckpt)
    first = spark.read.parquet(out)
    # watermark at 02:25 → hours 00 and 01 finalized, hour 02 still open
    assert sorted(
        r["hour_ts"].strftime("%H") for r in first.select("hour_ts").collect()
    ) == ["00", "01"]

    # second increment: one late row (hour 00, far below watermark — dropped)
    # and one new row advancing the watermark past hour 02
    _write_json(
        src,
        [
            {"user": "a", "ts": "2024-01-01 00:15:00", "amount": 100.0},
            {"user": "b", "ts": "2024-01-01 03:30:00", "amount": 4.0},
        ],
        "batch2.json",
    )
    run_available_now(agg(), out, ckpt)
    final = spark.read.parquet(out)
    rows = {
        (r["hour_ts"].strftime("%H"), r["user"]): (r["n"], r["total"])
        for r in final.collect()
    }
    # hour 02 emitted with the on-time row only; the late hour-00 row was
    # dropped (no second hour-00 output, total unchanged)
    assert rows[("02", "b")] == (1, 3.0)
    assert rows[("00", "a")] == (1, 1.0)
    assert ("03", "b") not in rows  # still open, not finalized


def test_json_schema_enforcement(spark, tmp_path):
    src = str(tmp_path / "src2")
    _write_json(
        src,
        [
            {"user": "a", "ts": "2024-01-01 00:10:00", "amount": 1.5},
            {"user": "bad", "ts": "not-a-timestamp", "amount": "x"},
        ],
        "data.json",
    )
    df = read_json(spark, src, SCHEMA, corrupt_record_col="_rescued")
    rows = df.collect()
    good = [r for r in rows if r["_rescued"] is None]
    bad = [r for r in rows if r["_rescued"] is not None]
    assert len(good) == 1 and good[0]["amount"] == 1.5
    assert len(bad) == 1 and bad[0]["ts"] is None


def test_stateful_dedup_stream(spark, tmp_path):
    src = str(tmp_path / "src3")
    out = str(tmp_path / "out3")
    ckpt = str(tmp_path / "ckpt3")
    _write_json(
        src,
        [
            {"user": "a", "ts": "2024-01-01 00:10:00", "amount": 1.0},
            {"user": "a", "ts": "2024-01-01 00:10:00", "amount": 1.0},
            {"user": "b", "ts": "2024-01-01 00:12:00", "amount": 2.0},
        ],
        "d1.json",
    )
    stream = read_json(spark, src, SCHEMA, streaming=True)
    deduped = dedup_stream(stream, keys=["user", "ts"], ts_col="ts")
    run_available_now(deduped, out, ckpt)
    assert spark.read.parquet(out).count() == 2


def test_foreach_batch_cdc_upsert(spark, tmp_path):
    src = str(tmp_path / "src4")
    target = str(tmp_path / "target4")
    ckpt = str(tmp_path / "ckpt4")
    snap = "entity string, val double, indexed_timestamp timestamp"
    _write_json(
        src,
        [
            {"entity": "x", "val": 1.0, "indexed_timestamp": "2024-01-01 00:00:00"},
            {"entity": "x", "val": 2.0, "indexed_timestamp": "2024-01-01 01:00:00"},
            {"entity": "y", "val": 9.0, "indexed_timestamp": "2024-01-01 00:30:00"},
        ],
        "s1.json",
    )
    stream = read_json(spark, src, snap, streaming=True)
    foreach_batch_upsert(
        stream, target, ckpt, keys=["entity"], sequence_by=["indexed_timestamp"],
        spark=spark,
    )
    t1 = {r["entity"]: r["val"] for r in read_upsert_table(spark, target).collect()}
    assert t1 == {"x": 2.0, "y": 9.0}

    # second snapshot batch: x updated, z inserted
    _write_json(
        src,
        [
            {"entity": "x", "val": 5.0, "indexed_timestamp": "2024-01-01 02:00:00"},
            {"entity": "z", "val": 7.0, "indexed_timestamp": "2024-01-01 02:00:00"},
        ],
        "s2.json",
    )
    stream = read_json(spark, src, snap, streaming=True)
    foreach_batch_upsert(
        stream, target, ckpt, keys=["entity"], sequence_by=["indexed_timestamp"],
        spark=spark,
    )
    t2 = {r["entity"]: r["val"] for r in read_upsert_table(spark, target).collect()}
    assert t2 == {"x": 5.0, "y": 9.0, "z": 7.0}


def test_gzipped_json_glob(spark, tmp_path):
    """S2: *.json.gz globs decompress natively (amplitude pipeline shape)."""
    import gzip

    src = str(tmp_path / "gz")
    os.makedirs(src, exist_ok=True)
    rows = [
        {"user": "a", "ts": "2024-01-01 00:10:00", "amount": 1.0},
        {"user": "b", "ts": "2024-01-01 00:20:00", "amount": 2.0},
    ]
    with gzip.open(os.path.join(src, "part1.json.gz"), "wt") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    df = read_json(spark, os.path.join(src, "*.json.gz"), SCHEMA)
    assert df.count() == 2
    assert {r["user"] for r in df.collect()} == {"a", "b"}


def test_append_mode_table(spark, tmp_path):
    """S7: append-save sink accumulates across pipeline runs."""
    from zeta_etl_spark.plans.graph import Pipeline

    base = str(tmp_path / "append_pipe")

    def build(run_id):
        p = Pipeline(f"appender{run_id}", base)

        @p.table(name="log", mode="append")
        def log(pl):
            return spark.range(3).withColumn("run_id", F.lit(run_id))

        return p

    build(1).run(spark, targets=["log"])
    build(2).run(spark, targets=["log"])
    df = spark.read.parquet(os.path.join(base, "log"))
    assert df.count() == 6
    assert df.select("run_id").distinct().count() == 2


def test_stateful_sessionizer(spark, tmp_path):
    """applyInPandasWithState: sessions close via event-time timeout across
    incremental runs (custom stateful operator path)."""
    from zeta_etl_spark.streaming.stateful import sessionize_stream

    src = str(tmp_path / "sess_src")
    out = str(tmp_path / "sess_out")
    ckpt = str(tmp_path / "sess_ckpt")
    _write_json(
        src,
        [
            {"user": "a", "ts": "2024-01-01 00:00:00", "amount": 1.0},
            {"user": "a", "ts": "2024-01-01 00:10:00", "amount": 2.0},
            # >30 min gap → closes session 1 within the same batch
            {"user": "a", "ts": "2024-01-01 01:00:00", "amount": 4.0},
        ],
        "s1.json",
    )

    def run():
        stream = read_json(spark, src, SCHEMA, streaming=True)
        sessions = sessionize_stream(stream, gap_seconds=1800, watermark="1 minute")
        run_available_now(sessions, out, ckpt)

    run()
    first = spark.read.parquet(out).collect()
    assert len(first) == 1
    assert first[0]["n_events"] == 2 and first[0]["total"] == 3.0

    # watermark far beyond 01:00 + gap → the open session times out and emits
    _write_json(
        src,
        [{"user": "b", "ts": "2024-01-01 05:00:00", "amount": 9.0}],
        "s2.json",
    )
    run()
    rows = {(r["user"], r["n_events"]): r for r in spark.read.parquet(out).collect()}
    assert (("a", 1)) in rows  # timed-out single-event session at 01:00
    assert rows[("a", 1)]["total"] == 4.0


def test_stream_stream_interval_join(spark, tmp_path):
    """T4+: stream-stream INNER join with watermarks and an event-time
    interval condition — impressions joined to clicks within 10 minutes
    (the canonical Structured Streaming two-stream shape; state on both
    sides is bounded by the watermark + time-range)."""
    imp_rows = [
        {"ad_id": "a1", "ts": "2024-03-01T10:00:00", "amount": 1.0},
        {"ad_id": "a2", "ts": "2024-03-01T10:05:00", "amount": 1.0},
        {"ad_id": "a3", "ts": "2024-03-01T10:10:00", "amount": 1.0},
    ]
    clk_rows = [
        {"user": "a1", "ts": "2024-03-01T10:04:00", "amount": 0.5},  # +4m ✓
        {"user": "a2", "ts": "2024-03-01T10:30:00", "amount": 0.5},  # +25m ✗
        # a3 never clicked ✗ (inner join)
    ]
    imp_dir, clk_dir = str(tmp_path / "imp"), str(tmp_path / "clk")
    _write_json(imp_dir, imp_rows, "i.json")
    _write_json(clk_dir, clk_rows, "c.json")

    imps = (
        read_json(spark, imp_dir, "ad_id string, ts timestamp, amount double",
                  streaming=True)
        .withColumnRenamed("ts", "imp_ts")
        .withWatermark("imp_ts", "1 hour")
    )
    clks = (
        read_json(spark, clk_dir, "user string, ts timestamp, amount double",
                  streaming=True)
        .select(F.col("user").alias("c_ad_id"), F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "1 hour")
    )
    joined = imps.join(
        clks,
        F.expr(
            "ad_id = c_ad_id AND click_ts >= imp_ts "
            "AND click_ts <= imp_ts + interval 10 minutes"
        ),
    ).select("ad_id", "imp_ts", "click_ts")

    out = str(tmp_path / "out")
    run_available_now(joined, out, str(tmp_path / "ck"))
    rows = spark.read.parquet(out).collect()
    assert [(r["ad_id"]) for r in rows] == ["a1"]


def test_streaming_session_window(spark, tmp_path):
    """T10 native form: F.session_window in a STREAMING groupBy with
    watermark — the same expression the batch query uses (SURVEY §4
    batch/streaming unification)."""
    rows = [
        {"user": "u1", "ts": "2024-03-01T10:00:00", "amount": 1.0},
        {"user": "u1", "ts": "2024-03-01T10:10:00", "amount": 2.0},  # same session
        {"user": "u1", "ts": "2024-03-01T12:00:00", "amount": 4.0},  # new session
        {"user": "u2", "ts": "2024-03-01T10:05:00", "amount": 8.0},
    ]
    src = str(tmp_path / "sw_src")
    _write_json(src, rows, "a.json")
    stream = read_json(spark, src, SCHEMA, streaming=True)
    sessions = (
        stream.withWatermark("ts", "1 hour")
        .groupBy("user", F.session_window("ts", "30 minutes").alias("_w"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("amount").alias("total"))
        .select("user", F.col("_w.start").alias("start"), "n", "total")
    )
    out = str(tmp_path / "sw_out")
    run_available_now(sessions, out, str(tmp_path / "sw_ck"))
    got = {(r["user"], r["start"].minute): (r["n"], r["total"])
           for r in spark.read.parquet(out).collect()}
    assert got[("u1", 0)] == (2, 3.0)   # 10:00+10:10 merged
    assert got[("u2", 5)] == (1, 8.0)
    # the 12:00 session's end (12:30) is NEWER than the watermark
    # (max event 12:00 - 1h = 11:00), so append mode correctly HOLDS it in
    # state rather than emitting a possibly-unfinished session
    assert len(got) == 2


def test_two_level_streaming_agg_matches_batch(spark, tmp_path):
    """VERDICT r2 next-4: agg-on-agg chain via foreachBatch.  Hourly per-user
    sums (level 1, watermarked streaming) re-aggregated to per-user totals
    across hours (level 2) must equal the same two aggregations computed in
    pure batch over the NON-LATE rows, across incremental runs."""
    from zeta_etl_spark.streaming.runner import foreach_batch_two_level_agg

    src = str(tmp_path / "src")
    out = str(tmp_path / "l2")
    ckpt = str(tmp_path / "ckpt")

    def second_level(l1):
        return l1.groupBy("user").agg(
            F.sum("total").alias("grand_total"),
            F.count(F.lit(1)).alias("n_hours"),
            F.sum("n").alias("n_events"),
        )

    def run():
        stream = read_json(spark, src, SCHEMA, streaming=True)
        first = hourly_agg_stream(
            stream,
            "ts",
            keys=[F.col("user")],
            aggs=[F.count(F.lit(1)).alias("n"), F.sum("amount").alias("total")],
            watermark="5 minutes",
        )
        foreach_batch_two_level_agg(
            first, ["hour_ts", "user"], out, ckpt, second_level, spark
        )

    _write_json(
        src,
        [
            {"user": "a", "ts": "2024-01-01 00:10:00", "amount": 1.0},
            {"user": "a", "ts": "2024-01-01 01:20:00", "amount": 2.0},
            {"user": "b", "ts": "2024-01-01 02:30:00", "amount": 3.0},
        ],
        "batch1.json",
    )
    run()
    l2 = {r["user"]: r for r in read_delta(spark, out).collect()}
    # watermark at 02:25 → only hours 00/01 closed; b's hour-02 row pending
    assert l2["a"]["grand_total"] == 3.0 and l2["a"]["n_hours"] == 2
    assert "b" not in l2

    # increment: a LATE hour-00 row (dropped at level 1 → must not reach
    # level 2) plus an hour-03 row closing hour 02
    _write_json(
        src,
        [
            {"user": "a", "ts": "2024-01-01 00:15:00", "amount": 100.0},
            {"user": "b", "ts": "2024-01-01 03:30:00", "amount": 4.0},
        ],
        "batch2.json",
    )
    run()
    l2 = {r["user"]: r for r in read_delta(spark, out).collect()}
    assert l2["a"]["grand_total"] == 3.0  # late 100.0 excluded end-to-end
    assert l2["b"]["grand_total"] == 3.0 and l2["b"]["n_hours"] == 1

    # batch twin over the same non-late rows == streaming result
    batch = (
        read_json(spark, src, SCHEMA)
        .filter(~((F.col("user") == "a") & (F.col("amount") == 100.0)))
        .filter(F.col("ts") < "2024-01-01 03:00:00")  # hour 03 still open
        .groupBy(F.date_trunc("hour", "ts").alias("hour_ts"), "user")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("amount").alias("total"))
    )
    batch_l2 = {r["user"]: r for r in second_level(batch).collect()}
    for u in batch_l2:
        assert l2[u]["grand_total"] == batch_l2[u]["grand_total"]
        assert l2[u]["n_hours"] == batch_l2[u]["n_hours"]
        assert l2[u]["n_events"] == batch_l2[u]["n_events"]

    # idempotence: re-running with no new input leaves level 2 unchanged
    run()
    again = {r["user"]: r for r in read_delta(spark, out).collect()}
    assert again.keys() == l2.keys()
    assert all(again[u]["grand_total"] == l2[u]["grand_total"] for u in again)


def test_foreach_batch_incremental_dedup(spark, tmp_path, sf_dir):
    """Streaming incremental near-dup dedup: wave 2 joins only against the
    durable signature store (never corpus×corpus), its pairs all touch wave-2
    docs, and the union across waves equals the from-scratch batch recompute
    over all documents."""
    from zeta_etl_spark.queries.registry import T
    from zeta_etl_spark.streaming.runner import foreach_batch_incremental_dedup

    docs = T(spark, sf_dir, "documents").select("doc_id", "text")
    wave1 = [r.asDict() for r in docs.filter("doc_id % 10 >= 2").collect()]
    wave2 = [r.asDict() for r in docs.filter("doc_id % 10 < 2").collect()]
    src = str(tmp_path / "dedup_src")
    store = str(tmp_path / "dedup_store")
    ckpt = str(tmp_path / "dedup_ckpt")
    schema = "doc_id bigint, text string"

    _write_json(src, wave1, "wave1.json")
    stream = read_json(spark, src, schema, streaming=True)
    foreach_batch_incremental_dedup(stream, store, ckpt, spark)
    p1 = spark.read.parquet(store + "/pairs")
    assert {r["batch"] for r in p1.select("batch").distinct().collect()} == {0}

    _write_json(src, wave2, "wave2.json")
    stream = read_json(spark, src, schema, streaming=True)
    foreach_batch_incremental_dedup(stream, store, ckpt, spark)
    pall = spark.read.parquet(store + "/pairs")
    p2 = pall.filter("batch > 0").drop("batch")

    # every wave-2-era pair touches a wave-2 doc: corpus×corpus not re-emitted
    assert p2.filter("doc_a % 10 >= 2 AND doc_b % 10 >= 2").count() == 0
    w1_pairs = pall.filter("batch = 0")
    assert w1_pairs.filter(
        "doc_a % 10 < 2 OR doc_b % 10 < 2"
    ).count() == 0  # wave-1 pairs are wave-1-only (sanity)

    # union over waves == from-scratch recompute over the full corpus
    from zeta_etl_spark.operators.dedup import (
        jaccard_verify,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    sigs = minhash_signatures(docs).cache()
    full = jaccard_verify(lsh_candidate_pairs(sigs), docs)
    got = pall.drop("batch")
    assert got.exceptAll(full).count() == 0
    assert full.exceptAll(got).count() == 0

    # the signature store now covers every doc exactly once
    sig_store = spark.read.parquet(store + "/sigs")
    assert sig_store.count() == docs.count()
    assert sig_store.select("doc_id").distinct().count() == docs.count()


def test_incremental_dedup_state_bounded_by_novelty(spark, tmp_path, sf_dir):
    """VERDICT r6 next-6: drive the streaming incremental dedup sink over
    5 batches with heavy re-delivery and account state per batch.  The
    durable store must grow with NOVEL docs only — a batch of 100%
    re-deliveries writes zero state rows — and the emitted pair set must
    still equal the from-scratch recompute over the distinct corpus."""
    from zeta_etl_spark.queries.registry import T
    from zeta_etl_spark.sources.json_source import read_json
    from zeta_etl_spark.streaming.runner import foreach_batch_incremental_dedup

    docs = T(spark, sf_dir, "documents").select("doc_id", "text")
    by_mod = {
        m: [r.asDict() for r in docs.filter(f"doc_id % 10 = {m}").collect()]
        for m in range(10)
    }
    waves = [
        sum((by_mod[m] for m in (0, 1, 2, 3, 4)), []),   # b0: 50% novel
        sum((by_mod[m] for m in (3, 4, 5, 6)), []),      # b1: 3,4 redelivered
        sum((by_mod[m] for m in (0, 1, 2, 3, 4)), []),   # b2: PURE redelivery
        sum((by_mod[m] for m in (6, 7, 8)), []),         # b3: 6 redelivered
        sum((by_mod[m] for m in tuple(range(10))), []),  # b4: only 9 novel
    ]
    novel_mods = [(0, 1, 2, 3, 4), (5, 6), (), (7, 8), (9,)]

    src = str(tmp_path / "nv_src")
    store = str(tmp_path / "nv_store")
    ckpt = str(tmp_path / "nv_ckpt")
    schema = "doc_id bigint, text string"
    for i, wave in enumerate(waves):
        _write_json(src, wave, f"wave{i}.json")
        stream = read_json(spark, src, schema, streaming=True)
        foreach_batch_incremental_dedup(stream, store, ckpt, spark)

    sigs = spark.read.parquet(store + "/sigs")
    docs_store = spark.read.parquet(store + "/docs")
    # total state == distinct corpus, despite 2.4x delivery volume
    n_docs = docs.count()
    assert sum(len(w) for w in waves) > 2 * n_docs  # the test is honest
    for state in (sigs, docs_store):
        assert state.count() == n_docs
        assert state.select("doc_id").distinct().count() == n_docs
    # per-batch state rows == that batch's NOVEL docs; the pure-redelivery
    # batch contributes no partition at all
    per_batch = {
        r["batch"]: r["n"]
        for r in sigs.groupBy("batch").agg(F.count("*").alias("n")).collect()
    }
    expected = {
        i: sum(len(by_mod[m]) for m in mods)
        for i, mods in enumerate(novel_mods)
        if mods
    }
    assert per_batch == expected
    assert 2 not in per_batch

    # pair completeness: union across batches == from-scratch recompute
    from zeta_etl_spark.operators.dedup import (
        jaccard_verify,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    full_sigs = minhash_signatures(docs).cache()
    full = jaccard_verify(lsh_candidate_pairs(full_sigs), docs)
    got = spark.read.parquet(store + "/pairs").drop("batch")
    assert got.exceptAll(full).count() == 0
    assert full.exceptAll(got).count() == 0


def test_streaming_hopping_window(spark, tmp_path):
    """Hopping-window streaming agg: each event lands in exactly
    window/slide panes; late rows behind the watermark are dropped; pane
    counts match the batch hopping computation."""
    from zeta_etl_spark.sources.json_source import read_json
    from zeta_etl_spark.streaming.runner import hopping_agg_stream, run_available_now

    src = str(tmp_path / "hop_src")
    out = str(tmp_path / "hop_out")
    ckpt = str(tmp_path / "hop_ckpt")
    schema = "user string, ts timestamp, amount double"
    _write_json(
        src,
        [
            {"user": "a", "ts": "2024-01-01 00:10:00", "amount": 1.0},
            {"user": "a", "ts": "2024-01-01 00:40:00", "amount": 2.0},
            {"user": "b", "ts": "2024-01-01 01:05:00", "amount": 5.0},
            # closes all 00:xx panes (watermark = max ts - 5 min)
            {"user": "a", "ts": "2024-01-01 03:00:00", "amount": 0.5},
        ],
        "h1.json",
    )
    stream = read_json(spark, src, schema, streaming=True)
    agg = hopping_agg_stream(
        stream,
        "ts",
        ["user"],
        [F.count(F.lit(1)).alias("n"), F.sum("amount").alias("total")],
    )
    run_available_now(agg, out, ckpt)
    rows = {
        (r["user"], str(r["win_start"])): (r["n"], r["total"])
        for r in spark.read.parquet(out).collect()
    }
    # 00:10 event -> panes [23:30,00:30) and [00:00,01:00);
    # 00:40 -> [00:00,01:00) and [00:30,01:30)
    assert rows[("a", "2023-12-31 23:30:00")] == (1, 1.0)
    assert rows[("a", "2024-01-01 00:00:00")] == (2, 3.0)
    assert rows[("a", "2024-01-01 00:30:00")] == (1, 2.0)
    assert rows[("b", "2024-01-01 01:00:00")] == (1, 5.0)

    # a late row far behind the watermark is dropped from closed panes
    _write_json(
        src,
        [{"user": "a", "ts": "2024-01-01 00:11:00", "amount": 100.0}],
        "h2.json",
    )
    stream = read_json(spark, src, schema, streaming=True)
    agg = hopping_agg_stream(
        stream,
        "ts",
        ["user"],
        [F.count(F.lit(1)).alias("n"), F.sum("amount").alias("total")],
    )
    run_available_now(agg, out, ckpt)
    rows2 = {
        (r["user"], str(r["win_start"])): (r["n"], r["total"])
        for r in spark.read.parquet(out).collect()
    }
    assert rows2[("a", "2024-01-01 00:00:00")] == (2, 3.0)  # unchanged


def test_incremental_dedup_replay_is_idempotent(spark, tmp_path, sf_dir):
    """Crash-replay safety: re-processing an already-committed microbatch
    (simulated by wiping the stream checkpoint and re-running over the same
    source files) rewrites the same batch-partitioned directories and leaves
    the store bit-identical — no duplicate pairs, signatures or docs."""
    from zeta_etl_spark.queries.registry import T
    from zeta_etl_spark.streaming.runner import foreach_batch_incremental_dedup

    docs = T(spark, sf_dir, "documents").select("doc_id", "text")
    wave = [r.asDict() for r in docs.filter("doc_id % 10 >= 2").collect()]
    src = str(tmp_path / "rp_src")
    store = str(tmp_path / "rp_store")
    ckpt = str(tmp_path / "rp_ckpt")
    schema = "doc_id bigint, text string"

    _write_json(src, wave, "w1.json")
    stream = read_json(spark, src, schema, streaming=True)
    foreach_batch_incremental_dedup(stream, store, ckpt, spark)

    def snapshot():
        out = {}
        for sub in ["docs", "sigs", "pairs"]:
            df = spark.read.parquet(f"{store}/{sub}")
            out[sub] = sorted(
                tuple(str(v) for v in r) for r in df.collect()
            )
        return out

    before = snapshot()

    # simulate a crash after the data writes but before the checkpoint
    # commit: wipe the checkpoint so the SAME files replay as batch 0 again
    import shutil

    shutil.rmtree(ckpt)
    stream = read_json(spark, src, schema, streaming=True)
    foreach_batch_incremental_dedup(stream, store, ckpt, spark)

    assert snapshot() == before


def _protobuf_available() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(
    not _protobuf_available(),
    reason="transformWithStateInPandas needs google.protobuf (TWS state "
    "server wire format), absent in this container - env-gated like Delta",
)
def test_tws_sessionizer_matches_legacy(spark, tmp_path):
    """transformWithStateInPandas sessionizer (typed value state + explicit
    event-time timers) produces exactly the applyInPandasWithState
    operator's sessions on the same two-increment input."""
    from zeta_etl_spark.streaming.stateful import (
        sessionize_stream,
        sessionize_stream_tws,
    )

    rows1 = [
        {"user": "a", "ts": "2024-01-01 00:00:00", "amount": 1.0},
        {"user": "a", "ts": "2024-01-01 00:10:00", "amount": 2.0},
        {"user": "a", "ts": "2024-01-01 01:00:00", "amount": 4.0},
        {"user": "b", "ts": "2024-01-01 00:05:00", "amount": 7.0},
    ]
    rows2 = [
        # advances the watermark far past every open session for both users
        {"user": "a", "ts": "2024-01-01 06:00:00", "amount": 0.25},
        {"user": "b", "ts": "2024-01-01 06:00:00", "amount": 0.25},
    ]

    def drive(builder, tag):
        src = str(tmp_path / f"{tag}_src")
        out = str(tmp_path / f"{tag}_out")
        ckpt = str(tmp_path / f"{tag}_ckpt")
        _write_json(src, rows1, "w1.json")
        stream = read_json(spark, src, SCHEMA, streaming=True)
        run_available_now(builder(stream), out, ckpt)
        _write_json(src, rows2, "w2.json")
        stream = read_json(spark, src, SCHEMA, streaming=True)
        run_available_now(builder(stream), out, ckpt)
        return sorted(
            (
                r["user"],
                str(r["session_start"]),
                str(r["session_end"]),
                r["n_events"],
                r["total"],
            )
            for r in spark.read.parquet(out).collect()
        )

    legacy = drive(sessionize_stream, "legacy")
    tws = drive(sessionize_stream_tws, "tws")
    assert tws == legacy
    assert len(legacy) >= 3  # a's two sessions + b's session all closed


def test_foreach_batch_upsert_with_deletes(spark, tmp_path):
    """Streaming apply_as_deletes: delete markers remove keys from what
    read_upsert_table returns but persist as tombstones in the Delta state
    table, so a LATE-arriving row older than the delete cannot resurrect
    the key, while a genuinely newer upsert can."""
    src = str(tmp_path / "del_src")
    target = str(tmp_path / "del_target")
    ckpt = str(tmp_path / "del_ckpt")
    snap = "entity string, val double, seq bigint, op string"

    def drive():
        stream = read_json(spark, src, snap, streaming=True)
        foreach_batch_upsert(
            stream, target, ckpt, keys=["entity"], sequence_by=["seq"],
            spark=spark, apply_as_deletes="op = 'delete'",
        )
        return {
            r["entity"]: r["val"]
            for r in read_upsert_table(
                spark, target, "op = 'delete'"
            ).collect()
        }

    _write_json(
        src,
        [
            {"entity": "x", "val": 1.0, "seq": 1, "op": "upsert"},
            {"entity": "x", "val": 0.0, "seq": 5, "op": "delete"},
            {"entity": "y", "val": 9.0, "seq": 1, "op": "upsert"},
        ],
        "d1.json",
    )
    assert drive() == {"y": 9.0}  # x deleted from the reader surface

    # late row OLDER than x's tombstone: must NOT resurrect x;
    # newer upsert for y updates normally
    _write_json(
        src,
        [
            {"entity": "x", "val": 3.0, "seq": 3, "op": "upsert"},
            {"entity": "y", "val": 11.0, "seq": 2, "op": "upsert"},
        ],
        "d2.json",
    )
    assert drive() == {"y": 11.0}

    # genuinely newer upsert resurrects x
    _write_json(
        src,
        [{"entity": "x", "val": 8.0, "seq": 9, "op": "upsert"}],
        "d3.json",
    )
    assert drive() == {"x": 8.0, "y": 11.0}


def test_tombstone_contract(spark, tmp_path):
    """The upsert sink's table KEEPS a tombstone (late rows must not
    resurrect the key); read_upsert_table filters it at the read surface,
    with NULL predicates counted as kept."""
    src = str(tmp_path / "ts_src")
    target = str(tmp_path / "ts_store")
    ckpt = str(tmp_path / "ts_ckpt")
    schema = "k string, ts timestamp, v double, deleted boolean"
    waves = [
        [
            {"k": "a", "ts": "2024-01-01 00:00:00", "v": 1.0, "deleted": False},
            {"k": "b", "ts": "2024-01-01 00:00:00", "v": 2.0, "deleted": False},
        ],
        [
            {"k": "a", "ts": "2024-01-02 00:00:00", "v": 10.0, "deleted": False},
            {"k": "c", "ts": "2024-01-02 00:00:00", "v": 3.0, "deleted": None},
            {"k": "b", "ts": "2024-01-02 00:00:00", "v": 0.0, "deleted": True},
        ],
    ]
    for i, wave in enumerate(waves):
        _write_json(src, wave, f"w{i}.json")
        foreach_batch_upsert(
            read_json(spark, src, schema, streaming=True), target, ckpt,
            keys=["k"], sequence_by=["ts"], spark=spark,
            apply_as_deletes="deleted",
        )
    raw = {r["k"]: r["deleted"] for r in read_delta(spark, target).collect()}
    assert raw == {"a": False, "b": True, "c": None}
    filtered = {
        r["k"]: r["v"]
        for r in read_upsert_table(spark, target, "deleted").collect()
    }
    assert filtered == {"a": 10.0, "c": 3.0}
    assert read_upsert_table(spark, target).count() == 3


def test_streaming_hll_sketch_maintenance_via_upsert(spark, tmp_path, sf_dir):
    """Streaming sketch maintenance is a pure composition of existing
    operators: map each event to its (register, rank) pair in the stream
    and run foreach_batch_upsert with keys=register, sequence_by=rank —
    latest-wins per register over raw pair rows IS the cell-wise MAX merge
    for monotone ranks.  After two waves the durable store equals the
    batch-computed HLL registers over all events."""
    from zeta_etl_spark.functions.text import spark_hex2long
    from zeta_etl_spark.queries.analytics_q import _HLL_M
    from zeta_etl_spark.queries.registry import T

    ev = T(spark, sf_dir, "events").select("user_id")
    # collect ONCE and split the list: un-ordered limit() evaluated twice
    # can pick different rows per plan run (review finding), leaving rows
    # in neither wave
    all_rows = [r.asDict() for r in ev.collect()]
    waves = [all_rows[: len(all_rows) // 2], all_rows[len(all_rows) // 2 :]]
    src = str(tmp_path / "hll_src")
    target = str(tmp_path / "hll_store")
    ckpt = str(tmp_path / "hll_ckpt")

    h = spark_hex2long("concat('hll:', cast(user_id as string))", digits=15)
    rank = (
        f"cast(if(({h}) div {_HLL_M} = 0, 53, "
        f"53 - length(bin(({h}) div {_HLL_M}))) as bigint)"
    )

    for i, wave in enumerate(waves):
        _write_json(src, wave, f"w{i}.json")
        stream = read_json(spark, src, "user_id bigint", streaming=True)
        pairs = stream.select(
            F.expr(f"cast(({h}) % {_HLL_M} as bigint)").alias("register"),
            F.expr(rank).alias("max_rank"),
        )
        foreach_batch_upsert(
            pairs, target, ckpt,
            keys=["register"], sequence_by=["max_rank"], spark=spark,
        )

    got = {
        r["register"]: r["max_rank"]
        for r in read_upsert_table(spark, target).collect()
    }
    from zeta_etl_spark.queries import REGISTRY

    want = {
        r["register"]: r["max_rank"]
        for r in REGISTRY["hll_registers"].fn(spark, sf_dir).collect()
    }
    assert got == want


def test_foreach_batch_topk_leaderboard(spark, tmp_path):
    """Incremental top-k maintenance: the durable leaderboard equals the
    batch top-k over everything ever delivered (max score per item wins),
    state stays bounded by groups x k, and re-delivering old rows is a
    no-op."""
    from zeta_etl_spark.sources.json_source import read_json
    from zeta_etl_spark.streaming.runner import foreach_batch_topk

    src = str(tmp_path / "tk_src")
    store = str(tmp_path / "tk_store")
    ckpt = str(tmp_path / "tk_ckpt")
    schema = "grp string, item bigint, score double"
    waves = [
        # wave 0: initial scores
        [{"grp": g, "item": i, "score": float(10 * i % 17)}
         for g in ("a", "b") for i in range(20)],
        # wave 1: updates — item 3 surges in both groups; new items
        [{"grp": g, "item": 3, "score": 99.0} for g in ("a", "b")]
        + [{"grp": "a", "item": i, "score": float(i)} for i in range(20, 30)],
        # wave 2: pure redelivery of wave 0 (stale scores — must not
        # displace anything)
        [{"grp": g, "item": i, "score": float(10 * i % 17)}
         for g in ("a", "b") for i in range(20)],
    ]
    delivered = []
    for i, wave in enumerate(waves):
        delivered += wave
        _write_json(src, wave, f"wave{i}.json")
        stream = read_json(spark, src, schema, streaming=True)
        foreach_batch_topk(
            stream, store, ckpt,
            group_keys=["grp"], id_cols=["item"], order_col="score",
            k=5, spark=spark,
        )

    got = read_delta(spark, store)
    # bounded state: never more than groups x k rows durable
    assert got.count() <= 2 * 5

    # equals the batch top-k over the full delivered history
    from pyspark.sql.window import Window
    all_rows = spark.createDataFrame(
        [(d["grp"], d["item"], d["score"]) for d in delivered], schema
    )
    best = all_rows.groupBy("grp", "item").agg(F.max("score").alias("score"))
    w = Window.partitionBy("grp").orderBy(F.col("score").desc(), "item")
    expect = (
        best.withColumn("topk_rank", F.row_number().over(w))
        .filter("topk_rank <= 5")
        .withColumn("topk_rank", F.col("topk_rank").cast("bigint"))
    )
    assert got.exceptAll(expect).count() == 0
    assert expect.exceptAll(got).count() == 0
    # the wave-1 surge is rank 1 in both groups
    top1 = {r["grp"]: r["item"] for r in got.filter("topk_rank = 1").collect()}
    assert top1 == {"a": 3, "b": 3}


def test_topk_sink_replay_after_crash_is_idempotent(spark, tmp_path):
    """Same crash model as the upsert sink: the stream checkpoint is lost
    AFTER the Delta overwrite committed (crash between data commit and
    checkpoint write) — the same files replay as batch 0 and the
    leaderboard must come out byte-identical (the replay folds the batch
    into the committed state again, and the fold is idempotent)."""
    import shutil

    from zeta_etl_spark.sources.json_source import read_json
    from zeta_etl_spark.streaming.runner import foreach_batch_topk

    src = str(tmp_path / "tkc_src")
    store = str(tmp_path / "tkc_store")
    ckpt = str(tmp_path / "tkc_ckpt")
    schema = "grp string, item bigint, score double"
    rows = [{"grp": "a", "item": i, "score": float((i * 7) % 11)}
            for i in range(12)]
    _write_json(src, rows, "w1.json")

    def run():
        stream = read_json(spark, src, schema, streaming=True)
        foreach_batch_topk(
            stream, store, ckpt, group_keys=["grp"], id_cols=["item"],
            order_col="score", k=4, spark=spark,
        )

    run()
    before = sorted(tuple(r) for r in read_delta(spark, store).collect())
    assert len(before) == 4

    shutil.rmtree(ckpt)  # crash: checkpoint lost, Delta commit survives
    run()
    after = sorted(tuple(r) for r in read_delta(spark, store).collect())
    assert after == before


def test_upsert_and_topk_heal_paths_absorb_new_files(spark, tmp_path):
    """Review finding: after CHECKPOINT LOSS the replanned batch 0 can
    contain files the committed version never saw; a replay that skipped
    the batch would silently drop them.  Both Delta-state sinks must fold
    it again — re-delivered rows are idempotent, new rows land."""
    import shutil

    from zeta_etl_spark.sources.json_source import read_json
    from zeta_etl_spark.streaming.runner import (
        foreach_batch_topk,
        foreach_batch_upsert,
    )

    # ---- upsert sink ----
    src = str(tmp_path / "hu_src")
    target = str(tmp_path / "hu_tgt")
    ckpt = str(tmp_path / "hu_ckpt")
    snap = "entity string, val double, seq bigint"
    _write_json(src, [{"entity": "x", "val": 1.0, "seq": 1}], "w1.json")
    stream = read_json(spark, src, snap, streaming=True)
    foreach_batch_upsert(stream, target, ckpt, keys=["entity"],
                         sequence_by=["seq"], spark=spark)
    # crash model: checkpoint lost AFTER the Delta commit; new file arrives
    shutil.rmtree(ckpt)
    _write_json(src, [{"entity": "y", "val": 9.0, "seq": 1}], "w2.json")
    stream = read_json(spark, src, snap, streaming=True)
    foreach_batch_upsert(stream, target, ckpt, keys=["entity"],
                         sequence_by=["seq"], spark=spark)
    got = {r["entity"]: r["val"] for r in read_upsert_table(spark, target).collect()}
    assert got == {"x": 1.0, "y": 9.0}  # y NOT dropped by the replay

    # ---- topk sink ----
    src2 = str(tmp_path / "ht_src")
    store = str(tmp_path / "ht_store")
    ckpt2 = str(tmp_path / "ht_ckpt")
    schema = "grp string, item bigint, score double"
    _write_json(src2, [{"grp": "a", "item": 1, "score": 5.0}], "w1.json")
    stream = read_json(spark, src2, schema, streaming=True)
    foreach_batch_topk(stream, store, ckpt2, group_keys=["grp"],
                       id_cols=["item"], order_col="score", k=3, spark=spark)
    shutil.rmtree(ckpt2)
    _write_json(src2, [{"grp": "a", "item": 2, "score": 9.0}], "w2.json")
    stream = read_json(spark, src2, schema, streaming=True)
    foreach_batch_topk(stream, store, ckpt2, group_keys=["grp"],
                       id_cols=["item"], order_col="score", k=3, spark=spark)
    rows = {(r["item"], r["score"], r["topk_rank"])
            for r in read_delta(spark, store).collect()}
    assert rows == {(2, 9.0, 1), (1, 5.0, 2)}


def test_streaming_ddsketch_maintenance_two_level(spark, tmp_path):
    """Streaming DDSketch maintenance is the same two-level composition as
    the HLL/hourly chains, with SUM as the merge: level 1 keeps immutable
    per-(hour, user, bucket) counts under the watermark; level 2 SUMs
    cells across hours into the corpus sketch.  After two waves the
    durable sketch equals the batch histogram over the delivered non-late
    rows — the cell-wise-SUM mergeability that makes the sketch a 100 TB
    aggregation."""
    from zeta_etl_spark.streaming.runner import foreach_batch_two_level_agg

    src = str(tmp_path / "dds_src")
    out = str(tmp_path / "dds_l2")
    ckpt = str(tmp_path / "dds_ckpt")

    bucket = (
        "cast(length(bin(cast(floor(amount * 100 + 0.5) as bigint))) as bigint)"
    )

    def second_level(l1):
        return l1.groupBy("user", "bucket").agg(F.sum("cnt").alias("cnt"))

    def run():
        stream = read_json(spark, src, SCHEMA, streaming=True)
        first = hourly_agg_stream(
            stream.withColumn("bucket", F.expr(bucket)),
            "ts",
            keys=[F.col("user"), F.col("bucket")],
            aggs=[F.count(F.lit(1)).alias("cnt")],
            watermark="5 minutes",
        )
        foreach_batch_two_level_agg(
            first, ["hour_ts", "user", "bucket"], out, ckpt, second_level, spark
        )

    _write_json(
        src,
        [
            {"user": "a", "ts": "2024-01-01 00:10:00", "amount": 1.27},   # 127 → 7 bits
            {"user": "a", "ts": "2024-01-01 00:20:00", "amount": 1.29},   # 129 → 8 bits
            {"user": "a", "ts": "2024-01-01 01:10:00", "amount": 1.27},   # 127 again, later hour
            {"user": "b", "ts": "2024-01-01 02:30:00", "amount": 0.01},   # hour still open
        ],
        "w1.json",
    )
    run()
    got = {
        (r["user"], r["bucket"]): r["cnt"]
        for r in read_delta(spark, out).collect()
    }
    # watermark 02:25 → hours 00 and 01 closed; b's hour-02 row held back;
    # a's two 127-cent rows land in the same bucket cell across two hours
    assert got == {("a", 7): 2, ("a", 8): 1}

    _write_json(
        src,
        [
            # late row for hour 00 — dropped at level 1, must not inflate cells
            {"user": "a", "ts": "2024-01-01 00:15:00", "amount": 1.27},
            # hour-03 row closes hour 02, releasing b's held cell
            {"user": "b", "ts": "2024-01-01 03:30:00", "amount": 2.56},
        ],
        "w2.json",
    )
    run()
    got = {
        (r["user"], r["bucket"]): r["cnt"]
        for r in read_delta(spark, out).collect()
    }
    assert got == {("a", 7): 2, ("a", 8): 1, ("b", 1): 1}

    # batch twin over delivered, non-late, closed-hour rows
    batch = (
        read_json(spark, src, SCHEMA)
        .filter(F.col("ts") < "2024-01-01 03:00:00")
        .filter(~F.col("ts").eqNullSafe(F.lit("2024-01-01 00:15:00").cast("timestamp")))
        .withColumn("bucket", F.expr(bucket))
        .groupBy("user", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    want = {(r["user"], r["bucket"]): r["cnt"] for r in batch.collect()}
    assert got == want


def test_streaming_ohlc_bars_two_level(spark, tmp_path):
    """OHLC bars are maintainable incrementally because min_by/max_by on
    the order key merge associatively, exactly like min/max: level 1
    keeps per-(hour, user) partial bars under the watermark, level 2
    re-merges them — after two waves the durable bars equal the batch
    bars over the delivered non-late rows."""
    from zeta_etl_spark.streaming.runner import foreach_batch_two_level_agg

    src = str(tmp_path / "ohlc_src")
    out = str(tmp_path / "ohlc_l2")
    ckpt = str(tmp_path / "ohlc_ckpt")

    cents = "cast(floor(amount * 100 + 0.5) as bigint)"
    ordk = "format_string('%010d%019d', unix_timestamp(ts), cast(0 as bigint))"

    def second_level(l1):
        return l1.groupBy("user").agg(
            F.min_by("open_c", "open_k").alias("open_c"),
            F.max("high_c").alias("high_c"),
            F.min("low_c").alias("low_c"),
            F.max_by("close_c", "close_k").alias("close_c"),
            F.sum("n").alias("n"),
        )

    def run():
        stream = read_json(spark, src, SCHEMA, streaming=True)
        enriched = (
            stream.withColumn("c", F.expr(cents)).withColumn("k", F.expr(ordk))
        )
        first = hourly_agg_stream(
            enriched,
            "ts",
            keys=[F.col("user")],
            aggs=[
                F.min_by("c", "k").alias("open_c"),
                F.min("k").alias("open_k"),
                F.max("c").alias("high_c"),
                F.min("c").alias("low_c"),
                F.max_by("c", "k").alias("close_c"),
                F.max("k").alias("close_k"),
                F.count(F.lit(1)).alias("n"),
            ],
            watermark="5 minutes",
        )
        foreach_batch_two_level_agg(
            first, ["hour_ts", "user"], out, ckpt, second_level, spark
        )

    _write_json(
        src,
        [
            {"user": "a", "ts": "2024-01-01 00:10:00", "amount": 5.00},
            {"user": "a", "ts": "2024-01-01 00:20:00", "amount": 1.00},
            {"user": "a", "ts": "2024-01-01 01:10:00", "amount": 9.00},
            {"user": "a", "ts": "2024-01-01 02:30:00", "amount": 7.00},  # open hour
        ],
        "w1.json",
    )
    run()
    _write_json(
        src,
        [
            {"user": "a", "ts": "2024-01-01 03:30:00", "amount": 2.00},  # closes h2
        ],
        "w2.json",
    )
    run()
    got = {r["user"]: r for r in read_delta(spark, out).collect()}
    # closed hours 0,1,2: values 500,100 | 900 | 700 →
    # open=500 (00:10), high=900, low=100, close=700 (02:30), n=4
    a = got["a"]
    assert (a["open_c"], a["high_c"], a["low_c"], a["close_c"], a["n"]) == (
        500, 900, 100, 700, 4,
    )


def test_streaming_cep_matches_batch_recurrence(spark, tmp_path):
    """The stateful sequence detector must agree with the greedy-existence
    recurrence (the batch twin's semantics) across microbatch boundaries,
    INCLUDING out-of-order arrivals inside the lateness window: events
    buffer in state until the watermark passes, so a delayed early step
    slots into its true position and a backward-in-time step can't chain
    onto a later prefix.  Matches are watermark-final (the last wave's
    tail needs a watermark-advancing event to flush)."""
    from zeta_etl_spark.streaming.cep import detect_sequence_stream

    src = str(tmp_path / "cep_src")
    out = str(tmp_path / "cep_out")
    ckpt = str(tmp_path / "cep_ckpt")
    schema = "user_id long, ts timestamp, event_type string, event_id long"

    def run():
        stream = read_json(spark, src, schema, streaming=True)
        matched = detect_sequence_stream(
            stream, pattern=("view", "click", "purchase"), gap_seconds=3600
        )
        run_available_now(matched, out, ckpt)

    # wave 1: u1 view+click (chain open), u2 full chain in-gap,
    # u4 click BEFORE its view has arrived (the view comes in wave 2,
    # within the 10-min lateness window)
    _write_json(
        src,
        [
            {"user_id": 1, "ts": "2024-01-01 00:00:00", "event_type": "view", "event_id": 1},
            {"user_id": 1, "ts": "2024-01-01 00:30:00", "event_type": "click", "event_id": 2},
            {"user_id": 2, "ts": "2024-01-01 00:00:00", "event_type": "view", "event_id": 3},
            {"user_id": 2, "ts": "2024-01-01 00:10:00", "event_type": "click", "event_id": 4},
            {"user_id": 2, "ts": "2024-01-01 00:20:00", "event_type": "purchase", "event_id": 5},
            {"user_id": 4, "ts": "2024-01-01 00:28:00", "event_type": "click", "event_id": 13},
        ],
        "w1.json",
    )
    run()
    got1 = {(r["user_id"], r["match_ep"]) for r in spark.read.parquet(out).collect()}
    assert got1 == {(2, _cep_ep("2024-01-01 00:20:00"))}

    # wave 2: u1's purchase arrives within gap of its wave-1 click ->
    # CROSS-BATCH match; u4's view arrives LATE but in-window at 00:25
    # (before its wave-1 click at 00:28 in event time) and the purchase
    # completes the chain; u3's click comes 2h after its view (broken)
    # but a later in-gap chain matches
    _write_json(
        src,
        [
            {"user_id": 1, "ts": "2024-01-01 01:00:00", "event_type": "purchase", "event_id": 9},
            {"user_id": 4, "ts": "2024-01-01 00:25:00", "event_type": "view", "event_id": 14},
            {"user_id": 4, "ts": "2024-01-01 00:31:00", "event_type": "purchase", "event_id": 15},
            {"user_id": 3, "ts": "2024-01-01 00:00:00", "event_type": "view", "event_id": 6},
            {"user_id": 3, "ts": "2024-01-01 02:00:00", "event_type": "click", "event_id": 7},
            {"user_id": 3, "ts": "2024-01-01 02:10:00", "event_type": "purchase", "event_id": 8},
            {"user_id": 3, "ts": "2024-01-01 03:00:00", "event_type": "view", "event_id": 10},
            {"user_id": 3, "ts": "2024-01-01 03:10:00", "event_type": "click", "event_id": 11},
            {"user_id": 3, "ts": "2024-01-01 03:20:00", "event_type": "purchase", "event_id": 12},
        ],
        "w2.json",
    )
    run()
    # u3's 03:20 tail is not watermark-final yet (wm = 03:10)
    got2 = {(r["user_id"], r["match_ep"]) for r in spark.read.parquet(out).collect()}
    assert got2 == {
        (2, _cep_ep("2024-01-01 00:20:00")),
        (1, _cep_ep("2024-01-01 01:00:00")),
        (4, _cep_ep("2024-01-01 00:31:00")),
    }

    # wave 3: a watermark-advancing event flushes u3's buffered tail
    _write_json(
        src,
        [{"user_id": 99, "ts": "2024-01-01 05:00:00", "event_type": "view", "event_id": 20}],
        "w3.json",
    )
    run()
    got3 = {(r["user_id"], r["match_ep"]) for r in spark.read.parquet(out).collect()}
    assert got3 == got2 | {(3, _cep_ep("2024-01-01 03:20:00"))}


def _cep_ep(s):
    import datetime

    return int(
        datetime.datetime.fromisoformat(s)
        .replace(tzinfo=datetime.timezone.utc)
        .timestamp()
    )


def test_streaming_cep_subsecond_granularity_matches_batch(spark, tmp_path):
    """ADVICE r6: the batch twin compares gaps on WHOLE-SECOND epochs
    (unix_timestamp floors) and orders by (ep, event_id); the streaming
    detector must use the same granularity or the two diverge at the gap
    boundary on sub-second event times.  Two probes:

    - gap boundary: view at 0.7s, click at 3600.9s — floored gap exactly
      3600 (match in batch); the microsecond gap 3600.2s would NOT match.
    - same-second ordering: view(id=1) at 10.9s, click(id=2) at 10.2s —
      batch orders (10, 1) < (10, 2) so the chain is view → click; raw
      microsecond order would put the click first and break the chain.
    """
    from zeta_etl_spark.streaming.cep import detect_sequence_stream

    src = str(tmp_path / "cep_ss_src")
    out = str(tmp_path / "cep_ss_out")
    ckpt = str(tmp_path / "cep_ss_ckpt")
    schema = "user_id long, ts timestamp, event_type string, event_id long"

    def run():
        stream = read_json(spark, src, schema, streaming=True)
        matched = detect_sequence_stream(
            stream, pattern=("view", "click", "purchase"), gap_seconds=3600
        )
        run_available_now(matched, out, ckpt)

    _write_json(
        src,
        [
            # gap-boundary user: floored gaps all exactly <= 3600
            {"user_id": 1, "ts": "2024-01-01 00:00:00.700", "event_type": "view", "event_id": 1},
            {"user_id": 1, "ts": "2024-01-01 01:00:00.900", "event_type": "click", "event_id": 2},
            {"user_id": 1, "ts": "2024-01-01 01:10:00.100", "event_type": "purchase", "event_id": 3},
            # same-second-ordering user
            {"user_id": 2, "ts": "2024-01-01 00:00:10.900", "event_type": "view", "event_id": 1},
            {"user_id": 2, "ts": "2024-01-01 00:00:10.200", "event_type": "click", "event_id": 2},
            {"user_id": 2, "ts": "2024-01-01 00:05:00.000", "event_type": "purchase", "event_id": 3},
            # watermark-advancing flush event
            {"user_id": 99, "ts": "2024-01-01 03:00:00", "event_type": "view", "event_id": 9},
        ],
        "w1.json",
    )
    run()
    got = {
        (r["user_id"], r["match_ep"])
        for r in spark.read.parquet(out).collect()
    }
    assert got == {
        (1, _cep_ep("2024-01-01 01:10:00")),
        (2, _cep_ep("2024-01-01 00:05:00")),
    }
