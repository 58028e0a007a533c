"""Pipeline-shape tests (SURVEY.md §5.3): a medallion DAG on the runner —
bronze scan → silver clean → gold agg → CDC latest-wins — with row-count,
key-uniqueness and dependency-order assertions."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from zeta_etl_spark.datasets import load_table
from zeta_etl_spark.functions import dec_sum
from zeta_etl_spark.plans.graph import Pipeline


@pytest.fixture()
def pipeline(tmp_path, spark, sf_dir):
    p = Pipeline("demo", str(tmp_path / "demo"))

    @p.table(quality="bronze")
    def bronze_events(pl):
        return load_table(spark, sf_dir, "events")

    @p.view()
    def cleaned(pl):
        return (
            pl.read("bronze_events")
            .filter(F.col("value") > 0)
            .withColumn("date_", F.to_date("ts"))
        )

    @p.table(quality="silver", partition_by=["date_"])
    def silver_events(pl):
        return pl.read("cleaned")

    @p.table(quality="gold")
    def gold_hourly(pl):
        return (
            pl.read("silver_events")
            .groupBy(F.date_trunc("hour", "ts").alias("hour_ts"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"), dec_sum("value", "sum_value"))
        )

    p.apply_changes(
        target="latest_by_user",
        source="silver_events",
        keys=["user_id"],
        sequence_by=["ts", "event_id"],
        quality="gold",
    )
    return p


def test_dag_runs_in_dependency_order(spark, pipeline, sf_dir):
    out = pipeline.run(spark, targets=["gold_hourly", "latest_by_user"])
    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    assert out["gold_hourly"].agg(F.sum("n")).first()[0] == ev.count()
    latest = out["latest_by_user"]
    assert latest.count() == ev.select("user_id").distinct().count()
    # key uniqueness after CDC
    assert latest.groupBy("user_id").count().filter("count > 1").count() == 0


def test_partitioned_materialization(spark, pipeline, tmp_path):
    import os

    pipeline.run(spark, targets=["silver_events"])
    subdirs = os.listdir(pipeline.path("silver_events"))
    assert any(d.startswith("date_=") for d in subdirs)


def test_cycle_detection(spark, tmp_path):
    p = Pipeline("cyclic", str(tmp_path / "cyclic"))

    @p.table()
    def a(pl):
        return pl.read("b")

    @p.table()
    def b(pl):
        return pl.read("a")

    with pytest.raises(ValueError, match="cycle"):
        p.run(spark, targets=["a"])


def test_unknown_node(spark, tmp_path):
    p = Pipeline("empty", str(tmp_path / "empty"))
    with pytest.raises(KeyError):
        p.run(spark, targets=["missing"])


def test_incremental_node_processes_only_new_files(spark, tmp_path):
    """SURVEY §4: per-node incremental flag — second run picks up only new
    upstream files via the checkpointed streaming edge."""
    import os

    from pyspark.sql import functions as F2

    src = str(tmp_path / "inc_src")
    os.makedirs(src, exist_ok=True)

    def write_batch(run_id, n):
        spark.range(n).withColumn("run_id", F2.lit(run_id)).write.mode(
            "append"
        ).parquet(src)

    base = str(tmp_path / "inc_pipe")

    def build():
        p = Pipeline("inc", base)

        # bronze is itself incremental (append-only materialization) — a
        # read_stream upstream must be append-only, so the whole incremental
        # chain starts at the streaming file source, exactly like DLT
        @p.table(name="bronze", incremental=True)
        def bronze(pl):
            return spark.readStream.schema("id bigint, run_id int").parquet(src)

        @p.table(name="silver", incremental=True)
        def silver(pl):
            return pl.read_stream("bronze").withColumn(
                "doubled", F2.col("id") * 2
            )

        return p

    write_batch(1, 5)
    out1 = build().run(spark, targets=["silver"])["silver"]
    assert out1.count() == 5

    write_batch(2, 3)
    out2 = build().run(spark, targets=["silver"])["silver"]
    # 8 total rows, no reprocessing duplicates of the first 5
    assert out2.count() == 8
    assert out2.filter("run_id = 1").count() == 5
    assert out2.filter("doubled != id * 2").count() == 0


def test_data_quality_expectations(spark, tmp_path, sf_dir):
    """dlt.expect / expect_or_drop / expect_or_fail parity."""
    p = Pipeline("dq", str(tmp_path / "dq"))

    @p.table(
        expectations={
            "positive_value": ("value > 0", "drop"),
            "known_type": (
                "event_type in ('click','view','purchase','signup','error')",
                "warn",
            ),
        }
    )
    def checked(pl):
        return load_table(spark, sf_dir, "events")

    out = p.run(spark, targets=["checked"])["checked"]
    ev = load_table(spark, sf_dir, "events")
    n_bad = ev.filter("value <= 0").count()
    assert out.count() == ev.count() - n_bad
    m = p.expectation_metrics["checked"]
    assert m["positive_value"]["failed"] == n_bad
    assert m["known_type"]["failed"] == 0

    p2 = Pipeline("dq2", str(tmp_path / "dq2"))

    @p2.table(expectations={"impossible": ("value > 1e12", "fail")})
    def failing(pl):
        return load_table(spark, sf_dir, "events")

    with pytest.raises(ValueError, match="impossible"):
        p2.run(spark, targets=["failing"])


def test_partition_pruning_on_materialized_table(spark, pipeline, sf_dir):
    """§1.3 layout: date-partitioned silver scans prune partitions."""
    out = pipeline.run(spark, targets=["silver_events"])["silver_events"]
    pruned = out.filter(F.col("date_") == "2024-01-05")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(date_" in plan
    assert pruned.count() > 0


def test_sort_within_partitions_zorder_standin(spark, tmp_path, sf_dir):
    """§1.3 z-order stand-in: sort_within_partitions produces files whose row
    groups are clustered on the sort key (verified via per-file min==sorted)."""
    p = Pipeline("zo", str(tmp_path / "zo"))

    @p.table(sort_within_partitions=["user_id"])
    def sorted_events(pl):
        return load_table(spark, sf_dir, "events").repartition(2)

    out = p.run(spark, targets=["sorted_events"])["sorted_events"]
    from pyspark.sql.functions import input_file_name, col

    per_file = (
        out.withColumn("f", input_file_name())
        .groupBy("f")
        .agg(F.collect_list("user_id").alias("ids"))
        .collect()
    )
    for r in per_file:
        assert r["ids"] == sorted(r["ids"])


def test_incremental_rejects_window_functions(spark, tmp_path):
    """T9 as code: a window function inside an incremental node fails fast
    with an engine error naming the batch-fallback rule."""
    import pytest
    from pyspark.sql import functions as F2
    from pyspark.sql.window import Window as W

    src = str(tmp_path / "t9_src")
    spark.range(10).selectExpr(
        "id", "timestamp '2024-01-01' + make_interval(0,0,0,0,0,0,id) as ts"
    ).write.parquet(src)

    p = Pipeline("t9", str(tmp_path / "t9_pipe"))

    @p.table(name="ranked", incremental=True)
    def ranked(pl):
        s = spark.readStream.schema("id bigint, ts timestamp").parquet(src)
        return s.withColumn(
            "rn", F2.row_number().over(W.partitionBy().orderBy("id"))
        )

    with pytest.raises(ValueError, match="incremental=True.*window functions"):
        p.run(spark, targets=["ranked"])


def test_incremental_expectations_enforced(spark, tmp_path):
    """ADVICE r1: expectations on incremental nodes must not be silently
    ignored — drop filters in-stream, fail raises post-update."""
    import pytest
    from pyspark.sql import functions as F2

    src = str(tmp_path / "exp_src")
    spark.range(10).withColumn(
        "value", F2.when(F2.col("id") < 7, F2.col("id")).otherwise(-F2.col("id"))
    ).write.parquet(src)

    base = str(tmp_path / "exp_pipe")
    p = Pipeline("exp", base)

    @p.table(
        name="cleaned",
        incremental=True,
        expectations={"nonneg": ("value >= 0", "drop")},
    )
    def cleaned(pl):
        return spark.readStream.schema("id bigint, value bigint").parquet(src)

    out = p.run(spark, targets=["cleaned"])["cleaned"]
    assert out.count() == 7  # 3 negative rows dropped IN the streaming plan
    assert out.filter("value < 0").count() == 0
    # ADVICE r2: drops are enforced in-stream so a post-write count would
    # always read 0 — the metric honestly records "not counted" (None).
    m = p.expectation_metrics["cleaned"]["nonneg"]
    assert m["failed"] is None and "not counted" in m["note"]

    p2 = Pipeline("exp2", str(tmp_path / "exp2_pipe"))

    @p2.table(
        name="strict",
        incremental=True,
        expectations={"nonneg": ("value >= 0", "fail")},
    )
    def strict(pl):
        return spark.readStream.schema("id bigint, value bigint").parquet(src)

    with pytest.raises(ValueError, match="expectation 'nonneg' failed"):
        p2.run(spark, targets=["strict"])


def test_minhash_pipeline_matches_registry_query(spark, tmp_path, sf_dir):
    """pipelines/dedup.py: the materialized-signature pipeline must produce
    exactly the registry query's verified pairs (same seam, durable silver)."""
    from zeta_etl_spark.pipelines.dedup import build_minhash_pipeline
    from zeta_etl_spark.queries import REGISTRY
    from zeta_etl_spark.queries.registry import T

    docs = T(spark, sf_dir, "documents")
    p = build_minhash_pipeline(spark, str(tmp_path / "mh"), docs)
    out = p.run(spark, targets=["near_dup_pairs"])["near_dup_pairs"]
    direct = REGISTRY["minhash_lsh_pairs"].fn(spark, sf_dir)
    assert out.exceptAll(direct).count() == 0
    assert direct.exceptAll(out).count() == 0
    # the silver table really is on disk, narrow, and batch-partitioned
    sigs = spark.read.parquet(str(tmp_path / "mh" / "minhash_sigs"))
    assert set(sigs.columns) == {
        "doc_id", "n_shingles", "signature", "batch_id"
    }
    assert [r["batch_id"] for r in sigs.select("batch_id").distinct()
            .collect()] == ["base"]


def test_corpus_pipeline_end_to_end(spark, tmp_path, sf_dir):
    """pipelines/corpus.py: the composed training-data DAG materializes
    every stage, decisions reconcile with the corpus_curation registry
    query, packing invariants hold on the kept stream, and the report adds
    up."""
    from pyspark.sql import functions as F2

    from zeta_etl_spark.pipelines.corpus import _PACK_BUDGET, build_corpus_pipeline
    from zeta_etl_spark.queries.registry import T

    docs = T(spark, sf_dir, "documents")
    p = build_corpus_pipeline(spark, str(tmp_path / "corpus"), docs)
    out = p.run(spark)

    n_docs = docs.count()
    gate = out["quality_gate"]
    assert gate.count() == n_docs                      # every doc decided
    kept = out["kept_docs"]
    # near-dup gate: kept = quality keeps minus non-canonical cluster
    # members (canonical doc of every near-dup cluster IS retained)
    labels = out["cluster_labels"]
    n_near_dupes = labels.filter("NOT is_canonical").count()
    assert kept.count() == (
        gate.filter("decision = 'keep'").count() - n_near_dupes
    )
    assert n_near_dupes > 0  # the synthetic corpus has real near-dups
    # every cluster keeps exactly its canonical member
    canon = labels.filter("is_canonical")
    assert canon.count() == labels.select("cluster_id").distinct().count()
    assert canon.join(kept, "doc_id").count() == canon.count()
    assert set(r["split"] for r in kept.select("split").distinct().collect()) \
        <= {"train", "val", "test"}

    # mixture weights: over kept corpus only, ppm sums ≤ 1e6 (integer floor)
    mw = {r["source"]: r for r in out["mixture_weights"].collect()}
    assert sum(r["n_docs"] for r in mw.values()) == kept.count()
    ppm_total = sum(r["weight_ppm"] for r in mw.values())
    assert 990000 <= ppm_total <= 1000000

    # packing invariants on the materialized gold
    packed = out["packed_sequences"]
    assert packed.count() == kept.count()
    b = _PACK_BUDGET
    spans = packed.selectExpr(
        "split", "source",
        "explode(sequence(start_pack, end_pack)) AS pack",
        f"start_pack * {b} + start_offset AS tok_begin",
        f"start_pack * {b} + start_offset + n_tokens AS tok_end",
    ).selectExpr(
        "split", "source", "pack",
        f"least(tok_end, (pack + 1) * {b}) - greatest(tok_begin, pack * {b})"
        " AS tokens_in_pack",
    )
    over = (
        spans.groupBy("split", "source", "pack")
        .agg(F2.sum("tokens_in_pack").alias("t"))
        .filter(F2.col("t") > b)
    )
    assert over.count() == 0

    # report adds up against the packed gold
    rep = {r["split"]: r for r in out["corpus_report"].collect()}
    for split, r in rep.items():
        assert r["n_docs"] == packed.filter(F2.col("split") == split).count()

    # all nine nodes durable on disk, and the stage accounting reads them
    import os

    from zeta_etl_spark.pipelines.corpus import CORPUS_STAGES, stage_accounting

    for node in CORPUS_STAGES:
        assert os.path.exists(str(tmp_path / "corpus" / node))
    acct = stage_accounting(p, spark)
    assert [a["stage"] for a in acct] == CORPUS_STAGES
    by_stage = {a["stage"]: a for a in acct}
    assert by_stage["doc_stats"]["rows"] == n_docs
    assert by_stage["kept_docs"]["rows"] == kept.count()
    assert all(a["bytes"] > 0 and a["files"] > 0 for a in acct)


def test_incremental_minhash_pipeline(spark, tmp_path, sf_dir):
    """pipelines/dedup.build_incremental_minhash_pipeline: a new batch is
    deduped against the durable corpus signature silver; old×old pairs are
    never re-emitted, yet previous-run pairs ∪ incremental pairs equals the
    from-scratch recompute over the full corpus, and the batch signatures
    are appended into the silver for the next increment."""
    from zeta_etl_spark.pipelines.dedup import (
        build_incremental_minhash_pipeline,
        build_minhash_pipeline,
    )
    from zeta_etl_spark.queries import REGISTRY
    from zeta_etl_spark.queries.registry import T

    docs = T(spark, sf_dir, "documents")
    corpus = docs.filter("doc_id % 10 >= 2")
    batch = docs.filter("doc_id % 10 < 2")
    base = str(tmp_path / "mh_incr")

    # day 0: full run over the old corpus only
    p0 = build_minhash_pipeline(spark, base, corpus)
    old_pairs = p0.run(spark)["near_dup_pairs"]

    # day 1: incremental run for the batch
    p1 = build_incremental_minhash_pipeline(spark, base, batch, docs,
                                        batch_id="day1")
    out = p1.run(spark)
    incr = out["incremental_pairs"]

    # old×old pairs are NOT re-emitted — every pair touches the batch
    assert incr.filter("doc_a % 10 >= 2 AND doc_b % 10 >= 2").count() == 0

    # previous pairs ∪ incremental pairs == full recompute on corpus+batch
    full = REGISTRY["minhash_lsh_pairs"].fn(spark, sf_dir)
    union = old_pairs.unionByName(incr)
    assert union.exceptAll(full).count() == 0
    assert full.exceptAll(union).count() == 0

    # incremental gold matches the registry query for the same split
    direct = REGISTRY["minhash_incremental_pairs"].fn(spark, sf_dir)
    assert incr.exceptAll(direct).count() == 0
    assert direct.exceptAll(incr).count() == 0

    # batch signatures were appended into the durable silver
    sigs = spark.read.parquet(base + "/minhash_sigs")
    assert sigs.count() == docs.count()
    assert sigs.select("doc_id").distinct().count() == docs.count()

    # replay idempotency (ADVICE r5): re-running the SAME increment —
    # the crash-recovery path — must not duplicate silver signatures or
    # inflate the pair set, because the batch partition is overwritten
    # and the corpus snapshot excludes this run's own batch_id
    before = sorted(map(tuple, incr.collect()))  # snapshot: the replay
    # rewrites the gold parquet, invalidating incr's file listing
    p1r = build_incremental_minhash_pipeline(spark, base, batch, docs,
                                         batch_id="day1")  # same id = replay
    incr2 = p1r.run(spark)["incremental_pairs"]
    assert sorted(map(tuple, incr2.collect())) == before
    sigs2 = spark.read.parquet(base + "/minhash_sigs")
    assert sigs2.count() == docs.count()


def test_incremental_cc_pipeline_matches_registry(spark, tmp_path, sf_dir):
    """pipelines/dedup.build_cc_state_pipeline + build_incremental_cc_pipeline:
    the durable-label-state production shape must produce exactly the
    registry query's clusters (VERDICT r5 next-3 — the increment job reads
    old labels from parquet instead of re-running CC over the old corpus)."""
    from zeta_etl_spark.pipelines.dedup import (
        build_cc_state_pipeline,
        build_incremental_cc_pipeline,
    )
    from zeta_etl_spark.queries import REGISTRY
    from zeta_etl_spark.queries.dedup_q import _INCR_SPLIT
    from zeta_etl_spark.queries.registry import T

    docs = T(spark, sf_dir, "documents")
    base = str(tmp_path / "cc_state")

    # day 0: label state for the old corpus, durable on disk
    p0 = build_cc_state_pipeline(
        spark, base, docs.filter(f"NOT ({_INCR_SPLIT})")
    )
    p0.run(spark, targets=["old_labels"])
    import os
    assert os.path.exists(base + "/old_labels")

    # day 1: increment job — never re-reads old pairs / re-runs old CC
    p1 = build_incremental_cc_pipeline(spark, base, docs, _INCR_SPLIT)
    out = p1.run(spark, targets=["cluster_labels"])["cluster_labels"]

    direct = REGISTRY["dedup_clusters_incremental"].fn(spark, sf_dir)
    assert out.exceptAll(direct).count() == 0
    assert direct.exceptAll(out).count() == 0


def test_apply_changes_with_deletes(spark, tmp_path):
    """apply_as_deletes (the DLT delete surface): the latest row per key
    wins; when that winner satisfies the delete condition the key vanishes
    from the target, and a later non-delete row resurrects it."""
    from pyspark.sql import functions as F2

    from zeta_etl_spark.plans.graph import Pipeline

    rows = [
        # x: upsert then delete -> gone
        ("x", 1.0, 1, "upsert"),
        ("x", 2.0, 2, "delete"),
        # y: delete then later upsert -> resurrection wins
        ("y", 5.0, 1, "delete"),
        ("y", 7.0, 2, "upsert"),
        # z: plain upserts -> latest value
        ("z", 3.0, 1, "upsert"),
        ("z", 4.0, 2, "upsert"),
    ]
    p = Pipeline("cdc_del", str(tmp_path / "cdc_del"))

    @p.view(name="changes")
    def changes(pl):
        return spark.createDataFrame(
            rows, "entity string, val double, seq bigint, op string"
        )

    p.apply_changes(
        target="current",
        source="changes",
        keys=["entity"],
        sequence_by="seq",
        apply_as_deletes="op = 'delete'",
    )
    out = p.run(spark, targets=["current"])["current"]
    got = {r["entity"]: r["val"] for r in out.collect()}
    assert got == {"y": 7.0, "z": 4.0}

    # without the delete clause, x's delete row would win as a plain upsert
    p2 = Pipeline("cdc_nodel", str(tmp_path / "cdc_nodel"))

    @p2.view(name="changes")
    def changes2(pl):
        return spark.createDataFrame(
            rows, "entity string, val double, seq bigint, op string"
        )

    p2.apply_changes(
        target="current", source="changes", keys=["entity"], sequence_by="seq"
    )
    out2 = p2.run(spark, targets=["current"])["current"]
    assert {r["entity"] for r in out2.collect()} == {"x", "y", "z"}


def test_apply_changes_null_delete_predicate_is_not_delete(spark, tmp_path):
    """A NULL-evaluating delete predicate must mean NOT deleted (DLT deletes
    only where the expression is TRUE): with op NULL on plain upserts, the
    keys survive."""
    from zeta_etl_spark.plans.graph import Pipeline

    rows = [
        ("x", 1.0, 1, None),      # op NULL: ordinary upsert
        ("y", 2.0, 1, "delete"),  # real delete
        ("z", 3.0, 1, None),
    ]
    p = Pipeline("cdc_null", str(tmp_path / "cdc_null"))

    @p.view(name="changes")
    def changes(pl):
        return spark.createDataFrame(
            rows, "entity string, val double, seq bigint, op string"
        )

    p.apply_changes(
        target="current",
        source="changes",
        keys=["entity"],
        sequence_by="seq",
        apply_as_deletes="op = 'delete'",
    )
    out = p.run(spark, targets=["current"])["current"]
    got = {r["entity"]: r["val"] for r in out.collect()}
    assert got == {"x": 1.0, "z": 3.0}


def test_backfill_rewrites_only_matching_partitions(spark, tmp_path):
    """Pipeline.backfill: re-running one date partition replaces exactly
    that partition's content while the other partition's files stay
    byte-identical on disk; non-partitioned nodes are rejected."""
    import glob as _glob

    import pytest as _pytest
    from pyspark.sql import functions as F2

    from zeta_etl_spark.plans.graph import Pipeline

    base = str(tmp_path / "bf")
    state = {"v": 1}
    p = Pipeline("bf", base)

    @p.table(name="daily", partition_by=["dt"])
    def daily(pl):
        return spark.createDataFrame(
            [("2024-01-01", 1, state["v"]), ("2024-01-02", 2, state["v"])],
            "dt string, k bigint, v bigint",
        )

    p.run(spark, targets=["daily"])
    day1_files_before = sorted(_glob.glob(base + "/daily/dt=2024-01-01/*"))

    # source logic changes (v=2); backfill ONLY 2024-01-02
    state["v"] = 2
    n = p.backfill(spark, "daily", "dt = '2024-01-02'")
    assert n == 1

    out = {
        (str(r["dt"]), r["k"]): r["v"]  # partition discovery types dt as date
        for r in spark.read.parquet(base + "/daily").collect()
    }
    assert out == {("2024-01-01", 1): 1, ("2024-01-02", 2): 2}
    # untouched partition kept its exact files
    day1_files_after = sorted(_glob.glob(base + "/daily/dt=2024-01-01/*"))
    assert day1_files_before == day1_files_after

    # memoized view refreshed
    assert spark.sql("SELECT SUM(v) FROM bf__daily").first()[0] == 3

    p2 = Pipeline("bf2", str(tmp_path / "bf2"))

    @p2.table(name="flat")
    def flat(pl):
        return spark.range(3)

    p2.run(spark, targets=["flat"])
    with _pytest.raises(ValueError, match="partition_by"):
        p2.backfill(spark, "flat", "id = 1")

    # a row-level predicate would overwrite whole partitions with a row
    # SUBSET (silent data loss) — rejected up front
    with _pytest.raises(ValueError, match="partition columns"):
        p.backfill(spark, "daily", "k = 2")

    # append tables accumulate epochs a re-run cannot reproduce — rejected
    p3 = Pipeline("bf3", str(tmp_path / "bf3"))

    @p3.table(name="epochs", partition_by=["dt"], mode="append")
    def epochs(pl):
        return spark.createDataFrame(
            [("2024-01-01", 1)], "dt string, v bigint"
        )

    p3.run(spark, targets=["epochs"])
    with _pytest.raises(ValueError, match="append"):
        p3.backfill(spark, "epochs", "dt = '2024-01-01'")

    # declared expectations run on backfilled partitions too
    p4 = Pipeline("bf4", str(tmp_path / "bf4"))

    @p4.table(
        name="gated",
        partition_by=["dt"],
        expectations={"pos": ("v > 0", "drop")},
    )
    def gated(pl):
        return spark.createDataFrame(
            [("2024-01-01", 5), ("2024-01-01", -1)], "dt string, v bigint"
        )

    p4.run(spark, targets=["gated"])
    n4 = p4.backfill(spark, "gated", "dt = '2024-01-01'")
    assert n4 == 1  # the v=-1 row was dropped by the expectation
    vals = [
        r["v"]
        for r in spark.read.parquet(str(tmp_path / "bf4" / "gated")).collect()
    ]
    assert vals == [5]


def test_vacuum_and_describe(spark, tmp_path):
    """Pipeline.describe lists node metadata + materialization stats
    without touching data."""
    from pyspark.sql import functions as F2

    from zeta_etl_spark.plans.graph import Pipeline

    base = str(tmp_path / "vac")
    p = Pipeline("vac", base)

    @p.table(name="tbl", partition_by=("day",), quality="silver",
             comment="demo")
    def tbl(pl):
        return spark.range(100).withColumn("day", F2.col("id") % 2)

    @p.view(name="vw")
    def vw(pl):
        return p.read("tbl")

    p.run(spark, targets=["tbl"])

    desc = {d["name"]: d for d in p.describe()}
    assert desc["tbl"]["kind"] == "table"
    assert desc["tbl"]["quality"] == "silver"
    assert desc["tbl"]["partition_by"] == ["day"]
    assert desc["tbl"]["materialized"] and desc["tbl"]["bytes"] > 0
    assert desc["vw"]["kind"] == "view" and not desc["vw"]["materialized"]


def test_warn_only_expectations_piggyback_on_write(spark, tmp_path, sf_dir):
    """Warn-only expectations ride the materialization pass via
    df.observe (no separate counting scan) and still record correct
    violation counts."""
    from zeta_etl_spark.plans.graph import Pipeline

    p = Pipeline("obsdq", str(tmp_path / "obsdq"))

    @p.table(
        name="watched",
        expectations={
            "positive_value": ("value > 0", "warn"),
            "known_type": (
                "event_type in ('click','view','purchase','signup','error')",
                "warn",
            ),
        },
    )
    def watched(pl):
        return load_table(spark, sf_dir, "events")

    out = p.run(spark, targets=["watched"])["watched"]
    ev = load_table(spark, sf_dir, "events")
    # warn never drops rows
    assert out.count() == ev.count()
    m = p.expectation_metrics["watched"]
    assert m["positive_value"]["failed"] == ev.filter("value <= 0").count()
    assert m["known_type"]["failed"] == 0
    assert all(v["action"] == "warn" for v in m.values())
