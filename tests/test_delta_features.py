"""Delta format scale features (sinks/delta_log.py): checkpoint parquet +
_last_checkpoint + log cleanup, per-file min/max stats, predicate data
skipping, OPTIMIZE bin-packing with Z-order, and schema evolution on
append (mergeSchema)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from zeta_etl_spark.sinks.delta_log import (
    DeltaUnsupported,
    cleanup_log,
    delta_history,
    latest_version,
    optimize,
    read_delta,
    write_delta,
    write_checkpoint,
)

SCHEMA = "k bigint, cat string, v double"


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _range_df(spark, lo, hi):
    return _df(
        spark,
        [(i, "ab"[i % 2], float(i)) for i in range(lo, hi)],
    )


# ---------------------------------------------------------------- checkpoint

def test_checkpoint_roundtrips_snapshot_and_survives_cleanup(spark, tmp_path):
    t = str(tmp_path / "t")
    write_delta(_range_df(spark, 0, 10), t, partition_by=("cat",))
    for lo in range(10, 40, 10):
        write_delta(
            _range_df(spark, lo, lo + 10), t, mode="append",
            partition_by=("cat",),
        )
    full = _rows(read_delta(spark, t))
    v = write_checkpoint(t)
    assert v == 3
    # _last_checkpoint pointer present with the spec's fields
    lc = json.load(open(os.path.join(t, "_delta_log", "_last_checkpoint")))
    assert lc["version"] == 3 and lc["size"] > 2
    # tail commits after the checkpoint still replay on top of it
    write_delta(
        _range_df(spark, 40, 45), t, mode="append", partition_by=("cat",)
    )
    assert _rows(read_delta(spark, t)) == _rows(_range_df(spark, 0, 45))
    # cleanup deletes JSON below the checkpoint; snapshot reads survive
    gone = cleanup_log(t)
    assert gone == [0, 1, 2]
    assert _rows(read_delta(spark, t)) == _rows(_range_df(spark, 0, 45))
    assert _rows(read_delta(spark, t, version=3)) == full
    # time travel below the checkpoint is a loud error, not a wrong answer
    with pytest.raises(ValueError, match="cleaned up|cannot reconstruct"):
        read_delta(spark, t, version=1)


def test_periodic_checkpoint_policy(spark, tmp_path):
    from zeta_etl_spark.sinks.delta_log import _list_checkpoints

    t = str(tmp_path / "t")
    for i in range(12):
        write_delta(
            _range_df(spark, i, i + 1), t, mode="append",
            checkpoint_interval=5,
        )
    # commits 0..11: checkpoints landed at versions 5 and 10
    assert _list_checkpoints(t) == [5, 10]
    assert _rows(read_delta(spark, t)) == _rows(_range_df(spark, 0, 12))


def test_checkpoint_carries_txn_state(spark, tmp_path):
    from zeta_etl_spark.sinks.delta_log import last_txn_version

    t = str(tmp_path / "t")
    write_delta(_range_df(spark, 0, 5), t, txn=("app1", 7))
    write_checkpoint(t)
    cleanup_log(t)
    assert last_txn_version(t, "app1") == 7


# --------------------------------------------------------------- file stats

def test_add_actions_carry_minmax_and_nullcount(spark, tmp_path):
    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", None), (3, "c", 9.0)], SCHEMA
    )
    write_delta(df.coalesce(1), t)
    log = os.path.join(t, "_delta_log", f"{0:020d}.json")
    adds = [json.loads(l)["add"] for l in open(log) if "\"add\"" in l]
    stats = json.loads(adds[0]["stats"])
    assert stats["numRecords"] == 3
    assert stats["minValues"]["k"] == 1 and stats["maxValues"]["k"] == 3
    assert stats["minValues"]["cat"] == "a" and stats["maxValues"]["cat"] == "c"
    assert stats["minValues"]["v"] == 1.5 and stats["maxValues"]["v"] == 9.0
    assert stats["nullCount"]["v"] == 1 and stats["nullCount"]["k"] == 0


# ------------------------------------------------------------- data skipping

def test_predicate_prunes_files_and_matches_plain_filter(spark, tmp_path):
    t = str(tmp_path / "t")
    # 4 appends with disjoint k-ranges => 4+ files with disjoint stats
    for lo in range(0, 400, 100):
        write_delta(
            _range_df(spark, lo, lo + 100).coalesce(1), t, mode="append"
        )
    full = read_delta(spark, t)
    pruned = read_delta(spark, t, predicate=[("k", ">=", 350)])
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    assert _rows(pruned) == _rows(full.filter(F.col("k") >= 350))
    # equality inside one file's range
    one = read_delta(spark, t, predicate=[("k", "=", 42)])
    assert len(one.inputFiles()) == 1 and one.count() == 1
    # predicate is a REAL filter, not just pruning: rows outside the
    # range never appear even when their file survives pruning
    assert read_delta(spark, t, predicate=[("v", "<", 1.0)]).count() == 1


def test_partition_value_pruning(spark, tmp_path):
    t = str(tmp_path / "t")
    write_delta(_range_df(spark, 0, 50), t, partition_by=("cat",))
    got = read_delta(spark, t, predicate=[("cat", "=", "a")])
    assert all("cat=a" in f for f in got.inputFiles())
    assert got.count() == 25


def test_unprunable_predicates_keep_files(spark, tmp_path):
    t = str(tmp_path / "t")
    write_delta(_range_df(spark, 0, 10).coalesce(1), t)
    # a column with no stats entry (all-NULL string renders fine, but use
    # a column name absent from stats via nested-free schema: drop stats
    # by predicating on a column whose file range DOES contain the value)
    df = read_delta(spark, t, predicate=[("k", ">=", 0)])
    assert df.count() == 10


# ------------------------------------------------------------------ optimize

def test_optimize_compacts_without_data_change(spark, tmp_path):
    t = str(tmp_path / "t")
    for lo in range(0, 60, 10):
        write_delta(_range_df(spark, lo, lo + 10), t, mode="append")
    before_files = len(read_delta(spark, t).inputFiles())
    before_rows = _rows(read_delta(spark, t))
    v = optimize(spark, t)
    after = read_delta(spark, t)
    assert len(after.inputFiles()) < before_files
    assert _rows(after) == before_rows
    hist = delta_history(t)
    assert hist[0]["operation"] == "OPTIMIZE" and hist[0]["version"] == v
    # dataChange: false on every remove/add in the OPTIMIZE commit
    log = os.path.join(t, "_delta_log", f"{v:020d}.json")
    for line in open(log):
        a = json.loads(line)
        for kind in ("add", "remove"):
            if kind in a:
                assert a[kind]["dataChange"] is False
    # time travel to a pre-OPTIMIZE version still works
    assert _rows(read_delta(spark, t, version=0)) == _rows(
        _range_df(spark, 0, 10)
    )


def test_zorder_tightens_skipping(spark, tmp_path):
    t = str(tmp_path / "t")
    # rows arrive ordered by k; queries filter on v2, which is a hash
    # scramble of k, so every arrival-order file spans the full v2 range
    # (skipping is useless) until Z-ORDER re-clusters on (k, v2)
    n = 4000
    df = spark.range(n).select(
        F.col("id").alias("k"),
        ((F.col("id") * 2654435761) % n).cast("double").alias("v2"),
    )
    for lo in range(0, n, n // 8):
        write_delta(
            df.filter(
                (F.col("k") >= lo) & (F.col("k") < lo + n // 8)
            ).coalesce(1),
            t,
            mode="append",
        )
    pred = [("v2", "<", 80.0)]
    before = len(read_delta(spark, t, predicate=pred).inputFiles())
    v = optimize(spark, t, zorder_by=("k", "v2"), target_file_rows=n // 8)
    after_df = read_delta(spark, t, predicate=pred)
    assert len(after_df.inputFiles()) < before
    assert after_df.count() == df.filter(F.col("v2") < 80.0).count()
    assert delta_history(t)[0]["operationParameters"]["zOrderBy"] == json.dumps(
        ["k", "v2"]
    )
    assert latest_version(t) == v


def test_zorder_rejects_string_columns(spark, tmp_path):
    t = str(tmp_path / "t")
    write_delta(_range_df(spark, 0, 10), t)
    with pytest.raises(DeltaUnsupported, match="zorder_by"):
        optimize(spark, t, zorder_by=("cat",))


# ---------------------------------------------------------- schema evolution

def test_merge_schema_append_widens_and_backfills_null(spark, tmp_path):
    t = str(tmp_path / "t")
    write_delta(_range_df(spark, 0, 5), t)
    wide = spark.createDataFrame(
        [(100, "z", 1.0, "extra")], SCHEMA + ", note string"
    )
    # without the flag: loud error (unchanged strictness)
    with pytest.raises(DeltaUnsupported, match="merge_schema"):
        write_delta(wide, t, mode="append")
    write_delta(wide, t, mode="append", merge_schema=True)
    back = read_delta(spark, t)
    assert back.columns == ["k", "cat", "v", "note"]
    got = {r["k"]: r["note"] for r in back.collect()}
    assert got[100] == "extra"
    assert all(got[k] is None for k in range(5))  # old files: NULL
    # narrower frames now append too: missing columns padded with NULL
    write_delta(
        spark.createDataFrame([(200, "q", 2.0)], SCHEMA),
        t,
        mode="append",
        merge_schema=True,
    )
    assert read_delta(spark, t).filter("k = 200").first()["note"] is None
    # type change is never evolution
    with pytest.raises(DeltaUnsupported, match="type"):
        write_delta(
            spark.createDataFrame([(1, "a", 1)], "k bigint, cat string, v bigint"),
            t,
            mode="append",
            merge_schema=True,
        )


def test_overwrite_replaces_schema_with_fresh_metadata(spark, tmp_path):
    t = str(tmp_path / "t")
    write_delta(_range_df(spark, 0, 5), t)
    other = spark.createDataFrame([(1, 2.0)], "a bigint, b double")
    write_delta(other, t, mode="overwrite")
    back = read_delta(spark, t)
    assert back.columns == ["a", "b"]
    assert _rows(back) == [(1, 2.0)]
    # old snapshot still reads with the OLD schema (metaData replay)
    assert read_delta(spark, t, version=0).columns == ["k", "cat", "v"]


# ----------------------------------------------------------------------- CDF

def test_table_changes_derives_inserts_deletes_and_skips_optimize(
    spark, tmp_path
):
    from zeta_etl_spark.sinks.delta_log import table_changes

    t = str(tmp_path / "t")
    write_delta(_range_df(spark, 0, 5), t)                      # v0 insert
    write_delta(_range_df(spark, 5, 8), t, mode="append")       # v1 insert
    v_opt = optimize(spark, t)                                  # v2 no change
    write_delta(_range_df(spark, 100, 102), t, mode="overwrite")  # v3 del+ins

    cdf = table_changes(spark, t, 0)
    by = {
        (r["_commit_version"], r["_change_type"], r["k"])
        for r in cdf.collect()
    }
    assert {(0, "insert", k) for k in range(5)} <= by
    assert {(1, "insert", k) for k in range(5, 8)} <= by
    # OPTIMIZE contributes nothing
    assert not any(v == v_opt for v, _, _ in by)
    # the overwrite deletes the optimized file's rows and inserts the new
    assert {(3, "delete", k) for k in range(8)} <= by
    assert {(3, "insert", k) for k in (100, 101)} <= by
    # range filtering: only the overwrite commit
    only3 = table_changes(spark, t, 3, 3)
    assert only3.count() == 8 + 2
    assert set(only3.select("_change_type").distinct().toPandas()["_change_type"]) == {
        "insert", "delete",
    }
    with pytest.raises(ValueError, match="no log commits"):
        table_changes(spark, t, 99)


def test_table_changes_after_vacuum_is_loud(spark, tmp_path):
    from zeta_etl_spark.sinks.delta_log import table_changes, vacuum

    t = str(tmp_path / "t")
    write_delta(_range_df(spark, 0, 5), t)
    write_delta(_range_df(spark, 5, 6), t, mode="overwrite")
    vacuum(t, retention_ms=0)
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        table_changes(spark, t, 0).collect()


# ----------------------------------------------------------------- OCC races

def test_concurrent_appends_all_land_with_contiguous_versions(spark, tmp_path):
    """8 threads race 2 appends each through the put-if-absent commit
    protocol: every append must land exactly once, versions must be
    contiguous (no holes, no double-claims), and the final snapshot must
    hold every writer's rows."""
    import threading

    from zeta_etl_spark.sinks.delta_log import _list_versions

    t = str(tmp_path / "t")
    write_delta(_range_df(spark, 0, 1), t)  # v0 creates the table
    errors: list[Exception] = []

    def _writer(wid: int) -> None:
        try:
            for j in range(2):
                lo = 100 + wid * 10 + j
                write_delta(
                    _range_df(spark, lo, lo + 1), t, mode="append"
                )
        except Exception as e:  # pragma: no cover - failure path
            errors.append(e)

    threads = [threading.Thread(target=_writer, args=(w,)) for w in range(8)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors
    assert _list_versions(t) == list(range(17))  # v0 + 16 appends
    ks = sorted(r["k"] for r in read_delta(spark, t).collect())
    assert ks == [0] + sorted(
        100 + w * 10 + j for w in range(8) for j in range(2)
    )


# -------------------------------------------------------- pipeline publish

def test_pipeline_publish_delta_mirrors_runs(spark, tmp_path):
    from zeta_etl_spark.plans.graph import Pipeline
    from zeta_etl_spark.sinks.delta_log import delta_history, latest_version

    state = {"hi": 3}
    p = Pipeline("pub", str(tmp_path / "gen"))

    @p.table(name="gold", publish_delta=True, partition_by=("cat",))
    def gold(pl):
        return _range_df(spark, 0, state["hi"])

    p.run(spark)
    d = p.delta_path("gold")
    assert read_delta(spark, d).count() == 3
    state["hi"] = 5
    p.run(spark)
    assert read_delta(spark, d).count() == 5
    # run-level time travel through the Delta log
    assert read_delta(spark, d, version=0).count() == 3
    assert latest_version(d) == 1
    assert delta_history(d)[0]["operationParameters"]["mode"] == "OVERWRITE"
    # partitioned mirror: hive layout under the delta root
    assert os.path.isdir(os.path.join(d, "cat=a"))


def test_pipeline_table_reaches_delta_table_operations(spark, tmp_path):
    """A Pipeline table gets OPTIMIZE/ZORDER, VACUUM, SHALLOW CLONE,
    TIMESTAMP AS OF and its full history from its ``publish_delta``
    mirror — the one place those operations are implemented."""
    from zeta_etl_spark.plans.graph import Pipeline
    from zeta_etl_spark.sinks.delta_log import clone_delta, vacuum

    def rows(df):
        return sorted(tuple(r) for r in df.select("k", "cat", "v").collect())

    state = {"hi": 4}
    p = Pipeline("ops", str(tmp_path / "gen"))

    @p.table(name="t", publish_delta=True, partition_by=("cat",))
    def t(pl):
        return _range_df(spark, 0, state["hi"])

    p.run(spark)
    state["hi"] = 9
    p.run(spark)
    d = p.delta_path("t")
    first, live = rows(_range_df(spark, 0, 4)), rows(_range_df(spark, 0, 9))
    assert rows(read_delta(spark, d)) == live

    hist = delta_history(d)  # newest first
    assert [h["version"] for h in hist] == [1, 0]
    assert hist[0]["timestamp"] > hist[1]["timestamp"]
    assert rows(read_delta(spark, d, timestamp_ms=hist[1]["timestamp"])) == (
        first
    )

    optimize(spark, d, zorder_by=("k", "v"))
    assert delta_history(d)[0]["operation"] == "OPTIMIZE"
    assert rows(read_delta(spark, d)) == live

    clone = str(tmp_path / "clone")
    clone_delta(d, clone, version=0)
    assert rows(read_delta(spark, clone)) == first
    with pytest.raises(ValueError, match="not in table history"):
        clone_delta(d, str(tmp_path / "late"), version=9)
    with pytest.raises(FileNotFoundError, match="not a Delta table"):
        clone_delta(str(tmp_path / "ghost"), str(tmp_path / "x"))

    assert vacuum(d, retention_ms=0)  # superseded files of runs 1 and 2
    assert rows(read_delta(spark, d)) == live


def test_pipeline_publish_delta_rejects_incremental(spark, tmp_path):
    from zeta_etl_spark.plans.graph import Pipeline

    p = Pipeline("pub2", str(tmp_path / "gen"))
    with pytest.raises(ValueError, match="publish_delta"):

        @p.table(name="s", publish_delta=True, incremental=True)
        def s(pl):  # pragma: no cover - declaration must fail
            raise AssertionError


# -------------------------------------------------- incremental consumption

def test_incremental_reader_consumes_appends_once(spark, tmp_path):
    from zeta_etl_spark.sinks.delta_log import (
        DeltaUnsupported,
        read_delta_incremental,
    )

    t = str(tmp_path / "t")
    cur = str(tmp_path / "cursor.json")
    write_delta(_range_df(spark, 0, 3), t)
    df, v = read_delta_incremental(spark, t, cur)
    assert v == 0 and sorted(r["k"] for r in df.collect()) == [0, 1, 2]
    # caught up: nothing new
    df2, v2 = read_delta_incremental(spark, t, cur)
    assert df2 is None and v2 == 0
    # two more appends arrive; one pull covers both commits
    write_delta(_range_df(spark, 3, 5), t, mode="append")
    write_delta(_range_df(spark, 5, 6), t, mode="append")
    df3, v3 = read_delta_incremental(spark, t, cur)
    assert v3 == 2 and sorted(r["k"] for r in df3.collect()) == [3, 4, 5]
    assert {r["_commit_version"] for r in df3.collect()} == {1, 2}
    # a second consumer has its own cursor and sees everything
    dfb, _ = read_delta_incremental(spark, t, cur, consumer_id="other")
    assert dfb.count() == 6
    # an overwrite poisons the range: loud, not silent inserts
    write_delta(_range_df(spark, 9, 10), t, mode="overwrite")
    with pytest.raises(DeltaUnsupported, match="deletes"):
        read_delta_incremental(spark, t, cur)


def test_incremental_reader_initial_snapshot_and_cleaned_log(spark, tmp_path):
    from zeta_etl_spark.sinks.delta_log import (
        read_delta_incremental,
        table_changes,
    )

    t = str(tmp_path / "t")
    cur = str(tmp_path / "c.json")
    for lo in range(0, 6, 2):
        write_delta(_range_df(spark, lo, lo + 2), t, mode="append")
    write_checkpoint(t)
    cleanup_log(t)  # commits 0 and 1 are gone
    # CDF over the cleaned range is loud
    with pytest.raises(ValueError, match="cleaned up"):
        table_changes(spark, t, 0)
    # ...but a new consumer bootstraps from the initial snapshot
    df, v = read_delta_incremental(spark, t, cur)
    assert v == 2 and df.count() == 6
    # and continues incrementally from there
    write_delta(_range_df(spark, 6, 7), t, mode="append")
    df2, v2 = read_delta_incremental(spark, t, cur)
    assert v2 == 3 and [r["k"] for r in df2.collect()] == [6]


# ------------------------------------------------------ skipping properties

def test_skipping_never_load_bearing_property(spark, tmp_path):
    """Hypothesis: for random predicates over a multi-file table with
    NULLs, NaNs, negative values and duplicate stats boundaries, the
    stats-pruned read is row-identical to a plain filter over the full
    table — file pruning must never change the answer, only the I/O."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    t = str(tmp_path / "t")
    rows = []
    import math
    for i in range(120):
        v = None if i % 11 == 0 else (
            float("nan") if i % 17 == 0 else (i - 60) * 1.5
        )
        rows.append((i, "abcd"[i % 4], v))
    df = spark.createDataFrame(rows, SCHEMA)
    # 6 files with overlapping-but-distinct ranges
    for lo in range(0, 120, 20):
        write_delta(
            df.filter((F.col("k") >= lo) & (F.col("k") < lo + 20)).coalesce(1),
            t,
            mode="append",
        )
    full = read_delta(spark, t)

    ops = ["=", "<", "<=", ">", ">="]
    spark_op = {
        "=": lambda c, v: c == v, "<": lambda c, v: c < v,
        "<=": lambda c, v: c <= v, ">": lambda c, v: c > v,
        ">=": lambda c, v: c >= v,
    }

    @given(
        col=st.sampled_from(["k", "cat", "v"]),
        op=st.sampled_from(ops),
        pivot=st.integers(min_value=-5, max_value=125),
    )
    @settings(
        max_examples=25,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def check(col, op, pivot):
        lit = {"k": pivot, "cat": "abcd"[pivot % 4], "v": (pivot - 60) * 1.5}[
            col
        ]
        pruned = read_delta(spark, t, predicate=[(col, op, lit)])
        expected = full.filter(spark_op[op](F.col(col), F.lit(lit)))
        # string-render rows: NaN != NaN under tuple equality, but the
        # rendering compares equal — the same convention the sweep uses
        render = lambda df: sorted(str(tuple(r)) for r in df.collect())
        assert render(pruned) == render(expected)

    check()


# ------------------------------------------------------------------- restore

def test_restore_is_metadata_only_and_preserves_history(spark, tmp_path):
    from zeta_etl_spark.sinks.delta_log import restore_table

    t = str(tmp_path / "t")
    write_delta(_range_df(spark, 0, 5), t)                 # v0
    write_delta(_range_df(spark, 5, 8), t, mode="append")  # v1
    wide = spark.createDataFrame([(99, "z", 0.0, "n")], SCHEMA + ", note string")
    write_delta(wide, t, mode="append", merge_schema=True)  # v2 (evolved)
    v = restore_table(t, 0)
    assert v == 3
    back = read_delta(spark, t)
    assert back.columns == ["k", "cat", "v"]  # schema restored too
    assert _rows(back) == _rows(_range_df(spark, 0, 5))
    # history preserved: the pre-restore state is still time-travelable
    assert read_delta(spark, t, version=2).count() == 9
    assert delta_history(t)[0]["operation"] == "RESTORE"
    # restoring after vacuum killed the old files is loud
    write_delta(_range_df(spark, 50, 51), t, mode="overwrite")
    from zeta_etl_spark.sinks.delta_log import vacuum

    vacuum(t, retention_ms=0)
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        restore_table(t, 0)


def test_optimize_where_scopes_to_partition(spark, tmp_path):
    t = str(tmp_path / "t")
    for lo in range(0, 40, 10):
        write_delta(
            _range_df(spark, lo, lo + 10), t, mode="append",
            partition_by=("cat",),
        )
    before = read_delta(spark, t)
    a_files_before = [f for f in before.inputFiles() if "cat=a" in f]
    b_files_before = sorted(f for f in before.inputFiles() if "cat=b" in f)
    optimize(spark, t, where={"cat": "a"})
    after = read_delta(spark, t)
    a_files_after = [f for f in after.inputFiles() if "cat=a" in f]
    b_files_after = sorted(f for f in after.inputFiles() if "cat=b" in f)
    assert len(a_files_after) < len(a_files_before)  # a compacted
    assert b_files_after == b_files_before           # b untouched
    assert _rows(after) == _rows(before)
    with pytest.raises(DeltaUnsupported, match="partition columns"):
        optimize(spark, t, where={"k": "1"})


# ------------------------------------------------- streaming e2e integration

def test_stream_to_delta_to_incremental_consumer_e2e(spark, tmp_path):
    """The full streaming path in the public format: JSON files stream in
    via foreach_batch_delta_append (exactly-once appends through the
    spec's txn action), a downstream consumer pulls with
    read_delta_incremental and maintains a derived aggregate, and a
    crash replay of the INGEST (checkpoint loss) neither duplicates
    table rows nor re-delivers consumer rows."""
    import shutil

    from zeta_etl_spark.sinks.delta_log import (
        foreach_batch_delta_append,
        read_delta_incremental,
    )
    from zeta_etl_spark.sources.json_source import read_json

    src = str(tmp_path / "src")
    t = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    cur = str(tmp_path / "cursor.json")
    os.makedirs(src)

    def _feed(name, lo, hi):
        with open(os.path.join(src, name), "w") as fh:
            for k in range(lo, hi):
                fh.write(json.dumps({"k": k, "v": float(k)}) + "\n")

    def _drain():
        foreach_batch_delta_append(
            read_json(spark, src, "k bigint, v double", streaming=True),
            t,
            ckpt,
            app_id="e2e",
        )

    state = {}  # consumer's derived aggregate: k -> v

    def _consume():
        df, _v = read_delta_incremental(spark, t, cur, consumer_id="agg")
        if df is not None:
            for r in df.collect():
                assert r["k"] not in state, "duplicate delivery"
                state[r["k"]] = r["v"]

    _feed("b1.json", 0, 5)
    _drain()
    _consume()
    assert sorted(state) == list(range(5))
    # ingest crash: the stream checkpoint is lost, the SAME files replay
    # as batch 0 — the table's txn action detects and skips the replay.
    # (NOTE, and this is spec-consistent with Delta's txnAppId dedup: if
    # NEW files had landed before the post-crash drain, they would ride
    # the replayed batch 0 and be skipped with it — a checkpoint reset
    # must drain before new data arrives or switch appId.)
    shutil.rmtree(ckpt)
    _drain()
    assert read_delta(spark, t).count() == 5  # replay skipped, no dupes
    # normal operation resumes: new files arrive as a NEW batch id
    _feed("b2.json", 5, 8)
    _drain()
    _consume()
    assert sorted(state) == list(range(8))
    assert read_delta(spark, t).count() == 8  # no duplicates in the table
    # caught-up pull is a no-op
    _consume()
    assert sorted(state) == list(range(8))


# ------------------------------------------------------- review regressions

def test_strict_op_pruning_is_exact_above_2_53(spark, tmp_path):
    # int stats must never round through float: 2^53 and 2^53+1 collide
    # as doubles, which would let a strict < wrongly prune the file
    t = str(tmp_path / "t")
    big = 2**53
    write_delta(
        spark.createDataFrame([(big, "a", 1.0)], SCHEMA).coalesce(1), t
    )
    got = read_delta(spark, t, predicate=[("k", "<", big + 1)])
    assert got.count() == 1  # the boundary row survives


def test_zorder_handles_date_columns(spark, tmp_path):
    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, f"2024-01-{(i % 27) + 1:02d}", float(i)) for i in range(40)],
        "k bigint, d string, v double",
    ).select("k", F.col("d").cast("date").alias("d"), "v")
    for lo in range(0, 40, 10):
        write_delta(
            df.filter((F.col("k") >= lo) & (F.col("k") < lo + 10)),
            t,
            mode="append",
        )
    v = optimize(spark, t, zorder_by=("d", "v"))
    assert delta_history(t)[0]["version"] == v
    assert read_delta(spark, t).count() == 40


def test_optimize_where_rejects_non_string_values(spark, tmp_path):
    t = str(tmp_path / "t")
    write_delta(_range_df(spark, 0, 10), t, partition_by=("cat",))
    with pytest.raises(DeltaUnsupported, match="hive-encoded"):
        optimize(spark, t, where={"cat": True})


def test_concurrent_schema_evolutions_union_not_clobber(spark, tmp_path):
    """An OCC retry must commit the UNION of the table's current schema
    and the writer's frame — not a schema built from a stale snapshot.
    Simulated by squatting the version the second writer would take."""
    t = str(tmp_path / "t")
    write_delta(_range_df(spark, 0, 3), t)
    # writer 1 evolves with column x
    w1 = spark.createDataFrame([(10, "a", 1.0, 7)], SCHEMA + ", x bigint")
    write_delta(w1, t, mode="append", merge_schema=True)
    # writer 2 evolves with column y — its commit must keep x in the
    # schema even though (in a real race) it planned against version 0
    w2 = spark.createDataFrame([(11, "b", 2.0, "s")], SCHEMA + ", y string")
    write_delta(w2, t, mode="append", merge_schema=True)
    back = read_delta(spark, t)
    assert set(back.columns) == {"k", "cat", "v", "x", "y"}
    row = {r["k"]: r for r in back.collect()}
    assert row[10]["x"] == 7 and row[10]["y"] is None
    assert row[11]["y"] == "s" and row[11]["x"] is None


def test_incremental_two_phase_commit_redelivers_on_crash(spark, tmp_path):
    from zeta_etl_spark.sinks.delta_log import (
        commit_cursor,
        read_delta_incremental,
    )

    t = str(tmp_path / "t")
    cur = str(tmp_path / "c.json")
    write_delta(_range_df(spark, 0, 3), t)
    # consumer reads but CRASHES before persisting: cursor untouched
    df, v = read_delta_incremental(spark, t, cur, auto_commit=False)
    assert df.count() == 3
    # restart: the same range is re-delivered (at-least-once)
    df2, v2 = read_delta_incremental(spark, t, cur, auto_commit=False)
    assert v2 == v and df2.count() == 3
    commit_cursor(cur, "default", v2)
    df3, _ = read_delta_incremental(spark, t, cur, auto_commit=False)
    assert df3 is None  # now durably consumed


# ------------------------------- stats soundness for NaN / naive timestamps

def test_nan_blind_footer_stats_never_prune_upper_ops(spark, tmp_path):
    """r11 advisor repro: pyarrow writes NaN-IGNORING min/max footer stats,
    but Spark orders NaN larger than every value — a '>' predicate above
    the recorded max must NOT prune the file whose NaN rows match."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from zeta_etl_spark.sinks.delta_log import convert_parquet_to_delta

    t = str(tmp_path / "ext")
    os.makedirs(t)
    pq.write_table(
        pa.table({"k": [1, 2, 3], "v": [1.0, 2.0, float("nan")]}),
        os.path.join(t, "part-0.parquet"),
    )
    convert_parquet_to_delta(spark, t)
    # footer stats exist and are NaN-blind (max records 2.0, not NaN)
    add = next(
        json.loads(l)["add"]
        for l in open(os.path.join(t, "_delta_log", f"{0:020d}.json"))
        if '"add"' in l
    )
    stats = json.loads(add["stats"])
    assert stats["maxValues"]["v"] == 2.0
    sql_lit = {100.0: "100.0", None: "cast('nan' as double)"}
    # NOTE: Spark's own parquet pushdown row-group-prunes on the SAME
    # NaN-blind footer stats (pyarrow violates the parquet spec by writing
    # min/max with NaN present), so the plain filter loses the NaN row too
    # unless pushdown is off.  Disable it so the test isolates THIS
    # module's file-level pruning, which must keep the file.
    spark.conf.set("spark.sql.parquet.filterPushdown", "false")
    try:
        for op, lit in ((">", 100.0), (">=", 100.0), ("=", float("nan"))):
            pruned = read_delta(spark, t, predicate=[("v", op, lit)])
            assert len(pruned.inputFiles()) == 1, (op, lit)  # file kept
            rendered = sql_lit[None if lit != lit else lit]
            plain = read_delta(spark, t).filter(F.expr(f"v {op} {rendered}"))
            # string-render: NaN != NaN under tuple equality
            srows = lambda df: sorted(str(tuple(r)) for r in df.collect())
            assert srows(pruned) == srows(plain), (op, lit)
            assert pruned.count() == 1, (op, lit)  # the NaN row survives
        # lower-bound ops stay prunable AND correct: no NaN satisfies them
        assert read_delta(spark, t, predicate=[("v", "<", 1.5)]).count() == 1
    finally:
        spark.conf.set("spark.sql.parquet.filterPushdown", "true")


def test_naive_timestamp_literal_never_prunes(spark, tmp_path):
    """Naive timestamp literals are interpreted in the SESSION time zone by
    Spark but footer stats carry instants — pruning must refuse rather
    than assume UTC.  The predicate still applies as a real filter."""
    from datetime import datetime

    t = str(tmp_path / "ts")
    df = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 0, 0)), (2, datetime(2024, 6, 1, 0, 0))],
        "k bigint, ts timestamp",
    )
    write_delta(df.coalesce(1), t)
    got = read_delta(
        spark, t, predicate=[("ts", ">", datetime(2024, 3, 1, 0, 0))]
    )
    # no pruning claimed (file survives) and the filter is exact
    assert got.count() == 1
    assert [r["k"] for r in got.collect()] == [2]
