"""Native-format Delta MERGE (sinks/delta_log.py merge_delta): the clause
matrix on remove+add dataChange commits, key-range/partition file pruning,
OCC under concurrent merges, spec cdc actions + Change Data Feed
reconstruction, CDF-mode incremental consumption, and the streaming CDC
upsert sink (foreach_batch_delta_upsert) with tombstones and crash replay.

Closes the r10 verdict's top ask: the reference's apply_changes-into-Delta
topology (zetaflex-pipeline.py:146-151) now lands in the PUBLIC format."""

from __future__ import annotations

import json
import os
import threading

import pytest
from pyspark.sql import functions as F

from zeta_etl_spark.sinks.delta_log import (
    DeltaUnsupported,
    delta_history,
    latest_version,
    merge_delta,
    read_delta,
    read_delta_incremental,
    table_changes,
    write_delta,
)

SCHEMA = "k bigint, cat string, v double"


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _base(spark, t, n=10, partitioned=True):
    df = _df(spark, [(i, "ab"[i % 2], float(i)) for i in range(n)])
    write_delta(df, t, partition_by=("cat",) if partitioned else ())
    return df


# ------------------------------------------------------------ clause matrix

def test_merge_update_delete_insert_matrix(spark, tmp_path):
    t = str(tmp_path / "t")
    _base(spark, t)
    src = _df(spark, [(5, "b", 50.0), (6, "a", 60.0), (12, "a", 120.0)])
    m = merge_delta(
        spark,
        t,
        src,
        on=["k"],
        when_matched_update="*",
        when_matched_delete=True,
        delete_condition="s.k = 6",
        when_not_matched_insert="*",
    )
    assert (m["rows_updated"], m["rows_deleted"], m["rows_inserted"]) == (
        1,
        1,
        1,
    )
    expect = sorted(
        [(i, "ab"[i % 2], float(i)) for i in range(10) if i not in (5, 6)]
        + [(5, "b", 50.0), (12, "a", 120.0)]
    )
    assert _rows(read_delta(spark, t)) == expect
    # remove+add with dataChange: true; history records MERGE
    hist = delta_history(t)
    assert hist[0]["operation"] == "MERGE"
    log = os.path.join(t, "_delta_log", f"{m['version']:020d}.json")
    kinds = {"add": 0, "remove": 0, "cdc": 0}
    for line in open(log):
        a = json.loads(line)
        for kind in kinds:
            if kind in a:
                kinds[kind] += 1
                if kind != "cdc":
                    assert a[kind]["dataChange"] is True
    assert kinds["remove"] > 0 and kinds["add"] > 0 and kinds["cdc"] > 0
    # time travel to the pre-merge snapshot still works
    assert _rows(read_delta(spark, t, version=0)) == _rows(
        _df(spark, [(i, "ab"[i % 2], float(i)) for i in range(10)])
    )


def test_merge_dict_clauses_and_conditions(spark, tmp_path):
    t = str(tmp_path / "t")
    _base(spark, t, partitioned=False)
    src = _df(spark, [(3, "z", 30.0), (4, "z", 40.0), (11, "z", 110.0)])
    merge_delta(
        spark,
        t,
        src,
        on=["k"],
        when_matched_update={"v": "t.v + s.v"},
        update_condition="s.k = 3",  # k=4 matched but unclaimed: copied
        when_not_matched_insert={"k": "s.k", "v": "s.v"},  # cat -> NULL
    )
    got = {r["k"]: (r["cat"], r["v"]) for r in read_delta(spark, t).collect()}
    assert got[3] == ("b", 33.0)  # updated expr, cat untouched
    assert got[4] == ("a", 4.0)  # matched, unclaimed, copied
    assert got[11] == (None, 110.0)  # inserted, unlisted column NULL


def test_merge_duplicate_source_keys_rejected(spark, tmp_path):
    t = str(tmp_path / "t")
    _base(spark, t)
    src = _df(spark, [(5, "b", 1.0), (5, "b", 2.0)])
    with pytest.raises(ValueError, match="duplicate"):
        merge_delta(
            spark, t, src, on=["k"], when_matched_update="*",
            when_not_matched_insert="*",
        )


def test_merge_noop_source_commits_nothing(spark, tmp_path):
    t = str(tmp_path / "t")
    _base(spark, t)
    v0 = latest_version(t)
    # no key overlap and no insert clause: nothing to do, no empty commit
    src = _df(spark, [(99, "a", 1.0)])
    m = merge_delta(spark, t, src, on=["k"], when_matched_update="*")
    assert m["version"] == v0 and latest_version(t) == v0


# ------------------------------------------------------------- file pruning

def test_merge_prunes_untouched_files(spark, tmp_path):
    t = str(tmp_path / "t")
    # four appends with disjoint k-ranges => disjoint per-file stats
    for lo in range(0, 400, 100):
        write_delta(
            _df(
                spark,
                [(i, "ab"[i % 2], float(i)) for i in range(lo, lo + 100)],
            ).coalesce(1),
            t,
            mode="append",
        )
    before = set(read_delta(spark, t).inputFiles())
    src = _df(spark, [(350, "a", -1.0), (399, "b", -2.0)])
    m = merge_delta(
        spark, t, src, on=["k"], when_matched_update="*",
        when_not_matched_insert="*",
    )
    assert m["files_removed"] == 1 and m["files_pruned"] == 3
    after = set(read_delta(spark, t).inputFiles())
    # the three untouched files survive BY IDENTITY (no rewrite, no I/O)
    assert len(before & after) == 3
    # and no remove action exists for them
    log = os.path.join(t, "_delta_log", f"{m['version']:020d}.json")
    removed = [
        json.loads(l)["remove"]["path"] for l in open(log) if '"remove"' in l
    ]
    assert len(removed) == 1
    got = {r["k"]: r["v"] for r in read_delta(spark, t).collect()}
    assert got[350] == -1.0 and got[399] == -2.0 and got[0] == 0.0


def test_merge_partition_tuple_pruning(spark, tmp_path):
    t = str(tmp_path / "t")
    _base(spark, t, n=100)
    # partition col IS a join key: only cat=b files are touched
    src = spark.createDataFrame(
        [("b", 1.0)], "cat string, bump double"
    ).select(F.col("cat"), F.lit(101).cast("bigint").alias("k"),
             F.lit(500.0).alias("v")).select("k", "cat", "v")
    m = merge_delta(
        spark, t, src, on=["cat", "k"], when_not_matched_insert="*",
    )
    log = os.path.join(t, "_delta_log", f"{m['version']:020d}.json")
    adds = [json.loads(l)["add"] for l in open(log) if '"add"' in l]
    # the insert lands only in cat=b; no cat=a file was removed
    assert all(a["partitionValues"] == {"cat": "b"} for a in adds)


# ----------------------------------------------------------------------- OCC

def test_concurrent_merges_both_land(spark, tmp_path):
    t = str(tmp_path / "t")
    _base(spark, t, n=20, partitioned=False)
    errs = []

    def _do(k, val):
        try:
            merge_delta(
                spark,
                t,
                _df(spark, [(k, "x", val)]),
                on=["k"],
                when_matched_update="*",
                when_not_matched_insert="*",
                max_retries=20,
            )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [
        threading.Thread(target=_do, args=(100 + i, float(i)))
        for i in range(4)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    got = {r["k"]: r["v"] for r in read_delta(spark, t).collect()}
    for i in range(4):
        assert got[100 + i] == float(i)  # no lost updates
    assert len(got) == 24


# ------------------------------------------------------------ CDF / cdc path

def test_merge_cdf_exact_changes_no_copied_rows(spark, tmp_path):
    t = str(tmp_path / "t")
    _base(spark, t)
    src = _df(spark, [(5, "b", 50.0), (6, "a", 60.0), (12, "a", 120.0)])
    m = merge_delta(
        spark,
        t,
        src,
        on=["k"],
        when_matched_update="*",
        update_condition="s.k = 5",
        when_matched_delete=True,
        delete_condition="s.k = 6",
        when_not_matched_insert="*",
    )
    feed = table_changes(spark, t, m["version"], m["version"])
    got = sorted(
        (r["_change_type"], r["k"], r["v"]) for r in feed.collect()
    )
    # copied-through rows of the rewritten files appear NOWHERE
    assert got == [
        ("delete", 6, 6.0),
        ("insert", 12, 120.0),
        ("update_postimage", 5, 50.0),
        ("update_preimage", 5, 5.0),
    ]
    assert {r["_commit_version"] for r in feed.collect()} == {m["version"]}
    # the change files live under _change_data/ and ride cdc actions
    log = os.path.join(t, "_delta_log", f"{m['version']:020d}.json")
    cdc = [json.loads(l)["cdc"] for l in open(log) if '"cdc"' in l]
    assert cdc and all(c["path"].startswith("_change_data/") for c in cdc)
    assert all(c["dataChange"] is False for c in cdc)
    # pre-merge commits still derive from add/remove (insert at v0)
    v0 = table_changes(spark, t, 0, 0)
    assert v0.filter(F.col("_change_type") == "insert").count() == 10


def test_incremental_cdf_mode_delivers_merge_changes(spark, tmp_path):
    t = str(tmp_path / "t")
    cur = str(tmp_path / "cursor.json")
    _base(spark, t, n=4, partitioned=False)
    # bootstrap: initial snapshot arrives as inserts
    df, v = read_delta_incremental(spark, t, cur, mode="cdf")
    assert df.count() == 4
    assert set(df.select("_change_type").distinct().toPandas()[
        "_change_type"
    ]) == {"insert"}
    # a merge lands update+delete; cdf mode delivers them, appends raises
    merge_delta(
        spark,
        t,
        _df(spark, [(0, "a", 99.0), (1, "b", -1.0)]),
        on=["k"],
        when_matched_update="*",
        update_condition="s.k = 0",
        when_matched_delete=True,
        delete_condition="s.k = 1",
    )
    # the SAME consumer in appends mode refuses the range loudly (a NEW
    # consumer would just bootstrap from the current snapshot)
    with pytest.raises(DeltaUnsupported, match="cdf"):
        read_delta_incremental(spark, t, cur, mode="appends")
    df2, v2 = read_delta_incremental(spark, t, cur, mode="cdf")
    got = sorted((r["_change_type"], r["k"]) for r in df2.collect())
    assert got == [
        ("delete", 1),
        ("update_postimage", 0),
        ("update_preimage", 0),
    ]
    # caught up
    df3, _ = read_delta_incremental(spark, t, cur, mode="cdf")
    assert df3 is None


# ------------------------------------------------------------ schema paths

def test_merge_schema_evolution_star(spark, tmp_path):
    t = str(tmp_path / "t")
    _base(spark, t, n=4, partitioned=False)
    src = spark.createDataFrame(
        [(2, "a", 20.0, "tag2"), (9, "b", 90.0, "tag9")],
        SCHEMA + ", label string",
    )
    merge_delta(
        spark,
        t,
        src,
        on=["k"],
        when_matched_update="*",
        when_not_matched_insert="*",
        schema_evolution=True,
    )
    got = {r["k"]: r["label"] for r in read_delta(spark, t).collect()}
    assert got[2] == "tag2" and got[9] == "tag9"
    assert got[0] is None  # pre-evolution rows read NULL


def test_merge_extra_source_columns(spark, tmp_path):
    t = str(tmp_path / "t")
    _base(spark, t, n=4, partitioned=False)
    src = spark.createDataFrame(
        [(2, True), (3, False)], "k bigint, flag boolean"
    )
    # '*' clauses refuse extra columns without evolution (Delta's rule)
    with pytest.raises(DeltaUnsupported, match="schema_evolution"):
        merge_delta(
            spark, t, src, on=["k"], when_matched_update="*",
        )
    # dict clauses may REFERENCE them without widening the table
    merge_delta(
        spark,
        t,
        src,
        on=["k"],
        when_matched_update={"v": "t.v * 10"},
        update_condition="s.flag",
    )
    got = {r["k"]: r["v"] for r in read_delta(spark, t).collect()}
    assert got[2] == 20.0 and got[3] == 3.0
    assert "flag" not in read_delta(spark, t).columns


# -------------------------------------------------- streaming CDC upsert e2e

def test_streaming_upsert_tombstones_crash_replay_e2e(spark, tmp_path):
    """Stream of CDC events (op column, tombstones) -> merge_delta commits
    on the native format -> final table equals the batch twin
    (latest_by_keys_with_deletes over ALL events), surviving an ingest
    crash replay, and the CDF reconstructs the row-level story."""
    import shutil

    from zeta_etl_spark.operators.cdc import latest_by_keys_with_deletes
    from zeta_etl_spark.sinks.delta_log import foreach_batch_delta_upsert
    from zeta_etl_spark.sources.json_source import read_json

    src = str(tmp_path / "src")
    t = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    schema = "k bigint, v double, seq bigint, op string"
    all_events: list[dict] = []

    def _feed(name, events):
        all_events.extend(events)
        with open(os.path.join(src, name), "w") as fh:
            for e in events:
                fh.write(json.dumps(e) + "\n")

    def _drain():
        foreach_batch_delta_upsert(
            read_json(spark, src, schema, streaming=True),
            t,
            ckpt,
            app_id="cdc-e2e",
            keys=["k"],
            sequence_by=["seq"],
            apply_as_deletes="op = 'd'",
        )

    def _twin():
        events = spark.createDataFrame(
            [tuple(e[c] for c in ("k", "v", "seq", "op")) for e in all_events],
            schema,
        )
        return latest_by_keys_with_deletes(
            events, ["k"], ["seq"], "op = 'd'"
        )

    # batch 1: inserts (one key arrives twice; latest seq wins)
    _feed(
        "b1.json",
        [
            {"k": 1, "v": 1.0, "seq": 1, "op": "u"},
            {"k": 2, "v": 2.0, "seq": 1, "op": "u"},
            {"k": 2, "v": 2.5, "seq": 2, "op": "u"},
            {"k": 3, "v": 3.0, "seq": 1, "op": "u"},
        ],
    )
    _drain()
    assert _rows(read_delta(spark, t).select("k", "v", "seq", "op")) == _rows(
        _twin()
    )
    # ingest crash: stream checkpoint lost, batch replays — txn dedup skips
    shutil.rmtree(ckpt)
    _drain()
    assert read_delta(spark, t).count() == 3
    # batch 2: update k=1, tombstone k=2, insert k=4, tombstone for a key
    # never seen (k=9 — must insert NOTHING)
    _feed(
        "b2.json",
        [
            {"k": 1, "v": 10.0, "seq": 5, "op": "u"},
            {"k": 2, "v": 0.0, "seq": 5, "op": "d"},
            {"k": 4, "v": 4.0, "seq": 5, "op": "u"},
            {"k": 9, "v": 0.0, "seq": 5, "op": "d"},
        ],
    )
    _drain()
    final = read_delta(spark, t).select("k", "v", "seq", "op")
    assert _rows(final) == _rows(_twin())
    assert sorted(r["k"] for r in final.collect()) == [1, 3, 4]
    # CDF of the merge commit: row-level story, no copied rows
    v = latest_version(t)
    feed = table_changes(spark, t, v, v)
    got = sorted((r["_change_type"], r["k"]) for r in feed.collect())
    assert got == [
        ("delete", 2),
        ("insert", 4),
        ("update_postimage", 1),
        ("update_preimage", 1),
    ]
    # resurrection: a later non-delete row re-inserts a tombstoned key
    _feed("b3.json", [{"k": 2, "v": 22.0, "seq": 9, "op": "u"}])
    _drain()
    assert _rows(read_delta(spark, t).select("k", "v", "seq", "op")) == _rows(
        _twin()
    )


@pytest.mark.parametrize("deletes", [True, False], ids=["deletes", "upserts"])
def test_streaming_upsert_late_rows_never_overwrite_newer(
    spark, tmp_path, deletes
):
    """A late row (older sequence than the stored one) must neither update
    nor delete the key: the sink equals its batch twin
    latest_by_keys_with_deletes over all events, whatever the arrival
    order."""
    from zeta_etl_spark.operators.cdc import latest_by_keys_with_deletes
    from zeta_etl_spark.sinks.delta_log import foreach_batch_delta_upsert
    from zeta_etl_spark.sources.json_source import read_json

    src = str(tmp_path / "src")
    t = str(tmp_path / "t")
    os.makedirs(src)
    schema = "k bigint, v double, seq bigint, op string"
    events = [
        [{"k": k, "v": float(k), "seq": 5, "op": "u"} for k in (1, 2, 3)],
        [
            {"k": 1, "v": 99.0, "seq": 1, "op": "u"},
            {"k": 2, "v": 0.0, "seq": 1, "op": "d" if deletes else "u"},
        ],
    ]
    for i, batch in enumerate(events):
        with open(os.path.join(src, f"b{i}.json"), "w") as fh:
            for e in batch:
                fh.write(json.dumps(e) + "\n")
        foreach_batch_delta_upsert(
            read_json(spark, src, schema, streaming=True),
            t,
            str(tmp_path / "ckpt"),
            app_id="late-rows",
            keys=["k"],
            sequence_by=["seq"],
            apply_as_deletes="op = 'd'" if deletes else None,
        )
    twin = latest_by_keys_with_deletes(
        spark.createDataFrame(
            [tuple(e.values()) for b in events for e in b], schema
        ),
        ["k"],
        ["seq"],
        "op = 'd'",
    )
    got = read_delta(spark, t).select("k", "v", "seq")
    assert _rows(got) == _rows(twin.select("k", "v", "seq"))
    assert _rows(got) == [(1, 1.0, 5), (2, 2.0, 5), (3, 3.0, 5)]


def test_zero_change_merge_commits_nothing(spark, tmp_path):
    """r11 review finding #2: a merge whose conditions claim no row must
    not commit a rewrite — a dataChange:true remove+add with no cdc
    actions would make table_changes fabricate delete+insert rows for
    every copied row of the touched files."""
    t = str(tmp_path / "t")
    _base(spark, t, n=6, partitioned=False)
    v0 = latest_version(t)
    src = _df(spark, [(2, "a", -1.0)])  # matches, but the condition loses
    m = merge_delta(
        spark, t, src, on=["k"],
        when_matched_update="*",
        update_condition="s.v > t.v",  # -1.0 > 2.0 is false
    )
    assert latest_version(t) == v0  # no commit at all
    assert m["rows_updated"] == 0 and m["files_added"] == 0
    # and the CDF over the whole history contains only the v0 inserts
    feed = table_changes(spark, t, 0, v0)
    assert feed.filter(F.col("_change_type") != "insert").count() == 0


def test_incremental_cdf_column_order_consistent(spark, tmp_path):
    """r11 review finding #5: the initial-snapshot batch and later change
    batches must share one column order, so positional consumers never
    swap _change_type/_commit_version."""
    t = str(tmp_path / "t")
    cur = str(tmp_path / "cursor.json")
    _base(spark, t, n=3, partitioned=False)
    first, _ = read_delta_incremental(spark, t, cur, mode="cdf")
    merge_delta(
        spark, t, _df(spark, [(0, "a", 99.0)]), on=["k"],
        when_matched_update="*",
    )
    second, _ = read_delta_incremental(spark, t, cur, mode="cdf")
    assert first.columns == second.columns


# ------------------------------------ metrics parity with the snapshots

DELTA_METRIC_CLAUSES = {
    "delete_update_insert": dict(
        when_matched_delete=True,
        delete_condition="s.v < 0",
        when_matched_update="*",
        update_condition="s.v > t.v",
        when_not_matched_insert="*",
        insert_condition="s.v <> 13",
    ),
    "delete_only": dict(when_matched_delete=True),
    "dict_update_insert": dict(
        when_matched_update={"v": "t.v + s.v"},
        update_condition="s.v < 100 AND s.v <> 0",
        when_not_matched_insert={"k": "s.k", "cat": "s.cat", "v": "s.v"},
        insert_condition="s.v > 0",
    ),
}
DELTA_METRIC_SOURCE = [
    (1, "b", -1.0),
    (2, "a", 100.0),
    (3, "b", 0.0),
    (4, "a", 200.0),
    (12, "a", 5.0),
    (13, "b", 13.0),
    (None, "a", 99.0),
]


@pytest.mark.parametrize("write_cdf", [True, False], ids=["cdf", "no_cdf"])
@pytest.mark.parametrize("clauses", sorted(DELTA_METRIC_CLAUSES))
def test_merge_metrics_equal_snapshot_derived_counts(
    spark, tmp_path, clauses, write_cdf
):
    """The counts observed on the join equal counts read off the before
    and after snapshots (every update in these cases changes its row)."""
    t = str(tmp_path / "t")
    _base(spark, t)
    before = {r.k: tuple(r) for r in read_delta(spark, t).collect()}
    m = merge_delta(
        spark, t, _df(spark, DELTA_METRIC_SOURCE), on=["k"],
        write_cdf=write_cdf, **DELTA_METRIC_CLAUSES[clauses],
    )
    after_rows = read_delta(spark, t).collect()
    after = {r.k: tuple(r) for r in after_rows}
    matched = {k for k, _c, _v in DELTA_METRIC_SOURCE if k in before}
    deleted = sum(1 for k in matched if k not in after)
    updated = sum(1 for k in matched if k in after and after[k] != before[k])
    want = {
        "rows_deleted": deleted,
        "rows_updated": updated,
        "rows_inserted": len(after_rows) - (len(before) - deleted),
        "rows_matched_copied": len(matched) - deleted - updated,
    }
    assert {k: m[k] for k in want} == want
    assert sum(want.values()) > 0
    if write_cdf:
        kinds = [
            r["_change_type"]
            for r in table_changes(spark, t, m["version"], m["version"])
            .collect()
        ]
        assert len(kinds) == deleted + 2 * updated + want["rows_inserted"]
