"""Bucketed merge-based streaming CDC upsert: per-batch cost ∝ touched
key-buckets, latest-wins semantics, replay idempotence, tombstone reads."""

from __future__ import annotations

import json
import os
import shutil

from zeta_etl_spark.sources.json_source import read_json
from zeta_etl_spark.streaming.runner import (
    foreach_batch_merge_upsert,
    read_merge_upsert_table,
)

SCHEMA = "k bigint, ts timestamp, v double, deleted boolean"


def _write_json(path, rows, name):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, name), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _run(spark, src, base, ckpt, metrics, n_buckets=16):
    stream = read_json(spark, src, SCHEMA, streaming=True)
    foreach_batch_merge_upsert(
        stream,
        base,
        "state",
        ckpt,
        keys=["k"],
        sequence_by=["ts"],
        spark=spark,
        n_buckets=n_buckets,
        metrics_out=metrics,
    )


def _state(spark, base):
    return {
        r.k: (r.v, r.deleted)
        for r in read_merge_upsert_table(spark, base, "state").collect()
    }


def test_merge_upsert_latest_wins_and_bucket_pruning(spark, tmp_path):
    src = str(tmp_path / "src")
    base = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    metrics: list = []

    _write_json(
        src,
        [
            {"k": i, "ts": "2024-01-01 00:00:00", "v": float(i),
             "deleted": False}
            for i in range(200)
        ],
        "w1.json",
    )
    _run(spark, src, base, ckpt, metrics)
    assert metrics[-1]["initial_load"] is True
    assert len(_state(spark, base)) == 200

    # small second batch: 3 keys → at most 3 of 16 buckets rewritten,
    # the rest hard-linked (cost ∝ batch, not store)
    _write_json(
        src,
        [
            {"k": 5, "ts": "2024-01-02 00:00:00", "v": 555.0,
             "deleted": False},
            {"k": 7, "ts": "2024-01-02 00:00:00", "v": 777.0,
             "deleted": False},
            {"k": 999, "ts": "2024-01-02 00:00:00", "v": 9.0,
             "deleted": False},
        ],
        "w2.json",
    )
    _run(spark, src, base, ckpt, metrics)
    m = metrics[-1]
    assert m["partition_pruned"] is True
    assert m["touched_partitions"] <= 3
    assert m["linked_partitions"] >= 13
    assert m["rows_updated"] == 2 and m["rows_inserted"] == 1

    st = _state(spark, base)
    assert len(st) == 201
    assert st[5] == (555.0, False) and st[999] == (9.0, False)
    assert st[6] == (6.0, False)  # untouched bucket content intact


def test_merge_upsert_stale_rows_lose_and_replay_idempotent(
    spark, tmp_path
):
    src = str(tmp_path / "src")
    base = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    metrics: list = []

    _write_json(
        src,
        [{"k": 1, "ts": "2024-01-05 00:00:00", "v": 1.0, "deleted": False}],
        "w1.json",
    )
    _run(spark, src, base, ckpt, metrics)
    # older sequence value must NOT overwrite
    _write_json(
        src,
        [{"k": 1, "ts": "2024-01-01 00:00:00", "v": 99.0, "deleted": False}],
        "w2.json",
    )
    _run(spark, src, base, ckpt, metrics)
    assert _state(spark, base)[1] == (1.0, False)
    assert metrics[-1]["rows_updated"] == 0
    assert metrics[-1]["rows_matched_copied"] == 1

    # checkpoint loss → the whole input replays; the >= condition makes
    # the re-merge idempotent (same rows, same result)
    shutil.rmtree(ckpt)
    before = _state(spark, base)
    _run(spark, src, base, ckpt, metrics)
    assert _state(spark, base) == before


def test_merge_upsert_tombstones_filtered_at_read(spark, tmp_path):
    src = str(tmp_path / "src")
    base = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")

    _write_json(
        src,
        [
            {"k": 1, "ts": "2024-01-01 00:00:00", "v": 1.0, "deleted": False},
            {"k": 2, "ts": "2024-01-01 00:00:00", "v": 2.0, "deleted": False},
        ],
        "w1.json",
    )
    _run(spark, src, base, ckpt, [])
    _write_json(
        src,
        [{"k": 2, "ts": "2024-01-02 00:00:00", "v": 0.0, "deleted": True}],
        "w2.json",
    )
    _run(spark, src, base, ckpt, [])

    # tombstone persists in the store (blocks late rows)…
    assert _state(spark, base)[2] == (0.0, True)
    # …and the reader surface filters it
    live = read_merge_upsert_table(
        spark, base, "state", delete_predicate="deleted"
    )
    assert [r.k for r in live.collect()] == [1]
    # a late row OLDER than the delete cannot resurrect the key
    _write_json(
        src,
        [{"k": 2, "ts": "2024-01-01 12:00:00", "v": 22.0, "deleted": False}],
        "w3.json",
    )
    _run(spark, src, base, ckpt, [])
    assert _state(spark, base)[2] == (0.0, True)


def test_merge_upsert_bucket_config_pinned(spark, tmp_path):
    """n_buckets is table identity: a key's bucket is pmod(hash, n); a
    different count on a later run would re-bucket source keys and
    duplicate them on merge — must hard-error, not corrupt."""
    import pytest as _pytest

    src = str(tmp_path / "src")
    base = str(tmp_path / "t")
    _write_json(
        src,
        [{"k": 1, "ts": "2024-01-01 00:00:00", "v": 1.0, "deleted": False}],
        "w1.json",
    )
    _run(spark, src, base, str(tmp_path / "ck1"), [], n_buckets=16)
    _write_json(
        src,
        [{"k": 1, "ts": "2024-01-02 00:00:00", "v": 2.0, "deleted": False}],
        "w2.json",
    )
    with _pytest.raises(Exception, match="layout config changed"):
        _run(spark, src, base, str(tmp_path / "ck2"), [], n_buckets=8)
    # unchanged config proceeds
    _run(spark, src, base, str(tmp_path / "ck3"), [], n_buckets=16)
    assert _state(spark, base)[1] == (2.0, False)


def test_merge_upsert_views_incremental_partitioned(spark, tmp_path):
    """views= spec: the IVM view tracks a full recompute across batches,
    its partition_by flows through to merge pruning (ADVICE r7), and the
    base retains 2 generations so a crash-replay publish cannot vacuum
    the view's anchor."""
    import glob

    from pyspark.sql import functions as F

    from zeta_etl_spark.plans.ivm import full_agg

    src = str(tmp_path / "src")
    base = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    metrics: list = []
    schema = "k bigint, g bigint, ts timestamp, v bigint, deleted boolean"
    views = [
        {
            "name": "agg",
            "group_cols": ["g"],
            "measures": ["v"],
            "delete_predicate": "deleted",
            "partition_by": ["g"],
        }
    ]

    def run():
        stream = read_json(spark, src, schema, streaming=True)
        foreach_batch_merge_upsert(
            stream,
            base,
            "state",
            ckpt,
            keys=["k"],
            sequence_by=["ts"],
            spark=spark,
            n_buckets=8,
            metrics_out=metrics,
            views=views,
        )

    def view_rows():
        import os as _os

        df = spark.read.parquet(_os.path.realpath(_os.path.join(base, "agg")))
        return {(r.g): (r._n, r.v_sum, r.v_n) for r in df.collect()}

    def recompute_rows():
        live = read_merge_upsert_table(
            spark, base, "state", delete_predicate="deleted"
        )
        return {
            (r.g): (r._n, r.v_sum, r.v_n)
            for r in full_agg(live, ["g"], ["v"]).collect()
        }

    _write_json(
        src,
        [
            {"k": i, "g": i % 4, "ts": "2024-01-01 00:00:00", "v": i,
             "deleted": False}
            for i in range(100)
        ],
        "w1.json",
    )
    run()
    assert view_rows() == recompute_rows()

    # small batch touching ONE group: the view merge must prune on g
    _write_json(
        src,
        [
            {"k": 2, "g": 2, "ts": "2024-01-02 00:00:00", "v": 2222,
             "deleted": False},
            {"k": 6, "g": 2, "ts": "2024-01-02 00:00:00", "v": 6666,
             "deleted": True},
        ],
        "w2.json",
    )
    run()
    assert view_rows() == recompute_rows()
    vm = [m for m in metrics if m.get("view") == "agg"][-1]
    assert vm["status"] == "synced"
    assert vm["partition_pruned"] is True
    assert vm["touched_partitions"] == 1

    # third publish: retain_generations=2 keeps current + 2 priors
    _write_json(
        src,
        [{"k": 500, "g": 1, "ts": "2024-01-03 00:00:00", "v": 7,
          "deleted": False}],
        "w3.json",
    )
    run()
    assert view_rows() == recompute_rows()
    gens = sorted(glob.glob(os.path.join(base, "state__gen", "v*")))
    assert len(gens) == 3, gens


def test_merge_upsert_views_minmax_through_stream(spark, tmp_path):
    """views= spec with minmax=: the streaming-maintained view tracks a
    full recompute INCLUDING min/max across insert-only batches (cheap
    least/greatest merge) and a batch that deletes a group's extremum
    (the bounded per-group recompute path)."""
    from zeta_etl_spark.plans.ivm import full_agg

    src = str(tmp_path / "src")
    base = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    schema = "k bigint, g bigint, ts timestamp, v bigint, deleted boolean"
    views = [
        {
            "name": "agg",
            "group_cols": ["g"],
            "measures": ["v"],
            "minmax": ["v"],
            "delete_predicate": "deleted",
            "partition_by": ["g"],
        }
    ]

    def run():
        stream = read_json(spark, src, schema, streaming=True)
        foreach_batch_merge_upsert(
            stream,
            base,
            "state",
            ckpt,
            keys=["k"],
            sequence_by=["ts"],
            spark=spark,
            n_buckets=8,
            views=views,
        )

    def view_rows():
        df = spark.read.parquet(os.path.realpath(os.path.join(base, "agg")))
        return {r.g: (r._n, r.v_sum, r.v_min, r.v_max) for r in df.collect()}

    def recompute_rows():
        live = read_merge_upsert_table(
            spark, base, "state", delete_predicate="deleted"
        )
        return {
            r.g: (r._n, r.v_sum, r.v_min, r.v_max)
            for r in full_agg(live, ["g"], ["v"], minmax=["v"]).collect()
        }

    # batch 1: inserts only — max of group 0 is k=96 (v=96)
    _write_json(
        src,
        [
            {"k": i, "g": i % 4, "ts": "2024-01-01 00:00:00", "v": i,
             "deleted": False}
            for i in range(100)
        ],
        "w1.json",
    )
    run()
    assert view_rows() == recompute_rows()

    # batch 2: insert-only growth — new max for group 1 via least/greatest
    _write_json(
        src,
        [{"k": 501, "g": 1, "ts": "2024-01-02 00:00:00", "v": 9999,
          "deleted": False}],
        "w2.json",
    )
    run()
    assert view_rows() == recompute_rows()
    assert view_rows()[1][3] == 9999

    # batch 3: DELETE group 0's maximum (k=96) — recompute path must find
    # the runner-up (92), not keep the stale extremum
    _write_json(
        src,
        [{"k": 96, "g": 0, "ts": "2024-01-03 00:00:00", "v": 96,
          "deleted": True}],
        "w3.json",
    )
    run()
    assert view_rows() == recompute_rows()
    assert view_rows()[0][3] == 92


def test_merge_change_rows_equal_snapshot_diff(spark, tmp_path):
    """The change rows a merge hands back (``keep_changes``) equal the
    relational ``table_changes(v, v+1)`` row for row, minus its version
    columns — over seeded batches of updates, inserts, identical
    re-deliveries, stale rows, tombstones and NULL group values."""
    import random

    from pyspark.sql import functions as F

    from zeta_etl_spark.operators.merge_kernel import Pins
    from zeta_etl_spark.plans.graph import Pipeline

    schema = "k bigint, g bigint, seq bigint, v bigint, deleted boolean"
    rng = random.Random(7)
    live: dict[int, tuple] = {}

    def row(k, seq):
        return (k, rng.choice([0, 1, 2, None]), seq, rng.randrange(100),
                rng.random() < 0.2)

    first = [row(k, 0) for k in range(40)]
    live.update({r[0]: r for r in first})
    p = Pipeline("chg", str(tmp_path / "t"), retain_generations=2)

    @p.table(name="state")
    def _state(pl):
        return spark.createDataFrame(first, schema)

    p.run(spark, targets=["state"])

    def changes_of(df):
        return sorted(
            (tuple(r) for r in df.select(*sorted(df.columns)).collect()),
            key=repr,
        )

    kinds = set()
    for seq in range(1, 6):
        batch = {}
        for k in rng.sample(sorted(live), 8):  # updates
            batch[k] = row(k, seq)
        for k in rng.sample(sorted(live), 3):  # identical re-deliveries
            batch[k] = live[k]
        for k in rng.sample(sorted(live), 2):  # stale rows: must lose
            batch[k] = (k, 9, -1, 9, False)
        for k in range(100 * seq, 100 * seq + 4):  # inserts
            batch[k] = row(k, seq)
        src = spark.createDataFrame(list(batch.values()), schema)
        with Pins() as pins:
            m = p.merge_into(
                spark, "state", src, on=["k"],
                when_matched_update="*", update_condition="s.seq >= t.seq",
                when_not_matched_insert="*", keep_changes=pins,
            )
            got = m["changes"]
            want = p.table_changes(
                spark, "state", m["read_generation"], m["generation"],
                keys=["k"],
            ).drop("_from_version", "_to_version")
            assert changes_of(got) == changes_of(want)
            # and under the tombstone filter a view applies
            live_only = "NOT coalesce(deleted, false)"
            assert changes_of(got.where(live_only)) == changes_of(
                want.where(live_only)
            )
            kinds |= {r[0] for r in got.select("_change_type").collect()}
            assert got.where(F.col("g").isNull()).count() == want.where(
                F.col("g").isNull()
            ).count()
        for k, r in batch.items():
            if k not in live or r[2] >= live[k][2]:
                live[k] = r
    assert kinds == {"insert", "update_preimage", "update_postimage"}
    final = spark.read.parquet(os.path.realpath(p.path("state")))
    assert sorted(
        (tuple(r) for r in final.select("k", "g", "seq", "v", "deleted")
         .collect()),
        key=repr,
    ) == sorted(live.values(), key=repr)


def test_merge_upsert_views_fold_the_merge_change_rows(
    spark, tmp_path, monkeypatch
):
    """Steady-state batches fold every view from the base merge's own
    change rows: the relational snapshot diff never runs, and the views
    still equal a full recompute."""
    from zeta_etl_spark.plans.graph import Pipeline
    from zeta_etl_spark.plans.ivm import full_agg

    diffs = []
    real = Pipeline.table_changes

    def spy(self, *a, **kw):
        diffs.append(a)
        return real(self, *a, **kw)

    monkeypatch.setattr(Pipeline, "table_changes", spy)
    src = str(tmp_path / "src")
    base = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    metrics: list = []
    schema = "k bigint, g bigint, ts timestamp, v bigint, deleted boolean"
    views = [
        {"name": "agg", "group_cols": ["g"], "measures": ["v"],
         "minmax": ["v"], "delete_predicate": "deleted"},
        {"name": "cnt", "group_cols": ["deleted"], "measures": ["v"]},
    ]

    def run():
        stream = read_json(spark, src, schema, streaming=True)
        foreach_batch_merge_upsert(
            stream, base, "state", ckpt, keys=["k"], sequence_by=["ts"],
            spark=spark, n_buckets=4, metrics_out=metrics, views=views,
        )

    _write_json(
        src,
        [{"k": i, "g": i % 3, "ts": "2024-01-01 00:00:00", "v": i,
          "deleted": False} for i in range(30)],
        "w1.json",
    )
    run()
    batches = [
        [{"k": 3, "g": None, "ts": "2024-01-02 00:00:00", "v": 33,
          "deleted": False},
         {"k": 31, "g": 1, "ts": "2024-01-02 00:00:00", "v": 1,
          "deleted": False}],
        [{"k": 27, "g": 0, "ts": "2024-01-03 00:00:00", "v": 27,
          "deleted": True},
         {"k": 5, "g": 2, "ts": "2024-01-01 00:00:00", "v": 5,
          "deleted": False}],  # identical re-delivery
        [{"k": 5, "g": 2, "ts": "2024-01-01 00:00:00", "v": 5,
          "deleted": False}],  # only a re-delivery: an empty change
    ]
    for i, rows in enumerate(batches):
        _write_json(src, rows, f"w{i + 2}.json")
        run()
        live = read_merge_upsert_table(spark, base, "state")
        for v in views:
            got = spark.read.parquet(
                os.path.realpath(os.path.join(base, v["name"]))
            )
            cols = sorted(got.columns)
            rel = live
            if v.get("delete_predicate"):
                rel = live.where(
                    f"NOT coalesce({v['delete_predicate']}, false)"
                )
            want = full_agg(rel, v["group_cols"], v["measures"],
                            minmax=v.get("minmax", ()))
            assert sorted(map(repr, got.select(*cols).collect())) == sorted(
                map(repr, want.select(*cols).collect())
            )
    assert diffs == []
    statuses = [m["status"] for m in metrics if "view" in m]
    assert statuses[-2:] == ["advanced_empty_gap"] * 2
    assert statuses.count("synced") == 4
