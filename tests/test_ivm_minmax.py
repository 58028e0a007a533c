"""Hybrid MIN/MAX view maintenance: insert-only groups merge with
least/greatest (pure delta cost); retraction-touched groups recompute
their extrema from the current base snapshot, bounded by those groups'
rows.  Contract: for any v1 → v2,

    maintain_agg_view(full_agg(v1, minmax=M), table_changes(v1, v2),
                      minmax=M, base_current=v2) == full_agg(v2, minmax=M)

including deleted extrema, NULL groups/measures, group-moving updates,
and insert-only batches that must NOT need base access at all.
"""

from __future__ import annotations

import os
import random

import pytest

from pyspark.sql import functions as F

from zeta_etl_spark.plans.graph import Pipeline
from zeta_etl_spark.plans.ivm import (
    expose_view,
    full_agg,
    maintain_agg_view,
    seed_agg_view,
    sync_agg_view,
)

SCHEMA = "k int, grp string, qty int"

V1 = [
    (1, "a", 10),
    (2, "a", 99),   # group a's max — deleted in v2
    (3, "b", 5),    # group b's min — deleted in v2
    (4, "b", 30),
    (5, None, 7),   # NULL group is a real group
    (6, "c", None), # all-NULL measure group
]
# v2: delete k=2 (a's max gone), delete k=3 (b's min gone), update k=4,
# insert k=7 into a (new max), insert k=8 new group d, keep 1/5/6
V2 = [
    (1, "a", 10),
    (4, "b", 25),
    (5, None, 7),
    (6, "c", None),
    (7, "a", 120),
    (8, "d", 4),
]


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _rows(df):
    return sorted(tuple(repr(v) for v in r) for r in df.collect())


def _setup(spark, tmp_path, v1_rows):
    p = Pipeline("ivmm", str(tmp_path / "t"))

    @p.table(name="base")
    def base(pl):
        return _df(spark, v1_rows)

    @p.table(name="view")
    def view(pl):
        return full_agg(pl.read("base"), ["grp"], ["qty"], minmax=["qty"])

    p.run(spark, targets=["base", "view"])
    return p


def _advance_and_maintain(spark, p, v2_rows):
    p._write_overwrite_atomic(p.nodes["base"], _df(spark, v2_rows))
    cdf = p.table_changes(spark, "base", 1, 2, keys=["k"])
    return maintain_agg_view(
        spark,
        p,
        "view",
        cdf,
        ["grp"],
        ["qty"],
        minmax=["qty"],
        base_current=_df(spark, v2_rows),
    )


def test_deleted_extrema_recompute(spark, tmp_path):
    p = _setup(spark, tmp_path, V1)
    _advance_and_maintain(spark, p, V2)
    maintained = spark.read.parquet(os.path.realpath(p.path("view")))
    recomputed = full_agg(_df(spark, V2), ["grp"], ["qty"], minmax=["qty"])
    assert _rows(maintained) == _rows(recomputed)
    by = {r.grp: r for r in maintained.collect()}
    # a: max 99 was deleted but 120 arrived; min stayed 10
    assert by["a"].qty_min == 10 and by["a"].qty_max == 120
    # b: min 5 deleted, remaining row updated to 25 — recompute path
    assert by["b"].qty_min == 25 and by["b"].qty_max == 25
    # c: all-NULL measure group keeps NULL extrema
    assert by["c"].qty_min is None and by["c"].qty_max is None
    # d: brand-new group
    assert by["d"].qty_min == 4 and by["d"].qty_max == 4


def test_insert_only_batch_needs_no_base(spark, tmp_path):
    """An insert-only change batch merges extrema with least/greatest —
    maintain must succeed WITHOUT base_current."""
    p = _setup(spark, tmp_path, V1)
    v2 = V1 + [(7, "a", 120), (8, "a", 1), (9, "d", 4)]
    p._write_overwrite_atomic(p.nodes["base"], _df(spark, v2))
    cdf = p.table_changes(spark, "base", 1, 2, keys=["k"])
    maintain_agg_view(
        spark, p, "view", cdf, ["grp"], ["qty"], minmax=["qty"]
    )
    maintained = spark.read.parquet(os.path.realpath(p.path("view")))
    recomputed = full_agg(_df(spark, v2), ["grp"], ["qty"], minmax=["qty"])
    assert _rows(maintained) == _rows(recomputed)


def test_retraction_without_base_current_raises(spark, tmp_path):
    p = _setup(spark, tmp_path, V1)
    p._write_overwrite_atomic(p.nodes["base"], _df(spark, V2))
    cdf = p.table_changes(spark, "base", 1, 2, keys=["k"])
    with pytest.raises(ValueError, match="base_current"):
        maintain_agg_view(
            spark, p, "view", cdf, ["grp"], ["qty"], minmax=["qty"]
        )


def test_expose_view_carries_minmax(spark):
    v = full_agg(_df(spark, V1), ["grp"], ["qty"], minmax=["qty"])
    exposed = expose_view(v, ["grp"], ["qty"], minmax=["qty"])
    by = {r.grp: r for r in exposed.collect()}
    assert by["a"].qty_min == 10 and by["a"].qty_max == 99
    assert by["c"].qty_min is None


def test_sync_agg_view_threads_minmax(spark, tmp_path):
    """End-to-end through the version-anchored sync driver: seed at v1,
    publish v2 with deleted extrema, sync — view equals recompute."""
    p = Pipeline("ivms", str(tmp_path / "t"))

    @p.table(name="base")
    def base(pl):
        return _df(spark, V1)

    @p.table(name="gold")
    def gold(pl):  # maintained through sync only
        raise RuntimeError("maintained via sync_agg_view")

    p.run(spark, targets=["base"])
    s = sync_agg_view(
        spark, p, "gold", "base", keys=["k"], group_cols=["grp"],
        measures=["qty"], minmax=["qty"],
    )
    assert s["status"] == "seeded"
    p._write_overwrite_atomic(p.nodes["base"], _df(spark, V2))
    s = sync_agg_view(
        spark, p, "gold", "base", keys=["k"], group_cols=["grp"],
        measures=["qty"], minmax=["qty"],
    )
    assert s["status"] == "synced"
    maintained = spark.read.parquet(os.path.realpath(p.path("gold")))
    recomputed = full_agg(_df(spark, V2), ["grp"], ["qty"], minmax=["qty"])
    assert _rows(maintained) == _rows(recomputed)


def test_sync_agg_view_releases_its_pins(spark, tmp_path):
    """The relational change feed and the minmax fold are pinned for one
    sync and released when it returns: repeated syncs leave the block
    manager's persistent-RDD set where it started."""
    p = Pipeline("ivmp", str(tmp_path / "t"))

    @p.table(name="base")
    def base(pl):
        return _df(spark, V1)

    @p.table(name="gold")
    def gold(pl):  # maintained through sync only
        raise RuntimeError("maintained via sync_agg_view")

    p.run(spark, targets=["base"])

    def sync():
        return sync_agg_view(
            spark, p, "gold", "base", keys=["k"], group_cols=["grp"],
            measures=["qty"], minmax=["qty"],
        )

    assert sync()["status"] == "seeded"
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = persisted().size()
    for rows in (V2, V1, V2):
        p._write_overwrite_atomic(p.nodes["base"], _df(spark, rows))
        assert sync()["status"] == "synced"
        assert persisted().size() == before


def test_minmax_random_edit_scripts(spark, tmp_path):
    """Seeded random transitions: hybrid maintenance == recompute."""
    rng = random.Random(11)
    groups = ["a", "b", "c", None]

    def rand_rows(keys):
        return [
            (
                k,
                rng.choice(groups),
                rng.randrange(0, 100) if rng.random() > 0.25 else None,
            )
            for k in keys
        ]

    for trial in range(3):
        v1_keys = sorted(rng.sample(range(30), rng.randrange(5, 20)))
        v1 = rand_rows(v1_keys)
        kept = [k for k in v1_keys if rng.random() > 0.3]
        new = sorted(set(rng.sample(range(30, 50), rng.randrange(0, 8))))
        v2 = rand_rows(kept) + rand_rows(new)
        p = _setup(spark, tmp_path / f"r{trial}", v1)
        _advance_and_maintain(spark, p, v2)
        maintained = spark.read.parquet(os.path.realpath(p.path("view")))
        recomputed = full_agg(
            _df(spark, v2), ["grp"], ["qty"], minmax=["qty"]
        )
        assert _rows(maintained) == _rows(recomputed), f"trial {trial}"
