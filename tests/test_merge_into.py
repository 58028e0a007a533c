"""Batch MERGE INTO on the generation layout (Delta MERGE stand-in).

Covers the full clause matrix (update/delete/insert, each with conditions),
the duplicate-source-match guard, partition-scoped rewrite with hard-linked
untouched partitions (the "don't rewrite untouched files" scale property),
delete-empties-a-partition, time travel across a merge, and the crash
matrix at every commit-protocol seam.
"""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from zeta_etl_spark.plans import graph as graph_mod
from zeta_etl_spark.plans.graph import Pipeline


def _mk(base, spark, rows, partition_by=()):
    p = Pipeline("mrg", base)

    @p.table(name="tbl", partition_by=partition_by)
    def tbl(pl):
        return spark.createDataFrame(rows, "day string, k int, v int")

    p.run(spark, targets=["tbl"])
    return p


TARGET = [
    ("d1", 1, 10),
    ("d1", 2, 20),
    ("d2", 3, 30),
    ("d2", 4, 40),
    ("d3", 5, 50),
]


def _rows(spark, path):
    return sorted(
        (r.day, r.k, r.v)
        for r in spark.read.parquet(os.path.realpath(path)).collect()
    )


def test_update_insert_delete_clauses(spark, tmp_path):
    p = _mk(str(tmp_path / "t"), spark, TARGET)
    src = spark.createDataFrame(
        [
            ("d1", 1, 111),   # matched → update (v>=0)
            ("d1", 2, -1),    # matched → delete (negative v tombstone)
            ("d2", 6, 60),    # unmatched → insert
            ("d9", 7, -5),    # unmatched but insert_condition fails → dropped
        ],
        "day string, k int, v int",
    )
    m = p.merge_into(
        spark,
        "tbl",
        src,
        on=["k"],
        when_matched_delete=True,
        delete_condition="s.v < 0",
        when_matched_update="*",
        when_not_matched_insert="*",
        insert_condition="s.v >= 0",
    )
    assert m["rows_updated"] == 1
    assert m["rows_deleted"] == 1
    assert m["rows_inserted"] == 1
    assert m["rows_matched_copied"] == 0
    assert _rows(spark, p.path("tbl")) == [
        ("d1", 1, 111),
        ("d2", 3, 30),
        ("d2", 4, 40),
        ("d2", 6, 60),
        ("d3", 5, 50),
    ]


def test_update_dict_exprs_and_condition(spark, tmp_path):
    p = _mk(str(tmp_path / "t"), spark, TARGET)
    src = spark.createDataFrame(
        [("d1", 1, 5), ("d2", 3, 999)], "day string, k int, v int"
    )
    # dict update: additive counter, only when the source value is small;
    # unlisted columns (day) keep the target value
    p.merge_into(
        spark,
        "tbl",
        src,
        on=["k"],
        when_matched_update={"v": "t.v + s.v"},
        update_condition="s.v < 100",
    )
    assert _rows(spark, p.path("tbl")) == [
        ("d1", 1, 15),   # 10 + 5
        ("d1", 2, 20),
        ("d2", 3, 30),   # condition failed → copied unchanged
        ("d2", 4, 40),
        ("d3", 5, 50),
    ]


def test_insert_dict_defaults_null(spark, tmp_path):
    p = _mk(str(tmp_path / "t"), spark, TARGET)
    src = spark.createDataFrame([("dX", 9, 90)], "day string, k int, v int")
    p.merge_into(
        spark,
        "tbl",
        src,
        on=["k"],
        when_not_matched_insert={"k": "s.k", "v": "s.v * 2"},
    )
    rows = [
        (r.day, r.k, r.v)
        for r in spark.read.parquet(
            os.path.realpath(p.path("tbl"))
        ).collect()
    ]
    assert (None, 9, 180) in rows  # day unlisted → NULL
    assert len(rows) == 6


def test_duplicate_source_keys_raise(spark, tmp_path):
    p = _mk(str(tmp_path / "t"), spark, TARGET)
    src = spark.createDataFrame(
        [("d1", 1, 1), ("d1", 1, 2)], "day string, k int, v int"
    )
    with pytest.raises(ValueError, match="multiple source rows"):
        p.merge_into(
            spark, "tbl", src, on=["k"], when_matched_update="*"
        )


def test_no_clause_raises(spark, tmp_path):
    p = _mk(str(tmp_path / "t"), spark, TARGET)
    src = spark.createDataFrame([("d1", 1, 1)], "day string, k int, v int")
    with pytest.raises(ValueError, match="no WHEN clause"):
        p.merge_into(spark, "tbl", src, on=["k"])


def test_partition_scoped_rewrite_hard_links(spark, tmp_path):
    """Partitioned table + partition col in the keys → only touched
    partitions rewritten; untouched partition files are hard links to the
    previous generation's inodes (merge cost ∝ touched data)."""
    p = _mk(str(tmp_path / "t"), spark, TARGET, partition_by=("day",))
    path = p.path("tbl")
    prev_gen = os.path.realpath(path)

    src = spark.createDataFrame(
        [("d1", 1, 111), ("d1", 8, 80)], "day string, k int, v int"
    )
    m = p.merge_into(
        spark,
        "tbl",
        src,
        on=["day", "k"],
        when_matched_update="*",
        when_not_matched_insert="*",
    )
    assert m["partition_pruned"] is True
    assert m["touched_partitions"] == 1
    assert m["linked_partitions"] == 2  # d2, d3 untouched

    assert _rows(spark, path) == [
        ("d1", 1, 111),
        ("d1", 2, 20),
        ("d1", 8, 80),
        ("d2", 3, 30),
        ("d2", 4, 40),
        ("d3", 5, 50),
    ]

    new_gen = os.path.realpath(path)
    assert new_gen != prev_gen
    # untouched partitions: same inodes (hard links, zero data copied)
    for part in ("day=d2", "day=d3"):
        old_files = sorted(os.listdir(os.path.join(prev_gen, part)))
        new_files = sorted(os.listdir(os.path.join(new_gen, part)))
        assert old_files == new_files
        for f in new_files:
            assert os.path.samestat(
                os.stat(os.path.join(prev_gen, part, f)),
                os.stat(os.path.join(new_gen, part, f)),
            )
    # touched partition: freshly written, NOT linked to old files
    for f in os.listdir(os.path.join(new_gen, "day=d1")):
        full = os.path.join(new_gen, "day=d1", f)
        assert os.stat(full).st_nlink == 1


def test_partition_fully_deleted_not_resurrected(spark, tmp_path):
    """Deleting every row of a touched partition removes the partition —
    the linking step must not resurrect the old directory."""
    p = _mk(str(tmp_path / "t"), spark, TARGET, partition_by=("day",))
    src = spark.createDataFrame(
        [("d3", 5, 0)], "day string, k int, v int"
    )
    m = p.merge_into(
        spark,
        "tbl",
        src,
        on=["day", "k"],
        when_matched_delete=True,
    )
    assert m["rows_deleted"] == 1
    assert _rows(spark, p.path("tbl")) == [
        ("d1", 1, 10),
        ("d1", 2, 20),
        ("d2", 3, 30),
        ("d2", 4, 40),
    ]
    assert not os.path.exists(
        os.path.join(os.path.realpath(p.path("tbl")), "day=d3")
    )


def test_non_key_partition_falls_back_to_full_rewrite(spark, tmp_path):
    p = _mk(str(tmp_path / "t"), spark, TARGET, partition_by=("day",))
    src = spark.createDataFrame([("zz", 1, 111)], "day string, k int, v int")
    # key k does not include partition col day → no pruning; the matched
    # row keeps ITS target partition value under dict update
    m = p.merge_into(
        spark, "tbl", src, on=["k"], when_matched_update={"v": "s.v"}
    )
    assert m["partition_pruned"] is False
    assert m["linked_partitions"] == 0
    assert _rows(spark, p.path("tbl"))[0] == ("d1", 1, 111)


def test_time_travel_across_merge_and_history(spark, tmp_path):
    p = _mk(str(tmp_path / "t"), spark, TARGET, partition_by=("day",))
    v0 = p.table_versions("tbl")[-1]
    src = spark.createDataFrame([("d1", 1, 111)], "day string, k int, v int")
    p.merge_into(
        spark, "tbl", src, on=["day", "k"], when_matched_update="*"
    )
    old = sorted(
        (r.day, r.k, r.v)
        for r in p.read_version(spark, "tbl", v0).collect()
    )
    assert old == sorted(TARGET)
    ops = [h["operation"] for h in p.history("tbl")]
    assert "merge" in ops


class Boom(RuntimeError):
    pass


@pytest.mark.parametrize(
    "crash_point, expect_new",
    [("post_stage", False), ("post_seal", False), ("post_publish", True)],
)
def test_merge_crash_matrix(
    spark, tmp_path, monkeypatch, crash_point, expect_new
):
    p = _mk(str(tmp_path / "t"), spark, TARGET, partition_by=("day",))
    path = p.path("tbl")
    src = spark.createDataFrame([("d1", 1, 111)], "day string, k int, v int")

    def boom(tag):
        if tag == crash_point:
            raise Boom(tag)

    monkeypatch.setattr(graph_mod, "_fault_injection", boom)
    with pytest.raises(Boom):
        p.merge_into(
            spark, "tbl", src, on=["day", "k"], when_matched_update="*"
        )
    monkeypatch.setattr(graph_mod, "_fault_injection", lambda tag: None)

    rows = _rows(spark, path)
    if expect_new:
        assert ("d1", 1, 111) in rows
    else:
        assert rows == sorted(TARGET)  # reader still on the old snapshot

    # retry after crash heals debris and lands the merge exactly once
    m = p.merge_into(
        spark, "tbl", src, on=["day", "k"], when_matched_update="*"
    )
    assert m["rows_updated"] == 1
    rows = _rows(spark, path)
    assert ("d1", 1, 111) in rows and len(rows) == 5


def test_merge_equals_duckdb_reference(spark, tmp_path):
    """Cross-engine oracle: the merged table equals the classic SQL
    expansion of MERGE (update∪copy∪insert minus deletes) computed by
    DuckDB on the same inputs."""
    import duckdb
    import pandas as pd

    duck = duckdb.connect()

    p = _mk(str(tmp_path / "t"), spark, TARGET)
    src_rows = [
        ("d1", 1, 111),
        ("d1", 2, -1),
        ("d2", 6, 60),
        ("d9", 7, -5),
    ]
    src = spark.createDataFrame(src_rows, "day string, k int, v int")
    p.merge_into(
        spark,
        "tbl",
        src,
        on=["k"],
        when_matched_delete=True,
        delete_condition="s.v < 0",
        when_matched_update="*",
        when_not_matched_insert="*",
        insert_condition="s.v >= 0",
    )
    got = _rows(spark, p.path("tbl"))

    duck.register("tgt", pd.DataFrame(TARGET, columns=["day", "k", "v"]))
    duck.register("src", pd.DataFrame(src_rows, columns=["day", "k", "v"]))
    want = sorted(
        tuple(r)
        for r in duck.execute(
            """
            SELECT s.day, s.k, s.v FROM tgt t JOIN src s USING (k)
              WHERE s.v >= 0                          -- matched, updated
            UNION ALL
            SELECT t.* FROM tgt t ANTI JOIN src s USING (k)  -- untouched
            UNION ALL
            SELECT s.* FROM src s ANTI JOIN tgt t USING (k)
              WHERE s.v >= 0                          -- inserted
            """
        ).fetchall()
    )
    assert got == want


# --- property test: merge_into vs a Python reference model -------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_row_lists = st.lists(
    st.tuples(
        st.sampled_from(["d1", "d2", "d3"]),          # day (partition)
        st.integers(min_value=0, max_value=12),       # k (key)
        st.integers(min_value=-50, max_value=50),     # v
    ),
    max_size=12,
)


def _model_merge(target, source, upd_cond, del_cond, ins_cond):
    """Reference semantics: delete first, then update, unmatched-source
    insert; matched rows claimed by no clause copy through."""
    src_by_key = {k: (day, k, v) for day, k, v in source}
    out = []
    for day, k, v in target:
        if k in src_by_key:
            sday, sk, sv = src_by_key[k]
            if del_cond(v, sv):
                continue
            if upd_cond(v, sv):
                out.append((sday, sk, sv))
            else:
                out.append((day, k, v))
        else:
            out.append((day, k, v))
    tkeys = {k for _d, k, _v in target}
    for k, (sday, sk, sv) in src_by_key.items():
        if k not in tkeys and ins_cond(sv):
            out.append((sday, sk, sv))
    return sorted(out)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(target=_row_lists, source=_row_lists)
def test_merge_matches_reference_model(spark, tmp_path_factory, target, source):
    # de-dup keys (target PK; source must be key-unique by contract)
    target = list({k: (d, k, v) for d, k, v in target}.values())
    source = list({k: (d, k, v) for d, k, v in source}.values())
    if not target:
        target = [("d1", 99, 0)]

    base = str(tmp_path_factory.mktemp("merge_prop"))
    p = _mk(base, spark, target)
    src = spark.createDataFrame(
        source, "day string, k int, v int"
    ) if source else spark.createDataFrame([], "day string, k int, v int")

    m = p.merge_into(
        spark,
        "tbl",
        src,
        on=["k"],
        when_matched_delete=True,
        delete_condition="s.v < -25",
        when_matched_update="*",
        update_condition="s.v >= t.v",
        when_not_matched_insert="*",
        insert_condition="s.v % 2 = 0",
    )
    got = _rows_list = sorted(
        (r.day, r.k, r.v)
        for r in spark.read.parquet(
            os.path.realpath(p.path("tbl"))
        ).collect()
    )
    want = _model_merge(
        target,
        source,
        upd_cond=lambda tv, sv: sv >= tv,
        del_cond=lambda tv, sv: sv < -25,
        ins_cond=lambda sv: sv % 2 == 0,
    )
    assert got == want
    assert m["rows_inserted"] == sum(
        1
        for _d, k, v in source
        if k not in {k2 for _d2, k2, _v2 in target} and v % 2 == 0
    )


def test_schema_evolution_adds_source_columns(spark, tmp_path):
    """Delta autoMerge stand-in: source-only columns widen the target;
    pre-existing rows read NULL, updated/inserted rows carry the value,
    and a later non-evolving merge works on the widened table."""
    p = _mk(str(tmp_path / "t"), spark, TARGET)
    src = spark.createDataFrame(
        [("d1", 1, 111, "alpha"), ("dX", 9, 90, "new")],
        "day string, k int, v int, tag string",
    )
    m = p.merge_into(
        spark,
        "tbl",
        src,
        on=["k"],
        when_matched_update="*",
        when_not_matched_insert="*",
        schema_evolution=True,
    )
    assert m["evolved_columns"] == ["tag"]
    assert m["partition_pruned"] is False
    df = spark.read.parquet(os.path.realpath(p.path("tbl")))
    assert df.columns == ["day", "k", "v", "tag"]
    got = {r.k: (r.v, r.tag) for r in df.collect()}
    assert got[1] == (111, "alpha")   # updated row takes the new value
    assert got[9] == (90, "new")      # inserted row carries it
    assert got[2] == (20, None)       # untouched row reads NULL

    # follow-up merge without evolution on the widened schema
    src2 = spark.createDataFrame(
        [("d2", 3, 333, "beta")], "day string, k int, v int, tag string"
    )
    p.merge_into(spark, "tbl", src2, on=["k"], when_matched_update="*")
    got = {
        r.k: (r.v, r.tag)
        for r in spark.read.parquet(
            os.path.realpath(p.path("tbl"))
        ).collect()
    }
    assert got[3] == (333, "beta")


def test_schema_evolution_without_flag_ignores_extra_columns(spark, tmp_path):
    p = _mk(str(tmp_path / "t"), spark, TARGET)
    src = spark.createDataFrame(
        [("d1", 1, 111, "alpha")], "day string, k int, v int, tag string"
    )
    p.merge_into(spark, "tbl", src, on=["k"], when_matched_update="*")
    df = spark.read.parquet(os.path.realpath(p.path("tbl")))
    assert df.columns == ["day", "k", "v"]  # Delta without autoMerge


def test_schema_evolution_rejects_dict_clauses(spark, tmp_path):
    p = _mk(str(tmp_path / "t"), spark, TARGET)
    src = spark.createDataFrame(
        [("d1", 1, 111, "alpha")], "day string, k int, v int, tag string"
    )
    with pytest.raises(ValueError, match="schema_evolution supports only"):
        p.merge_into(
            spark,
            "tbl",
            src,
            on=["k"],
            when_matched_update={"v": "s.v"},
            schema_evolution=True,
        )


# --- metrics parity: the clause counts come from the data write ------------

METRIC_TARGET = TARGET + [("dn", None, 0)]
METRIC_SOURCE = [
    ("d1", 1, -1),
    ("d1", 2, 100),
    ("d2", 3, 0),
    ("d2", 4, 200),
    ("d9", 9, 5),
    ("d9", 10, 13),
    ("dn", None, 99),
]
METRIC_CLAUSES = {
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
        when_not_matched_insert={"k": "s.k", "v": "s.v"},
        insert_condition="s.v > 0",
    ),
}


def _derived_metrics(before, after, source, null_safe):
    """Clause counts read off the before/after snapshots (every update in
    these cases changes its row, so updated = matched rows that differ)."""
    b = {k: (d, k, v) for d, k, v in before}
    a = {k: (d, k, v) for d, k, v in after}
    matched = {
        k for _d, k, _v in source
        if k in b and (null_safe or k is not None)
    }
    deleted = sum(1 for k in matched if k not in a)
    updated = sum(1 for k in matched if k in a and a[k] != b[k])
    return {
        "rows_deleted": deleted,
        "rows_updated": updated,
        "rows_inserted": len(after) - (len(before) - deleted),
        "rows_matched_copied": len(matched) - deleted - updated,
    }


def _rows_nullable(spark, path):
    return sorted(
        ((r.day, r.k, r.v)
         for r in spark.read.parquet(os.path.realpath(path)).collect()),
        key=repr,
    )


@pytest.mark.parametrize("null_safe", [False, True], ids=["eq", "null_safe"])
@pytest.mark.parametrize("clauses", sorted(METRIC_CLAUSES))
def test_metrics_equal_snapshot_derived_counts(
    spark, tmp_path, clauses, null_safe
):
    p = _mk(str(tmp_path / "t"), spark, METRIC_TARGET)
    src = spark.createDataFrame(METRIC_SOURCE, "day string, k int, v int")
    before = _rows_nullable(spark, p.path("tbl"))
    m = p.merge_into(
        spark, "tbl", src, on=["k"], null_safe_on=null_safe,
        **METRIC_CLAUSES[clauses],
    )
    after = _rows_nullable(spark, p.path("tbl"))
    want = _derived_metrics(before, after, METRIC_SOURCE, null_safe)
    assert {k: m[k] for k in want} == want
    assert sum(want.values()) > 0
