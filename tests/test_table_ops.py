"""RESTORE and table_changes (CDF) on the generation layout — the two
lakehouse read/maintenance surfaces added in round 7 session 3.

RESTORE is Delta's ``RESTORE TABLE ... VERSION AS OF``: a forward-history
rollback (new generation hard-linking the old files).  table_changes is the
CDF read between two retained generations, computed relationally (full
outer join on keys) because there is no transaction log to replay.
"""

from __future__ import annotations

import json
import os

import pytest

from zeta_etl_spark.plans.graph import Pipeline


def _mk(base, spark, rows):
    p = Pipeline("tops", base)

    @p.table(name="tbl")
    def tbl(pl):
        return spark.createDataFrame(rows, "k int, v int, tag string")

    p.run(spark, targets=["tbl"])
    return p


V1 = [(1, 10, "a"), (2, 20, "b"), (3, 30, "c")]
V2 = [(1, 10, "a"), (2, 99, "b"), (4, 40, "d")]  # upd k=2, del k=3, ins k=4


def _overwrite(p, spark, name, rows):
    node = p.nodes[name]
    p._write_overwrite_atomic(
        node, spark.createDataFrame(rows, "k int, v int, tag string")
    )


def _rows(spark, path):
    return sorted(
        (r.k, r.v, r.tag)
        for r in spark.read.parquet(os.path.realpath(path)).collect()
    )


def test_restore_publishes_new_generation(spark, tmp_path):
    p = _mk(str(tmp_path / "t"), spark, V1)
    _overwrite(p, spark, "tbl", V2)
    assert p.table_versions("tbl") == [1, 2]

    m = p.restore(spark, "tbl", 1)
    assert m == {"generation": 3, "restored_from": 1}
    # live pointer serves the restored (v1) content
    assert _rows(spark, p.path("tbl")) == sorted(V1)
    # history moved FORWARD: the rolled-back v2 is still time-travelable
    assert sorted((r.k, r.v, r.tag) for r in
                  p.read_version(spark, "tbl", 2).collect()) == sorted(V2)
    # commit record carries provenance
    hist = {h["version"]: h for h in p.history("tbl")}
    assert hist[3]["operation"] == "restore"
    assert hist[3]["restored_from"] == 1
    assert hist[3]["is_current"]


def test_restore_is_hard_linked_not_copied(spark, tmp_path):
    p = _mk(str(tmp_path / "t"), spark, V1)
    _overwrite(p, spark, "tbl", V2)
    gen_root = p.path("tbl") + "__gen"
    # capture BEFORE the restore — publishing v3 vacuums v1 (retain=1),
    # which is itself part of the contract being tested: the links keep
    # serving after the source directory is gone
    src_files = {
        f: os.stat(os.path.join(gen_root, "v000001", f)).st_ino
        for f in os.listdir(os.path.join(gen_root, "v000001"))
        if f.endswith(".parquet")
    }
    assert src_files
    p.restore(spark, "tbl", 1)
    for f, ino in src_files.items():
        assert os.stat(os.path.join(gen_root, "v000003", f)).st_ino == ino


def test_restore_validates_version_and_layout(spark, tmp_path):
    p = _mk(str(tmp_path / "t"), spark, V1)
    with pytest.raises(ValueError, match="not on disk"):
        p.restore(spark, "tbl", 7)


def test_restore_survives_vacuum_of_source(spark, tmp_path):
    """After the source generation ages out of the retention window, the
    restored generation still serves its content (shared inodes)."""
    p = _mk(str(tmp_path / "t"), spark, V1)
    _overwrite(p, spark, "tbl", V2)
    p.restore(spark, "tbl", 1)  # v3 links v1 files
    # default retain_generations=1: publishing v4 keeps {v3, v4}, drops v1
    _overwrite(p, spark, "tbl", V2)
    assert p.table_versions("tbl") == [3, 4]
    # v1's directory is gone but v3 still serves its content — the hard
    # links survive the source generation's vacuum
    assert sorted(
        (r.k, r.v, r.tag) for r in p.read_version(spark, "tbl", 3).collect()
    ) == sorted(V1)
    assert _rows(spark, p.path("tbl")) == sorted(V2)


def test_table_changes_insert_update_delete(spark, tmp_path):
    p = _mk(str(tmp_path / "t"), spark, V1)
    _overwrite(p, spark, "tbl", V2)
    cdf = p.table_changes(spark, "tbl", 1, 2, keys=["k"])
    got = sorted(
        (r.k, r.v, r.tag, r._change_type) for r in cdf.collect()
    )
    assert got == [
        (2, 20, "b", "update_preimage"),
        (2, 99, "b", "update_postimage"),
        (3, 30, "c", "delete"),
        (4, 40, "d", "insert"),
    ]
    one = cdf.first()
    assert one._from_version == 1 and one._to_version == 2


def test_table_changes_null_safe_and_empty_diff(spark, tmp_path):
    rows = [(1, None, "a"), (2, 20, None)]
    p = Pipeline("tops2", str(tmp_path / "t"))

    @p.table(name="tbl")
    def tbl(pl):
        return spark.createDataFrame(rows, "k int, v int, tag string")

    p.run(spark, targets=["tbl"])
    p._write_overwrite_atomic(
        p.nodes["tbl"],
        spark.createDataFrame(rows, "k int, v int, tag string"),
    )
    # identical snapshots (incl. NULL values) → empty change feed
    assert p.table_changes(spark, "tbl", 1, 2, keys=["k"]).count() == 0


def test_table_changes_rejects_duplicate_keys(spark, tmp_path):
    p = _mk(str(tmp_path / "t"), spark, V1 + [(1, 11, "dup")])
    _overwrite(p, spark, "tbl", V2)
    with pytest.raises(ValueError, match="not unique"):
        p.table_changes(spark, "tbl", 1, 2, keys=["k"])


def test_table_changes_across_schema_evolution(spark, tmp_path):
    """A generation written after merge schema evolution has extra columns;
    the CDF widens the old side with NULLs."""
    p = _mk(str(tmp_path / "t"), spark, V1)
    p._write_overwrite_atomic(
        p.nodes["tbl"],
        spark.createDataFrame(
            [(1, 10, "a", 7), (2, 20, "b", 8)],
            "k int, v int, tag string, extra int",
        ),
    )
    cdf = p.table_changes(spark, "tbl", 1, 2, keys=["k"])
    got = sorted(
        ((r.k, r.v, r.tag, r.extra, r._change_type) for r in cdf.collect()),
        key=lambda t: (t[0], t[4], -1 if t[3] is None else t[3]),
    )
    # k=1: extra NULL→7 is a change; k=2: 20,b,NULL→20,b,8; k=3 deleted
    # (sorted by (k, change_type, extra): postimage < preimage lexically)
    assert got == [
        (1, 10, "a", 7, "update_postimage"),
        (1, 10, "a", None, "update_preimage"),
        (2, 20, "b", 8, "update_postimage"),
        (2, 20, "b", None, "update_preimage"),
        (3, 30, "c", None, "delete"),
    ]


def test_restore_commit_meta_json_on_disk(spark, tmp_path):
    p = _mk(str(tmp_path / "t"), spark, V1)
    _overwrite(p, spark, "tbl", V2)
    p.restore(spark, "tbl", 1)
    meta_path = os.path.join(
        p.path("tbl") + "__gen", "v000003", "_commit.json"
    )
    with open(meta_path) as fh:
        meta = json.load(fh)
    assert meta["operation"] == "restore"
    assert meta["restored_from"] == 1
    assert meta["pipeline"] == "tops"
