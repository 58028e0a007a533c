"""The Delta log's single optimistic-commit path (sinks/delta_log.py).

Every commit pins the latest version, replays that one snapshot, gates it
and commits at the next version by put-if-absent; a lost race discards
what the attempt staged and rebuilds on the fresh snapshot.  Races are
injected deterministically by wrapping a module function so that another
writer commits at a chosen point:

- three stale-snapshot commits (RESTORE, OPTIMIZE over a deletion-vector
  delete, an overwrite racing an appendOnly flip) that must now rebuild;
- a lost-race matrix over the metadata ops and row-level DML: one
  injected concurrent commit makes the op land one version later, built
  on the fresh snapshot; a put-if-absent that always fails raises
  DeltaConcurrentModification and leaves no staged file behind;
- a structure guard that keeps the commit path single."""

from __future__ import annotations

import ast
import json
import os
import urllib.parse

import pytest

from zeta_etl_spark.sinks import delta_log as dl
from zeta_etl_spark.sinks.delta_dv import dv_file_path
from zeta_etl_spark.sinks.delta_log import (
    DeltaConcurrentModification,
    DeltaUnsupported,
    add_check_constraint,
    delete_delta,
    delta_history,
    domain_metadata,
    drop_check_constraint,
    enable_in_commit_timestamps,
    enable_row_tracking,
    enable_v2_checkpoints,
    latest_version,
    optimize,
    read_delta,
    restore_table,
    set_domain_metadata,
    update_delta,
    widen_column_type,
    write_delta,
)

SCHEMA = "k bigint, v string, n int"
BASE = [(1, "a", 10), (2, "b", 20), (3, "c", 30)]
RACER = (4, "d", 40)


def _rows(spark, t):
    return sorted(tuple(r) for r in read_delta(spark, t).collect())


def _commit_once_after_first_call(monkeypatch, name, commit):
    """Wrap ``delta_log.<name>`` so its first call returns normally and
    then ``commit()`` lands another writer's commit — once."""
    real = getattr(dl, name)
    fired = []

    def wrapped(*args, **kwargs):
        out = real(*args, **kwargs)
        if not fired:
            fired.append(True)
            commit()
        return out

    monkeypatch.setattr(dl, name, wrapped)


def _orphans(t):
    """Data, change-data and deletion-vector files on disk that no commit
    in the log references — what a lost race must never leave behind."""
    referenced = set()
    log = os.path.join(t, "_delta_log")
    for f in os.listdir(log):
        if not f.endswith(".json"):
            continue
        for line in open(os.path.join(log, f)):
            if not line.strip():
                continue
            a = json.loads(line)
            body = a.get("add") or a.get("cdc") or a.get("remove")
            if body is None:
                continue
            referenced.add(os.path.normpath(os.path.join(
                t, urllib.parse.unquote(body["path"])
            )))
            desc = body.get("deletionVector")
            if desc and desc.get("storageType") in ("u", "p"):
                referenced.add(os.path.normpath(dv_file_path(desc, t)))
    on_disk = set()
    for root, dirs, files in os.walk(t):
        dirs[:] = [d for d in dirs if d != "_delta_log"]
        for f in files:
            if f.endswith(".parquet") or f.startswith("deletion_vector_"):
                on_disk.add(os.path.normpath(os.path.join(root, f)))
    return sorted(on_disk - referenced)


# --------------------------------------------- stale-snapshot commits


def test_restore_rebuilds_after_a_concurrent_commit(
    spark, tmp_path, monkeypatch
):
    t = str(tmp_path / "t")
    write_delta(spark.createDataFrame([(1, "a")], "k bigint, v string"), t)
    write_delta(
        spark.createDataFrame([(2, "b")], "k bigint, v string"), t,
        mode="append",
    )
    _commit_once_after_first_call(
        monkeypatch, "_replay",
        lambda: write_delta(
            spark.createDataFrame([(3, "c")], "k bigint, v string"), t,
            mode="append",
        ),
    )
    v = restore_table(t, 0)
    assert v == 3 == latest_version(t)
    assert delta_history(t)[0]["operation"] == "RESTORE"
    # the concurrent append's file is removed too: the table IS version 0
    assert _rows(spark, t) == [(1, "a")]


def test_optimize_never_resurrects_dv_deleted_rows(
    spark, tmp_path, monkeypatch
):
    t = str(tmp_path / "t")
    write_delta(spark.createDataFrame(BASE[:2], SCHEMA).coalesce(1), t)
    write_delta(
        spark.createDataFrame(BASE[2:], SCHEMA).coalesce(1), t,
        mode="append",
    )
    _commit_once_after_first_call(
        monkeypatch, "_replay",
        lambda: delete_delta(spark, t, [("k", "=", 1)], mode="dv"),
    )
    v = optimize(spark, t)
    assert v == 3 == latest_version(t)
    assert delta_history(t)[0]["operation"] == "OPTIMIZE"
    assert _rows(spark, t) == sorted(BASE[1:])
    assert _orphans(t) == []


def test_overwrite_gate_runs_on_the_committed_snapshot(
    spark, tmp_path, monkeypatch
):
    t = str(tmp_path / "t")
    write_delta(spark.createDataFrame(BASE, SCHEMA), t)

    def _flip_append_only():
        # another writer sets delta.appendOnly=true at version 1
        _, meta, _, _ = dl._replay(t)
        meta = {
            **meta,
            "configuration": {
                **(meta.get("configuration") or {}),
                "delta.appendOnly": "true",
            },
        }
        log = os.path.join(t, "_delta_log", f"{1:020d}.json")
        with open(log, "x") as fh:
            for a in (
                {"commitInfo": {"operation": "SET TBLPROPERTIES"}},
                {"metaData": meta},
            ):
                fh.write(json.dumps(a) + "\n")

    _commit_once_after_first_call(
        monkeypatch, "_stage_data_files", _flip_append_only
    )
    new = spark.createDataFrame([RACER], SCHEMA)
    with pytest.raises(DeltaUnsupported, match="appendOnly"):
        write_delta(new, t, mode="overwrite")
    assert latest_version(t) == 1
    assert _rows(spark, t) == sorted(BASE)
    assert _orphans(t) == []
    # the same overwrite without the race is refused as well
    monkeypatch.undo()
    with pytest.raises(DeltaUnsupported, match="appendOnly"):
        write_delta(new, t, mode="overwrite")
    assert _orphans(t) == []


# ------------------------------------------------- lost-race matrix


def _seed(spark, t):
    write_delta(spark.createDataFrame(BASE, SCHEMA).coalesce(1), t)


def _seed_with_constraint(spark, t):
    _seed(spark, t)
    add_check_constraint(spark, t, "pos", "n > 0")


def _config(t):
    return dl._replay(t)[1].get("configuration") or {}


def _check_v2(spark, t, v):
    protocol = dl._replay(t)[0]
    assert "v2Checkpoint" in protocol["readerFeatures"]


def _check_ict(spark, t, v):
    cfg = _config(t)
    assert cfg["delta.enableInCommitTimestamps"] == "true"
    # provenance names the version the upgrade actually landed at
    assert cfg["delta.inCommitTimestampEnablementVersion"] == str(v)


def _check_row_tracking(spark, t, v):
    live = dl._replay(t)[2]
    # the backfill covers the concurrent append's file as well
    assert len(live) == 2
    assert all(a.get("baseRowId") is not None for a in live.values())


def _check_widen(spark, t, v):
    fields = json.loads(dl._replay(t)[1]["schemaString"])["fields"]
    n = next(f for f in fields if f["name"] == "n")
    assert n["type"] == "long"
    assert n["metadata"]["delta.typeChanges"][0]["tableVersion"] == v


def _check_add_constraint(spark, t, v):
    assert _config(t)["delta.constraints.pos"] == "n > 0"


def _check_drop_constraint(spark, t, v):
    assert "delta.constraints.pos" not in _config(t)


def _check_domain(spark, t, v):
    assert domain_metadata(t) == {"app.test": '{"x": 1}'}


def _check_update(spark, t, v):
    # the concurrently appended k=4 matches the predicate: rebuilt on the
    # fresh snapshot, the update reaches it too
    assert _rows(spark, t) == [
        (1, "a", 10), (2, "z", 20), (3, "z", 30), (4, "z", 40)
    ]


def _check_delete(spark, t, v):
    assert _rows(spark, t) == [(1, "a", 10)]


OPS = {
    "enable_v2_checkpoints": (
        _seed, lambda spark, t, r: enable_v2_checkpoints(t, max_retries=r),
        _check_v2,
    ),
    "enable_in_commit_timestamps": (
        _seed,
        lambda spark, t, r: enable_in_commit_timestamps(t, max_retries=r),
        _check_ict,
    ),
    "enable_row_tracking": (
        _seed, lambda spark, t, r: enable_row_tracking(t, max_retries=r),
        _check_row_tracking,
    ),
    "widen_column_type": (
        _seed,
        lambda spark, t, r: widen_column_type(t, "n", "long", max_retries=r),
        _check_widen,
    ),
    "add_check_constraint": (
        _seed,
        lambda spark, t, r: add_check_constraint(
            spark, t, "pos", "n > 0", max_retries=r
        ),
        _check_add_constraint,
    ),
    "drop_check_constraint": (
        _seed_with_constraint,
        lambda spark, t, r: drop_check_constraint(t, "pos", max_retries=r),
        _check_drop_constraint,
    ),
    "set_domain_metadata": (
        _seed,
        lambda spark, t, r: set_domain_metadata(
            t, "app.test", '{"x": 1}', max_retries=r
        ),
        _check_domain,
    ),
    "update_delta": (
        _seed,
        lambda spark, t, r: update_delta(
            spark, t, {"v": "'z'"}, [("k", ">=", 2)], max_retries=r
        ),
        _check_update,
    ),
    "delete_delta_rewrite": (
        _seed,
        lambda spark, t, r: delete_delta(
            spark, t, [("k", ">=", 2)], mode="rewrite", max_retries=r
        ),
        _check_delete,
    ),
    "delete_delta_dv": (
        _seed,
        lambda spark, t, r: delete_delta(
            spark, t, [("k", ">=", 2)], mode="dv", max_retries=r
        ),
        _check_delete,
    ),
}


def _version(out):
    return out["version"] if isinstance(out, dict) else out


@pytest.mark.parametrize("op", sorted(OPS))
def test_lost_race_rebuilds_on_the_fresh_snapshot(
    spark, tmp_path, monkeypatch, op
):
    seed, run, check = OPS[op]
    t = str(tmp_path / "t")
    seed(spark, t)
    before = latest_version(t)
    real = dl._write_commit_atomic
    fired = []

    def racing(table, version, actions):
        if not fired:
            # another writer takes the version this attempt wants
            fired.append(version)
            write_delta(spark.createDataFrame([RACER], SCHEMA), t,
                        mode="append")
        return real(table, version, actions)

    monkeypatch.setattr(dl, "_write_commit_atomic", racing)
    v = _version(run(spark, t, 5))
    assert fired == [before + 1]
    assert v == before + 2 == latest_version(t)
    assert delta_history(t)[1]["operation"] == "WRITE"
    if op not in ("update_delta", "delete_delta_rewrite", "delete_delta_dv"):
        assert RACER in _rows(spark, t)
    check(spark, t, v)
    assert _orphans(t) == []


@pytest.mark.parametrize("op", sorted(OPS))
def test_exhausted_retries_raise_and_leave_nothing_staged(
    spark, tmp_path, monkeypatch, op
):
    seed, run, _ = OPS[op]
    t = str(tmp_path / "t")
    seed(spark, t)
    before = latest_version(t)
    rows = _rows(spark, t)
    monkeypatch.setattr(dl, "_write_commit_atomic", lambda *a: False)
    with pytest.raises(
        DeltaConcurrentModification, match="lost the commit race 2 times"
    ):
        run(spark, t, 2)
    assert latest_version(t) == before
    assert _rows(spark, t) == rows
    assert _orphans(t) == []


# -------------------------------------------------------- structure guard


def test_one_commit_path_in_the_delta_log():
    """One OCC retry loop, one commitInfo construction, one engineInfo,
    and every put-if-absent call inside ``_commit``."""
    with open(dl.__file__) as fh:
        tree = ast.parse(fh.read())
    retry_loops = [
        n for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and getattr(n.func, "id", None) == "range"
        and [getattr(a, "id", None) for a in n.args] == ["max_retries"]
    ]
    assert len(retry_loops) == 1
    commit_infos = [
        n for n in ast.walk(tree)
        if isinstance(n, ast.Dict)
        and any(getattr(k, "value", None) == "commitInfo" for k in n.keys)
    ]
    assert len(commit_infos) == 1
    engine_infos = [
        n for n in ast.walk(tree)
        if isinstance(n, ast.Constant) and n.value == "engineInfo"
    ]
    assert len(engine_infos) == 1

    callers = []
    for fn in ast.walk(tree):
        if isinstance(fn, ast.FunctionDef):
            for n in ast.walk(fn):
                if (
                    isinstance(n, ast.Call)
                    and getattr(n.func, "id", None) == "_write_commit_atomic"
                ):
                    callers.append(fn.name)
    # nested defs are walked twice (as themselves and inside their
    # parent): only top-level functions name the caller
    top = {n.name for n in tree.body if isinstance(n, ast.FunctionDef)}
    assert {c for c in callers if c in top} == {"_commit"}
