"""Streaming crash matrix (VERDICT r6 next-6): kill each foreachBatch sink
at every seam of its commit protocol and assert exactly-once output after
resume.

Protocol seams.  The upsert, two-level and top-k sinks keep their state
in Delta tables (``runner._commit_state``):

- ``post_stage``   — data files staged, the Delta log commit not written
  (the log's put-if-absent, ``delta_log._write_commit_atomic``, raises)
- ``pre_publish``  — two-level: level 1 committed, level 2 not rewritten.
  Upsert and top-k commit once per batch and keep no mirror, so their
  ``pre_publish`` case crashes at ``post_publish``
- ``post_publish`` — the batch's last commit landed, stream checkpoint NOT
  yet written (the availableNow replay path: the next run re-delivers the
  batch and the sink must re-merge idempotently)

The CEP partitioned-append sink tags ``post_stage`` and ``post_publish``
around its one write (``zeta_etl_spark.streaming.runner._fault_injection``).

Method per (operator × seam): run wave 1 clean → arm the fault → wave 2
crashes at the seam → disarm → rerun (checkpoint resume) → final output
must equal a clean twin run over the same two-wave schedule.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from zeta_etl_spark.sinks import delta_log as dl
from zeta_etl_spark.sinks.delta_log import read_delta
from zeta_etl_spark.streaming import runner as runner_mod
from zeta_etl_spark.streaming.runner import (
    foreach_batch_partitioned_append,
    foreach_batch_topk,
    foreach_batch_two_level_agg,
    foreach_batch_upsert,
    hourly_agg_stream,
    read_upsert_table,
)

# case seam -> where the fault fires: a runner tag, or LOG_COMMIT (the
# Delta log's put-if-absent)
LOG_COMMIT = "log_commit"
TWO_LEVEL_SEAMS = {
    "post_stage": LOG_COMMIT,
    "pre_publish": "pre_publish",
    "post_publish": "post_publish",
}
ONE_COMMIT_SEAMS = {**TWO_LEVEL_SEAMS, "pre_publish": "post_publish"}


class Crash(RuntimeError):
    pass


def _arm(monkeypatch, seam: str):
    """Fault that fires ONCE at the chosen seam, then disarms (the resumed
    run must be able to pass the same seam)."""
    fired = {"done": False}

    if seam == LOG_COMMIT:
        put_if_absent = dl._write_commit_atomic

        def commit(*args, **kwargs):
            if not fired["done"]:
                fired["done"] = True
                raise Crash(seam)
            return put_if_absent(*args, **kwargs)

        monkeypatch.setattr(dl, "_write_commit_atomic", commit)
        return fired

    def fault(tag):
        if tag == seam and not fired["done"]:
            fired["done"] = True
            raise Crash(seam)

    monkeypatch.setattr(runner_mod, "_fault_injection", fault)
    return fired


def _disarm(monkeypatch):
    monkeypatch.setattr(runner_mod, "_fault_injection", lambda tag: None)


def _write_json(path: str, rows: list[dict], name: str) -> None:
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, name), "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")


# --- two-level agg ---------------------------------------------------------

AGG_SCHEMA = "user string, ts timestamp, amount double"
WAVE1 = [
    {"user": "a", "ts": "2024-01-01 00:10:00", "amount": 1.0},
    {"user": "a", "ts": "2024-01-01 01:20:00", "amount": 2.0},
    {"user": "b", "ts": "2024-01-01 02:30:00", "amount": 3.0},
]
WAVE2 = [
    {"user": "b", "ts": "2024-01-01 03:30:00", "amount": 4.0},
    {"user": "a", "ts": "2024-01-01 03:40:00", "amount": 5.0},
]


def _two_level_run(spark, src, out, ckpt):
    def second_level(l1):
        return l1.groupBy("user").agg(
            F.sum("total").alias("grand_total"), F.sum("n").alias("n_events")
        )

    stream = (
        spark.readStream.schema(AGG_SCHEMA).json(src)
    )
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


def _two_level_read(spark, out):
    return sorted(
        (r.user, r.grand_total, r.n_events)
        for r in read_delta(spark, out).collect()
    )


# --- top-k -----------------------------------------------------------------

TOPK_SCHEMA = "grp string, item string, score double"
TOPK_WAVE1 = [
    {"grp": "g", "item": "w", "score": 10.0},
    {"grp": "g", "item": "x", "score": 20.0},
    {"grp": "g", "item": "y", "score": 30.0},
]
TOPK_WAVE2 = [
    {"grp": "g", "item": "z", "score": 25.0},
    {"grp": "g", "item": "w", "score": 40.0},  # update: w overtakes all
]


def _topk_run(spark, src, out, ckpt):
    stream = spark.readStream.schema(TOPK_SCHEMA).json(src)
    foreach_batch_topk(
        stream, out, ckpt, group_keys=["grp"], id_cols=["item"],
        order_col="score", k=2, spark=spark,
    )


def _topk_read(spark, out):
    return sorted(
        (r.grp, r.item, r.score, r.topk_rank)
        for r in read_delta(spark, out).collect()
    )


# --- CDC upsert ------------------------------------------------------------

UPSERT_SCHEMA = "k string, v double, seq long"
UPSERT_WAVE1 = [
    {"k": "a", "v": 1.0, "seq": 1},
    {"k": "b", "v": 2.0, "seq": 1},
]
UPSERT_WAVE2 = [
    {"k": "a", "v": 9.0, "seq": 2},
    {"k": "c", "v": 3.0, "seq": 1},
]


def _upsert_run(spark, src, out, ckpt):
    stream = spark.readStream.schema(UPSERT_SCHEMA).json(src)
    foreach_batch_upsert(
        stream, out, ckpt, keys=["k"], sequence_by=["seq"], spark=spark
    )


def _upsert_read(spark, out):
    return sorted(
        (r.k, r.v, r.seq) for r in read_upsert_table(spark, out).collect()
    )


# --- CEP matches through the partitioned-append sink -----------------------

CEP_SCHEMA = "user_id long, event_id long, ts timestamp, event_type string"
CEP_WAVE1 = [
    {"user_id": 1, "event_id": 1, "ts": "2024-01-01 00:00:00", "event_type": "view"},
    {"user_id": 1, "event_id": 2, "ts": "2024-01-01 00:10:00", "event_type": "click"},
    {"user_id": 1, "event_id": 3, "ts": "2024-01-01 00:20:00", "event_type": "purchase"},
    # advance the watermark far enough to finalize the match above
    {"user_id": 9, "event_id": 4, "ts": "2024-01-01 02:00:00", "event_type": "view"},
]
CEP_WAVE2 = [
    {"user_id": 2, "event_id": 5, "ts": "2024-01-01 02:05:00", "event_type": "view"},
    {"user_id": 2, "event_id": 6, "ts": "2024-01-01 02:15:00", "event_type": "click"},
    {"user_id": 2, "event_id": 7, "ts": "2024-01-01 02:25:00", "event_type": "purchase"},
    {"user_id": 9, "event_id": 8, "ts": "2024-01-01 05:00:00", "event_type": "view"},
]


def _cep_run(spark, src, out, ckpt):
    from zeta_etl_spark.streaming.cep import detect_sequence_stream

    stream = spark.readStream.schema(CEP_SCHEMA).json(src)
    matches = detect_sequence_stream(stream, watermark="10 minutes")
    foreach_batch_partitioned_append(matches, out, ckpt)


def _cep_read(spark, out):
    return sorted(
        (r.user_id, r.match_ep)
        for r in spark.read.parquet(out).drop("batch").collect()
    )


OPERATORS = {
    "two_level_agg": (
        _two_level_run, _two_level_read, AGG_SCHEMA, WAVE1, WAVE2,
        TWO_LEVEL_SEAMS,
    ),
    "topk": (
        _topk_run, _topk_read, TOPK_SCHEMA, TOPK_WAVE1, TOPK_WAVE2,
        ONE_COMMIT_SEAMS,
    ),
    "upsert": (
        _upsert_run, _upsert_read, UPSERT_SCHEMA, UPSERT_WAVE1, UPSERT_WAVE2,
        ONE_COMMIT_SEAMS,
    ),
    # single-phase protocol: the partition write is the publish
    "cep": (
        _cep_run, _cep_read, CEP_SCHEMA, CEP_WAVE1, CEP_WAVE2,
        {"post_stage": "post_stage", "post_publish": "post_publish"},
    ),
}

CASES = [
    (op, seam) for op, spec in OPERATORS.items() for seam in spec[5]
]


@pytest.mark.parametrize("op,seam", CASES, ids=[f"{o}-{s}" for o, s in CASES])
def test_crash_at_seam_then_resume_is_exactly_once(
    spark, tmp_path, monkeypatch, op, seam
):
    run, read, _schema, wave1, wave2, seams = OPERATORS[op]

    # clean twin: same two-wave schedule, separate dirs → expected output
    twin_src = str(tmp_path / "twin_src")
    twin_out = str(tmp_path / "twin_out")
    twin_ckpt = str(tmp_path / "twin_ckpt")
    _disarm(monkeypatch)
    _write_json(twin_src, wave1, "wave1.json")
    run(spark, twin_src, twin_out, twin_ckpt)
    _write_json(twin_src, wave2, "wave2.json")
    run(spark, twin_src, twin_out, twin_ckpt)
    expected = read(spark, twin_out)
    assert expected, f"{op}: twin run produced no rows — vacuous test"

    # crashed run
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _write_json(src, wave1, "wave1.json")
    run(spark, src, out, ckpt)

    _write_json(src, wave2, "wave2.json")
    fired = _arm(monkeypatch, seams[seam])
    with pytest.raises(Exception) as exc_info:
        run(spark, src, out, ckpt)
    # the crash must come from OUR seam, not an unrelated failure
    assert "Crash" in str(exc_info.value) or isinstance(
        exc_info.value, Crash
    ), f"unexpected failure: {exc_info.value}"
    assert fired["done"], "fault never fired"

    # resume: checkpoint replays the uncommitted (or un-checkpointed) batch
    _disarm(monkeypatch)
    run(spark, src, out, ckpt)
    assert read(spark, out) == expected

    # a further no-input run must be a no-op (idempotence after heal)
    run(spark, src, out, ckpt)
    assert read(spark, out) == expected


# --- bucketed merge upsert with IVM views ----------------------------------
#
# foreach_batch_merge_upsert publishes the base merge, then one generation
# per view, then the stream checkpoint confirms the batch.  Every publish
# passes the generation store's ``post_publish`` seam (plans/graph.py), so
# "crash after the n-th publish of wave 2" covers each point between them.

MU_SCHEMA = (
    "k bigint, g bigint, h string, ts timestamp, v bigint, deleted boolean"
)
MU_VIEWS = [
    {
        "name": "by_g",
        "group_cols": ["g"],
        "measures": ["v"],
        "minmax": ["v"],
        "delete_predicate": "deleted",
        "partition_by": ["g"],
    },
    {
        "name": "by_h",
        "group_cols": ["h"],
        "measures": ["v"],
        "delete_predicate": "deleted",
    },
]
MU_WAVE1 = [
    {"k": i, "g": i % 3, "h": "xyz"[i % 2], "ts": "2024-01-01 00:00:00",
     "v": 10 * i, "deleted": False}
    for i in range(12)
]
MU_WAVE2 = [
    # update in place, and an update that moves the row to another group
    {"k": 1, "g": 1, "h": "y", "ts": "2024-01-02 00:00:00", "v": 111,
     "deleted": False},
    {"k": 2, "g": 0, "h": "x", "ts": "2024-01-02 00:00:00", "v": 20,
     "deleted": False},
    # tombstone of group 2's maximum (k=11, v=110): the minmax recompute
    {"k": 11, "g": 2, "h": "y", "ts": "2024-01-02 00:00:00", "v": 110,
     "deleted": True},
    # identical re-delivery: no change row
    {"k": 4, "g": 1, "h": "x", "ts": "2024-01-01 00:00:00", "v": 40,
     "deleted": False},
    # inserts, one into a NULL group of each view
    {"k": 20, "g": None, "h": "z", "ts": "2024-01-02 00:00:00", "v": 7,
     "deleted": False},
    {"k": 21, "g": 2, "h": None, "ts": "2024-01-02 00:00:00", "v": 3,
     "deleted": False},
]
MU_CRASHES = {
    "base_published": 1,  # base merge live, no view synced
    "first_view_published": 2,  # by_g synced, by_h not
    "both_views_published": 3,  # both synced, stream checkpoint not
}


def _mu_rows(df):
    # repr orders rows that hold NULLs
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _mu_run(spark, src, base, ckpt):
    from zeta_etl_spark.streaming.runner import foreach_batch_merge_upsert

    stream = spark.readStream.schema(MU_SCHEMA).json(src)
    foreach_batch_merge_upsert(
        stream, base, "state", ckpt, keys=["k"], sequence_by=["ts"],
        spark=spark, n_buckets=4, views=MU_VIEWS,
    )


def _mu_read(spark, base):
    from zeta_etl_spark.streaming.runner import read_merge_upsert_table

    out = {"state": _mu_rows(
        read_merge_upsert_table(spark, base, "state")
        .select("k", "g", "h", "v", "deleted")
    )}
    for v in MU_VIEWS:
        df = spark.read.parquet(
            os.path.realpath(os.path.join(base, v["name"]))
        )
        out[v["name"]] = _mu_rows(df.select(*sorted(df.columns)))
    return out


def _mu_recompute(spark, base):
    from zeta_etl_spark.plans.ivm import full_agg
    from zeta_etl_spark.streaming.runner import read_merge_upsert_table

    live = read_merge_upsert_table(
        spark, base, "state", delete_predicate="deleted"
    )
    out = {}
    for v in MU_VIEWS:
        df = full_agg(
            live, v["group_cols"], v["measures"], minmax=v.get("minmax", ())
        )
        out[v["name"]] = _mu_rows(df.select(*sorted(df.columns)))
    return out


@pytest.mark.parametrize("crash", sorted(MU_CRASHES), ids=sorted(MU_CRASHES))
def test_merge_upsert_views_crash_then_resume_matches_twin(
    spark, tmp_path, monkeypatch, crash
):
    from zeta_etl_spark.plans import graph as graph_mod

    # clean twin over the same two waves
    twin_src, twin_base = str(tmp_path / "twin_src"), str(tmp_path / "twin")
    twin_ckpt = str(tmp_path / "twin_ckpt")
    _write_json(twin_src, MU_WAVE1, "wave1.json")
    _mu_run(spark, twin_src, twin_base, twin_ckpt)
    _write_json(twin_src, MU_WAVE2, "wave2.json")
    _mu_run(spark, twin_src, twin_base, twin_ckpt)
    expected = _mu_read(spark, twin_base)

    src, base = str(tmp_path / "src"), str(tmp_path / "base")
    ckpt = str(tmp_path / "ckpt")
    _write_json(src, MU_WAVE1, "wave1.json")
    _mu_run(spark, src, base, ckpt)

    _write_json(src, MU_WAVE2, "wave2.json")
    publishes = {"n": 0}

    def fault(tag):
        if tag == "post_publish":
            publishes["n"] += 1
            if publishes["n"] == MU_CRASHES[crash]:
                raise Crash(crash)

    monkeypatch.setattr(graph_mod, "_fault_injection", fault)
    with pytest.raises(Exception) as exc_info:
        _mu_run(spark, src, base, ckpt)
    assert "Crash" in str(exc_info.value) or isinstance(
        exc_info.value, Crash
    ), f"unexpected failure: {exc_info.value}"
    assert publishes["n"] == MU_CRASHES[crash]

    monkeypatch.setattr(graph_mod, "_fault_injection", lambda tag: None)
    _mu_run(spark, src, base, ckpt)
    got = _mu_read(spark, base)
    assert got == expected
    recomputed = _mu_recompute(spark, base)
    assert {k: got[k] for k in recomputed} == recomputed
    # both views carry their NULL group (column 1 after the sort by name)
    assert all(
        any(r[1] is None for r in got[v["name"]]) for v in MU_VIEWS
    )

    # a further no-input run is a no-op
    _mu_run(spark, src, base, ckpt)
    assert _mu_read(spark, base) == expected


def test_streaming_state_has_one_table_format():
    """The streaming sinks keep no second commit protocol beside the Delta
    log: no ``.version`` pointer, ``__v`` directory or ``os.replace`` in
    the runner, no versioned-store DataSource, and no session conf that
    existed only for it."""
    import ast
    import importlib.util

    from zeta_etl_spark import session

    with open(runner_mod.__file__) as fh:
        tree = ast.parse(fh.read())
    strings = [
        n.value for n in ast.walk(tree)
        if isinstance(n, ast.Constant) and isinstance(n.value, str)
    ]
    assert not [s for s in strings if ".version" in s or "__v" in s]
    assert not [
        n for n in ast.walk(tree)
        if isinstance(n, ast.Attribute) and n.attr == "replace"
        and getattr(n.value, "id", None) == "os"
    ]
    assert importlib.util.find_spec(
        "zeta_etl_spark.sources.versioned_store"
    ) is None
    with open(session.__file__) as fh:
        assert "spark.sql.python.filterPushdown.enabled" not in fh.read()
