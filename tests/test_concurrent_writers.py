"""Multi-writer commit protocol (VERDICT r7 #7): optimistic concurrency
for the lakehouse stand-in.

- MERGE (read-modify-write) commits CAS on the generation it read: the
  loser raises ConcurrentWriteError and aborts cleanly (staging removed,
  winner's publish untouched) — Delta's ConcurrentModificationException
  semantics.
- Blind overwrites serialize on the commit flock: both land as distinct
  generations, last-committer-wins on the pointer, readers never torn.
- Crash-debris healing is pid-liveness-aware: a LIVE writer's staging is
  never removed by another writer's prepare; dead writers' staging is.
"""

from __future__ import annotations

import os
import threading

import pytest

from zeta_etl_spark.plans import graph as graph_mod
from zeta_etl_spark.plans.graph import ConcurrentWriteError, Pipeline


def _seed(spark, base, rows):
    p = Pipeline("occ", base)

    @p.table(name="tbl")
    def tbl(pl):
        return pl._spark.createDataFrame(rows, "k int, v string")

    p.run(spark)
    return p


def _rows(spark, p):
    return sorted(
        (r.k, r.v)
        for r in spark.read.parquet(os.path.realpath(p.path("tbl"))).collect()
    )


def test_merge_loser_aborts_cleanly(spark, tmp_path, monkeypatch):
    """Writer A stages its merge, writer B commits in between → A's commit
    must fail the CAS, remove its staging, and leave B's result intact."""
    base = str(tmp_path / "p")
    p = _seed(spark, base, [(1, "a"), (2, "b")])

    b_src = spark.createDataFrame([(2, "B-WON")], "k int, v string")
    a_src = spark.createDataFrame([(2, "A-LOST")], "k int, v string")

    state = {"fired": False}

    def interleave(tag):
        if tag == "post_stage" and not state["fired"]:
            state["fired"] = True  # only writer A's stage triggers B
            p2 = Pipeline("occ", base)

            @p2.table(name="tbl")
            def tbl(pl):  # registration only; table already materialized
                raise RuntimeError("not used")

            p2.merge_into(
                spark, "tbl", b_src, on=["k"], when_matched_update="*"
            )

    monkeypatch.setattr(graph_mod, "_fault_injection", interleave)
    with pytest.raises(ConcurrentWriteError, match="another writer"):
        p.merge_into(spark, "tbl", a_src, on=["k"], when_matched_update="*")
    monkeypatch.setattr(graph_mod, "_fault_injection", lambda tag: None)

    assert _rows(spark, p) == [(1, "a"), (2, "B-WON")]
    gen_root = p.path("tbl") + "__gen"
    assert not any("__staging" in d for d in os.listdir(gen_root)), (
        "loser must remove its own staging"
    )
    # the loser retries per the error message: re-read + re-derive succeeds
    m = p.merge_into(
        spark,
        "tbl",
        spark.createDataFrame([(1, "A-RETRY")], "k int, v string"),
        on=["k"],
        when_matched_update="*",
    )
    assert m["rows_updated"] == 1
    assert _rows(spark, p) == [(1, "A-RETRY"), (2, "B-WON")]


def test_concurrent_blind_overwrites_serialize(spark, tmp_path):
    """Two threads overwrite-publish the same table concurrently: both
    generations are sealed, the pointer lands on exactly one of them, and
    a reader polling throughout never observes a torn table."""
    base = str(tmp_path / "p")
    p = _seed(spark, base, [(0, "seed")])
    path = p.path("tbl")

    errors: list = []
    torn: list = []
    stop = threading.Event()

    def reader():
        while not stop.is_set():
            try:
                rows = _rows(spark, p)
            except Exception as e:  # noqa: BLE001 — any read failure is torn
                torn.append(repr(e))
                return
            ks = {k for k, _ in rows}
            if ks not in ({0}, {1}, {2}):
                torn.append(rows)
                return

    def writer(tag):
        try:
            df = spark.createDataFrame([(tag, f"w{tag}")], "k int, v string")
            p._write_overwrite_atomic(p.nodes["tbl"], df)
        except Exception as e:  # noqa: BLE001
            errors.append(repr(e))

    rt = threading.Thread(target=reader)
    w1 = threading.Thread(target=writer, args=(1,))
    w2 = threading.Thread(target=writer, args=(2,))
    rt.start(), w1.start(), w2.start()
    w1.join(), w2.join()
    stop.set()
    rt.join()

    assert errors == [], errors
    assert torn == [], torn
    final = _rows(spark, p)
    assert final in ([(1, "w1")], [(2, "w2")])
    # both publishes exist as history inside the retention window
    gens = p.table_versions("tbl")
    assert len(gens) >= 2


def test_healing_spares_live_writer_staging(spark, tmp_path):
    base = str(tmp_path / "p")
    p = _seed(spark, base, [(1, "a")])
    gen_root = p.path("tbl") + "__gen"

    live = os.path.join(gen_root, f"__staging_{os.getpid()}_deadbeef")
    os.makedirs(live)
    # a pid that cannot exist (beyond pid_max default) → dead
    dead = os.path.join(gen_root, "__staging_99999999_cafebabe")
    os.makedirs(dead)
    legacy = os.path.join(gen_root, "v000099__staging")
    os.makedirs(legacy)

    p._gen_prepare(p.path("tbl"))
    assert os.path.isdir(live), "live writer's staging must survive healing"
    assert not os.path.exists(dead), "dead writer's staging must be healed"
    assert not os.path.exists(legacy), "legacy unowned staging is healed"
    os.rmdir(live)

