"""ACID crash-matrix for batch overwrite materialization (VERDICT r6 next-3).

``Pipeline._write_overwrite_atomic`` stages each overwrite into a fresh
generation dir and publishes it with an atomic symlink swap — the parquet
stand-in for Delta's commit protocol (delta-spark is not installable in this
environment).  These tests kill the writer at every seam of the commit
protocol via the ``_fault_injection`` hook and assert a reader never
observes a torn table: at every crash point the table reads as either the
complete OLD generation or the complete NEW one.
"""

from __future__ import annotations

import os
import shutil

import pytest

from zeta_etl_spark.plans import graph as graph_mod
from zeta_etl_spark.plans.graph import Pipeline


class Boom(RuntimeError):
    pass


def _make_pipeline(base, rows_holder):
    p = Pipeline("acid", base)

    @p.table(name="tbl")
    def tbl(pl):
        spark = pl._spark
        return spark.createDataFrame(rows_holder["rows"], "k int, v string")

    return p


def _read_rows(spark, path):
    return sorted(
        (r.k, r.v) for r in spark.read.parquet(path).collect()
    )


OLD = [(1, "a"), (2, "b")]
NEW = [(3, "c"), (4, "d"), (5, "e")]


@pytest.mark.parametrize(
    "crash_point, expect_after_crash",
    [
        ("post_stage", OLD),   # staged write done, nothing committed
        ("post_seal", OLD),    # generation sealed, pointer not yet swapped
        ("post_publish", NEW),  # pointer swapped: new data fully visible
    ],
)
def test_crash_matrix_reader_never_torn(
    spark, tmp_path, monkeypatch, crash_point, expect_after_crash
):
    base = str(tmp_path / "p")
    holder = {"rows": OLD}
    p = _make_pipeline(base, holder)
    p.run(spark)
    path = p.path("tbl")
    assert _read_rows(spark, path) == sorted(OLD)

    # crash the second run at the chosen protocol seam
    holder["rows"] = NEW

    def boom(tag):
        if tag == crash_point:
            raise Boom(tag)

    monkeypatch.setattr(graph_mod, "_fault_injection", boom)
    with pytest.raises(Boom):
        p.run(spark)

    # a fresh reader sees a COMPLETE generation — never a partial mix,
    # never a missing table
    assert _read_rows(spark, path) == sorted(expect_after_crash)

    # recovery: the next run (no fault) heals debris and publishes NEW
    monkeypatch.setattr(graph_mod, "_fault_injection", lambda tag: None)
    holder["rows"] = NEW
    p.run(spark)
    assert _read_rows(spark, path) == sorted(NEW)
    gen_root = path + "__gen"
    assert not any(
        "__staging" in d or d.startswith("_ptr__")
        for d in os.listdir(gen_root)
    ), "crash debris must be healed by the next publish"


def test_seal_without_publish_heals_on_next_prepare(
    spark, tmp_path, monkeypatch
):
    """Crash between seal and publish, then simulate total pointer loss:
    _gen_prepare must restore the pointer to the newest sealed generation."""
    base = str(tmp_path / "p")
    holder = {"rows": OLD}
    p = _make_pipeline(base, holder)
    p.run(spark)
    path = p.path("tbl")

    holder["rows"] = NEW

    def boom(tag):
        if tag == "post_seal":
            raise Boom(tag)

    monkeypatch.setattr(graph_mod, "_fault_injection", boom)
    with pytest.raises(Boom):
        p.run(spark)
    # sealed generation exists; live still points at OLD
    assert _read_rows(spark, path) == sorted(OLD)
    # pointer lost entirely (e.g. crash inside a legacy migration window)
    os.remove(path)
    monkeypatch.setattr(graph_mod, "_fault_injection", lambda tag: None)
    p2 = _make_pipeline(base, holder)
    p2.run(spark)
    assert _read_rows(spark, path) == sorted(NEW)


def test_legacy_real_dir_is_migrated_once(spark, tmp_path):
    """A pre-existing in-place table (legacy layout) is adopted as a sealed
    prior generation; subsequent overwrites are fully atomic."""
    base = str(tmp_path / "p")
    holder = {"rows": NEW}
    p = _make_pipeline(base, holder)
    path = p.path("tbl")
    # legacy: a real parquet dir at the table path
    spark.createDataFrame(OLD, "k int, v string").write.parquet(path)
    assert os.path.isdir(path) and not os.path.islink(path)
    p.run(spark)
    assert os.path.islink(path)
    assert _read_rows(spark, path) == sorted(NEW)
    # the legacy data was adopted as generation v000001 (kept by retention)
    gens = sorted(
        d for d in os.listdir(path + "__gen") if d.startswith("v")
    )
    assert gens == ["v000001", "v000002"]


def test_retention_keeps_one_prior_generation(spark, tmp_path):
    """A reader whose plan pinned the previous generation must survive one
    publish (keep-one-prior retention); older generations are dropped."""
    base = str(tmp_path / "p")
    holder = {"rows": OLD}
    p = _make_pipeline(base, holder)
    p.run(spark)
    path = p.path("tbl")
    # snapshot isolation contract: a reader pins a generation by resolving
    # the pointer ONCE (exactly what _materialize's read-back and the temp
    # view do); reading through the un-resolved pointer always sees latest
    pinned = spark.read.parquet(os.path.realpath(path))
    pinned_rows = sorted((r.k, r.v) for r in pinned.collect())

    holder["rows"] = NEW
    p.run(spark)  # generation 2 published; generation 1 retained
    assert sorted(
        d for d in os.listdir(path + "__gen") if d.startswith("v")
    ) == ["v000001", "v000002"]
    # the pinned plan still reads its generation after the publish
    assert sorted((r.k, r.v) for r in pinned.collect()) == pinned_rows

    holder["rows"] = [(9, "z")]
    p.run(spark)  # generation 3: generation 1 is now out of retention
    assert sorted(
        d for d in os.listdir(path + "__gen") if d.startswith("v")
    ) == ["v000002", "v000003"]
    assert _read_rows(spark, path) == [(9, "z")]


def test_partitioned_overwrite_is_atomic_too(spark, tmp_path):
    base = str(tmp_path / "p")
    p = Pipeline("acid", base)

    @p.table(name="tbl", partition_by=("d",))
    def tbl(pl):
        return pl._spark.createDataFrame(
            [(1, "2024-01-01"), (2, "2024-01-02")], "k int, d string"
        )

    p.run(spark)
    path = p.path("tbl")
    assert os.path.islink(path)
    df = spark.read.parquet(path)
    assert df.count() == 2
    # hive layout survives inside the generation
    target = os.readlink(path)
    assert any(d.startswith("d=") for d in os.listdir(target))


def test_append_mode_keeps_in_place_layout(spark, tmp_path):
    """Append tables accumulate epochs in place — their idempotence story is
    batch-id partition replacement, not pointer swaps; layout unchanged."""
    base = str(tmp_path / "p")
    p = Pipeline("acid", base)

    @p.table(name="tbl", mode="append")
    def tbl(pl):
        return pl._spark.createDataFrame([(1, "a")], "k int, v string")

    p.run(spark)
    path = p.path("tbl")
    assert os.path.isdir(path) and not os.path.islink(path)


def test_describe_and_temp_view_work_through_pointer(spark, tmp_path):
    base = str(tmp_path / "p")
    holder = {"rows": OLD}
    p = _make_pipeline(base, holder)
    p.run(spark)
    info = {d["name"]: d for d in p.describe(spark)}
    assert info["tbl"]["materialized"]
    assert info["tbl"]["files"] > 0 and info["tbl"]["bytes"] > 0
    assert spark.sql("SELECT count(*) AS n FROM acid__tbl").first().n == 2
    shutil.rmtree(base)


def test_time_travel_read_version(spark, tmp_path):
    """Delta VERSION-AS-OF stand-in: each retained generation is a full
    snapshot; read_version reads it, table_versions lists the window, and
    a vacuumed version raises with the available range."""
    base = str(tmp_path / "p")
    holder = {"rows": OLD}
    p = Pipeline("acid", base, retain_generations=2)

    @p.table(name="tbl")
    def tbl(pl):
        return pl._spark.createDataFrame(holder["rows"], "k int, v string")

    p.run(spark)
    holder["rows"] = NEW
    p.run(spark)
    holder["rows"] = [(9, "z")]
    p.run(spark)

    assert p.table_versions("tbl") == [1, 2, 3]
    assert sorted(
        (r.k, r.v) for r in p.read_version(spark, "tbl", 1).collect()
    ) == sorted(OLD)
    assert sorted(
        (r.k, r.v) for r in p.read_version(spark, "tbl", 2).collect()
    ) == sorted(NEW)

    holder["rows"] = [(10, "w")]
    p.run(spark)  # generation 4: generation 1 leaves the retain window
    assert p.table_versions("tbl") == [2, 3, 4]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="available: \\[2, 3, 4\\]"):
        p.read_version(spark, "tbl", 1)


def test_retain_generations_validated(tmp_path):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="retain_generations"):
        Pipeline("p", str(tmp_path), retain_generations=0)


def test_history_records_commits(spark, tmp_path):
    """DESCRIBE HISTORY stand-in: every sealed generation carries its
    commit record (operation, pipeline, timestamp) plus on-disk stats."""
    base = str(tmp_path / "p")
    holder = {"rows": OLD}
    p = _make_pipeline(base, holder)
    p.run(spark)
    holder["rows"] = NEW
    p.run(spark)
    hist = p.history("tbl")
    assert [h["version"] for h in hist] == [1, 2]
    assert all(h["operation"] == "overwrite" for h in hist)
    assert all(h["files"] > 0 and h["bytes"] > 0 for h in hist)
    assert [h["is_current"] for h in hist] == [False, True]
    p.restore(spark, "tbl", 1)
    hist = p.history("tbl")
    assert hist[-1]["operation"] == "restore" and hist[-1]["is_current"]


def test_schema_evolution_across_generations(spark, tmp_path):
    """An overwrite that changes the schema publishes atomically like any
    other; the live pointer serves the NEW schema while a pinned reader of
    the prior generation keeps the OLD one (full-snapshot semantics — no
    Delta-style column mapping needed)."""
    base = str(tmp_path / "p")
    p = Pipeline("acid", base)
    state = {"wide": False}

    @p.table(name="tbl")
    def tbl(pl):
        if state["wide"]:
            return pl._spark.createDataFrame(
                [(1, "a", 10.0)], "k int, v string, w double"
            )
        return pl._spark.createDataFrame([(1, "a")], "k int, v string")

    p.run(spark)
    path = p.path("tbl")
    pinned = spark.read.parquet(os.path.realpath(path))
    state["wide"] = True
    p.run(spark)
    assert spark.read.parquet(path).columns == ["k", "v", "w"]
    assert pinned.columns == ["k", "v"]
    assert pinned.count() == 1  # old snapshot fully readable post-publish


def test_concurrent_reader_never_torn_under_live_publishes(spark, tmp_path):
    """Stress the atomicity claim with a LIVE reader following the reader
    contract (``Pipeline.read_table``: resolve the pointer once per read)
    while the writer publishes 8 generations with growing row counts.
    Every read must observe one of the exact published row multisets —
    never a partial directory, never a mix, never ENOENT.  (A reader that
    instead re-resolves the raw symlink per file access can straddle a
    swap — that is exactly what read_table exists to prevent, and its
    docstring documents the contract.)"""
    import threading

    base = str(tmp_path / "p")
    holder = {"rows": [(i, "g0") for i in range(10)]}
    p = Pipeline("acid", base, retain_generations=2)

    @p.table(name="tbl")
    def tbl(pl):
        return pl._spark.createDataFrame(holder["rows"], "k int, v string")

    p.run(spark)

    published = [tuple(sorted(holder["rows"]))]
    seen: list = []
    errors: list = []
    stop = threading.Event()

    def reader():
        while not stop.is_set():
            try:
                rows = tuple(
                    sorted(
                        (r.k, r.v)
                        for r in p.read_table(spark, "tbl").collect()
                    )
                )
                seen.append(rows)
            except Exception as e:  # noqa: BLE001 — any error = torn read
                errors.append(repr(e))
                return

    t = threading.Thread(target=reader, daemon=True)
    t.start()
    for g in range(1, 9):
        holder["rows"] = [(i, f"g{g}") for i in range(10 + g)]
        published.append(tuple(sorted(holder["rows"])))
        p.run(spark)
    stop.set()
    t.join(timeout=60)
    assert not errors, f"reader saw a torn/missing table: {errors[:3]}"
    assert seen, "reader never completed a read — vacuous"
    valid = set(published)
    torn = [s for s in seen if s not in valid]
    assert not torn, f"reader observed non-published states: {torn[:2]}"


def test_backfill_publishes_a_new_generation(spark, tmp_path):
    """Backfill stages the rebuilt partitions beside hard links of the
    untouched ones and publishes them as a new generation: the sealed
    generation it read, and time travel to it, never change."""
    base = str(tmp_path / "p")
    state = {"v": 1}
    p = Pipeline("bfg", base)

    @p.table(name="daily", partition_by=["dt"])
    def daily(pl):
        return pl._spark.createDataFrame(
            [("2024-01-01", 1, state["v"]), ("2024-01-02", 2, state["v"])],
            "dt string, k bigint, v bigint",
        )

    def rows(df):
        return sorted((str(r.dt), r.k, r.v) for r in df.collect())

    p.run(spark)
    v_before = p.live_version("daily")
    sealed = rows(p.read_version(spark, "daily", v_before))
    assert sealed == [("2024-01-01", 1, 1), ("2024-01-02", 2, 1)]

    state["v"] = 2
    assert p.backfill(spark, "daily", "dt = '2024-01-02'") == 1
    assert p.live_version("daily") == v_before + 1
    assert rows(p.read_version(spark, "daily", v_before)) == sealed
    hist = p.history("daily")
    assert hist[-1]["operation"] == "backfill" and hist[-1]["is_current"]
    assert hist[-1]["where"] == "dt = '2024-01-02'"
    assert rows(p.read_table(spark, "daily")) == [
        ("2024-01-01", 1, 1),
        ("2024-01-02", 2, 2),
    ]


def test_one_versioned_table_stack_in_the_pipeline():
    """OPTIMIZE, VACUUM, SHALLOW CLONE, TIMESTAMP AS OF and the full
    commit history live in the Delta log (``sinks/delta_log.py``) only:
    the Pipeline keeps no parquet copy of them, no second commit log, and
    flips no session conf."""
    import ast
    import inspect

    for gone in (
        "compact",
        "vacuum",
        "commit_log",
        "read_as_of",
        "clone_table",
        "_log_append",
        "_log_dir",
        "_log_read_raw",
    ):
        assert not hasattr(Pipeline, gone), gone
    params = inspect.signature(Pipeline.__init__).parameters
    assert "log_checkpoint_every" not in params
    with open(graph_mod.__file__) as fh:
        tree = ast.parse(fh.read())
    strings = [
        n.value for n in ast.walk(tree)
        if isinstance(n, ast.Constant) and isinstance(n.value, str)
    ]
    assert not [s for s in strings if "__compacting" in s]
    assert "spark.sql.sources.partitionOverwriteMode" not in strings
    assert not [
        n for n in ast.walk(tree)
        if isinstance(n, ast.Attribute) and n.attr == "set"
        and getattr(n.value, "attr", None) == "conf"
    ]
