"""The MERGE INTO clause matrix, as a reusable plan builder.

Two storage layers execute Delta-shaped MERGE in this engine — the
generation store (``plans/graph.py Pipeline.merge_into``) and the native
Delta format layer (``sinks/delta_log.py merge_delta``).  The SEMANTICS
(join, WHEN-clause gates, output-column matrix, survivor predicate) are
identical and live here once; each layer supplies its own snapshot read,
file pruning, and commit protocol around this kernel.

Semantics (Delta MERGE, delta.io SQL reference; reference parity: the
reference's CDC pipelines maintain Delta targets via apply_changes,
zetaflex-pipeline.py:146-151, zetadex-referrals-pipeline.py:147-152):

- ``on`` — equi-join keys.  NULL keys never match (a NULL-keyed source
  row is insert-only) unless ``null_safe_on=True`` switches the match to
  ``<=>``.
- ``when_matched_delete`` (+ optional ``delete_condition``) is evaluated
  FIRST on matched pairs; then ``when_matched_update`` (``"*"`` =
  replace the row with source columns, or ``{target_col: sql_expr}``)
  gated by ``update_condition``.  Matched rows claimed by neither clause
  are copied unchanged.
- ``when_not_matched_insert`` — ``"*"`` or ``{target_col: sql_expr}``
  (unlisted columns NULL), gated by ``insert_condition``.  Without an
  insert clause, unmatched source rows are ignored.
- Condition/expression SQL references target columns as ``t.col`` and
  source columns as ``s.col``.
- ``new_cols`` — source-only columns appended to the output schema
  (schema evolution); callers decide whether/when to allow them.

Scale: one full-outer join shuffled on the key columns; everything else
is row-local column arithmetic inside whole-stage codegen.  One MERGE is
one pass: each layer pins its source (:class:`Pins`), so the duplicate-key
guard, the pruning probes and the join read one evaluation of it; the
clause counts ride the first action over the join (``df.observe``, see
:meth:`MergePlan.observe`), and the join itself is pinned only when a
second consumer (a change-row writer) reads it too.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


class Pins:
    """Frames one MERGE evaluates once (``localCheckpoint``) and releases
    together when it is done — their blocks otherwise stay in the block
    manager until the JVM happens to collect the frames.  A frame must not
    be read after :meth:`release`; use as a context manager."""

    def __init__(self) -> None:
        self._rdds: list = []

    def pin(self, df: DataFrame, eager: bool = False) -> DataFrame:
        """Checkpoint ``df``.  Lazy by default: the first action over the
        result evaluates it and every later one reads the stored rows.
        ``eager=True`` evaluates it now — needed when an observation rides
        ``df``, because a lazily checkpointed plan runs inside another
        action's lineage, where observed metrics are never reported."""
        df = df.localCheckpoint(eager=eager)
        self._rdds.append(df._jdf.queryExecution().analyzed().rdd())
        return df

    def release(self) -> None:
        # the context-level call: RDD.unpersist does the same but warns
        # that a locally checkpointed RDD cannot be recomputed
        for rdd in self._rdds:
            rdd.context().unpersistRDD(rdd.id(), False)
        self._rdds.clear()

    def __enter__(self) -> "Pins":
        return self

    def __exit__(self, *exc) -> None:
        self.release()


def reject_duplicate_source_keys(source: DataFrame, on: Sequence[str]) -> None:
    """Delta's multiple-source-rows-match guard, strengthened: duplicate
    ``on``-keys in the source are an ERROR up front (Delta only errors when
    the duplicates MATCH; unmatched duplicates would insert twice and make
    the next merge nondeterministic anyway).  NULL key components compare
    equal for this guard (GROUP BY semantics) even though they never
    match.  One aggregate job over the (usually small) source side."""
    if not (
        source.groupBy(*on)
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") > 1)
        .isEmpty()
    ):
        raise ValueError(
            "merge: multiple source rows match the same target key "
            f"(duplicate {list(on)} in source) — result would be "
            "nondeterministic"
        )


@dataclass
class MergePlan:
    """The composed merge join plus every gate/projection a storage layer
    needs: the merged output, per-clause metrics, and the row-level change
    frames (preimages/postimages) a Change Data Feed writer emits."""

    joined: DataFrame
    matched: Column
    upd_gate: Column
    del_gate: Column
    ins_gate: Column
    survives: Column
    unchanged: Column  # the clause output equals the target row
    out_cols: list  # Column list: merged output, target order + new_cols
    pre_cols: list  # Column list: target-side preimage, same names/types
    rt_cols: list = field(default_factory=list)
    # Column list: materialized row-tracking carry-through (data files
    # only — never part of the change feed)

    def merged(self) -> DataFrame:
        """Rows of the post-merge table slice (survivors, clause-applied)."""
        return self.joined.where(self.survives).select(
            *self.out_cols, *self.rt_cols
        )

    def changes(self, drop_identical: bool = False) -> DataFrame:
        """Row-level change feed of this merge, Delta CDF shape: the
        ``_change_type`` column holds ``delete`` / ``update_preimage`` /
        ``update_postimage`` / ``insert``.  Matched-and-copied rows emit
        NOTHING — exactly the spec's point of carrying cdc files instead
        of deriving changes from rewritten data files.

        ``drop_identical=True`` also drops the pre/post pairs of updates
        that leave the row as it was (a re-delivered row): the feed then
        equals the snapshot diff of the two generations, row for row
        (``Pipeline.table_changes`` without its version columns)."""
        j = self.joined
        ct = "_change_type"
        upd = self.upd_gate
        if drop_identical:
            upd = upd & ~self.unchanged
        pieces = [
            j.where(self.del_gate).select(
                *self.pre_cols, F.lit("delete").alias(ct)
            ),
            j.where(upd).select(
                *self.pre_cols, F.lit("update_preimage").alias(ct)
            ),
            j.where(upd).select(
                *self.out_cols, F.lit("update_postimage").alias(ct)
            ),
            j.where(self.ins_gate).select(
                *self.out_cols, F.lit("insert").alias(ct)
            ),
        ]
        return reduce(lambda a, b: a.unionByName(b), pieces)

    def observe(self) -> Callable[[], dict]:
        """Attach the clause counters to ``joined``, before the survivor
        filter so deleted rows count too.  They fill when the first action
        over ``joined`` completes — the data write, or the join's eager
        pin — so they cost no job of their own.  Returns the getter of
        {rows_deleted, rows_updated, rows_inserted, rows_matched_copied};
        call it only after that action."""
        obs = Observation()
        self.joined = self.joined.observe(
            obs,
            F.sum(self.del_gate.cast("bigint")).alias("deleted"),
            F.sum(self.upd_gate.cast("bigint")).alias("updated"),
            F.sum(self.ins_gate.cast("bigint")).alias("inserted"),
            F.sum(
                (self.matched & ~self.del_gate & ~self.upd_gate).cast(
                    "bigint"
                )
            ).alias("matched_copied"),
        )

        def counts() -> dict:
            row = obs.get
            return {
                "rows_deleted": row["deleted"] or 0,
                "rows_updated": row["updated"] or 0,
                "rows_inserted": row["inserted"] or 0,
                "rows_matched_copied": row["matched_copied"] or 0,
            }

        return counts


def build_merge_plan(
    target: DataFrame,
    source: DataFrame,
    on: Sequence[str],
    *,
    when_matched_update: str | dict[str, str] | None = None,
    update_condition: str | None = None,
    when_matched_delete: bool = False,
    delete_condition: str | None = None,
    when_not_matched_insert: str | dict[str, str] | None = None,
    insert_condition: str | None = None,
    null_safe_on: bool = False,
    new_cols: Sequence[str] = (),
    tfields: dict | None = None,
    row_tracking: Sequence[str] = (),
) -> MergePlan:
    """Compose the merge join and clause matrix over ``target`` ×
    ``source``.  ``tfields`` maps output column name -> Spark DataType
    (defaults to the target's own types); ``new_cols`` lists source-only
    columns appended after the target schema (their types must be in
    ``tfields``).  ``row_tracking=(row_id_col, row_commit_version_col)``
    marks target-side MATERIALIZED row-tracking columns: excluded from
    the clause matrix and the change feed, they ride ``merged()`` with
    Delta's preservation rule — any surviving target row keeps its row
    id; copied rows keep their commit version while updated rows take
    NULL (the committing version, via the new file's default); inserted
    rows take NULL for both (fresh allocation)."""
    if (
        when_matched_update is None
        and not when_matched_delete
        and when_not_matched_insert is None
    ):
        raise ValueError("merge: no WHEN clause given")
    on = list(on)
    new_cols = list(new_cols)
    row_tracking = list(row_tracking)
    tcols = [c for c in target.columns if c not in set(row_tracking)]
    if tfields is None:
        tfields = {f.name: f.dataType for f in target.schema.fields}

    tj = target.select(
        F.struct(
            *[F.col(f"`{c}`") for c in tcols + row_tracking]
        ).alias("t")
    )
    sj = source.select(
        F.struct(*[F.col(c) for c in source.columns]).alias("s")
    )
    joined = tj.join(
        sj,
        reduce(
            lambda a, b: a & b,
            [
                tj["t"][k].eqNullSafe(sj["s"][k])
                if null_safe_on
                else (tj["t"][k] == sj["s"][k])
                for k in on
            ],
        ),
        "full_outer",
    )
    matched = F.col("t").isNotNull() & F.col("s").isNotNull()
    upd_gate = (
        matched & F.expr(update_condition or "true")
        if when_matched_update is not None
        else F.lit(False)
    )
    del_gate = (
        matched & F.expr(delete_condition or "true")
        if when_matched_delete
        else F.lit(False)
    )
    # clause order: delete first, then update on the remainder
    upd_gate = upd_gate & ~del_gate
    ins_gate = (
        F.col("t").isNull() & F.expr(insert_condition or "true")
        if when_not_matched_insert is not None
        else F.lit(False)
    )

    out = []  # output value per column, target order + new_cols
    for c in tcols:
        if when_matched_update is not None:
            if when_matched_update == "*":
                upd = F.expr(f"s.{c}")
            else:
                sql = when_matched_update.get(c)
                upd = F.expr(sql) if sql is not None else F.expr(f"t.{c}")
            col = F.when(upd_gate, upd)
            col = col.when(F.col("t").isNotNull(), F.expr(f"t.{c}"))
        else:
            col = F.when(F.col("t").isNotNull(), F.expr(f"t.{c}"))
        if when_not_matched_insert is not None:
            if when_not_matched_insert == "*":
                ins = F.expr(f"s.{c}")
            else:
                sql = when_not_matched_insert.get(c)
                ins = F.expr(sql) if sql is not None else F.lit(None)
            col = col.otherwise(ins)
        out.append(col.cast(tfields[c]))
    for c in new_cols:  # appended after the existing schema
        col = F.when(upd_gate, F.expr(f"s.{c}"))
        col = col.when(F.col("t").isNotNull(), F.lit(None))
        if when_not_matched_insert is not None:
            col = col.otherwise(F.expr(f"s.{c}"))
        out.append(col.cast(tfields[c]))

    pre = [F.expr(f"t.{c}").cast(tfields[c]) for c in tcols] + [
        F.lit(None).cast(tfields[c]) for c in new_cols
    ]
    out_cols = [col.alias(c) for col, c in zip(out, tcols + new_cols)]
    pre_cols = [col.alias(c) for col, c in zip(pre, tcols + new_cols)]
    unchanged = reduce(
        lambda a, b: a & b,
        [a.eqNullSafe(b) for a, b in zip(pre, out)],
        F.lit(True),
    )

    rt_cols = []
    if row_tracking:
        rid, rcv = row_tracking
        rt_cols = [
            # any surviving target row keeps its id; inserts get NULL
            F.when(F.col("t").isNotNull(), F.expr(f"t.`{rid}`"))
            .cast("long").alias(rid),
            # copied rows keep their commit version; updated rows take
            # NULL (resolved to the committing version by the new add's
            # defaultRowCommitVersion); inserts NULL
            F.when(
                F.col("t").isNotNull() & ~upd_gate, F.expr(f"t.`{rcv}`")
            ).cast("long").alias(rcv),
        ]

    survives = (
        (matched & ~del_gate)
        | (F.col("t").isNotNull() & F.col("s").isNull())
        | ins_gate
    )
    return MergePlan(
        joined=joined,
        matched=matched,
        upd_gate=upd_gate,
        del_gate=del_gate,
        ins_gate=ins_gate,
        survives=survives,
        unchanged=unchanged,
        out_cols=out_cols,
        pre_cols=pre_cols,
        rt_cols=rt_cols,
    )
