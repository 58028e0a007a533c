"""Incremental view maintenance (IVM) for additive aggregate views.

The reference's gold tables are aggregate views over CDC-maintained silvers
that DLT recomputes per trigger (e.g. the hourly/user rollups in
zetadex-transactions-helius-pipeline.py); Databricks' incremental
refresh ("Enzyme") and Materialize/Feldera maintain such views from the
change feed instead — cost proportional to the CHANGE volume, not the view
input.  This module is that capability on the engine's own primitives:

    Pipeline.table_changes (CDF)  →  delta_from_changes (signed fold)
        →  Pipeline.merge_into (null-safe keyed upsert of group rows)

Supported aggregates are the self-maintainable additive ones: COUNT(*),
per-measure SUM and non-null COUNT (from which AVG derives).  MIN/MAX —
not self-maintainable under deletes (a retracted maximum requires
re-scanning its group, the line every IVM engine draws for its "fully
incremental" tier) — are supported as a HYBRID via ``minmax=``:
insert-only groups merge with least/greatest (pure delta cost), and
retraction-touched groups recompute their extrema from the current base
snapshot through a semi join (cost ∝ those groups' base rows, never view
or base size).  Views that never see deletes pay nothing for it.

Determinism: measures must be exact types (integral or DECIMAL).  Floating
measures are REJECTED — incremental float sums drift from recomputed ones
(addition is not associative in IEEE), so a maintained float view would
slowly diverge from its own definition.  Cast money doubles to
DECIMAL(32,6) upstream (functions/deterministic.py rules).

View schema, for group columns G and measures m1..mk:

    G..., _n BIGINT,                    -- COUNT(*) of live base rows
    <m>_sum <exact type>, <m>_n BIGINT  -- SUM(m), COUNT(m) per measure
    <m>_min, <m>_max                    -- per minmax= measure (hybrid)

``SUM`` of zero non-null inputs is NULL in SQL; the pair (sum, n) preserves
that: expose ``CASE WHEN <m>_n = 0 THEN NULL ELSE <m>_sum END``.  Groups
whose ``_n`` reaches 0 are DELETED by the merge (SQL GROUP BY emits no row
for an empty group).
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType, IntegralType

from zeta_etl_spark.operators.cdc import drop_tombstones
from zeta_etl_spark.operators.merge_kernel import Pins
from zeta_etl_spark.plans.graph import Pipeline

_ADD = ("insert", "update_postimage")
_RETRACT = ("delete", "update_preimage")


def _check_exact(df: DataFrame, measures: Sequence[str]) -> None:
    for m in measures:
        dt = df.schema[m].dataType
        if not isinstance(dt, (IntegralType, DecimalType)):
            raise TypeError(
                f"ivm: measure {m!r} has type {dt.simpleString()} — only "
                "exact types (integral, DECIMAL) are self-maintainable "
                "without drift; cast float measures to DECIMAL upstream"
            )


def full_agg(
    base: DataFrame,
    group_cols: Sequence[str],
    measures: Sequence[str],
    minmax: Sequence[str] = (),
) -> DataFrame:
    """The view DEFINITION: a plain GROUP BY over a base snapshot.  Used to
    seed the view and as the recompute oracle in tests.

    ``minmax`` measures additionally maintain ``<m>_min``/``<m>_max``.
    They are exempt from the exact-type rule (MIN/MAX never accumulate —
    floats, strings, and timestamps order exactly), but they are NOT
    self-maintainable under retractions; maintenance recomputes min/max
    for retraction-touched groups from the base snapshot (cost ∝ changed
    groups' base rows, never view or base size)."""
    _check_exact(base, measures)
    aggs = [F.count(F.lit(1)).alias("_n")]
    for m in measures:
        aggs.append(F.sum(m).alias(f"{m}_sum"))
        aggs.append(F.count(m).alias(f"{m}_n"))
    for m in minmax:
        aggs.append(F.min(m).alias(f"{m}_min"))
        aggs.append(F.max(m).alias(f"{m}_max"))
    return base.groupBy(*group_cols).agg(*aggs)


def delta_from_changes(
    cdf: DataFrame,
    group_cols: Sequence[str],
    measures: Sequence[str],
    minmax: Sequence[str] = (),
) -> DataFrame:
    """Fold a change feed into per-group signed deltas.

    Each CDF row carries weight +1 (insert / update_postimage) or -1
    (delete / update_preimage); an update whose group did not change folds
    to sum-of-value-diffs within the group, and an update that MOVED a row
    across groups folds to -1 in the old group and +1 in the new — no
    special casing.  One shuffle, map-side combinable.

    With ``minmax``, the fold also carries per-group ``<m>_min_ins``/
    ``<m>_max_ins`` over the ADDED rows plus ``_retracts`` (count of
    retraction rows) — the inputs :func:`maintain_agg_view` needs to
    decide between the cheap least/greatest merge (insert-only group) and
    the bounded per-group recompute (retraction-touched group).
    """
    _check_exact(cdf, measures)
    # the unknown-change-type guard rides INSIDE the fold (ADVICE r7): a
    # CaseWhen short-circuits, so raise_error fires only on rows neither
    # branch matched — no separate validation job re-evaluating the CDF
    w = (
        F.when(F.col("_change_type").isin(*_ADD), F.lit(1))
        .when(F.col("_change_type").isin(*_RETRACT), F.lit(-1))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit("ivm: unknown _change_type value: "),
                    F.coalesce(F.col("_change_type"), F.lit("NULL")),
                )
            ).cast("int")
        )
    )
    signed = cdf.withColumn("_w", w)
    aggs = [F.sum("_w").cast("bigint").alias("_n_delta")]
    for m in measures:
        aggs.append(F.sum(F.col(m) * F.col("_w")).alias(f"{m}_sum_delta"))
        # coalesce: an all-NULL-measure group folds to SUM-over-nothing =
        # NULL, which would poison the view's counter arithmetic
        aggs.append(
            F.coalesce(
                F.sum(F.when(F.col(m).isNotNull(), F.col("_w"))), F.lit(0)
            )
            .cast("bigint")
            .alias(f"{m}_n_delta")
        )
    for m in minmax:
        aggs.append(
            F.min(F.when(F.col("_w") == 1, F.col(m))).alias(f"{m}_min_ins")
        )
        aggs.append(
            F.max(F.when(F.col("_w") == 1, F.col(m))).alias(f"{m}_max_ins")
        )
    if minmax:
        aggs.append(
            F.coalesce(F.sum(F.when(F.col("_w") == -1, F.lit(1))), F.lit(0))
            .cast("bigint")
            .alias("_retracts")
        )
    return signed.groupBy(*group_cols).agg(*aggs)


def expose_view(
    view: DataFrame,
    group_cols: Sequence[str],
    measures: Sequence[str],
    minmax: Sequence[str] = (),
) -> DataFrame:
    """SQL-semantics read surface over the maintained state: COUNT(*),
    SUM (NULL when the group has zero non-null inputs) and derived AVG per
    measure.  AVG is exact-sum / non-null-count in DOUBLE (one correctly-
    rounded division — the repo's cross-engine determinism rule), NOT
    Spark's ``AVG(DECIMAL)`` decimal-scale rounding."""
    cols = [*group_cols, F.col("_n").alias("cnt")]
    for m in measures:
        s = F.when(F.col(f"{m}_n") > 0, F.col(f"{m}_sum"))
        cols.append(s.alias(f"{m}_sum"))
        cols.append(
            F.when(
                F.col(f"{m}_n") > 0,
                F.col(f"{m}_sum").cast("double")
                / F.col(f"{m}_n").cast("double"),
            ).alias(f"{m}_avg")
        )
    for m in minmax:
        cols.append(F.col(f"{m}_min"))
        cols.append(F.col(f"{m}_max"))
    return view.select(*cols)


def _null_safe_cond(left, right, cols: Sequence[str]):
    cond = None
    for c in cols:
        term = left[c].eqNullSafe(right[c])
        cond = term if cond is None else (cond & term)
    return cond


def maintain_agg_view(
    spark: SparkSession,
    pipeline: Pipeline,
    view_name: str,
    cdf: DataFrame,
    group_cols: Sequence[str],
    measures: Sequence[str],
    commit_extra: dict | None = None,
    minmax: Sequence[str] = (),
    base_current: DataFrame | None = None,
) -> dict:
    """Apply one change-feed batch to a materialized aggregate view.

    The view table must exist (seed it by materializing :func:`full_agg`
    over the initial base snapshot).  The delta is MERGEd on the group
    columns with null-safe keys (NULL is a real group), with the clause
    matrix encoding the IVM algebra:

    - matched and the group count reaches zero → DELETE the group row;
    - matched otherwise → counters += deltas (SUM of two NULLs stays NULL
      via the (sum, n) pair — coalesce is safe because <m>_n = 0 forces
      exposure back to NULL);
    - unmatched delta group → INSERT (a brand-new group).

    Cost ∝ |changed groups| (+ the merge's touched-partition rewrite), not
    view size — partition the view by a leading group column to get
    hard-linked untouched partitions.

    Correctness contract (tested): for any base v1 → v2,
    ``maintain_agg_view(view(v1), table_changes(v1, v2)) == full_agg(v2)``.
    """
    group_cols = list(group_cols)
    minmax = list(minmax)
    delta = delta_from_changes(cdf, group_cols, measures, minmax)
    # the pinned minmax delta is released once the merge has read it
    with Pins() as pins:
        if minmax:
            # MIN/MAX are not self-maintainable under retractions: a deleted
            # row may BE the group extremum.  Insert-only groups merge with
            # least/greatest (O(delta)); retraction-touched groups recompute
            # from the CURRENT base snapshot, bounded by those groups' base
            # rows via a semi join — never view or base size.
            delta = pins.pin(delta, eager=True)  # probe + joins + merge
            has_retr = bool(delta.filter(F.col("_retracts") > 0).head(1))
            if has_retr and base_current is None:
                raise ValueError(
                    "maintain_agg_view: the change batch retracts rows and the "
                    "view maintains MIN/MAX — pass base_current (the base "
                    "table's post-change snapshot) so touched groups can be "
                    "recomputed"
                )
            if has_retr:
                touched = delta.filter(F.col("_retracts") > 0).select(*group_cols)
                rc_aggs = []
                for m in minmax:
                    rc_aggs.append(F.min(m).alias(f"{m}_min_rc"))
                    rc_aggs.append(F.max(m).alias(f"{m}_max_rc"))
                rc = (
                    base_current.join(
                        touched,
                        _null_safe_cond(base_current, touched, group_cols),
                        "left_semi",
                    )
                    .groupBy(*group_cols)
                    .agg(*rc_aggs)
                )
                d, r = delta.alias("d"), rc.alias("r")
                sel = [d[c] for c in delta.columns] + [
                    r[f"{m}_{mm}_rc"] for m in minmax for mm in ("min", "max")
                ]
                delta = d.join(
                    r, _null_safe_cond(d, r, group_cols), "left"
                ).select(*sel)
            else:
                for m in minmax:
                    delta = delta.withColumn(
                        f"{m}_min_rc", F.lit(None).cast(dict(delta.dtypes)[f"{m}_min_ins"])
                    ).withColumn(
                        f"{m}_max_rc", F.lit(None).cast(dict(delta.dtypes)[f"{m}_max_ins"])
                    )
        upd: dict[str, str] = {"_n": "t._n + s._n_delta"}
        ins: dict[str, str] = {
            **{g: f"s.{g}" for g in group_cols},
            "_n": "s._n_delta",
        }
        for m in measures:
            # sum: NULL + x must act as 0 + x while n tracks real nullity
            upd[f"{m}_sum"] = (
                f"CASE WHEN t.{m}_n + s.{m}_n_delta = 0 THEN NULL "
                f"ELSE coalesce(t.{m}_sum, 0) + coalesce(s.{m}_sum_delta, 0) END"
            )
            upd[f"{m}_n"] = f"t.{m}_n + s.{m}_n_delta"
            ins[f"{m}_sum"] = f"s.{m}_sum_delta"
            ins[f"{m}_n"] = f"coalesce(s.{m}_n_delta, 0)"
        for m in minmax:
            # least/greatest skip NULLs in Spark SQL, so an all-NULL insert
            # batch leaves the stored extremum untouched
            upd[f"{m}_min"] = (
                f"CASE WHEN s._retracts > 0 THEN s.{m}_min_rc "
                f"ELSE least(t.{m}_min, s.{m}_min_ins) END"
            )
            upd[f"{m}_max"] = (
                f"CASE WHEN s._retracts > 0 THEN s.{m}_max_rc "
                f"ELSE greatest(t.{m}_max, s.{m}_max_ins) END"
            )
            # a retraction-touched group can be NEW to the view (hand-fed CDFs
            # — a snapshot diff never produces one): recompute wins there too
            ins[f"{m}_min"] = (
                f"CASE WHEN s._retracts > 0 THEN s.{m}_min_rc "
                f"ELSE s.{m}_min_ins END"
            )
            ins[f"{m}_max"] = (
                f"CASE WHEN s._retracts > 0 THEN s.{m}_max_rc "
                f"ELSE s.{m}_max_ins END"
            )
        return pipeline.merge_into(
            spark,
            view_name,
            delta,
            on=group_cols,
            null_safe_on=True,
            when_matched_delete=True,
            delete_condition="t._n + s._n_delta = 0",
            when_matched_update=upd,
            when_not_matched_insert=ins,
            # a freshly inserted group with zero net rows (e.g. a CDF slice
            # that inserts and deletes the same new-group row) must not appear
            insert_condition="s._n_delta > 0",
            commit_extra=commit_extra,
        )


def _current_version(pipeline: Pipeline, name: str) -> int:
    """Generation the live pointer serves — delegates to the canonical
    :meth:`Pipeline.live_version` (ADVICE r8: this used to be a second
    copy of the pointer-guard regex + realpath logic)."""
    return pipeline.live_version(name)


def _commit_meta(pipeline: Pipeline, name: str, version: int) -> dict:
    """Commit record of an explicit generation — delegates to the
    canonical :meth:`Pipeline.commit_meta_at`."""
    return pipeline.commit_meta_at(name, version)


def seed_agg_view(
    spark: SparkSession,
    pipeline: Pipeline,
    view_name: str,
    base_name: str,
    group_cols: Sequence[str],
    measures: Sequence[str],
    delete_predicate: str | None = None,
    minmax: Sequence[str] = (),
) -> dict:
    """Materialize the view as a full recompute over the base table's
    CURRENT generation, stamping that generation into the view's commit
    record — the anchor :func:`sync_agg_view` advances from."""
    base_ver = _current_version(pipeline, base_name)
    base = drop_tombstones(
        pipeline.read_version(spark, base_name, base_ver), delete_predicate
    )
    view = full_agg(base, group_cols, list(measures), minmax=minmax)
    pipeline._write_overwrite_atomic(
        pipeline.nodes[view_name],
        view,
        commit_extra={"base_table": base_name, "base_version": base_ver},
    )
    return {"status": "seeded", "base_version": base_ver}


def sync_agg_view(
    spark: SparkSession,
    pipeline: Pipeline,
    view_name: str,
    base_name: str,
    keys: Sequence[str],
    group_cols: Sequence[str],
    measures: Sequence[str],
    delete_predicate: str | None = None,
    check_unique: bool = True,
    minmax: Sequence[str] = (),
    changes: tuple[int, int, DataFrame] | None = None,
) -> dict:
    """Bring an aggregate view up to the base table's current generation —
    the maintenance driver composing the whole IVM stack:

        base version gap → Pipeline.table_changes → delta fold → MERGE

    ``changes=(from_version, to_version, rows)`` hands in the change rows
    of the base merge that published ``to_version`` over ``from_version``
    (``Pipeline.merge_into(keep_changes=...)``).  When the view's anchor
    is ``from_version`` and the base still serves ``to_version``, those
    rows are folded directly — cost ∝ the change, no snapshot is read.
    Any other gap (a crash replay, a snapshot ingest, ``ServingPath.sync``)
    takes the relational replay, whose cost is two full base snapshot
    scans and a join.

    The view's commit record carries the base generation it reflects, which
    makes the operation EXACTLY-ONCE under crashes anywhere in a
    base-publish → view-sync sequence:

    - crash after base publish, before view sync → the version gap is
      still visible; the next sync replays it (spanning multiple base
      generations in one CDF if several publishes landed);
    - crash after view publish → the recorded version equals the base's
      and the next sync is a no-op;
    - an EMPTY gap diff advances the stamp via a hard-linked republish
      (no data rewrite), so repeated idempotent base replays do not push
      the anchor out of the retention window;
    - a gap older than the base's retained generations cannot be replayed
      relationally → honest fallback to a full reseed (widen
      ``retain_generations`` on the base to bound how often that happens).

    ``delete_predicate`` applies the CDC tombstone contract to the view
    definition: the view aggregates the LIVE relation only.  Filtering the
    CDF's image rows by the same predicate is exactly the change feed of
    the filtered relation (a row whose post-image becomes deleted folds to
    a retraction), so tombstones need no special casing in the algebra.

    Not yet seeded (view table missing) → seeds at the current base
    generation.
    """
    if not os.path.lexists(pipeline.path(view_name)):
        return seed_agg_view(
            spark,
            pipeline,
            view_name,
            base_name,
            group_cols,
            measures,
            delete_predicate,
            minmax=minmax,
        )
    base_cur = _current_version(pipeline, base_name)
    view_cur = _current_version(pipeline, view_name)
    meta = _commit_meta(pipeline, view_name, view_cur)
    anchor = meta.get("base_version")
    if anchor is None:
        raise ValueError(
            f"sync_agg_view({view_name!r}): view exists but carries no "
            "base_version anchor — it was not seeded via seed_agg_view; "
            "reseed it explicitly"
        )
    if anchor == base_cur:
        return {"status": "noop", "base_version": base_cur}
    if anchor not in pipeline.table_versions(base_name):
        out = seed_agg_view(
            spark,
            pipeline,
            view_name,
            base_name,
            group_cols,
            measures,
            delete_predicate,
            minmax=minmax,
        )
        return {**out, "status": "reseeded_gap_vacuumed"}
    with Pins() as pins:
        if changes is not None and changes[:2] == (anchor, base_cur):
            # the merge's own change rows, read from its pinned join
            cdf = drop_tombstones(changes[2], delete_predicate)
        else:
            cdf = drop_tombstones(
                pipeline.table_changes(
                    spark,
                    base_name,
                    anchor,
                    base_cur,
                    keys=keys,
                    check_unique=check_unique,
                ),
                delete_predicate,
            )
            # the relational CDF is a full-outer join of two base snapshots,
            # read by isEmpty here and by the delta fold.  Evaluate it ONCE
            # (ADVICE r7): the pin materializes the change rows — sized by
            # change volume, not view size — truncates the join lineage so
            # both consumers read the materialized partitions, and is
            # released when the sync returns.
            cdf = pins.pin(cdf, eager=True)
        extra = {"base_table": base_name, "base_version": base_cur}
        if cdf.isEmpty():
            pipeline._publish_linked_generation(
                view_name, view_cur, "ivm_sync_noop", **extra
            )
            return {"status": "advanced_empty_gap", "base_version": base_cur}
        base_cur_df = (
            drop_tombstones(
                pipeline.read_version(spark, base_name, base_cur),
                delete_predicate,
            )
            if minmax
            else None
        )
        m = maintain_agg_view(
            spark,
            pipeline,
            view_name,
            cdf,
            group_cols,
            measures,
            commit_extra=extra,
            minmax=minmax,
            base_current=base_cur_df,
        )
        return {**m, "status": "synced", "base_version": base_cur}
