"""CDC / latest-wins dedup operators.

Reference parity: ``dlt.apply_changes(target, source, keys, sequence_by)``
(zetaflex-pipeline.py:146-151 and 4 more call sites;
zetadex-referrals-pipeline.py:147-152) collapses a stream of entity snapshots
to the latest row per key.  Batch form here is a window rank; the streaming
forms are streaming/runner.py:foreach_batch_upsert (each microbatch folded
into a Delta table by latest-wins and committed as one overwrite; tombstones
kept) and sinks/delta_log.py:foreach_batch_delta_upsert (each microbatch
merged into a Delta table; tombstones delete).

Scale design: one shuffle on the key columns; with AQE skew-join handling a
hot key splits automatically.  For 100 TB backfills prefer the
``max_by``-aggregate variant (``latest_by_keys_agg``) which map-side-combines
instead of materializing the full sorted partition.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def latest_by_keys(
    df: DataFrame,
    keys: Sequence[str],
    sequence_by: Sequence[str],
) -> DataFrame:
    """Latest row per key: ``row_number() over (partition by keys order by
    sequence_by desc) = 1``.  ``sequence_by`` should end with a unique
    tie-break so the result is deterministic."""
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in sequence_by])
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def latest_by_keys_agg(
    df: DataFrame,
    keys: Sequence[str],
    sequence_by: str,
    value_cols: Sequence[str],
) -> DataFrame:
    """Aggregate variant: ``max_by(value, sequence_by)`` per key.  Supports
    partial aggregation (no full sort) — preferred at scale when the full row
    isn't needed.  Ties on ``sequence_by`` are broken arbitrarily, so the
    sequence column must be unique per key for determinism."""
    aggs = [F.max(sequence_by).alias(sequence_by)] + [
        F.max_by(c, sequence_by).alias(c) for c in value_cols
    ]
    return df.groupBy(*keys).agg(*aggs)


def latest_by_keys_with_deletes(
    df: DataFrame,
    keys: Sequence[str],
    sequence_by: Sequence[str],
    apply_as_deletes: str,
) -> DataFrame:
    """``apply_changes`` with delete semantics (the DLT
    ``apply_as_deletes=expr(...)`` surface the engine replaces; the
    reference's call sites never pass it, but the API is part of the CDC
    contract): the latest row per key wins as usual, and if that winning
    row satisfies ``apply_as_deletes`` the key is REMOVED from the target
    instead of upserted.  A later non-delete row for the same key
    re-inserts it (standard CDC resurrection).

    Same one-shuffle shape as :func:`latest_by_keys` — the delete predicate
    is evaluated on the already-selected winner rows only.  A NULL-valued
    predicate (e.g. ``op = 'delete'`` on a row whose op is NULL) means NOT
    deleted — DLT deletes only where the expression is TRUE, and a bare
    ``filter(~expr)`` would silently drop NULL-evaluating rows."""
    return drop_tombstones(
        latest_by_keys(df, keys, sequence_by), apply_as_deletes
    )


def drop_tombstones(df: DataFrame, delete_predicate: str | None) -> DataFrame:
    """The CDC read-surface tombstone contract: rows where
    ``delete_predicate`` is TRUE are dropped, NULL counts as kept (DLT
    deletes only where the expression is TRUE).  ``None`` keeps every
    row."""
    if delete_predicate is None:
        return df
    return df.filter(~F.coalesce(F.expr(delete_predicate), F.lit(False)))


def sequence_at_least(sequence_by: Sequence[str]) -> str:
    """MERGE condition: the source row's (``s``) ``sequence_by`` tuple is
    lexicographically >= the target row's (``t``) — strict ``>`` on each
    prefix-equal level, ``>=`` only on the last column.  A MERGE guards
    its matched clauses with it so a late (older) source row never
    overwrites a newer target row, and a replayed batch re-merges as a
    no-op."""
    last = len(sequence_by) - 1
    return " OR ".join(
        "("
        + " AND ".join(f"s.{c} = t.{c}" for c in sequence_by[:i])
        + (" AND " if i else "")
        + f"s.{sequence_by[i]} {'>=' if i == last else '>'} "
        + f"t.{sequence_by[i]})"
        for i in range(len(sequence_by))
    )
