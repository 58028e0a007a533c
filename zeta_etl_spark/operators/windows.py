"""Window-function operators: cumulative sums, rank leaderboards,
share-of-total, top-k per group, distributed global row numbers.

Reference parity (SURVEY.md §2.5):
- W1 cumsum: zetadex-transactions-helius-pipeline.py:1048-1055
- W5 rank leaderboards: zetadex-transactions-helius-pipeline.py:1525-1545
- W7 row_number top-1: zetadex-transactions-helius-pipeline.py:1942-1945
- W10 share-of-total: zetadex-rewards-v2-pipeline.py:105-107

Scale design: all helpers take explicit partition keys; callers sharing a
partitioning should build their windows from one spec so Spark plans a single
shuffle+sort per partitioning (SURVEY §3.2 boundary note).  Sums run through
DECIMAL for cross-engine determinism (see functions.deterministic).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window, WindowSpec

_DEC = "DECIMAL(32,6)"


def ordered_window(
    partition: Sequence[str | Column], order: Sequence[str | Column]
) -> WindowSpec:
    return Window.partitionBy(*partition).orderBy(*order)


def cumsum(
    df: DataFrame,
    value: str,
    partition: Sequence[str],
    order: Sequence[str | Column],
    alias: str,
) -> DataFrame:
    """Running total with a rows frame (order must be a total order for
    determinism — include a unique tie-break column)."""
    w = ordered_window(partition, order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return df.withColumn(
        alias, F.sum(F.col(value).cast(_DEC)).over(w).cast("double")
    )


def rank_leaderboard(
    df: DataFrame,
    partition: Sequence[str],
    order: Sequence[Column],
    alias: str = "rank",
    method: str = "rank",
) -> DataFrame:
    """Rank rows within partitions; ``order`` must end with a unique tie-break
    (the reference orders by desc(pnl), desc(roi), then pubkey asc —
    zetadex-transactions-helius-pipeline.py:1525-1545)."""
    fn = {"rank": F.rank, "dense_rank": F.dense_rank, "row_number": F.row_number}[
        method
    ]
    return df.withColumn(alias, fn().over(ordered_window(partition, order)))


def top_k_per_group(
    df: DataFrame,
    partition: Sequence[str],
    order: Sequence[Column],
    k: int = 1,
    keep_rank: bool = False,
) -> DataFrame:
    """W7: ``row_number() <= k`` then drop the helper column.  Catalyst pushes
    a per-partition limit into the sort at scale (rank-limit optimization)."""
    out = rank_leaderboard(df, partition, order, "_rn", "row_number").filter(
        F.col("_rn") <= k
    )
    return out if keep_rank else out.drop("_rn")


def share_of_total(
    df: DataFrame,
    value: str,
    partition: Sequence[str],
    alias: str,
) -> DataFrame:
    """W10: value / total-over-partition, computed from one exact decimal sum
    so numerator-order never changes the ratio."""
    w = Window.partitionBy(*partition)
    total = F.sum(F.col(value).cast(_DEC)).over(w).cast("double")
    return df.withColumn(alias, F.col(value) / F.nullif(total, F.lit(0.0)))


def global_row_number(
    df: DataFrame,
    order_by: Sequence[str],
    out_col: str = "rn",
    num_partitions: int | None = None,
) -> DataFrame:
    """Distributed exact global row_number — the scale path for
    ``Window.orderBy(...)`` (which Spark plans as an Exchange
    SinglePartition: ONE task sorts the whole frame).

    Two-phase construction (the DataFrame form of RDD zipWithIndex):

    1. ``repartitionByRange`` on the order key — disjoint ORDERED ranges,
       each partition sorted locally by a per-partition window (parallel,
       spill-safe).
    2. per-partition row counts (``num_partitions`` rows, bounded by
       cluster parallelism, never by data) → exclusive prefix sums →
       broadcast-joined back as offsets; global rank = offset + local rank.

    The output is EXACTLY ``row_number() OVER (ORDER BY order_by)``
    regardless of where the sampled range boundaries fall, because offsets
    are computed from actual partition counts — boundary placement shifts
    work between partitions, never rank values.  ``order_by`` must be a
    total order (append a unique tie-break column, as every deterministic
    rank in this repo already does); ties ACROSS a range boundary would
    otherwise rank nondeterministically.

    Plan shape (pinned by tests/test_global_rank.py): one range exchange +
    one hash exchange on the partition id (both balanced) + a
    single-partition pass over the ``num_partitions``-row count frame — no
    data-sized single-task sort anywhere.  Use when the ranked grain is too
    large for one task (raw events, full corpora); the aggregated-grain
    global windows (rfm_segments' |users| terciles) stay fine as-is.
    """
    order_cols = [F.col(c) if isinstance(c, str) else c for c in order_by]
    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(n, *order_cols).withColumn(
        "_gpid", F.spark_partition_id()
    )
    w_local = Window.partitionBy("_gpid").orderBy(*order_cols)
    local = ranged.withColumn("_lrn", F.row_number().over(w_local))
    counts = local.groupBy("_gpid").agg(F.count(F.lit(1)).alias("_c"))
    w_off = (
        Window.orderBy("_gpid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "_gpid",
        F.coalesce(F.sum("_c").over(w_off), F.lit(0)).alias("_off"),
    )
    return (
        local.join(F.broadcast(offsets), "_gpid")
        .withColumn(out_col, (F.col("_off") + F.col("_lrn")).cast("bigint"))
        .drop("_gpid", "_lrn", "_off")
    )


def global_last_before(
    df: DataFrame,
    order_by: Sequence[str | Column],
    value: Column,
    out_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Distributed exact ``last_value(value IGNORE NULLS) OVER (ORDER BY
    order_by ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)`` — the
    scale path for the sorted-merge fill device (psm_matched_pairs'
    1-NN matching), same two-phase construction as
    :func:`global_row_number`:

    1. ``repartitionByRange`` on the order key → disjoint ordered
       ranges; each partition computes its local EXCLUSIVE running fill
       and its own last non-null value (one extra unbounded window pass,
       both parallel and spill-safe).
    2. the ``num_partitions``-row per-partition summary gets an
       exclusive running fill by partition id (tiny frame) → broadcast
       back as each partition's carry-in; the global fill is
       ``coalesce(local_fill, carry_in)``.

    ``order_by`` must be a total order (unique tie-break column), and may
    contain ``.desc()`` columns — ``repartitionByRange`` and the local
    windows honor the direction, so a descending fill is the same call
    with reversed sort keys.  Output values are identical to the
    single-task ``Window.orderBy`` form regardless of where range
    boundaries fall.
    """
    order_cols = [F.col(c) if isinstance(c, str) else c for c in order_by]
    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(n, *order_cols).withColumn(
        "_gpid", F.spark_partition_id()
    )
    w_excl = (
        Window.partitionBy("_gpid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_all = (
        Window.partitionBy("_gpid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    local = ranged.withColumn(
        "_lfill", F.last(value, ignorenulls=True).over(w_excl)
    ).withColumn("_plast", F.last(value, ignorenulls=True).over(w_all))
    # _plast is constant per partition; first() in agg is deterministic here
    psum = local.groupBy("_gpid").agg(F.first("_plast").alias("_plast"))
    w_carry = (
        Window.orderBy("_gpid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = psum.select(
        "_gpid",
        F.last("_plast", ignorenulls=True).over(w_carry).alias("_carry"),
    )
    return (
        local.join(F.broadcast(carry), "_gpid")
        .withColumn(out_col, F.coalesce("_lfill", "_carry"))
        .drop("_gpid", "_lfill", "_plast", "_carry")
    )
