"""Structured Streaming execution helpers: incremental node materialization
with availableNow triggers, watermarked hourly aggregation, stateful dedup
and exactly-once foreachBatch sinks (SURVEY.md §2.9).

Reference parity:
- watermark + date_trunc-hour groupBy as the canonical tumbling window
  (T1/T2, zetadex-transactions-helius-pipeline.py:777-793; the F.window
  variant is deliberately commented out in the reference)
- stateful dedup (T6, zetadex-prices-pipeline.py:71-78)

Scale notes: availableNow processes the backlog in bounded microbatches with
checkpointed exactly-once sinks — the batch/streaming unification the
reference gets from DLT.  State stores are bounded by the watermark; hourly
``date_trunc`` groupBy keeps state per (hour, key) rather than per sliding
window pane.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _fault_injection(tag: str) -> None:
    """Crash-injection seam for tests (no-op in production).

    The foreachBatch sinks call this at each point of their commit
    protocol so the crash-matrix test (tests/test_streaming_crash_matrix.py)
    can kill the writer at every seam and assert exactly-once output after
    resume.  The Delta-state sinks (upsert, two-level agg, top-k) commit
    through ``write_delta``; their seams are:

    - staged, not committed: no tag here — the test forces the Delta log's
      put-if-absent (``sinks.delta_log._write_commit_atomic``) to raise;
    - ``pre_publish`` (two-level agg only): level 1 committed, level 2 not
      yet rewritten;
    - ``post_publish``: the batch's last commit landed, the stream
      checkpoint NOT yet.

    :func:`foreach_batch_partitioned_append` tags ``post_stage`` before
    its single write and ``post_publish`` after it."""


def _drain(stream: DataFrame, checkpoint: str, fn) -> None:
    """Run ``fn(batch_df, batch_id)`` over every available microbatch of
    ``stream`` (availableNow trigger) and block until done."""
    (
        stream.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def _union_state(state: DataFrame | None, batch_df: DataFrame) -> DataFrame:
    """The committed state plus the batch, in the state's column order."""
    if state is None:
        return batch_df
    return state.unionByName(batch_df.select(*state.columns))


def _commit_state(spark: SparkSession, table: str, fold) -> None:
    """Commit ``fold(state)`` as one Delta overwrite of ``table``, where
    ``state`` is the committed snapshot (None before the first commit).

    The overwrite is the atomic commit point: a crash before it leaves
    the last committed version live, and the replayed batch re-folds.  A
    replay is never skipped (no ``txn`` action): after a checkpoint loss
    the replanned batch can carry files the state never saw, and every
    fold here is idempotent, so re-merging re-delivered rows is a no-op
    while new rows land.  Files that no longer belong to the current
    version (the superseded one, a crashed attempt's staged files) are
    vacuumed first, so at most one superseded version stays on disk."""
    from zeta_etl_spark.sinks.delta_log import (
        latest_version,
        read_delta,
        vacuum,
        write_delta,
    )

    try:
        latest_version(table)
    except FileNotFoundError:
        state = None
    else:
        vacuum(table, retention_ms=0)
        state = read_delta(spark, table)
    write_delta(fold(state), table, mode="overwrite", checkpoint_interval=10)


def run_available_now(
    df: DataFrame,
    out_path: str,
    checkpoint: str,
    output_mode: str = "append",
    partition_by: Sequence[str] = (),
) -> None:
    """Drain all available input through the streaming plan into parquet and
    block until done (one incremental 'pipeline update')."""
    writer = (
        df.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.start().awaitTermination()


def hourly_agg_stream(
    df: DataFrame,
    ts_col: str,
    keys: Sequence[str],
    aggs: Sequence,
    watermark: str = "5 minutes",
) -> DataFrame:
    """Watermarked hourly tumbling aggregation (T1+T2+A1).

    The reference groups by ``date_trunc('hour', ts)`` (DLT tracks event time
    through it); OSS append-mode emission requires the native event-time
    window, so the streaming form uses ``F.window(ts, '1 hour')`` and exposes
    ``window.start`` as ``hour_ts`` — value-identical to the batch
    ``date_trunc`` form (same bucket boundaries in UTC).
    """
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), "1 hour").alias("_w"), *keys)
        .agg(*aggs)
        .withColumn("hour_ts", F.col("_w.start"))
        .drop("_w")
    )


def dedup_stream(
    df: DataFrame, keys: Sequence[str], ts_col: str, watermark: str = "1 hour"
) -> DataFrame:
    """Stateful streaming dedup bounded by watermark (T6/A8)."""
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def foreach_batch_upsert(
    stream: DataFrame,
    target_path: str,
    checkpoint: str,
    keys: Sequence[str],
    sequence_by: Sequence[str],
    spark: SparkSession,
    apply_as_deletes: str | None = None,
) -> None:
    """Streaming latest-wins CDC sink (apply_changes — S8/T7): each
    microbatch unions the committed state with the batch, keeps the latest
    row per key, and commits the result as a Delta overwrite of
    ``target_path`` (crash story: :func:`_commit_state`).

    Delete markers STAY in the table as tombstones, so a late row older
    than the delete cannot resurrect the key; readers drop them with
    :func:`read_upsert_table` and the same ``apply_as_deletes`` predicate
    (the DLT contract: NULL = not deleted).  The predicate is resolved
    against the stream's schema here, so a typo fails at sink start.
    :func:`~zeta_etl_spark.sinks.delta_log.foreach_batch_delta_upsert` is
    the physical-delete twin, and :func:`foreach_batch_merge_upsert` the
    one whose per-batch cost follows the batch, not the state.
    """
    from zeta_etl_spark.operators.cdc import latest_by_keys

    if apply_as_deletes is not None:
        stream.select(F.expr(apply_as_deletes))  # analysis only, no job

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        _commit_state(
            spark,
            target_path,
            lambda state: latest_by_keys(
                _union_state(state, batch_df), keys, sequence_by
            ),
        )
        _fault_injection("post_publish")

    _drain(stream, checkpoint, _merge)


def foreach_batch_two_level_agg(
    first_level: DataFrame,
    first_keys: Sequence[str],
    target_path: str,
    checkpoint: str,
    second_level,
    spark: SparkSession,
) -> None:
    """Streaming multi-agg chain (T9's production escape hatch): OSS
    Structured Streaming cannot stack an aggregation on an aggregation in
    one plan (the reference does exactly that under DLT,
    zetadex-transactions-helius-pipeline.py:226-245).  This runner splits
    the chain at the first aggregation boundary:

    - ``first_level``: a watermark-finalized streaming aggregation (e.g.
      :func:`hourly_agg_stream` in append mode) — rows arrive exactly once
      per closed window, so they are immutable facts keyed by
      ``first_keys``.
    - each microbatch merges those rows into a level-1 Delta table at
      ``target_path + "__level1"`` (key dedup, so replayed batches are a
      no-op; crash story: :func:`_commit_state`), then recomputes
      ``second_level`` — ANY batch transform, typically the agg-on-agg —
      from the full level-1 state as a Delta overwrite of
      ``target_path``.

    Idempotence: a replayed microbatch re-merges rows already present
    (key dedup → no-op) and rebuilds the same level-2 output; a crash
    between the two commits leaves level 2 one batch behind until the
    replay rebuilds it.  Late data: rows dropped by the level-1 watermark
    never reach level 2, so both levels agree on the same event-time cut.

    Scale: level-1 state is one row per closed (window, key) — orders of
    magnitude smaller than the input stream — so the per-batch level-2
    recompute is a small batch job; when even that is too large the
    ``second_level`` callable can itself aggregate incrementally from the
    batch argument instead of the full state.
    """
    from zeta_etl_spark.sinks.delta_log import read_delta

    l1_path = target_path + "__level1"

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        # closed-window rows are immutable → replays carry identical rows;
        # key dedup makes the merge idempotent
        _commit_state(
            spark,
            l1_path,
            lambda state: _union_state(state, batch_df).dropDuplicates(
                list(first_keys)
            ),
        )
        _fault_injection("pre_publish")
        _commit_state(
            spark,
            target_path,
            lambda _: second_level(read_delta(spark, l1_path)),
        )
        _fault_injection("post_publish")

    _drain(first_level, checkpoint, _merge)


def foreach_batch_incremental_dedup(
    doc_stream: DataFrame,
    store_path: str,
    checkpoint: str,
    spark: SparkSession,
    num_perm: int = 16,
) -> None:
    """Streaming near-dup detection against a durable corpus: each microbatch
    of documents is MinHash-signed, LSH-joined against the signature store
    (batch×corpus ∪ batch×batch — corpus×corpus never re-joined), verified
    pairs appended to the pair gold, and the batch signatures appended to the
    store so the NEXT batch sees them as corpus.

    This is the streaming form of
    ``pipelines/dedup.build_incremental_minhash_pipeline`` — how 100 TB
    dedup actually ingests (per-increment cost is O(|batch| × bucket
    density), independent of |corpus|²).

    Layout under ``store_path`` (all hive-partitioned by ``batch`` so every
    write is an idempotent overwrite of that batch's own partition — a
    replayed microbatch rewrites the same directories and re-derives the same
    pairs, exactly-once without a transaction log):

    - ``docs/batch=N``  raw (doc_id, text) for verification joins
    - ``sigs/batch=N``  MinHash signatures
    - ``pairs/batch=N`` verified pairs whose NEWEST side arrived in batch N

    ``doc_stream`` must carry (doc_id, text).

    State is bounded by corpus NOVELTY, not delivery volume: re-delivered
    doc_ids (at-least-once sources, replayed upstream files, overlapping
    waves) are anti-joined against the durable store and skipped — their
    signatures are already corpus and their pairs were emitted when first
    seen, so a batch of 100% re-deliveries writes zero state rows and
    joins nothing.  Novelty is keyed on ``doc_id`` (a re-delivered id with
    different text is NOT re-ingested — content re-versioning is the CDC
    upsert sink's job, not the dedup store's).
    """
    from zeta_etl_spark.operators.dedup import (
        incremental_lsh_candidate_pairs,
        jaccard_verify,
        minhash_signatures,
    )

    docs_root = os.path.join(store_path, "docs")
    sigs_root = os.path.join(store_path, "sigs")
    pairs_root = os.path.join(store_path, "pairs")

    def _read_earlier(root: str, batch_id: int) -> DataFrame:
        """Partitions written by batches strictly before ``batch_id`` —
        filtering on the partition column keeps a replayed batch from
        joining against its own (being-rewritten) output.  The root always
        exists when this runs (the batch's own partition was just written),
        so on the first batch this is simply an empty frame."""
        df = spark.read.parquet(root)
        if "batch" not in df.columns:  # pragma: no cover - layout guard
            raise ValueError(f"{root} is not a batch-partitioned store")
        return df.filter(F.col("batch") < batch_id).drop("batch")

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        batch_docs = (
            batch_df.select("doc_id", "text")
            .dropDuplicates(["doc_id"])
            .localCheckpoint()
        )
        if batch_docs.isEmpty():
            return
        # novelty gate: ids already in the durable store (strictly earlier
        # batches — a replayed batch must not see its own partition) are
        # dropped, so state growth tracks novel docs, not delivered rows
        if os.path.exists(docs_root):
            seen = _read_earlier(docs_root, batch_id).select("doc_id")
            batch_docs = batch_docs.join(
                seen, "doc_id", "left_anti"
            ).localCheckpoint()
            if batch_docs.isEmpty():
                return
        batch_sigs = minhash_signatures(batch_docs, num_perm=num_perm)
        # idempotent writes: a replay overwrites this batch's own partitions
        batch_docs.write.mode("overwrite").parquet(
            os.path.join(docs_root, f"batch={batch_id}")
        )
        batch_sigs.write.mode("overwrite").parquet(
            os.path.join(sigs_root, f"batch={batch_id}")
        )
        batch_sigs = spark.read.parquet(
            os.path.join(sigs_root, f"batch={batch_id}")
        )
        corpus_sigs = _read_earlier(sigs_root, batch_id)
        # first batch: corpus is empty and the incremental join degrades to
        # exactly the batch×batch pair set (pinned by
        # test_round5_operator_edge_cases)
        pairs = incremental_lsh_candidate_pairs(corpus_sigs, batch_sigs)
        all_docs = spark.read.parquet(docs_root).drop("batch")
        verified = jaccard_verify(pairs, all_docs)
        verified.write.mode("overwrite").parquet(
            os.path.join(pairs_root, f"batch={batch_id}")
        )

    _drain(doc_stream, checkpoint, _process)


def hopping_agg_stream(
    df: DataFrame,
    ts_col: str,
    keys: Sequence[str],
    aggs: Sequence,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "5 minutes",
) -> DataFrame:
    """Watermarked HOPPING (sliding) window aggregation — the overlapping
    companion to :func:`hourly_agg_stream`'s tumbling form.  Each event lands
    in window/slide panes (2 here); state is per (pane, key) and panes close
    as the watermark passes their end, exactly like tumbling windows — the
    batch twin is ``hopping_event_counts`` (explode over pane offsets).
    """
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window, slide).alias("_w"), *keys)
        .agg(*aggs)
        .withColumn("win_start", F.col("_w.start"))
        .withColumn("win_end", F.col("_w.end"))
        .drop("_w")
    )


def foreach_batch_topk(
    stream: DataFrame,
    target_path: str,
    checkpoint: str,
    group_keys: Sequence[str],
    id_cols: Sequence[str],
    order_col: str,
    k: int,
    spark: SparkSession,
) -> None:
    """Incremental per-group top-k maintenance — a streaming leaderboard
    (the reference's serving layer exports exactly this shape per hour;
    dfs-serving/zetadex-serving.py reads precomputed leaderboard golds).

    Top-k merge is associative and idempotent over keyed rows:
    ``state' = topk(dedup(state ∪ batch))`` where dedup keeps the MAX
    ``order_col`` per (group, id) — so re-delivered or updated items
    cannot double-place, and the durable state is bounded by
    |groups| × k rows regardless of stream volume (the property that makes
    a perpetual leaderboard affordable; everything below rank k is
    discarded at the merge, never re-read).

    The leaderboard is a Delta table at ``target_path``, one overwrite per
    microbatch (crash story: :func:`_commit_state`); a replayed batch
    re-merges to the same rows.
    """
    from pyspark.sql.window import Window

    def _fold(state: DataFrame | None, batch_df: DataFrame) -> DataFrame:
        if state is not None:
            state = state.drop("topk_rank")
        # keyed dedup: max order_col per (group, id) — update-safe
        best = _union_state(state, batch_df).groupBy(
            *group_keys, *id_cols
        ).agg(F.max(order_col).alias(order_col))
        w = Window.partitionBy(*group_keys).orderBy(
            F.col(order_col).desc(), *id_cols
        )
        return (
            best.withColumn("topk_rank", F.row_number().over(w))
            .filter(F.col("topk_rank") <= k)
            .withColumn("topk_rank", F.col("topk_rank").cast("bigint"))
        )

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        _commit_state(
            spark, target_path, lambda state: _fold(state, batch_df)
        )
        _fault_injection("post_publish")

    _drain(stream, checkpoint, _merge)


def foreach_batch_partitioned_append(
    stream: DataFrame,
    target_path: str,
    checkpoint: str,
) -> None:
    """Exactly-once APPEND sink without a transaction log: each microbatch
    overwrites its OWN hive partition ``{target}/batch=N``.

    This is the streaming form of the engine's idempotent-append primitive
    (``Pipeline`` mode ``overwrite_partitions``): a replayed microbatch —
    crash after the partition write but before the stream checkpoint —
    rewrites the same directory with the same rows, so readers of
    ``target_path`` never see a row twice.  Used for append-shaped stateful
    output (the CEP detector's matches) where the Delta-state sinks'
    full-state rewrite would be wasteful.  Same caveat as every
    batch-id-keyed scheme: after a full CHECKPOINT LOSS batch ids restart
    at 0 and the contract is void — keep the checkpoint with the data.
    """

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        _fault_injection("post_stage")
        batch_df.write.mode("overwrite").parquet(
            os.path.join(target_path, f"batch={batch_id}")
        )
        # single-phase protocol: the partition write IS the publish
        _fault_injection("post_publish")

    _drain(stream, checkpoint, _write)


def foreach_batch_merge_upsert(
    stream: DataFrame,
    target_base: str,
    table_name: str,
    checkpoint: str,
    keys: Sequence[str],
    sequence_by: Sequence[str],
    spark: SparkSession,
    n_buckets: int = 64,
    metrics_out: list | None = None,
    views: Sequence[dict] | None = None,
) -> None:
    """Streaming CDC upsert whose per-batch cost is proportional to the
    BATCH, not the store (views included, except on a crash replay — see
    ``views``) — the scale successor to :func:`foreach_batch_upsert`
    (which unions the full store with every microbatch and rewrites it).

    Layout: a generation-layout table hive-partitioned by
    ``_kb = pmod(xxhash64(keys), n_buckets)``.  Because ``_kb`` is a pure
    function of the merge keys, ``Pipeline.merge_into`` prunes to touched
    buckets and hard-links the rest — a microbatch carrying k distinct keys
    rewrites at most min(k, n_buckets) buckets.  Size ``n_buckets`` so a
    typical batch touches a small fraction (store_rows / bucket should be
    ≫ batch_rows / touched_buckets; more buckets = finer pruning but more
    small files).

    Semantics match foreach_batch_upsert: latest row per key wins, ordered
    by ``sequence_by`` (the batch is pre-deduped with latest_by_keys, which
    also satisfies merge's unique-source-key contract); the matched-update
    fires only when the source sequence is >= the target's, so replayed
    batches (crash between the atomic merge publish and the stream
    checkpoint) re-merge idempotently.  Delete markers are regular rows
    here too — tombstones stay in the store and readers filter them
    (the DLT apply_as_deletes contract lives at the read surface).

    ``metrics_out``: optional list collecting per-batch merge metrics
    (rows_updated / rows_inserted / touched vs linked partitions) — the
    observability a Delta MERGE emits as operationMetrics.

    ``views``: optional incrementally-maintained aggregate views over the
    upsert table (plans/ivm.py) — each ``{"name": ..., "group_cols": [...],
    "measures": [...], "minmax": [...], "delete_predicate": ...}`` is
    brought up to the base's new generation after every merge via
    ``sync_agg_view``, folding the merge's own change rows (cost ∝ batch).
    The view's commit record anchors the base generation it reflects, so a
    crash anywhere between the base merge publish and the last view's
    publish heals on replay: a view whose anchor is not the generation
    the replayed merge read takes the relational version-gap replay (two
    full base snapshot scans), an already-synced view folds the replay's
    empty change, and the streaming checkpoint only ever confirms batches
    whose downstream views CAN be brought current.  The gold rollups the
    reference recomputes per trigger become change-volume-cost
    maintenance.
    """
    import json

    from zeta_etl_spark.operators.cdc import latest_by_keys, sequence_at_least
    from zeta_etl_spark.operators.merge_kernel import Pins
    from zeta_etl_spark.plans.graph import Pipeline
    from zeta_etl_spark.plans.ivm import sync_agg_view

    # n_buckets is part of the table's IDENTITY: a key lives in
    # pmod(hash, n_buckets), so merging with a different bucket count would
    # compute different _kb values for existing keys — the (_kb, keys)
    # merge then misses the match and INSERTS a duplicate.  Pin the layout
    # config on first use and hard-error on mismatch (Delta pins the
    # analogous partitioning in its log).
    os.makedirs(target_base, exist_ok=True)
    cfg_path = os.path.join(target_base, f"{table_name}__merge_upsert.json")
    cfg = {"n_buckets": n_buckets, "keys": list(keys)}
    if os.path.exists(cfg_path):
        with open(cfg_path) as fh:
            existing = json.load(fh)
        if existing != cfg:
            raise ValueError(
                f"foreach_batch_merge_upsert({table_name!r}): layout "
                f"config changed ({existing} -> {cfg}); bucket ids are a "
                "function of (keys, n_buckets), so merging under a new "
                "config would duplicate existing keys — migrate by "
                "rewriting the table instead"
            )
    else:
        with open(cfg_path, "w") as fh:
            json.dump(cfg, fh)

    # retain >= 2 base generations when views ride the stream (ADVICE r7):
    # a crash between the base merge publish and the view sync makes the
    # replayed batch publish ANOTHER base generation — with retention 1
    # that vacuums the view's anchor and the sync silently degrades to a
    # full reseed (status reseeded_gap_vacuumed) instead of the
    # incremental heal.  2 tolerates one crash-replay generation; each
    # extra tolerated replay costs one more retained generation.
    p = Pipeline(
        f"cdc_merge_{table_name}",
        target_base,
        retain_generations=2 if views else 1,
    )

    @p.table(name=table_name, partition_by=("_kb",))
    def _node(pl):  # materialized through merge, never through run()
        raise RuntimeError(
            "merge-upsert table is maintained by foreach_batch_merge_upsert"
        )

    for v in views or ():
        def _view_node(pl):  # materialized through sync_agg_view only
            raise RuntimeError(
                "ivm view is maintained by foreach_batch_merge_upsert"
            )

        # partition_by flows through so merge_into can prune untouched
        # view partitions (ADVICE r7: without it every sync rewrites the
        # whole view and maintain_agg_view's "cost ∝ changed groups"
        # design is unreachable from the streaming path) — partition the
        # view by a leading group column
        p.table(name=v["name"], partition_by=tuple(v.get("partition_by", ())))(
            _view_node
        )

    def _sync_views(batch_id: int, changes=None) -> None:
        for v in views or ():
            s = sync_agg_view(
                spark,
                p,
                v["name"],
                table_name,
                keys=list(keys),
                group_cols=v["group_cols"],
                measures=v["measures"],
                delete_predicate=v.get("delete_predicate"),
                minmax=tuple(v.get("minmax", ())),
                # the merge's duplicate-source guard already enforces key
                # uniqueness in the base; skip the per-batch recheck jobs
                check_unique=False,
                changes=changes,
            )
            if metrics_out is not None:
                metrics_out.append(
                    {"batch_id": batch_id, "view": v["name"], **s}
                )

    seq_newer = sequence_at_least(sequence_by)

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        b = latest_by_keys(batch_df, keys, sequence_by).withColumn(
            "_kb",
            F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(n_buckets))
            .cast("int"),
        )
        path = p.path(table_name)
        if not os.path.lexists(path):
            p._write_overwrite_atomic(p.nodes[table_name], b)
            if metrics_out is not None:
                metrics_out.append(
                    {"batch_id": batch_id, "initial_load": True}
                )
            _sync_views(batch_id)
            return
        # with views, the merge hands back its change rows (read from its
        # pinned join, released once every view has folded them)
        with Pins() as pins:
            m = p.merge_into(
                spark,
                table_name,
                b,
                on=["_kb", *keys],
                when_matched_update="*",
                update_condition=seq_newer,
                when_not_matched_insert="*",
                keep_changes=pins if views else None,
            )
            changes = None
            if views:
                changes = (
                    m.pop("read_generation"),
                    m["generation"],
                    m.pop("changes"),
                )
            if metrics_out is not None:
                metrics_out.append({"batch_id": batch_id, **m})
            _sync_views(batch_id, changes)

    _drain(stream, checkpoint, _merge)


def read_upsert_table(
    spark: SparkSession, target_path: str, delete_predicate: str | None = None
) -> DataFrame:
    """Reader for a :func:`foreach_batch_upsert` table: the committed
    Delta snapshot with tombstones dropped (NULL predicate = kept)."""
    from zeta_etl_spark.operators.cdc import drop_tombstones
    from zeta_etl_spark.sinks.delta_log import read_delta

    return drop_tombstones(read_delta(spark, target_path), delete_predicate)


def read_merge_upsert_table(
    spark: SparkSession,
    target_base: str,
    table_name: str,
    delete_predicate: str | None = None,
) -> DataFrame:
    """Reader for a :func:`foreach_batch_merge_upsert` table: resolves the
    committed generation once (snapshot isolation), drops the internal
    ``_kb`` bucket column, and filters tombstones at the read surface
    (NULL predicate = kept — the same contract as read_upsert_table)."""
    from zeta_etl_spark.operators.cdc import drop_tombstones

    df = spark.read.parquet(
        os.path.realpath(os.path.join(target_base, table_name))
    ).drop("_kb")
    return drop_tombstones(df, delete_predicate)


def run_delta_stream(
    spark: SparkSession,
    src_table: str,
    dest_table: str,
    app_id: str,
    cursor_path: str,
    consumer_id: str = "default",
    transform=None,
    max_files_per_trigger: int | None = None,
    mode: str = "appends",
) -> dict:
    """availableNow drain of a NATIVE-format Delta source into a
    native-format Delta sink — the ``dlt.read_stream``-from-Delta
    topology (reference: zetadex-transactions-helius-pipeline.py:351)
    without delta-spark: micro-batches come from
    :func:`~zeta_etl_spark.sinks.delta_log.delta_stream_batches`
    (initial snapshot, then per-commit tail, both rate-limited
    maxFilesPerTrigger-style) and land via ``write_delta(txn=...)``.

    Exactly-once across crash replay, from two durable markers and one
    ordering rule (sink first, cursor second):

    - every batch carries a unique increasing ``txn_version``; the sink
      records it with the spec's ``txn`` action, and a replayed batch is
      SKIPPED when ``last_txn_version(dest, app_id)`` already covers it;
    - the source cursor only advances after the last batch of a source
      version is durably sunk, so a crash between sink and cursor
      re-delivers a batch exactly once into the txn skip.

    ``transform`` (optional) maps each batch DataFrame before the sink —
    batches carry ``_commit_version`` (and ``_change_type`` in
    ``mode='cdf'``) for lineage-aware transforms.  Returns
    {batches_delivered, batches_skipped, last_version}."""
    from zeta_etl_spark.sinks.delta_log import (
        commit_cursor,
        delta_stream_batches,
        last_txn_version,
        write_delta,
    )

    delivered = skipped = 0
    last_v = None
    for df, txn_v, cursor_v in delta_stream_batches(
        spark,
        src_table,
        cursor_path,
        consumer_id=consumer_id,
        max_files_per_trigger=max_files_per_trigger,
        mode=mode,
    ):
        seen = last_txn_version(dest_table, app_id)
        if seen is not None and txn_v <= seen:
            skipped += 1  # crash replay: already durably committed
        else:
            out = transform(df) if transform is not None else df
            write_delta(
                out, dest_table, mode="append", txn=(app_id, txn_v)
            )
            delivered += 1
            _fault_injection("delta_stream_post_sink")
        if cursor_v is not None:
            commit_cursor(cursor_path, consumer_id, cursor_v)
            last_v = cursor_v
            _fault_injection("delta_stream_post_cursor")
    return {
        "batches_delivered": delivered,
        "batches_skipped": skipped,
        "last_version": last_v,
    }
