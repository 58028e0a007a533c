"""Delta Lake table format, written and read directly (no delta-spark).

The one standing gap in §2.1 S6 has been the ON-DISK format: the engine's
generation store (plans/graph.py) reproduces Delta's semantics — ACID
overwrite, OCC, MERGE, time travel, CDF, VACUUM — but in its own layout,
because the delta-spark package is not installable in this environment.
The FORMAT itself, however, is a public specification (the Delta
Transaction Log Protocol, delta.io PROTOCOL.md): parquet data files plus
a ``_delta_log/<20-digit-version>.json`` action log.  This module
implements that spec subset natively, so tables written here are readable
by any spec-conforming Delta reader, and Delta tables written by other
engines (within the subset) are readable here.

Reference parity: the reference's pipelines declare managed Delta tables
with table properties (zetadex-transactions-helius-pipeline.py:286-287,
346,450) and CDC targets (zetaflex-pipeline.py:146-151); this module is
the interop layer that lets the engine exchange those tables on disk.

Implemented subset (spec-true where implemented, strict where not):

- actions: ``protocol`` (minReader 1 / minWriter 2), ``metaData``
  (schemaString = Spark StructType JSON — the exact representation the
  spec prescribes), ``add`` (with partitionValues, size, stats
  numRecords), ``remove``, ``commitInfo``.
- commit atomicity: every commit goes through :func:`_commit`, the one
  optimistic-commit path.  It pins the latest version N, replays that
  snapshot once, runs the writer-protocol gate on it, lets the operation
  build its actions from it, and commits N+1 by put-if-absent creation
  of ``_delta_log/<N+1>.json`` (atomic hard-link of a fully-written temp
  file — the spec's requirement on filesystems with atomic rename/link).
  A lost race discards what the attempt staged and rebuilds on the new
  snapshot: blind appends always merge; an overwrite recomputes its
  remove-set (last-overwrite-wins, Delta's WriteSerializable outcome for
  non-conflicting transactions); DML and OPTIMIZE re-read and rewrite.
- reads: log replay from the newest checkpoint (or version 0 when none
  exists — ``_last_checkpoint`` absent is valid per spec), snapshot or
  time-travel ``version=``.  Data files are scanned in ONE
  ``spark.read.parquet(*live_files)`` with ``basePath`` so hive-layout
  partition columns reconstitute and partition pruning still works —
  never a per-file union.
- partitioned tables: hive directory layout, partition columns stripped
  from data files (as the spec requires), ``partitionValues`` recorded
  from the directory names.
- checkpoints: classic single-file ``<v>.checkpoint.parquet`` +
  ``_last_checkpoint`` pointer (:func:`write_checkpoint`), consumed by
  ``_replay`` so snapshot construction is O(checkpoint + JSON tail), not
  O(all commits); :func:`cleanup_log` then deletes JSON commits the
  checkpoint covers (the spec's log retention) — time travel to a
  cleaned-up version fails loudly instead of replaying a hole.
- file statistics + data skipping: every ``add`` carries
  ``minValues/maxValues/nullCount`` for top-level leaf columns (read
  from the parquet footers the write already produced — no extra scan),
  and :func:`read_delta` takes a ``predicate`` that prunes files whose
  stats/partitionValues prove no row can match; the predicate is ALSO
  applied as a real filter, so skipping is purely an I/O optimization
  and never a correctness dependency.
- OPTIMIZE: :func:`optimize` bin-packs small files (optionally Z-ORDER
  clustering on numeric columns via true bit-interleaved Z-values built
  as JVM expressions) and commits ``remove``+``add`` with
  ``dataChange: false`` — readers see identical rows, history and time
  travel survive, and data skipping gets tight per-file ranges.
- schema evolution on append: ``write_delta(..., merge_schema=True)``
  widens the table schema with the frame's new columns (a new
  ``metaData`` action in the same commit); reads use an explicit read
  schema so pre-evolution files surface the new columns as NULL.
- MERGE INTO: :func:`merge_delta` — remove+add ``dataChange`` commits
  proportional to touched files (key-range + partition-tuple pruning),
  spec ``cdc`` actions with ``_change_data`` files for row-level CDF,
  OCC read-modify-write, txn idempotence for streaming upserts
  (:func:`foreach_batch_delta_upsert`).
- deletion vectors (:mod:`.delta_dv`): protocol v3 tables whose
  readerFeatures are in the implemented subset are readable —
  inline/'u'/'p' descriptors decode through the portable
  RoaringBitmapArray format EXECUTOR-side (the driver holds O(files))
  and the DV'd files' deleted row indexes are dropped via one
  ``_metadata.row_index`` anti-join.  Rewrites (MERGE, OPTIMIZE)
  materialize rows-minus-DV and drop the descriptor with the rewritten
  file — deleted rows stay deleted, new files are DV-free.
  :func:`delete_delta` WRITES deletion vectors too (``mode='dv'``): a
  row-level DELETE serializes the matching parquet row indexes into a
  spec-true ``deletion_vector_<uuid>.bin`` and re-commits the touched
  adds with descriptors — I/O ∝ deleted rows; ``mode='rewrite'`` is the
  large-delete path (remove+add, cdc delete files for CDF).
  Classic checkpoints written here carry live descriptors (the spec's
  DeletionVectorDescriptor struct in the add column), and CDF derives
  row-level deletes from DV DELTAS (new positions beyond the old
  descriptor), so DV tables are fully operable: checkpoint, cleanup,
  incremental CDF consumption.
- column mapping, read AND write: reader-version-2 and table-features
  tables with ``delta.columnMapping.mode`` name/id read through the
  PHYSICAL schema (rebuilt recursively from the schemaString's
  ``delta.columnMapping.physicalName`` metadata) and rename/cast back
  to logical names; predicates/pruning translate to physical stats
  keys.  Writes (append/overwrite/MERGE/OPTIMIZE/CDF) stage files and
  partition directories under PHYSICAL names with physical
  stats/partitionValues keys; ``merge_schema`` evolution allocates
  fresh ids past ``delta.columnMapping.maxColumnId`` and bumps it;
  ``write_delta(column_mapping='name'|'id')`` CREATES mapped tables
  (reader 2 / writer 5).  id-mode files carry parquet field ids
  (top-level; nested id-mode writes refuse loudly).
- writer-protocol validation: before ANY commit to an existing table,
  the declared minWriterVersion / writerFeatures of the snapshot being
  committed on must be inside the implemented subset
  (``_check_writer_protocol``); ``delta.appendOnly``
  gates data-removing operations, and declared invariants / CHECK
  constraints / generated-column expressions — which this engine does
  not evaluate — refuse loudly instead of committing violating rows.
- v2 checkpoints, READ path: UUID-named top files
  (``<v>.checkpoint.<uuid>.parquet``) with ``sidecar`` actions resolve
  through ``_delta_log/_sidecars/`` (URI-decoded; missing sidecars are
  loud errors); checkpoint ``remove`` rows are treated as the
  expired-tombstone bookkeeping they are, never as live-set edits.
  Checkpoints WRITTEN here remain classic single-file.
- generated columns, ENFORCED: appends compute absent generated
  columns and validate provided ones row-by-row (loud error on the
  first violation); MERGE/UPDATE outputs recompute the expressions, so
  the ``col = expression`` invariant holds by construction.
- multi-part classic checkpoints, READ path: ``<v>.checkpoint.<k of
  n>.<n>.parquet`` part sets reconstitute together; an incomplete part
  set is ignored per spec (never a partial snapshot).
- type widening: reads upcast old (narrow) files through the explicit
  current schema; :func:`widen_column_type` commits the lattice-checked
  metadata change + ``delta.typeChanges`` records; stats skipping on
  widened columns is disabled.
- NOT implemented (rejected loudly, never silently misread):
  collations, nested generation expressions, nested identity columns.

At 100 TB: the log is O(commits) JSON lines bounded by checkpointing +
cleanup, and the reader materializes only the live-file LIST driver-side
(the same thing every Delta reader holds); data stays distributed — one
parquet scan over the live set with partition pruning intact, further
thinned by stats-based file skipping before the scan starts.
"""

from __future__ import annotations

import json
import os
import re
import time
import urllib.parse
import uuid
from collections.abc import Callable, Sequence
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

_LOG_DIR = "_delta_log"
_VERSION_RE = re.compile(r"^(\d{20})\.json$")
_CHECKPOINT_RE = re.compile(r"^(\d{20})\.checkpoint\.parquet$")
_CHECKPOINT_V2_RE = re.compile(
    r"^(\d{20})\.checkpoint\.[0-9a-zA-Z-]+\.parquet$"
)
_CHECKPOINT_MP_RE = re.compile(
    r"^(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet$"
)
_PROTOCOL = {"minReaderVersion": 1, "minWriterVersion": 2}

# latest-snapshot protocol per table, refreshed by every full _replay of
# the newest version (which _commit performs on each attempt before
# committing) — lets the commit choke point apply
# feature obligations (rowTracking id assignment) without re-replaying
_SNAPSHOT_PROTOCOL: dict[str, dict] = {}


class DeltaConcurrentModification(RuntimeError):
    """Raised when the OCC retry budget is exhausted."""


class DeltaUnsupported(RuntimeError):
    """Raised for spec features outside the implemented subset."""


def _log_path(table: str, version: int) -> str:
    return os.path.join(table, _LOG_DIR, f"{version:020d}.json")


def _list_versions(table: str) -> list[int]:
    log = os.path.join(table, _LOG_DIR)
    if not os.path.isdir(log):
        return []
    return sorted(
        int(m.group(1))
        for f in os.listdir(log)
        if (m := _VERSION_RE.match(f))
    )


def _stamp_in_commit_timestamp(
    table: str, version: int, actions: list[dict]
) -> list[dict]:
    """The ``inCommitTimestamp`` writer obligation (PROTOCOL.md
    "In-Commit Timestamps"): when the feature is ACTIVE — declared by
    this commit's own metaData (``delta.enableInCommitTimestamps``) or
    inherited from the previous commit's stamp — ``commitInfo`` must be
    the commit's FIRST action and carry a monotonically increasing
    ``inCommitTimestamp`` (>= previous commit's + 1).  Time-travel then
    resolves against these stamps instead of file mtimes, which clock
    skew and log copies corrupt.

    Activation detection is O(1): this commit's metaData wins; else the
    previous commit's first line (cleanup_log always keeps the newest
    checkpoint version's JSON, so the previous commit of any NEW commit
    exists on disk); else — prev JSON missing, a checkpoint-only foreign
    table — one replay of the prior snapshot's config."""
    enabled = None
    for a in actions:
        md = a.get("metaData")
        if md is not None:
            flag = (md.get("configuration") or {}).get(
                "delta.enableInCommitTimestamps"
            )
            if flag is not None:
                enabled = flag == "true"
    prev_ict = None
    if enabled is not False and version > 0:
        prev = _log_path(table, version - 1)
        if os.path.exists(prev):
            with open(prev) as fh:
                for line in fh:
                    if line.strip():
                        prev_ict = json.loads(line).get(
                            "commitInfo", {}
                        ).get("inCommitTimestamp")
                        break
            if enabled is None:
                enabled = prev_ict is not None
        elif enabled is None:
            try:
                _, meta_prev, _, _ = _replay(table, version - 1)
                enabled = (
                    meta_prev.get("configuration") or {}
                ).get("delta.enableInCommitTimestamps") == "true"
            except (ValueError, DeltaUnsupported, FileNotFoundError):
                enabled = False
    if not enabled:
        return actions
    # every commit carries one commitInfo (_commit builds it)
    ci = next(a for a in actions if "commitInfo" in a)
    actions = [ci] + [a for a in actions if a is not ci]
    if "inCommitTimestamp" not in ci["commitInfo"]:
        ict = int(time.time() * 1000)
        if prev_ict is not None:
            ict = max(ict, prev_ict + 1)
        ci["commitInfo"]["inCommitTimestamp"] = ict
    elif (
        prev_ict is not None
        and ci["commitInfo"]["inCommitTimestamp"] <= prev_ict
    ):
        # OCC retry: a stamp set on an earlier attempt can be BEHIND
        # the race winner's — monotonicity must hold against the commit
        # that actually precedes us, not the one we first saw
        ci["commitInfo"]["inCommitTimestamp"] = prev_ict + 1
    return actions


def _assign_row_ids(
    table: str, version: int, actions: list[dict]
) -> list[dict]:
    """The ``rowTracking`` writer obligation (PROTOCOL.md "Row
    Tracking"): on a table declaring the feature, every NEW add action
    gets a fresh ``baseRowId`` range (allocated from the
    ``delta.rowTracking`` domain's rowIdHighWaterMark, one id per row
    via the add's numRecords) and ``defaultRowCommitVersion`` = this
    commit's version; the bumped high-water mark rides the commit as a
    domainMetadata action.  Re-committed adds that already carry a
    baseRowId (a DV re-add, OPTIMIZE of foreign files) keep it — that
    is exactly how row ids stay stable across DV commits.

    Activation detection: this commit's own protocol action when
    present, else the latest-snapshot protocol :func:`_commit`'s replay
    already cached (_SNAPSHOT_PROTOCOL) — no extra replay on the hot
    path.  Returns NEW action dicts — the caller's
    list is never mutated, so an OCC retry re-allocates from the fresh
    mark instead of re-using ids a race winner may have consumed."""
    fresh = [
        i for i, a in enumerate(actions)
        if "add" in a and a["add"].get("baseRowId") is None
    ]
    if not fresh:
        return actions
    feats: set[str] | None = None
    for a in actions:
        if "protocol" in a:
            feats = set(a["protocol"].get("writerFeatures") or [])
    if feats is None:
        feats = set(
            (_SNAPSHOT_PROTOCOL.get(table) or {}).get(
                "writerFeatures"
            ) or []
        )
    if "rowTracking" not in feats:
        return actions
    try:
        _, _, _, _, domains = _replay(
            table, version - 1 if version > 0 else None,
            with_domains=True,
        )
    except FileNotFoundError:
        domains = {}
    hwm = json.loads(
        (domains.get("delta.rowTracking") or {}).get("configuration")
        or '{"rowIdHighWaterMark": -1}'
    ).get("rowIdHighWaterMark", -1)
    out = list(actions)
    for i in fresh:
        add = dict(out[i]["add"])
        n = json.loads(add.get("stats") or "{}").get("numRecords")
        if n is None:
            raise DeltaUnsupported(
                "rowTracking needs numRecords stats on every new add "
                f"to allocate base row ids: {add.get('path')!r}"
            )
        add["baseRowId"] = hwm + 1
        add["defaultRowCommitVersion"] = version
        hwm += int(n)
        out[i] = {**out[i], "add": add}
    out.append(
        {
            "domainMetadata": {
                "domain": "delta.rowTracking",
                "configuration": json.dumps(
                    {"rowIdHighWaterMark": hwm}
                ),
                "removed": False,
            }
        }
    )
    return out


def _rt_materialized(meta: dict) -> tuple[str, str] | None:
    """The table's materialized row-tracking column names, when STABLE
    row ids are in force (PROTOCOL.md "Row Tracking": with
    ``delta.enableRowTracking=true`` the table config names one
    physical column per file that stores a moved row's preserved row id
    / row commit version; rows the columns hold NULL for fall back to
    ``baseRowId + position`` / ``defaultRowCommitVersion``).  Returns
    ``(row_id_col, row_commit_version_col)`` or None when ids are not
    stable or the names are undeclared (the row-moving gate then
    refuses — a table that promises stability without naming the
    columns cannot be rewritten without breaking the promise)."""
    cfg = meta.get("configuration") or {}
    if cfg.get("delta.enableRowTracking") != "true":
        return None
    rid = cfg.get("delta.rowTracking.materializedRowIdColumnName")
    rcv = cfg.get(
        "delta.rowTracking.materializedRowCommitVersionColumnName"
    )
    if not rid or not rcv:
        return None
    logical = {
        f["name"] for f in json.loads(meta["schemaString"])["fields"]
    }
    if rid in logical or rcv in logical:
        raise DeltaUnsupported(
            f"materialized row-tracking columns {rid!r}/{rcv!r} collide "
            "with the table's logical schema — spec-invalid table state"
        )
    return rid, rcv


def _rt_fields(rt: tuple[str, str]) -> list:
    """StructFields for scanning the materialized columns alongside the
    data (files written before row tracking simply surface NULL)."""
    from pyspark.sql.types import LongType, StructField

    return [StructField(rt[0], LongType()), StructField(rt[1], LongType())]


def _attach_row_ids(
    spark: SparkSession,
    scan: DataFrame,
    table: str,
    adds: dict[str, dict],
    rt: tuple[str, str],
) -> DataFrame:
    """Resolve each scanned row's CURRENT row id / row commit version
    into the materialized columns, so a rewrite that carries those
    columns preserves both across the move: ``coalesce(materialized,
    baseRowId + position)`` / ``coalesce(materialized,
    defaultRowCommitVersion)`` — the spec's exact read-side rule.
    ``scan`` must carry ``__fp``/``__ri`` and the (possibly-NULL)
    materialized columns; the per-file base values ride a broadcast
    frame bounded by the touched file count.  A foreign add missing its
    baseRowId (pre-backfill) leaves NULL — the commit choke point then
    assigns that row a fresh id, the only sound fallback."""
    rid, rcv = rt
    fps = [r["__fp"] for r in scan.select("__fp").distinct().collect()]
    uri_by_rel = _uri_by_rel(fps, table, adds, require_all=False)
    rows = []
    for p, a in adds.items():
        uri = uri_by_rel.get(urllib.parse.unquote(p))
        if uri is not None:
            rows.append(
                (uri, a.get("baseRowId"), a.get("defaultRowCommitVersion"))
            )
    base_df = F.broadcast(
        spark.createDataFrame(
            rows, "__fp string, __rt_base bigint, __rt_dcv bigint"
        )
    )
    return (
        scan.join(base_df, "__fp", "left")
        .withColumn(
            rid,
            F.coalesce(
                F.col(f"`{rid}`"), F.col("__rt_base") + F.col("__ri")
            ).cast("long"),
        )
        .withColumn(
            rcv,
            F.coalesce(F.col(f"`{rcv}`"), F.col("__rt_dcv")).cast("long"),
        )
        .drop("__rt_base", "__rt_dcv")
    )


def _write_commit_atomic(table: str, version: int, actions: list[dict]) -> bool:
    """Put-if-absent commit: returns False when version already exists
    (lost the race).  The temp file is fully written + fsynced before the
    atomic link, so no reader ever sees a partial commit."""
    actions = _stamp_in_commit_timestamp(table, version, actions)
    actions = _assign_row_ids(table, version, actions)
    target = _log_path(table, version)
    os.makedirs(os.path.dirname(target), exist_ok=True)
    tmp = target + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        for a in actions:
            fh.write(json.dumps(a, separators=(",", ":")) + "\n")
        fh.flush()
        os.fsync(fh.fileno())
    try:
        os.link(tmp, target)
        return True
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)


class _Snapshot(NamedTuple):
    """One replayed version: what a commit attempt builds on."""

    version: int
    protocol: dict | None
    meta: dict
    live: dict[str, dict]
    txns: dict[str, int]
    domains: dict[str, dict]


class _Done(NamedTuple):
    """An attempt's final result that commits nothing (a no-op, a txn
    replay, a merge whose clauses changed no row)."""

    value: object


class _Actions(NamedTuple):
    """An attempt's proposed commit: the actions that follow commitInfo
    and its operationParameters.  ``staged`` (add/cdc actions) and
    ``staged_paths`` (deletion-vector files) are what THIS attempt wrote
    — a lost race discards them.  ``result`` maps the committed version
    to the caller's return value; ``info`` adds commitInfo fields."""

    actions: list[dict]
    params: dict
    staged: Sequence[dict] = ()
    staged_paths: Sequence[str] = ()
    result: Callable[[int], object] | None = None
    info: dict | None = None


def _commit(
    table: str,
    operation: str,
    attempt: Callable[[_Snapshot | None], _Actions | _Done],
    max_retries: int,
    *,
    name: str | None = None,
    removes_data: bool = False,
    moves_rows: bool = False,
    noop: Callable[[_Snapshot], bool] | None = None,
    create: bool = False,
):
    """The module's one optimistic commit.  Each attempt pins the latest
    version v (with ``create``, a missing table pins "no table yet" and
    commits version 0), replays that one snapshot, returns v when
    ``noop`` says the change is already in place, runs the writer-
    protocol gate on the snapshot, and asks ``attempt`` for the commit.
    A single commitInfo leads the actions; they land at v+1 by put-if-
    absent (:func:`_write_commit_atomic`, which also stamps ICT and
    assigns row ids).  A lost race discards the attempt's staged files
    and rebuilds on the fresh snapshot; ``max_retries`` losses raise.
    ``name`` labels the gate's and the race's errors (default:
    ``operation``, the commitInfo operation)."""
    name = name or operation
    for _ in range(max_retries):
        try:
            v = latest_version(table)
        except FileNotFoundError:
            if not create:
                raise
            v, snap = -1, None
        else:
            snap = _Snapshot(v, *_replay(table, v, with_domains=True))
            if noop is not None and noop(snap):
                return v
            _check_writer_protocol(
                snap.protocol, snap.meta, name,
                removes_data=removes_data, moves_rows=moves_rows,
            )
        out = attempt(snap)
        if isinstance(out, _Done):
            return out.value
        info = {
            "timestamp": int(time.time() * 1000),
            "operation": operation,
            "operationParameters": out.params,
            "engineInfo": "zeta-etl-spark delta_log",
            **(out.info or {}),
        }
        if _write_commit_atomic(
            table, v + 1, [{"commitInfo": info}, *out.actions]
        ):
            return out.result(v + 1) if out.result else v + 1
        _discard_staged(table, out.staged)
        for p in out.staged_paths:
            os.unlink(p)
    raise DeltaConcurrentModification(
        f"{name} lost the commit race {max_retries} times: {table}"
    )


def _checkpoint_files(table: str) -> dict[int, list[str]]:
    """version -> the checkpoint file name(s) that reconstitute it.
    Three spec layouts are recognized:

    - classic single-file ``<v>.checkpoint.parquet`` -> [name]
    - multi-part classic ``<v>.checkpoint.<k of n>.<n>.parquet`` -> the n
      part names in order; an INCOMPLETE part set is skipped (per spec a
      reader must ignore a checkpoint whose parts are not all present)
    - UUID-named V2 ``<v>.checkpoint.<uuid>.parquet`` -> [name]; per
      spec multiple UUID checkpoints of one version are equivalent, any
      one works.

    Preference within a version: classic single > complete multi-part >
    v2 (cheapest to read first; all reconstitute the same snapshot)."""
    log = os.path.join(table, _LOG_DIR)
    if not os.path.isdir(log):
        return {}
    out: dict[int, list[str]] = {}
    multi: dict[tuple[int, int], dict[int, str]] = {}
    for f in sorted(os.listdir(log)):
        mp = _CHECKPOINT_MP_RE.match(f)
        if mp:
            v, part, n = (int(mp.group(i)) for i in (1, 2, 3))
            multi.setdefault((v, n), {})[part] = f
            continue
        m = _CHECKPOINT_V2_RE.match(f)
        if m and int(m.group(1)) not in out:
            out[int(m.group(1))] = [f]
    for (v, n), parts in multi.items():
        if len(parts) == n and set(parts) == set(range(1, n + 1)):
            out[v] = [parts[i] for i in range(1, n + 1)]
    for f in os.listdir(log):
        m = _CHECKPOINT_RE.match(f)
        if m:
            out[int(m.group(1))] = [f]  # classic single wins
    return out


def _list_checkpoints(table: str) -> list[int]:
    return sorted(_checkpoint_files(table))


def _checkpoint_paths(table: str, version: int) -> list[str]:
    names = _checkpoint_files(table).get(
        version, [f"{version:020d}.checkpoint.parquet"]
    )
    return [os.path.join(table, _LOG_DIR, n) for n in names]


def _checkpoint_path(table: str, version: int) -> str:
    """The single-file path for WRITING a classic checkpoint."""
    return os.path.join(
        table, _LOG_DIR, f"{version:020d}.checkpoint.parquet"
    )


def _apply_protocol(action_protocol: dict) -> dict:
    mrv = action_protocol.get("minReaderVersion", 1)
    if mrv == 3:
        # table-features era: readable iff every reader feature is in the
        # implemented subset (deletion vectors, column mapping and v2
        # checkpoints have READ paths here)
        feats = set(action_protocol.get("readerFeatures") or [])
        unsupported = sorted(
            feats
            - {
                "deletionVectors",
                "columnMapping",
                "v2Checkpoint",
                # TIMESTAMP_NTZ is a native Spark type; schemaString
                # "timestamp_ntz" parses and parquet isAdjustedToUTC=false
                # round-trips through the explicit read schema
                "timestampNtz",
                # vacuum here replays the snapshot (and so validates the
                # protocol) before touching any file — exactly the check
                # this feature exists to require
                "vacuumProtocolCheck",
                # files written before a widening read under the CURRENT
                # (wider) schema — Spark's parquet reader upcasts every
                # conversion in the spec's lattice (verified for the
                # full matrix in tests/test_delta_type_widening.py);
                # stats skipping on widened columns is disabled
                "typeWidening",
                "typeWidening-preview",
                # Spark's VariantType IS the open variant binary spec
                # Delta stores (value/metadata binary pair); schemaString
                # "variant" parses natively and parquet round-trips
                # through the explicit read schema.  variantShredding
                # stays OUTSIDE the subset (typed_value subcolumns need
                # a reassembly step this engine does not implement).
                "variantType",
                "variantType-preview",
            }
        )
        if unsupported:
            raise DeltaUnsupported(
                f"reader features {unsupported} are outside the "
                "implemented subset"
            )
        return action_protocol
    if mrv == 2:
        # reader version 2 = legacy column mapping gate; the read path
        # handles it (physical-name scan + logical rename)
        return action_protocol
    if mrv > 1:
        raise DeltaUnsupported(
            f"reader version {action_protocol} needs features "
            "outside the implemented subset"
        )
    return action_protocol


def _mapping_mode(meta: dict) -> str:
    return (meta.get("configuration") or {}).get(
        "delta.columnMapping.mode", "none"
    )


# Writer features whose obligations this engine actually meets.  Several
# are accepted only VACUOUSLY — the feature is honored by validating that
# the table declares none of the artifacts the feature governs (an
# invariants table with no invariants needs no validation); a table that
# DOES declare them is rejected by _check_writer_protocol below.
_WRITER_FEATURES_OK = {
    "appendOnly",        # honored: delta.appendOnly gates removes
    "invariants",        # vacuous: rejected if any delta.invariants
    "checkConstraints",  # vacuous: rejected if any delta.constraints.*
    "changeDataFeed",    # honored: MERGE writes cdc; file-granularity
                         # commits use the spec's add/remove derivation
    "columnMapping",     # honored: physical-name writes (name/id modes)
    "deletionVectors",   # honored: rewrites materialize-minus-DV and
                         # drop the descriptor; appends don't touch files
    "v2Checkpoint",      # honored: write_checkpoint(format='v2') emits
                         # the UUID top file + sidecars; classic stays
                         # valid too (v2 is ADDITIONAL, not a replacement)
    "generatedColumns",  # honored: _enforce_generated computes absent /
                         # validates provided values on append and
                         # recomputes on MERGE/UPDATE outputs
    "identityColumns",   # honored: _apply_identity generates values
                         # for absent columns, gates explicit ones on
                         # allowExplicitInsert, and commits the updated
                         # high-water mark with every value-consuming
                         # write (append/overwrite/MERGE)
    "clusteredTable",    # honored: the delta.clustering domain is
                         # preserved (domainMetadata) and OPTIMIZE
                         # without explicit columns clusters on the
                         # declared clusteringColumns; appends need not
                         # cluster, per spec
    "domainMetadata",    # honored: domain actions reconcile through
                         # replay (last writer per domain, removed
                         # tombstones drop) and survive BOTH checkpoint
                         # layouts; commits here never touch foreign
                         # domains
    "inCommitTimestamp",  # honored: _write_commit_atomic stamps a
                          # monotonic inCommitTimestamp on every commit
    "typeWidening",      # honored: writes use the CURRENT (wide)
                         # schema; widen_column_type commits the spec's
                         # delta.typeChanges records; stats skipping on
                         # widened columns is disabled (old files carry
                         # pre-widening stats renderings)
    "typeWidening-preview",  # the preview-era feature name, same
                             # semantics
    "variantType",       # honored: Spark's VariantType writes/reads the
                         # open variant binary layout; no stats on
                         # variant columns (unprunable, always safe)
    "variantType-preview",
                          # (commitInfo first) when the table config
                          # enables it; time travel resolves against it
    "rowTracking",       # honored: fresh adds get baseRowId ranges +
                         # defaultRowCommitVersion at the commit choke
                         # point (hwm via the delta.rowTracking domain);
                         # re-adds keep theirs; row-MOVING ops refuse
                         # when delta.enableRowTracking=true (stable-id
                         # guarantee needs materialized columns)
    "timestampNtz",      # honored: native Spark type, round-trips
    "vacuumProtocolCheck",  # honored: vacuum replays (and so validates
                            # the protocol) before deleting anything
}


def _check_log_writer_features(protocol: dict | None, op: str) -> None:
    """Log-maintenance gate (checkpoint, vacuum): an UNKNOWN writer
    feature may impose per-file obligations this engine cannot
    reproduce (rowTracking base ids in checkpoint adds) or reference
    files it would consider unreferenced (exactly what deletion vectors
    were before r11) — refuse before rewriting or deleting anything.
    Unlike :func:`_check_writer_protocol`, declared invariants /
    constraints do NOT gate here: log maintenance writes no rows."""
    feats = set((protocol or {}).get("writerFeatures") or [])
    unknown = sorted(feats - _WRITER_FEATURES_OK)
    if unknown:
        raise DeltaUnsupported(
            f"{op} on a table with writer features {unknown} could "
            "violate their file-level obligations — outside the "
            "implemented subset"
        )


def _feature_era_protocol(
    protocol: dict | None,
    add_reader: Sequence[str] = (),
    add_writer: Sequence[str] = (),
) -> dict:
    """The table-features-era (reader 3 / writer 7) protocol action that
    upgrades ``protocol`` while adding the given features.  Per spec the
    features IMPLIED by the previous legacy versions must be enumerated
    so no prior capability requirement is silently dropped, and a
    readerWriter feature (everything in ``add_reader``) appears in BOTH
    lists (delta.io PROTOCOL.md "Table Features")."""
    p = protocol or {}
    mwv = p.get("minWriterVersion", 2)
    mrv = p.get("minReaderVersion", 1)
    feats = set(p.get("writerFeatures") or [])
    rfeats = set(p.get("readerFeatures") or [])
    legacy_w = ["appendOnly", "invariants"]
    if mwv >= 3:
        legacy_w.append("checkConstraints")
    if mwv >= 4:
        legacy_w += ["changeDataFeed", "generatedColumns"]
    if mwv >= 5:
        legacy_w.append("columnMapping")
    if mwv >= 6:
        legacy_w.append("identityColumns")
    if mwv == 7:
        legacy_w = sorted(feats)
    legacy_r = sorted(rfeats) if mrv == 3 else (
        ["columnMapping"] if mrv == 2 else []
    )
    # a WRITER-ONLY upgrade (no add_reader) keeps the reader version:
    # per spec, writer features need only minWriterVersion 7 and the
    # readerFeatures list exists only at minReaderVersion 3
    new_mrv = 3 if (add_reader or mrv == 3) else mrv
    out = {
        "minReaderVersion": new_mrv,
        "minWriterVersion": 7,
        "writerFeatures": sorted(
            set(legacy_w) | set(add_writer) | set(add_reader)
        ),
    }
    if new_mrv == 3:
        out["readerFeatures"] = sorted(set(legacy_r) | set(add_reader))
    return out


def _check_writer_protocol(
    protocol: dict | None,
    meta: dict,
    op: str,
    removes_data: bool = False,
    moves_rows: bool = False,
) -> None:
    """Writer-side analogue of :func:`_apply_protocol` (ADVICE r11 #2):
    before ANY commit to an existing table, verify the table's declared
    writer protocol is inside the implemented subset — otherwise this
    engine could commit spec-violating actions to a foreign table (e.g.
    removes on an appendOnly table, adds without rowTracking fields).

    Legacy minWriterVersion ladder: 2 = appendOnly+invariants,
    3 = +checkConstraints, 4 = +changeDataFeed+generatedColumns,
    5 = +columnMapping, 6 = +identityColumns, 7 = table features.
    Versions <= 6 and feature-era tables whose writerFeatures are all in
    :data:`_WRITER_FEATURES_OK` are accepted; the vacuously-accepted
    features then gate on the ARTIFACTS (invariants / constraints /
    generation expressions) actually declared, and ``delta.appendOnly``
    is honored for operations that remove data."""
    p = protocol or {}
    mwv = p.get("minWriterVersion", 2)
    if mwv == 7:
        feats = set(p.get("writerFeatures") or [])
        unsupported = sorted(feats - _WRITER_FEATURES_OK)
        if unsupported:
            raise DeltaUnsupported(
                f"{op}: table declares writer features {unsupported} "
                "outside the implemented subset — writing could commit "
                "spec-violating actions"
            )
    elif mwv > 7:
        raise DeltaUnsupported(
            f"{op}: minWriterVersion {mwv} is outside the implemented "
            "subset"
        )
    cfg = meta.get("configuration") or {}
    if (
        moves_rows
        and cfg.get("delta.enableRowTracking") == "true"
        and _rt_materialized(meta) is None
    ):
        # STABLE row ids: rewriting a row into a different file must
        # carry its id via the MATERIALIZED row-tracking columns — the
        # rewrite paths do exactly that when the table declares their
        # names (delta.rowTracking.materializedRowIdColumnName /
        # ...RowCommitVersionColumnName).  A table that promises
        # stability WITHOUT naming them cannot be rewritten without
        # breaking the promise; appends, overwrites (rows replaced, not
        # moved) and dv-mode DELETE (files untouched, descriptors
        # preserved on the re-add) remain fully available.
        raise DeltaUnsupported(
            f"{op} rewrites rows on a table with stable row ids "
            "(delta.enableRowTracking=true) but no materialized "
            "row-id columns are declared — id preservation is "
            "impossible; use dv-mode DELETE / appends, declare the "
            "materialized column names, or disable the stability "
            "guarantee"
        )
    if removes_data and cfg.get("delta.appendOnly") == "true":
        raise DeltaUnsupported(
            f"{op} removes data but the table declares "
            "delta.appendOnly=true"
        )
    # CHECK constraints (delta.constraints.* config) and TOP-LEVEL
    # invariants (delta.invariants field metadata) are ENFORCED by the
    # write paths (:func:`_enforce_row_predicates` rejects the first
    # violating row loudly), like generated columns
    # (:func:`_enforce_generated`) and identity columns — none are
    # flagged here.  A NESTED invariant / generation expression /
    # identity declaration is outside Delta's own surface and refuses
    # like any other unenforceable declaration.
    flagged: list[str] = []

    def _walk(t, depth: int) -> None:
        if isinstance(t, dict):
            if t.get("type") == "struct":
                for f in t["fields"]:
                    md = f.get("metadata") or {}
                    if depth > 0 and "delta.invariants" in md:
                        flagged.append(
                            f"nested invariant on {f['name']!r}"
                        )
                    if depth > 0 and "delta.generationExpression" in md:
                        flagged.append(
                            f"nested generated column {f['name']!r}"
                        )
                    # TOP-LEVEL identity columns are ENFORCED by the
                    # write paths (_apply_identity: generate absent /
                    # sync explicit, HWM rides the commit); a nested
                    # one is outside Delta's own surface
                    if depth > 0 and "delta.identity.start" in md:
                        flagged.append(
                            f"nested identity column {f['name']!r}"
                        )
                    _walk(f["type"], depth + 1)
            elif t.get("type") == "array":
                _walk(t["elementType"], depth + 1)
            elif t.get("type") == "map":
                _walk(t["keyType"], depth + 1)
                _walk(t["valueType"], depth + 1)

    _walk(json.loads(meta["schemaString"]), 0)
    if flagged:
        raise DeltaUnsupported(
            f"{op}: table declares {flagged} this engine does not "
            "enforce — writing could commit violating rows"
        )


def _generated_exprs(meta: dict) -> dict[str, tuple[str, object]]:
    """{column: (generation SQL, Spark DataType)} for the table's
    top-level generated columns (``delta.generationExpression`` field
    metadata, the legacy writer-v4 / ``generatedColumns`` feature)."""
    out: dict[str, tuple[str, object]] = {}
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    for f in json.loads(meta["schemaString"])["fields"]:
        md = f.get("metadata") or {}
        if "delta.generationExpression" in md:
            out[f["name"]] = (
                md["delta.generationExpression"],
                schema[f["name"]].dataType,
            )
    return out


def _row_predicates(meta: dict) -> dict[str, str]:
    """{label: SQL} of every row-level predicate the table declares:
    CHECK constraints (``delta.constraints.<name>`` table config, the
    writer-v3 / ``checkConstraints`` feature) and top-level column
    invariants (``delta.invariants`` field metadata, writer v2 — the
    value is either plain SQL or Delta's historical JSON wrapper
    ``{"expression": {"expression": "<sql>"}}``)."""
    out: dict[str, str] = {}
    cfg = meta.get("configuration") or {}
    for k in sorted(cfg):
        if k.startswith("delta.constraints."):
            out[f"CHECK constraint {k[len('delta.constraints.'):]!r}"] = (
                cfg[k]
            )
    for f in json.loads(meta["schemaString"])["fields"]:
        md = f.get("metadata") or {}
        inv = md.get("delta.invariants")
        if inv is None:
            continue
        sql = inv
        try:
            parsed = json.loads(inv)
            if isinstance(parsed, dict):
                sql = parsed.get("expression", {}).get("expression", inv)
        except (TypeError, ValueError):
            pass
        out[f"invariant on {f['name']!r}"] = sql
    return out


def _enforce_row_predicates(df: DataFrame, meta: dict, op: str) -> DataFrame:
    """The spec's writer obligation for CHECK constraints and column
    invariants: no committed row may make a declared predicate FALSE
    (SQL CHECK semantics — NULL passes).  ONE extra filter job over the
    frame, all predicates fused; the first violating row aborts loudly
    with the predicate(s) it breaks.  Returns ``df`` unchanged."""
    preds = _row_predicates(meta)
    if not preds:
        return df
    viols = [
        ~F.coalesce(F.expr(sql), F.lit(True))
        for sql in preds.values()
    ]
    any_viol = viols[0]
    for v in viols[1:]:
        any_viol = any_viol | v
    offending = (
        df.select(
            "*", *[v.alias(f"__viol_{i}") for i, v in enumerate(viols)]
        )
        .where(any_viol)
        .limit(1)
        .collect()
    )
    if offending:
        row = offending[0].asDict()
        broken = [
            label
            for i, label in enumerate(preds)
            if row.pop(f"__viol_{i}")
        ]
        raise ValueError(
            f"{op}: row violates {broken}: {row}"
        )
    return df


def _enforce_generated(
    df: DataFrame, meta: dict, recompute: bool
) -> DataFrame:
    """The spec's writer obligation for generated columns: every
    committed row must satisfy ``col = expression``.

    ``recompute=False`` (appends): a generated column ABSENT from the
    frame is computed; a PROVIDED one is VALIDATED row-by-row with a
    loud error on the first mismatch — silently rewriting caller-
    provided values would mask caller bugs (Delta validates too).
    ``recompute=True`` (MERGE/UPDATE outputs): the expressions are
    recomputed over the post-clause rows, which enforces the invariant
    by construction.  Expressions are row-local deterministic SQL (the
    only thing Delta admits), so recomputation is exact."""
    gens = _generated_exprs(meta)
    if not gens:
        return df
    mismatch = None
    for col, (sql, dtype) in gens.items():
        expr = F.expr(sql).cast(dtype)
        if recompute or col not in df.columns:
            df = df.withColumn(col, expr)
        else:
            bad = ~F.col(col).eqNullSafe(expr)
            mismatch = bad if mismatch is None else (mismatch | bad)
    if mismatch is not None:
        offending = df.filter(mismatch).limit(1).collect()
        if offending:
            raise ValueError(
                "generated-column violation: provided values do not "
                f"satisfy the generation expression(s) {sorted(gens)}; "
                f"first offending row: {offending[0].asDict()}"
            )
    return df


def _identity_cols(schema_string: str) -> dict[str, dict]:
    """{column: {start, step, hwm, allow_explicit}} for the table's
    top-level identity columns (``delta.identity.*`` field metadata —
    the legacy writer-v6 / ``identityColumns`` feature).  Identity
    columns must be of type ``long`` per spec; a zero step is
    spec-invalid.  ``hwm`` is None until the first value is tracked."""
    out: dict[str, dict] = {}
    for f in json.loads(schema_string)["fields"]:
        md = f.get("metadata") or {}
        if not any(k.startswith("delta.identity.") for k in md):
            continue
        if f["type"] != "long":
            raise DeltaUnsupported(
                f"identity column {f['name']!r} must be of type long, "
                f"got {f['type']!r}"
            )
        step = int(md.get("delta.identity.step", 1))
        if step == 0:
            raise DeltaUnsupported(
                f"identity column {f['name']!r} declares step 0"
            )
        allow = md.get("delta.identity.allowExplicitInsert", False)
        out[f["name"]] = {
            "start": int(md.get("delta.identity.start", 1)),
            "step": step,
            "hwm": (
                int(md["delta.identity.highWaterMark"])
                if "delta.identity.highWaterMark" in md
                else None
            ),
            "allow_explicit": str(allow).lower() == "true",
            # the raw field metadata, re-attached to GENERATED columns
            # (withColumn strips it; losing it would silently undeclare
            # the identity column on overwrite commits)
            "metadata": md,
        }
    return out


def _patch_identity_hwm(meta: dict, hwms: dict[str, int]) -> dict:
    """``meta`` with each identity column's
    ``delta.identity.highWaterMark`` field metadata set to the new
    value (the spec's writer obligation: the high-water mark rides the
    commit that consumed the values, as a fresh metaData action)."""
    sj = json.loads(meta["schemaString"])
    for f in sj["fields"]:
        if f["name"] in hwms:
            md = dict(f.get("metadata") or {})
            md["delta.identity.highWaterMark"] = hwms[f["name"]]
            f["metadata"] = md
    return {**meta, "schemaString": json.dumps(sj)}


def _identity_sync_hwm(spec: dict, extreme: int) -> int | None:
    """The new high-water mark after EXPLICIT values were inserted, or
    None if the current mark already covers them: the smallest value of
    form ``start + n*step`` at-or-beyond ``extreme`` in step direction,
    so future GENERATED values stay unique and aligned (what Delta's
    SYNC IDENTITY computes)."""
    start, step, hwm = spec["start"], spec["step"], spec["hwm"]
    base = hwm if hwm is not None else start - step
    beyond = extreme > base if step > 0 else extreme < base
    if not beyond:
        return None
    # ceil((extreme-start)/step) valid for either step sign in Python
    k = max(0, -((-(extreme - start)) // step))
    return start + k * step


def _apply_identity(
    df: DataFrame,
    ident: dict[str, dict],
    op: str,
    materialize: str = "persist",
) -> tuple[DataFrame, dict[str, int], list[DataFrame]]:
    """Enforce the spec's identity-column writer obligations on rows
    about to be committed: a column ABSENT from the frame (or present
    but entirely NULL) gets GENERATED values — gap-free
    ``hwm + i*step`` — and a PROVIDED one requires
    ``allowExplicitInsert`` and syncs the high-water mark past the
    provided extreme.  Returns (frame, {col: new hwm}, frames to
    unpersist after staging).

    Generation is distributed without shuffling the data:
    ``monotonically_increasing_id`` decomposes into (partition id,
    local row index); per-partition counts (bounded by partition COUNT,
    never rows) become exclusive offsets broadcast back, so the global
    index is offset + local index.  The stamped frame is persisted so
    the count job and the staging job see identical ids."""
    hwms: dict[str, int] = {}
    persisted: list[DataFrame] = []
    for col, spec in ident.items():
        start, step, hwm = spec["start"], spec["step"], spec["hwm"]
        explicit = col in df.columns
        if explicit:
            agg = df.agg(
                F.count(F.lit(1)).alias("n"),
                F.count(col).alias("nn"),
                F.max(col).alias("mx"),
                F.min(col).alias("mn"),
            ).first()
            if agg["n"] == 0:
                continue
            if agg["nn"] == 0:
                # declared but never valued: generate instead
                df = df.drop(col)
                explicit = False
            elif agg["nn"] != agg["n"]:
                raise ValueError(
                    f"{op}: explicit identity column {col!r} mixes "
                    "values and NULLs — identity values are never NULL"
                )
        if explicit:
            if not spec["allow_explicit"]:
                raise DeltaUnsupported(
                    f"{op}: identity column {col!r} is GENERATED "
                    "ALWAYS (allowExplicitInsert is not true) — drop "
                    "it from the frame and let the engine assign "
                    "values"
                )
            new_hwm = _identity_sync_hwm(
                spec, agg["mx"] if step > 0 else agg["mn"]
            )
            if new_hwm is not None:
                hwms[col] = new_hwm
            continue
        # ---- generate ----
        # the stamped frame is pinned so every job sees identical ids:
        # 'persist' (caller unpersists after staging) or 'checkpoint'
        # (localCheckpoint; lineage-truncated, freed by the context
        # cleaner — for callers with many exit paths, e.g. MERGE)
        stamped = df.withColumn(
            "_idm", F.monotonically_increasing_id()
        )
        if materialize == "checkpoint":
            stamped = stamped.localCheckpoint(eager=True)
        else:
            stamped = stamped.persist()
            persisted.append(stamped)
        counts = sorted(
            (r["_idp"], r["_c"])
            for r in stamped.groupBy(
                F.shiftright("_idm", 33).alias("_idp")
            ).agg(F.count(F.lit(1)).alias("_c")).collect()
        )
        n_total = sum(c for _, c in counts)
        base = hwm if hwm is not None else start - step
        if n_total == 0:
            df = stamped.drop("_idm").withColumn(
                col, F.lit(None).cast("long")
            )
            df = df.select(
                *[
                    F.col(c).alias(c, metadata=spec["metadata"])
                    if c == col
                    else F.col(c)
                    for c in df.columns
                ]
            )
            continue
        off_rows, acc = [], 0
        for pid, c in counts:
            off_rows.append((pid, acc))
            acc += c
        off_df = df.sparkSession.createDataFrame(
            off_rows, "_idp bigint, _off bigint"
        )
        df = (
            stamped.withColumn("_idp", F.shiftright("_idm", 33))
            .join(F.broadcast(off_df), "_idp")
            .withColumn(
                col,
                (
                    F.lit(base)
                    + F.lit(step)
                    * (
                        F.col("_off")
                        + (F.col("_idm") % F.lit(1 << 33))
                        + F.lit(1)
                    )
                ).cast("long"),
            )
            .drop("_idm", "_idp", "_off")
        )
        df = df.select(
            *[
                F.col(c).alias(c, metadata=spec["metadata"])
                if c == col
                else F.col(c)
                for c in df.columns
            ]
        )
        hwms[col] = base + step * n_total
    return df, hwms, persisted


def _physical_type(t, with_field_ids: bool = False):
    """Recursively rewrite a schemaString type JSON to PHYSICAL names
    (delta.columnMapping.physicalName metadata at every nesting level).
    ``with_field_ids`` additionally carries ``delta.columnMapping.id``
    through as ``parquet.field.id`` metadata, which makes Spark's parquet
    reader match columns BY FIELD ID (the spec's required resolution for
    id-mode tables, where old files' column names may predate the
    current physicalName)."""
    if isinstance(t, dict):
        if t.get("type") == "struct":
            fields = []
            for f in t["fields"]:
                md = f.get("metadata") or {}
                out_md = {}
                if with_field_ids and "delta.columnMapping.id" in md:
                    out_md["parquet.field.id"] = md[
                        "delta.columnMapping.id"
                    ]
                fields.append(
                    {
                        "name": md.get(
                            "delta.columnMapping.physicalName", f["name"]
                        ),
                        "type": _physical_type(f["type"], with_field_ids),
                        "nullable": f.get("nullable", True),
                        "metadata": out_md,
                    }
                )
            return {"type": "struct", "fields": fields}
        if t.get("type") == "array":
            return {
                **t,
                "elementType": _physical_type(t["elementType"],
                                              with_field_ids),
            }
        if t.get("type") == "map":
            return {
                **t,
                "keyType": _physical_type(t["keyType"], with_field_ids),
                "valueType": _physical_type(t["valueType"], with_field_ids),
            }
    return t


def _column_mapping(meta: dict):
    """None when the table has no column mapping; otherwise
    (physical_schema, top-level logical->physical name map).  Name mode
    reads by physical NAME (the names delta writes into its files); id
    mode reads by parquet FIELD ID (the spec's resolution — old files in
    an id-mode lineage may carry column names that predate the current
    physicalName, and by-name matching would silently NULL them)."""
    mode = _mapping_mode(meta)
    if mode not in ("name", "id"):
        return None
    schema_json = json.loads(meta["schemaString"])
    phys = StructType.fromJson(
        _physical_type(schema_json, with_field_ids=(mode == "id"))
    )
    logical_to_phys = {
        f["name"]: (f.get("metadata") or {}).get(
            "delta.columnMapping.physicalName", f["name"]
        )
        for f in schema_json["fields"]
    }
    return phys, logical_to_phys


def _load_checkpoint(table: str, version: int):
    """Reconstitute (protocol, meta, live, txns) from a classic
    single-file checkpoint parquet.  Driver-side pyarrow read — the
    checkpoint IS the driver-side live-file list every reader holds."""
    import pyarrow.parquet as pq

    def _as_map(v):
        # pyarrow map columns surface as list-of-(k, v) pairs in to_pylist;
        # conversion is by SCHEMA position (never by value shape: an empty
        # list and an empty map are indistinguishable)
        if v is None:
            return {}
        return v if isinstance(v, dict) else dict(v)

    protocol, meta = None, None
    live: dict[str, dict] = {}
    txns: dict[str, int] = {}
    domains: dict[str, dict] = {}
    rows: list[dict] = []
    for part in _checkpoint_paths(table, version):
        rows.extend(pq.read_table(part).to_pylist())
    # V2 checkpoints (UUID-named top file): add/remove actions live in
    # SIDECAR parquet files under _delta_log/_sidecars/, referenced by
    # `sidecar` actions in the top file.  The top file still carries
    # protocol/metaData (and checkpointMetadata, which is informational).
    # Remove tombstones in a checkpoint exist for vacuum bookkeeping
    # only; a path that appears both removed and re-added stays LIVE.
    sidecar_rows: list[dict] = []
    for row in rows:
        sc = row.get("sidecar")
        if sc is not None:
            # spec: sidecar paths are URI-encoded relative names
            side = os.path.join(
                table, _LOG_DIR, "_sidecars",
                urllib.parse.unquote(dict(sc)["path"]),
            )
            if not os.path.exists(side):
                raise DeltaUnsupported(
                    f"v2 checkpoint {version} references missing sidecar "
                    f"{dict(sc)['path']!r}: {table}"
                )
            sidecar_rows.extend(pq.read_table(side).to_pylist())
    for row in rows + sidecar_rows:
        if row.get("protocol") is not None:
            p = {
                k: v
                for k, v in dict(row["protocol"]).items()
                if v is not None  # absent feature lists, not empty ones
            }
            p["readerFeatures"] = (
                list(p["readerFeatures"])
                if "readerFeatures" in p
                else None
            )
            p["writerFeatures"] = (
                list(p["writerFeatures"])
                if "writerFeatures" in p
                else None
            )
            p = {k: v for k, v in p.items() if v is not None}
            protocol = _apply_protocol(p)
        elif row.get("metaData") is not None:
            m = dict(row["metaData"])
            m["configuration"] = _as_map(m.get("configuration"))
            m["partitionColumns"] = list(m.get("partitionColumns") or [])
            fmt = dict(m.get("format") or {})
            fmt["options"] = _as_map(fmt.get("options"))
            m["format"] = fmt
            meta = m
        elif row.get("add") is not None:
            a = dict(row["add"])
            a["partitionValues"] = _as_map(a.get("partitionValues"))
            if a.get("tags") is not None:
                a["tags"] = _as_map(a["tags"])
            else:
                a.pop("tags", None)
            dv = a.get("deletionVector")
            if dv is not None:
                a["deletionVector"] = dict(dv)
            else:
                a.pop("deletionVector", None)
            for opt in ("baseRowId", "defaultRowCommitVersion"):
                if a.get(opt) is None:
                    a.pop(opt, None)
            live[a["path"]] = a
        elif row.get("remove") is not None:
            # checkpoint remove rows are expired-tombstone bookkeeping for
            # vacuum, never part of the live set — the reconciled adds are
            pass
        elif row.get("txn") is not None:
            t = row["txn"]
            txns[t["appId"]] = t["version"]
        elif row.get("domainMetadata") is not None:
            dm = dict(row["domainMetadata"])
            # checkpoints carry only LIVE domains; a removed=true row is
            # foreign-writer bookkeeping and must not surface
            if not dm.get("removed"):
                domains[dm["domain"]] = {
                    k: dm.get(k) for k in ("domain", "configuration")
                } | {"removed": False}
    if meta is None or protocol is None:
        raise DeltaUnsupported(
            f"checkpoint {version} lacks protocol/metaData: {table}"
        )
    return protocol, meta, live, txns, domains


def _replay(
    table: str, version: int | None = None, with_domains: bool = False
):
    """Reconstitute the snapshot at ``version`` (default: latest);
    returns (protocol, metaData, live, txns) where ``live`` maps relative
    file path -> its add action and ``txns`` maps appId -> latest
    streaming transaction version (the spec's ``txn`` action
    reconciliation: last writer per appId wins).  With
    ``with_domains=True`` a fifth element is returned: {domain ->
    domainMetadata action} (last writer per domain wins, ``removed``
    tombstones drop the domain) — the spec's table-features
    domainMetadata reconciliation.

    Replay starts from the newest checkpoint <= target when one exists
    (O(checkpoint + JSON tail)); otherwise from version 0.  A JSON gap —
    commits deleted by :func:`cleanup_log` below the oldest usable
    checkpoint — is a loud error, never a silent partial snapshot."""
    versions = _list_versions(table)
    checkpoints = _list_checkpoints(table)
    if not versions and not checkpoints:
        raise FileNotFoundError(f"not a Delta table (no {_LOG_DIR}): {table}")
    newest = max(versions[-1] if versions else -1,
                 checkpoints[-1] if checkpoints else -1)
    target = newest if version is None else version
    if target > newest:
        raise ValueError(
            f"version {target} not in table history (latest {newest})"
        )

    base = max((c for c in checkpoints if c <= target), default=None)
    if base is not None:
        protocol, meta, live, txns, domains = _load_checkpoint(
            table, base
        )
        tail = [v for v in versions if base < v <= target]
        expect = range(base + 1, target + 1)
    else:
        protocol, meta = None, None
        live, txns, domains = {}, {}, {}
        tail = [v for v in versions if v <= target]
        expect = range(0, target + 1)
    if list(expect) != tail:
        raise ValueError(
            f"cannot reconstruct version {target}: log versions "
            f"{tail} do not cover {expect.start}..{expect.stop - 1} "
            "(commits cleaned up past the nearest checkpoint)"
        )

    for v in tail:
        adds_v: dict[str, dict] = {}
        removes_v: list[str] = []
        with open(_log_path(table, v)) as fh:
            for line in fh:
                if not line.strip():
                    continue
                action = json.loads(line)
                if "protocol" in action:
                    protocol = _apply_protocol(action["protocol"])
                elif "metaData" in action:
                    meta = action["metaData"]
                elif "add" in action:
                    adds_v[action["add"]["path"]] = action["add"]
                elif "remove" in action:
                    removes_v.append(action["remove"]["path"])
                elif "txn" in action:
                    txns[action["txn"]["appId"]] = action["txn"]["version"]
                elif "domainMetadata" in action:
                    dm = action["domainMetadata"]
                    if dm.get("removed"):
                        domains.pop(dm["domain"], None)
                    else:
                        domains[dm["domain"]] = dm
        # per-commit reconciliation, order-independent WITHIN the commit:
        # a DV update re-adds the SAME path it removes (remove(old DV) +
        # add(new DV) in one commit, PROTOCOL.md) — the remove targets the
        # old incarnation and must never cancel the same-commit re-add
        for p in removes_v:
            if p not in adds_v:
                live.pop(p, None)
        live.update(adds_v)
    if meta is None:
        raise DeltaUnsupported(f"log has no metaData action: {table}")
    if target == newest and protocol is not None:
        _SNAPSHOT_PROTOCOL[table] = protocol
    if with_domains:
        return protocol, meta, live, txns, domains
    return protocol, meta, live, txns


def _stats_json(parquet_path: str, exclude: Sequence[str] = ()) -> str:
    """Per-file stats for the ``add`` action: numRecords plus
    minValues / maxValues / nullCount for top-level leaf columns, read
    from the parquet footer the write already produced (no data scan).
    Spec-conforming conservatisms: a column whose row-group stats are
    missing (or whose doubles may hide NaN ordering issues) is simply
    omitted from min/max — readers must treat absent stats as
    unprunable, so omission is always safe.  ``exclude`` drops columns
    that are physical-only (materialized row-tracking columns) — stats
    describe the LOGICAL schema."""
    import datetime
    import math

    import pyarrow.parquet as pq

    md = pq.ParquetFile(parquet_path).metadata
    arrow_schema = pq.read_schema(parquet_path)
    top_level = {f.name for f in arrow_schema} - set(exclude)

    def _render(v):
        if isinstance(v, bytes):
            try:
                return v.decode("utf-8")
            except UnicodeDecodeError:
                return None
        if isinstance(v, datetime.datetime):
            return v.isoformat()
        if isinstance(v, (datetime.date,)):
            return v.isoformat()
        if isinstance(v, float) and (math.isnan(v) or math.isinf(v)):
            return None
        if isinstance(v, (int, float, str, bool)):
            return v
        return None

    mins: dict[str, object] = {}
    maxs: dict[str, object] = {}
    nulls: dict[str, int] = {}
    droppable: set[str] = set()
    for rg in range(md.num_row_groups):
        group = md.row_group(rg)
        for ci in range(group.num_columns):
            col = group.column(ci)
            name = col.path_in_schema
            if name not in top_level:
                continue  # nested leaves: outside the stats subset
            st = col.statistics
            if st is None or not st.has_null_count:
                droppable.add(name)
                continue
            nulls[name] = nulls.get(name, 0) + st.null_count
            if not st.has_min_max:
                droppable.add(name)
                continue
            try:
                lo, hi = _render(st.min), _render(st.max)
            except Exception:
                # pyarrow cannot cast min/max for every physical type
                # (e.g. some decimal encodings) — omission is the
                # spec-safe fallback, same as absent footer stats
                droppable.add(name)
                continue
            if lo is None or hi is None:
                droppable.add(name)
                continue
            mins[name] = lo if name not in mins else min(mins[name], lo)
            maxs[name] = hi if name not in maxs else max(maxs[name], hi)
    for name in droppable:
        mins.pop(name, None)
        maxs.pop(name, None)
        nulls.pop(name, None)
    return json.dumps(
        {
            "numRecords": md.num_rows,
            "minValues": mins,
            "maxValues": maxs,
            "nullCount": nulls,
        },
        default=str,
    )


def _stage_data_files(
    df: DataFrame,
    table: str,
    partition_by: Sequence[str],
    data_change: bool = True,
    action: str = "add",
    subdir: str | None = None,
    drop_empty: bool = False,
    stats_exclude: Sequence[str] = (),
) -> list[dict]:
    """Write ``df`` as parquet into the table directory (hive layout when
    partitioned) via a staging dir, returning one action per file.
    File names keep Spark's task-unique part names, so concurrent writers
    never collide on data files — only on the log commit.

    ``action='cdc'`` + ``subdir='_change_data'`` produces the spec's
    Change Data files: same hive layout, paths relative to the TABLE
    root, ``dataChange: false`` (CDF rows are derived, not table data),
    no stats.  ``drop_empty`` unlinks zero-row part files and omits their
    actions (Delta never commits empty adds)."""
    dest_root = os.path.join(table, subdir) if subdir else table
    stage = os.path.join(table, f".stage-{uuid.uuid4().hex}")
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(stage)

    actions: list[dict] = []
    pending_counts: list[tuple[int, str]] = []  # (action idx, dst path)
    now_ms = int(time.time() * 1000)
    for root, _dirs, files in os.walk(stage):
        for f in files:
            if not f.endswith(".parquet"):
                continue  # _SUCCESS, .crc
            src = os.path.join(root, f)
            rel = os.path.relpath(src, stage)
            try:
                stats = _stats_json(src, exclude=stats_exclude)
            except OSError:
                # pyarrow cannot open footers with logical types newer
                # than it knows (VARIANT) — numRecords then comes from
                # ONE Spark metadata-count job over all such files after
                # the walk; min/max/nullCount are simply absent (the
                # spec's unprunable fallback)
                stats = None
            if (
                drop_empty
                and stats is not None
                and json.loads(stats)["numRecords"] == 0
            ):
                os.unlink(src)
                continue
            dst = os.path.join(dest_root, rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.replace(src, dst)
            # partitionValues from the hive path segments (Spark already
            # %-escapes specials in directory names; values recorded
            # unescaped, as the spec stores logical values)
            pvals = {}
            for seg in os.path.dirname(rel).split(os.sep):
                if "=" in seg:
                    k, _, raw = seg.partition("=")
                    pvals[k] = (
                        None
                        if raw == "__HIVE_DEFAULT_PARTITION__"
                        else urllib.parse.unquote(raw)
                    )
            rel_to_table = os.path.join(subdir, rel) if subdir else rel
            body = {
                # spec: relative path, URL-encoded
                "path": urllib.parse.quote(rel_to_table, safe="/="),
                "partitionValues": pvals,
                "size": os.path.getsize(dst),
                "dataChange": data_change,
            }
            if action == "add":
                body["modificationTime"] = now_ms
                body["stats"] = stats
                if stats is None:
                    pending_counts.append((len(actions), dst))
            actions.append({action: body})
    if pending_counts:
        spark = df.sparkSession
        # keyed by ABSOLUTE normalized path, never by basename: a
        # partitioned write reuses one task's part-file NAME across
        # every partition directory it writes, so basenames collide
        counts = {
            os.path.normpath(
                urllib.parse.unquote(
                    r["f"][len("file:"):]
                    if r["f"].startswith("file:")
                    else r["f"]
                )
            ): r["n"]
            for r in spark.read.parquet(
                *[p for _, p in pending_counts]
            )
            .groupBy(F.col("_metadata.file_path").alias("f"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        drop_idx = set()
        for i, dst in pending_counts:
            n = counts.get(os.path.normpath(os.path.abspath(dst)), 0)
            if drop_empty and n == 0:
                os.unlink(dst)
                drop_idx.add(i)
                continue
            actions[i][action]["stats"] = json.dumps(
                {
                    "numRecords": n,
                    "minValues": {},
                    "maxValues": {},
                    "nullCount": {},
                }
            )
        actions = [a for i, a in enumerate(actions) if i not in drop_idx]
    # empty staging tree (os.replace moved the files out)
    for root, dirs, files in os.walk(stage, topdown=False):
        for f in files:
            os.unlink(os.path.join(root, f))
        for d in dirs:
            os.rmdir(os.path.join(root, d))
    os.rmdir(stage)
    return actions


def write_delta(
    df: DataFrame,
    table: str,
    mode: str = "append",
    partition_by: Sequence[str] = (),
    max_retries: int = 20,
    txn: tuple[str, int] | None = None,
    merge_schema: bool = False,
    checkpoint_interval: int | None = None,
    column_mapping: str | None = None,
) -> int:
    """Write ``df`` to ``table`` in Delta format; returns the committed
    version.  ``mode``: 'append' or 'overwrite' (replaces the live file
    set).  Appends to an existing table must match its schema and
    partitioning exactly unless ``merge_schema=True``, which widens the
    table schema with the frame's NEW columns (Delta's mergeSchema: a
    fresh ``metaData`` action rides the same commit; pre-evolution data
    files surface the new columns as NULL via the explicit read schema).
    A same-name column with a DIFFERENT type is always a hard error —
    type changes are not evolution, they are corruption.

    Column mapping: ``column_mapping='name'|'id'`` CREATES the table
    mapped (every field annotated with ``delta.columnMapping.id`` /
    ``physicalName``, ``maxColumnId`` tracked in the table config,
    protocol reader 2 / writer 5 — what delta-spark declares for mapped
    tables).  Writes to an EXISTING mapped table are detected from its
    metaData automatically: data files and partition directories are
    written under PHYSICAL names, stats/partitionValues keys land
    physical, and ``merge_schema`` evolution allocates fresh ids past
    ``maxColumnId``.  id-mode files carry parquet field ids (top-level
    columns; nested id-mode writes are rejected loudly).  Overwrite on a
    mapped table requires the exact table schema — changing the schema
    of a mapped table on overwrite would need a re-mapping policy and is
    outside the implemented subset.

    ``checkpoint_interval=N`` applies the spec's periodic-checkpoint
    policy: after committing a version divisible by N, a classic
    checkpoint parquet is written so replay cost stays O(N + live files)
    no matter how many commits accumulate (Delta's own default is every
    10 commits).

    ``txn=(appId, version)`` records the spec's streaming-transaction
    action with the commit: a stream that crash-replays a microbatch
    checks :func:`last_txn_version` first and skips versions already
    committed — exactly-once appends without any engine-private state.
    Per spec, each appId has a single writer; the check-then-commit pair
    is not atomic across rogue concurrent same-appId writers."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    if column_mapping not in (None, "none", "name", "id"):
        raise ValueError(
            f"column_mapping must be name|id, got {column_mapping!r}"
        )
    partition_by = list(partition_by)
    schema_string = df.schema.json()

    existing = _list_versions(table)
    mapped_meta = None   # the mapped table's CURRENT metaData (pinned)
    staging_meta = None  # metaData whose physical layout we stage under
    ident: dict[str, dict] = {}
    identity_hwms: dict[str, int] = {}
    ident_persisted: list[DataFrame] = []
    if existing:
        protocol, meta, _, _ = _replay(table)
        # refuse before staging anything; _commit gates again on the
        # snapshot the write actually commits to
        _check_writer_protocol(
            protocol, meta, "write_delta",
            removes_data=(mode == "overwrite"),
        )
        tbl_map_mode = _mapping_mode(meta)
        if column_mapping not in (None, tbl_map_mode) and not (
            column_mapping == "none" and tbl_map_mode == "none"
        ):
            raise DeltaUnsupported(
                f"column_mapping={column_mapping!r} conflicts with the "
                f"table's mode {tbl_map_mode!r} (mapping mode is fixed "
                "at creation)"
            )
        if meta["partitionColumns"] != partition_by:
            raise DeltaUnsupported(
                f"partitioning mismatch: table has "
                f"{meta['partitionColumns']}, write asked {partition_by}"
            )
        tbl_schema = StructType.fromJson(json.loads(meta["schemaString"]))
        # generated columns: compute absent, validate provided (loud)
        df = _enforce_generated(df, meta, recompute=False)
        # identity columns: generate absent, sync explicit; the new
        # high-water mark joins the commit below
        ident = _identity_cols(meta["schemaString"])
        if ident:
            df, identity_hwms, ident_persisted = _apply_identity(
                df, ident, "write_delta"
            )
        # CHECK constraints + column invariants: first violating row
        # aborts loudly (after generated/identity fill so their columns
        # are populated for predicates that reference them)
        df = _enforce_row_predicates(df, meta, "write_delta")
        evolved_new_fields: list = []
        if mode == "append":
            # match by (name, type) — column ORDER and nullability are
            # not identity (a CONVERTed table's inferred schema lists
            # partition columns last); the frame is reordered to the
            # table schema so data files stay layout-uniform.
            tbl_types = {f.name: f.dataType for f in tbl_schema}
            df_types = {f.name: f.dataType for f in df.schema}
            conflicts = sorted(
                n for n, t in df_types.items()
                if n in tbl_types
                and _type_key(tbl_types[n]) != _type_key(t)
            )
            if conflicts:
                raise DeltaUnsupported(
                    f"append changes column types {conflicts} — type "
                    "changes are outside the implemented subset"
                )
            relaxed = _null_relaxed(
                json.loads(meta["schemaString"]),
                json.loads(df.schema.json()),
            )
            if relaxed:
                raise DeltaUnsupported(
                    f"append relaxes nullability at {relaxed} — the "
                    "table declares these non-nullable and this engine "
                    "does not validate rows against the declaration"
                )
            new_cols = [f for f in df.schema if f.name not in tbl_types]
            missing = [f for f in tbl_schema if f.name not in df_types]
            if (new_cols or missing) and not merge_schema:
                raise DeltaUnsupported(
                    "append schema differs from table schema (pass "
                    "merge_schema=True to evolve): "
                    f"table-only={sorted(f.name for f in missing)} "
                    f"df-only={sorted(f.name for f in new_cols)}"
                )
            if new_cols or missing:
                # evolved schema = table fields then new fields; the
                # frame is padded with typed NULLs for absent table
                # columns so every data file carries the full layout
                evolved = StructType(list(tbl_schema) + new_cols)
                df = df.select(
                    *[
                        F.col(f.name)
                        if f.name in df_types
                        else F.lit(None).cast(f.dataType).alias(f.name)
                        for f in evolved
                    ]
                )
                schema_string = df.schema.json()
                evolved_new_fields = new_cols
            else:
                df = df.select(*[f.name for f in tbl_schema])
                schema_string = meta["schemaString"]
        elif tbl_map_mode != "none":
            # overwrite on a mapped table: exact schema only (a schema
            # change would need a re-mapping policy)
            if {f.name: _type_key(f.dataType) for f in df.schema} != {
                f.name: _type_key(f.dataType) for f in tbl_schema
            }:
                raise DeltaUnsupported(
                    "overwrite with a changed schema on a column-mapped "
                    "table is outside the implemented subset"
                )
            df = df.select(*[f.name for f in tbl_schema])
        if tbl_map_mode != "none":
            mapped_meta = meta
            staging_meta = (
                _evolve_mapped_meta(meta, evolved_new_fields)
                if evolved_new_fields
                else meta
            )
    elif column_mapping in ("name", "id"):
        # new MAPPED table: annotate every field (depth-first ids, the
        # order delta assigns) and pin maxColumnId in the table config
        annotated, next_id = _annotate_mapping(
            json.loads(df.schema.json()), 1
        )
        staging_meta = {
            "id": uuid.uuid4().hex,
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(annotated),
            "partitionColumns": partition_by,
            "configuration": {
                "delta.columnMapping.mode": column_mapping,
                "delta.columnMapping.maxColumnId": str(next_id - 1),
            },
            "createdTime": int(time.time() * 1000),
        }

    if not existing:
        # creation: identity columns are declared via delta.identity.*
        # field metadata on the frame's schema (or the mapped staging
        # schema); explicit initial values gate on allowExplicitInsert,
        # an all-NULL declared column gets generated values, and the
        # initial high-water mark rides the creation commit
        ident = _identity_cols(
            (staging_meta or {}).get("schemaString", schema_string)
        )
        if ident:
            df, identity_hwms, ident_persisted = _apply_identity(
                df, ident, "write_delta"
            )
            if staging_meta is None:
                schema_string = df.schema.json()
        # invariants declared on the creation frame's schema bind from
        # the very first row
        df = _enforce_row_predicates(
            df,
            {
                "schemaString": (staging_meta or {}).get(
                    "schemaString", schema_string
                ),
                "configuration": (staging_meta or {}).get(
                    "configuration", {}
                ),
            },
            "write_delta",
        )

    if staging_meta is not None:
        m = _column_mapping(staging_meta)
        l2p = m[1] if m else {}
        stage_df = _to_physical(df, staging_meta)
        stage_pcols = [l2p.get(c, c) for c in partition_by]
    else:
        stage_df = df
        stage_pcols = partition_by

    # drop_empty: a small frame spread over many shuffle slices stages
    # zero-row part files; committing them as adds (numRecords 0, empty
    # min/max) leaves stats-less-looking files no pruner can ever skip
    # and every future MERGE would "touch" and rewrite (r11 verdict #2)
    adds = _stage_data_files(stage_df, table, stage_pcols, drop_empty=True)
    for _p in ident_persisted:  # staged: the assigned ids are on disk
        _p.unpersist()

    def attempt(snap: _Snapshot | None) -> _Actions:
        actions: list[dict] = []
        if txn is not None:
            actions.append(
                {
                    "txn": {
                        "appId": txn[0],
                        "version": txn[1],
                        "lastUpdated": int(time.time() * 1000),
                    }
                }
            )
        if snap is None:
            if staging_meta is not None:
                # mapped creation: reader 2 / writer 5, the legacy
                # column-mapping protocol delta-spark declares;
                # identity columns raise the writer to 6 (the legacy
                # ladder is cumulative, 6 ⊇ 5's columnMapping)
                actions.append(
                    {
                        "protocol": {
                            "minReaderVersion": 2,
                            "minWriterVersion": 6 if ident else 5,
                        }
                    }
                )
                actions.append({"metaData": staging_meta})
            else:
                # identity creation: legacy writer 6 declares the
                # obligation every future writer must meet
                actions.append(
                    {
                        "protocol": {
                            "minReaderVersion": 1,
                            "minWriterVersion": 6,
                        }
                    }
                    if ident
                    else {"protocol": dict(_PROTOCOL)}
                )
                actions.append(
                    {
                        "metaData": {
                            "id": uuid.uuid4().hex,
                            "format": {
                                "provider": "parquet",
                                "options": {},
                            },
                            "schemaString": schema_string,
                            "partitionColumns": partition_by,
                            "configuration": {},
                            "createdTime": int(time.time() * 1000),
                        }
                    }
                )
        elif staging_meta is not None and mapped_meta is None:
            # mapped CREATION lost the version-0 race: the staged files'
            # physicalNames exist only in OUR never-committed metaData —
            # committing them under the winner's metaData would make
            # every column read NULL (name-mode resolution is by
            # physical name).  Loud error, staged files discarded.
            raise DeltaConcurrentModification(
                "lost the mapped-table creation race — the staged "
                f"physical layout was never committed; retry: {table}"
            )
        elif mapped_meta is not None:
            # mapped tables: the staged files' physical layout is pinned
            # to the metaData read above — a concurrent schema/config
            # change would silently misalign physical names, so it is a
            # loud retry-the-write error, never a silent merge
            if snap.meta["schemaString"] != mapped_meta["schemaString"] or (
                (snap.meta.get("configuration") or {})
                != (mapped_meta.get("configuration") or {})
            ):
                raise DeltaUnsupported(
                    "column-mapped table changed concurrently — the "
                    "staged physical layout no longer matches; retry "
                    f"the write: {table}"
                )
            if staging_meta is not mapped_meta:  # evolution this write
                actions.append({"metaData": staging_meta})
        else:
            # metaData recomputed against the snapshot EVERY attempt: a
            # retry after a lost race must not commit a schema built
            # from a stale read — a concurrent writer may have evolved
            # the table, and clobbering its metaData would silently
            # orphan its columns (the frame's data files are
            # unaffected: absent columns read as NULL)
            now_schema = StructType.fromJson(
                json.loads(snap.meta["schemaString"])
            )
            now_types = {f.name: f.dataType for f in now_schema}
            conflicts = sorted(
                f.name for f in df.schema
                if f.name in now_types
                and _type_key(now_types[f.name]) != _type_key(f.dataType)
            )
            if conflicts:
                raise DeltaUnsupported(
                    f"write conflicts with the table's current column "
                    f"types {conflicts} (evolved concurrently?)"
                )
            if mode == "overwrite":
                target_struct = df.schema
            else:
                target_struct = StructType(
                    list(now_schema)
                    + [f for f in df.schema if f.name not in now_types]
                )
                if target_struct != now_schema and not merge_schema:
                    raise DeltaUnsupported(
                        "table schema evolved concurrently and this "
                        "append did not pass merge_schema=True"
                    )
            # STRUCTURAL comparison, never schemaString text: a foreign
            # writer's JSON formatting (spacing, key order) differs from
            # PySpark's serialization for the same schema, and a string
            # compare would demand merge_schema / commit a redundant
            # metaData action on every append to an interop table
            if target_struct != now_schema:
                actions.append(
                    {
                        "metaData": {
                            **snap.meta,
                            "schemaString": target_struct.json(),
                        }
                    }
                )
        if identity_hwms:
            # the consumed identity range must land as an updated
            # high-water mark in THIS commit's metaData.  Values were
            # generated from the snapshot read at entry: if another
            # writer advanced the mark since, our values may collide —
            # loud error (the caller re-runs and re-generates), never a
            # silent duplicate-id commit.
            if snap is not None:
                cur = _identity_cols(snap.meta["schemaString"])
                moved = sorted(
                    c
                    for c in identity_hwms
                    if (cur.get(c) or {}).get("hwm") != ident[c]["hwm"]
                )
                if moved:
                    raise DeltaConcurrentModification(
                        f"identity high-water mark of {moved} moved "
                        "concurrently — generated values could collide; "
                        f"retry the write: {table}"
                    )
            patched = False
            for a in actions:
                if "metaData" in a:
                    a["metaData"] = _patch_identity_hwm(
                        a["metaData"], identity_hwms
                    )
                    patched = True
            if not patched:
                actions.append(
                    {
                        "metaData": _patch_identity_hwm(
                            snap.meta, identity_hwms
                        )
                    }
                )
        if snap is not None and mode == "overwrite":
            # remove-set computed against the snapshot each attempt (a
            # lost race means someone else's files are now live)
            actions += _removes(snap.live)
        actions.extend(adds)
        return _Actions(
            actions,
            {
                "mode": mode.upper(),
                "partitionBy": json.dumps(partition_by),
            },
        )

    try:
        version = _commit(
            table, "WRITE", attempt, max_retries, name="write_delta",
            removes_data=(mode == "overwrite"), create=True,
        )
    except (DeltaConcurrentModification, DeltaUnsupported):
        _discard_staged(table, adds)  # refused or raced: committed nowhere
        raise
    # the spec's periodic checkpoint policy (delta defaults to every 10
    # commits): keeps log replay O(interval) for long-lived append
    # streams.  Skipping versions between interval marks is fine — the
    # NEWEST checkpoint wins.
    if checkpoint_interval and version > 0 and (
        version % checkpoint_interval == 0
    ):
        # the COMMIT above already succeeded: a checkpoint that cannot
        # be written (an unsupported foreign feature in the snapshot) is
        # skipped, never surfaced as a failure of the append itself
        try:
            write_checkpoint(table, version)
        except DeltaUnsupported:
            pass
    return version


def version_at_timestamp(table: str, timestamp_ms: int) -> int:
    """Delta ``timestampAsOf`` resolution: the latest version whose commit
    timestamp is <= the given epoch-millis.  A commit stamped with the
    spec's ``inCommitTimestamp`` resolves against THAT (the feature's
    whole point: file mtimes are corrupted by clock skew and log
    copies); otherwise commitInfo.timestamp, else the log file's
    mtime."""
    best = None
    for v in _list_versions(table):
        ts = None
        with open(_log_path(table, v)) as fh:
            for line in fh:
                if line.strip():
                    action = json.loads(line)
                    if "commitInfo" in action:
                        ci = action["commitInfo"]
                        ts = ci.get("inCommitTimestamp") or ci.get(
                            "timestamp"
                        )
                        break
        if ts is None:
            ts = int(os.path.getmtime(_log_path(table, v)) * 1000)
        if ts <= timestamp_ms:
            best = v
    if best is None:
        raise ValueError(
            f"no commit at or before {timestamp_ms} in {table}"
        )
    return best


_PRED_OPS = ("=", "<", "<=", ">", ">=")


def _coerce_for_compare(raw, literal):
    """Coerce a stats/partition value to the literal's comparison domain.
    Returns None when the coercion fails — callers treat that file as
    unprunable (skipping must never be load-bearing)."""
    import datetime

    try:
        if isinstance(literal, bool):
            return raw if isinstance(raw, bool) else str(raw) == "true"
        if isinstance(literal, datetime.datetime):
            # prune only when BOTH sides carry an explicit zone: Spark
            # interprets a NAIVE timestamp literal in the SESSION time
            # zone, and a naive footer stat (isAdjustedToUTC=false) has no
            # instant semantics at all — assuming UTC for either side can
            # prune a file whose rows Spark's filter would keep when the
            # session tz is not UTC.  Unprunable beats wrong.
            if literal.tzinfo is None:
                return None
            v = (
                datetime.datetime.fromisoformat(str(raw).replace(" ", "T"))
                if not isinstance(raw, datetime.datetime)
                else raw
            )
            if v.tzinfo is None:
                return None
            return v, literal
        if isinstance(literal, datetime.date):
            v = (
                datetime.date.fromisoformat(str(raw)[:10])
                if not isinstance(raw, datetime.date)
                else raw
            )
            return v, literal
        if isinstance(literal, (int, float)):
            # keep native numeric types: Python compares int vs float
            # EXACTLY (no precision loss above 2^53 — coercing a bigint
            # stat through float() would let a strict < / > wrongly
            # prune a file whose boundary row actually matches)
            if isinstance(raw, bool):
                return None
            if isinstance(raw, (int, float)):
                return raw, literal
            s = str(raw)
            try:
                return int(s), literal
            except ValueError:
                return float(s), literal
        if isinstance(literal, str):
            return str(raw), literal
    except (ValueError, TypeError):
        return None
    return None


def _file_may_match(add: dict, partition_cols: set[str],
                    predicate: Sequence[tuple],
                    float_cols: frozenset[str] = frozenset()) -> bool:
    """True unless the file's partitionValues/stats PROVE no row can
    satisfy every conjunct.  Absent or uncoercible stats keep the file —
    pruning is an I/O optimization, never a correctness dependency.

    ``float_cols`` — the table's float/double columns.  Spark orders NaN
    LARGER than every value, but footer min/max from NaN-ignoring parquet
    writers (parquet-cpp/pyarrow, reachable via CONVERT) silently exclude
    NaN — so for these columns the ops NaN can satisfy from above the
    recorded max ('>' and '>=') are never pruned, and a NaN literal (which
    Spark's ``=`` matches against NaN rows) is never pruned on.  '<', '<='
    and '=' with a non-NaN literal stay prunable: no NaN row satisfies
    them, so the NaN-blind min/max bound exactly the rows that could."""
    import math

    stats = json.loads(add.get("stats") or "{}") if add.get("stats") else {}
    mins = stats.get("minValues") or {}
    maxs = stats.get("maxValues") or {}
    nulls = stats.get("nullCount") or {}
    nrec = stats.get("numRecords")
    if nrec == 0:
        # a declared-empty file satisfies nothing — prunable regardless of
        # the predicate (legacy zero-row adds would otherwise be
        # stats-less and un-prunable forever, r11 verdict #2)
        return False

    for col, op, literal in predicate:
        if col in float_cols and (
            op in (">", ">=")
            or (isinstance(literal, float) and math.isnan(literal))
        ):
            continue  # NaN-as-largest can satisfy; stats cannot refute
        if col in partition_cols:
            raw = (add.get("partitionValues") or {}).get(col)
            if raw is None:
                return False  # NULL partition: comparison is never true
            pair = _coerce_for_compare(raw, literal)
            if pair is None:
                continue
            if isinstance(pair, bool):
                lo = hi = pair
                lit = literal
            else:
                lo = hi = pair[0]
                lit = pair[1]
        else:
            if nrec is not None and nulls.get(col) == nrec:
                return False  # every value NULL: never satisfies a compare
            if col not in mins or col not in maxs:
                continue
            lo_pair = _coerce_for_compare(mins[col], literal)
            hi_pair = _coerce_for_compare(maxs[col], literal)
            if lo_pair is None or hi_pair is None:
                continue
            if isinstance(lo_pair, bool):
                lo, hi, lit = lo_pair, hi_pair, literal
            else:
                lo, lit = lo_pair
                hi, _ = hi_pair
        if op == "=" and not (lo <= lit <= hi):
            return False
        if op == "<" and not (lo < lit):
            return False
        if op == "<=" and not (lo <= lit):
            return False
        if op == ">" and not (hi > lit):
            return False
        if op == ">=" and not (hi >= lit):
            return False
    return True


def _hive_consistent(adds: dict, pcols: Sequence[str]) -> bool:
    """True iff every live file's path encodes exactly its
    partitionValues as hive ``col=val`` segments — the layout where
    Spark's basePath reconstitution returns the log's values.  Foreign
    tables may use flat layouts (delta-spark with column mapping writes
    random prefixes, no hive dirs); for those, partition values must come
    from add.partitionValues per PROTOCOL.md — path-derived values would
    be silently NULL."""
    for rel, a in adds.items():
        pv = a.get("partitionValues") or {}
        segs: dict[str, str | None] = {}
        for seg in os.path.dirname(urllib.parse.unquote(rel)).split(os.sep):
            if "=" in seg:
                k, _, raw = seg.partition("=")
                segs[k] = (
                    None
                    if raw == "__HIVE_DEFAULT_PARTITION__"
                    else urllib.parse.unquote(raw)
                )
        for c in pcols:
            if c not in segs or segs[c] != pv.get(c):
                return False
    return True


def _add_file_path(table: str, rel_unquoted: str) -> str:
    """Absolute filesystem path of an action's (already URL-decoded)
    ``path``.  PROTOCOL.md: the field is a RELATIVE path within the
    table OR an ABSOLUTE path/URI — foreign SHALLOW CLONEs and some
    CONVERT flows commit absolute ``file:`` URIs pointing at another
    table's files.  ``file:`` URIs resolve to their filesystem path
    (empty/localhost authority only); any other scheme is outside the
    implemented subset and refuses loudly; plain paths keep today's
    join semantics (os.path.join passes an absolute second arg
    through)."""
    if rel_unquoted.startswith("file:"):
        tail = rel_unquoted[len("file:"):]
        if tail.startswith("//"):
            tail = tail[2:]
            slash = tail.find("/")
            host = tail[:slash] if slash >= 0 else tail
            if host not in ("", "localhost"):
                raise DeltaUnsupported(
                    f"add path {rel_unquoted!r} names remote host "
                    f"{host!r} — only local file: URIs are readable here"
                )
            tail = tail[slash:] if slash >= 0 else ""
        return tail
    if "://" in rel_unquoted:
        raise DeltaUnsupported(
            f"add path {rel_unquoted!r} uses a non-file scheme — "
            "outside the implemented subset"
        )
    return os.path.join(table, rel_unquoted)


def _uri_by_rel(
    fp_values, table: str, rels, require_all: bool = True
) -> dict[str, str]:
    """Map each unquoted relative path in ``rels`` to Spark's OWN
    ``_metadata.file_path`` URI rendering (collected by the caller from a
    distinct pass).  Hadoop URI-escapes paths (space -> %20, '%' ->
    %25, ...), so hand-building the URI would silently mismatch; an
    unexpected or missing file is a loud error, never a silent skip —
    EXCEPT a file whose parquet footer proves it holds zero rows, which
    legitimately surfaces nothing (foreign writers may commit empty adds,
    ADVICE r11 #5) and is simply absent from the returned map."""
    expected = {
        os.path.normpath(
            os.path.abspath(
                _add_file_path(table, urllib.parse.unquote(p))
            )
        ): urllib.parse.unquote(p)
        for p in rels
    }
    out: dict[str, str] = {}
    for uri in fp_values:
        fs = urllib.parse.unquote(
            uri[len("file:"):] if uri.startswith("file:") else uri
        )
        rel = expected.get(os.path.normpath(fs))
        if rel is None:
            raise ValueError(
                f"scan surfaced unexpected file {uri!r} — cannot anchor "
                "per-file state (deleted positions / partition values)"
            )
        out[rel] = uri
    missing = sorted(set(expected.values()) - set(out))
    if missing and require_all:
        import pyarrow.parquet as pq

        truly_missing = []
        for rel in missing:
            try:
                n = pq.ParquetFile(
                    _add_file_path(table, rel)
                ).metadata.num_rows
            except Exception:
                n = None
            if n != 0:
                truly_missing.append(rel)
        if truly_missing:
            raise ValueError(
                f"files never surfaced in the scan: {truly_missing[:3]} "
                "— per-file anchoring would be unsound"
            )
    return out


def _provably_empty(add: dict) -> bool:
    """True when the add's OWN stats declare zero rows — such a file
    contributes nothing to any scan and is dropped up front (foreign
    writers may commit them; this engine never does)."""
    st = add.get("stats")
    if not st:
        return False
    try:
        return json.loads(st).get("numRecords") == 0
    except (ValueError, TypeError):
        return False


def _scan_live(
    spark: SparkSession,
    table: str,
    meta: dict,
    adds: dict[str, dict],
    with_meta: bool = False,
    extra_fields: Sequence = (),
) -> DataFrame:
    """ONE distributed parquet scan over the given add-shaped actions
    (data files or cdc files), projected to the table's LOGICAL schema
    (plus ``extra_fields`` passed through verbatim — e.g. cdc's
    ``_change_type`` — and ``__fp``/``__ri`` metadata columns when
    ``with_meta``).  This is the single layout-handling seam shared by
    read_delta, MERGE, OPTIMIZE and CDF, so every consumer gets the same
    guarantees:

    - hive layouts reconstitute partition columns via basePath;
    - non-hive (flat foreign) layouts attach partition values FROM THE
      LOG per PROTOCOL.md via a broadcast join on Spark's own file_path
      (ADVICE r11 #1: a basePath read here would silently NULL them);
    - column-mapped tables scan under PHYSICAL names (id mode by parquet
      field id) and rename/cast back to logical;
    - adds whose stats declare numRecords == 0 are dropped up front."""
    from pyspark.sql.types import LongType, StringType, StructField

    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    extra_fields = list(extra_fields)
    mapping = _column_mapping(meta)
    if mapping:
        phys_schema, logical_to_phys = mapping
        scan_pcols = [
            logical_to_phys.get(c, c) for c in meta["partitionColumns"]
        ]
        if _mapping_mode(meta) == "id":
            # Session-wide by necessity: the flag must still be set when
            # the LAZY scan executes, so it cannot be saved/restored
            # around plan construction.  Scope of the leak (ADVICE r11
            # #3, documented): field-id resolution only changes for
            # parquet scans whose READ SCHEMA carries parquet.field.id
            # metadata — every non-mapped read in the session uses
            # schemas without it and is unaffected.
            spark.conf.set(
                "spark.sql.parquet.fieldId.read.enabled", "true"
            )
        read_schema = StructType(list(phys_schema) + extra_fields)
    else:
        logical_to_phys = {}
        scan_pcols = list(meta["partitionColumns"])
        read_schema = StructType(list(schema) + extra_fields)

    adds = {p: a for p, a in adds.items() if not _provably_empty(a)}
    meta_fields = [
        StructField("__fp", StringType()),
        StructField("__ri", LongType()),
    ]
    if not adds:
        empty = StructType(
            list(schema)
            + extra_fields
            + (meta_fields if with_meta else [])
        )
        return spark.createDataFrame([], empty)

    has_absolute = any(
        urllib.parse.unquote(p).startswith(("file:", "/"))
        for p in adds
    )
    hive_ok = not scan_pcols or (
        not has_absolute and _hive_consistent(adds, scan_pcols)
    )
    files = [
        _add_file_path(table, urllib.parse.unquote(p))
        for p in sorted(adds)
    ]
    meta_cols = [
        F.col("_metadata.file_path").alias("__fp"),
        F.col("_metadata.row_index").alias("__ri"),
    ]
    if hive_ok:
        reader = spark.read.schema(read_schema)
        if scan_pcols:
            reader = reader.option("basePath", table)
        df = reader.parquet(*files)
        if with_meta:
            df = df.select("*", *meta_cols)
    else:
        pset = set(scan_pcols)
        data_schema = StructType(
            [f for f in read_schema.fields if f.name not in pset]
        )
        df = spark.read.schema(data_schema).parquet(*files).select(
            "*", *meta_cols
        )
        fp_values = [
            r["__fp"] for r in df.select("__fp").distinct().collect()
        ]
        uri_map = _uri_by_rel(fp_values, table, adds)
        # footer-proven-empty files never surfaced: drop their adds
        adds = {
            p: a
            for p, a in adds.items()
            if urllib.parse.unquote(p) in uri_map
        }
        prows = [
            tuple(
                [uri_map[urllib.parse.unquote(rel)]]
                + [
                    (a.get("partitionValues") or {}).get(c)
                    for c in scan_pcols
                ]
            )
            for rel, a in adds.items()
        ]
        pschema = ", ".join(
            ["__fp string"] + [f"`{c}` string" for c in scan_pcols]
        )
        df = df.join(
            F.broadcast(spark.createDataFrame(prows, pschema)), "__fp"
        )
        # cast the stringly partition values to the physical types so
        # the logical projection below treats them like scanned cols
        for f in read_schema.fields:
            if f.name in pset:
                df = df.withColumn(f.name, F.col(f.name).cast(f.dataType))
        if not with_meta:
            df = df.drop("__fp", "__ri")
    cols = []
    for f in schema.fields:
        c = F.col(logical_to_phys.get(f.name, f.name))
        if mapping:
            # cast renames NESTED struct fields positionally back to
            # their logical names; top level via the alias
            c = c.cast(f.dataType)
        cols.append(c.alias(f.name))
    cols += [F.col(f.name) for f in extra_fields]
    if with_meta:
        cols += [F.col("__fp"), F.col("__ri")]
    return df.select(*cols)


def _read_live(
    spark: SparkSession,
    table: str,
    meta: dict,
    live: dict[str, dict],
    keep_meta: bool = False,
    extra_fields: Sequence = (),
) -> DataFrame:
    """The table's LOGICAL rows for a live file set: plain files in one
    scan; deletion-vector'd files in a second scan WITH the parquet row
    index, anti-joined against the distributed decoded deleted-position
    frame (work ∝ deleted rows, decode executor-side — the driver holds
    O(files), r11 verdict #5).  Shared by read_delta and every rewrite
    path (MERGE, OPTIMIZE), so a rewrite of a DV'd file always
    materializes rows-minus-DV and never resurrects deleted rows."""
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    dv_live = {p: a for p, a in live.items() if a.get("deletionVector")}
    plain_live = {p: a for p, a in live.items() if p not in dv_live}
    pieces: list[DataFrame] = []
    if plain_live:
        pieces.append(
            _scan_live(
                spark, table, meta, plain_live,
                with_meta=keep_meta, extra_fields=extra_fields,
            )
        )
    if dv_live:
        from zeta_etl_spark.sinks.delta_dv import dv_positions_df

        dv_scan = _scan_live(
            spark, table, meta, dv_live,
            with_meta=True, extra_fields=extra_fields,
        )
        # the join key is Spark's OWN _metadata.file_path rendering —
        # collected from a metadata-only pass over the DV'd files (the
        # small subset), never rebuilt in Python: Hadoop URI-escapes
        # paths (space -> %20, '%' -> %25, ...), and a hand-built
        # "file:" + abspath key silently matches NOTHING for such paths,
        # resurrecting every deleted row (r11 review finding #1).
        uri_by_rel = _uri_by_rel(
            [r["__fp"] for r in dv_scan.select("__fp").distinct().collect()],
            table,
            dv_live,
        )
        pos_df, declared = dv_positions_df(spark, dv_live, table, uri_by_rel)
        if declared <= 1_000_000:
            pos_df = F.broadcast(pos_df)
        filtered = dv_scan.join(pos_df, ["__fp", "__ri"], "left_anti")
        pieces.append(
            filtered if keep_meta else filtered.drop("__fp", "__ri")
        )
    if not pieces:
        from pyspark.sql.types import LongType, StringType, StructField

        empty = StructType(
            list(schema)
            + list(extra_fields)
            + (
                [
                    StructField("__fp", StringType()),
                    StructField("__ri", LongType()),
                ]
                if keep_meta
                else []
            )
        )
        return spark.createDataFrame([], empty)
    df = pieces[0]
    for p in pieces[1:]:
        df = df.unionByName(p)
    return df


def _to_physical(
    df: DataFrame, meta: dict, passthrough: Sequence[str] = ()
) -> DataFrame:
    """Project a LOGICAL frame to the table's PHYSICAL layout for
    staging: top-level columns renamed to physicalName (in id mode the
    alias carries ``parquet.field.id`` metadata so written files resolve
    by field id, as the spec requires), nested struct fields renamed
    positionally via cast.  ``passthrough`` columns (cdc's
    ``_change_type``) keep their name — the spec stores that column
    literally, unmapped.  No-op on unmapped tables."""
    mapping = _column_mapping(meta)
    if not mapping:
        return df
    mode = _mapping_mode(meta)
    schema_json = json.loads(meta["schemaString"])
    cols = []
    for f in schema_json["fields"]:
        md = f.get("metadata") or {}
        phys = md.get("delta.columnMapping.physicalName", f["name"])
        ptype = StructType.fromJson(
            {
                "type": "struct",
                "fields": [
                    {
                        "name": phys,
                        "type": _physical_type(f["type"]),
                        "nullable": f.get("nullable", True),
                        "metadata": {},
                    }
                ],
            }
        ).fields[0].dataType
        c = F.col(f["name"]).cast(ptype)
        if mode == "id":
            if isinstance(f["type"], dict):
                raise DeltaUnsupported(
                    f"writing nested column {f['name']!r} to an id-mode "
                    "column-mapped table is outside the implemented "
                    "subset (parquet field ids can only be attached to "
                    "top-level columns here)"
                )
            c = c.alias(
                phys,
                metadata={
                    "parquet.field.id": md["delta.columnMapping.id"]
                },
            )
        else:
            c = c.alias(phys)
        cols.append(c)
    cols += [F.col(n) for n in passthrough]
    return df.select(*cols)


def _type_key(dt) -> str:
    """Type identity modulo field METADATA and nullability at every
    nesting level: a mapped table's schemaString carries
    delta.columnMapping.* metadata on nested struct fields, which must
    never make struct<score:double> \\"conflict\\" with itself."""

    def _norm(j):
        if isinstance(j, dict):
            if j.get("type") == "struct":
                return {
                    "type": "struct",
                    "fields": [
                        {"name": f["name"], "type": _norm(f["type"])}
                        for f in j["fields"]
                    ],
                }
            if j.get("type") == "array":
                return {
                    "type": "array",
                    "elementType": _norm(j["elementType"]),
                }
            if j.get("type") == "map":
                return {
                    "type": "map",
                    "keyType": _norm(j["keyType"]),
                    "valueType": _norm(j["valueType"]),
                }
        return j
    return json.dumps(_norm(json.loads(dt.json())), sort_keys=True)


def _null_relaxed(table_type, frame_type) -> list[str]:
    """Field paths where the FRAME permits NULL but the TABLE's declared
    schema forbids it.  _type_key deliberately ignores nullability (a
    mapped table's metadata must not make types conflict with
    themselves), so this check restores the safety it dropped: writing a
    nullable frame into a non-nullable declaration could commit NULLs a
    foreign reader is entitled to assume away."""
    out: list[str] = []

    def _walk(tj, fj, path):
        if not (isinstance(tj, dict) and isinstance(fj, dict)):
            return
        if tj.get("type") == "struct" and fj.get("type") == "struct":
            ff = {f["name"]: f for f in fj["fields"]}
            for tf in tj["fields"]:
                sf = ff.get(tf["name"])
                if sf is None:
                    continue
                if not tf.get("nullable", True) and sf.get(
                    "nullable", True
                ):
                    out.append(path + tf["name"])
                _walk(tf["type"], sf["type"], path + tf["name"] + ".")
        elif tj.get("type") == "array" and fj.get("type") == "array":
            if not tj.get("containsNull", True) and fj.get(
                "containsNull", True
            ):
                out.append(path + "<element>")
            _walk(tj["elementType"], fj["elementType"], path + "[].")
        elif tj.get("type") == "map" and fj.get("type") == "map":
            if not tj.get("valueContainsNull", True) and fj.get(
                "valueContainsNull", True
            ):
                out.append(path + "<value>")
            _walk(tj["valueType"], fj["valueType"], path + "{}.")

    _walk(table_type, frame_type, "")
    return out


def _annotate_mapping(t, next_id: int):
    """Recursively annotate a schemaString type JSON with fresh
    ``delta.columnMapping.id`` / ``physicalName`` metadata (depth-first
    field numbering, the order delta assigns on table creation); returns
    (annotated type JSON, next unused id)."""
    if isinstance(t, dict):
        if t.get("type") == "struct":
            fields = []
            for f in t["fields"]:
                fid = next_id
                next_id += 1
                sub, next_id = _annotate_mapping(f["type"], next_id)
                fields.append(
                    {
                        **f,
                        "type": sub,
                        "metadata": {
                            **(f.get("metadata") or {}),
                            "delta.columnMapping.id": fid,
                            "delta.columnMapping.physicalName": (
                                f"col-{uuid.uuid4().hex[:12]}"
                            ),
                        },
                    }
                )
            return {"type": "struct", "fields": fields}, next_id
        if t.get("type") == "array":
            sub, next_id = _annotate_mapping(t["elementType"], next_id)
            return {**t, "elementType": sub}, next_id
        if t.get("type") == "map":
            kt, next_id = _annotate_mapping(t["keyType"], next_id)
            vt, next_id = _annotate_mapping(t["valueType"], next_id)
            return {**t, "keyType": kt, "valueType": vt}, next_id
    return t, next_id


def _evolve_mapped_meta(meta: dict, new_fields) -> dict:
    """Evolved metaData for a column-mapped table: the NEW fields (Spark
    StructField list) get fresh ids/physicalNames starting past the
    table's ``delta.columnMapping.maxColumnId``, which is bumped in the
    same action (the spec's bookkeeping for id allocation)."""
    cfg = dict(meta.get("configuration") or {})
    next_id = int(cfg.get("delta.columnMapping.maxColumnId", "0")) + 1
    schema_json = json.loads(meta["schemaString"])
    annotated = []
    for f in new_fields:
        fj, next_id = _annotate_mapping(
            {"type": "struct", "fields": [json.loads(f.json())]}, next_id
        )
        annotated.append(fj["fields"][0])
    cfg["delta.columnMapping.maxColumnId"] = str(next_id - 1)
    return {
        **meta,
        "schemaString": json.dumps(
            {
                "type": "struct",
                "fields": schema_json["fields"] + annotated,
            }
        ),
        "configuration": cfg,
    }


def read_delta(
    spark: SparkSession,
    table: str,
    version: int | None = None,
    timestamp_ms: int | None = None,
    predicate: Sequence[tuple] | None = None,
) -> DataFrame:
    """Snapshot (or time-travel) read.  One distributed parquet scan over
    the live file set with an EXPLICIT read schema (the table's
    ``schemaString``), so hive partition columns come back typed and
    pre-evolution files surface later-added columns as NULL.
    Time travel by ``version`` or ``timestamp_ms`` (mutually exclusive).

    ``predicate`` — a conjunction of ``(column, op, literal)`` with op in
    ``= < <= > >=`` — enables Delta data skipping: files whose
    partitionValues / per-file min-max stats prove no row can match are
    dropped from the scan BEFORE Spark sees them, and the same predicate
    is applied as a real filter, so the result is exactly
    ``read().filter(...)`` with less I/O.  At 100 TB this is the
    difference between scanning a table and scanning the handful of
    files a selective query touches.

    Layout/feature handling (column mapping, non-hive foreign layouts,
    deletion vectors) lives in :func:`_scan_live` / :func:`_read_live`,
    shared with MERGE and OPTIMIZE."""
    if version is not None and timestamp_ms is not None:
        raise ValueError("pass version OR timestamp_ms, not both")
    if timestamp_ms is not None:
        version = version_at_timestamp(table, timestamp_ms)
    _, meta, live, _ = _replay(table, version)
    schema = StructType.fromJson(json.loads(meta["schemaString"]))

    def _with_filters(df: DataFrame) -> DataFrame:
        # the predicate is ALSO applied as a real filter, so skipping is
        # purely an I/O optimization and never a correctness dependency
        return df.filter(_predicate_column(predicate)) if predicate else df

    if predicate:
        live = _prune_by_predicate(meta, live, predicate)
    if not live:
        return _with_filters(spark.createDataFrame([], schema))
    return _with_filters(_read_live(spark, table, meta, live))


def read_delta_row_ids(
    spark: SparkSession,
    table: str,
    version: int | None = None,
) -> DataFrame:
    """Snapshot read surfacing the spec's row-tracking metadata as two
    extra columns, ``row_id`` and ``row_commit_version`` (what
    delta-spark exposes via ``_metadata.row_id`` /
    ``_metadata.row_commit_version``): per PROTOCOL.md "Row Tracking",
    ``coalesce(materialized value, baseRowId + position)`` and
    ``coalesce(materialized value, defaultRowCommitVersion)``.  Requires
    the ``rowTracking`` writer feature; DV'd files surface their LIVE
    rows with their original positions (deleted positions are gone, ids
    keep their gaps — exactly the stability contract)."""
    protocol, meta, live, _ = _replay(table, version)
    feats = set((protocol or {}).get("writerFeatures") or [])
    if "rowTracking" not in feats:
        raise DeltaUnsupported(
            f"read_delta_row_ids: table {table!r} does not declare the "
            "rowTracking writer feature — rows have no ids"
        )
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    # honor DECLARED materialized columns even when stability is
    # currently off — a once-stable table's moved rows carry their ids
    # there, and base+position would silently re-derive different ones
    cfg = meta.get("configuration") or {}
    rid_c = (
        cfg.get("delta.rowTracking.materializedRowIdColumnName")
        or "__rt_mat_rid"
    )
    rcv_c = (
        cfg.get("delta.rowTracking.materializedRowCommitVersionColumnName")
        or "__rt_mat_rcv"
    )
    out_schema = StructType(
        list(schema)
        + [
            StructField("row_id", LongType()),
            StructField("row_commit_version", LongType()),
        ]
    )
    if not live:
        return spark.createDataFrame([], out_schema)
    scan = _read_live(
        spark, table, meta, live,
        keep_meta=True, extra_fields=_rt_fields((rid_c, rcv_c)),
    )
    return (
        _attach_row_ids(spark, scan, table, live, (rid_c, rcv_c))
        .withColumnRenamed(rid_c, "row_id")
        .withColumnRenamed(rcv_c, "row_commit_version")
        .select(*[f.name for f in out_schema.fields])
    )

_Z_TYPES = {"int", "bigint", "smallint", "tinyint", "float", "double",
            "date", "timestamp", "timestamp_ntz"}


def _zvalue_expr(df: DataFrame, zorder_by: Sequence[str]):
    """A true Z-curve value: each column is scaled to a bucket on its
    [min, max] range (two scalars collected driver-side — the same tiny
    agg every range partitioner does) and the buckets' bits are Morton-
    interleaved via the shared :func:`morton_code_sql_n` builder.  Pure JVM
    column arithmetic (whole-stage codegen), no UDF.  NULLs sort to
    bucket 0."""
    from zeta_etl_spark.operators.reshape import morton_code_sql_n

    types = {f.name: f.dataType.simpleString() for f in df.schema}

    def _numeric(col: str) -> str:
        # DATE / TIMESTAMP_NTZ reject a direct double cast; epoch-scale
        # conversions are monotone, which is all clustering needs
        t = types.get(col, "")
        if t == "date":
            return f"cast(unix_date(`{col}`) as double)"
        if t in ("timestamp", "timestamp_ntz"):
            return f"cast(unix_micros(cast(`{col}` as timestamp)) as double)"
        return f"cast(`{col}` as double)"

    k = len(zorder_by)
    bits = min(16, 62 // k)
    aggs = []
    for c in zorder_by:
        aggs += [
            F.expr(f"min({_numeric(c)})"),
            F.expr(f"max({_numeric(c)})"),
        ]
    row = df.agg(*aggs).first()
    top = float((1 << bits) - 1)

    def _scaled(col: str, lo, hi) -> str:
        if lo is None or hi is None or hi == lo:
            return "0"
        return (
            f"coalesce(least(greatest(cast(floor(({_numeric(col)} "
            f"- {lo!r}) / {hi - lo!r} * {top!r}) as bigint), 0), "
            f"{int(top)}), 0)"
        )

    code = morton_code_sql_n(
        [
            _scaled(zorder_by[i], row[2 * i], row[2 * i + 1])
            for i in range(k)
        ],
        bits,
    )
    return F.expr(code)


def _discard_staged(table: str, actions: list[dict]) -> None:
    """Unlink staged-but-uncommitted files (add or cdc actions — they are
    unreferenced; VACUUM would also collect them by age)."""
    for a in actions:
        body = a.get("add") or a.get("cdc")
        if body is None:
            continue
        staged = _add_file_path(
            table, urllib.parse.unquote(body["path"])
        )
        if os.path.exists(staged):
            os.unlink(staged)


def _removes(
    files: dict[str, dict], data_change: bool = True
) -> list[dict]:
    """One ``remove`` action per file (path -> its add action)."""
    ts = int(time.time() * 1000)
    return [
        {
            "remove": {
                "path": p,
                "deletionTimestamp": ts,
                "dataChange": data_change,
                "partitionValues": a.get("partitionValues"),
            }
        }
        for p, a in sorted(files.items())
    ]


def optimize(
    spark: SparkSession,
    table: str,
    zorder_by: Sequence[str] = (),
    target_file_rows: int = 4_000_000,
    max_retries: int = 5,
    where: dict[str, str] | None = None,
) -> int:
    """Delta OPTIMIZE: rewrite the current live file set into
    ~``ceil(rows / target_file_rows)`` bin-packed files, committing
    ``remove`` + ``add`` with ``dataChange: false`` — the snapshot's rows
    are untouched, so readers (and CDF consumers) see no data change,
    history and time travel keep working, and small-file pressure is
    gone.  With ``zorder_by`` (numeric/date/timestamp columns) the
    rewrite range-partitions and sorts on a bit-interleaved Z-value, so
    every output file covers a tight hyper-rectangle of the z-ordered
    space — per-file min/max stats become selective and
    :func:`read_delta`'s data skipping prunes hard on EVERY z-ordered
    column, not just the leading sort key.

    ``where={partition_col: value, ...}`` scopes the rewrite to the
    matching hive partitions (Delta's ``OPTIMIZE ... WHERE`` — partition
    predicates only): untouched partitions keep their files.

    OCC: the rewrite reads one pinned snapshot and commits directly on
    top of it; if another writer commits first, the staged files are
    discarded and the whole rewrite re-runs against the new snapshot (an
    OPTIMIZE must only remove files it actually read, with the deletion
    vectors it read).  Returns the committed version."""

    def attempt(snap: _Snapshot) -> _Actions | _Done:
        meta, live = snap.meta, snap.live
        mapping = _column_mapping(meta)
        l2p = mapping[1] if mapping else {}
        schema = StructType.fromJson(json.loads(meta["schemaString"]))
        types = {f.name: f.dataType.simpleString() for f in schema}

        def _zorderable(c: str) -> bool:
            return types.get(c) in _Z_TYPES or (
                types.get(c) or ""
            ).startswith("decimal(")

        zcols = list(zorder_by)
        if not zcols and "delta.clustering" in snap.domains:
            # clusteredTable (Liquid-clustered) tables declare their
            # clustering columns in the delta.clustering domain —
            # OPTIMIZE without explicit columns clusters on THOSE, the
            # feature's writer obligation.  The domain stores PHYSICAL
            # name paths on mapped tables; translate back to logical.
            cfg = json.loads(
                snap.domains["delta.clustering"].get("configuration")
                or "{}"
            )
            p2l = {p: l for l, p in l2p.items()}
            declared = [
                p2l.get(path[0] if isinstance(path, list) else path,
                        path[0] if isinstance(path, list) else path)
                for path in cfg.get("clusteringColumns", [])
            ]
            # clustering is a layout OPTIMIZATION, not a correctness
            # contract: columns outside the z-orderable types (strings)
            # are skipped rather than refused — rows are identical
            # either way, only skipping selectivity differs
            zcols = [c for c in declared if _zorderable(c)]
        if not live:
            return _Done(snap.version)
        bad = [c for c in zcols if not _zorderable(c)]
        if bad:
            raise DeltaUnsupported(
                f"zorder_by supports numeric/date/timestamp columns; "
                f"got {bad} of types {[types.get(c) for c in bad]}"
            )
        pcols = meta["partitionColumns"]
        if where:
            bad_keys = sorted(set(where) - set(pcols))
            if bad_keys:
                raise DeltaUnsupported(
                    f"OPTIMIZE where= takes partition columns only; "
                    f"{bad_keys} are not in partitionColumns {pcols}"
                )
            # values must be the hive-encoded STRINGS the log stores (or
            # None for the null partition): coercing with str() would
            # silently mismatch e.g. booleans ('True' vs 'true') and
            # make the whole OPTIMIZE a no-op
            bad_vals = sorted(
                k for k, v in where.items()
                if v is not None and not isinstance(v, str)
            )
            if bad_vals:
                raise DeltaUnsupported(
                    f"OPTIMIZE where= values must be the hive-encoded "
                    f"partition strings (or None); got non-strings for "
                    f"{bad_vals}"
                )
            # the log's partitionValues keys are PHYSICAL on mapped tables
            where_phys = {l2p.get(k, k): v for k, v in where.items()}
            live = {
                p: a
                for p, a in live.items()
                if all(
                    (a.get("partitionValues") or {}).get(k) == v
                    for k, v in where_phys.items()
                )
            }
            if not live:
                return _Done(snap.version)
        # logical rows; a DV'd file scans MINUS its deleted rows, so the
        # rewrite is materialize-minus-DV and the descriptor dies with
        # the removed file — rows are unchanged, dataChange stays False
        # (exactly Delta's PURGE semantics, r11 verdict #4)
        rt = _rt_materialized(meta)
        if rt:
            # stable row ids: every moved row carries its current id AND
            # its current commit version in the materialized columns —
            # OPTIMIZE changes neither (dataChange: false)
            df = _attach_row_ids(
                spark,
                _read_live(
                    spark, table, meta, live,
                    keep_meta=True, extra_fields=_rt_fields(rt),
                ),
                table, live, rt,
            ).drop("__fp", "__ri")
        else:
            df = _read_live(spark, table, meta, live)

        total = 0
        for a in live.values():
            st = a.get("stats")
            total += (json.loads(st).get("numRecords") or 0) if st else 0
            total -= (a.get("deletionVector") or {}).get("cardinality") or 0
        n_files = max(1, -(-total // target_file_rows)) if total > 0 else 1

        if zcols:
            # one column needs no interleave: a plain range sort IS the
            # optimal clustering for a single dimension
            zcol = (
                F.col(zcols[0])
                if len(zcols) == 1
                else _zvalue_expr(df, zcols)
            )
            keys = [F.col(c) for c in pcols] + [F.col("__z")]
            out = (
                df.withColumn("__z", zcol)
                .repartitionByRange(n_files, *keys)
                .sortWithinPartitions(*keys)
                .drop("__z")
            )
        elif pcols:
            # one task (=> one file) per hive partition value set
            out = df.repartition(n_files, *[F.col(c) for c in pcols])
        else:
            out = df.repartition(n_files)

        adds = _stage_data_files(
            _to_physical(out, meta, passthrough=rt or ()),
            table,
            [l2p.get(c, c) for c in pcols],
            data_change=False,
            drop_empty=True,
            stats_exclude=rt or (),
        )
        return _Actions(
            _removes(live, data_change=False) + adds,
            {
                "zOrderBy": json.dumps(zcols),
                "targetFileRows": target_file_rows,
                "where": json.dumps(where or {}),
            },
            staged=adds,
        )

    # dataChange:false removes are compaction, legal on appendOnly
    return _commit(table, "OPTIMIZE", attempt, max_retries, moves_rows=True)


_CHANGE_DATA_DIR = "_change_data"


def merge_delta(
    spark: SparkSession,
    table: str,
    source: DataFrame,
    on: Sequence[str],
    when_matched_update: str | dict[str, str] | None = None,
    update_condition: str | None = None,
    when_matched_delete: bool = False,
    delete_condition: str | None = None,
    when_not_matched_insert: str | dict[str, str] | None = None,
    insert_condition: str | None = None,
    schema_evolution: bool = False,
    write_cdf: bool = True,
    collect_metrics: bool = True,
    txn: tuple[str, int] | None = None,
    max_retries: int = 5,
) -> dict:
    """``MERGE INTO`` on a native-format Delta table — the missing half of
    the reference's CDC topology (apply_changes maintains DELTA targets,
    zetaflex-pipeline.py:146-151, zetadex-referrals-pipeline.py:147-152):
    upserts land as spec-true ``remove``+``add`` commits with
    ``dataChange: true``, so any conforming reader sees them, time travel
    and RESTORE keep working, and concurrent writers are serialized by the
    same put-if-absent OCC as every other commit.

    Clause semantics live in :mod:`zeta_etl_spark.operators.merge_kernel`
    (shared with the generation store's ``Pipeline.merge_into``): delete
    first, then update, matched-but-unclaimed rows copy through, unmatched
    source rows insert when a clause asks.  Duplicate source keys are
    rejected up front.  ``schema_evolution=True`` widens the table with
    source-only columns ('*' clauses only) via a ``metaData`` action in
    the same commit.

    Scale design — merge cost is proportional to TOUCHED data, not table
    size: the source's per-key min/max (one small agg) and, when every
    partition column is a join key, its distinct partition tuples prune
    the live file set through the SAME conservative stats machinery as
    read_delta's data skipping (missing/uncoercible stats keep a file;
    float keys respect NaN ordering).  Untouched files stay live — no
    remove, no rewrite, no I/O.  Soundness: a pruned file provably holds
    no matching key, so its rows could only ever be copied verbatim.
    One pass: the source is pinned once per merge and the join once per
    attempt when the cdc write reads it too; the clause counts ride the
    first action over the join and decide the zero-change gate.

    Change Data Feed (``write_cdf=True``): the merge also stages the
    spec's Change Data files under ``_change_data/`` (table layout,
    ``_change_type`` column: delete / update_preimage / update_postimage /
    insert) and commits ``cdc`` actions.  Per spec, a commit carrying cdc
    actions is read by CDF consumers FROM those files only — copied rows
    produce no change rows, unlike the add/remove derivation.

    OCC: read-modify-write with CAS on the snapshot version the merge
    read; a concurrent commit discards the staged files and re-runs the
    merge against the new snapshot (never lost updates).  ``txn=(appId,
    version)`` rides the commit for exactly-once streaming upserts —
    an already-committed version returns without re-merging.

    Returns {version, rows_deleted/updated/inserted/matched_copied,
    files_removed, files_added, files_pruned}."""
    from zeta_etl_spark.operators.merge_kernel import Pins

    # the source plan is read several times per merge (duplicate-key
    # guard, key-bounds agg, partition tuples, the join) and again per OCC
    # retry — pin it once; in the streaming upsert path the source is a
    # windowed dedup of the microbatch, so without this every merge pays
    # that shuffle ~5x (r11 review #4)
    with Pins() as pins:
        return _merge_delta_pinned(
            spark,
            table,
            pins.pin(source),
            list(on),
            when_matched_update,
            update_condition,
            when_matched_delete,
            delete_condition,
            when_not_matched_insert,
            insert_condition,
            schema_evolution,
            write_cdf,
            collect_metrics,
            txn,
            max_retries,
            pins,
        )


def _merge_delta_pinned(
    spark,
    table,
    source,
    on,
    when_matched_update,
    update_condition,
    when_matched_delete,
    delete_condition,
    when_not_matched_insert,
    insert_condition,
    schema_evolution,
    write_cdf,
    collect_metrics,
    txn,
    max_retries,
    pins,
) -> dict:
    from zeta_etl_spark.operators.merge_kernel import (
        build_merge_plan,
        reject_duplicate_source_keys,
    )

    reject_duplicate_source_keys(source, on)

    def attempt(snap: _Snapshot) -> _Actions | _Done:
        base_version, meta, live = snap.version, snap.meta, snap.live
        if txn is not None:
            seen = snap.txns.get(txn[0])
            if seen is not None and txn[1] <= seen:
                return _Done(
                    {"version": base_version, "skipped_replay": True}
                )

        schema = StructType.fromJson(json.loads(meta["schemaString"]))
        tbl_types = {f.name: f.dataType for f in schema.fields}
        pcols = list(meta["partitionColumns"])
        bad_keys = [
            k for k in on if k not in tbl_types or k not in source.columns
        ]
        if bad_keys:
            raise ValueError(
                f"merge_delta: key columns {bad_keys} must exist in both "
                f"the table ({sorted(tbl_types)}) and the source "
                f"({source.columns})"
            )
        conflicts = sorted(
            f.name
            for f in source.schema.fields
            if f.name in tbl_types
            and _type_key(tbl_types[f.name]) != _type_key(f.dataType)
        )
        if conflicts:
            raise DeltaUnsupported(
                f"merge_delta: source changes column types {conflicts} — "
                "type changes are outside the implemented subset"
            )
        relaxed = _null_relaxed(
            json.loads(meta["schemaString"]),
            json.loads(source.schema.json()),
        )
        if relaxed:
            raise DeltaUnsupported(
                f"merge_delta: source relaxes nullability at {relaxed} — "
                "the table declares these non-nullable and this engine "
                "does not validate rows against the declaration"
            )
        src_only = [
            f for f in source.schema.fields if f.name not in tbl_types
        ]
        star = when_matched_update == "*" or when_not_matched_insert == "*"
        if src_only and schema_evolution:
            if when_matched_update not in (None, "*") or (
                when_not_matched_insert not in (None, "*")
            ):
                raise ValueError(
                    "merge_delta: schema_evolution supports only '*' "
                    "update/insert clauses (dict clauses make the evolved "
                    "columns' values ambiguous)"
                )
            evolved_fields = list(src_only)
        elif src_only:
            if star:
                raise DeltaUnsupported(
                    "merge_delta: source has columns the table lacks "
                    f"({sorted(f.name for f in src_only)}); with '*' "
                    "clauses pass schema_evolution=True to widen the "
                    "table — with explicit dict clauses the extra "
                    "columns are expression inputs only (Delta's rule)"
                )
            evolved_fields = []  # dict clauses: inputs only, no widening
        else:
            evolved_fields = []
        new_cols = [f.name for f in evolved_fields]
        tfields = dict(tbl_types)
        tfields.update({f.name: f.dataType for f in evolved_fields})

        # ---- identity columns (writer v6 / identityColumns) ----
        # UPDATE clauses must never touch an identity value; inserts
        # either provide values explicitly (allowExplicitInsert, HWM
        # synced past the provided extreme) or get GENERATED values
        # pre-assigned on the source frame — every source row gets one,
        # matched rows simply never consume theirs (gaps are spec-legal,
        # exactly how Delta's per-partition allocation behaves).
        ident = _identity_cols(meta["schemaString"])
        identity_hwms: dict[str, int] = {}
        src_eff, wmu, wnmi = (
            source, when_matched_update, when_not_matched_insert
        )
        if ident:
            for col in ident:
                if (wmu == "*" and col in source.columns) or (
                    isinstance(wmu, dict) and col in wmu
                ):
                    raise DeltaUnsupported(
                        f"MERGE: updating identity column {col!r} is "
                        "outside the implemented subset — identity "
                        "values are assigned once"
                    )
            gen_cols = []
            for col, spec in ident.items():
                if wnmi is None:
                    continue
                covered = (
                    wnmi == "*" and col in source.columns
                ) or (isinstance(wnmi, dict) and col in wnmi)
                if not covered:
                    gen_cols.append(col)
                    continue
                if not spec["allow_explicit"]:
                    raise DeltaUnsupported(
                        f"MERGE: identity column {col!r} is GENERATED "
                        "ALWAYS (allowExplicitInsert is not true) — "
                        "omit it from the insert clause"
                    )
                val = (
                    F.col(col) if wnmi == "*" else F.expr(wnmi[col])
                )
                agg = source.alias("s").agg(
                    F.max(val).alias("mx"), F.min(val).alias("mn")
                ).first()
                extreme = agg["mx"] if spec["step"] > 0 else agg["mn"]
                if extreme is not None:
                    new_hwm = _identity_sync_hwm(spec, extreme)
                    if new_hwm is not None:
                        identity_hwms[col] = new_hwm
            if gen_cols:
                if wmu == "*":
                    # '*' update would need s.<identity col>, which the
                    # source lacks; the equivalent explicit clause over
                    # the source's own target columns preserves intent
                    # (identity excluded by construction)
                    wmu = {
                        c: f"s.{c}"
                        for c in source.columns
                        if c in tbl_types
                    }
                src_eff, gen_hwms, _ = _apply_identity(
                    src_eff,
                    {c: ident[c] for c in gen_cols},
                    "merge_delta",
                    materialize="checkpoint",
                )
                identity_hwms.update(gen_hwms)
                if isinstance(wnmi, dict):
                    wnmi = {
                        **wnmi,
                        **{c: f"s.{c}" for c in gen_cols},
                    }

        # ---- file pruning: which live files can hold a matching key? ----
        # stats/partitionValues keys in the log are PHYSICAL names on a
        # column-mapped table; predicates built from logical key columns
        # translate before they reach _file_may_match
        mapping = _column_mapping(meta)
        l2p = mapping[1] if mapping else {}
        phys_pcols = [l2p.get(c, c) for c in pcols]
        fcols = frozenset(
            l2p.get(n, n)
            for n, t in tbl_types.items()
            if t.simpleString() in ("float", "double")
        )
        aggs = [F.count(F.lit(1)).alias("__n")]
        for k in on:
            aggs += [F.min(k).alias(f"__min_{k}"), F.max(k).alias(f"__max_{k}")]
        bounds = source.agg(*aggs).first()
        range_pred: list[tuple] = []
        matchable = bounds["__n"] > 0
        for k in on:
            lo, hi = bounds[f"__min_{k}"], bounds[f"__max_{k}"]
            if lo is None or hi is None:
                # every source row has this key NULL: NULL never
                # equi-matches, so NO target row can match at all
                matchable = False
                break
            range_pred += [(l2p.get(k, k), ">=", lo), (l2p.get(k, k), "<=", hi)]

        # conjuncts on type-widened key columns never prune (old-file
        # stats are in the pre-widening rendering)
        merge_widened = _widened_cols(meta)
        range_pred = [
            t for t in range_pred if t[0] not in merge_widened
        ]
        tuples: list[tuple] | None = None
        if matchable and pcols and set(pcols) <= set(on):
            # driver-side list bounded by TOUCHED partition count, not rows
            # (same contract as the generation store's merge pruning)
            tuples = [
                tuple(r[c] for c in pcols)
                for r in source.select(*pcols).distinct().collect()
            ]
            tuples = [t for t in tuples if all(v is not None for v in t)]

        def _touchable(add: dict) -> bool:
            if not matchable:
                return False
            if not _file_may_match(add, set(phys_pcols), range_pred, fcols):
                return False
            if tuples is not None:
                return any(
                    _file_may_match(
                        add,
                        set(phys_pcols),
                        [(c, "=", v) for c, v in zip(phys_pcols, tup)],
                        fcols,
                    )
                    for tup in tuples
                )
            return True

        touched = {p: a for p, a in live.items() if _touchable(a)}

        # logical rows of the touched slice; a touched file carrying a
        # deletion vector scans MINUS its deleted rows, and the rewrite
        # below commits a clean (DV-free) add — exactly what any engine
        # does when it rewrites a DV'd file (r11 verdict #4)
        rt = _rt_materialized(meta)
        if touched:
            if rt:
                # stable row ids ride the clause matrix: the kernel
                # preserves them per Delta's rule (copied keep both,
                # updated keep id only, inserts allocate fresh)
                target_df = _attach_row_ids(
                    spark,
                    _read_live(
                        spark, table, meta, touched,
                        keep_meta=True, extra_fields=_rt_fields(rt),
                    ),
                    table, touched, rt,
                ).drop("__fp", "__ri")
            else:
                target_df = _read_live(spark, table, meta, touched)
        elif rt:
            target_df = spark.createDataFrame(
                [], StructType(list(schema) + _rt_fields(rt))
            )
        else:
            target_df = spark.createDataFrame([], schema)

        plan = build_merge_plan(
            target_df,
            src_eff,
            on,
            when_matched_update=wmu,
            update_condition=update_condition,
            when_matched_delete=when_matched_delete,
            delete_condition=delete_condition,
            when_not_matched_insert=wnmi,
            insert_condition=insert_condition,
            new_cols=new_cols,
            tfields=tfields,
            row_tracking=rt or (),
        )
        # the clause counts ride the first action over the join and decide
        # the zero-change gate below in every mode
        counts = plan.observe()
        if write_cdf:
            # the cdc write is the join's second consumer: evaluate it once
            # per attempt (the observation rides this action)
            plan.joined = pins.pin(plan.joined, eager=True)

        # staging uses the POST-evolution metaData so evolved columns get
        # mapping ids/physicalNames before any file is written
        if new_cols:
            if mapping:
                staging_meta = _evolve_mapped_meta(meta, evolved_fields)
            else:
                evolved = StructType(list(schema) + evolved_fields)
                staging_meta = {**meta, "schemaString": evolved.json()}
        else:
            staging_meta = meta

        def stage_adds() -> list[dict]:
            return _stage_data_files(
                _to_physical(
                    _enforce_row_predicates(
                        _enforce_generated(
                            plan.merged(), staging_meta, recompute=True
                        ),
                        staging_meta,
                        "MERGE",
                    ),
                    staging_meta,
                    passthrough=rt or (),
                ),
                table,
                phys_pcols,
                data_change=True,
                drop_empty=True,
                stats_exclude=rt or (),
            )

        # without cdc the data write is the join's only action and fills
        # the counts; with cdc they are known before any file is staged
        adds = [] if write_cdf else stage_adds()
        metrics = counts()
        # Zero-change gate, computed UNCONDITIONALLY (r11 verdict #1): a
        # merge whose clauses claimed no row must commit NOTHING — a
        # dataChange:true remove+add commit would make table_changes
        # fabricate delete+insert rows for every COPIED row of the
        # rewritten files.  The observed counts are the signal in every
        # mode — never the cdc staging side effect (the r11 bug:
        # write_cdf=False committed spurious rewrites).
        changed = (
            metrics["rows_deleted"]
            + metrics["rows_updated"]
            + metrics["rows_inserted"]
        ) > 0
        if not collect_metrics:
            metrics = {}
        if not changed:
            _discard_staged(table, adds)
            return _Done(
                {
                    "version": base_version,
                    "files_removed": 0,
                    "files_added": 0,
                    "files_pruned": len(live),
                    **metrics,
                }
            )
        cdc_actions: list[dict] = []
        if write_cdf:
            adds = stage_adds()
            cdc_actions = _stage_data_files(
                _to_physical(
                    _enforce_generated(
                        plan.changes(), staging_meta, recompute=True
                    ),
                    staging_meta,
                    passthrough=("_change_type",),
                ),
                table,
                phys_pcols,
                data_change=False,
                action="cdc",
                subdir=_CHANGE_DATA_DIR,
                drop_empty=True,
            )

        actions: list[dict] = []
        if txn is not None:
            actions.append(
                {
                    "txn": {
                        "appId": txn[0],
                        "version": txn[1],
                        "lastUpdated": int(time.time() * 1000),
                    }
                }
            )
        if identity_hwms:
            # the consumed/synced identity range rides THIS commit as an
            # updated high-water mark; values were generated from this
            # attempt's snapshot, so a lost commit race simply retries
            # the whole attempt with a fresh mark
            actions.append(
                {
                    "metaData": _patch_identity_hwm(
                        staging_meta, identity_hwms
                    )
                }
            )
        elif new_cols:
            actions.append({"metaData": staging_meta})
        actions += _removes(touched) + adds + cdc_actions
        return _Actions(
            actions,
            {
                "predicate": json.dumps(on),
                "matchedUpdate": when_matched_update is not None,
                "matchedDelete": when_matched_delete,
                "notMatchedInsert": when_not_matched_insert is not None,
            },
            staged=adds + cdc_actions,
            result=lambda v: {
                "version": v,
                "files_removed": len(touched),
                "files_added": len(adds),
                "files_pruned": len(live) - len(touched),
                **metrics,
            },
        )

    return _commit(
        table, "MERGE", attempt, max_retries,
        removes_data=True, moves_rows=True,
    )


def table_changes(
    spark: SparkSession,
    table: str,
    starting_version: int,
    ending_version: int | None = None,
) -> DataFrame:
    """Change Data Feed derived purely from the transaction log
    (Delta's ``table_changes(t, start, end)``): for every commit in
    ``[starting_version, ending_version]``, ``add`` actions with
    ``dataChange: true`` yield their rows as ``_change_type='insert'``
    and ``remove`` actions with ``dataChange: true`` yield the removed
    file's rows as ``_change_type='delete'``, each stamped with
    ``_commit_version`` and ``_commit_timestamp``.  OPTIMIZE commits
    (``dataChange: false``) produce NO changes — that is exactly what
    the spec's flag exists for.

    Commits carrying the spec's ``cdc`` actions (:func:`merge_delta`
    writes them) are read FROM their ``_change_data`` files instead —
    per spec, when a commit has cdc actions they are the commit's ONLY
    change representation, so MERGE's copied-through rows produce no
    change rows and updates surface as update_preimage/update_postimage
    pairs.  File-granularity commits without cdc actions (append,
    overwrite, RESTORE) keep the add/remove derivation, which is exact
    for them.  A required file already deleted by VACUUM is a loud
    error — CDF consumers must read within the retention window, same
    as Delta.

    Layout handling rides :func:`_scan_live`: column-mapped tables read
    under physical names and surface logical ones, and non-hive foreign
    layouts take partition values from the LOG — removes resolve them
    from the running pre-commit snapshot (their own add actions), never
    from the path.

    Deletion-vector commits (a re-add carrying a descriptor) derive
    row-level ``delete`` changes from the DV DELTA: the positions the
    new descriptor invalidates beyond the old one, read back from the
    unchanged data file by parquet row index.  A DV born with a file,
    a SHRINKING DV (un-delete), or a DV commit below a cleaned-up
    pre-range snapshot refuse loudly.

    One distributed scan per (commit, change-type) group — bounded by
    the version range a consumer asks for, never per-file unions."""
    from pyspark.sql.types import StringType, StructField

    all_versions = _list_versions(table)
    versions = [
        v for v in all_versions
        if v >= starting_version
        and (ending_version is None or v <= ending_version)
    ]
    if not versions:
        raise ValueError(
            f"no log commits in [{starting_version}, {ending_version}] "
            f"for {table} (cleaned up or never written)"
        )
    # a cleaned log must not silently swallow early commits: the range is
    # only readable if it starts at the table's first commit (version 0)
    # or at a version whose JSON still exists
    if versions[0] != starting_version and not (
        starting_version <= 0 and versions[0] == 0
    ):
        raise ValueError(
            f"commits {starting_version}..{versions[0] - 1} of {table} "
            "were cleaned up past a checkpoint — CDF cannot reconstruct "
            "them; take a full snapshot read instead"
        )
    _, meta, _, _ = _replay(table)
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    ct_field = StructField("_change_type", StringType())

    # removes carry no stats/partitionValues of their own (MERGE's do,
    # appends' don't): resolve each removed path's ORIGINAL add action
    # from a running pre-commit snapshot so non-hive layouts and stats
    # survive the derivation
    prev_live: dict[str, dict] | None = None
    if versions[0] > 0:
        try:
            _, _, prev_live, _ = _replay(table, versions[0] - 1)
        except (ValueError, DeltaUnsupported):
            prev_live = None  # pre-range history cleaned up: fall back
    else:
        prev_live = {}

    def _synthetic_add(rel: str, action_body: dict) -> dict:
        if prev_live is not None and rel in prev_live:
            return prev_live[rel]
        if action_body.get("partitionValues") is not None:
            return action_body
        # last resort: hive path segments (exactly what a basePath read
        # would reconstruct; correct for every layout this engine writes)
        pvals = {}
        for seg in os.path.dirname(
            urllib.parse.unquote(rel)
        ).split(os.sep):
            if "=" in seg:
                k, _, raw = seg.partition("=")
                pvals[k] = (
                    None
                    if raw == "__HIVE_DEFAULT_PARTITION__"
                    else urllib.parse.unquote(raw)
                )
        return {**action_body, "path": rel, "partitionValues": pvals}

    pieces: list[DataFrame] = []
    for v in versions:
        ts = None
        adds_v: dict[str, dict] = {}
        removes_v: list[str] = []
        groups: dict[str, dict[str, dict]] = {"insert": {}, "delete": {}}
        cdc_adds: dict[str, dict] = {}
        dv_readds: dict[str, dict] = {}
        with open(_log_path(table, v)) as fh:
            for line in fh:
                if not line.strip():
                    continue
                action = json.loads(line)
                if "commitInfo" in action:
                    ts = action["commitInfo"].get("timestamp")
                elif "cdc" in action:
                    cdc_adds[action["cdc"]["path"]] = action["cdc"]
                elif "add" in action:
                    a = action["add"]
                    adds_v[a["path"]] = a
                    if a.get("deletionVector"):
                        # a DV re-add changes rows via the DESCRIPTOR:
                        # its change rows derive from the DV delta below,
                        # never from the (unchanged) file contents
                        dv_readds[a["path"]] = a
                    elif a.get("dataChange"):
                        groups["insert"][a["path"]] = a
                elif "remove" in action:
                    r = action["remove"]
                    removes_v.append(r["path"])
                    if r.get("dataChange"):
                        groups["delete"][r["path"]] = _synthetic_add(
                            r["path"], r
                        )
        if cdc_adds:
            # spec: cdc actions are the commit's ONLY change representation
            for rel in cdc_adds:
                full = _add_file_path(table, urllib.parse.unquote(rel))
                if not os.path.exists(full):
                    raise FileNotFoundError(
                        f"CDF needs change file {rel!r} (version {v}) but "
                        "it was vacuumed — read changes within the "
                        "retention window"
                    )
            pieces.append(
                _scan_live(
                    spark, table, meta, cdc_adds,
                    extra_fields=[ct_field],
                )
                .withColumn("_commit_version", F.lit(v).cast("bigint"))
                .withColumn("_commit_timestamp", F.lit(ts).cast("bigint"))
            )
        elif dv_readds:
            # deletion-vector commit (delete_delta mode='dv', or a
            # foreign engine's DV DELETE): the row-level deletes are
            # EXACTLY the positions the new descriptor invalidates
            # beyond the old one.  The same-commit remove of the old
            # incarnation is bookkeeping, not a whole-file delete.
            from zeta_etl_spark.sinks.delta_dv import dv_positions_df

            if prev_live is None:
                raise DeltaUnsupported(
                    f"version {v} of {table} changes rows via a "
                    "deletion vector but the pre-range snapshot was "
                    "cleaned up — CDF cannot anchor the DV delta; take "
                    "a full snapshot read instead"
                )
            for p in dv_readds:
                groups["delete"].pop(p, None)
            for change_type, type_adds in groups.items():
                # a DV commit may still carry ordinary adds/removes
                # (e.g. a foreign UPDATE: DV on the old file + a new
                # file of updated rows) — those derive as usual
                for rel in type_adds:
                    full = os.path.join(
                        table, urllib.parse.unquote(rel)
                    )
                    if not os.path.exists(full):
                        raise FileNotFoundError(
                            f"CDF needs {rel!r} (changed at version {v}) "
                            "but it was vacuumed — read changes within "
                            "the retention window"
                        )
                if type_adds:
                    pieces.append(
                        # _read_live, not _scan_live: a removed file may carry a
                    # deletion vector (overwrite over a DV table) —
                    # its already-deleted rows are NOT changes
                    _read_live(spark, table, meta, type_adds)
                        .withColumn("_change_type", F.lit(change_type))
                        .withColumn(
                            "_commit_version", F.lit(v).cast("bigint")
                        )
                        .withColumn(
                            "_commit_timestamp", F.lit(ts).cast("bigint")
                        )
                    )
            for p, a in sorted(dv_readds.items()):
                old_add = prev_live.get(p)
                if old_add is None:
                    # a DV'd file RETURNING to the live set (RESTORE to a
                    # DV snapshot, or a foreign add born with a DV): its
                    # LIVE rows (minus the DV) are plain inserts
                    pieces.append(
                        _read_live(spark, table, meta, {p: a})
                        .withColumn("_change_type", F.lit("insert"))
                        .withColumn(
                            "_commit_version", F.lit(v).cast("bigint")
                        )
                        .withColumn(
                            "_commit_timestamp", F.lit(ts).cast("bigint")
                        )
                    )
                    continue
                # both descriptors decode EXECUTOR-side (the driver
                # never holds a positions list — mirror of the read
                # path); the delta is an anti-join of the two frames
                rel_key = {urllib.parse.unquote(p): "f"}
                new_pos, new_card = dv_positions_df(
                    spark, {p: a}, table, rel_key
                )
                new_pos = new_pos.select("__ri")
                if old_add.get("deletionVector"):
                    old_pos, _ = dv_positions_df(
                        spark, {p: old_add}, table, rel_key
                    )
                    old_pos = old_pos.select("__ri")
                    if not old_pos.join(
                        new_pos, "__ri", "left_anti"
                    ).isEmpty():
                        raise DeltaUnsupported(
                            f"version {v} of {table} SHRANK the deletion "
                            f"vector of {p!r} (un-delete) — outside the "
                            "derivable subset"
                        )
                    delta_pos = new_pos.join(
                        old_pos, "__ri", "left_anti"
                    )
                else:
                    delta_pos = new_pos
                if delta_pos.isEmpty():
                    continue
                clean = {k: x for k, x in a.items() if k != "deletionVector"}
                scan = _scan_live(
                    spark, table, meta, {p: clean}, with_meta=True
                )
                if new_card <= 1_000_000:
                    delta_pos = F.broadcast(delta_pos)
                pieces.append(
                    scan.join(delta_pos, "__ri")
                    .drop("__fp", "__ri")
                    .withColumn("_change_type", F.lit("delete"))
                    .withColumn("_commit_version", F.lit(v).cast("bigint"))
                    .withColumn(
                        "_commit_timestamp", F.lit(ts).cast("bigint")
                    )
                )
        else:
            for change_type, type_adds in groups.items():
                if not type_adds:
                    continue
                for rel in type_adds:
                    full = os.path.join(
                        table, urllib.parse.unquote(rel)
                    )
                    if not os.path.exists(full):
                        raise FileNotFoundError(
                            f"CDF needs {rel!r} (changed at version {v}) "
                            "but it was vacuumed — read changes within "
                            "the retention window"
                        )
                pieces.append(
                    # _read_live, not _scan_live: a removed file may carry a
                    # deletion vector (overwrite over a DV table) —
                    # its already-deleted rows are NOT changes
                    _read_live(spark, table, meta, type_adds)
                    .withColumn("_change_type", F.lit(change_type))
                    .withColumn("_commit_version", F.lit(v).cast("bigint"))
                    .withColumn(
                        "_commit_timestamp", F.lit(ts).cast("bigint")
                    )
                )
        # advance the running pre-commit snapshot — ALL removes, incl.
        # dataChange:false (OPTIMIZE) — with the same same-commit
        # re-add reconciliation as _replay
        if prev_live is not None:
            for p in removes_v:
                if p not in adds_v:
                    prev_live.pop(p, None)
            for p, a in adds_v.items():
                prev_live[p] = a
    if not pieces:
        df = spark.createDataFrame([], schema)
        return (
            df.withColumn("_change_type", F.lit(None).cast("string"))
            .withColumn("_commit_version", F.lit(None).cast("bigint"))
            .withColumn("_commit_timestamp", F.lit(None).cast("bigint"))
        )
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out


def _widened_cols(meta: dict) -> frozenset[str]:
    """PHYSICAL names of top-level columns that have been type-widened
    (``delta.typeChanges`` field metadata, PROTOCOL.md "Type Widening").
    Files written before a widening carry stats in the OLD type's
    rendering (an int where the schema now says decimal, a date string
    where it says timestamp_ntz), so stats-based skipping on these
    columns is conservatively disabled — absent stats are always safe,
    and the real filter still applies."""
    out = set()
    for f in json.loads(meta["schemaString"])["fields"]:
        md = f.get("metadata") or {}
        if md.get("delta.typeChanges"):
            out.add(
                md.get("delta.columnMapping.physicalName", f["name"])
            )
    return frozenset(out)


def _prune_by_predicate(meta: dict, live: dict, predicate) -> dict:
    """The candidate files a conjunctive predicate can touch, through the
    same conservative stats machinery as read_delta's skipping (keys
    translated to physical names on mapped tables).  Conjuncts on
    type-widened columns never prune (their old-file stats are in the
    pre-widening rendering)."""
    if not predicate:
        return dict(live)
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    mapping = _column_mapping(meta)
    l2p = mapping[1] if mapping else {}
    pcols = {l2p.get(c, c) for c in meta["partitionColumns"]}
    fcols = frozenset(
        l2p.get(f.name, f.name)
        for f in schema.fields
        if f.dataType.simpleString() in ("float", "double")
    )
    widened = _widened_cols(meta)
    phys_pred = [
        (l2p.get(c, c), op, lit)
        for c, op, lit in predicate
        if l2p.get(c, c) not in widened
    ]
    if not phys_pred:
        return dict(live)
    return {
        p: a
        for p, a in live.items()
        if _file_may_match(a, pcols, phys_pred, fcols)
    }


def _predicate_column(predicate) -> "F.Column":
    cond = F.lit(True)
    for col, op, lit in predicate:
        if op not in _PRED_OPS:
            raise ValueError(f"op must be one of {_PRED_OPS}: {op!r}")
        c = F.col(col)
        cond = cond & {
            "=": c == F.lit(lit),
            "<": c < F.lit(lit),
            "<=": c <= F.lit(lit),
            ">": c > F.lit(lit),
            ">=": c >= F.lit(lit),
        }[op]
    return cond


def delete_delta(
    spark: SparkSession,
    table: str,
    predicate: Sequence[tuple],
    mode: str = "rewrite",
    write_cdf: bool = True,
    max_retries: int = 5,
) -> dict:
    """Row-level ``DELETE FROM table WHERE ...`` on a native-format Delta
    table.  ``predicate`` is the same conjunction of ``(column, op,
    literal)`` as :func:`read_delta`; files it provably cannot touch are
    pruned through the stats machinery, and of the remaining candidates
    only files that actually CONTAIN a matching row are touched — a file
    whose stats overlap but whose rows all miss is never removed or
    rewritten.  SQL semantics: a row is deleted iff the predicate is
    TRUE — rows where it evaluates to NULL survive untouched.

    Two physical strategies, exactly the trade every modern engine makes:

    - ``mode='rewrite'`` (default): touched files are rewritten without
      the matching rows — a spec-true ``remove``+``add`` dataChange
      commit readable by ANY Delta reader (protocol untouched).  With
      ``write_cdf=True`` the deleted rows also land as ``cdc`` change
      files, so CDF consumers see row-level deletes instead of the
      whole-file derivation.
    - ``mode='dv'``: touched files are NOT rewritten; the matching rows'
      parquet indexes are serialized into a deletion vector (the
      portable RoaringBitmapArray, delta.io PROTOCOL.md) written as a
      spec-true ``deletion_vector_<uuid>.bin`` ('u' storage, Z85 uuid,
      ``<version byte><int32 BE size><data><int32 BE crc>`` framing) and
      each file is re-committed with its descriptor — I/O proportional
      to DELETED rows, not touched bytes.  A file that already carries a
      DV gets the UNION of old and new positions.  The commit upgrades
      the protocol to table features when needed, enumerating the
      features the previous legacy version implied (appendOnly /
      invariants / checkConstraints / changeDataFeed / generatedColumns
      / columnMapping by version) so no capability requirement is
      dropped; identity-column tables (v6) refuse — use rewrite mode.
      On a table with ``delta.enableChangeDataFeed=true`` the commit
      ALSO stages cdc delete files (the spec's writer obligation —
      foreign CDF consumers cannot derive changes from a descriptor).

    Scale notes: the dv path serializes per-file roaring bitmaps
    EXECUTOR-side (Arrow batch, one row per touched file) — the driver
    receives compressed bitmap BYTES, never the positions list; only a
    file that already carries a DV unions positions driver-side, bounded
    by that one file's total deletions.  Very large deletes still belong
    to rewrite mode.  Reads stay distributed either way.

    Returns {version, rows_deleted, files_touched, files_pruned,
    mode} (version = the pre-delete version when nothing matched —
    nothing is committed)."""
    if mode not in ("rewrite", "dv"):
        raise ValueError(f"mode must be rewrite|dv, got {mode!r}")
    predicate = list(predicate)
    if not predicate:
        raise ValueError(
            "delete_delta needs a non-empty predicate; to drop every "
            "row, overwrite with an empty frame"
        )
    params = {
        "predicate": json.dumps(
            [[c, op, str(lit)] for c, op, lit in predicate]
        ),
        "mode": mode,
    }

    def attempt(snap: _Snapshot) -> _Actions | _Done:
        protocol, meta, live = snap.protocol, snap.meta, snap.live
        mapping = _column_mapping(meta)
        l2p = mapping[1] if mapping else {}
        phys_pcols = [l2p.get(c, c) for c in meta["partitionColumns"]]
        candidates = _prune_by_predicate(meta, live, predicate)
        pruned = len(live) - len(candidates)
        cond = _predicate_column(predicate)
        is_hit = F.coalesce(cond, F.lit(False))  # NULL never deletes

        def _result(version: int, rows: int, files: int) -> dict:
            return {
                "version": version,
                "rows_deleted": rows,
                "files_touched": files,
                "files_pruned": pruned,
                "mode": mode,
            }

        no_op = _Done(_result(snap.version, 0, 0))
        if not candidates:
            return no_op
        # candidate rows with file identity; rows an existing DV already
        # deleted are dropped (they can never match again)
        rt = _rt_materialized(meta) if mode == "rewrite" else None
        scan = _read_live(
            spark, table, meta, candidates, keep_meta=True,
            extra_fields=_rt_fields(rt) if rt else (),
        ).persist()
        try:
            hit_fps = [
                r["__fp"]
                for r in scan.filter(is_hit)
                .select("__fp")
                .distinct()
                .collect()
            ]
            if not hit_fps:
                return no_op
            hit_rels = set(
                _uri_by_rel(
                    hit_fps, table, candidates, require_all=False
                )
            )
            touched = {
                p: a
                for p, a in candidates.items()
                if urllib.parse.unquote(p) in hit_rels
            }
            fps_df = F.broadcast(
                spark.createDataFrame(
                    [(u,) for u in hit_fps], "__fp string"
                )
            )
            base = scan.join(fps_df, "__fp")
            schema = StructType.fromJson(json.loads(meta["schemaString"]))
            data_cols = [f.name for f in schema.fields]
            deleted_rows = base.filter(is_hit).select(*data_cols)

            if mode == "rewrite":
                n_del = deleted_rows.count()
                if rt:
                    # survivors are COPIED rows: both the row id and the
                    # row commit version are preserved across the move
                    survivors = _attach_row_ids(
                        spark, base, table, touched, rt
                    ).filter(~is_hit).select(
                        *data_cols, *[F.col(f"`{c}`") for c in rt]
                    )
                else:
                    survivors = base.filter(~is_hit).select(*data_cols)
                adds = _stage_data_files(
                    _to_physical(
                        survivors, meta, passthrough=rt or ()
                    ),
                    table,
                    phys_pcols,
                    data_change=True,
                    drop_empty=True,
                    stats_exclude=rt or (),
                )
                cdc_actions: list[dict] = []
                if write_cdf:
                    cdc_actions = _stage_data_files(
                        _to_physical(
                            deleted_rows.withColumn(
                                "_change_type", F.lit("delete")
                            ),
                            meta,
                            passthrough=("_change_type",),
                        ),
                        table,
                        phys_pcols,
                        data_change=False,
                        action="cdc",
                        subdir=_CHANGE_DATA_DIR,
                        drop_empty=True,
                    )
                return _Actions(
                    _removes(touched) + adds + cdc_actions,
                    params,
                    staged=adds + cdc_actions,
                    result=lambda v: _result(v, n_del, len(touched)),
                )

            # ---- mode == 'dv' ----
            from zeta_etl_spark.sinks.delta_dv import z85_encode

            mwv = (protocol or {}).get("minWriterVersion", 2)
            mrv = (protocol or {}).get("minReaderVersion", 1)
            feats = set((protocol or {}).get("writerFeatures") or [])
            rfeats = set((protocol or {}).get("readerFeatures") or [])
            # per-file bitmaps serialize EXECUTOR-side (Arrow batch over
            # one row per touched file): the driver receives COMPRESSED
            # roaring bytes, never the positions list.  A file that
            # already carries a DV unions positions executor-side too —
            # its old descriptor rides the frame as JSON and the worker
            # decodes the old DV from shared storage (the scan already
            # proved it readable), so driver memory stays O(touched
            # files) regardless of per-file deletion cardinality.
            import pandas as pd
            from pyspark.sql.functions import pandas_udf

            uri_by_rel = _uri_by_rel(
                hit_fps, table, candidates, require_all=False
            )
            rel_by_uri = {uri: rel for rel, uri in uri_by_rel.items()}
            old_desc_rows = [
                (uri, json.dumps(candidates[rel_by_uri[uri]]
                                 .get("deletionVector")))
                for uri in hit_fps
                if candidates.get(rel_by_uri[uri], {}).get(
                    "deletionVector"
                )
            ]
            _tbl = table

            def _ser_union_fn(ris, old_json):
                from zeta_etl_spark.sinks.delta_dv import (
                    read_dv_rows,
                    serialize_dv_bitmap,
                )

                bms, cards = [], []
                for v, oj in zip(ris, old_json):
                    rows = {int(x) for x in v}
                    if oj is not None:
                        rows |= set(
                            read_dv_rows(json.loads(oj), _tbl)
                        )
                    srt = sorted(rows)
                    bms.append(serialize_dv_bitmap(srt))
                    cards.append(len(srt))
                return pd.DataFrame({"bm": bms, "card": cards})

            # real class objects, not `from __future__` string
            # annotations — pandas is imported locally, so string hints
            # would not resolve in this module's globals
            _ser_union_fn.__annotations__ = {
                "ris": pd.Series,
                "old_json": pd.Series,
                "return": pd.DataFrame,
            }
            _ser_union = pandas_udf(
                _ser_union_fn, "bm binary, card bigint"
            )

            grouped = (
                base.filter(is_hit)
                .groupBy("__fp")
                .agg(F.collect_list("__ri").alias("__ris"))
            )
            if old_desc_rows:
                grouped = grouped.join(
                    F.broadcast(
                        spark.createDataFrame(
                            old_desc_rows, "__fp string, __old string"
                        )
                    ),
                    "__fp",
                    "left",
                )
            else:
                grouped = grouped.withColumn(
                    "__old", F.lit(None).cast("string")
                )
            hit_rows = (
                grouped.select(
                    "__fp",
                    F.size("__ris").cast("bigint").alias("__n"),
                    _ser_union("__ris", "__old").alias("__s"),
                )
                .select("__fp", "__n", "__s.bm", "__s.card")
                .collect()
            )
            new_bitmaps: dict[str, tuple[bytes, int, int]] = {
                rel_by_uri[r["__fp"]]: (r["bm"], r["card"], r["__n"])
                for r in hit_rows
            }
            n_del = sum(n for _, _, n in new_bitmaps.values())

            # spec writer obligation: a CDF-enabled table gets cdc files
            # too — foreign consumers cannot derive changes from a
            # descriptor delta
            cdf_on = (meta.get("configuration") or {}).get(
                "delta.enableChangeDataFeed"
            ) == "true"
            cdc_actions = []
            if write_cdf and cdf_on:
                cdc_actions = _stage_data_files(
                    _to_physical(
                        deleted_rows.withColumn(
                            "_change_type", F.lit("delete")
                        ),
                        meta,
                        passthrough=("_change_type",),
                    ),
                    table,
                    phys_pcols,
                    data_change=False,
                    action="cdc",
                    subdir=_CHANGE_DATA_DIR,
                    drop_empty=True,
                )

            # one DV file carries every touched file's bitmap at an offset
            dv_uuid = uuid.uuid4()
            dv_name = f"deletion_vector_{dv_uuid}.bin"
            import struct as _struct
            import zlib as _zlib

            blob = bytearray(b"\x01")  # format version byte
            descriptors: dict[str, dict] = {}
            for rel_unq, (data, card, _n_new) in sorted(
                new_bitmaps.items()
            ):
                offset = len(blob)
                blob += _struct.pack(">i", len(data))
                blob += data
                # same BYTES as the reader's signed ">i" + mask round-trip
                blob += _struct.pack(">I", _zlib.crc32(data) & 0xFFFFFFFF)
                descriptors[rel_unq] = {
                    "storageType": "u",
                    "pathOrInlineDv": z85_encode(dv_uuid.bytes),
                    "offset": offset,
                    "sizeInBytes": len(data),
                    "cardinality": card,
                }
            dv_path = os.path.join(table, dv_name)
            with open(dv_path, "wb") as fh:
                fh.write(blob)

            actions: list[dict] = []
            if not (
                mwv == 7 and "deletionVectors" in feats
                and mrv == 3 and "deletionVectors" in rfeats
            ):
                # upgrade to table features, enumerating the implied
                # legacy features (see _feature_era_protocol)
                actions.append(
                    {
                        "protocol": _feature_era_protocol(
                            protocol, add_reader=("deletionVectors",)
                        )
                    }
                )
            # each touched file is re-committed with its new descriptor
            readds: dict[str, dict] = {}
            for rel_unq, desc in descriptors.items():
                quoted = urllib.parse.quote(rel_unq, safe="/=")
                add = candidates.get(quoted) or candidates[rel_unq]
                readds[add["path"]] = {
                    **add,
                    "dataChange": True,
                    "deletionVector": desc,
                }
            actions += _removes(readds)
            actions += [{"add": a} for _, a in sorted(readds.items())]
            return _Actions(
                actions + cdc_actions,
                params,
                staged=cdc_actions,
                staged_paths=[dv_path],
                result=lambda v: _result(v, n_del, len(descriptors)),
            )
        finally:
            scan.unpersist()

    return _commit(
        table, "DELETE", attempt, max_retries,
        removes_data=True, moves_rows=(mode == "rewrite"),
    )


def update_delta(
    spark: SparkSession,
    table: str,
    set_exprs: dict[str, str],
    predicate: Sequence[tuple],
    write_cdf: bool = True,
    max_retries: int = 5,
) -> dict:
    """Row-level ``UPDATE table SET col = expr, ... WHERE ...`` on a
    native-format Delta table — the third of the DML triad (MERGE,
    DELETE, UPDATE) on the same seams: ``predicate`` (the read_delta
    conjunction form) prunes untouched files through the stats
    machinery, and of the remaining candidates only files that actually
    CONTAIN a matching row are rewritten.  SQL semantics: a row updates
    iff the predicate is TRUE — rows where it evaluates to NULL are
    copied unchanged.  Touched files scan through :func:`_read_live`
    (deletion vectors honored, the rewrite drops them), matching rows
    re-project through ``set_exprs`` (SQL over the row's LOGICAL
    columns, cast back to the column's table type), and the commit is
    spec-true ``remove``+``add`` dataChange with cdc
    ``update_preimage`` / ``update_postimage`` files when ``write_cdf``.
    A predicate that matches nothing commits NOTHING.

    Returns {version, rows_updated, files_touched, files_pruned}."""
    predicate = list(predicate)
    if not predicate:
        raise ValueError(
            "update_delta needs a non-empty predicate; unconditional "
            "updates should state ('col', '>=', <domain min>) explicitly"
        )
    if not set_exprs:
        raise ValueError("update_delta needs at least one SET expression")

    def attempt(snap: _Snapshot) -> _Actions | _Done:
        meta, live = snap.meta, snap.live
        schema = StructType.fromJson(json.loads(meta["schemaString"]))
        tbl_types = {f.name: f.dataType for f in schema.fields}
        bad = sorted(set(set_exprs) - set(tbl_types))
        if bad:
            raise ValueError(
                f"update_delta: SET columns {bad} not in the table "
                f"schema {sorted(tbl_types)}"
            )
        pset = set(meta["partitionColumns"]) & set(set_exprs)
        if pset:
            # moving rows between partitions is a rewrite-with-
            # repartition policy this layer does not take silently
            raise DeltaUnsupported(
                f"update_delta: SET on partition columns {sorted(pset)} "
                "would move rows across partitions — overwrite or MERGE "
                "instead"
            )
        iset = set(_identity_cols(meta["schemaString"])) & set(set_exprs)
        if iset:
            # identity values are assigned once; rewriting them breaks
            # the uniqueness/alignment contract (Delta refuses too)
            raise DeltaUnsupported(
                f"update_delta: SET on identity columns {sorted(iset)} "
                "is outside the implemented subset"
            )
        mapping = _column_mapping(meta)
        l2p = mapping[1] if mapping else {}
        phys_pcols = [l2p.get(c, c) for c in meta["partitionColumns"]]
        candidates = _prune_by_predicate(meta, live, predicate)
        pruned = len(live) - len(candidates)

        def _result(version: int, rows: int, files: int) -> dict:
            return {
                "version": version,
                "rows_updated": rows,
                "files_touched": files,
                "files_pruned": pruned,
            }

        no_op = _Done(_result(snap.version, 0, 0))
        if not candidates:
            return no_op
        cond = _predicate_column(predicate)
        is_hit = F.coalesce(cond, F.lit(False))  # NULL never updates
        rt = _rt_materialized(meta)
        scan = _read_live(
            spark, table, meta, candidates, keep_meta=True,
            extra_fields=_rt_fields(rt) if rt else (),
        ).persist()
        try:
            hit_fps = [
                r["__fp"]
                for r in scan.filter(is_hit)
                .select("__fp")
                .distinct()
                .collect()
            ]
            if not hit_fps:
                return no_op
            hit_rels = set(
                _uri_by_rel(hit_fps, table, candidates, require_all=False)
            )
            touched = {
                p: a
                for p, a in candidates.items()
                if urllib.parse.unquote(p) in hit_rels
            }
            fps_df = F.broadcast(
                spark.createDataFrame(
                    [(u,) for u in hit_fps], "__fp string"
                )
            )
            base = scan.join(fps_df, "__fp")
            if rt:
                base = _attach_row_ids(spark, base, table, touched, rt)
            data_cols = [f.name for f in schema.fields]
            n_upd = base.filter(is_hit).count()
            updated_cols = [
                (
                    F.expr(set_exprs[f.name]).cast(f.dataType)
                    if f.name in set_exprs
                    else F.col(f.name)
                ).alias(f.name)
                for f in schema.fields
            ]
            if rt:
                # UPDATED rows keep their row id but take THIS commit's
                # version: NULL materialized rcv falls back to the new
                # add's defaultRowCommitVersion, assigned at the commit
                # choke point (the version is unknown pre-OCC).  COPIED
                # rows preserve both.
                rid_c, rcv_c = rt
                upd_rt = [
                    F.col(f"`{rid_c}`"),
                    F.lit(None).cast("long").alias(rcv_c),
                ]
                copy_rt = [F.col(f"`{c}`") for c in rt]
            else:
                upd_rt = copy_rt = []
            pre = base.filter(is_hit).select(*data_cols)
            post = _enforce_row_predicates(
                _enforce_generated(
                    base.filter(is_hit).select(*updated_cols, *upd_rt),
                    meta,
                    recompute=True,
                ),
                meta,
                "UPDATE",
            )
            merged = base.filter(~is_hit).select(
                *data_cols, *copy_rt
            ).unionByName(post)
            adds = _stage_data_files(
                _to_physical(merged, meta, passthrough=rt or ()),
                table,
                phys_pcols,
                data_change=True,
                drop_empty=True,
                stats_exclude=rt or (),
            )
            cdc_actions: list[dict] = []
            if write_cdf:
                changes = pre.withColumn(
                    "_change_type", F.lit("update_preimage")
                ).unionByName(
                    post.select(*data_cols).withColumn(
                        "_change_type", F.lit("update_postimage")
                    )
                )
                cdc_actions = _stage_data_files(
                    _to_physical(
                        changes, meta, passthrough=("_change_type",)
                    ),
                    table,
                    phys_pcols,
                    data_change=False,
                    action="cdc",
                    subdir=_CHANGE_DATA_DIR,
                    drop_empty=True,
                )
        finally:
            scan.unpersist()
        return _Actions(
            _removes(touched) + adds + cdc_actions,
            {
                "predicate": json.dumps(
                    [[c, op, str(lit)] for c, op, lit in predicate]
                ),
                "set": json.dumps(sorted(set_exprs)),
            },
            staged=adds + cdc_actions,
            result=lambda v: _result(v, n_upd, len(touched)),
        )

    return _commit(
        table, "UPDATE", attempt, max_retries,
        removes_data=True, moves_rows=True,
    )


def restore_table(table: str, version: int) -> int:
    """Delta ``RESTORE TABLE ... TO VERSION AS OF v``: a metadata-only
    commit that makes the CURRENT snapshot equal the snapshot at
    ``version`` — removes for files live now but not then, re-adds for
    files live then but not now (their original add actions, stats
    included), plus the old metaData when the schema changed since.  No
    data moves; restored files must still exist on disk (VACUUM past
    them makes the restore a loud error, exactly as in Delta).  History
    is preserved: the restore is a NEW version on top, computed against
    the snapshot it commits on."""

    def attempt(snap: _Snapshot) -> _Actions:
        _, meta_then, live_then, _ = _replay(table, version)
        actions: list[dict] = []
        if meta_then["schemaString"] != snap.meta["schemaString"]:
            actions.append({"metaData": meta_then})
        actions += _removes(
            {p: a for p, a in snap.live.items() if p not in live_then}
        )
        for p in sorted(set(live_then) - set(snap.live)):
            full = _add_file_path(table, urllib.parse.unquote(p))
            if not os.path.exists(full):
                raise FileNotFoundError(
                    f"RESTORE to {version} needs {p!r} but it was vacuumed"
                )
            actions.append({"add": {**live_then[p], "dataChange": True}})
        return _Actions(actions, {"version": version})

    # metadata-only, so it takes the metadata ops' retry budget
    return _commit(table, "RESTORE", attempt, 20, removes_data=True)


def commit_cursor(cursor_path: str, consumer_id: str, version: int) -> None:
    """Atomically record that ``consumer_id`` has durably processed
    everything up to ``version`` (tmp-write + rename; one JSON file can
    carry many consumers)."""
    state: dict[str, int] = {}
    if os.path.exists(cursor_path):
        with open(cursor_path) as fh:
            state = json.load(fh)
    state[consumer_id] = version
    tmp = cursor_path + f".tmp-{uuid.uuid4().hex}"
    os.makedirs(os.path.dirname(cursor_path) or ".", exist_ok=True)
    with open(tmp, "w") as fh:
        json.dump(state, fh)
    os.replace(tmp, cursor_path)


def read_delta_incremental(
    spark: SparkSession,
    table: str,
    cursor_path: str,
    consumer_id: str = "default",
    auto_commit: bool = True,
    mode: str = "appends",
) -> tuple[DataFrame | None, int]:
    """Delta-as-a-streaming-source at batch granularity: each call
    returns (new_rows, latest_version) where ``new_rows`` holds the rows
    INSERTED by commits after the consumer's cursor (None when caught
    up).  This is the availableNow contract of Delta's streaming source:
    a NEW consumer gets the INITIAL SNAPSHOT (the full current table —
    also the only correct start on a log-cleaned table, where CDF cannot
    reconstruct early commits); afterwards appends are consumed once per
    consumer, and a commit carrying deletes inside the consumed range
    (overwrite, row-level change) is a loud error — same as Delta's
    streaming source without ``skipChangeCommits``.

    ``mode='cdf'`` is the opt-in for consumers that WANT row-level
    changes (Delta's ``readChangeFeed``): the returned frame keeps the
    ``_change_type`` column (insert / delete / update_preimage /
    update_postimage — MERGE commits surface through their cdc files),
    and update/delete commits are delivered instead of rejected.  The
    initial snapshot arrives as ``_change_type='insert'``.

    Delivery semantics are the caller's choice:

    - ``auto_commit=True`` (default) advances the durable cursor inside
      this call — AT-MOST-ONCE if the caller can crash between this call
      and persisting its output (the returned DataFrame is lazy; a lost
      range is NOT re-delivered).  Fine for best-effort consumers.
    - ``auto_commit=False`` leaves the cursor untouched; the caller
      persists its output FIRST and then calls :func:`commit_cursor`
      with the returned version — at-least-once delivery, exactly-once
      when the caller's sink is idempotent (e.g.
      ``write_delta(txn=...)``)."""
    if mode not in ("appends", "cdf"):
        raise ValueError(f"mode must be appends|cdf, got {mode!r}")
    latest = latest_version(table)
    state: dict[str, int] = {}
    if os.path.exists(cursor_path):
        with open(cursor_path) as fh:
            state = json.load(fh)
    since = state.get(consumer_id, -1)
    if latest <= since:
        return None, latest
    if since < 0:
        # new consumer: INITIAL SNAPSHOT (Delta's streaming-source
        # bootstrap) — the full current table, then incremental.  This is
        # also the only correct start on a log-cleaned table, where CDF
        # cannot reconstruct the early commits.
        out = read_delta(spark, table, version=latest)
        if mode == "cdf":
            # column order matches the changes branch exactly
            # ([cols..., _change_type, _commit_version]) so consumers
            # that union batches positionally never swap fields
            out = out.withColumn(
                "_change_type", F.lit("insert")
            ).withColumn("_commit_version", F.lit(latest).cast("bigint"))
        else:
            out = out.withColumn(
                "_commit_version", F.lit(latest).cast("bigint")
            )
    else:
        changes = table_changes(spark, table, since + 1, latest)
        if mode == "cdf":
            out = changes.drop("_commit_timestamp")
        else:
            # a delete/update inside the consumed range means the table
            # was not append-only — refuse rather than silently emit
            # inserts (pass mode='cdf' to consume row-level changes)
            non_insert = changes.filter(F.col("_change_type") != "insert")
            if non_insert.limit(1).count() > 0:
                raise DeltaUnsupported(
                    f"commits {since + 1}..{latest} of {table} contain "
                    "deletes/updates; the appends-mode incremental reader "
                    "consumes append-only tables — pass mode='cdf' to "
                    "consume row-level changes"
                )
            out = changes.drop("_change_type", "_commit_timestamp")
    if auto_commit:
        commit_cursor(cursor_path, consumer_id, latest)
    return out, latest


def delta_stream_batches(
    spark: SparkSession,
    table: str,
    cursor_path: str,
    consumer_id: str = "default",
    max_files_per_trigger: int | None = None,
    mode: str = "appends",
):
    """The native-format twin of Delta's ``readStream`` source at
    micro-batch granularity: a generator of
    ``(batch_df, txn_version, cursor_version)`` covering everything
    after ``consumer_id``'s durable cursor, rate-limited
    maxFilesPerTrigger-style.

    - A NEW consumer gets the INITIAL SNAPSHOT (Delta's streaming
      bootstrap), split into ≤``max_files_per_trigger``-file batches in
      stable (sorted path) order.
    - Afterwards, commits group greedily so each batch's ADD-file count
      stays ≤ the limit (a single oversized commit still ships whole —
      commits are the atomicity grain).
    - ``mode='appends'`` refuses delete/update commits loudly (Delta's
      source without skipChangeCommits); ``mode='cdf'`` delivers
      row-level changes with ``_change_type``.

    Delivery contract (what makes crash replay exactly-once):
    ``txn_version`` is a strictly increasing long unique per batch
    (``commit_version * 2**20 + chunk``) — sinks pass it as
    ``write_delta(txn=(app_id, txn_version))`` and skip batches at or
    below :func:`last_txn_version`.  ``cursor_version`` is non-None only
    on the LAST batch of a source version — the caller advances the
    durable cursor (:func:`commit_cursor`) exactly then, so a crash
    mid-version re-delivers the whole version and the txn check drops
    the already-committed chunks.  The generator itself never writes.

    Scale: per-batch work is one distributed scan of the batch's files;
    driver state is the commit JSONs' action lists (bounded by the
    version range), exactly what any Delta streaming source holds."""
    if mode not in ("appends", "cdf"):
        raise ValueError(f"mode must be appends|cdf, got {mode!r}")
    _CHUNK = 1 << 20  # txn_version = commit_version * _CHUNK + chunk
    latest = latest_version(table)
    state: dict[str, int] = {}
    if os.path.exists(cursor_path):
        with open(cursor_path) as fh:
            state = json.load(fh)
    since = state.get(consumer_id, -1)
    if latest <= since:
        return
    if since < 0:
        # ---- initial snapshot, chunked by live-file count ----
        _, meta, live, _ = _replay(table, latest)
        rels = sorted(live)
        step = max_files_per_trigger or max(len(rels), 1)
        chunks = [
            {p: live[p] for p in rels[i : i + step]}
            for i in range(0, len(rels), step)
        ] or [{}]
        if len(chunks) >= _CHUNK:
            raise ValueError(
                f"snapshot of {table} needs {len(chunks)} batches at "
                f"max_files_per_trigger={max_files_per_trigger} — "
                "raise the limit (txn encoding holds 2**20 chunks per "
                "version)"
            )
        for ci, chunk in enumerate(chunks):
            if chunk:
                df = _read_live(spark, table, meta, chunk)
            else:
                df = spark.createDataFrame(
                    [],
                    StructType.fromJson(
                        json.loads(meta["schemaString"])
                    ),
                )
            df = df.withColumn(
                "_commit_version", F.lit(latest).cast("bigint")
            )
            if mode == "cdf":
                df = df.withColumn("_change_type", F.lit("insert"))
            yield (
                df,
                latest * _CHUNK + ci,
                latest if ci == len(chunks) - 1 else None,
            )
        return
    # ---- incremental tail, versions grouped by add-file count ----
    pending = [
        v for v in _list_versions(table) if since < v <= latest
    ]
    if pending and pending[0] != since + 1:
        raise ValueError(
            f"commits {since + 1}..{pending[0] - 1} of {table} were "
            "cleaned up past a checkpoint — the stream cannot resume; "
            "restart the consumer for a fresh snapshot"
        )
    n_adds: dict[int, int] = {}
    for v in pending:
        with open(_log_path(table, v)) as fh:
            n_adds[v] = sum(
                1
                for line in fh
                if line.strip() and "\"add\"" in line
                and json.loads(line).get("add") is not None
            )
    groups: list[list[int]] = []
    cur: list[int] = []
    cur_files = 0
    for v in pending:
        if cur and max_files_per_trigger and (
            cur_files + n_adds[v] > max_files_per_trigger
        ):
            groups.append(cur)
            cur, cur_files = [], 0
        cur.append(v)
        cur_files += n_adds[v]
    if cur:
        groups.append(cur)
    for grp in groups:
        changes = table_changes(spark, table, grp[0], grp[-1])
        if mode == "cdf":
            df = changes.drop("_commit_timestamp")
        else:
            non_insert = changes.filter(
                F.col("_change_type") != "insert"
            )
            if non_insert.limit(1).count() > 0:
                raise DeltaUnsupported(
                    f"commits {grp[0]}..{grp[-1]} of {table} contain "
                    "deletes/updates; the appends-mode stream consumes "
                    "append-only tables — pass mode='cdf' to consume "
                    "row-level changes"
                )
            df = changes.drop("_change_type", "_commit_timestamp")
        yield (df, grp[-1] * _CHUNK, grp[-1])


def delta_history(table: str) -> list[dict]:
    """commitInfo per version, newest first (DESCRIBE HISTORY shape)."""
    out = []
    for v in reversed(_list_versions(table)):
        with open(_log_path(table, v)) as fh:
            info = next(
                (
                    json.loads(line)["commitInfo"]
                    for line in fh
                    if line.strip() and "commitInfo" in json.loads(line)
                ),
                {},
            )
        out.append({"version": v, **info})
    return out


def latest_version(table: str) -> int:
    versions = _list_versions(table)
    checkpoints = _list_checkpoints(table)
    if not versions and not checkpoints:
        raise FileNotFoundError(f"not a Delta table: {table}")
    return max(versions[-1] if versions else -1,
               checkpoints[-1] if checkpoints else -1)


def _checkpoint_arrow_fields():
    """The spec action structs shared by classic checkpoints, v2 top
    files and v2 sidecars, as pyarrow fields keyed by action name."""
    import pyarrow as pa

    str_map = pa.map_(pa.string(), pa.string())
    return {
        "protocol": pa.field(
            "protocol",
            pa.struct(
                [
                    ("minReaderVersion", pa.int32()),
                    ("minWriterVersion", pa.int32()),
                    # table-features protocols REQUIRE the feature
                    # lists; dropping them would write a spec-invalid
                    # checkpoint and lose the declarations once
                    # cleanup_log deletes the JSON commits
                    ("readerFeatures", pa.list_(pa.string())),
                    ("writerFeatures", pa.list_(pa.string())),
                ]
            ),
        ),
        "metaData": pa.field(
            "metaData",
            pa.struct(
                [
                    ("id", pa.string()),
                    (
                        "format",
                        pa.struct(
                            [
                                ("provider", pa.string()),
                                ("options", str_map),
                            ]
                        ),
                    ),
                    ("schemaString", pa.string()),
                    ("partitionColumns", pa.list_(pa.string())),
                    ("configuration", str_map),
                    ("createdTime", pa.int64()),
                ]
            ),
        ),
        "add": pa.field(
            "add",
            pa.struct(
                [
                    ("path", pa.string()),
                    ("partitionValues", str_map),
                    ("size", pa.int64()),
                    ("modificationTime", pa.int64()),
                    ("dataChange", pa.bool_()),
                    ("stats", pa.string()),
                    # optional user/engine metadata on foreign adds
                    # (e.g. OPTIMIZE ZCUBE tags) survives too
                    ("tags", str_map),
                    # live deletion-vector descriptors survive the
                    # checkpoint (the spec's DeletionVectorDescriptor
                    # struct) — without this column, cleanup past the
                    # checkpoint would silently resurrect deleted rows
                    (
                        "deletionVector",
                        pa.struct(
                            [
                                ("storageType", pa.string()),
                                ("pathOrInlineDv", pa.string()),
                                ("offset", pa.int32()),
                                ("sizeInBytes", pa.int32()),
                                ("cardinality", pa.int64()),
                            ]
                        ),
                    ),
                    # rowTracking per-file fields: dropping them in a
                    # checkpoint would orphan every row id once
                    # cleanup_log deletes the JSON tail
                    ("baseRowId", pa.int64()),
                    ("defaultRowCommitVersion", pa.int64()),
                ]
            ),
        ),
        # remove tombstones are vacuum bookkeeping a reader must ignore;
        # this engine's VACUUM discovers dead files by directory walk,
        # so the column is carried (spec sidecar schema) but all-null
        "remove": pa.field(
            "remove",
            pa.struct(
                [
                    ("path", pa.string()),
                    ("deletionTimestamp", pa.int64()),
                    ("dataChange", pa.bool_()),
                    ("partitionValues", str_map),
                ]
            ),
        ),
        "txn": pa.field(
            "txn",
            pa.struct(
                [
                    ("appId", pa.string()),
                    ("version", pa.int64()),
                    ("lastUpdated", pa.int64()),
                ]
            ),
        ),
        # table-features domainMetadata: configuration is an opaque
        # JSON STRING owned by the writing engine (e.g. delta.clustering)
        "domainMetadata": pa.field(
            "domainMetadata",
            pa.struct(
                [
                    ("domain", pa.string()),
                    ("configuration", pa.string()),
                    ("removed", pa.bool_()),
                ]
            ),
        ),
        # v2 only: the top file's self-description...
        "checkpointMetadata": pa.field(
            "checkpointMetadata",
            pa.struct([("version", pa.int64()), ("tags", str_map)]),
        ),
        # ...and its pointers to the file-action sidecars
        "sidecar": pa.field(
            "sidecar",
            pa.struct(
                [
                    ("path", pa.string()),
                    ("sizeInBytes", pa.int64()),
                    ("modificationTime", pa.int64()),
                    ("tags", str_map),
                ]
            ),
        ),
    }


def enable_v2_checkpoints(table: str, max_retries: int = 20) -> int:
    """Commit the protocol upgrade that adds the ``v2Checkpoint``
    readerWriter feature (reader 3 / writer 7, implied legacy features
    enumerated — delta.io PROTOCOL.md "V2 Spec Checkpoints": a writer
    may only write v2 checkpoints to a table whose protocol declares the
    feature).  No-op returning the current version when already
    enabled."""

    def enabled(snap: _Snapshot) -> bool:
        return snap.protocol.get("minReaderVersion") == 3 and (
            "v2Checkpoint" in (snap.protocol.get("readerFeatures") or [])
        )

    return _commit(
        table,
        "UPGRADE PROTOCOL",
        lambda snap: _Actions(
            [
                {
                    "protocol": _feature_era_protocol(
                        snap.protocol, add_reader=("v2Checkpoint",)
                    )
                }
            ],
            {"feature": "v2Checkpoint"},
        ),
        max_retries,
        name="enable_v2_checkpoints",
        noop=enabled,
    )


def enable_in_commit_timestamps(table: str, max_retries: int = 20) -> int:
    """Commit the config + protocol upgrade that turns on the spec's
    In-Commit Timestamps: ``delta.enableInCommitTimestamps=true``, the
    two enablement-provenance keys (version + the enablement commit's
    own inCommitTimestamp), and the ``inCommitTimestamp`` WRITER feature
    (writer-only: minWriterVersion 7, reader version untouched).  From
    this commit on, every commit carries a monotonic stamp
    (:func:`_stamp_in_commit_timestamp`) and timestamp time travel
    resolves against it.  No-op returning the current version when
    already enabled."""

    def attempt(snap: _Snapshot) -> _Actions:
        ict = int(time.time() * 1000)
        new_meta = {
            **snap.meta,
            "configuration": {
                **(snap.meta.get("configuration") or {}),
                "delta.enableInCommitTimestamps": "true",
                # spec provenance: WHERE the feature turned on — readers
                # fall back to mtimes strictly below this version
                "delta.inCommitTimestampEnablementVersion": str(
                    snap.version + 1
                ),
                "delta.inCommitTimestampEnablementTimestamp": str(ict),
            },
        }
        return _Actions(
            [
                {
                    "protocol": _feature_era_protocol(
                        snap.protocol, add_writer=("inCommitTimestamp",)
                    )
                },
                {"metaData": new_meta},
            ],
            {"feature": "inCommitTimestamp"},
            # pre-stamped so the enablement commit's stamp EQUALS the
            # provenance config, per spec
            info={"inCommitTimestamp": ict},
        )

    return _commit(
        table,
        "UPGRADE PROTOCOL",
        attempt,
        max_retries,
        name="enable_in_commit_timestamps",
        noop=lambda snap: (snap.meta.get("configuration") or {}).get(
            "delta.enableInCommitTimestamps"
        ) == "true",
    )


def enable_row_tracking(
    table: str, stable: bool = True, max_retries: int = 20
) -> int:
    """Commit the protocol + config upgrade + BACKFILL that turns on
    Row Tracking (delta.io PROTOCOL.md "Row Tracking") on an existing
    table, in one commit:

    - the ``rowTracking`` + ``domainMetadata`` writer features
      (writer-only: minWriterVersion 7, reader untouched);
    - generated materialized column names
      (``delta.rowTracking.materializedRowIdColumnName`` /
      ``...RowCommitVersionColumnName``) so rewrites can preserve ids
      from day one (kept if already declared);
    - ``delta.enableRowTracking=true`` when ``stable`` — the stability
      PROMISE, legal in the same commit because the backfill below
      leaves no file without ids;
    - a backfill: every live add lacking a ``baseRowId`` is
      re-committed unchanged (``dataChange: false``, DV descriptors and
      stats preserved) and the commit choke point
      (:func:`_assign_row_ids`) allocates its range — backfilled rows'
      row commit version is this commit's, the only version at which
      they verifiably exist with ids.

    No-op returning the current version when the feature, the names and
    (if asked) the flag are all already in place."""

    rid_key = "delta.rowTracking.materializedRowIdColumnName"
    rcv_key = "delta.rowTracking.materializedRowCommitVersionColumnName"

    def _backfill(snap: _Snapshot) -> dict[str, dict]:
        return {
            p: a for p, a in snap.live.items() if a.get("baseRowId") is None
        }

    def in_place(snap: _Snapshot) -> bool:
        cfg = snap.meta.get("configuration") or {}
        feats = (snap.protocol or {}).get("writerFeatures") or []
        return bool(
            "rowTracking" in feats
            and cfg.get(rid_key)
            and cfg.get(rcv_key)
            and (cfg.get("delta.enableRowTracking") == "true" or not stable)
            and not _backfill(snap)
        )

    def attempt(snap: _Snapshot) -> _Actions:
        cfg = dict(snap.meta.get("configuration") or {})
        suffix = uuid.uuid4().hex[:12]
        cfg.setdefault(rid_key, f"_row-id-col-{suffix}")
        cfg.setdefault(rcv_key, f"_row-commit-version-col-{suffix}")
        if stable:
            cfg["delta.enableRowTracking"] = "true"
        backfill = _backfill(snap)
        return _Actions(
            [
                {
                    "protocol": _feature_era_protocol(
                        snap.protocol,
                        add_writer=("rowTracking", "domainMetadata"),
                    )
                },
                {"metaData": {**snap.meta, "configuration": cfg}},
                # the re-add carries the add dict VERBATIM (stats,
                # descriptor, partitionValues) — only the missing ids are
                # filled at the commit choke point
                *(
                    {"add": {**a, "dataChange": False}}
                    for _, a in sorted(backfill.items())
                ),
            ],
            {"feature": "rowTracking", "backfillFiles": len(backfill)},
        )

    return _commit(
        table, "UPGRADE PROTOCOL", attempt, max_retries,
        name="enable_row_tracking", noop=in_place,
    )


# Type Widening (PROTOCOL.md): the lattice of allowed conversions, keyed
# on schema-JSON type names.  Integer -> decimal needs enough integral
# digits for the source's full range; decimal -> decimal may grow scale
# only when the integral part grows at least as much.
_WIDEN_CHAINS = {
    "byte": {"short", "integer", "long", "double"},
    "short": {"integer", "long", "double"},
    "integer": {"long", "double"},
    "float": {"double"},
    "date": {"timestamp_ntz"},
}
_WIDEN_INT_DIGITS = {"byte": 3, "short": 5, "integer": 10, "long": 20}
# user-facing aliases (Spark simpleString) -> schema-JSON names
_TYPE_JSON_NAMES = {
    "tinyint": "byte", "smallint": "short", "int": "integer",
    "bigint": "long",
}


def _widening_ok(frm: str, to: str) -> bool:
    if to in _WIDEN_CHAINS.get(frm, ()):
        return True
    mdec = re.fullmatch(r"decimal\((\d+),(\d+)\)", to)
    if mdec:
        p2, s2 = int(mdec.group(1)), int(mdec.group(2))
        mfrm = re.fullmatch(r"decimal\((\d+),(\d+)\)", frm)
        if mfrm:
            p1, s1 = int(mfrm.group(1)), int(mfrm.group(2))
            return (
                s2 >= s1 and p2 - s2 >= p1 - s1 and (p2, s2) != (p1, s1)
            )
        if frm in _WIDEN_INT_DIGITS:
            return p2 - s2 >= _WIDEN_INT_DIGITS[frm]
    return False


def widen_column_type(
    table: str, column: str, new_type: str, max_retries: int = 20
) -> int:
    """``ALTER TABLE ... ALTER COLUMN ... TYPE <wider>`` — Type Widening
    per delta.io PROTOCOL.md: a METADATA-ONLY commit that replaces the
    column's type with a wider one from the spec's lattice, records the
    change in the field's ``delta.typeChanges`` metadata, and upgrades
    the protocol with the ``typeWidening`` readerWriter feature.  No
    file is rewritten — old files keep the narrow physical type and
    every reader upcasts through the explicit (current) read schema;
    stats skipping on the column is disabled from here on (old stats
    are in the pre-widening rendering).

    Refused loudly: nested fields, partition columns (their values cast
    from hive path strings), identity columns (long by spec), generated
    columns and columns a generation expression references (widening
    changes the expression's arithmetic), and any conversion outside
    the lattice.  Returns the committed version."""
    new_type = _TYPE_JSON_NAMES.get(new_type, new_type)

    def attempt(snap: _Snapshot) -> _Actions | _Done:
        meta = snap.meta
        if column in meta["partitionColumns"]:
            raise DeltaUnsupported(
                f"widen_column_type: {column!r} is a partition column — "
                "partition values are hive path strings cast to the "
                "column type; widening them is outside the implemented "
                "subset"
            )
        gens = _generated_exprs(meta)
        if column in gens:
            raise DeltaUnsupported(
                f"widen_column_type: {column!r} is a generated column"
            )
        referencing = sorted(
            g for g, (sql, _) in gens.items()
            if re.search(rf"\b{re.escape(column)}\b", sql)
        )
        if referencing:
            raise DeltaUnsupported(
                f"widen_column_type: generation expression(s) of "
                f"{referencing} reference {column!r} — widening would "
                "change their arithmetic"
            )
        schema_json = json.loads(meta["schemaString"])
        fields = [dict(f) for f in schema_json["fields"]]
        hit = None
        for f in fields:
            if f["name"] == column:
                hit = f
        if hit is None:
            raise ValueError(
                f"widen_column_type: no top-level column {column!r} in "
                f"{[f['name'] for f in fields]} (nested fields are "
                "outside the implemented subset)"
            )
        if not isinstance(hit["type"], str):
            raise DeltaUnsupported(
                f"widen_column_type: {column!r} is a nested type"
            )
        md = dict(hit.get("metadata") or {})
        if any(k.startswith("delta.identity.") for k in md):
            raise DeltaUnsupported(
                f"widen_column_type: {column!r} is an identity column "
                "(long by spec)"
            )
        frm = hit["type"]
        if frm == new_type:
            return _Done(snap.version)
        if not _widening_ok(frm, new_type):
            raise DeltaUnsupported(
                f"widen_column_type: {frm} -> {new_type} is not in the "
                "spec's widening lattice"
            )
        md["delta.typeChanges"] = list(md.get("delta.typeChanges") or []) + [
            {
                "fromType": frm,
                "toType": new_type,
                "tableVersion": snap.version + 1,
            }
        ]
        hit["type"] = new_type
        hit["metadata"] = md
        cfg = dict(meta.get("configuration") or {})
        cfg["delta.enableTypeWidening"] = "true"
        add_reader = ["typeWidening"]
        if new_type == "timestamp_ntz":
            add_reader.append("timestampNtz")
        return _Actions(
            [
                {
                    "protocol": _feature_era_protocol(
                        snap.protocol, add_reader=tuple(add_reader)
                    )
                },
                {
                    "metaData": {
                        **meta,
                        "schemaString": json.dumps(
                            {**schema_json, "fields": fields}
                        ),
                        "configuration": cfg,
                    }
                },
            ],
            {"column": column, "fromType": frm, "toType": new_type},
        )

    return _commit(
        table, "CHANGE COLUMN", attempt, max_retries,
        name="widen_column_type",
    )


def add_check_constraint(
    spark: SparkSession,
    table: str,
    name: str,
    sql: str,
    max_retries: int = 20,
) -> int:
    """``ALTER TABLE ... ADD CONSTRAINT <name> CHECK (<sql>)``: verifies
    EVERY existing row satisfies the predicate (one distributed filter
    job — Delta scans too; a violating table cannot take the
    constraint), then commits the ``delta.constraints.<name>`` config
    key with the protocol raised to writer 3 / the ``checkConstraints``
    feature.  From this commit on every write path validates rows
    against it (:func:`_enforce_row_predicates`)."""
    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
        raise ValueError(
            f"constraint name must be an identifier, got {name!r}"
        )
    key = f"delta.constraints.{name}"

    def attempt(snap: _Snapshot) -> _Actions:
        meta, live = snap.meta, snap.live
        cfg = dict(meta.get("configuration") or {})
        if key in cfg:
            raise ValueError(
                f"constraint {name!r} already exists: {cfg[key]!r}"
            )
        if live:
            bad = (
                _read_live(spark, table, meta, live)
                .where(~F.coalesce(F.expr(sql), F.lit(True)))
                .limit(1)
                .collect()
            )
            if bad:
                raise ValueError(
                    f"add_check_constraint: existing row violates "
                    f"({sql}): {bad[0].asDict()}"
                )
        cfg[key] = sql
        p = dict(snap.protocol or {})
        mwv = p.get("minWriterVersion", 2)
        actions: list[dict] = []
        if mwv == 7:
            actions.append(
                {
                    "protocol": _feature_era_protocol(
                        p, add_writer=("checkConstraints",)
                    )
                }
            )
        elif mwv < 3:
            actions.append({"protocol": {**p, "minWriterVersion": 3}})
        # (writer 3..6: the ladder already admits constraints)
        actions.append({"metaData": {**meta, "configuration": cfg}})
        return _Actions(actions, {"name": name, "expr": sql})

    return _commit(
        table, "ADD CONSTRAINT", attempt, max_retries,
        name="add_check_constraint",
    )


def drop_check_constraint(
    table: str, name: str, max_retries: int = 20
) -> int:
    """``ALTER TABLE ... DROP CONSTRAINT <name>`` — removes the config
    key (loud error if absent; Delta errors too)."""
    key = f"delta.constraints.{name}"

    def attempt(snap: _Snapshot) -> _Actions:
        cfg = dict(snap.meta.get("configuration") or {})
        if key not in cfg:
            raise ValueError(f"no constraint {name!r} on {table!r}")
        del cfg[key]
        return _Actions(
            [{"metaData": {**snap.meta, "configuration": cfg}}],
            {"name": name},
        )

    return _commit(
        table, "DROP CONSTRAINT", attempt, max_retries,
        name="drop_check_constraint",
    )


def write_checkpoint(
    table: str,
    version: int | None = None,
    format: str = "classic",
    max_actions_per_sidecar: int = 50_000,
) -> int:
    """Write a checkpoint summarizing the snapshot at ``version``
    (default latest), plus the ``_last_checkpoint`` pointer.  Returns
    the checkpointed version.

    ``format='classic'`` (default): the single-file layout every Delta
    reader understands — ``_delta_log/<v>.checkpoint.parquet``, one
    parquet row per action with the spec's top-level ``protocol`` /
    ``metaData`` / ``add`` / ``txn`` struct columns.

    ``format='v2'``: the spec's V2 layout — a UUID-named top file
    ``<v>.checkpoint.<uuid>.parquet`` carrying ``checkpointMetadata`` /
    ``protocol`` / ``metaData`` / ``txn`` plus ``sidecar`` pointers, and
    the file actions in sidecar parquet files under
    ``_delta_log/_sidecars/`` (at most ``max_actions_per_sidecar`` adds
    each).  Requires the table protocol to declare the ``v2Checkpoint``
    readerWriter feature (:func:`enable_v2_checkpoints`) — writing v2 to
    a table without it would strand pre-features readers, so it refuses.
    Sidecar files are what make checkpointing parallelizable at 100 TB:
    a million-file table's live set splits into independently-written
    (and independently-readable) shards instead of one giant parquet.

    ``remove`` tombstones are not carried in either layout: this
    module's VACUUM discovers dead files by directory walk, not
    tombstone replay, so a checkpoint here is purely the reconciled
    live state.

    At 100 TB this is the feature that keeps the log readable: replay
    cost is O(live files + commits since last checkpoint) instead of
    O(all commits ever)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if format not in ("classic", "v2"):
        raise ValueError(f"format must be classic|v2, got {format!r}")
    if version is None:
        version = latest_version(table)
    protocol, meta, live, txns, domains = _replay(
        table, version, with_domains=True
    )
    # an unknown writer feature's per-file fields (rowTracking baseRowId,
    # ...) would be silently DROPPED by the fixed checkpoint schema below
    # and lost forever once cleanup_log deletes the JSON tail
    _check_log_writer_features(protocol, "checkpointing")

    fields = _checkpoint_arrow_fields()
    meta_rows: list[dict] = [
        {
            "protocol": {
                "minReaderVersion": protocol.get("minReaderVersion", 1),
                "minWriterVersion": protocol.get("minWriterVersion", 2),
                "readerFeatures": protocol.get("readerFeatures"),
                "writerFeatures": protocol.get("writerFeatures"),
            }
        },
        {"metaData": {k: meta.get(k) for k in (
            "id", "format", "schemaString", "partitionColumns",
            "configuration", "createdTime")}},
    ]
    meta_rows.extend(
        {"txn": {"appId": app, "version": v, "lastUpdated": None}}
        for app, v in sorted(txns.items())
    )
    meta_rows.extend(
        {
            "domainMetadata": {
                "domain": d,
                "configuration": dm.get("configuration"),
                "removed": False,
            }
        }
        for d, dm in sorted(domains.items())
    )
    add_rows: list[dict] = [
        {"add": {k: a.get(k) for k in (
            "path", "partitionValues", "size", "modificationTime",
            "dataChange", "stats", "tags", "deletionVector",
            "baseRowId", "defaultRowCommitVersion")}}
        for _, a in sorted(live.items())
    ]

    log_dir = os.path.join(table, _LOG_DIR)
    if format == "classic":
        schema = pa.schema(
            [
                fields[k]
                for k in (
                    "protocol", "metaData", "add", "txn",
                    "domainMetadata",
                )
            ]
        )
        rows = meta_rows + add_rows
        target = _checkpoint_path(table, version)
        tmp = target + f".tmp-{uuid.uuid4().hex}"
        pq.write_table(pa.Table.from_pylist(rows, schema=schema), tmp)
        os.replace(tmp, target)
        size = len(rows)
    else:
        if not (
            protocol.get("minReaderVersion") == 3
            and "v2Checkpoint" in (protocol.get("readerFeatures") or [])
        ):
            raise DeltaUnsupported(
                "format='v2' needs the v2Checkpoint readerWriter "
                "feature in the table protocol (a pre-features reader "
                "could not discover the sidecars) — call "
                f"enable_v2_checkpoints first: {table}"
            )
        side_dir = os.path.join(log_dir, "_sidecars")
        os.makedirs(side_dir, exist_ok=True)
        side_schema = pa.schema([fields["add"], fields["remove"]])
        sidecar_rows: list[dict] = []
        for i in range(
            0, max(len(add_rows), 1), max_actions_per_sidecar
        ):
            chunk = add_rows[i : i + max_actions_per_sidecar]
            name = f"{uuid.uuid4()}.parquet"
            side_path = os.path.join(side_dir, name)
            tmp = side_path + f".tmp-{uuid.uuid4().hex}"
            pq.write_table(
                pa.Table.from_pylist(chunk, schema=side_schema), tmp
            )
            os.replace(tmp, side_path)
            st = os.stat(side_path)
            sidecar_rows.append(
                {
                    "sidecar": {
                        "path": urllib.parse.quote(name),
                        "sizeInBytes": st.st_size,
                        "modificationTime": int(st.st_mtime * 1000),
                        "tags": None,
                    }
                }
            )
        top_schema = pa.schema(
            [
                fields[k]
                for k in (
                    "checkpointMetadata",
                    "protocol",
                    "metaData",
                    "txn",
                    "domainMetadata",
                    "sidecar",
                )
            ]
        )
        top_rows = (
            [{"checkpointMetadata": {"version": version, "tags": None}}]
            + meta_rows
            + sidecar_rows
        )
        target = os.path.join(
            log_dir, f"{version:020d}.checkpoint.{uuid.uuid4()}.parquet"
        )
        tmp = target + f".tmp-{uuid.uuid4().hex}"
        pq.write_table(
            pa.Table.from_pylist(top_rows, schema=top_schema), tmp
        )
        os.replace(tmp, target)
        size = len(top_rows) + len(add_rows)
    # _last_checkpoint is overwritten in place per spec (atomic rename)
    lc = os.path.join(log_dir, "_last_checkpoint")
    lc_tmp = lc + f".tmp-{uuid.uuid4().hex}"
    with open(lc_tmp, "w") as fh:
        json.dump({"version": version, "size": size}, fh)
    os.replace(lc_tmp, lc)
    return version


def cleanup_log(table: str) -> list[int]:
    """Delete JSON commits strictly below the newest checkpoint (the
    spec's log retention, applied immediately).  The checkpoint version's
    own JSON is kept so ``_list_versions`` stays non-empty and OCC's
    next-version computation never consults the checkpoint list.  Time
    travel below the oldest surviving checkpoint becomes a loud
    ``ValueError`` in ``_replay`` — matching Delta, where history is
    bounded by log retention.  Returns the deleted versions.

    Superseded CHECKPOINT files (every layout: classic single,
    multi-part, v2 UUID top files) below the newest checkpoint are
    collected too, and so are v2 SIDECAR parquets no longer referenced
    by any surviving top file — without this, a long-lived v2-
    checkpointed table leaks one sidecar set per checkpoint forever.
    Reference discovery reads only the surviving top files (bounded by
    checkpoint count, not data)."""
    checkpoints = _list_checkpoints(table)
    if not checkpoints:
        return []
    cutoff = checkpoints[-1]
    gone = []
    for v in _list_versions(table):
        if v < cutoff:
            os.unlink(_log_path(table, v))
            gone.append(v)
    log = os.path.join(table, _LOG_DIR)
    by_version = _checkpoint_files(table)
    survivors: list[str] = []
    for v, names in sorted(by_version.items()):
        # _checkpoint_files returns one PREFERRED set per version; a
        # version may still hold several layouts on disk — match by
        # version prefix so every superseded file goes
        if v < cutoff:
            continue
        survivors.extend(names)
    prefix_gone = tuple(
        f"{v:020d}.checkpoint." for v in by_version if v < cutoff
    )
    for f in sorted(os.listdir(log)):
        if f.startswith(prefix_gone) and f not in survivors:
            os.unlink(os.path.join(log, f))
    # sidecars referenced by ANY surviving v2 top file stay; the rest go
    side_dir = os.path.join(log, "_sidecars")
    if os.path.isdir(side_dir):
        import pyarrow.parquet as pq

        referenced: set[str] = set()
        # scan EVERY surviving v2 top file on disk (not just the
        # per-version preferred layout): a version holding both a
        # classic and a v2 checkpoint must keep the v2's sidecars alive
        # for readers that pick the v2 path
        for name in sorted(os.listdir(log)):
            m = _CHECKPOINT_V2_RE.match(name)
            if not m or int(m.group(1)) < cutoff:
                continue
            top = pq.read_table(os.path.join(log, name))
            if "sidecar" not in top.schema.names:
                continue  # foreign v2 top carrying inline file actions
            for sc in top.column("sidecar").to_pylist():
                if sc is not None:
                    referenced.add(
                        urllib.parse.unquote(dict(sc)["path"])
                    )
        for f in sorted(os.listdir(side_dir)):
            if f.endswith(".parquet") and f not in referenced:
                os.unlink(os.path.join(side_dir, f))
    return gone


def domain_metadata(table: str, version: int | None = None) -> dict:
    """{domain -> configuration JSON string} of the snapshot's LIVE
    domainMetadata actions (the spec's engine-owned table metadata, e.g.
    ``delta.clustering``) — last writer per domain wins, removed
    tombstones drop the domain, and the set survives checkpoint + log
    cleanup."""
    _, _, _, _, domains = _replay(table, version, with_domains=True)
    return {
        d: dm.get("configuration") for d, dm in sorted(domains.items())
    }


def set_domain_metadata(
    table: str,
    domain: str,
    configuration: str | None = None,
    removed: bool = False,
    max_retries: int = 20,
) -> int:
    """Commit a ``domainMetadata`` action for ``domain`` (configuration
    is an opaque JSON string owned by the caller; ``removed=True``
    tombstones the domain).  ``delta.*`` domains are reserved for
    engine-recognized meanings — ``delta.clustering`` is accepted (it
    declares Liquid clustering columns and upgrades the protocol with
    ``clusteredTable`` too), other ``delta.``-prefixed domains refuse
    rather than impersonate a foreign engine's semantics.  Upgrades the
    protocol with the ``domainMetadata`` writer feature when the table
    does not declare it yet.  Returns the committed version."""
    if domain.startswith("delta.") and domain != "delta.clustering":
        raise DeltaUnsupported(
            f"domain {domain!r} is spec-reserved with semantics this "
            "engine does not implement — user domains must not start "
            "with 'delta.'"
        )
    need = {"domainMetadata"}
    if domain == "delta.clustering":
        need.add("clusteredTable")

    def attempt(snap: _Snapshot) -> _Actions:
        actions: list[dict] = []
        feats = set(snap.protocol.get("writerFeatures") or [])
        if not (
            snap.protocol.get("minWriterVersion") == 7 and need <= feats
        ):
            actions.append(
                {
                    "protocol": _feature_era_protocol(
                        snap.protocol, add_writer=sorted(need)
                    )
                }
            )
        actions.append(
            {
                "domainMetadata": {
                    "domain": domain,
                    "configuration": configuration,
                    "removed": bool(removed),
                }
            }
        )
        return _Actions(actions, {"domain": domain})

    return _commit(
        table, "SET DOMAIN METADATA", attempt, max_retries,
        name="set_domain_metadata",
    )


def last_txn_version(table: str, app_id: str) -> int | None:
    """Latest streaming-transaction version committed for ``app_id``
    (the spec's txn-action reconciliation), or None if never seen."""
    try:
        _, _, _, txns = _replay(table)
    except FileNotFoundError:
        return None
    return txns.get(app_id)


def foreach_batch_delta_append(
    stream: DataFrame,
    table: str,
    checkpoint: str,
    app_id: str,
    partition_by: Sequence[str] = (),
    checkpoint_interval: int | None = 10,
) -> None:
    """Streaming append sink in the Delta format: each microbatch commits
    an append carrying the spec's ``txn(appId, batch_id)`` action.  A
    crash between the log commit and the stream checkpoint re-delivers
    the batch; the replay is detected from the TABLE's own log
    (``last_txn_version``) and skipped — exactly-once appends with the
    idempotence state living in the public format, not in engine-private
    files.  (This is how spec-conforming streaming writers achieve
    idempotent Delta appends.)

    A stream is exactly the writer that accumulates commits without
    bound, so the periodic-checkpoint policy defaults ON here
    (``checkpoint_interval=10``, Delta's own default): snapshot replay
    stays O(10 + live files) forever.

    OPERATIONAL HAZARD (spec-consistent with Delta's txnAppId dedup):
    after a stream-checkpoint RESET, the source re-lists everything as
    batch 0 — if new files landed before the post-reset drain, they ride
    that replayed batch and are skipped with it.  Drain before new data
    arrives, or switch ``app_id`` (accepting that the old batches then
    re-commit)."""

    def _append(batch_df: DataFrame, batch_id: int) -> None:
        seen = last_txn_version(table, app_id)
        if seen is not None and batch_id <= seen:
            return  # crash-replayed microbatch: already committed
        write_delta(
            batch_df,
            table,
            mode="append",
            partition_by=partition_by,
            txn=(app_id, batch_id),
            checkpoint_interval=checkpoint_interval,
        )

    (
        stream.writeStream.foreachBatch(_append)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def foreach_batch_delta_upsert(
    stream: DataFrame,
    table: str,
    checkpoint: str,
    app_id: str,
    keys: Sequence[str],
    sequence_by: Sequence[str],
    apply_as_deletes: str | None = None,
    partition_by: Sequence[str] = (),
    checkpoint_interval: int | None = 10,
) -> None:
    """Streaming CDC upsert into a NATIVE-format Delta table — the full
    reference topology (``dlt.apply_changes`` maintaining a shared Delta
    target, zetaflex-pipeline.py:146-151) on the public format: each
    microbatch collapses to the latest row per key (``sequence_by``
    ordering, unique tie-break last) and lands as a :func:`merge_delta`
    commit — update matched, insert unmatched, and, when
    ``apply_as_deletes`` (a SQL predicate over the source row, e.g.
    ``"op = 'delete'"``) marks the winner, DELETE matched (an unmatched
    tombstone inserts nothing).  The matched update and delete fire only
    when the source sequence is >= the target's
    (:func:`~zeta_etl_spark.operators.cdc.sequence_at_least`), so a late
    row older than the stored one is a no-op, as in the batch twin
    ``latest_by_keys_with_deletes``.  The limit that remains: a delete is
    physical, so a late row OLDER than it finds no target row and
    re-inserts the key —
    :func:`~zeta_etl_spark.streaming.runner.foreach_batch_upsert` keeps
    tombstones for that case.

    Exactly-once: the merge commit carries ``txn(app_id, batch_id)``; a
    crash-replayed microbatch is detected from the table's own log and
    skipped, identical to :func:`foreach_batch_delta_append`.  The first
    ever batch bootstraps the table (an append commit of the deduped,
    tombstone-filtered batch).

    Downstream, CDF consumers replay the upserts row-level via
    :func:`table_changes` / :func:`read_delta_incremental(mode='cdf')` —
    the merge commits carry cdc files, so updates arrive as
    preimage/postimage pairs, not as whole-file rewrites."""
    from zeta_etl_spark.operators.cdc import latest_by_keys, sequence_at_least

    keys = list(keys)
    seq_newer = sequence_at_least(sequence_by)

    def _upsert(batch_df: DataFrame, batch_id: int) -> None:
        exists = bool(_list_versions(table) or _list_checkpoints(table))
        seen = last_txn_version(table, app_id) if exists else None
        if seen is not None and batch_id <= seen:
            return  # crash-replayed microbatch: already committed
        latest = latest_by_keys(batch_df, keys, sequence_by)
        # DLT delete semantics: NULL predicate means NOT deleted
        is_del = (
            F.coalesce(F.expr(apply_as_deletes), F.lit(False))
            if apply_as_deletes is not None
            else F.lit(False)
        )
        if not exists:
            write_delta(
                latest.filter(~is_del),
                table,
                mode="append",
                partition_by=partition_by,
                txn=(app_id, batch_id),
                checkpoint_interval=checkpoint_interval,
            )
            return
        if apply_as_deletes is None:
            merge_delta(
                batch_df.sparkSession,
                table,
                latest,
                on=keys,
                when_matched_update="*",
                update_condition=seq_newer,
                when_not_matched_insert="*",
                txn=(app_id, batch_id),
            )
        else:
            # the tombstone verdict rides the source as a computed
            # column (never part of the table schema), and the clauses
            # are explicit dicts — Delta's rule that extra source
            # columns need explicit SET clauses, honored by merge_delta
            _, meta, _, _ = _replay(table)
            tcols = [
                f["name"]
                for f in json.loads(meta["schemaString"])["fields"]
            ]
            merge_delta(
                batch_df.sparkSession,
                table,
                latest.withColumn("__del", is_del),
                on=keys,
                when_matched_update={c: f"s.{c}" for c in tcols},
                update_condition=f"not s.__del AND ({seq_newer})",
                when_matched_delete=True,
                delete_condition=f"s.__del AND ({seq_newer})",
                when_not_matched_insert={c: f"s.{c}" for c in tcols},
                insert_condition="not s.__del",
                txn=(app_id, batch_id),
            )
        if checkpoint_interval:
            v = latest_version(table)
            if v > 0 and v % checkpoint_interval == 0:
                try:
                    write_checkpoint(table, v)
                except DeltaUnsupported:
                    pass  # e.g. live DVs: the upsert itself succeeded

    (
        stream.writeStream.foreachBatch(_upsert)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def export_table_to_delta(
    spark: SparkSession,
    pipeline,
    name: str,
    dest: str,
    partition_by: Sequence[str] = (),
) -> int:
    """Bridge: publish a generation-store table (plans/graph.py) as a
    Delta table — the interop path out of the engine's native layout."""
    return write_delta(
        pipeline.read_table(spark, name),
        dest,
        mode="overwrite",
        partition_by=partition_by,
    )


def vacuum(
    table: str, retention_ms: int, dry_run: bool = False
) -> list[str]:
    """Delete data files no longer referenced by the CURRENT snapshot and
    older than ``retention_ms`` (Delta VACUUM).  The retention window is
    the correctness guard, exactly as in Delta: files a concurrent writer
    has staged but not yet committed, and files still served to readers
    pinned at an older version, are both protected only by their age —
    callers set retention longer than any reader/writer in flight (Delta
    defaults to 7 days).  Returns the deleted (or would-delete) paths."""
    from zeta_etl_spark.sinks.delta_dv import dv_file_path

    protocol, _, live, _ = _replay(table)
    # the vacuumProtocolCheck obligation: validate the FULL protocol —
    # reader features via _replay/_apply_protocol, writer features here —
    # before deleting anything an unknown feature might still reference
    _check_log_writer_features(protocol, "VACUUM")
    keep = {
        os.path.normpath(
            os.path.relpath(
                _add_file_path(table, urllib.parse.unquote(p)), table
            )
        )
        for p in live
    }
    # deletion-vector files referenced by live descriptors are data too
    for a in live.values():
        desc = a.get("deletionVector")
        if desc and desc.get("storageType") in ("u", "p"):
            keep.add(
                os.path.normpath(
                    os.path.relpath(dv_file_path(desc, table), table)
                )
            )
    cutoff = time.time() - retention_ms / 1000.0
    victims: list[str] = []
    for root, dirs, files in os.walk(table):
        dirs[:] = [d for d in dirs if d != _LOG_DIR]
        for f in files:
            if not (
                f.endswith(".parquet")
                or (f.startswith("deletion_vector_") and f.endswith(".bin"))
            ):
                continue
            full = os.path.join(root, f)
            rel = os.path.normpath(os.path.relpath(full, table))
            if rel in keep or os.path.getmtime(full) >= cutoff:
                continue
            victims.append(rel)
            if not dry_run:
                os.unlink(full)
    if not dry_run:
        # prune now-empty partition directories
        for root, dirs, files in os.walk(table, topdown=False):
            if root != table and not dirs and not files:
                os.rmdir(root)
    return sorted(victims)


def clone_delta(src: str, dst: str, version: int | None = None) -> int:
    """SHALLOW CLONE (Delta's ``CREATE TABLE ... SHALLOW CLONE``): commit
    ``dst`` as a new table whose adds point at the SOURCE's live files
    via absolute ``file:`` URIs — ZERO data movement, metadata cost
    only.  ``version`` clones a time-travel snapshot.  The clone is an
    independent table afterwards: protocol/metaData (fresh table id) and
    the row-tracking / clustering domains copy over, 'u'-storage
    deletion vectors re-anchor as 'p' (absolute-path) descriptors so
    they keep resolving from the clone, and every later write lands
    under the CLONE's root.  VACUUM on either table never touches the
    other's bytes: the clone's vacuum walks only its own directory, and
    the source's vacuum still sees its own references.  Reading a clone
    whose source was vacuumed past the cloned snapshot is the same loud
    error as any reader pinned to a vacuumed version — Delta's shallow
    clones share exactly this caveat."""
    from zeta_etl_spark.sinks.delta_dv import dv_file_path

    def attempt(snap: _Snapshot | None) -> _Actions:
        if snap is not None:
            raise DeltaUnsupported(f"already a Delta table: {dst}")
        protocol, meta, live, _, domains = _replay(
            src, version, with_domains=True
        )
        now_ms = int(time.time() * 1000)
        actions: list[dict] = [
            {"protocol": protocol or dict(_PROTOCOL)},
            {"metaData": {**meta, "id": uuid.uuid4().hex,
                          "createdTime": now_ms}},
        ]
        for p, a in sorted(live.items()):
            add = dict(a)
            abs_path = os.path.abspath(
                _add_file_path(src, urllib.parse.unquote(p))
            )
            add["path"] = "file://" + urllib.parse.quote(abs_path, safe="/=")
            desc = add.get("deletionVector")
            if desc and desc.get("storageType") == "u":
                # relative DVs resolve against the table root — re-anchor
                # as an absolute-path descriptor so the clone keeps
                # reading the source's DV file (offset survives;
                # sizeInBytes and cardinality describe the bitmap, not
                # the location)
                add["deletionVector"] = {
                    **desc,
                    "storageType": "p",
                    "pathOrInlineDv": os.path.abspath(
                        dv_file_path(desc, src)
                    ),
                }
            actions.append({"add": add})
        for name, dom in (domains or {}).items():
            if not dom.get("removed"):
                actions.append(
                    {
                        "domainMetadata": {
                            "domain": name,
                            "configuration": dom.get("configuration"),
                            "removed": False,
                        }
                    }
                )
        return _Actions(
            actions,
            {
                "source": src,
                "sourceVersion": (
                    version if version is not None else latest_version(src)
                ),
            },
        )

    # a new table commits version 0 once: a lost race is no retry
    return _commit(dst, "CLONE", attempt, 1, create=True)


def convert_parquet_to_delta(
    spark: SparkSession, path: str, partition_by: Sequence[str] = ()
) -> int:
    """CONVERT TO DELTA: commit version 0 over parquet files already in
    place — ZERO data movement, the log simply claims the existing files
    (hive ``col=val`` directories become partitionValues).  Refuses a
    directory that is already a Delta table."""
    partition_by = list(partition_by)

    def attempt(snap: _Snapshot | None) -> _Actions:
        if snap is not None:
            raise DeltaUnsupported(f"already a Delta table: {path}")
        rels: list[str] = []
        for root, _dirs, files in os.walk(path):
            rels.extend(
                os.path.relpath(os.path.join(root, f), path)
                for f in files
                if f.endswith(".parquet")
            )
        if not rels:
            raise FileNotFoundError(f"no parquet files under {path}")
        reader = spark.read
        if partition_by:
            reader = reader.option("basePath", path)
        schema_string = reader.parquet(
            *[os.path.join(path, r) for r in rels]
        ).schema.json()
        now_ms = int(time.time() * 1000)
        adds = []
        for rel in sorted(rels):
            pvals = {}
            for seg in os.path.dirname(rel).split(os.sep):
                if "=" in seg:
                    k, _, raw = seg.partition("=")
                    pvals[k] = (
                        None
                        if raw == "__HIVE_DEFAULT_PARTITION__"
                        else urllib.parse.unquote(raw)
                    )
            if set(pvals) != set(partition_by):
                raise DeltaUnsupported(
                    f"file {rel!r} has partition dirs {sorted(pvals)} but "
                    f"partition_by={partition_by}"
                )
            full = os.path.join(path, rel)
            adds.append(
                {
                    "add": {
                        "path": urllib.parse.quote(rel, safe="/="),
                        "partitionValues": pvals,
                        "size": os.path.getsize(full),
                        "modificationTime": now_ms,
                        "dataChange": True,
                        "stats": _stats_json(full),
                    }
                }
            )
        return _Actions(
            [
                {"protocol": dict(_PROTOCOL)},
                {
                    "metaData": {
                        "id": uuid.uuid4().hex,
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": schema_string,
                        "partitionColumns": partition_by,
                        "configuration": {},
                        "createdTime": now_ms,
                    }
                },
                *adds,
            ],
            {"partitionBy": json.dumps(partition_by)},
        )

    # a new table commits version 0 once: a lost race is no retry
    return _commit(path, "CONVERT", attempt, 1, create=True)
