"""The benchmark's workloads.

Each workload is a closed loop with one client: the driver thread issues
the next call only after the previous one returned.  A workload runs in
*cycles* (a query pass, or one refresh cycle); ``run.py`` discards the
first ``warmup_cycles`` and times the rest.  Every call into a package
layer is recorded as a span (``harness.Recorder``) so a traced run can
fold Spark's event log into it.

Correctness is checked outside the cycle spans, in ``check``; each failed
check or raising call counts once in ``failed``.
"""

from __future__ import annotations

import os
import random
import sys
import time
import traceback

from harness import Recorder, combine, dir_bytes, fingerprint

import datagen


class Workload:
    """Base class: op accounting shared by the workloads."""

    name = ""

    def __init__(self, work_dir: str, seed: int):
        self.work_dir = work_dir
        self.seed = seed
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self.detail: dict = {}  # extra fields for the run's detail line
        # seconds of output checks that had to run inside a cycle (or the
        # load, cycle -1), by cycle; taken out of cycle_s and setup_s
        self.untimed_s: dict[int, float] = {}

    def op(self, rec: Recorder, name: str, kind: str, cycle: int, fn):
        """Run one call inside a span; a raise counts as a failed op and
        the cycle goes on with the next call."""
        self.attempted += 1
        with rec.span(name, kind, cycle) as span:
            try:
                return fn(span)
            except Exception:
                span.ok = False
                self.fail(f"{name}: raised\n{traceback.format_exc(limit=4)}")
                return None

    def fail(self, msg: str):
        self.failed += 1
        self.notes.append(msg)
        print(f"[perfbench] FAILED {msg}", file=sys.stderr)

    def cycle_seconds(self, rec: Recorder, cycles) -> list[float]:
        return [s.wall_s - self.untimed_s.get(s.cycle, 0.0)
                for s in rec.of_kind("cycle", cycles)]

    def typical_cycle(self, rec: Recorder, cycles) -> float:
        """The ``cycle_s`` metric: the median cycle."""
        from harness import median

        return median(self.cycle_seconds(rec, cycles))

    def reads(self, rec: Recorder, cycles) -> list:
        return [s for k in self.read_kinds for s in rec.of_kind(k, cycles)]

    def read_group(self, span) -> tuple:
        """Which read calls are alike, for ``dashboard_seconds``."""
        return (span.kind, span.name)

    def script_seconds(self, spans, cycles, group) -> float:
        from harness import script_seconds

        groups: dict[tuple, list[float]] = {}
        for s in spans:
            groups.setdefault(group(s), []).append(s.wall_s)
        return script_seconds(groups, len(cycles))

    def dashboard_seconds(self, rec: Recorder, cycles) -> float:
        """One cycle's dashboard reads, from the median wall time of each
        group of alike read calls (``harness.script_seconds``)."""
        return self.script_seconds(self.reads(rec, cycles), cycles, self.read_group)

    def load(self, spark, rec: Recorder):
        """One-time loading after the first session starts (part of set-up);
        ``start`` runs again for each new session."""

    # subclasses implement prepare / start / cycle / check / batch_seconds /
    # layer_metrics, and set warmup_cycles, min_timed_cycles and read_kinds


# --- query_basket -----------------------------------------------------------

# Dashboard reads from the name-pinned r1 headline basket (bench.HEADLINE),
# one per kind: hourly rollup, as-of join, PnL leaderboard.  Three of its
# sixteen, so that a run fits the benchmark's time budget.
DASHBOARD_QUERIES = [
    "hourly_events",
    "asof_prior_click",
    "pnl_leaderboard",
]
# One of the five hand-rolled driver-side fixpoint loops (PageRank): the
# loop family a shared fixpoint operator would replace.  The other loops
# are left out only for their run time (1-3 s for k-means, 2-4 s for
# k-core and 5-8 s for connected components, a pass on 4 cores).
LOOP_QUERIES = ["pagerank_sim_graph"]
# Data seed for the query tables.  The run seed permutes the query order of
# each pass; the tables stay fixed so every run checks against the same
# oracle answers.
QUERY_DATA_SEED = 20240101


def _rows_to_pandas(schema, rows):
    """What ``DataFrame.toPandas()`` returns without Arrow, built from rows
    already collected, so the check does not run the query again."""
    import pandas as pd
    from pyspark.sql.pandas.types import _create_converter_to_pandas

    pdf = pd.DataFrame.from_records(rows, index=range(len(rows)), columns=schema.names)
    if not len(pdf.columns):
        return pdf
    return pd.concat(
        [_create_converter_to_pandas(f.dataType, f.nullable, timezone="UTC",
                                     struct_in_pandas="row",
                                     error_on_duplicated_field_names=False,
                                     timestamp_utc_localized=False)(pdf[f.name])
         for f in schema.fields],
        axis="columns",
    )


class QueryBasket(Workload):
    """Per cycle: one pass over the dashboard and loop queries in a seeded
    order; each query is built (``REGISTRY[name].fn``, which runs a loop's
    eager per-round actions) and materialised with ``collect()``, as a
    dashboard reads it.  Every pass, warm-up passes included, is compared
    with the DuckDB oracle's answers, which are computed once before the
    session starts."""

    name = "query_basket"
    # Passes keep getting faster until about the fifth (cold 8-10 s, then
    # about 5, 4 and 3.5 s on 4 cores), so four are discarded.
    warmup_cycles = 4
    # every query's trimmed mean is taken over at least three passes,
    # whatever the host's speed
    min_timed_cycles = 3
    read_kinds = ("query",)

    def typical_cycle(self, rec: Recorder, cycles) -> float:
        """A pass rebuilt from each query's median over the timed passes:
        steadier than the median of a few pass totals, each of which one
        slow query or GC pause moves."""
        return self.script_seconds(self.queries(rec, cycles), cycles,
                                   self.read_group)

    def prepare(self):
        import bench

        from zeta_etl_spark.queries import REGISTRY
        from zeta_etl_spark.testing import duck_connection

        missing = set(DASHBOARD_QUERIES) - set(bench.HEADLINE)
        if missing:
            raise ValueError(f"not in bench.HEADLINE: {sorted(missing)}")
        self.names = DASHBOARD_QUERIES + LOOP_QUERIES
        self.sf_dir = os.path.join(self.work_dir, "tables")
        datagen.write_star_schema(self.sf_dir, QUERY_DATA_SEED)
        con = duck_connection(self.sf_dir)
        try:
            self.oracle = {n: con.execute(REGISTRY[n].oracle).fetchdf()
                           for n in self.names}
        finally:
            con.close()

    def start(self, spark):
        from zeta_etl_spark.queries.registry import T

        # bench.py's embedding probe: moves the one-time codegen of the
        # zip_with/aggregate expression class out of the first vector query
        T(spark, self.sf_dir, "embeddings").selectExpr(
            "aggregate(zip_with(embedding, embedding, (x, y) -> x * y), "
            "cast(0.0 as double), (a, v) -> a + v) AS s"
        ).agg({"s": "sum"}).collect()

    def cycle(self, spark, rec: Recorder, c: int):
        from zeta_etl_spark.queries import REGISTRY

        order = list(self.names)
        random.Random(self.seed * 7919 + c).shuffle(order)
        with rec.span(f"pass{c}", "cycle", c):
            for name in order:
                def call(span, name=name):
                    t0 = time.perf_counter()
                    df = REGISTRY[name].fn(spark, self.sf_dir)
                    t1 = time.perf_counter()
                    rows = df.collect()
                    span.stats["build_s"] = t1 - t0
                    span.stats["exec_s"] = time.perf_counter() - t1
                    span.stats["result"] = (df, rows)
                kind = "query.loop" if name in LOOP_QUERIES else "query"
                self.op(rec, name, kind, c, call)

    def check(self, spark, rec: Recorder, c: int, full: bool = True):
        """Compare each result of pass ``c`` with the oracle's answer."""
        from zeta_etl_spark.testing import assert_frames_match

        for s in self.queries(rec, [c]):
            if "result" not in s.stats:
                continue  # a raise was already counted
            df, rows = s.stats.pop("result")
            pdf = _rows_to_pandas(df.schema, rows)
            try:
                assert_frames_match(pdf, self.oracle[s.name], s.name)
            except AssertionError as e:
                self.fail(f"{s.name}: oracle mismatch in pass {c}: {e}")

    def queries(self, rec: Recorder, cycles) -> list:
        return rec.of_kind("query", cycles) + rec.of_kind("query.loop", cycles)

    def batch_seconds(self, rec: Recorder, cycles) -> list[float]:
        """Per pass: the summed wall time of the fixpoint-loop queries."""
        return [sum(s.wall_s for s in rec.of_kind("query.loop", [c])) for c in cycles]

    def layer_metrics(self, rec: Recorder, cycles) -> dict[str, float]:
        q = self.queries(rec, cycles)
        loops = rec.of_kind("query.loop", cycles)
        n = max(1, len(cycles))
        return {
            "queries.build_s": sum(s.stats["build_s"] for s in q if s.ok) / n,
            "queries.exec_s": sum(s.stats["exec_s"] for s in q if s.ok) / n,
            "queries.loops.build_s": sum(s.stats["build_s"] for s in loops if s.ok) / n,
        }


# --- gold_refresh ----------------------------------------------------------

# The hourly trade table is committed with MERGE on its grain; fee_tiers is
# a latest-per-authority snapshot and is overwritten.  The other hourly
# tables take the same MERGE path and are left out for run time.
GOLD_MERGE = {"agg_ix_trade_asset_1h": ["timestamp", "asset"]}
GOLD_OVERWRITE = ["fee_tiers"]
GOLD = [*GOLD_MERGE, *GOLD_OVERWRITE]
TX_PER_BATCH = 2000
REFRESHES_PER_CYCLE = 2  # raw batches landed (and refreshed) per cycle
TX_HOURS_PER_BATCH = 6
SERVING_BASE_ROWS = 5000
SERVING_BATCH_ROWS = 500
GOLD_READS = 2  # reads of each gold table per cycle
DASHBOARD_EVENT_TYPES = ["click", "purchase", "view"]

_AGGS = {
    "n_rows": ("count_rows", None),
    "sum_cents": ("sum", "cents"),
    "n_cents": ("count", "cents"),
}
_MINMAX = {"mx": ("max", "cents"), "mn": ("min", "cents")}


def _requests():
    """The dashboard script: (label, keys, aggs, filter spec).  Hourly
    panels for three event types, so that a cycle holds enough cache misses
    for a steady median."""
    return [
        ("minmax_type_hour", ["event_type", "hour"], _MINMAX, None),
        ("by_user", ["user_id"], _AGGS, None),
        *((f"{et}_by_hour", ["hour"], _AGGS,
           (f"event_type = '{et}'", ["event_type"], f"etype={et}"))
          for et in DASHBOARD_EVENT_TYPES),
    ]


def _norm_rows(rows) -> list[tuple]:
    out = []
    for r in rows:
        d = r.asDict()
        out.append(tuple(sorted(
            (k, float(v) if isinstance(v, (int, float)) and not isinstance(v, bool)
             else v)
            for k, v in d.items()
        )))
    return sorted(out, key=repr)


class GoldRefresh(Workload):
    """Set-up loads the first raw batch into gold (Delta tables created by
    ``write_delta``) and streams the base events into the serving path.
    Per cycle: ``REFRESHES_PER_CYCLE`` raw transaction batches land, one
    after the other, and each is refreshed into gold (``Pipeline.run``,
    then a Delta MERGE and an overwrite); an event change
    batch lands and is streamed into the serving path (``ingest_stream``),
    then the dashboard script runs (each request a miss, then a hit);
    finally every gold Delta table is read back ``GOLD_READS`` times."""

    name = "gold_refresh"
    # The initial load runs the create paths (first Delta write, first
    # streaming ingest) in set-up, so the discarded cycle and every timed
    # one run the same MERGE and incremental ingest: a cycle that runs them
    # for the first time takes 1.2-1.4x as long as the next one.
    warmup_cycles = 1
    min_timed_cycles = 1
    read_kinds = ("request.miss", "request.hit", "sinks.delta_log.read")

    def read_group(self, span) -> tuple:
        # a cycle has one miss per request, so the misses (and with them
        # the hits and the gold reads) are pooled by kind
        return (span.kind,)

    def prepare(self):
        w = self.work_dir
        self.staging = os.path.join(w, "staging")
        self.raw_dir = os.path.join(w, "raw")
        self.events_dir = os.path.join(w, "events")
        self.pipe_dir = os.path.join(w, "pipeline")
        self.delta_dir = os.path.join(w, "delta")
        self.serve_dir = os.path.join(w, "serve")
        for d in (self.staging, self.raw_dir, self.events_dir):
            os.makedirs(d, exist_ok=True)
        datagen.write_jsonl(
            os.path.join(self.staging, "ev_base.json"),
            datagen.serving_base(self.seed, SERVING_BASE_ROWS),
        )
        self.stage_tx(0)
        self.n_live = SERVING_BASE_ROWS
        self.expected: dict[str, tuple[int, int]] = {}
        self.cycle_stats: dict[int, dict] = {}

    # Raw batch 0 is the initial load; cycle c lands the next
    # REFRESHES_PER_CYCLE batches.
    def tx_batches(self, c: int) -> range:
        return range(1 + c * REFRESHES_PER_CYCLE, 1 + (c + 1) * REFRESHES_PER_CYCLE)

    def stage_tx(self, b: int):
        datagen.write_jsonl(os.path.join(self.staging, f"tx_{b:04d}.json"),
                            datagen.transactions_batch(
                                self.seed, b, TX_PER_BATCH, TX_HOURS_PER_BATCH))

    def stage_inputs(self, c: int):
        """Write cycle ``c``'s input files to staging (untimed)."""
        for b in self.tx_batches(c):
            self.stage_tx(b)
        ev = os.path.join(self.staging, f"ev_{c:04d}.json")
        rows = datagen.serving_batch(self.seed, c, self.n_live, SERVING_BATCH_ROWS)
        self.n_live += SERVING_BATCH_ROWS - SERVING_BATCH_ROWS // 2
        datagen.write_jsonl(ev, rows)

    def landed_bytes(self, c: int) -> int:
        """Raw input bytes cycle ``c`` lands (its staged files)."""
        names = [f"tx_{b:04d}.json" for b in self.tx_batches(c)] + [f"ev_{c:04d}.json"]
        return sum(os.path.getsize(os.path.join(self.staging, n)) for n in names)

    def start(self, spark):
        from datetime import datetime

        from zeta_etl_spark.pipelines.serving_path import ServingPath, ViewSpec
        from zeta_etl_spark.pipelines.transactions import (
            MARKETS_SCHEMA,
            ZETAGROUP_SCHEMA,
        )

        t0 = datetime(2024, 3, 1)
        self.markets = spark.createDataFrame(
            [(a, f"mkt_{a}", 0.0, "perp", t0, t0) for a in datagen.TX_ASSETS],
            MARKETS_SCHEMA,
        )
        self.zg = spark.createDataFrame(
            [(f"zg_{a}", a) for a in datagen.TX_ASSETS], ZETAGROUP_SCHEMA
        )
        self.sp = ServingPath(
            spark,
            self.serve_dir,
            keys=["event_id"],
            views=[
                ViewSpec("mv_type_hour", ("event_type", "hour"), ("cents",),
                         minmax=("cents",)),
                ViewSpec("mv_user", ("user_id",), ("cents",)),
            ],
        )

    def load(self, spark, rec: Recorder):
        """The initial load (part of set-up): raw batch 0 into new gold
        Delta tables, and the base events streamed into the serving path."""
        self._refresh(spark, rec, -1, 0)
        self._land("ev_base.json", self.events_dir)
        self._ingest(spark, rec, -1)

    def _land(self, name: str, dest_dir: str) -> float:
        os.replace(os.path.join(self.staging, name), os.path.join(dest_dir, name))
        return time.time()

    def _refresh(self, spark, rec: Recorder, c: int, b: int) -> float:
        """Land raw batch ``b``, run the gold pipeline over it and commit its
        outputs to Delta (MERGE, or a create on the first batch); returns
        the seconds from landing to the last commit returning."""
        from zeta_etl_spark.pipelines.transactions import (
            TRANSACTIONS_SCHEMA,
            build_transactions_pipeline,
        )
        from zeta_etl_spark.sinks.delta_log import merge_delta, write_delta
        from zeta_etl_spark.sources.json_source import read_json

        t_land = self._land(f"tx_{b:04d}.json", self.raw_dir)
        path = os.path.join(self.raw_dir, f"tx_{b:04d}.json")

        def run(span):
            raw = read_json(spark, path, TRANSACTIONS_SCHEMA)
            p = build_transactions_pipeline(
                spark, self.pipe_dir, raw, self.markets, self.zg)
            return p.run(spark, targets=GOLD)

        out = self.op(rec, "Pipeline.run", "plans.graph.run", c, run) or {}
        for t in GOLD:
            table = os.path.join(self.delta_dir, t)
            if t not in out:
                continue
            if t in GOLD_MERGE and os.path.isdir(table):
                fn = lambda s, t=t, table=table: merge_delta(  # noqa: E731
                    spark, table, out[t], on=GOLD_MERGE[t],
                    when_matched_update="*", when_not_matched_insert="*")
            else:
                fn = lambda s, t=t, table=table: write_delta(  # noqa: E731
                    out[t], table, mode="overwrite")
            self.op(rec, f"commit:{t}", "sinks.delta_log.write", c, fn)
        refresh_s = time.time() - t_land
        t = time.perf_counter()
        self._expect(c, out)
        self.untimed_s[c] = self.untimed_s.get(c, 0.0) + time.perf_counter() - t
        return refresh_s

    def _expect(self, c: int, out: dict):
        """Fold one refresh's outputs into the expected gold state: the union
        of every batch's Pipeline.run output for the merged tables (batches
        cover disjoint hours), the latest output for the overwritten ones.
        It runs right after the refresh, because the next Pipeline.run
        replaces the generation these outputs read."""
        for t in GOLD:
            if t not in out:
                self.fail(f"{t}: no Pipeline.run output in cycle {c}")
                continue
            fp = fingerprint(out[t].collect())
            self.expected[t] = (combine(self.expected.get(t, (0, 0)), fp)
                                if t in GOLD_MERGE else fp)

    def _ingest(self, spark, rec: Recorder, c: int):
        """Stream every event file landed so far, beyond the checkpoint,
        into the serving path."""
        from zeta_etl_spark.sources.json_source import read_json

        def ingest(span):
            stream = read_json(spark, self.events_dir, datagen.SERVING_SCHEMA,
                               streaming=True)
            return self.sp.ingest_stream(
                stream, os.path.join(self.work_dir, "ckpt"),
                sequence_by=["ts"], n_buckets=4)

        self.op(rec, "ingest_stream", "streaming.runner.ingest", c, ingest)

    def cycle(self, spark, rec: Recorder, c: int):
        from pyspark.sql import functions as F

        from zeta_etl_spark.sinks.delta_log import read_delta

        self.stage_inputs(c)
        st = self.cycle_stats[c] = {"t0": time.time(), "raw_bytes": self.landed_bytes(c)}
        with rec.span(f"cycle{c}", "cycle", c):
            # gold refresh: land → Pipeline.run → Delta commits
            st["refresh_s"] = [self._refresh(spark, rec, c, b)
                               for b in self.tx_batches(c)]

            # serving: land the change batch → ingest_stream → dashboard script
            t_ev = self._land(f"ev_{c:04d}.json", self.events_dir)
            self._ingest(spark, rec, c)
            st["responses"] = {}
            for label, keys, aggs, flt in _requests():
                for rep in ("miss", "hit"):
                    def req(span, keys=keys, aggs=aggs, flt=flt):
                        kw = {}
                        if flt:
                            kw = {"filter": F.expr(flt[0]), "filter_cols": flt[1],
                                  "filter_slug": flt[2]}
                        df, prov = self.sp.request(keys, aggs, **kw)
                        rows = df.collect()
                        span.stats["prov"] = prov
                        return rows
                    rows = self.op(rec, f"request:{label}", f"request.{rep}", c, req)
                    st["responses"].setdefault((label, rep), []).append(rows)
                    if "fresh_s" not in st:
                        st["fresh_s"] = time.time() - t_ev

            # gold reads
            st["read_counts"] = {}
            for _ in range(GOLD_READS):
                for t in GOLD:
                    table = os.path.join(self.delta_dir, t)
                    st["read_counts"].setdefault(t, []).append(self.op(
                        rec, f"read:{t}", "sinks.delta_log.read", c,
                        lambda s, table=table: read_delta(spark, table).count()))

    def check(self, spark, rec: Recorder, c: int, full: bool = True):
        from pyspark.sql import functions as F

        from zeta_etl_spark.sinks.delta_log import read_delta

        st = self.cycle_stats[c]
        for key, d in (("pipe_bytes", self.pipe_dir), ("delta_bytes", self.delta_dir),
                       ("serve_bytes", self.serve_dir)):
            st[key] = dir_bytes(d, since=st["t0"])
        for t in GOLD:
            for n in st["read_counts"].get(t, []):
                if n is not None and t in self.expected and n != self.expected[t][0]:
                    self.fail(f"{t}: read_delta counted {n}, expected "
                              f"{self.expected[t][0]}")
        responses = st.pop("responses")
        if not full:
            return
        for t in GOLD:
            got = fingerprint(read_delta(spark, os.path.join(self.delta_dir, t)).collect())
            if got != self.expected.get(t):
                self.fail(f"{t}: Delta readback differs from the union of "
                          f"Pipeline.run outputs ({got} vs {self.expected.get(t)})")
        base = self.sp.pipeline.read_table(spark, "base")
        for label, keys, aggs, flt in _requests():
            src = base.filter(F.expr(flt[0])) if flt else base
            exprs = []
            for out_name, (fn, col) in aggs.items():
                if fn == "count_rows":
                    exprs.append(F.count(F.lit(1)).cast("bigint").alias(out_name))
                else:
                    exprs.append(getattr(F, fn)(col).alias(out_name))
            want = _norm_rows(src.groupBy(*keys).agg(*exprs).collect())
            for (lab, rep), issued in responses.items():
                for rows in issued:
                    if lab != label or rows is None:
                        continue  # a raise was already counted
                    if _norm_rows(rows) != want:
                        self.fail(f"request {label} ({rep}) differs from a direct "
                                  f"groupBy over the base in cycle {c}")
            provs = [s.stats.get("prov", "") for s in rec.spans
                     if s.cycle == c and s.name == f"request:{label}"]
            if provs and not (provs[0].startswith("cache-miss")
                              and all(p.startswith("cache-hit") for p in provs[1:])):
                self.fail(f"request {label}: provenance {provs} in cycle {c}")

    def batch_seconds(self, rec: Recorder, cycles) -> list[float]:
        """Per raw batch: from its landing to its last gold Delta commit
        returning."""
        return [r for c in cycles for r in self.cycle_stats[c]["refresh_s"]]


    def layer_metrics(self, rec: Recorder, cycles) -> dict[str, float]:
        from harness import median

        n = max(1, len(cycles))
        per = [self.cycle_stats[c] for c in cycles]
        hits, misses = self.sp.stats.hits, self.sp.stats.misses
        self.detail["result_cache"] = {"hits": hits, "misses": misses}

        def tot(kind):
            return sum(s.wall_s for s in rec.of_kind(kind, cycles)) / n

        base = os.path.realpath(os.path.join(self.serve_dir, "base"))
        delta_log = sum(
            dir_bytes(os.path.join(self.delta_dir, t, "_delta_log")) for t in GOLD)
        written = sum(p["pipe_bytes"] + p["delta_bytes"] + p["serve_bytes"] for p in per)
        return {
            "freshness_s": median([p["fresh_s"] for p in per]),
            "streaming.runner.ingest_s": tot("streaming.runner.ingest"),
            "pipelines.serving_path.miss_s": median(
                [s.wall_s for s in rec.of_kind("request.miss", cycles)]),
            "pipelines.serving_path.hit_s": median(
                [s.wall_s for s in rec.of_kind("request.hit", cycles)]),
            "plans.result_cache.hit_ratio": hits / max(1, hits + misses),
            "plans.graph.store_bytes_per_row": dir_bytes(base) / max(1, self.n_live),
            "plans.graph.run_s": tot("plans.graph.run"),
            "plans.graph.bytes_written": median([p["pipe_bytes"] for p in per]),
            "sinks.delta_log.write_s": tot("sinks.delta_log.write"),
            "sinks.delta_log.commits": len(rec.of_kind("sinks.delta_log.write", cycles)) / n,
            "sinks.delta_log.bytes_written": median([p["delta_bytes"] for p in per]),
            "sinks.delta_log.log_bytes": float(delta_log),
            "sinks.delta_log.read_s": tot("sinks.delta_log.read"),
            "storage.write_amp": written / max(1, sum(p["raw_bytes"] for p in per)),
        }


WORKLOADS = {w.name: w for w in (QueryBasket, GoldRefresh)}
