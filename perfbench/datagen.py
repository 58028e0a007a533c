"""Seeded input generators for the benchmark workloads.

Everything here is plain numpy/pyarrow and runs before any Spark session
exists, so generation never counts toward a timed region.

- ``write_star_schema``: the ten query tables (TPC-H-ish star schema plus
  ``events``, ``documents`` and ``embeddings``) with the column names,
  types and value domains of the sf0.01 test tables, at about their size.
- ``serving_base`` / ``serving_batch``: JSONL event rows for the streaming
  serving path (a base load, then change batches of half updates and half
  inserts).
- ``transactions_batch``: raw on-chain transaction rows in the nested shape
  of the transactions pipeline's bronze schema, one disjoint block of
  hours per batch.
"""

from __future__ import annotations

import json
import os
import random
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = ["small", "red", "blue", "green", "large", "steel"]
PART_NOUNS = ["ring", "widget", "bolt", "gear", "valve", "spring"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en"] * 9 + ["de", "es", "fr", "zh"] * 2
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_EVENTS = np.datetime64("2024-01-01", "us")
_DAY_US = 86_400_000_000


def _ts(base: np.datetime64, offsets_us: np.ndarray) -> pa.Array:
    return pa.array(base + offsets_us.astype("timedelta64[us]"), pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_star_schema(out_dir: str, seed: int) -> None:
    """Write the ten query tables under ``out_dir`` (one parquet each), at
    the sf0.01 row counts (60k lineitems, 10k events, 500 documents and
    embeddings)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = 1500, 100, 2000
    n_ord, n_li, n_ev = 15000, 60000, 10000
    n_doc, n_emb = 500, 500

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
    })
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(
            [f"{rng.choice(PART_WORDS)} {rng.choice(PART_NOUNS)}" for _ in range(n_part)]
        ),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)),
    })
    order_days = rng.integers(0, 2404, n_ord)
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2)),
        "o_orderdate": _ts(_EPOCH_1995, order_days * _DAY_US),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord)),
    })
    li_order = np.sort(rng.integers(0, n_ord, n_li)).astype(np.int64)
    # line numbers restart per order (1..k), as in the test tables
    starts = np.r_[0, np.flatnonzero(np.diff(li_order)) + 1]
    linenum = np.arange(n_li) - np.repeat(starts, np.diff(np.r_[starts, n_li])) + 1
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(li_order),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(linenum.astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2000.0, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
        "l_shipdate": _ts(
            _EPOCH_1995,
            (order_days[li_order] + rng.integers(1, 122, n_li)) * _DAY_US,
        ),
    })
    ev_offsets = np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts(_EPOCH_EVENTS, ev_offsets),
        "user_id": pa.array(rng.integers(0, 150, n_ev).astype(np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2) + 0.01),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)]),
    })
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document, as in the test tables
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 90)))))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_doc)),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    emb = rng.normal(size=(n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32)),
    })


# --- serving path ----------------------------------------------------------

SERVING_SCHEMA = (
    "event_id bigint, event_type string, hour bigint, user_id bigint, "
    "cents bigint, ts timestamp"
)
SERVING_HOURS = 48
SERVING_USERS = 200


def _serving_row(rng: random.Random, event_id: int, seq: int) -> dict:
    return {
        "event_id": event_id,
        "event_type": rng.choice(EVENT_TYPES),
        "hour": rng.randrange(SERVING_HOURS),
        "user_id": rng.randrange(SERVING_USERS),
        "cents": rng.randrange(1, 100_000),
        # the sequence column orders updates of one key across batches
        "ts": (datetime(2024, 1, 1) + timedelta(seconds=seq)).isoformat(sep=" "),
    }


def write_jsonl(path: str, rows: list[dict]) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")
    # the file-stream source must never see a half-written file
    os.replace(tmp, path)


def serving_base(seed: int, n_rows: int) -> list[dict]:
    rng = random.Random(seed)
    return [_serving_row(rng, i, 0) for i in range(n_rows)]


def serving_batch(seed: int, batch_no: int, n_live: int, n_rows: int) -> list[dict]:
    """Half updates of existing keys (``< n_live``), half fresh inserts
    with keys ``n_live, n_live + 1, ...``."""
    rng = random.Random(seed * 1_000_003 + batch_no)
    n_upd = n_rows // 2
    upd = rng.sample(range(n_live), n_upd)
    ins = range(n_live, n_live + n_rows - n_upd)
    return [_serving_row(rng, k, batch_no + 1) for k in [*upd, *ins]]


# --- transactions pipeline -------------------------------------------------

TX_ASSETS = ["SOL", "BTC", "ETH"]
TX_BASE = datetime(2024, 3, 1)
TX_KINDS = [
    "deposit", "taker", "maker", "failed", "withdraw", "liquidate",
    "funding", "cancel_complete", "other",
]


def _instruction(rng: random.Random, kind: str, asset: str) -> dict:
    authority = f"auth_{rng.randrange(50)}"
    margin = f"m_{authority}"
    named: dict = {}
    args: dict = {}
    events: list = []
    name = "cancel_order"
    if kind in ("deposit", "withdraw"):
        name = kind if kind == "deposit" else rng.choice(["withdraw", "withdraw_v2"])
        args = {"amount": str(rng.randrange(1, 500) * 1_000_000)}
        named = {"authority": authority, "margin_account": margin}
    elif kind in ("taker", "maker"):
        price = str(rng.randrange(10, 100) * 1_000_000)
        trade = {
            "name": rng.choice(["trade_event", "trade_event_v3"]),
            "event": {
                "user": authority, "margin_account": margin,
                "zeta_group": f"zg_{asset}", "price": price,
                "size": str(rng.randrange(1, 50) * 1_000),
                "is_bid": rng.choice(["true", "false"]),
            },
        }
        if kind == "taker":
            name = rng.choice(["place_order", "place_perp_order_v3", "place_order_v4"])
            events = [{
                "name": "place_order_event",
                "event": {
                    "user": authority, "margin_account": margin,
                    "fee": "500000", "oracle_price": price,
                },
            }, trade]
        else:
            name = "crank_event_queue"
            trade["name"] = "trade_event"
            trade["event"]["is_bid"] = "false"
            events = [trade]
    elif kind == "liquidate":
        size = rng.randrange(1, 40) * 1_000 * rng.choice([1, -1])
        name = rng.choice(["liquidate", "liquidate_v2"])
        args = {"size": str(abs(size))}
        named = {"market": f"mkt_{asset}"}
        events = [{
            "name": "liquidation_event",
            "event": {
                "size": str(size), "asset": asset.lower(),
                "liquidatee": f"auth_{rng.randrange(50)}",
                "liquidator": authority,
                "liquidator_reward": str(rng.randrange(1, 90) * 1_000_000),
                "insurance_reward": str(rng.randrange(0, 20) * 1_000_000),
                "cost_of_trades": str(rng.randrange(1, 900) * 1_000_000),
                "mark_price": str(rng.randrange(10, 100) * 1_000_000),
            },
        }]
    elif kind == "funding":
        name = "apply_funding"
        events = [{
            "name": "apply_funding_event",
            "event": {
                "asset": asset.lower(), "user": authority,
                "margin_account": margin,
                "balance_change": str(
                    rng.choice([0, 1, 1, -1, -1, 2]) * rng.randrange(1, 50) * 100_000
                ),
                "funding_rate": str(rng.randrange(1, 500)),
                "oracle_price": str(rng.randrange(10, 100) * 1_000_000),
                "position_size": str(rng.randrange(1, 60) * 1_000),
            },
        }]
    elif kind == "cancel_complete":
        name = rng.choice(["cancel_order", "cancel_all_market_orders"])
        named = {"authority": authority, "market": f"mkt_{asset}"}
        events = [{
            "name": "order_complete_event",
            "event": {
                "asset": asset.lower(), "margin_account": margin,
                "order_complete_type": rng.choice(["cancel", "fill"]),
                "side": rng.choice(["bid", "ask"]),
                "unfilled_size": str(rng.randrange(0, 30) * 1_000),
                "order_id": str(rng.randrange(10**9)),
                "client_order_id": str(rng.randrange(10**6)),
            },
        }]
    return {
        "name": name, "args": args,
        "accounts": {"named": named, "remaining": []},
        "program_id": "zeta", "events": events,
    }


def transactions_batch(seed: int, batch_no: int, n_tx: int, hours: int) -> list[dict]:
    """``n_tx`` raw transactions spread over ``hours`` hours that no other
    batch number touches (batch ``b`` covers hours ``[b*hours, (b+1)*hours)``)."""
    rng = random.Random(seed * 1_000_003 + batch_no)
    t0 = TX_BASE + timedelta(hours=batch_no * hours)
    rows = []
    for i in range(n_tx):
        kind = rng.choice(TX_KINDS)
        ts = t0 + timedelta(seconds=rng.randrange(hours * 3600))
        rows.append({
            "signature": f"sig_{batch_no}_{i}",
            "instructions": [_instruction(rng, kind, rng.choice(TX_ASSETS))],
            "is_successful": kind != "failed",
            "slot": batch_no * n_tx + i,
            "block_time": ts.isoformat(sep=" "),
            "fee": 5000,
        })
    return rows
