"""Seeded input generators for the three benchmark workloads.

Everything here is numpy/pyarrow only, so generating inputs never touches
the engine under test. The same (seed, size) always yields byte-identical
tables and tick files.

- ``write_lake``: the star schema (region … lineitem) plus ``events``,
  ``documents`` and ``embeddings`` as single parquet files, in the shapes
  the engine's ``tables.load`` reads. Sizes follow the TPC-H scale factor
  (``sf=0.01`` → 60k lineitems, 10k events).
  ``dup_share`` of the documents and vectors are the near-duplicate
  delta: character-edited copies of earlier documents and jittered copies
  of earlier vectors.
- ``TickPlan``: the live feed. Multi-feed tick rows with presale, active,
  rug and cooldown phases, duplicate broadcasts, rows shuffled inside a
  file (out of order), and dropped ticks recovered through backfill
  arrays. It also computes the ground truth the stateful operators must
  reproduce.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
PART_ADJ = "blue cold hot large new old red small".split()
PART_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EMB_DIM = 64


def _day_range(rng, start: dt.date, end: dt.date, n: int) -> np.ndarray:
    days = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, days + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _texts(rng, n: int) -> list[str]:
    lens = rng.integers(8, 100, n)
    idx = rng.integers(0, len(WORDS), int(lens.sum()))
    out, pos = [], 0
    for ln in lens:
        out.append(" ".join(WORDS[i] for i in idx[pos : pos + ln]))
        pos += ln
    return out


def _char_edit(rng, text: str) -> str:
    """A near-duplicate: one or two single-character substitutions plus
    the corpus's ``dup`` marker word."""
    chars = list(text)
    for _ in range(int(rng.integers(1, 3))):
        i = int(rng.integers(0, len(chars)))
        if chars[i] != " ":
            chars[i] = "abcdefghijklmnopqrstuvwxyz"[int(rng.integers(0, 26))]
    return "".join(chars) + " dup"


def _documents(rng, n: int, dup_share: float) -> pa.Table:
    texts = _texts(rng, n)
    for i in range(1, n):
        u = rng.random()
        if u < dup_share:
            texts[i] = _char_edit(rng, texts[int(rng.integers(0, i))])
        elif u < dup_share + 0.002:  # a few exact copies
            texts[i] = texts[int(rng.integers(0, i))]
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng, n: int, dup_share: float) -> pa.Table:
    centers = rng.normal(0, 1, (10, EMB_DIM))
    labels = rng.integers(0, 10, n)
    vecs = centers[labels] * 0.6 + rng.normal(0, 1, (n, EMB_DIM))
    for i in range(1, n):
        if rng.random() < dup_share:
            j = int(rng.integers(0, i))
            vecs[i] = vecs[j] + rng.normal(0, 0.01, EMB_DIM)
            labels[i] = labels[j]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * EMB_DIM + 1, EMB_DIM, dtype=np.int32)),
        pa.array(vecs.reshape(-1)),
    )
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": emb,
            "label": labels.astype(np.int32),
        }
    )


def write_lake(out_dir: str, seed: int, sf: float, dup_share: float = 0.05) -> dict:
    """Write the ten lake tables for scale factor ``sf``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_li = 4 * n_ord
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))
    _write(out_dir, "customer", pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)}))
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}))
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", pa.table({
        "p_partkey": pk,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)}))
    _write(out_dir, "orders", pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _day_range(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)}))
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _day_range(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_li)}))
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_ev)) + np.datetime64("2024-01-01", "us")
    _write(out_dir, "events", pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}))
    _write(out_dir, "documents", _documents(rng, n_docs, dup_share))
    _write(out_dir, "embeddings", _embeddings(rng, n_emb, dup_share))
    return {"lineitem": n_li, "events": n_ev, "documents": n_docs, "embeddings": n_emb}


# ---------------------------------------------------------------------------
# Live tick feed
# ---------------------------------------------------------------------------

BASE_MS = 1_700_000_000_000
CADENCE_MS = 250


def _phase(row: dict) -> str:
    if row["rugged"]:
        return "RUGGED"
    if row["active"]:
        return "ACTIVE"
    if row["allow_pre_round_buys"]:
        return "PRESALE"
    return "COOLDOWN"


@dataclass
class TickPlan:
    """A seeded multi-feed tick stream cut into files.

    ``rows_per_feed`` ticks per feed are laid out game after game
    (cooldown → presale → active with prices → one rug broadcast). A
    ``dup_share`` of rows is re-broadcast verbatim, a ``drop_share`` of
    active ticks is never sent and comes back in the next active tick's
    backfill arrays, and rows are shuffled inside each file (late /
    out-of-order arrival). Files hold ``ticks_per_file`` consecutive ticks
    of every feed, so a tick never arrives in a later file than a tick
    with a higher sequence number of the same feed.
    """

    seed: int
    n_feeds: int
    rows_per_feed: int
    ticks_per_file: int
    dup_share: float = 0.02
    drop_share: float = 0.02
    files: list[list[dict]] = field(default_factory=list)
    expected_phases: dict = field(default_factory=dict)
    expected_games: dict = field(default_factory=dict)
    expected_feeds: dict = field(default_factory=dict)
    n_rows: int = 0

    def __post_init__(self) -> None:
        rng = np.random.default_rng(self.seed)
        per_feed = [self._feed(rng, f) for f in range(self.n_feeds)]
        n_files = -(-self.rows_per_feed // self.ticks_per_file)
        for k in range(n_files):
            lo, hi = k * self.ticks_per_file, (k + 1) * self.ticks_per_file
            rows = [r for feed in per_feed for r in feed[lo:hi]]
            dups = [dict(r) for r in rows if rng.random() < self.dup_share]
            rows = rows + dups
            rng.shuffle(rows)
            self.files.append(rows)
            self.n_rows += len(rows)
            for r in rows:
                key = (r["session_id"], r["seq"])
                phase, n = self.expected_phases.get(key, (_phase(r), 0))
                self.expected_phases[key] = (phase, n + 1)

    def _feed(self, rng, f: int) -> list[dict]:
        sid = f"feed-{f}"
        out: list[dict] = []
        game, seq = 0, 0
        while seq < self.rows_per_feed:
            game += 1
            gid = f"g{self.seed}-{f}-{game}"
            n_cool = int(rng.integers(2, 6))
            n_pre = int(rng.integers(2, 6))
            n_act = int(rng.integers(40, 160))
            price = 1.0
            ticks, pending_bt, pending_bp = {}, [], []
            n_backfilled = 0
            plan = [("cool", None)] * n_cool + [("pre", None)] * n_pre
            plan += [("act", t) for t in range(n_act)] + [("rug", None)]
            for kind, t in plan:
                if seq >= self.rows_per_feed:
                    break
                row = {
                    "session_id": sid, "seq": seq, "ts_ms": BASE_MS + CADENCE_MS * seq,
                    "game_id": gid, "active": kind == "act", "rugged": kind == "rug",
                    "allow_pre_round_buys": kind == "pre",
                    "cooldown_timer": int(rng.integers(1, 10)) * 1000 if kind == "cool" else 0,
                    "price": None, "tick": None,
                    "server_seed": f"seed-{gid}" if kind == "rug" else None,
                    "backfill_ticks": None, "backfill_prices": None,
                }
                if kind == "act":
                    price = round(max(0.01, price * float(np.exp(rng.normal(0.002, 0.03)))), 6)
                    if 0 < t < n_act - 1 and rng.random() < self.drop_share:
                        # never sent; the next sent tick carries it back
                        pending_bt.append(t)
                        pending_bp.append(price)
                        ticks[t] = price
                        n_backfilled += 1
                        continue
                    row["price"], row["tick"] = price, t
                    ticks[t] = price
                    if pending_bt:
                        row["backfill_ticks"], row["backfill_prices"] = pending_bt, pending_bp
                        pending_bt, pending_bp = [], []
                out.append(row)
                seq += 1
            if ticks:
                self.expected_games[(sid, gid)] = (len(ticks), max(ticks.values()), n_backfilled)
        # the last game of a feed stays open: the sessionizer finalizes a
        # game only when the next game id arrives
        self.expected_games.pop((sid, gid), None)
        self.expected_feeds[sid] = (game, sum(1 for r in out if r["rugged"]))
        return out

    def write_file(self, path_dir: str, k: int) -> str:
        """Write file ``k`` atomically (rename into place) and return its path."""
        name = f"ticks_{k:06d}.json"
        tmp = os.path.join(path_dir, f".{name}.tmp")
        with open(tmp, "w") as fh:
            for r in self.files[k]:
                fh.write(json.dumps(r) + "\n")
        final = os.path.join(path_dir, name)
        os.rename(tmp, final)
        return final
