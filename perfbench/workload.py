"""Seeded input generators. The program under test only ever sees what
these produce: Kafka-wire frames of TraderStateUpdater events for the
ledger workloads, and parquet tables for the registry panel. The same
seed always yields the same inputs."""

from __future__ import annotations

import json
import os
import time

import numpy as np

TEAMS = ("ALOUATE", "BONOBO", "CAPUCIN", "DRILL", "SAGOUIN")
# Event time of update 0; update i is stamped EPOCH_MS + i, so event time
# increases strictly in generation order, inside and across files.
EPOCH_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z

# (kind, share of updates), from the program's own derivation of orders
# from events (plans.driver_queries: click -> BUY, view -> SELL, signup ->
# INVEST, purchase -> FEED, error dropped) over the five event types of
# its test data, which are near-equal (0.198-0.203 each), plus one ST8
# RETURN per INVEST. Explicit BAILOUT updates have no producer in the
# program; bailouts come from the ledger's automatic rule.
UPDATE_MIX = (("BUY", 0.2), ("SELL", 0.2), ("INVEST", 0.2),
              ("FEED", 0.2), ("RETURN", 0.2))
# p12_updaters fixes the market price at 2.0; ST8 returns about
# exp(0.035 + exp(-1)) = 1.5 times the invested coins to a fresh trader.
MARKET_PRICE = 2.0
RETURN_FACTOR = 1.5


def trader_names(n_traders):
    """(team, name) of each trader; names hold no ``_`` so the
    ``team_name`` key splits back unambiguously."""
    return [(TEAMS[i % len(TEAMS)], f"m{i:06d}") for i in range(n_traders)]


def trader_draws(rng, n_events, n_traders, zipf_s=None):
    """Trader index of each event: uniform, or Zipf(s) over a shuffled
    ranking when ``zipf_s`` is given (key skew)."""
    if zipf_s is None:
        return rng.integers(0, n_traders, n_events)
    weights = 1.0 / np.arange(1, n_traders + 1) ** zipf_s
    ranks = rng.choice(n_traders, n_events, p=weights / weights.sum())
    return rng.permutation(n_traders)[ranks]


def ledger_events(seed, n_events, n_traders, zipf_s=None):
    """``n_events`` TraderStateUpdater events in generation order. Each
    event's amounts come from an event value drawn like the test data's
    (exponential, mean 50, in cents) by the program's p12 rules: 1 + v mod 5
    shares, 1 + v mod 3 monkeys, v / 10 coins invested. Coin amounts are
    rounded to multiples of 0.25, so coin arithmetic is exact in binary
    floating point and the reference replay can compare states exactly."""
    rng = np.random.default_rng(seed % 2**63)
    names = trader_names(n_traders)
    who = trader_draws(rng, n_events, n_traders, zipf_s)
    kinds = rng.choice(len(UPDATE_MIX), n_events,
                       p=[share for _, share in UPDATE_MIX])
    value = np.round(rng.exponential(50.0, n_events), 2)
    whole = np.floor(value).astype(np.int64)
    shares = 1 + whole % 5
    monkeys = 1 + whole % 3
    invested = np.maximum(np.round(value / 10.0 * 4) / 4, 0.25)
    returned = np.maximum(np.round(invested * RETURN_FACTOR * 4) / 4, 0.25)
    events = []
    for i in range(n_events):
        kind = UPDATE_MIX[kinds[i]][0]
        team, name = names[who[i]]
        coins, nshares, fed, invest = 0.0, 0, 0, 0
        utype = kind
        if kind == "BUY":
            utype, coins, nshares = "MARKET", -int(shares[i]) * MARKET_PRICE, int(shares[i])
        elif kind == "SELL":
            utype, coins, nshares = "MARKET", int(shares[i]) * MARKET_PRICE, -int(shares[i])
        elif kind == "INVEST":
            coins, invest = -float(invested[i]), 1
        elif kind == "FEED":
            nshares, fed = -int(monkeys[i]), int(monkeys[i])
        else:  # RETURN
            coins, invest = float(returned[i]), -1
        events.append({
            "team": team, "name": name, "trader": f"{team}_{name}",
            "txnId": f"t{i:010d}", "type": utype, "time_ms": EPOCH_MS + i,
            "coinsDiff": coins, "sharesDiff": nshares, "addBailout": False,
            "fedMonkeys": fed, "investDiff": invest,
        })
    return events


def _iso(ms):
    sec, milli = divmod(ms, 1000)
    return time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(sec)) + f".{milli:03d}Z"


def wire_frame(e):
    """One Kafka-wire frame (JSON key and value strings) of an event."""
    key = json.dumps({"team": e["team"], "name": e["name"]},
                     separators=(",", ":"))
    value = json.dumps({
        "txnId": e["txnId"], "type": e["type"], "time": _iso(e["time_ms"]),
        "coinsDiff": e["coinsDiff"], "sharesDiff": e["sharesDiff"],
        "addBailout": e["addBailout"], "fedMonkeys": e["fedMonkeys"],
        "investDiff": e["investDiff"]}, separators=(",", ":"))
    return json.dumps({"key": key, "value": value}, separators=(",", ":"))


def file_payloads(events, per_file):
    """Newline-joined wire frames, ``per_file`` events per topic file."""
    return ["\n".join(wire_frame(e) for e in events[i:i + per_file]) + "\n"
            for i in range(0, len(events), per_file)]


class FileTopic:
    """A topic as a directory of frame files named by sequence number.
    Each file is written under a hidden name and renamed into place, so a
    listing never sees a partial file."""

    def __init__(self, path):
        self.path = path
        os.makedirs(path, exist_ok=True)

    def write(self, idx, payload, mtime=None):
        tmp = os.path.join(self.path, f".{idx:08d}.tmp")
        with open(tmp, "w") as f:
            f.write(payload)
        if mtime is not None:
            os.utime(tmp, (mtime, mtime))
        os.rename(tmp, os.path.join(self.path, f"{idx:08d}.json"))


# ---------------------------------------------------------------------------
# Registry tables
# ---------------------------------------------------------------------------

# The shape of the program's test tables, measured on its sf0.01 and sf0.1
# data sets (the figures of both agree after scaling):
#   rows per unit of scale factor: lineitem 6,000,000, events 1,000,000,
#   documents 50,000; users 15,000; parts 200,000; suppliers 10,000.
#   lineitem: orderkeys sorted over [0, rows / 4), line numbers 1-7,
#     quantity 1-50, discount 0.00-0.10, tax 0.00-0.08, extended price
#     uniform over 900-105,000 (median 52,923-53,029), return flag x line
#     status six near-equal cells, ship dates 1995-01-02 .. 2001-11-04.
#   events: ts over the 30 days from 2024-01-01, user ids uniform, the
#     five event types 0.198-0.203 each, value exponential with mean
#     49.6-49.9 (median 34.6-34.8) in cents, props '{"k": n}' over 100 n.
#   documents: 10-99 words drawn uniformly from a 30-word vocabulary, 5.1-5.2%
#     near-duplicates ending in " dup", languages en 0.41-0.44 and
#     zh/es/fr/de 0.13-0.15 each, source src<doc_id mod 20>.
ROWS_PER_SF = dict(lineitem=6_000_000, events=1_000_000, documents=50_000,
                   users=15_000, parts=200_000, suppliers=10_000)
WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = (("en", 0.42), ("zh", 0.15), ("es", 0.15), ("fr", 0.14), ("de", 0.14))
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
NEAR_DUP_SHARE = 0.05


def registry_tables(seed, out_dir, sf):
    """Write lineitem, events and documents parquet files at scale factor
    ``sf``, with the column types and value shapes of the program's test
    tables."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed % 2**63)
    os.makedirs(out_dir, exist_ok=True)
    size = {k: max(int(round(v * sf)), 1) for k, v in ROWS_PER_SF.items()}

    def put(name, columns):
        pq.write_table(pa.table(columns), os.path.join(out_dir, f"{name}.parquet"))

    n = size["lineitem"]
    ship = (np.datetime64("1995-01-02") + rng.integers(0, 2498, n).astype("timedelta64[D]"))
    put("lineitem", {
        "l_orderkey": pa.array(np.sort(rng.integers(0, max(n // 4, 1), n)), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, size["parts"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, size["suppliers"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64), pa.float64()),
        "l_extendedprice": pa.array(rng.integers(90_000, 10_500_001, n) / 100.0, pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0, pa.float64()),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n), pa.string()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n), pa.string()),
        "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us")),
    })

    n = size["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, n))
    put("events", {
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, size["users"], n), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n), pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
    })

    n = size["documents"]
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < NEAR_DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    put("documents", {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice([l for l, _ in LANGS], n,
                                    p=[p for _, p in LANGS]), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
