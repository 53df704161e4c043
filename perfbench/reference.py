"""Pure reference logic of the exchange benchmark: its own copy of the
TraderStateUpdater settlement rules, the percentile and ratio helpers
every metric goes through, and the canonical row normalisation used to
compare registry results with their DuckDB oracles.

Nothing here imports the program under test, so the checks stay
independent of the code they judge.
"""

from __future__ import annotations

import datetime
import math

import numpy as np

INITIAL_STATE = (10.0, 5, 0, 0, 0)  # coins, shares, bailouts, fedMonkeys, inFlight
STATUSES = ("ACCEPTED", "INSUFFICIENT_COINS", "INSUFFICIENT_SHARES")


def settle(state, utype, coins_diff, shares_diff, add_bailout, fed_monkeys,
           invest_diff):
    """One TraderStateUpdater.update(): apply the deltas, bail the trader
    out when a non-BAILOUT update leaves no investments in flight, at most
    3 coins and no shares (the bailout itself is validated), then validate.
    A rejected update leaves the prior state. Returns
    (new_state, status, auto_bailout)."""
    coins, shares, bailouts, fed, inflight = state
    new_coins = coins + coins_diff
    new_shares = shares + shares_diff
    new_bailouts = bailouts + (1 if add_bailout else 0)
    new_fed = fed + fed_monkeys
    new_inflight = inflight + invest_diff
    auto = False
    if (utype != "BAILOUT" and new_inflight <= 0 and new_coins <= 3.0
            and new_shares <= 0
            and new_coins + 10.0 >= 0 and new_shares + 5 >= 0):
        new_coins += 10.0
        new_shares += 5
        new_bailouts += 1
        auto = True
    if new_coins < 0:
        return state, "INSUFFICIENT_COINS", False
    if new_shares < 0:
        return state, "INSUFFICIENT_SHARES", False
    return (new_coins, new_shares, new_bailouts, new_fed, new_inflight), \
        "ACCEPTED", auto


def replay(events):
    """Settle ``events`` (dicts with trader, txnId and the updater fields)
    per trader in the given order. Returns ({txnId: (trader, type, status,
    state)}, {outcome: count}) where outcomes are the three statuses plus
    ``AUTO_BAILOUT``."""
    states: dict[str, tuple] = {}
    expected = {}
    outcomes = dict.fromkeys(STATUSES + ("AUTO_BAILOUT",), 0)
    for e in events:
        trader = e["trader"]
        new, status, auto = settle(
            states.get(trader, INITIAL_STATE), e["type"], e["coinsDiff"],
            e["sharesDiff"], e["addBailout"], e["fedMonkeys"],
            e["investDiff"])
        states[trader] = new
        expected[e["txnId"]] = (trader, e["type"], status, new)
        outcomes[status] += 1
        outcomes["AUTO_BAILOUT"] += auto
    return expected, outcomes


def count_failures(expected, emitted):
    """Compare emitted TxnResults ``[(txnId, trader, type, status, state)]``
    with the reference. Every expected txnId must come out exactly once
    with the reference trader, type, status and post-state; each missing,
    duplicated, wrong or unexpected txnId counts once."""
    seen: dict[str, int] = {}
    failed = 0
    for txn_id, trader, utype, status, state in emitted:
        seen[txn_id] = seen.get(txn_id, 0) + 1
        if seen[txn_id] > 1:
            failed += 1
            continue
        if expected.get(txn_id) != (trader, utype, status, tuple(state)):
            failed += 1
    failed += sum(1 for t in expected if t not in seen)
    return failed


def percentile(values, q):
    """Linear-interpolated percentile (``q`` in [0, 100]) of a non-empty
    sequence."""
    if len(values) == 0:
        raise ValueError("percentile of no values")
    return float(np.percentile(values, q))


def median(values):
    return percentile(values, 50)


def ratio(num, den):
    """``num / den`` with an empty base reading as 0, for rates taken over
    sets that a bypassed layer leaves empty."""
    return num / den if den else 0.0


def norm(v):
    """Canonical text of one value, the registry gate's normalisation."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm(x) for x in v) + "]"
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def canon(rows, cols):
    """Order-free canonical multiset of ``rows``: columns sorted by name,
    rows sorted by their normalised values."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm(r[i]) for i in order) for r in rows)
