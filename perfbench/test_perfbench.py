"""Tests of the benchmark's own logic: percentiles, ratios, the reference
ledger, the input generator and span self time.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json

import numpy as np
import pytest

import reference as ref
import workload
from spans import PROBE, Tracer, rebuild_batch_spans


def test_percentile_rejects_empty_and_ignores_input_order():
    with pytest.raises(ValueError):
        ref.percentile([], 50)
    assert ref.percentile([3.0, 1.0, 2.0], 50) == 2.0
    assert ref.median([4, 1, 3, 2]) == 2.5


def test_ratio_of_empty_base_is_zero():
    assert ref.ratio(5, 0) == 0.0
    assert ref.ratio(6, 4) == 1.5


UPDATERS = [
    # trader, txnId, type, coinsDiff, sharesDiff, addBailout, fed, invest
    ("t1", "a", "MARKET", -5.0, 2, False, 0, 0),    # 5 coins, 7 shares
    ("t1", "b", "MARKET", -20.0, 3, False, 0, 0),   # rejected: coins
    ("t1", "c", "FEED", 0.0, -8, False, 8, 0),      # rejected: shares
    ("t1", "d", "MARKET", -4.0, -7, False, 0, 0),   # 1, 0 -> auto-bailout
    ("t2", "e", "INVEST", -2.0, 0, False, 0, 1),    # in flight 1
    ("t2", "f", "MARKET", -5.0, -5, False, 0, 1),   # broke, but in flight
    ("t1", "g", "BAILOUT", 10.0, 5, True, 0, 0),    # explicit bailout
]


def _events(rows):
    keys = ("trader", "txnId", "type", "coinsDiff", "sharesDiff",
            "addBailout", "fedMonkeys", "investDiff")
    return [dict(zip(keys, r)) for r in rows]


def test_reference_ledger_golden_sequence():
    expected, outcomes = ref.replay(_events(UPDATERS))
    assert expected["a"] == ("t1", "MARKET", "ACCEPTED", (5.0, 7, 0, 0, 0))
    assert expected["b"] == ("t1", "MARKET", "INSUFFICIENT_COINS", (5.0, 7, 0, 0, 0))
    assert expected["c"] == ("t1", "FEED", "INSUFFICIENT_SHARES", (5.0, 7, 0, 0, 0))
    assert expected["d"] == ("t1", "MARKET", "ACCEPTED", (11.0, 5, 1, 0, 0))
    assert expected["e"] == ("t2", "INVEST", "ACCEPTED", (8.0, 5, 0, 0, 1))
    # two investments in flight: no automatic bailout
    assert expected["f"] == ("t2", "MARKET", "ACCEPTED", (3.0, 0, 0, 0, 2))
    # an explicit bailout is never bailed out again
    assert expected["g"] == ("t1", "BAILOUT", "ACCEPTED", (21.0, 10, 2, 0, 0))
    assert outcomes == {"ACCEPTED": 5, "INSUFFICIENT_COINS": 1,
                        "INSUFFICIENT_SHARES": 1, "AUTO_BAILOUT": 1}


def test_auto_bailout_is_itself_validated():
    # 0 coins, -6 shares: the bailout would leave -1 shares, so it is not
    # applied and the update is rejected on shares.
    state, status, auto = ref.settle((2.0, 1, 0, 0, 0), "FEED", -2.0, -7,
                                     False, 7, 0)
    assert (state, status, auto) == ((2.0, 1, 0, 0, 0), "INSUFFICIENT_SHARES", False)


def test_count_failures_counts_missing_duplicate_wrong_and_unexpected():
    expected, _ = ref.replay(_events(UPDATERS[:3]))
    good = [(t, *expected[t]) for t in ("a", "b", "c")]
    assert ref.count_failures(expected, good) == 0
    assert ref.count_failures(expected, good[:2]) == 1                 # missing c
    assert ref.count_failures(expected, good + good[:1]) == 1          # duplicate a
    wrong = good[:2] + [("c", "t1", "FEED", "ACCEPTED", (5.0, 7, 0, 0, 0))]
    assert ref.count_failures(expected, wrong) == 1                    # wrong status
    extra = good + [("zz", "t9", "FEED", "ACCEPTED", (10.0, 5, 0, 0, 0))]
    assert ref.count_failures(expected, extra) == 1                    # unexpected


def test_canon_ignores_row_and_column_order():
    rows_a = [(1, "x", 0.5), (2, None, float("nan"))]
    rows_b = [(None, float("nan"), 2), ("x", 0.5, 1)]
    assert ref.canon(rows_a, ["id", "s", "v"]) == ref.canon(rows_b, ["s", "v", "id"])
    assert ref.norm(True) == "true"
    assert ref.norm([1.0, None]) == "[1.0,NULL]"


def test_ledger_events_are_seeded_ordered_and_reach_every_outcome():
    a = workload.ledger_events(3, 3000, 200)
    assert a == workload.ledger_events(3, 3000, 200)
    assert a != workload.ledger_events(4, 3000, 200)
    times = [e["time_ms"] for e in a]
    assert all(x < y for x, y in zip(times, times[1:]))
    ids = [e["txnId"] for e in a]
    assert ids == sorted(ids)
    _, outcomes = ref.replay(a)
    assert all(n > 0 for n in outcomes.values()), outcomes


def test_zipf_draws_are_skewed():
    rng = np.random.default_rng(1)
    draws = workload.trader_draws(rng, 20_000, 1000, zipf_s=1.1)
    counts = np.bincount(draws, minlength=1000)
    assert counts.max() > 20 * np.median(counts)


def test_wire_frame_round_trips():
    e = workload.ledger_events(1, 1, 5)[0]
    frame = json.loads(workload.wire_frame(e))
    key, value = json.loads(frame["key"]), json.loads(frame["value"])
    assert f"{key['team']}_{key['name']}" == e["trader"]
    assert value["txnId"] == e["txnId"]
    assert value["time"] == "2024-01-01T00:00:00.000Z"
    assert value["coinsDiff"] == e["coinsDiff"]


def test_self_time_subtracts_covered_child_intervals():
    t = Tracer(True)
    parent = t.add("p", "streaming.sources", 0.0, 10.0)
    t.add("c1", "model", 1.0, 4.0, parent=parent)
    t.add("c2", "model", 3.0, 5.0, parent=parent)  # overlaps c1
    t.add("c3", "model", 9.0, 12.0, parent=parent)  # runs past the parent
    self_s = t.self_times()
    assert self_s["streaming.sources"] == pytest.approx(10.0 - 4.0 - 1.0)
    assert self_s["model"] == pytest.approx(3.0 + 2.0 + 3.0)


def test_disabled_tracer_records_nothing():
    t = Tracer(False)
    with t.span("x", "session"):
        pass
    assert t.add("y", "model", 0.0, 1.0) == 0
    assert t.spans == []


def test_probe_spans_stay_out_of_self_time():
    t = Tracer(True)
    t.add("kernel", PROBE, 0.0, 5.0)
    t.add("call", "streaming.stateful", 0.0, 1.0)
    self_s = t.self_times()
    assert PROBE not in self_s
    assert self_s["streaming.stateful"] == pytest.approx(1.0)


def _sink_trace(cores):
    t = Tracer(True)
    sink = t.add("foreachBatch_sink", "streaming.sources", 100.0, 102.0,
                 batch=0, query="q")
    t.add("encode", "model", 100.0, 100.5, parent=sink)
    progress = [{"batchId": 0, "numInputRows": 10,
                 "timestamp": "1970-01-01T00:01:38.000Z",
                 "durationMs": {"triggerExecution": 4000, "addBatch": 2000},
                 "stateOperators": [{"allUpdatesTimeMs": 4000,
                                     "numShufflePartitions": 8}]}]
    rebuild_batch_spans(t, progress, "q", cores=cores)
    state = [s for s in t.spans if s["name"] == "state_updates"]
    assert len(state) == 1 and state[0]["parent"] == sink
    return t, state[0]


def test_state_updates_span_is_a_clipped_child_of_the_sink():
    # 4 s of task time over 4 cores, from the end of the encode call
    t, state = _sink_trace(cores=4)
    assert (state["start"], state["end"]) == (100.5, 101.5)
    self_s = t.self_times()
    assert self_s["streaming.stateful"] == pytest.approx(1.0)
    assert self_s["model"] == pytest.approx(0.5)
    # on one core the 4 s would outlast the sink, so they are clipped to it
    t, state = _sink_trace(cores=1)
    assert state["end"] == 102.0
    assert t.self_times()["streaming.stateful"] == pytest.approx(1.5)


def test_registry_tables_follow_the_measured_shape(tmp_path):
    import pyarrow.parquet as pq

    workload.registry_tables(5, str(tmp_path), 0.002)
    li = pq.read_table(tmp_path / "lineitem.parquet").to_pydict()
    ev = pq.read_table(tmp_path / "events.parquet").to_pydict()
    docs = pq.read_table(tmp_path / "documents.parquet").to_pydict()
    assert len(li["l_orderkey"]) == 12_000
    assert len(ev["event_id"]) == 2_000 and max(ev["user_id"]) < 30
    assert len(docs["doc_id"]) == 100
    assert min(li["l_extendedprice"]) >= 900.0 and max(li["l_extendedprice"]) <= 105_000.0
    assert set(ev["event_type"]) == set(workload.EVENT_TYPES)
    words = {w for text in docs["text"] for w in text.split()}
    assert words <= set(workload.WORDS) | {"dup"}
    for text in docs["text"]:
        n = len(text.split()) - text.endswith(" dup")
        assert 10 <= n <= 99
    assert docs["n_chars"] == [len(x) for x in docs["text"]]
