"""The ledger workload: the live ST6 settlement query fed by an open-loop
generator, then the same query draining a staged backlog.

Query (public entry points only): file topic of Kafka-wire frames ->
``streaming.sources.kafka_decode`` -> ``model.trader_key`` ->
``streaming.stateful.apply_per_event_stream(trader_ledger_step)`` ->
``TOPICS["txn-results"].encode`` -> foreachBatch append to an output
topic, one directory per micro-batch.
"""

from __future__ import annotations

import json
import os
import threading
import time

import reference as ref
import workload
from spans import PROBE, Tracer, rebuild_batch_spans, trigger_start

LEDGER_OUT = ("trader string, txnId string, type string, status string, "
              "coins double, shares int, bailouts int, fedMonkeys int, "
              "inFlightInvestments int")
LEDGER_STATE = ("coins double, shares int, bailouts int, fedMonkeys int, "
                "inFlightInvestments int")

LIVE_RATE = 2000          # events/s offered by the open loop
LIVE_TRADERS = 200
LIVE_SLOT_S = 0.05        # the generator appends one topic file per slot
LIVE_WARM_S = 1.0         # staged prefix the warm-up batch settles
LIVE_RAMP_S = 3.0         # open-loop seconds before latency is sampled
LIVE_LATE_LIMIT_S = 0.25  # generator p99 lateness above this voids the run

BACKFILL_TRADERS = 5_000
BACKFILL_ZIPF_S = 1.1
BACKFILL_FILE_EVENTS = 250
BACKFILL_BATCH_EVENTS = 2_500
BACKFILL_STAGE_RATE = 4000  # events/s of backlog staged per measured second
BACKFILL_MIN_BATCHES = 3    # the first, plus at least two timed batches

SETUP_REPS = 3
PROBE_EVENTS = 20_000     # backlog prefix the codec and kernel probes run on


class LedgerQuery:
    """One running ledger query with its own checkpoint and output topic."""

    def __init__(self, bench, topic_dir, tag, max_files=None, traced=False):
        from pyspark.sql import functions as F

        from mktd6_flink_spark.model import TOPICS, trader_key
        from mktd6_flink_spark.streaming import stateful
        from mktd6_flink_spark.streaming.sources import kafka_decode

        self.out_dir = os.path.join(bench.work, f"out-{tag}")
        self.sink_times: dict[int, tuple[float, float]] = {}
        # Set-up queries record no sink spans: batch ids repeat per query.
        tracer = bench.tracer if traced else Tracer(False)
        spark = bench.spark
        reader = spark.readStream.schema("key string, value string")
        if max_files:
            reader = reader.option("maxFilesPerTrigger", max_files)
        raw = reader.json(topic_dir)
        with bench.tracer.span("kafka_decode", "model"):
            updates = kafka_decode(raw, TOPICS["trader-state-updates"])
        with bench.tracer.span("apply_per_event_stream", "streaming.stateful"):
            settled = stateful.apply_per_event_stream(
                updates.select(
                    trader_key().alias("trader"), "txnId", "type", "time",
                    "coinsDiff", "sharesDiff", "addBailout", "fedMonkeys",
                    "investDiff"),
                ["trader"], ["time", "txnId"], stateful.trader_ledger_step,
                LEDGER_OUT, LEDGER_STATE,
                lambda s: (float(s[0]), int(s[1]), int(s[2]), int(s[3]), int(s[4])),
                lambda r: tuple(r))
        results = TOPICS["txn-results"]
        txn = settled.select(
            F.substring_index("trader", "_", 1).alias("team"),
            F.expr("substring(trader, instr(trader, '_') + 1)").alias("name"),
            "txnId", "type",
            F.struct(F.current_timestamp().alias("time"), "coins", "shares",
                     "bailouts", "fedMonkeys", "inFlightInvestments").alias("state"),
            "status")

        def sink(df, batch_id):
            start = time.time()
            with tracer.span("foreachBatch_sink", "streaming.sources",
                             batch=batch_id, query=tag):
                with tracer.span("encode", "model"):
                    frame = results.encode(df)
                frame.write.mode("overwrite").json(self.batch_dir(batch_id))
            self.sink_times[batch_id] = (start, time.time())

        self.query = (txn.writeStream.foreachBatch(sink)
                      .option("checkpointLocation",
                              os.path.join(bench.work, f"ckpt-{tag}"))
                      .start())

    def batch_dir(self, batch_id):
        return os.path.join(self.out_dir, f"b{batch_id:06d}")

    def progress(self):
        return [json.loads(p.json) for p in self.query.recentProgress]

    def wait_first_batch(self, timeout=120.0):
        """Block until the first micro-batch with input has committed."""
        deadline = time.time() + timeout
        while not any(p["numInputRows"] > 0 for p in self.progress()):
            if self.query.exception() is not None:
                raise RuntimeError(f"ledger query failed: {self.query.exception()}")
            if time.time() > deadline:
                raise TimeoutError(f"no batch committed after {timeout}s")
            time.sleep(0.01)

    def results(self, batch_ids):
        """Emitted TxnResults of the given batches as
        (batch, txnId, trader, type, status, state)."""
        out = []
        for b in batch_ids:
            d = self.batch_dir(b)
            for fn in sorted(os.listdir(d)):
                if not fn.startswith("part-"):
                    continue
                with open(os.path.join(d, fn)) as f:
                    for line in f:
                        frame = json.loads(line)
                        k, v = json.loads(frame["key"]), json.loads(frame["value"])
                        st = v["state"]
                        out.append((b, v["txnId"], f"{k['team']}_{k['name']}",
                                    v["type"], v["status"],
                                    (st["coins"], st["shares"], st["bailouts"],
                                     st["fedMonkeys"], st["inFlightInvestments"])))
        return out


def _check_mix(outcomes):
    missing = [k for k, n in outcomes.items() if n == 0]
    if missing:
        raise RuntimeError(f"generated mix never reaches {missing}")


def _setup(bench, topic_dir):
    """Set-up time: the session start plus the median of SETUP_REPS
    set-ups of the query, each on a fresh checkpoint and output topic and
    through its first committed batch. The first set-up also warms the
    JVM and the Python workers. Returns the last query, left running."""
    session_s = bench.start_session()
    times = []
    query = None
    for rep in range(SETUP_REPS):
        if query is not None:
            query.query.stop()
        last = rep == SETUP_REPS - 1
        t0 = time.perf_counter()
        query = LedgerQuery(bench, topic_dir, "live" if last else f"setup{rep}",
                            traced=last)
        query.wait_first_batch()
        times.append(time.perf_counter() - t0)
        bench.log(f"set-up {rep + 1}: {times[-1]:.2f}s")
    return query, session_s + ref.median(times)


def _stream_layer_metrics(progress, sink_times):
    """Per-layer figures of the micro-batch runtime and the state store,
    from the progress of batches that read input."""
    batches = [p for p in progress if p["numInputRows"] > 0]

    def p50(values):
        return ref.median(values) if values else 0.0

    def dur(key):
        return p50([p["durationMs"].get(key, 0) for p in batches])

    state = [p["stateOperators"][0] for p in batches if p.get("stateOperators")]
    rows_in = sum(p["numInputRows"] for p in batches)
    keys = sum(s["numRowsUpdated"] for s in state)
    updates_ms = sum(s["allUpdatesTimeMs"] for s in state)
    last = state[-1] if state else {}
    return {
        "stream.batches": len(batches),
        "stream.rows_per_batch_p50": p50([p["numInputRows"] for p in batches]),
        "stream.trigger_ms_p50": dur("triggerExecution"),
        "stream.add_batch_ms_p50": dur("addBatch"),
        "stream.get_batch_ms_p50": dur("getBatch"),
        "stream.latest_offset_ms_p50": dur("latestOffset"),
        "stream.query_planning_ms_p50": dur("queryPlanning"),
        "stream.wal_commit_ms_p50": dur("walCommit"),
        "stream.commit_offsets_ms_p50": dur("commitOffsets"),
        "sink.write_ms_p50": p50([(sink_times[p["batchId"]][1] - sink_times[p["batchId"]][0]) * 1000
                                  for p in batches if p["batchId"] in sink_times]),
        "state.rows_total": last.get("numRowsTotal", 0),
        "state.memory_bytes": last.get("memoryUsedBytes", 0),
        "state.commit_ms_p50": p50([s["commitTimeMs"] for s in state]),
        "state.updates_ms_per_batch_p50": p50([s["allUpdatesTimeMs"] for s in state]),
        "state.keys_updated_per_batch_p50": p50([s["numRowsUpdated"] for s in state]),
        "state.events_per_key_call": ref.ratio(rows_in, keys),
        "state.updates_ms_per_key": ref.ratio(updates_ms, keys),
    }


def _probe_layers(bench, events, payload_lines):
    """Direct calls into the codec and kernel layers on the run's own
    inputs: TopicDef decode/encode over static frames of its wire rows,
    and trader_ledger_step().vectorized over its per-trader frames."""
    import pandas as pd

    from mktd6_flink_spark.model import TOPICS
    from mktd6_flink_spark.streaming import stateful

    spark = bench.spark
    topic = TOPICS["trader-state-updates"]
    rows = [json.loads(line) for line in payload_lines]
    frames = spark.createDataFrame(rows, "key string, value string").cache()
    frames.count()
    with bench.tracer.span("decode_probe", PROBE, rows=len(rows)):
        t0 = time.perf_counter()
        decoded = topic.decode(frames)
        decoded.write.format("noop").mode("overwrite").save()
        decode_s = time.perf_counter() - t0
    decoded = decoded.cache()
    decoded.count()
    with bench.tracer.span("encode_probe", PROBE, rows=len(rows)):
        t0 = time.perf_counter()
        topic.encode(decoded).write.format("noop").mode("overwrite").save()
        encode_s = time.perf_counter() - t0
    decoded.unpersist()
    frames.unpersist()

    per_key: dict[str, list] = {}
    for e in events:
        per_key.setdefault(e["trader"], []).append(e)
    cols = ["txnId", "type", "coinsDiff", "sharesDiff", "addBailout",
            "fedMonkeys", "investDiff"]
    pdfs = [pd.DataFrame([{c: e[c] for c in cols} for e in evs]) for evs in per_key.values()]
    kernel = stateful.trader_ledger_step().vectorized
    with bench.tracer.span("ledger_kernel_probe", PROBE, keys=len(pdfs)):
        t0 = time.perf_counter()
        for pdf in pdfs:
            kernel(pdf, None)
        kernel_s = time.perf_counter() - t0
    return {
        "model.decode_rows_per_s": len(rows) / decode_s,
        "model.encode_rows_per_s": len(rows) / encode_s,
        "stateful.ledger_kernel_rows_per_s": len(events) / kernel_s,
    }


def _live_phase(query, topic, payloads, n_warm, per_file):
    """Open loop at LIVE_RATE events/s: file k holds the events due in slot
    k and is appended at the slot's end; open-loop event j is due at
    t0 + j / LIVE_RATE however late the generator or the query runs.
    Returns (t0, [(file, due, written)])."""
    warm_files = n_warm // per_file
    t0 = time.time() + 0.05
    written: list[tuple[int, float, float]] = []

    def generate():
        for k in range(warm_files, len(payloads)):
            due = t0 + (k - warm_files + 1) * LIVE_SLOT_S
            pause = due - time.time()
            if pause > 0:
                time.sleep(pause)
            topic.write(k, payloads[k])
            written.append((k, due, time.time()))

    gen = threading.Thread(target=generate, name="open-loop-generator")
    gen.start()
    gen.join()
    query.query.processAllAvailable()
    return t0, written


def _backfill_phase(bench, topic_dir, files_per_batch, total_batches):
    """Drain the staged backlog: start the query, let its first batch (which
    also pays the query start) commit, then measure ``bench.seconds``: once
    BACKFILL_MIN_BATCHES have run, stop when one more batch, as long as
    the last, would end more than the measured seconds after the first
    batch, and the last batch has committed.
    Returns (query, progress of the committed batches that read input)."""
    t_start = time.time()
    query = LedgerQuery(bench, topic_dir, "backfill", max_files=files_per_batch,
                        traced=True)
    deadline = t_start + 150
    while True:
        ends = sorted(e for _, e in query.sink_times.values())
        if len(ends) >= BACKFILL_MIN_BATCHES:
            step = ends[-1] - ends[-2]
            if ends[-1] + step - ends[0] > bench.seconds or len(ends) >= total_batches:
                break
        if query.query.exception() is not None or time.time() > deadline:
            raise RuntimeError(f"backfill stalled: {query.query.exception()}")
        time.sleep(0.02)
    last = max(query.sink_times)
    while (query.query.lastProgress or {}).get("batchId", -1) < last:
        time.sleep(0.01)
    query.query.stop()
    return query, [p for p in query.progress()
                   if p["numInputRows"] > 0 and p["batchId"] in query.sink_times]


def run(bench):
    """ledger: the live phase (open loop at LIVE_RATE events/s over
    LIVE_TRADERS) gives the latency metrics; the backfill phase (a staged
    backlog over BACKFILL_TRADERS Zipf-skewed traders, drained in
    BACKFILL_BATCH_EVENTS micro-batches) gives the throughput. Each phase
    measures ``bench.seconds``; both share one session and its set-up."""
    # Inputs and their reference results are built before anything is timed.
    per_file = int(LIVE_RATE * LIVE_SLOT_S)
    n_warm = int(LIVE_RATE * LIVE_WARM_S)
    n_ramp = int(LIVE_RATE * LIVE_RAMP_S)
    live_events = workload.ledger_events(bench.seed,
                                         n_warm + n_ramp + LIVE_RATE * bench.seconds,
                                         LIVE_TRADERS)
    live_payloads = workload.file_payloads(live_events, per_file)
    live_expected, outcomes = ref.replay(live_events)
    _check_mix(outcomes)

    files_per_batch = BACKFILL_BATCH_EVENTS // BACKFILL_FILE_EVENTS
    n_back = 2 * BACKFILL_BATCH_EVENTS + BACKFILL_STAGE_RATE * bench.seconds
    n_back -= n_back % BACKFILL_BATCH_EVENTS
    back_events = workload.ledger_events(bench.seed + 1_000_003, n_back,
                                         BACKFILL_TRADERS, zipf_s=BACKFILL_ZIPF_S)
    back_payloads = workload.file_payloads(back_events, BACKFILL_FILE_EVENTS)
    back_expected, outcomes = ref.replay(back_events)
    _check_mix(outcomes)

    # Distinct, increasing modification times: the file source admits the
    # oldest files first, so batches follow generation order.
    live_topic = workload.FileTopic(os.path.join(bench.work, "live-topic"))
    back_topic = workload.FileTopic(os.path.join(bench.work, "backfill-topic"))
    now = time.time()
    for i in range(n_warm // per_file):
        live_topic.write(i, live_payloads[i], mtime=now - 1000 + i)
    for i, payload in enumerate(back_payloads):
        back_topic.write(i, payload, mtime=now - len(back_payloads) + i)

    bench.log("inputs staged")
    live, setup_s = _setup(bench, live_topic.path)
    bench.log("set up")
    t0, written = _live_phase(live, live_topic, live_payloads, n_warm, per_file)
    bench.log("live phase drained")
    live_progress = [p for p in live.progress() if p["numInputRows"] > 0]
    bench.log("live batches (rows/s): " + " ".join(
        f"{p['numInputRows']}/{p['durationMs'].get('triggerExecution', 0) / 1000:.2f}"
        for p in live_progress))
    live.query.stop()

    back, back_progress = _backfill_phase(
        bench, back_topic.path, files_per_batch, len(back_payloads) // files_per_batch)
    bench.log("backfill phase stopped")

    # Correctness: every txnId of the live topic, and of the backfill files
    # the committed batches read, exactly once with the reference result.
    live_batches = sorted(live.sink_times)
    live_out = live.results(live_batches)
    failed = ref.count_failures(live_expected, [r[1:] for r in live_out])
    back_ids = [p["batchId"] for p in back_progress]
    back_done = back_events[:BACKFILL_BATCH_EVENTS * len(back_ids)]
    back_expected = {e["txnId"]: back_expected[e["txnId"]] for e in back_done}
    failed += ref.count_failures(back_expected,
                                 [r[1:] for r in back.results(back_ids)])
    failed += sum(p["numInputRows"] != BACKFILL_BATCH_EVENTS for p in back_progress)

    bench.log(f"outputs checked: {failed} failed")
    emit_end = {b: live.sink_times[b][1] for b in live_batches}
    # Latency is sampled once the open loop has run LIVE_RAMP_S, so the
    # batches that follow the set-up's catch-up are left out.
    lat = [emit_end[b] - (t0 + (int(t[1:]) - n_warm) / LIVE_RATE)
           for b, t, *_ in live_out if int(t[1:]) >= n_warm + n_ramp]
    late = [w - d for _, d, w in written]
    bench.valid = ref.percentile(late, 99) <= LIVE_LATE_LIMIT_S
    # The first batch also pays the query start; the rate is taken over
    # the batches after it.
    timed = back_progress[1:]
    t_first = back.sink_times[back_progress[0]["batchId"]][1]
    t_end = back.sink_times[timed[-1]["batchId"]][1] if timed else t_first
    result = {
        "attempted": len(live_events) + len(back_done), "failed": failed,
        "setup_s": setup_s,
        "latency_p50_s": ref.percentile(lat, 50),
        "latency_p90_s": ref.percentile(lat, 90),
        "throughput_per_s": ref.ratio(sum(p["numInputRows"] for p in timed), t_end - t_first),
    }
    if bench.tracer.enabled:
        last_file: dict[int, int] = {}
        for b, t, *_ in live_out:
            last_file[b] = max(last_file.get(b, -1), int(t[1:]) // per_file)
        lags = [sum(1 for _, _, w in written if w <= emit_end[b]) + n_warm // per_file
                - (last_file[b] + 1) for b in live_batches if b in last_file and b > 0]
        layers = {}
        for tag, query, progress in (("live", live, live_progress),
                                     ("backfill", back, back_progress)):
            progress = bench.listener_progress(query.query.id, len(progress))
            rebuild_batch_spans(bench.tracer, progress, tag,
                                bench.spark.sparkContext.defaultParallelism)
            for k, v in _stream_layer_metrics(progress, query.sink_times).items():
                layers[f"{tag}.{k}"] = v
        layers["live.source.lag_files_p50"] = ref.median(lags) if lags else 0.0
        layers["backfill.source.lag_files_p50"] = ref.median(
            [len(back_payloads) - (i + 1) * files_per_batch for i in range(len(back_ids))])
        layers["live.gen.late_p99_s"] = ref.percentile(late, 99)
        layers["backfill.batch_s_p50"] = ref.median(
            [back.sink_times[p["batchId"]][1] - trigger_start(p) for p in back_progress])
        # The probes take a fixed prefix of the staged backlog, however many
        # batches drained.
        lines = [line for p in back_payloads for line in p.splitlines()][:PROBE_EVENTS]
        layers.update(_probe_layers(bench, back_events[:PROBE_EVENTS], lines))
        result["layers"] = layers
    return result
