"""The three workloads. Each takes a :class:`perfbench.harness.Run` and
returns ``(e2e, layers, attempted, failed, notes)``.

Streams run a closed loop with one delta in flight: the generator appends
one delta of ``DELTA_ROWS`` well-formed records (plus planted malformed ones)
to a 4-partition ``filebroker`` topic through the package's producer,
published whole (:func:`_publish`), waits until the sink has committed it
(``processAllAvailable``), checks it, then appends the next. The first delta
is the cold start (``first_delta_s``); the timed phase is the ``n_deltas``
after it and the untimed warm-up deltas.
"""

from __future__ import annotations

import glob
import importlib.util
import json
import os
import random
import sys
import time
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import datagen
from perfbench.harness import median
from perfbench.tracing import (TracedFileBrokerDataSource,
                               TracedTableSinkDataSource, event_log_bytes,
                               spans_between)

DELTA_ROWS = 5_000
TOPIC, PARTITIONS = "events", 4
#: append-to-commit cycle per warm delta measured when the benchmark was
#: defined (4 cpus). It only sizes the timed phase, so that at that speed the
#: phase lasts about ``--seconds``; both sides of an A/B run the same deltas.
NOMINAL_CYCLE_S = {"ingest": 1.25, "changelog": 14.0}
MIN_DELTAS = 2
#: untimed deltas between the cold first delta and the timed phase: the
#: first warm deltas of a run still speed up (on ingest, from about 1.3 s to
#: a level about 20% lower, reached after six to eight)
WARMUP_DELTAS = {"ingest": 6, "changelog": 0}
#: micro-batch phases reported per delta, from StreamingQueryProgress.durationMs
PHASES = {"latestOffset": "stream.latest_offset_ms",
          "queryPlanning": "stream.query_planning_ms",
          "addBatch": "stream.add_batch_ms",
          "walCommit": "stream.wal_commit_ms",
          "commitOffsets": "stream.commit_offsets_ms"}

#: batch_queries: four build-bound (serial driver jobs) and four exec-bound
QUERIES = ("kcore", "dedup_clusters", "ann_ivf_trained_recall",
           "cluster_balanced_sample", "bpe_encode", "bootstrap_ci",
           "multiway_join", "wordcount")
#: tables each query reads, for rows_per_s
QUERY_INPUTS = {
    "kcore": ("lineitem",), "dedup_clusters": ("documents",),
    "ann_ivf_trained_recall": ("embeddings",),
    "cluster_balanced_sample": ("embeddings",), "bpe_encode": ("documents",),
    "bootstrap_ci": ("orders",), "wordcount": ("documents",),
    "multiway_join": ("lineitem", "orders", "customer", "supplier", "nation",
                      "region"),
}
BATCH_SF = 0.01
STREAM_SF = 0.1


#: traced runs: the range ``trace.accounted_share`` must fall in, else the
#: accounting check fails (see NOTES.md)
ACCOUNTED_TOLERANCE = {"ingest": (0.90, 1.05), "changelog": (0.85, 1.05),
                       "batch_queries": (0.98, 1.00)}


def n_deltas(run) -> int:
    return max(MIN_DELTAS, round(run.seconds / NOMINAL_CYCLE_S[run.workload]))


def planned_deltas(run) -> int:
    """Deltas a stream run appends: the cold one, the warm-up, the timed."""
    return 1 + WARMUP_DELTAS[run.workload] + n_deltas(run)


def check_accounted(workload: str, share: float, notes: list,
                    label: str = "trace.accounted_share") -> int:
    """1 (a failed check) when ``share`` is outside its workload's tolerance."""
    lo, hi = ACCOUNTED_TOLERANCE[workload]
    if lo <= share <= hi:
        return 0
    notes.append(f"{label} {share:.4f} is outside {lo}-{hi}: the traced layers "
                 "do not explain the end-to-end time")
    return 1


# ---------------------------------------------------------------------------
# streams: shared loop
# ---------------------------------------------------------------------------


def _register_sources(spark, trace: bool) -> None:
    from kafka_connect_streams_spark.sources import filebroker, python_datasink
    if trace:
        spark.dataSource.register(TracedFileBrokerDataSource)
        spark.dataSource.register(TracedTableSinkDataSource)
    else:
        filebroker.register(spark)
        python_datasink.register(spark)


def _raw_stream(run, spark, broker_root: str, cap: int | None = None):
    r = (spark.readStream.format("filebroker").option("path", broker_root)
         .option("subscribe", TOPIC))
    if cap:
        r = r.option("maxOffsetsPerTrigger", cap)
    if run.trace:
        r = r.option("spans", run.tracer.spans_dir)
    return r.load()


def _batch_progress(q, after: int) -> list:
    """Progress of the batches after ``after`` that processed data, one per
    batch id (idle triggers also post progress and are skipped)."""
    by_id = {}
    for p in q.recentProgress:
        if p.batchId > after and "addBatch" in p.durationMs:
            by_id[p.batchId] = p
    return [by_id[b] for b in sorted(by_id)]


def _stream_loop(run, writer, broker, check_delta):
    """Append deltas in a closed loop. The query is started from ``writer``
    once the first delta is in the topic, so the first delta's time is the
    cold start. Returns (query, deltas, failed_indices, error); each delta
    dict carries its timings, progress and wall window. When the query dies,
    the delta it died on and every planned delta after it fail."""
    from kafka_connect_streams_spark.sources.filebroker import FileBroker
    feed = datagen.EventFeed(run.seed, DELTA_ROWS)
    producer = FileBroker(_staging(broker)).producer()
    deltas, failed, error = [], [], None
    last_batch, q = -1, None
    for i in range(planned_deltas(run)):
        d = feed.delta()
        if q is not None:
            _await_idle(q)
        t0 = time.perf_counter()
        for key, value, ts in d.records:
            producer.send(TOPIC, value, key=key, timestamp_ms=ts)
        _publish(broker, producer.flush())
        t1, w1 = time.perf_counter(), time.time()
        try:
            if q is None:
                q = writer.start()
            q.processAllAvailable()
        except Exception as ex:  # the query died: this and later deltas fail
            error = f"delta {i}: {type(ex).__name__}: {str(ex)[:500]}"
            failed.extend(range(i, planned_deltas(run)))
            deltas.append({"delta": d, "produce_s": t1 - t0, "commit_s": None})
            break
        t2, w2 = time.perf_counter(), time.time()
        progress = _batch_progress(q, last_batch)
        if progress:
            last_batch = progress[-1].batchId
        rec = {"delta": d, "produce_s": t1 - t0, "commit_s": t2 - t1,
               "window": (w1, w2), "progress": progress}
        deltas.append(rec)
        if not check_delta(i, rec):
            failed.append(i)
    return q, deltas, failed, error


def _await_idle(q, timeout_s: float = 60.0) -> None:
    """Wait until the query is polling the topic for new data, so every delta
    arrives at a live, idle pipeline (post-commit housekeeping has ended)."""
    deadline = time.monotonic() + timeout_s
    while (q.status["message"] != "Waiting for data to arrive"
           and time.monotonic() < deadline):
        time.sleep(0.002)


def _timed(run, deltas) -> list[dict]:
    """The deltas of the timed phase that committed."""
    return [d for d in deltas[1 + WARMUP_DELTAS[run.workload]:]
            if d["commit_s"] is not None]


def _stream_e2e(run, deltas, setup_s) -> dict:
    timed = _timed(run, deltas)
    wall = sum(d["produce_s"] + d["commit_s"] for d in timed)
    run.unit_s = [d["commit_s"] for d in timed]
    return {
        "setup_s": setup_s,
        "first_delta_s": deltas[0]["commit_s"] or 0.0,
        "delta_p50_s": median(d["commit_s"] for d in timed),
        "rows_per_s": DELTA_ROWS * len(timed) / wall if wall else 0.0,
        "wall_s": wall,
    }


def _stream_layers(run, deltas) -> dict:
    """Per-delta medians of the micro-batch phases and connector spans."""
    timed = _timed(run, deltas)
    out = {"sources.filebroker.produce_s": median(d["produce_s"] for d in timed),
           "stream.batches_per_delta": median(len(d["progress"]) for d in timed)}
    for key, name in PHASES.items():
        out[name] = median(sum(p.durationMs.get(key, 0) for p in d["progress"])
                           for d in timed)
    out["sources.filebroker.read_s"] = _span_median(
        run, "sources.filebroker.read", [d["window"] for d in timed])
    return out


def _span_median(run, name: str, windows, attr: str | None = None) -> float:
    """Median over the windows of the summed duration (or ``attr``) of the
    spans called ``name`` that started in each window."""
    spans = run.tracer.spans + run.tracer.worker_spans()
    return median(sum(s[attr] if attr else s["end"] - s["start"]
                      for s in spans_between(spans, name, *w)) for w in windows)


def _sink_layers(run, windows) -> dict:
    return {
        "sources.python_datasink.write_s": _span_median(
            run, "sources.python_datasink.write", windows),
        "sources.python_datasink.commit_s": _span_median(
            run, "sources.python_datasink.commit", windows),
        "sources.python_datasink.files": _span_median(
            run, "sources.python_datasink.commit", windows, "files"),
    }


def _setup_topic(run):
    """The live topic the query reads, and its staging copy (:func:`_publish`)."""
    from kafka_connect_streams_spark.sources.filebroker import FileBroker
    broker = FileBroker(os.path.join(run.work, "broker"))
    for root in (broker.root, _staging(broker)):
        FileBroker(root).create_topic(TOPIC, PARTITIONS)
    return broker


def _staging(broker) -> str:
    return broker.root + "-staging"


def _publish(broker, flushed: dict) -> None:
    """Hard-link the segments one producer flush wrote into the staging topic
    into the live one. The producer writes its partition segments one after
    another, and a query polling the live topic would often see a delta in
    two parts, as two micro-batches. The links take microseconds, so the
    query sees each delta whole, like a transactional producer's commit. The
    staging topic keeps every segment, so the producer's offsets stay those
    of the live topic."""
    for (topic, p), (base, last) in flushed.items():
        name = os.path.join(topic, f"p{p}", f"{base}-{last}.parquet")
        os.link(os.path.join(_staging(broker), name),
                os.path.join(broker.root, name))


def _decode_layer(run, broker, deltas, notes: list) -> tuple[dict, set]:
    """Batch noop evaluation of ``decode_records`` over the whole topic minus
    a raw read of it (median of 3 each), and the malformed records dropped,
    which must equal the number planted (else every delta fails)."""
    from pyspark.sql.types import _parse_datatype_string
    from kafka_connect_streams_spark.sources.kafka import decode_records
    spark = run.spark
    raw = (spark.read.format("filebroker").option("path", broker.root)
           .option("subscribe", TOPIC).load())
    decoded = decode_records(raw, _parse_datatype_string(datagen.EVENT_DDL))

    def noop(df) -> float:
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0
    noop(raw)
    raw_s = median(noop(raw) for _ in range(3))
    dec_s = median(noop(decoded) for _ in range(3))
    dropped = raw.count() - decoded.count()
    planted = sum(d["delta"].malformed for d in deltas)
    failed = set()
    if dropped != planted:
        notes.append(f"decode dropped {dropped} records, {planted} malformed "
                     "were planted")
        failed = set(range(len(deltas)))
    return {"sources.kafka.decode_s": dec_s - raw_s,
            "sources.kafka.malformed_dropped": dropped}, failed


# ---------------------------------------------------------------------------
# ingest: decode -> KSQL CREATE STREAM + CSAS (WHERE value > 50) -> table_sink
# ---------------------------------------------------------------------------

_CREATE = ("CREATE STREAM events_s (EVENT_ID bigint, TS bigint, USER_ID bigint, "
           "EVENT_TYPE varchar, VALUE double, PROPS varchar) "
           "WITH (kafka_topic='events', value_format='JSON', key='user_id')")
_CSAS = ("CREATE STREAM big_events AS SELECT event_id, user_id, event_type, "
         "value FROM events_s WHERE value > 50")


def _ingest_pipeline(run, spark, broker, name: str):
    """decode -> KSQL CREATE STREAM + CSAS -> table_sink, unstarted.
    Returns (writer, sink dir, KSQL planning seconds)."""
    from pyspark.sql.types import _parse_datatype_string
    from kafka_connect_streams_spark.sources.kafka import decode_records
    from kafka_connect_streams_spark.sql.ksql import KsqlContext
    decoded = decode_records(_raw_stream(run, spark, broker.root),
                             _parse_datatype_string(datagen.EVENT_DDL))
    ctx = KsqlContext(spark, resolver=lambda topic: decoded)
    t0 = time.perf_counter()
    ctx.sql(_CREATE)
    out = ctx.sql(_CSAS)
    plan_s = time.perf_counter() - t0
    sink = os.path.join(run.work, f"{name}-sink")
    os.makedirs(sink)
    w = (out.writeStream.format("table_sink").option("path", sink)
         .option("checkpointLocation", os.path.join(run.work, f"{name}-ckpt")))
    if run.trace:
        w = w.option("spans", run.tracer.spans_dir)
    return w, sink, plan_s


def ingest(run):
    """The stateless connector path. Traced runs also run the changelog
    pipeline once over the filled topic (:func:`_changelog_leg`)."""
    broker = _setup_topic(run)
    jvm_s = run.launch_jvm()

    def build(spark, i):
        _register_sources(spark, run.trace)
        w, sink, plan_s = _ingest_pipeline(run, spark, broker, f"ingest{i}")
        return (w, sink), {"sql.ksql.plan_s": plan_s}

    (writer, sink), setup_s, layers = run.repeated_setup(build)
    q, deltas, failed, error = _stream_loop(run, writer, broker,
                                            lambda i, rec: True)
    notes = [error] if error else []
    failed = set(failed) | _check_ingest(sink, deltas, notes)
    e2e = _stream_e2e(run, deltas, setup_s)
    layers.update(run.memory())
    attempted, bad_checks = planned_deltas(run), 0
    if run.trace:
        timed = _timed(run, deltas)
        layers.update(_stream_layers(run, deltas))
        layers.update(_sink_layers(run, [d["window"] for d in timed]))
        # share of each delta's time that its batches' phases explain
        layers["trace.accounted_share"] = median(
            sum(p.durationMs.get(k, 0) for p in d["progress"] for k in PHASES)
            / 1000 / d["commit_s"] for d in timed)
        if q is not None:
            q.stop()
        for extra in (_decode_layer, _changelog_leg):
            more, bad = extra(run, broker, deltas, notes)
            layers.update(more)
            failed |= bad
        # the two accounting checks count as attempted units of their own
        attempted += 2
        bad_checks = (check_accounted("ingest", layers["trace.accounted_share"], notes)
                      + check_accounted("changelog",
                                        layers["trace.changelog_accounted_share"],
                                        notes, "trace.changelog_accounted_share"))
    layers["engine.jvm_launch_s"] = jvm_s
    return e2e, layers, attempted, len(failed) + bad_checks, notes


def _check_ingest(sink: str, deltas, notes: list) -> set:
    """Failed delta indices: each delta's delivered rows must equal its
    well-formed rows with ``value > 50`` (pyarrow filter of what was
    produced), with no event delivered twice and manifests agreeing."""
    files = sorted(glob.glob(os.path.join(sink, "part-*.parquet")))
    got = (pa.concat_tables([pq.read_table(f) for f in files]) if files
           else pa.table({"event_id": pa.array([], pa.int64()),
                          "user_id": pa.array([], pa.int64()),
                          "value": pa.array([], pa.float64())}))
    got_rows = sorted(zip(got.column("event_id").to_pylist(),
                          got.column("user_id").to_pylist(),
                          got.column("value").to_pylist()))
    owner = {}
    for i, rec in enumerate(deltas):
        for e in rec["delta"].event_id.tolist():
            owner[e] = i
    by_delta: dict[int, list] = {}
    failed = set()
    seen = set()
    for row in got_rows:
        if row[0] in seen or row[0] not in owner:
            notes.append(f"event {row[0]} delivered twice or never produced")
            failed.add(owner.get(row[0], 0))
        seen.add(row[0])
        by_delta.setdefault(owner.get(row[0], -1), []).append(row)
    for i, rec in enumerate(deltas):
        d = rec["delta"]
        keep = d.value > 50
        want = sorted(zip(d.event_id[keep].tolist(), d.user_id[keep].tolist(),
                          d.value[keep].tolist()))
        if rec["commit_s"] is not None and by_delta.get(i, []) != want:
            notes.append(f"delta {i}: delivered {len(by_delta.get(i, []))} rows, "
                         f"expected {len(want)}")
            failed.add(i)
    manifest_rows = 0
    for m in glob.glob(os.path.join(sink, "_commits", "*.json")):
        with open(m) as f:
            manifest_rows += json.load(f)["rows"]
    if manifest_rows != got.num_rows:
        notes.append(f"manifests count {manifest_rows} rows, table has {got.num_rows}")
        failed |= set(range(len(deltas)))
    return failed


# ---------------------------------------------------------------------------
# changelog: decode -> running_count(rowkey) -> foreachBatch parquet upsert
# ---------------------------------------------------------------------------

#: capped micro-batches the changelog leg of a traced ingest run takes
LEG_BATCHES = 3


def _traced_writer(run, writer):
    """foreachBatch wrapper: persist and count the batch (the state operator
    runs here), then call the writer, with one span each."""
    tracer = run.tracer

    def write(df, epoch: int) -> None:
        tracker = df.sparkSession.sparkContext.statusTracker()
        t0 = time.time()
        df.persist()
        rows = df.count()
        t1 = time.time()
        tracer.span("streaming.state.op", t0, t1, epoch=epoch, rows=rows)
        # the batch's jobs run in the query's job group
        group = df.sparkSession.sparkContext.getLocalProperty("spark.jobGroup.id")
        before = len(tracker.getJobIdsForGroup(group))
        writer(df, epoch)
        t2 = time.time()
        tracer.span("sources.sinks.upsert", t1, t2, epoch=epoch,
                    jobs=len(tracker.getJobIdsForGroup(group)) - before)
        df.unpersist()
    return write


def _changelog_pipeline(run, spark, broker, name: str, cap: int | None = None):
    """decode -> running_count(rowkey) -> foreachBatch upsert, unstarted.
    Returns (writer, upsert table dir)."""
    from pyspark.sql.types import _parse_datatype_string
    from kafka_connect_streams_spark.sources.kafka import decode_records
    from kafka_connect_streams_spark.sources.sinks import parquet_upsert_writer
    from kafka_connect_streams_spark.streaming.state import running_count
    decoded = decode_records(_raw_stream(run, spark, broker.root, cap),
                             _parse_datatype_string(datagen.EVENT_DDL))
    table = os.path.join(run.work, f"{name}-table")
    writer = parquet_upsert_writer(table, ["key"])
    if run.trace:
        writer = _traced_writer(run, writer)
    w = (running_count(decoded, "rowkey").writeStream.outputMode("update")
         .foreachBatch(writer)
         .option("checkpointLocation", os.path.join(run.work, f"{name}-ckpt")))
    return w, table


def _count_diff(table: str, expected: Counter) -> int:
    """Keys whose ``cnt`` in the upsert table differs from ``expected``."""
    got = pq.read_table(table).to_pydict() if os.path.isdir(table) else {}
    counts = dict(zip(got.get("key", []), got.get("cnt", [])))
    return sum(1 for k in set(counts) | set(expected)
               if counts.get(k) != expected.get(k))


def _state_layers(progress) -> dict:
    ops = progress[-1].stateOperators if progress else []
    return {
        "streaming.state.rows_total": sum(o.numRowsTotal for o in ops),
        "streaming.state.memory_bytes": sum(o.memoryUsedBytes for o in ops),
        "streaming.state.commit_ms": sum(o.commitTimeMs for o in ops),
        "streaming.state.store_instances": sum(o.numStateStoreInstances for o in ops),
    }


def _table_rows(table: str) -> int:
    return sum(pq.read_metadata(f).num_rows
               for f in glob.glob(os.path.join(table, "*.parquet")))


def changelog(run):
    """The keyed count as a workload of its own."""
    broker = _setup_topic(run)
    jvm_s = run.launch_jvm()

    def build(spark, i):
        _register_sources(spark, run.trace)
        return _changelog_pipeline(run, spark, broker, f"changelog{i}"), {}

    (writer, table), setup_s, layers = run.repeated_setup(build)
    expected: Counter = Counter()
    notes: list = []

    def check(i, rec) -> bool:
        expected.update(str(u) for u in rec["delta"].user_id.tolist())
        bad = _count_diff(table, expected)
        if bad:
            notes.append(f"delta {i}: {bad} keys differ from the pyarrow group-by")
        return not bad

    _, deltas, failed, error = _stream_loop(run, writer, broker, check)
    if error:
        notes.append(error)
    e2e = _stream_e2e(run, deltas, setup_s)
    layers.update(run.memory())
    attempted, bad_checks = planned_deltas(run), 0
    if run.trace:
        layers.update(_stream_layers(run, deltas))
        layers.update(_changelog_layers(run, deltas, table))
        attempted += 1  # the accounting check
        bad_checks = check_accounted("changelog", layers["trace.accounted_share"],
                                     notes)
    layers["engine.jvm_launch_s"] = jvm_s
    return e2e, layers, attempted, len(failed) + bad_checks, notes


def _changelog_layers(run, deltas, table: str) -> dict:
    """Per-delta state op and upsert, and how much of each delta the
    blocking path explains."""
    timed = _timed(run, deltas)
    spans = run.tracer.spans
    op = [sum(s["end"] - s["start"] for s in
              spans_between(spans, "streaming.state.op", *d["window"])) for d in timed]
    up = [spans_between(spans, "sources.sinks.upsert", *d["window"]) for d in timed]
    upsert = [sum(s["end"] - s["start"] for s in u) for u in up]
    # blocking path of a delta: the non-addBatch phases of its batches plus
    # the state op and the upsert, which make up addBatch
    other = [sum(p.durationMs.get(k, 0) for p in d["progress"]
                 for k in PHASES if k != "addBatch") / 1000 for d in timed]
    return {
        "streaming.state.op_s": median(op),
        "sources.sinks.upsert_s": median(upsert),
        "sources.sinks.jobs": median(s["jobs"] for u in up for s in u),
        "sources.sinks.table_rows": _table_rows(table),
        "trace.accounted_share": median(
            (o + u + x) / d["commit_s"] for o, u, x, d in zip(op, upsert, other, timed)),
        **_state_layers(deltas[-1].get("progress")),
    }


def _changelog_leg(run, broker, deltas, notes: list) -> tuple[dict, set]:
    """The changelog pipeline over the topic a traced ingest run filled, in
    :data:`LEG_BATCHES` capped micro-batches. Its state op and upsert figures
    are medians per micro-batch over all but the cold first one, and its
    counts are checked like ``changelog``'s (else every delta fails).
    ``trace.changelog_accounted_share`` is the median over those batches of
    (non-``addBatch`` phases + state op + upsert) ÷ the batch's
    ``triggerExecution`` time: the blocking-path share of ``changelog``,
    per micro-batch instead of per delta."""
    rows = max(broker.end_offsets(TOPIC).values())
    w, table = _changelog_pipeline(run, run.spark, broker, "changelog-leg",
                                   cap=-(-rows // LEG_BATCHES))
    start = time.time()
    q = w.start()
    q.processAllAvailable()
    progress = _batch_progress(q, -1)
    q.stop()
    warm = {p.batchId for p in progress[1:]}
    spans = [s for s in run.tracer.spans
             if s["start"] >= start and s.get("epoch") in warm]
    shares = []
    for p in progress[1:]:
        self_s = sum(s["end"] - s["start"] for s in spans if s["epoch"] == p.batchId)
        other_ms = sum(p.durationMs.get(k, 0) for k in PHASES if k != "addBatch")
        shares.append((self_s + other_ms / 1000)
                      / (p.durationMs["triggerExecution"] / 1000))
    expected = Counter(str(u) for d in deltas for u in d["delta"].user_id.tolist())
    bad = _count_diff(table, expected)
    if bad:
        notes.append(f"changelog leg: {bad} keys differ from the pyarrow group-by")
    return {
        "streaming.state.op_s": median(s["end"] - s["start"] for s in spans
                                       if s["name"] == "streaming.state.op"),
        "sources.sinks.upsert_s": median(s["end"] - s["start"] for s in spans
                                         if s["name"] == "sources.sinks.upsert"),
        "sources.sinks.jobs": median(s["jobs"] for s in spans
                                     if s["name"] == "sources.sinks.upsert"),
        "sources.sinks.table_rows": _table_rows(table),
        "trace.changelog_accounted_share": median(shares),
        **_state_layers(progress),
    }, set(range(len(deltas))) if bad else set()


# ---------------------------------------------------------------------------
# batch_queries: registry queries, seed-permuted, checked against DuckDB
# ---------------------------------------------------------------------------


def _load_check_module(root: str):
    """tools/check.py, imported by path; its module-level sys.path edit is
    undone so nothing outside the checkout is searched."""
    saved = list(sys.path)
    spec = importlib.util.spec_from_file_location(
        "perfbench_oracle_check", os.path.join(root, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    sys.path[:] = saved
    return mod


def _query_pass(run, chk, order, sf_dir: str, tag: bool):
    """Build and collect every query once. Returns ({name: (build_s,
    exec_s)}, {name: result fingerprint}, wall seconds, notes). The results
    are fingerprinted after the timed pass. With ``tag`` set, each query's
    jobs run in job groups ``query:<name>:build|exec``."""
    from kafka_connect_streams_spark import queries as Q
    sc = run.spark.sparkContext
    times, results, notes = {}, {}, []
    t_pass = time.perf_counter()
    for name in order:
        try:
            if tag:
                sc.setJobGroup(f"query:{name}:build", name)
            t0 = time.perf_counter()
            df = Q.QUERIES[name](run.spark, sf_dir)
            t1 = time.perf_counter()
            if tag:
                sc.setJobGroup(f"query:{name}:exec", name)
            pdf = df.toPandas()
            t2 = time.perf_counter()
        except Exception as ex:  # a failing query counts as failed, the pass goes on
            notes.append(f"{name}: {type(ex).__name__}: {str(ex)[:300]}")
            continue
        times[name] = (t1 - t0, t2 - t1)
        results[name] = (df, pdf)
    wall = time.perf_counter() - t_pass
    prints = {}
    for name, (df, pdf) in results.items():
        cols = list(df.columns)
        rows = chk._pandas_rows(pdf, cols, {f.name: f.dataType.simpleString().upper()
                                            for f in df.schema.fields})
        prints[name] = (len(rows), sorted(cols), chk.table_hash(cols, rows))
    if tag:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return times, prints, wall, notes


def batch_queries(run):
    """Two passes over the queries in one session: the cold pass is
    ``first_delta_s``, the warm pass gives ``wall_s`` and the per-layer
    figures. Both passes' results are checked against the DuckDB oracles."""
    from kafka_connect_streams_spark.catalog import register_views
    sf_dir = os.path.join(run.work, "sf")
    datagen.write_tables(run.seed, BATCH_SF, sf_dir)
    order = list(QUERIES)
    random.Random(run.seed).shuffle(order)
    chk = _load_check_module(run.root)
    jvm_s = run.launch_jvm()

    def build(spark, i):
        register_views(spark, sf_dir)
        return None, {}

    _, setup_s, layers = run.repeated_setup(build)
    _, cold_prints, cold_wall, notes = _query_pass(run, chk, order, sf_dir, False)
    # start the warm pass on a collected heap, not on the cold pass's garbage
    run.spark.sparkContext._jvm.System.gc()
    times, prints, wall, more = _query_pass(run, chk, order, sf_dir, run.trace)
    notes += more
    run.unit_s = [b + e for b, e in times.values()]
    rows_in = sum(datagen.ROWS[BATCH_SF][t]
                  for name in times for t in QUERY_INPUTS[name])
    e2e = {
        "setup_s": setup_s,
        "first_delta_s": cold_wall,
        # time per query. The median of eight unequal query times flips
        # between the 4th and the 5th query from run to run.
        "delta_p50_s": wall / len(times) if times else 0.0,
        "rows_per_s": rows_in / wall if wall else 0.0,
        "wall_s": wall,
    }
    layers.update(run.memory())
    if run.trace:
        tracker = run.spark.sparkContext.statusTracker()
        for name, (b, e) in times.items():
            layers[f"queries.{name}.build_s"] = b
            layers[f"queries.{name}.exec_s"] = e
            for phase in ("build", "exec"):
                layers[f"queries.{name}.{phase}_jobs"] = len(
                    tracker.getJobIdsForGroup(f"query:{name}:{phase}"))
        layers["trace.accounted_share"] = sum(b + e for b, e in times.values()) / wall
        run.shutdown()  # completes the event log
        per_group = event_log_bytes(run.event_log)
        for name in times:
            for kind in ("shuffle_bytes", "spill_bytes"):
                layers[f"queries.{name}.{kind}"] = sum(
                    per_group.get(f"query:{name}:{p}", {}).get(kind, 0)
                    for p in ("build", "exec"))
    oracle = _oracle_prints(chk, sf_dir, order, run.work)
    attempted, failed = 2 * len(order), 0
    if run.trace:
        attempted += 1  # the accounting check
        failed += check_accounted("batch_queries", layers["trace.accounted_share"],
                                  notes)
    for label, got in (("cold", cold_prints), ("warm", prints)):
        for name in order:
            if got.get(name) != oracle[name]:
                failed += 1
                notes.append(f"{label} pass, {name}: result {got.get(name)} "
                             f"differs from its DuckDB oracle {oracle[name]}")
    layers["engine.jvm_launch_s"] = jvm_s
    return e2e, layers, attempted, failed, notes


def _oracle_prints(chk, sf_dir: str, names, work: str) -> dict:
    """(row count, sorted columns, tools/check.py ``table_hash``) of each
    query's DuckDB ``oracle_sql()`` twin over the same tables."""
    import duckdb
    from kafka_connect_streams_spark import queries as Q
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{os.path.join(work, 'duckdb')}'")
    for t in chk.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    out = {}
    for name in names:
        desc = con.execute("DESCRIBE " + Q.ORACLE[name]).fetchall()
        res = con.execute(Q.ORACLE[name])
        cols = [d[0] for d in res.description]
        rows = chk._pandas_rows(res.df(), cols,
                                {d[0]: str(d[1]).upper() for d in desc})
        out[name] = (len(rows), sorted(cols), chk.table_hash(cols, rows))
    con.close()
    return out


WORKLOADS = {"ingest": ingest, "changelog": changelog,
             "batch_queries": batch_queries}
SF = {"ingest": STREAM_SF, "changelog": STREAM_SF, "batch_queries": BATCH_SF}
