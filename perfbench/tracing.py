"""Spans, traced connector subclasses and Spark-side counters for traced runs.

Everything here is benchmark-owned and wraps the package's public classes
from the outside; the package itself carries no instrumentation. A span is
``{"name", "start", "end", "pid", ...attrs}`` with wall-clock seconds, so spans
written by Spark's Python worker processes line up with the driver's.

Driver-side spans stay in memory until :meth:`Tracer.flush`. Worker-side
spans (the connector ``read``/``write``/``commit`` calls, which Spark runs in
Python worker processes) are appended to ``<spans_dir>/<pid>.jsonl``, one line
per call, and merged at the end of the run.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict

from kafka_connect_streams_spark.sources.filebroker import (
    FileBrokerDataSource, FileBrokerStreamReader)
from kafka_connect_streams_spark.sources.python_datasink import (
    TableSinkDataSource, TableSinkStreamWriter)


def worker_span(spans_dir: str, name: str, start: float, end: float,
                **attrs) -> None:
    """Append one span from a worker process to the spans directory."""
    rec = {"name": name, "start": start, "end": end, "pid": os.getpid(), **attrs}
    with open(os.path.join(spans_dir, f"{os.getpid()}.jsonl"), "a") as f:
        f.write(json.dumps(rec) + "\n")


class Tracer:
    """In-memory span list for the driver process."""

    def __init__(self, spans_dir: str):
        self.spans_dir = spans_dir
        self.spans: list[dict] = []
        os.makedirs(spans_dir, exist_ok=True)

    def span(self, name: str, start: float, end: float, **attrs) -> None:
        self.spans.append({"name": name, "start": start, "end": end,
                           "pid": os.getpid(), **attrs})

    def worker_spans(self) -> list[dict]:
        out = []
        for path in glob.glob(os.path.join(self.spans_dir, "*.jsonl")):
            with open(path) as f:
                out.extend(json.loads(line) for line in f if line.strip())
        return out

    def flush(self, path: str, header: dict) -> None:
        """Write the header and every driver and worker span as JSONL."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(json.dumps({"name": "run", **header}) + "\n")
            for s in sorted(self.spans + self.worker_spans(),
                            key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


def spans_between(spans: list[dict], name: str, lo: float, hi: float) -> list[dict]:
    """Spans called ``name`` that started inside ``[lo, hi]``."""
    return [s for s in spans if s["name"] == name and lo <= s["start"] <= hi]


# ---------------------------------------------------------------------------
# traced connector classes: same format names, same behaviour, plus spans
# ---------------------------------------------------------------------------


class TracedFileBrokerStreamReader(FileBrokerStreamReader):
    def __init__(self, options: dict):
        super().__init__(options)
        self.spans_dir = options["spans"]

    def read(self, partition):
        # time only the source's own work, not the consumer's between batches
        busy, rows, start = 0.0, 0, time.time()
        it = super().read(partition)
        while True:
            t0 = time.perf_counter()
            try:
                batch = next(it)
            except StopIteration:
                busy += time.perf_counter() - t0
                break
            busy += time.perf_counter() - t0
            rows += batch.num_rows
            yield batch
        worker_span(self.spans_dir, "sources.filebroker.read", start,
                    start + busy, rows=rows, partition=partition.part)


class TracedFileBrokerDataSource(FileBrokerDataSource):
    """``format("filebroker")`` whose stream reader records read spans."""

    def streamReader(self, schema) -> TracedFileBrokerStreamReader:
        return TracedFileBrokerStreamReader(dict(self.options))


class TracedTableSinkStreamWriter(TableSinkStreamWriter):
    def __init__(self, options: dict):
        super().__init__(options)
        self.spans_dir = options["spans"]

    def write(self, iterator):
        start = time.time()
        msg = super().write(iterator)
        worker_span(self.spans_dir, "sources.python_datasink.write", start,
                    time.time(), rows=msg.rows)
        return msg

    def commit(self, messages, batchId: int) -> None:
        start = time.time()
        super().commit(messages, batchId)
        files = sum(1 for m in messages if m is not None and m.staged)
        worker_span(self.spans_dir, "sources.python_datasink.commit", start,
                    time.time(), batch_id=batchId, files=files)


class TracedTableSinkDataSource(TableSinkDataSource):
    """``format("table_sink")`` whose writer records write and commit spans."""

    def streamWriter(self, schema, overwrite: bool) -> TracedTableSinkStreamWriter:
        return TracedTableSinkStreamWriter(dict(self.options))


# ---------------------------------------------------------------------------
# Spark-side counters
# ---------------------------------------------------------------------------


def event_log_bytes(log_dir: str) -> dict[str, dict[str, int]]:
    """Per job group: shuffle bytes written and bytes spilled (memory + disk),
    summed over the tasks of every stage of the group's jobs, from the Spark
    event log. Read it after the SparkContext has stopped."""
    stage_group: dict[int, str] = {}
    totals: dict[str, dict[str, int]] = defaultdict(
        lambda: {"shuffle_bytes": 0, "spill_bytes": 0})
    # Spark 4 writes each application's log as a directory of event files
    paths = [p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
             if os.path.isfile(p)]
    for path in sorted(paths):
        with open(path) as f:
            for line in f:
                if not line.startswith("{"):
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        if group:
                            stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics") or {}
                    if group is None or not m:
                        continue
                    totals[group]["shuffle_bytes"] += int(
                        m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0))
                    totals[group]["spill_bytes"] += int(
                        m.get("Memory Bytes Spilled", 0)) + int(m.get("Disk Bytes Spilled", 0))
    return dict(totals)
