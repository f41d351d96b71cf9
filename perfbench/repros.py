"""Repros for three defects found while sizing the benchmark (see NOTES.md).

    python3 perfbench/repros.py available_now_cap
    python3 perfbench/repros.py running_count_bigint
    python3 perfbench/repros.py upsert_native_agg

Run from the root of a checkout. Each prints what it observed and exits 1
while the defect reproduces, 0 once it is fixed. Scratch files go under
``.perfbench/repro/`` and are removed afterwards. These are not part of the
benchmark command; the workloads avoid the three paths instead.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import threading

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def available_now_cap(spark, work: str) -> bool:
    """Trigger.AvailableNow with maxOffsetsPerTrigger on ``filebroker`` should
    drain the whole topic in capped batches; it stops after the first one,
    because the capped ``latestOffset`` becomes the run's target."""
    from kafka_connect_streams_spark.sources.filebroker import FileBroker, register
    register(spark)
    broker = FileBroker(os.path.join(work, "broker"))
    broker.create_topic("t", 1)
    producer = broker.producer()
    for i in range(40_000):
        producer.send("t", json.dumps({"i": i}), partition=0)
    producer.flush()
    q = (spark.readStream.format("filebroker").option("path", broker.root)
         .option("subscribe", "t").option("maxOffsetsPerTrigger", 10_000).load()
         .writeStream.format("memory").queryName("avail_now_cap")
         .option("checkpointLocation", os.path.join(work, "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    n = spark.table("avail_now_cap").count()
    print(f"AvailableNow + maxOffsetsPerTrigger=10000 delivered {n} of 40000 records")
    return n != 40_000


def running_count_bigint(spark, work: str) -> bool:
    """``running_count`` casts its key to string, yet a bigint key column
    makes the query fail."""
    from pyspark.sql.types import _parse_datatype_string
    from kafka_connect_streams_spark.sources.filebroker import FileBroker, register
    from kafka_connect_streams_spark.sources.kafka import decode_records
    from kafka_connect_streams_spark.streaming.state import running_count
    register(spark)
    broker = FileBroker(os.path.join(work, "broker"))
    broker.create_topic("k", 1)
    producer = broker.producer()
    for i in range(100):
        producer.send("k", json.dumps({"user_id": i % 7}), key=str(i % 7))
    producer.flush()
    raw = (spark.readStream.format("filebroker").option("path", broker.root)
           .option("subscribe", "k").load())
    decoded = decode_records(raw, _parse_datatype_string("user_id bigint"))
    q = (running_count(decoded, "user_id").writeStream.outputMode("update")
         .format("memory").queryName("rc_bigint")
         .option("checkpointLocation", os.path.join(work, "ckpt")).start())
    try:
        q.processAllAvailable()
    except Exception as ex:  # the defect: the stream dies on the first batch
        cause = re.search(r"PySpark\w*Error: [^\n]*", str(ex))
        print("running_count on a bigint key failed: "
              + (cause.group(0) if cause else str(ex).splitlines()[0])[:300])
        return True
    finally:
        q.stop()
    print("running_count on a bigint key ran")
    return False


def upsert_native_agg(spark, work: str, timeout_s: float = 240.0) -> bool:
    """``parquet_upsert_writer`` as the foreachBatch sink of
    ``wordcount_stream`` over ``table_delta`` (the DatabaseWordCount path)
    should commit epoch after epoch; the second epoch fails or hangs."""
    from kafka_connect_streams_spark.sources.python_datasource import register
    from kafka_connect_streams_spark.sources.sinks import parquet_upsert_writer
    from kafka_connect_streams_spark.streaming.wordcount import wordcount_stream
    register(spark)
    src = os.path.join(work, "lines")

    def append(first: int) -> None:
        rows = [(first + i, f"kafka streams spark word{i % 5}") for i in range(50)]
        (spark.createDataFrame(rows, "id bigint, value string").coalesce(1)
         .write.mode("append").parquet(src))

    append(0)
    lines = (spark.readStream.format("table_delta").option("path", src)
             .option("inc_col", "id").load().select("value"))
    q = (wordcount_stream(lines, "value").writeStream.outputMode("update")
         .foreachBatch(parquet_upsert_writer(os.path.join(work, "counts"), ["word"]))
         .option("checkpointLocation", os.path.join(work, "ckpt")).start())
    outcome: dict = {}

    def drain() -> None:
        try:
            q.processAllAvailable()
        except Exception as ex:  # recorded and reported below
            cause = re.search(r"CANNOT_LOAD_STATE_STORE\.\w+", str(ex))
            outcome["error"] = (cause.group(0) if cause
                                else str(ex).splitlines()[0][:300])

    try:
        for epoch, first in enumerate((None, 50), start=1):
            if first is not None:
                append(first)
            t = threading.Thread(target=drain, daemon=True)
            t.start()
            t.join(timeout_s)
            if t.is_alive() or "error" in outcome:
                print(f"epoch {epoch}: " + outcome.get(
                    "error", f"no commit within {timeout_s:.0f} s"))
                return True
            print(f"epoch {epoch}: committed")
    finally:
        q.stop()
    return False


REPROS = {f.__name__: f for f in (available_now_cap, running_count_bigint,
                                  upsert_native_agg)}


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if len(argv) != 1 or argv[0] not in REPROS:
        print(f"usage: repros.py {{{','.join(REPROS)}}}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", "repro", argv[0])
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    from kafka_connect_streams_spark.engine import get_spark
    spark = get_spark("perfbench-repro", {
        "spark.ui.enabled": "false", "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse")})
    try:
        reproduced = REPROS[argv[0]](spark, work)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    print("defect reproduces" if reproduced else "defect does not reproduce")
    return 1 if reproduced else 0


if __name__ == "__main__":
    sys.exit(main())
