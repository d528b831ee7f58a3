"""Record the small event log and spans that test_eventlog.py parses.

    python3 perfbench/tests/record_eventlog.py

Runs two spans on a local[2] session with the event log on: ``fit`` runs a
grouped count (one shuffle), ``sink`` runs a windowed noop write (one
shuffle, one Window). Bulky fields the parser never reads are dropped so
the recording stays small.
"""

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402
import session  # noqa: E402
from spans import Spans  # noqa: E402

DATA = os.path.join(HERE, "data")
DROP_EVENTS = {"SparkListenerEnvironmentUpdate", "SparkListenerLogStart",
               "SparkListenerResourceProfileAdded",
               "SparkListenerBlockManagerAdded", "SparkListenerExecutorAdded",
               "SparkListenerApplicationStart", "SparkListenerApplicationEnd",
               "SparkListenerTaskStart"}
DROP_KEYS = {"RDD Info", "Details", "details", "physicalPlanDescription",
             "Accumulables", "Task Executor Metrics", "Properties",
             "modifiedConfigs", "Updated Blocks", "metrics", "metadata",
             "simpleString", "Stage Infos", "Parent IDs", "Stage Name",
             "description"}


def _trim(obj):
    if isinstance(obj, dict):
        return {k: _trim(v) for k, v in obj.items() if k not in DROP_KEYS}
    if isinstance(obj, list):
        return [_trim(v) for v in obj]
    return obj


def main():
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    run_dir = os.path.join(os.path.dirname(os.path.dirname(HERE)),
                           ".perfbench", "record")
    session.confine(run_dir, os.path.dirname(os.path.dirname(HERE)))
    sz = {"master": "local[2]", "driver_mem_mb": 1024,
          "shuffle_partitions": 2}
    events = os.path.join(run_dir, "events")
    spark = session.start(run_dir, sz, events)
    spans = Spans()
    try:
        with spans.span("iteration", 0):
            with spans.span("fit"):
                spark.range(0, 1000, 1, 2).groupBy(
                    (F.col("id") % 7).alias("k")).count().collect()
            with spans.span("sink"):
                w = Window.partitionBy(F.col("id") % 3).orderBy("id")
                (spark.range(0, 1000, 1, 2)
                 .withColumn("r", F.row_number().over(w))
                 .write.format("noop").mode("overwrite").save())
    finally:
        spark.stop()
        session.shutdown_jvm()
    os.makedirs(DATA, exist_ok=True)
    with open(os.path.join(DATA, "small_eventlog.jsonl"), "w") as out:
        for f in eventlog.event_files(eventlog.app_path(events)):
            with open(f) as fh:
                for line in fh:
                    e = json.loads(line)
                    if e["Event"] not in DROP_EVENTS:
                        out.write(json.dumps(_trim(e)) + "\n")
    with open(os.path.join(DATA, "small_spans.json"), "w") as out:
        json.dump([s.__dict__ for s in spans.records], out, indent=1)
    shutil.rmtree(run_dir)


if __name__ == "__main__":
    main()
