"""Regenerate ``data/eventlog_small.jsonl``: a short Spark event log
(one job outside any group, then a labelled shuffle aggregation) cut
down to the events and fields the parser reads.

    python3 perfbench/tests/make_eventlog_fixture.py
"""

import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
KEEP = {
    "SparkListenerJobStart": ("Job ID", "Submission Time", "Stage IDs", "Properties"),
    "SparkListenerJobEnd": ("Job ID", "Completion Time"),
    "SparkListenerStageSubmitted": ("Stage Info", "Properties"),
    "SparkListenerTaskEnd": ("Stage ID", "Task End Reason", "Task Info", "Task Metrics"),
}
PROPS = ("spark.jobGroup.id", "spark.job.description")


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    with tempfile.TemporaryDirectory() as ev:
        spark = (
            SparkSession.builder.master("local[2]")
            .config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + ev)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
            .config("spark.sql.shuffle.partitions", "2")
            .config("spark.sql.adaptive.enabled", "false")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
        sc = spark.sparkContext
        sc.parallelize(range(10), 2).count()
        sc.setJobGroup("span-1", "estimate:fixture")
        spark.range(0, 1000, 1, 2).groupBy((F.col("id") % 3).alias("k")).count().collect()
        spark.stop()
        (name,) = os.listdir(ev)
        with open(os.path.join(ev, name)) as fh:
            events = [json.loads(line) for line in fh]
    out = []
    for e in events:
        keys = KEEP.get(e["Event"])
        if keys is None:
            continue
        small = {"Event": e["Event"], **{k: e[k] for k in keys if k in e}}
        if "Properties" in small:
            small["Properties"] = {k: v for k, v in small["Properties"].items() if k in PROPS}
        if "Stage Info" in small:
            small["Stage Info"] = {"Stage ID": small["Stage Info"]["Stage ID"]}
        if "Task Info" in small:
            small["Task Info"].pop("Accumulables", None)
        if "Task Metrics" in small:
            small["Task Metrics"].pop("Updated Blocks", None)
        out.append(json.dumps(small))
    os.makedirs(os.path.join(HERE, "data"), exist_ok=True)
    with open(os.path.join(HERE, "data", "eventlog_small.jsonl"), "w") as fh:
        fh.write("\n".join(out) + "\n")


if __name__ == "__main__":
    main()
