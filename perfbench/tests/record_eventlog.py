"""Regenerate ``data/tiny_eventlog.jsonl``, the reducer test's fixture:

    python3 perfbench/tests/record_eventlog.py <work dir>

Two job groups on ``local[2]`` with adaptive execution off, so the counts
are fixed by construction: ``t:0`` scans 1000 rows in 4 partitions into a
noop sink (1 job, 1 stage, 4 tasks); ``t:1`` repartitions the same rows into
3 partitions (1 job, 2 stages, 7 tasks, 1000 shuffle records).  A third job
runs outside any group and must be ignored.  Only the event kinds the
reducer reads are kept, and of a job's properties only its group and
description (the others hold local paths).
"""

import glob
import json
import os
import sys

from pyspark.sql import SparkSession

KEEP = ("Job", "StageCompleted", "TaskEnd", "SQLExecutionStart", "SQLAdaptiveExecutionUpdate")
PROPERTIES = ("spark.jobGroup.id", "spark.job.description")


def slim(line: str) -> str | None:
    """The fixture line for one event-log line, or None to drop it."""
    ev = json.loads(line)
    if not any(k in ev["Event"] for k in KEEP):
        return None
    if "Properties" in ev:
        ev["Properties"] = {k: v for k, v in ev["Properties"].items() if k in PROPERTIES}
    return json.dumps(ev) + "\n"


def main(work: str) -> None:
    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir, exist_ok=True)
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", log_dir)
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )
    sc = spark.sparkContext
    sc.setJobGroup("t:0", "scan")
    spark.range(0, 1000, 1, 4).write.format("noop").mode("overwrite").save()
    sc.setJobGroup("t:1", "shuffle")
    spark.range(0, 1000, 1, 4).repartition(3).write.format("noop").mode("overwrite").save()
    sc.setLocalProperty("spark.jobGroup.id", None)
    spark.range(10).count()
    spark.stop()
    (path,) = glob.glob(os.path.join(log_dir, "*"))
    out = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "tiny_eventlog.jsonl")
    with open(path) as src, open(out, "w") as dst:
        dst.writelines(filter(None, map(slim, src)))


if __name__ == "__main__":
    main(sys.argv[1])
