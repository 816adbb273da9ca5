"""Regenerate data/eventlog_small.jsonl, the event log test_eventlog.py
reads: a local[4] session with the event log on and two labelled
jobs, one through a pandas UDF (Python-worker counters) and one through
a shuffle. Only the events and fields the reader uses are kept, which
also drops host paths and environment details.

    python3 perfbench/tests/capture_eventlog.py
"""

import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

KEEP = {
    "SparkListenerJobStart": ("Job ID", "Stage IDs", "Properties"),
    "SparkListenerTaskEnd": ("Stage ID", "Task End Reason", "Task Info"),
    "SparkListenerStageCompleted": ("Stage Info",),
}
STAGE_KEYS = ("Stage ID", "Stage Attempt ID", "Number of Tasks", "Accumulables")
TASK_KEYS = ("Task ID", "Launch Time", "Finish Time")


def slim(ev: dict) -> dict:
    out = {"Event": ev["Event"]}
    for k in KEEP[ev["Event"]]:
        out[k] = ev[k]
    if "Properties" in out:
        desc = out["Properties"].get("spark.job.description")
        out["Properties"] = {"spark.job.description": desc} if desc else {}
    if "Stage Info" in out:
        out["Stage Info"] = {k: out["Stage Info"][k] for k in STAGE_KEYS}
    if "Task Info" in out:
        out["Task Info"] = {k: out["Task Info"][k] for k in TASK_KEYS}
    return out


def main() -> None:
    import pandas as pd
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from perfbench.eventlog import log_files

    log_dir = tempfile.mkdtemp()
    spark = (SparkSession.builder.master("local[4]")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + log_dir)
             .config("spark.eventLog.compress", "false")
             .getOrCreate())
    app_id = spark.sparkContext.applicationId

    @F.pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    sc = spark.sparkContext
    sc.setJobDescription("udf")
    (spark.range(0, 4000, 1, 4).select(plus_one("id"))
     .write.format("noop").mode("overwrite").save())
    sc.setJobDescription("shuffle")
    spark.range(0, 4000, 1, 4).groupBy(F.col("id") % 7).count().collect()
    sc.setJobDescription(None)
    spark.stop()

    out = os.path.join(HERE, "data", "eventlog_small.jsonl")
    with open(out, "w") as f:
        for path in log_files(log_dir, app_id):
            with open(path) as src:
                for line in src:
                    ev = json.loads(line)
                    if ev["Event"] in KEEP:
                        f.write(json.dumps(slim(ev)) + "\n")
    shutil.rmtree(log_dir)


if __name__ == "__main__":
    main()
