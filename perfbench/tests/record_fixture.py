"""Record the small event log the parser test reads.

    python3 perfbench/tests/record_fixture.py

Runs a few tiny Spark jobs under tracer spans with the event log on, then
writes ``data/eventlog.jsonl`` (only the events and fields the parser
reads) and ``data/spans.json``. The spans:

* ``pass1``, ``pass2``: the same query built from fresh DataFrames;
* ``reuse``: one DataFrame collected twice, so the second job skips the
  shuffle map stage the first one ran;
* ``threaded``: a job submitted from a thread the tracer did not tag.
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import threading
from dataclasses import asdict
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

from spans import Tracer  # noqa: E402

KEEP = {
    "SparkListenerJobStart": ("Job ID", "Submission Time", "Stage IDs", "Properties"),
    "SparkListenerJobEnd": ("Job ID", "Completion Time", "Job Result"),
    "SparkListenerStageCompleted": ("Stage Info",),
    "SparkListenerTaskEnd": ("Stage ID", "Stage Attempt ID", "Task End Reason",
                             "Task Info", "Task Metrics"),
}
# no "Stage Name": it holds the call site, an absolute path
STAGE_KEYS = ("Stage ID", "Stage Attempt ID", "Number of Tasks",
              "Submission Time", "Completion Time")
PROPS = ("spark.jobGroup.id", "spark.job.description")


def trim(ev: dict) -> dict:
    out = {"Event": ev["Event"], **{k: ev[k] for k in KEEP[ev["Event"]] if k in ev}}
    if "Properties" in out:
        out["Properties"] = {k: v for k, v in out["Properties"].items() if k in PROPS}
    if "Stage Info" in out:
        out["Stage Info"] = {k: out["Stage Info"][k] for k in STAGE_KEYS}
    if "Task Info" in out:
        out["Task Info"] = {k: v for k, v in out["Task Info"].items() if k != "Accumulables"}
    if "Task Metrics" in out:
        out["Task Metrics"] = {k: v for k, v in out["Task Metrics"].items()
                               if k != "Updated Blocks"}
    return out


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    work = Path(tempfile.mkdtemp(dir=HERE))
    try:
        (work / "log").mkdir()
        spark = (
            SparkSession.builder.master("local[2]")
            .config("spark.sql.shuffle.partitions", "2")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.sql.adaptive.enabled", "false")
            .config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", (work / "log").as_uri())
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
            .config("spark.local.dir", str(work / "local"))
            .getOrCreate()
        )
        tracer = Tracer(spark.sparkContext)

        def query():
            return spark.range(2000).groupBy((F.col("id") % 7).alias("k")).count()

        for name in ("pass1", "pass2"):
            with tracer.span(name):
                query().collect()
        with tracer.span("reuse"):
            df = query()
            df.collect()
            df.collect()
        with tracer.span("threaded"):
            t = threading.Thread(target=lambda: query().collect())
            t.start()
            t.join(timeout=120)
        spark.stop()

        (log,) = (work / "log").iterdir()
        data = HERE / "data"
        data.mkdir(exist_ok=True)
        with open(log) as src, open(data / "eventlog.jsonl", "w") as dst:
            for line in src:
                ev = json.loads(line)
                if ev["Event"] in KEEP:
                    dst.write(json.dumps(trim(ev)) + "\n")
        (data / "spans.json").write_text(json.dumps(
            {"main_thread": tracer._main, "spans": [asdict(s) for s in tracer.spans]},
            indent=1) + "\n")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
