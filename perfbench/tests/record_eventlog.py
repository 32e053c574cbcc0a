"""Record ``data/eventlog_small.jsonl``, the event log the span tests fold.

    python3 perfbench/tests/record_eventlog.py

Runs three small described jobs and one undescribed job on a local Spark
session with the event log on, then keeps only the events and fields that
``spans.fold_event_log`` reads, with local paths replaced by ``/data``.
"""

import json
import re
import tempfile
from pathlib import Path

OUT = Path(__file__).resolve().parent / "data" / "eventlog_small.jsonl"
KEEP = (
    "SparkListenerJobStart",
    "SparkListenerStageSubmitted",
    "SparkListenerTaskEnd",
    "SparkListenerSQLExecutionStart",
    "SparkListenerSQLAdaptiveExecutionUpdate",
)
PROPS = ("spark.job.description", "spark.sql.execution.id")


def _plan(node: dict, scrub) -> dict:
    return {
        "nodeName": node.get("nodeName", ""),
        "simpleString": scrub(node.get("simpleString", "")),
        "metrics": [
            {"name": m["name"], "accumulatorId": m["accumulatorId"]}
            for m in node.get("metrics", [])
        ],
        "children": [_plan(c, scrub) for c in node.get("children", [])],
    }


def _trim(ev: dict, scrub) -> dict | None:
    kind = ev["Event"]
    if not kind.endswith(KEEP):
        return None
    props = {k: v for k, v in (ev.get("Properties") or {}).items() if k in PROPS}
    if kind == "SparkListenerJobStart":
        return {"Event": kind, "Job ID": ev["Job ID"], "Stage IDs": ev["Stage IDs"],
                "Properties": props}
    if kind == "SparkListenerStageSubmitted":
        return {"Event": kind, "Stage Info": {"Stage ID": ev["Stage Info"]["Stage ID"]},
                "Properties": props}
    if kind == "SparkListenerTaskEnd":
        tm = ev.get("Task Metrics") or {}
        return {
            "Event": kind,
            "Stage ID": ev["Stage ID"],
            "Task Metrics": {
                k: tm[k]
                for k in ("Executor CPU Time", "JVM GC Time", "Disk Bytes Spilled",
                          "Shuffle Write Metrics")
                if k in tm
            },
            "Task Info": {
                "Accumulables": [
                    {"ID": a["ID"], "Name": a.get("Name"), "Update": a.get("Update")}
                    for a in (ev.get("Task Info") or {}).get("Accumulables", [])
                ]
            },
        }
    return {"Event": kind, "executionId": ev.get("executionId"),
            "sparkPlanInfo": _plan(ev.get("sparkPlanInfo", {}), scrub)}


def main() -> None:
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    with tempfile.TemporaryDirectory() as tmp:
        tmp_path = Path(tmp)
        (tmp_path / "log").mkdir()
        table = tmp_path / "postings"
        table.mkdir()
        pq.write_table(pa.table({"term_id": list(range(1000))}), table / "part-0.parquet",
                       row_group_size=100)
        spark = (
            SparkSession.builder.master("local[2]")
            .config("spark.ui.enabled", "false")
            .config("spark.sql.shuffle.partitions", "4")
            .config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", (tmp_path / "log").as_uri())
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
            .getOrCreate()
        )
        sc = spark.sparkContext

        @F.pandas_udf("long")
        def plus_one(s: pd.Series) -> pd.Series:
            return s + 1

        sc.setJobDescription("py.udf")
        spark.range(1000).select(plus_one("id")).collect()
        sc.setJobDescription("shuffle.agg")
        spark.range(1000).groupBy(F.col("id") % 10).count().collect()
        sc.setJobDescription("scan.postings")
        spark.read.parquet(str(table)).where("term_id >= 300 AND term_id < 600").collect()
        sc.setJobDescription(None)
        spark.range(10).collect()
        spark.stop()

        (log,) = (tmp_path / "log").iterdir()
        prefix = re.compile(re.escape(str(tmp_path.resolve())) + "|" + re.escape(str(tmp_path)))

        def scrub(text: str) -> str:
            return prefix.sub("/data", text)

        lines = []
        for line in log.read_text().splitlines():
            ev = _trim(json.loads(line), scrub)
            if ev is not None:
                lines.append(json.dumps(ev))
    OUT.parent.mkdir(parents=True, exist_ok=True)
    OUT.write_text("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
