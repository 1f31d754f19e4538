#!/usr/bin/env python3
"""Record the small Spark event log the self-test parses.

    python3 perfbench/fixtures/record_eventlog.py

One ``local[2]`` session, event log on (rolling, Spark's default zstd
codec): a 40-row parquet file scanned through one identity
``mapInArrow`` into a collect, then a collect of ``range(10)``.  The
expected counts in ``eventlog/expected.json`` come from Spark's own
status tracker and SQL status store, not from the parser under test.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.realpath(__file__))
OUT = os.path.join(HERE, "eventlog")
KEEP = ("SparkListenerLogStart", "SparkListenerApplicationStart",
        "SparkListenerApplicationEnd", "SparkListenerJobStart",
        "SparkListenerJobEnd", "SparkListenerTaskEnd",
        "SQLExecutionStart", "SQLExecutionEnd",
        "SQLAdaptiveExecutionUpdate", "DriverAccumUpdates")


def _scrub(src: str, dst: str, work: str) -> None:
    """Copy the zstd event file keeping only the events the parser
    reads, without job properties, call sites or plan text, and with
    the recording directory replaced by ``/fixture``."""
    import pyarrow as pa

    with pa.input_stream(src, compression="zstd") as f:
        lines = f.read().decode().splitlines()
    out = []
    for line in lines:
        e = json.loads(line)
        if not e["Event"].endswith(KEEP):
            continue
        if "Properties" in e:
            xid = e["Properties"].get("spark.sql.execution.id")
            e["Properties"] = ({} if xid is None
                               else {"spark.sql.execution.id": xid})
        e.pop("Stage Infos", None)  # call sites; the parser reads Stage IDs
        for k in ("description", "details", "physicalPlanDescription",
                  "App Name", "User", "modifiedConfigs", "jobTags"):
            if k in e:
                e[k] = type(e[k])()
        out.append(json.dumps(e).replace(work, "/fixture"))
    text = "\n".join(out) + "\n"
    for local in (work, os.getcwd(), os.path.expanduser("~"), sys.prefix,
                  tempfile.gettempdir()):
        assert local not in text, local
    with pa.output_stream(dst, compression="zstd") as f:
        f.write(text.encode())


def main() -> int:
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import SparkSession

    work = tempfile.mkdtemp(prefix="fixture-rec-", dir=HERE)
    try:
        ev = os.path.join(work, "ev")
        os.makedirs(ev)
        data = os.path.join(work, "data.parquet")
        pq.write_table(pa.table({"id": list(range(40)),
                                 "s": [f"row-{i}" for i in range(40)]}),
                       data)
        spark = (SparkSession.builder.master("local[2]")
                 .appName("perfbench-fixture")
                 .config("spark.ui.enabled", "false")
                 .config("spark.ui.showConsoleProgress", "false")
                 .config("spark.sql.adaptive.enabled", "false")
                 .config("spark.local.dir", work)
                 .config("spark.eventLog.enabled", "true")
                 .config("spark.eventLog.dir", f"file://{ev}")
                 .config("spark.eventLog.rolling.enabled", "true")
                 .getOrCreate())

        def identity(batches):
            yield from batches

        df = spark.read.parquet(data)
        rows = df.mapInArrow(identity, df.schema).collect()
        assert len(rows) == 40
        assert len(spark.range(10).collect()) == 10
        sc = spark.sparkContext
        tracker = sc.statusTracker()
        job_ids = sorted(j for g in [None] for j in
                         tracker.getJobIdsForGroup(g))
        stages = {s for j in job_ids
                  for s in tracker.getJobInfo(j).stageIds}
        tasks = sum(tracker.getStageInfo(s).numTasks for s in stages)
        store = spark._jsparkSession.sharedState().statusStore()
        expected = {"jobs": len(job_ids), "tasks": tasks,
                    "executions": int(store.executionsCount()),
                    "python_evals": 1, "files_read": 1, "scan_rows": 40}
        spark.stop()
        app = glob.glob(os.path.join(ev, "eventlog_v2_*"))[0]
        shutil.rmtree(OUT, ignore_errors=True)
        dst = os.path.join(OUT, os.path.basename(app))
        os.makedirs(dst)
        for p in glob.glob(os.path.join(app, "events_*")):
            _scrub(p, os.path.join(dst, os.path.basename(p)), work)
        with open(os.path.join(OUT, "expected.json"), "w") as f:
            json.dump(expected, f, indent=1)
            f.write("\n")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(expected))
    return 0


if __name__ == "__main__":
    sys.exit(main())
