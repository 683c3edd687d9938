"""Re-record eventlog_sf0001.jsonl, the parser fixture of the self-tests.

    python3 perfbench/fixtures/record_eventlog.py

Runs q1_pricing_summary and x1_sird_sim on the committed sf0.001 tables under
the benchmark's job groups (``pb.<query>.<phase>``) in a session with
the uncompressed event log on. Of the log it keeps the four event kinds
the parser reads (job start/end, stage submitted, task end) and drops
the bulky fields it never reads (session properties other than the job
group, per-task info and executor metrics, per-job stage infos).
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import datagen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402

KEEP = {
    "SparkListenerJobStart",
    "SparkListenerJobEnd",
    "SparkListenerStageSubmitted",
    "SparkListenerTaskEnd",
}
DROP = ("Stage Infos", "Task Info", "Task Executor Metrics")


def trim(ev: dict) -> dict:
    ev = {k: v for k, v in ev.items() if k not in DROP}
    if "Properties" in ev:
        group = ev["Properties"].get("spark.jobGroup.id")
        ev["Properties"] = {"spark.jobGroup.id": group} if group else {}
    return ev


def main() -> None:
    sys.path.insert(0, run.ROOT)
    data = datagen.base_dir("0.001")
    run._isolate()
    sess = run.Session(traced=True)
    from __spark_entry__ import queries

    q = queries()
    for short, name in (("q1", "q1_pricing_summary"), ("x1", "x1_sird_sim")):
        sess.sc.setJobGroup(f"pb.{short}.build", name)
        df = q[name](sess.spark, data)
        sess.sc.setJobGroup(f"pb.{short}.plan", name)
        df._jdf.queryExecution().executedPlan()
        sess.sc.setJobGroup(f"pb.{short}.exec", name)
        run._sink(df)
        sess.sc._jsc.clearJobGroup()
    sess.close()
    out = os.path.join(HERE, "eventlog_sf0001.jsonl")
    with open(out, "w") as f:
        for line in spans.event_log_lines(sess.log_dir):
            ev = json.loads(line)
            if ev.get("Event") in KEEP:
                f.write(json.dumps(trim(ev)) + "\n")
    shutil.rmtree(os.path.join(run.WORK, "tmp"), ignore_errors=True)


if __name__ == "__main__":
    main()
