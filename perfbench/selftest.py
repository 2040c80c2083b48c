"""Self-test: traced counts lose no job or stage of a call that passes
Spark's default status-store retention (1,000 jobs, 1,000 stages).

One span launches ``N_JOBS`` jobs, half from the calling thread and half
from a pool of inheritable threads, as ``CrossValidator`` does. Job and
stage ids are sequential, so marker jobs run just before and after the span
give the true numbers independently of the store. The span's counts must
match them in a process with the traced retention settings, and must fall
short with Spark's defaults (showing that the test can see a loss).

    python3 perfbench/run.py --selftest
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

N_JOBS = 1100
THREADS = 4


def _marker(spark, tag):
    sc = spark.sparkContext
    sc.setJobGroup(tag, tag)
    spark.range(1).collect()
    sc.setLocalProperty("spark.jobGroup.id", None)
    (jid,) = sc.statusTracker().getJobIdsForGroup(tag)
    return jid, list(sc.statusTracker().getJobInfo(jid).stageIds)


def child(root: str, traced: bool) -> dict:
    sys.path.insert(0, root)
    from multiprocessing.pool import ThreadPool

    from pyspark import inheritable_thread_target

    from data_pipeline_agent_spark.session import get_spark
    from spans import RETENTION_CONF, Tracer

    spark = get_spark("perfbench-selftest")
    if traced:  # as a traced pass does: raise retention, start a new application
        for k, v in RETENTION_CONF.items():
            spark.sparkContext._jvm.java.lang.System.setProperty(k, v)
        spark.stop()
        spark = get_spark("perfbench-selftest")
    spark.sparkContext.setLogLevel("ERROR")
    tracer = Tracer(spark, "selftest", enabled=True)

    def one(_):
        spark.range(1).collect()

    before_job, before_stages = _marker(spark, "marker.before")
    with tracer.span("many") as span:
        for i in range(N_JOBS // 2):
            one(i)
        with ThreadPool(THREADS) as pool:
            pool.map(inheritable_thread_target(one), range(N_JOBS - N_JOBS // 2))
    after_job, after_stages = _marker(spark, "marker.after")
    spark.stop()
    return {
        "true_jobs": after_job - before_job - 1,
        "true_stages": min(after_stages) - max(before_stages) - 1,
        "span_jobs": span["jobs"],
        "span_stages": span["stages"] + span["skipped_stages"],
    }


def main(worker_env) -> bool:
    here = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(here)
    results = {}
    for traced in (True, False):
        out = subprocess.run(
            [sys.executable, __file__, root, str(int(traced))],
            env=worker_env(),
            capture_output=True,
            text=True,
            timeout=600,
        )
        if out.returncode != 0:
            print(out.stderr[-2000:], file=sys.stderr)
            return False
        results["traced" if traced else "default_retention"] = json.loads(
            out.stdout.strip().splitlines()[-1]
        )
    t, d = results["traced"], results["default_retention"]
    complete = (t["span_jobs"], t["span_stages"]) == (t["true_jobs"], t["true_stages"])
    detects_loss = d["span_jobs"] < d["true_jobs"] and d["span_stages"] < d["true_stages"]
    ok = complete and detects_loss and t["true_jobs"] >= N_JOBS
    results["ok"] = ok
    print(json.dumps(results))
    return ok


if __name__ == "__main__":
    print(json.dumps(child(sys.argv[1], sys.argv[2] == "1")))
