"""Per-query bench profiler (r12 optimization round, guide §1).

Runs the bench HEADLINE queries exactly like bench.py (same session,
same warm-up at sf0.001, same timed action ``df.count()``, same
``release(spark)`` between queries) but additionally records, per query:

- wall seconds (same methodology as bench.py)
- number of Spark jobs the action triggered
- job seconds: the union of the jobs' [submission, completion]
  intervals from the UI REST API (concurrent jobs are not
  double-counted, so ``gap_s = wall_s - job_s`` stays >= 0)
- number of stages / tasks

Output: one JSON dict per line to the path in argv[1]
(default /tmp/profile_bench.json).

Usage: python tools/profile_bench.py [out.json] [only,names]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request
from datetime import datetime

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = sys.argv[1] if len(sys.argv) > 1 else "/tmp/profile_bench.json"
ONLY = sys.argv[2].split(",") if len(sys.argv) > 2 and sys.argv[2] else None


def _ui(spark):
    return spark.sparkContext.uiWebUrl


def _app_id(spark):
    return spark.sparkContext.applicationId


def _jobs(spark):
    url = f"{_ui(spark)}/api/v1/applications/{_app_id(spark)}/jobs"
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def _ts(s):
    return datetime.strptime(
        s.replace("GMT", "").strip(), "%Y-%m-%dT%H:%M:%S.%f"
    ).timestamp()


def _union_s(intervals) -> float:
    """Total length covered by (start, end) intervals."""
    total, reach = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        if hi > reach:
            total += hi - max(lo, reach)
            reach = hi
    return total


def main() -> None:
    from bench import HEADLINE

    from skrub_spark import get_session, release
    from skrub_spark.queries import queries

    spark = get_session(app_name="skrub_spark_profile")
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()
    names = [n for n in HEADLINE if ONLY is None or n in ONLY]

    spark.read.parquet(os.path.join(SF_DIR, "region.parquet")).count()
    warm_dir = os.environ.get("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    if os.path.isdir(warm_dir) and not os.environ.get("SPARK_GRAFT_NO_WARM"):
        t0 = time.time()
        for name in names:
            try:
                qs[name](spark, warm_dir).count()
            except Exception as e:  # noqa: BLE001
                print(f"# warmup {name} failed: {e}", file=sys.stderr)
        release(spark)
        print(f"# warm-up: {time.time() - t0:.1f}s", file=sys.stderr)

    records = []
    with open(OUT, "w") as fh:
        for name in names:
            fn = qs[name]
            before = {j["jobId"] for j in _jobs(spark)}
            spark.sparkContext.setJobDescription(f"q:{name}")
            t0 = time.time()
            df = fn(spark, SF_DIR)
            tb = time.time()
            nrows = df.count()
            wall = time.time() - t0
            build = tb - t0
            spark.sparkContext.setJobDescription(None)
            release(spark)
            time.sleep(0.05)
            jobs = [j for j in _jobs(spark) if j["jobId"] not in before]
            njobs = len(jobs)
            spans = []
            nstages = 0
            ntasks = 0
            n_skipped_ts = 0
            for j in jobs:
                # unparseable or missing timestamps are counted and
                # reported rather than silently undercounting job_s
                try:
                    spans.append(
                        (_ts(j["submissionTime"]), _ts(j["completionTime"]))
                    )
                except (KeyError, ValueError):
                    n_skipped_ts += 1
                nstages += len(j.get("stageIds", []))
                ntasks += j.get("numTasks", 0)
            jobsec = _union_s(spans)
            if n_skipped_ts:
                print(
                    f"# {name}: {n_skipped_ts}/{njobs} jobs skipped in "
                    "job_s (unparseable timestamps)",
                    file=sys.stderr,
                )
            rec = {
                "name": name,
                "wall_s": round(wall, 3),
                "build_s": round(build, 3),
                "rows": nrows,
                "n_jobs": njobs,
                "job_s": round(jobsec, 3),
                "gap_s": round(wall - jobsec, 3),
                "n_stages": nstages,
                "n_tasks": ntasks,
            }
            records.append(rec)
            fh.write(json.dumps(rec) + "\n")
            fh.flush()
            print(
                f"# {name}: {wall:.2f}s wall, {njobs} jobs "
                f"({jobsec:.2f}s), gap {wall - jobsec:.2f}s, "
                f"{ntasks} tasks",
                file=sys.stderr,
            )
    total = sum(r["wall_s"] for r in records)
    print(
        json.dumps(
            {
                "metric": "profile_total",
                "value": round(total, 3),
                "n": len(records),
                "out": OUT,
            }
        )
    )


if __name__ == "__main__":
    main()
