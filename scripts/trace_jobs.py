"""Per-Spark-job trace for registry queries.

Runs the query once warm, then again with the UI's REST API scraped after,
printing every job (name = JVM callsite, duration ms) plus inter-job gaps —
the fixed per-action round-trips that dominate sf0.1 latency and the
pass-count that dominates at 100 TB.

Usage: python scripts/trace_jobs.py --round N <query> [<query> ...]

``--round`` labels the Spark application (``dwcs-trace-r<N>``) with the
optimization round the trace belongs to.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from data_warehouse_copy_spark.queries import QUERIES  # noqa: E402
from data_warehouse_copy_spark.session import get_spark  # noqa: E402


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def api(base: str, path: str):
    with urllib.request.urlopen(base + path) as r:
        return json.loads(r.read())


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--round", type=int, required=True)
    p.add_argument("queries", nargs="+")
    opts = p.parse_args()
    names = opts.queries
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(
        app_name=f"dwcs-trace-r{opts.round}",
        extra_conf={"spark.ui.enabled": "true"},
    )
    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    base = f"{ui}/api/v1/applications/{app_id}"

    materialize(QUERIES["windowed_range_scan"](spark, sf_dir))
    from pyspark.sql import functions as F

    _warm = F.pandas_udf(lambda s: s, "long")
    materialize(spark.range(1000).select(_warm("id")))

    for name in names:
        # warm pass
        t0 = time.perf_counter()
        materialize(QUERIES[name](spark, sf_dir))
        warm = time.perf_counter() - t0
        before = {j["jobId"] for j in api(base, "/jobs")}
        t0 = time.perf_counter()
        materialize(QUERIES[name](spark, sf_dir))
        dur = time.perf_counter() - t0
        jobs = [j for j in api(base, "/jobs") if j["jobId"] not in before]
        jobs.sort(key=lambda j: j["jobId"])
        print(f"\n=== {name}: warm={warm:.2f}s traced={dur:.2f}s "
              f"n_jobs={len(jobs)} ===")
        prev_end = None
        tot_job = 0.0
        for j in jobs:
            sub = time.strptime(j["submissionTime"][:19], "%Y-%m-%dT%H:%M:%S")
            sub_ms = time.mktime(sub) * 1000 + int(j["submissionTime"][20:23])
            comp = time.strptime(j["completionTime"][:19], "%Y-%m-%dT%H:%M:%S")
            comp_ms = (
                time.mktime(comp) * 1000 + int(j["completionTime"][20:23])
            )
            gap = (sub_ms - prev_end) / 1000 if prev_end else 0.0
            prev_end = comp_ms
            jdur = (comp_ms - sub_ms) / 1000
            tot_job += jdur
            desc = j.get("description") or ""
            print(f"  job {j['jobId']:>4}  {jdur:7.3f}s  gap={gap:6.3f}s "
                  f"tasks={j['numTasks']:>4}  {j['name'][:70]}"
                  + (f"  [{desc[:40]}]" if desc else ""))
        print(f"  sum(job durations)={tot_job:.2f}s  "
              f"driver/gap time={dur - tot_job:.2f}s")
    spark.stop()


if __name__ == "__main__":
    main()
