"""Per-query measurement harness.

Times individual registry queries through the noop sink (guide §1.4) on a
warmed session, optionally dumping .explain("formatted") to plans/r<N>/
for the optimization round ``--round N``.

Usage:
  python scripts/measure.py --round 15 q1_pricing_summary catalog_sql_merge ...
  python scripts/measure.py --round 15 --plans q5_local_supplier  # also dump plan
  python scripts/measure.py --round 15 --all                      # whole registry

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from data_warehouse_copy_spark.queries import QUERIES  # noqa: E402
from data_warehouse_copy_spark.session import get_spark  # noqa: E402


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--round", type=int, required=True)
    p.add_argument("--plans", action="store_true")
    p.add_argument("--all", action="store_true")
    p.add_argument("queries", nargs="*")
    opts = p.parse_args()
    args = opts.queries
    passes = int(os.environ.get("MEASURE_PASSES", "3"))
    if opts.all:
        args = [q for q in QUERIES if q != "ml_text_metrics"]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name=f"dwcs-measure-r{opts.round}")

    # same warmup as bench.py
    materialize(QUERIES["windowed_range_scan"](spark, sf_dir))
    from pyspark.sql import functions as F

    _warm = F.pandas_udf(lambda s: s, "long")
    materialize(spark.range(1000).select(_warm("id")))

    plans_dir = (
        Path(__file__).resolve().parent.parent / "plans" / f"r{opts.round}"
    )
    out = {}
    for name in args:
        spark.sparkContext.setJobDescription(f"measure: {name}")
        samples = []
        for _ in range(passes):
            t0 = time.perf_counter()
            materialize(QUERIES[name](spark, sf_dir))
            samples.append(round(time.perf_counter() - t0, 3))
        out[name] = {"min": min(samples), "samples": samples}
        print(json.dumps({name: out[name]}), flush=True)
        if opts.plans:
            plans_dir.mkdir(parents=True, exist_ok=True)
            df = QUERIES[name](spark, sf_dir)
            tag = os.environ.get("PLAN_TAG", "before")
            (plans_dir / f"{name}_{tag}.txt").write_text(
                df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
            )
    print(json.dumps({"total_min": round(sum(v["min"] for v in out.values()), 3)}))
    spark.stop()


if __name__ == "__main__":
    main()
