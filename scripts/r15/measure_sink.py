"""Round-15 item 2: isolate the managed-table sink's per-batch cost.

Phases, each timed min-of-N on a warmed session:
  A. curated-batch compute through the noop sink (pure compute)
  B. same frame through the managed_table DECLARATIVE batch writer
     (compute + executor staging + session-less commit hook) — the exact
     write/commit stack the streaming sink runs per micro-batch
  C. _commit_staged internals timed in-process with pre-staged files
     (what the commit hook pays, step by step)
  D. the full streaming entry's per-batch progress metrics
     (addBatch/walCommit/commitOffsets/stateOperators commit)
"""

from __future__ import annotations

import json
import os
import sys
import time
import uuid
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

from data_warehouse_copy_spark.session import get_spark  # noqa: E402


def t(fn, n=3):
    best = 1e9
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="dwcs-sink-r15")
    from pyspark.sql import functions as F

    from data_warehouse_copy_spark.sources.datasource import register
    from data_warehouse_copy_spark.sources.managed_table import ManagedTable
    from data_warehouse_copy_spark.streaming.curation import curate_batch

    register(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    curated = curate_batch(docs).localCheckpoint()  # freeze compute out

    # A: compute-only on the frozen frame (sanity: ~0)
    a = t(lambda: curated.write.format("noop").mode("overwrite").save())
    print(json.dumps({"A_noop_frozen": a}), flush=True)

    # B: declarative batch write (staging + commit hook), fresh table each
    def write_once():
        root = f"/tmp/dwcs_sinkms_{uuid.uuid4().hex}"
        (curated.write.format("managed_table").mode("append").save(root))

    b = t(write_once)
    print(json.dumps({"B_declarative_write": b}), flush=True)

    # B2: append to an EXISTING table (the steady-state micro-batch shape)
    root2 = f"/tmp/dwcs_sinkms_{uuid.uuid4().hex}"
    curated.write.format("managed_table").mode("append").save(root2)
    b2 = t(
        lambda: curated.write.format("managed_table")
        .mode("append")
        .save(root2)
    )
    print(json.dumps({"B2_append_existing": b2}), flush=True)

    # C: commit-hook internals, in-process, with files pre-staged
    import pyarrow.parquet as pq

    from data_warehouse_copy_spark.sources import datasource as ds

    root3 = f"/tmp/dwcs_sinkms_{uuid.uuid4().hex}"
    curated.write.format("managed_table").mode("append").save(root3)
    tbl = ManagedTable(spark, root3)
    schema = curated.schema
    # stage a file set like one task would
    batches = curated.toArrow().to_batches()
    msg = ds._stage_batches(root3, iter(batches))
    t0 = time.perf_counter()
    ds._commit_staged(root3, schema, [msg], "append")
    c_total = time.perf_counter() - t0
    print(json.dumps({"C_commit_staged_total": round(c_total, 3)}), flush=True)
    # step it: repeat with timing inside by re-staging
    msg2 = ds._stage_batches(root3, iter(curated.toArrow().to_batches()))
    from data_warehouse_copy_spark.sources.managed_table import _lock_for

    t0 = time.perf_counter()
    t_ = ManagedTable.create(None, root3)
    t1 = time.perf_counter()
    b_ = t_._head()
    t2 = time.perf_counter()
    m = t_.snapshot()
    t3 = time.perf_counter()
    print(
        json.dumps(
            {
                "C_create": round(t1 - t0, 3),
                "C_bounded_base": round(t2 - t1, 3),
                "C_snapshot": round(t3 - t2, 3),
                "C_n_files": len(m.files),
            }
        ),
        flush=True,
    )

    # D: the real streaming entry's progress metrics
    from data_warehouse_copy_spark.streaming.curation import (
        stream_curate_declarative,
    )

    tmp = f"/tmp/dwcs_sinkms_{uuid.uuid4().hex}"
    bronze = ManagedTable.create(spark, f"{tmp}/bronze")
    bronze.append(docs.filter(F.col("doc_id") % 2 == 0))
    q = stream_curate_declarative(
        spark, f"{tmp}/bronze", f"{tmp}/silver", f"{tmp}/ckpt"
    )
    try:
        q.processAllAvailable()
        bronze.append(docs.filter(F.col("doc_id") % 2 == 1))
        q.processAllAvailable()
        for p in q.recentProgress:
            keep = {
                "batchId": p["batchId"],
                "durationMs": p["durationMs"],
                "state_commit": [
                    {
                        "commitTimeMs": s.get("commitTimeMs"),
                        "numShufflePartitions": s.get("numShufflePartitions"),
                    }
                    for s in p.get("stateOperators", [])
                ],
            }
            print(json.dumps(keep), flush=True)
    finally:
        q.stop()
    spark.stop()


if __name__ == "__main__":
    main()
