"""Shuffle bytes for the per-stage job records (jobs/run_stage.py,
jobs/ingest_batch.py, jobs/remap_h3.py).

Rows/sec and skew come from the lineage manifests (plans/lineage.py).
Shuffle bytes are read from Spark's AppStatusStore when reachable via
py4j (best-effort; -1 when the internal API is unavailable — e.g.
version drift on a managed cluster).
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def shuffle_bytes_total(spark: SparkSession) -> int:
    """Total shuffle write bytes across completed stages (best-effort)."""
    try:
        sc = spark.sparkContext
        store = sc._jsc.sc().statusStore()
        empty = sc._jvm.java.util.ArrayList()
        try:
            # Spark 4.x signature:
            # stageList(JList, unsorted, details, taskQuantiles[], statuses)
            darr = sc._gateway.new_array(sc._jvm.double, 0)
            seq = store.stageList(empty, False, False, darr, empty)
        except Exception:
            seq = store.stageList(empty)  # older signature
        it = seq.iterator()
        total = 0
        while it.hasNext():
            s = it.next()
            total += s.shuffleWriteBytes()
        return int(total)
    except Exception:
        return -1

