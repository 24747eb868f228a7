"""jobs/ingest_batch.py — the lineage-resumable incremental-ingest job
(VERDICT r4 next #2): two-batch end-to-end, crash-resume mid-ingest,
resumed final state == from-scratch state (content + checksums).

Reference contract: `gips/data/core.py :: Asset.archive` (skip work
already on disk) + `Data.process` (recreate exactly the missing pieces).
"""

import shutil

import pandas as pd
import pyspark.sql.functions as F

from jobs.ingest_batch import ingest_batch

N_BUCKETS = 8


def _docs(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"]).astype(
            {"doc_id": "int64", "text": "str"}
        )
    )


def _batches(spark):
    # batch1: 8 docs, one internal dup pair (0,3); distinct texts: 7
    b1 = _docs(
        spark,
        [(0, "the quick brown fox"), (1, "lorem ipsum dolor"),
         (2, "spark engines at scale"), (3, "the quick brown fox"),
         (4, "completely unique four"), (5, "another unique five"),
         (6, "sixth doc body text"), (7, "seventh doc body text")],
    )
    # batch2: dups of batch1 (10→text0, 14→text6), internal dup (11,15),
    # and new texts
    b2 = _docs(
        spark,
        [(10, "the quick brown fox"), (11, "fresh batch two text"),
         (12, "brand new twelve"), (13, "brand new thirteen"),
         (14, "sixth doc body text"), (15, "fresh batch two text"),
         (16, "final sixteen body")],
    )
    return b1, b2


def _table_rows(spark, path):
    try:
        df = spark.read.parquet(path)
    except Exception:
        return []
    rows = []
    for r in df.collect():
        d = r.asDict()
        rows.append(
            tuple(
                tuple(v) if isinstance(v, list) else v
                for _, v in sorted(d.items())
            )
        )
    return sorted(rows, key=repr)


def _lineage_sums(spark, root):
    lin = spark.read.parquet(f"{root}/_lineage")
    return {
        (r["run_id"], r["stage"], r["bucket"]): (r["row_count"], r["checksum"])
        for r in lin.collect()
    }


def test_two_batch_ingest_crash_resume_equals_fresh(spark, tmp_path):
    b1, b2 = _batches(spark)
    clean = str(tmp_path / "clean")
    crash = str(tmp_path / "crash")

    # ---- from-scratch reference run
    m1 = ingest_batch(spark, b1, "b1", clean, n_buckets=N_BUCKETS)
    m2 = ingest_batch(spark, b2, "b2", clean, n_buckets=N_BUCKETS)
    assert m1["survivors"] == 7  # one internal dup pair in batch1
    assert m2["survivors"] == 4  # 11,12,13,16 (10,14 in corpus; 15 dup of 11)

    # dedup verdicts: batch2 dup of batch1 resolves to the CORPUS id
    a = {
        r["doc_id"]: r["canonical_id"]
        for r in spark.read.parquet(f"{clean}/assign").collect()
    }
    assert a[10] == 0 and a[14] == 6 and a[15] == 11 and a[3] == 0
    assert a[11] == 11 and a[12] == 12

    # ---- interrupted run: ingest both batches, then simulate a crash
    # that loses two keys buckets + one bands bucket of batch2
    ingest_batch(spark, b1, "b1", crash, n_buckets=N_BUCKETS)
    ingest_batch(spark, b2, "b2", crash, n_buckets=N_BUCKETS)

    lin = spark.read.parquet(f"{crash}/_lineage")
    lost = [("keys", "tkey1_bucket", 2), ("keys", "tkey1_bucket", 5),
            ("bands", "bkey_bucket", 3)]
    for table, bcol, b in lost:
        shutil.rmtree(
            f"{crash}/{table}/batch=b2/{bcol}={b}", ignore_errors=True
        )
    keep = lin.where(
        ~(
            (F.col("run_id") == "b2")
            & (
                ((F.col("stage") == "keys") & F.col("bucket").isin([2, 5]))
                | ((F.col("stage") == "bands") & (F.col("bucket") == 3))
            )
        )
    ).cache()
    keep.count()
    shutil.rmtree(f"{crash}/_lineage")
    keep.write.parquet(f"{crash}/_lineage")

    # ---- resume: only the lost buckets are recomputed
    m3 = ingest_batch(spark, b2, "b2", crash, n_buckets=N_BUCKETS)
    by_stage = {s["stage"]: s for s in m3["stages"]}
    assert by_stage["assign"]["resumed"] and by_stage["corpus"]["resumed"]
    assert by_stage["keys"]["buckets_run"] == 2
    assert by_stage["bands"]["buckets_run"] == 1

    # ---- full re-run afterwards: zero new work anywhere
    m4 = ingest_batch(spark, b2, "b2", crash, n_buckets=N_BUCKETS)
    assert all(s["resumed"] for s in m4["stages"])

    # ---- resumed state == from-scratch state: content of all four
    # tables and every (run, stage, bucket) lineage checksum
    for table in ("assign", "corpus", "keys", "bands"):
        assert _table_rows(spark, f"{crash}/{table}") == _table_rows(
            spark, f"{clean}/{table}"
        ), table
    sums_clean = _lineage_sums(spark, clean)
    sums_crash = {
        k: v for k, v in _lineage_sums(spark, crash).items()
    }
    assert sums_crash == sums_clean


def test_ingest_first_batch_empty_corpus(spark, tmp_path):
    """First batch against a nonexistent corpus: everything distinct
    survives, assign maps dups to the batch minimum."""
    b1, _ = _batches(spark)
    root = str(tmp_path / "fresh")
    m = ingest_batch(spark, b1, "b1", root, n_buckets=N_BUCKETS)
    assert m["rows_in"] == 8 and m["survivors"] == 7
    keys = spark.read.parquet(f"{root}/keys")
    assert keys.count() == 7
    assert keys.select("canonical_id").distinct().count() == 7


def test_unreadable_corpus_keys_raise(spark, tmp_path):
    """A corpus key table that exists but cannot be read is not an empty
    corpus: ingest raises before it admits a duplicate of a corpus text
    or records lineage for the batch."""
    import os

    import pytest

    b1, b2 = _batches(spark)
    root = str(tmp_path / "corpus")
    ingest_batch(spark, b1, "b1", root, n_buckets=N_BUCKETS)
    lin_before = _lineage_sums(spark, root)
    for d, _, files in os.walk(f"{root}/keys/batch=b1"):
        for f in files:
            path = os.path.join(d, f)
            os.truncate(path, os.path.getsize(path) // 2)

    with pytest.raises(Exception, match="keys/batch=b1"):
        ingest_batch(spark, b2, "b2", root, n_buckets=N_BUCKETS)

    assert _lineage_sums(spark, root) == lin_before
    assert _table_rows(spark, f"{root}/assign/batch=b2") == []
    corpus_ids = {r["doc_id"] for r in spark.read.parquet(f"{root}/corpus").collect()}
    assert 10 not in corpus_ids


def test_dedup_join_reads_corpus_keys_once(spark, tmp_path, monkeypatch):
    """A batch's dedup join scans the corpus keys once: the keys stage's
    write of keys/ does not make the bands stage run the join again
    against the re-listed table (which then holds the batch's own
    keys).  Every keys row that reaches the join is counted."""
    import jobs.ingest_batch as job

    b1, b2 = _batches(spark)
    root = str(tmp_path / "corpus")
    ingest_batch(spark, b1, "b1", root, n_buckets=N_BUCKETS)
    n_keys = spark.read.parquet(f"{root}/keys").count()
    scanned = spark.sparkContext.accumulator(0)
    read_table = job.lineage.read_table

    @F.udf("boolean")
    def seen(_):
        scanned.add(1)
        return True

    def counted(spark_, path):
        df = read_table(spark_, path)
        return df.where(seen("tkey1")) if df is not None and path.endswith("/keys") else df

    monkeypatch.setattr(job.lineage, "read_table", counted)
    m = ingest_batch(spark, b2, "b2", root, n_buckets=N_BUCKETS)
    assert m["survivors"] == 4 and not any(s["resumed"] for s in m["stages"])
    assert scanned.value == n_keys == 7


def test_streaming_ingest_dedup_available_now(spark, tmp_path):
    """jobs/ingest_stream.py: micro-batches drive the SAME lineage job;
    order-free oracle — one keys row per distinct text, every canonical
    id carries the identical text, and a re-run of the drained stream
    (same checkpoint) does zero new work."""
    import pandas as pd
    from pyspark.sql import functions as F

    from jobs.ingest_stream import run_ingest_stream_available_now

    in_path = str(tmp_path / "landing")
    root = str(tmp_path / "corpus")
    ck = str(tmp_path / "ck")

    texts = [
        "alpha body", "beta body", "alpha body", "gamma body",
        "delta body", "beta body", "epsilon body", "alpha body",
    ]
    pdf = pd.DataFrame({"doc_id": range(8), "text": texts}).astype(
        {"doc_id": "int64"}
    )
    # two landing files → (with maxFilesPerTrigger=1) two+ epochs
    spark.createDataFrame(pdf.iloc[:4]).coalesce(1).write.mode("append").parquet(in_path)
    spark.createDataFrame(pdf.iloc[4:]).coalesce(1).write.mode("append").parquet(in_path)

    m1 = run_ingest_stream_available_now(spark, in_path, root, ck, n_buckets=4)
    assert len(m1) >= 1

    assign = spark.read.parquet(f"{root}/assign")
    keys = spark.read.parquet(f"{root}/keys")
    corpus = spark.read.parquet(f"{root}/corpus")
    assert assign.count() == 8                       # a verdict per doc
    assert keys.count() == 5                         # distinct texts
    assert corpus.count() == 5
    # canonical carries the identical text (order-free oracle)
    docs = spark.createDataFrame(pdf)
    canon_join = (
        assign.join(docs, "doc_id")
        .join(
            docs.select(
                F.col("doc_id").alias("canonical_id"),
                F.col("text").alias("canon_text"),
            ),
            "canonical_id",
        )
    )
    assert canon_join.where(F.col("text") != F.col("canon_text")).count() == 0
    # survivors are exactly the canonical ids
    surv_ids = {r["doc_id"] for r in corpus.select("doc_id").collect()}
    canon_ids = {r["canonical_id"] for r in assign.select("canonical_id").collect()}
    assert surv_ids == canon_ids

    # drained stream re-run: no new epochs, no new lineage rows
    lin_before = spark.read.parquet(f"{root}/_lineage").count()
    m2 = run_ingest_stream_available_now(spark, in_path, root, ck, n_buckets=4)
    assert m2 == []
    assert spark.read.parquet(f"{root}/_lineage").count() == lin_before
