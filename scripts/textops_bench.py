"""Throughput bench for the round-5 text-pipeline T-ops over 1M
synthesized documents (deterministic JVM-generated corpus, no external
data): entropy_stats, repetition_stats, pack_sequences, decontaminate,
exact_dedup.

Canary-flanked protocol: a CPU canary before and after every trial,
best-of-N published WITH all trials and flanks so degraded-host
readings are auditable.

Usage: python scripts/textops_bench.py [trials]   (default 3)
Runs at local[$SPARK_GRAFT_CPUS] (get_spark's default) and writes
BENCH/textops_bench.json, which records the master it ran on.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from gips_spark import get_spark  # noqa: E402

N_DOCS = 1_000_000


def _canary_worker(conn):
    import numpy as np

    rng = np.random.default_rng(7)
    arr = rng.integers(0, 255, 2_000_000, dtype=np.uint8)
    h = np.full(arr.size - 7, np.uint64(0xCBF29CE484222325), dtype=np.uint64)
    prime = np.uint64(0x100000001B3)
    for k in range(8):  # fixed FNV-over-windows op count
        h ^= arr[k : k + h.size].astype(np.uint64)
        h *= prime
    # pipe traffic (the degraded state is syscall-bound)
    blob = arr[:262_144].tobytes()
    for _ in range(40):
        conn.send_bytes(blob)
        conn.recv_bytes()
    conn.send(int(h[0]))


def canary_seconds(n_procs: int = 8) -> float:
    """Wall time of a fixed CPU + pipe workload in `n_procs` processes:
    a host-health flank, higher when the host is degraded."""
    t0 = time.monotonic()
    procs, conns = [], []
    for _ in range(n_procs):
        a, b = mp.Pipe()
        p = mp.Process(target=_canary_worker, args=(b,))
        p.start()
        procs.append(p)
        conns.append(a)
    for a in conns:
        for _ in range(40):
            a.recv_bytes()
            a.send_bytes(b"x" * 262_144)
        a.recv()
    for p in procs:
        p.join()
    return time.monotonic() - t0


def synth_docs(spark):
    """1M deterministic docs, ~24 tokens each, Zipf-ish small vocab with
    id-derived words (repetition signal present), ~130 chars/doc."""
    from pyspark.sql import functions as F

    d = spark.range(N_DOCS).select(F.col("id").alias("doc_id"))
    word = lambda k: F.concat(
        F.lit("w"), F.pmod(F.col("doc_id") * (2 * k + 1) + k, F.lit(97 + k))
    )
    # 8 distinct id-derived words, each repeated 3x -> dup 2/5-grams exist
    parts = []
    for k in range(8):
        parts += [word(k)] * 3
    return d.select("doc_id", F.concat_ws(" ", *parts).alias("text"))


def main():
    trials = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    spark = get_spark("textops-bench")
    cache = os.path.join(REPO, ".bench_cache", f"textdocs_{N_DOCS}")
    if not os.path.exists(cache):
        synth_docs(spark).write.mode("overwrite").parquet(cache)
    docs = spark.read.parquet(cache)

    from pyspark.sql import functions as F

    from gips_spark.operators import dedup, packing, textops

    bench_table = docs.where("doc_id % 199 = 0").select(
        F.expr(
            "array_join(slice(filter(split(text, '\\\\s+'), x -> x != ''), 1, 12), ' ')"
        ).alias("text")
    )

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    stages = {
        "entropy": lambda: noop(textops.entropy_stats(docs)),
        "repetition": lambda: noop(textops.repetition_stats(docs)),
        "pack": lambda: noop(
            packing.pack_sequences(docs, pack_tokens=2048, n_buckets=256)
        ),
        "decontam": lambda: noop(textops.decontaminate(docs, bench_table, n=8)),
        "exact_dedup": lambda: noop(dedup.exact_dedup(docs, "doc_id", "text")),
    }

    # warmup: spawn workers + JIT EVERY stage's plan shape on a small
    # slice (code-review r5: unwarmed stages carried first-run JIT skew)
    small = docs.limit(50_000)
    small_bench = bench_table.limit(200)
    noop(textops.entropy_stats(small))
    noop(textops.repetition_stats(small))
    noop(packing.pack_sequences(small, pack_tokens=2048, n_buckets=256))
    noop(textops.decontaminate(small, small_bench, n=8))
    noop(dedup.exact_dedup(small, "doc_id", "text"))

    out = {"n_docs": N_DOCS, "master": spark.sparkContext.master, "trials": {}, "flanks": {}, "best": {}, "rows_per_sec": {}}
    for name, fn in stages.items():
        ts, fl = [], []
        for _ in range(trials):
            fl.append(canary_seconds())
            spark.catalog.clearCache()
            t0 = time.monotonic()
            fn()
            ts.append(round(time.monotonic() - t0, 3))
        fl.append(canary_seconds())
        out["trials"][name] = ts
        out["flanks"][name] = [round(c, 2) for c in fl]
        out["best"][name] = min(ts)
        out["rows_per_sec"][name] = round(N_DOCS / min(ts), 1)
        print(name, ts, "flanks", out["flanks"][name], flush=True)

    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "textops_bench.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
