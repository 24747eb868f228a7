"""Seeded input generation, run before the measured process starts.

The page pool is ``fixtures.gen_pages`` output (deterministic, seedless),
built once per checkout by a Spark subprocess and cached under the work
directory.  Everything else is made per seed without a JVM:

* pages: a seeded hash selection over the pool's rows (the FIXTURES.md
  hotspot skew survives, since selection is by url hash);
* spatial: ``gen_extents_pdf``, ``gen_knn_queries_pdf``,
  ``gen_scenes_pdf`` + ``gen_raster_chunks_pdf`` with ``rng_seed=seed``;
* textops: a seeded Zipf-vocabulary document formula plus a benchmark
  table, a third of whose snippets are copied out of the corpus.

Usage (the pool build; ``run.py`` calls it):
    python3 perfbench/inputs.py pool <out_dir>
"""

from __future__ import annotations

import os
import shutil
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

POOL_ROWS = 200_000
#: page selections: keep rows whose seeded url hash is 0 mod d
ASSIGN_DENOM = 2
SPATIAL_DENOM = 8
#: files per table the scan reads, so each gets one task per core or more
PAGE_FILES = 8
N_SCENES = 10
N_DOCS = 5_000
N_BENCH_TEXTS = 150
DONE = "_READY"


def build_pool(out_dir: str) -> None:
    """Spark job: ``gen_pages(POOL_ROWS)`` → parquet at ``out_dir``."""
    from gips_spark import get_spark
    from gips_spark.sources import fixtures

    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    spark = get_spark(
        "perfbench-pool", master="local[4]", shuffle_partitions=4,
        extra_conf=spark_conf(os.path.dirname(out_dir)),
    )
    try:
        fixtures.gen_pages(spark, POOL_ROWS, n_partitions=PAGE_FILES).write.parquet(tmp)
    finally:
        spark.stop()
    os.replace(tmp, out_dir)


def spark_conf(work_dir: str) -> dict:
    """Conf every benchmark session uses: a fixed driver heap (the
    session default of 16g is more than the host's RAM), allocated in
    full at start so heap growth is not part of the warm-up, and scratch
    directories inside the work directory."""
    return {
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": "-Xms2g",
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.local.dir": os.path.join(work_dir, "spark-local"),
        "spark.ui.showConsoleProgress": "false",
    }


def _seed_key(seed: int) -> str:
    return f"{seed & 0xFFFFFFFFFFFFFFFF:016x}"[-16:]


def select_pages(pool: pa.Table, seed: int, denom: int) -> pa.Table:
    """Rows whose url hashes (seeded SipHash) to 0 mod ``denom``."""
    urls = pool.column("url").to_numpy(zero_copy_only=False)
    h = pd.util.hash_array(urls, hash_key=_seed_key(seed), categorize=False)
    return pool.filter(pa.array(h % np.uint64(denom) == 0))


def _write_files(table: pa.Table, out_dir: str, n_files: int) -> None:
    os.makedirs(out_dir)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), os.path.join(out_dir, f"part-{i:03d}.parquet"))


def _write_pdf(pdf: pd.DataFrame, spark_schema, path: str, n_files: int = 1) -> None:
    """Parquet of ``pdf``; several files give the scan one task each."""
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(spark_schema) if spark_schema is not None else None
    table = pa.Table.from_pandas(pdf, schema=schema, preserve_index=False)
    if n_files == 1:
        pq.write_table(table, path)
    else:
        _write_files(table, path, n_files)


def gen_docs(seed: int, n_docs: int = N_DOCS) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(docs(doc_id, text), bench(text)) from a seeded formula.

    Each doc draws 8 words from a 3,000-word Zipf(1.1) vocabulary and
    repeats each 2–4 times in a shuffled order over 2–4 lines; 30% of
    docs repeat one line.  Few distinct tokens per doc keep the
    per-row entropy cost near the textops bench corpus, while repeated
    words, grams and lines give every repetition signal work to do."""
    rng = np.random.default_rng(seed)
    vocab = np.array([f"w{i}" for i in range(3000)], dtype=object)
    p = 1.0 / np.arange(1, 3001) ** 1.1
    p /= p.sum()
    words = vocab[rng.choice(3000, size=(n_docs, 8), p=p)]
    reps = rng.integers(2, 5, size=(n_docs, 8))
    n_lines = rng.integers(2, 5, size=n_docs)
    dup = rng.random(n_docs) < 0.3
    texts = []
    for d in range(n_docs):
        t = list(rng.permutation(np.repeat(words[d], reps[d])))
        cut = np.linspace(0, len(t), n_lines[d] + 1).astype(int)
        lines = [" ".join(t[cut[i] : cut[i + 1]]) for i in range(n_lines[d])]
        if dup[d]:
            lines.append(lines[int(rng.integers(0, n_lines[d]))])
        texts.append("\n".join(lines))
    docs = pd.DataFrame({"doc_id": np.arange(n_docs, dtype=np.int64), "text": texts})
    bench = []
    for i in range(N_BENCH_TEXTS):
        if i % 3 == 0:  # contaminating snippet: 12 tokens copied from a doc
            words = texts[int(rng.integers(0, n_docs))].split()
            at = int(rng.integers(0, max(1, len(words) - 12)))
            bench.append(" ".join(words[at : at + 12]))
        else:
            bench.append(" ".join(vocab[rng.choice(3000, size=12, p=p)]))
    return docs, pd.DataFrame({"text": bench})


def prepare(seed: int, pool_dir: str, out_dir: str) -> None:
    """Write the inputs for ``seed`` to ``out_dir``.  Both workloads get
    the same set: a traced run measures every layer."""
    from gips_spark.sources import fixtures

    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    pool = pq.read_table(pool_dir)
    _write_files(select_pages(pool, seed, ASSIGN_DENOM), os.path.join(tmp, "pages"), PAGE_FILES)
    _write_files(select_pages(pool, seed, SPATIAL_DENOM), os.path.join(tmp, "spatial-pages"), PAGE_FILES)
    _write_pdf(fixtures.gen_extents_pdf(seed), fixtures.EXTENTS_SCHEMA,
               os.path.join(tmp, "extents.parquet"))
    _write_pdf(fixtures.gen_knn_queries_pdf(seed), None, os.path.join(tmp, "queries.parquet"))
    scenes = fixtures.gen_scenes_pdf(seed)
    _write_pdf(fixtures.gen_raster_chunks_pdf(scenes, N_SCENES, seed),
               fixtures.RASTER_SCHEMA, os.path.join(tmp, "raster"), PAGE_FILES)
    docs, bench = gen_docs(seed)
    _write_pdf(docs, None, os.path.join(tmp, "docs"), PAGE_FILES)
    _write_pdf(bench, None, os.path.join(tmp, "bench.parquet"))
    open(os.path.join(tmp, DONE), "w").close()
    shutil.rmtree(out_dir, ignore_errors=True)
    os.replace(tmp, out_dir)


if __name__ == "__main__":
    if len(sys.argv) != 3 or sys.argv[1] != "pool":
        sys.exit("usage: python3 perfbench/inputs.py pool <out_dir>")
    build_pool(sys.argv[2])
