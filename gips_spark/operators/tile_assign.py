"""M1 — the flagship pipeline: pages → pages_enriched → tile_assignments.

Reference parity: this is the engine's `vector2tiles` + inventory build
(`gips/data/core.py :: Repository.vector2tiles` + `gips/inventory ::
DataInventory.__init__`, SURVEY.md §2.3 J1, §3 E1): every record gets a
tile (H3 res-7 + S2 level-13 cell) the way every GIPS asset gets a grid
tile.

Plan shape (scale notes):
  read pages without `html` (it is read only when the caller keeps
  `extracted_text`, ``with_text=True``)
  → ONE Arrow UDF (geocode+h3+s2, or extract+geocode+h3+s2 with text;
    one Python hop); the salt sample's pass runs over ceil(P × sample)
    partitions of a P-partition scan, and its cell histogram is the
    salt plan
  → broadcast-join the salt plan (tiny) → salt column
  → repartition(cell_prefix, salt)  ← the single explicit
    shuffle, whose layout downstream stages reuse (SURVEY.md §3)
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from gips_spark.functions import h3lite, udfs
from gips_spark.plans import salt as saltplan


def cell_prefix_col(h3_7: Column) -> Column:
    """The res-4 partitioning prefix of a res-7 id column
    (`h3lite.cell_prefix`); the null cell maps to -1."""
    return F.when(
        h3_7.isNotNull(), F.shiftright(h3_7, h3lite.PREFIX_SHIFT)
    ).otherwise(F.lit(-1)).cast("int")


def enrich_pages(
    pages: DataFrame,
    salt_target_rows: int = saltplan.DEFAULT_TARGET_ROWS,
    do_repartition: bool = True,
    persist: bool = False,
    salt_sample: float = 0.02,
    with_text: bool = False,
) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → pages_enriched.

    One full UDF pass, hash-partitioned on (cell_prefix, salt).  The
    salt plan comes from the assignment-only kernel over a
    `salt_sample` fraction of the raw pages (plans/salt.py ::
    salt_plan(fraction=salt_sample)).  Nothing is persisted: a caller
    that reads the output more than once calls ``.persist()`` on it,
    and keeps the handle to unpersist it (``persist`` accepts only
    False, the value `bench.py` passes).  This is the 10^12-row shape:
    between stages the lineage protocol checkpoints to parquet, and
    file-level range layout happens at the bucketed write.

    By default the chain runs the assignment-only kernel
    (`udfs.geocode_and_cells`): only url + text enter Python, and the
    scan does not read `html` — Catalyst cannot prune inside a Python
    UDF, so a kernel that takes `html` reads, ships and strips it even
    when the caller drops its output.  ``with_text=True`` runs the
    fused `udfs.enrich_struct` instead and adds `extracted_text`; every
    other column is identical in both forms.
    """
    def chain(df: DataFrame, text: bool = with_text) -> DataFrame:
        # geocode (and, with text, the markup strip) run inside the one
        # fused Arrow kernel, not as JVM expressions: the JVM geocode
        # cascade evaluated every regex once per output column (lat/lon/
        # src are three CaseWhen trees, no cross-column subexpression
        # elimination → ~117 µs/row), and the JVM strip chain cost 29
        # core-s/1M rows vs ~5 for the Python re equivalent.  The
        # geocoder runs RE2 (pyarrow compute) on the oracle's own
        # pattern strings.  Outputs pinned by the goldens + oracle gate.
        if text:
            out = (
                df.withColumn(
                    "e",
                    udfs.enrich_struct(
                        F.col("html"), F.col("url"), F.col("text")
                    ),
                )
                .select(
                    "url", "warc_ts", "lang",
                    "e.lat", "e.lon", "e.geocode_src",
                    "e.extracted_text", "e.h3_7", "e.s2_13",
                )
            )
        else:
            # assignment-only: no html strip, no extracted_text — only
            # url+text enter Python, (lat, lon, src, h3, s2) return.
            out = (
                df.withColumn(
                    "e", udfs.geocode_and_cells(F.col("url"), F.col("text"))
                )
                .select("url", "warc_ts", "lang", "e.*")
            )
        return out.withColumn("cell_prefix", cell_prefix_col(F.col("h3_7")))

    if persist:
        raise ValueError(
            "enrich_pages does not persist; call .persist() on its result"
        )
    e = chain(pages)
    # sample the RAW pages, then enrich the subset: Catalyst does not
    # push `sample` below ArrowEvalPython, so sampling e itself would
    # cost a FULL second UDF pass (measured: exactly halves single-pass
    # throughput at local[8]).  The sample pass uses the
    # assignment-only chain — the salt histogram needs h3_7 only.
    # Every Python task pays a fixed start-up cost whatever its row
    # count, so the sample is moved into k = ceil(P × salt_sample)
    # partitions first (P: the scan's), about one main-pass task's rows
    # each.  The rows are drawn before the exchange, so the plan is the
    # same; `coalesce` would instead pull the whole scan into k tasks.
    k = max(1, math.ceil(pages.rdd.getNumPartitions() * salt_sample))
    sample = pages.sample(fraction=salt_sample, seed=42).repartition(k)
    plan = saltplan.salt_plan(
        chain(sample, text=False),
        "h3_7",
        target_rows=salt_target_rows,
        fraction=salt_sample,
    )
    e = saltplan.with_salt(e, "h3_7", "url", plan)
    if do_repartition:
        e = e.repartition("cell_prefix", "salt")
    return e


def tile_assignments(enriched: DataFrame) -> DataFrame:
    """Golden output table: (url, h3_7, s2_13) for geocodable rows."""
    return enriched.where(F.col("geocode_src") != "none").select(
        "url", "h3_7", "s2_13"
    )


def latest_per_url(enriched: DataFrame) -> DataFrame:
    """J6/W1 — as-of dedup: keep the latest crawl per url (the reference's
    sensor-preference 'one best observation per (tile, date)' pattern)."""
    w = W.partitionBy("url").orderBy(
        F.col("warc_ts").desc(), F.col("geocode_src").asc()
    )
    return (
        enriched.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
