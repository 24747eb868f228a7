"""M1 — the flagship pipeline: pages → pages_enriched → tile_assignments.

Reference parity: this is the engine's `vector2tiles` + inventory build
(`gips/data/core.py :: Repository.vector2tiles` + `gips/inventory ::
DataInventory.__init__`, SURVEY.md §2.3 J1, §3 E1): every record gets a
tile (H3 res-7 + S2 level-13 cell) the way every GIPS asset gets a grid
tile.

Plan shape (scale notes):
  read pages (column pruning matters — `html` is only selected here)
  → ONE fused Arrow UDF (extract+geocode+h3+s2; one Python hop)
  → broadcast-join the salt plan (tiny) → salt column
  → repartition(cell_prefix, salt)  ← the single explicit
    shuffle, whose layout downstream stages reuse (SURVEY.md §3)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from gips_spark.functions import udfs
from gips_spark.plans import salt as saltplan

#: id truncated below digit 4 → res-4 granularity range-partition key
PREFIX_SHIFT = 33


def enrich_pages(
    pages: DataFrame,
    salt_target_rows: int = saltplan.DEFAULT_TARGET_ROWS,
    do_repartition: bool = True,
    persist: bool | None = None,
    salt_sample: float | None = None,
    with_text: bool = True,
) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → pages_enriched.

    Two execution modes:

    * exact (``salt_sample=None``, default): full salt histogram; the
      UDF output is persisted (MEMORY_AND_DISK) so the Python stage
      doesn't run twice (histogram, final).
    * single-pass (``salt_sample=0.02``): the salt plan comes from the
      assignment-only kernel over a 2% sample of the raw pages
      (plans/salt.py :: salt_plan_presampled) — no block-manager
      persist, exactly ONE full UDF pass.  This is the 10^12-row shape:
      between stages the lineage protocol checkpoints to parquet anyway,
      and file-level range layout happens at the bucketed write.

    Both modes hash-partition on (cell_prefix, salt).
    """
    def chain(df: DataFrame, text: bool = with_text) -> DataFrame:
        # r6 (guide §1/§4, measured in bench_extra + OPTIMIZATION_r06.md):
        # geocode AND markup strip moved from JVM expressions INTO the
        # fused Arrow kernel.  The JVM geocode cascade evaluated every
        # regex once per output column (lat/lon/src are three CaseWhen
        # trees, no cross-column subexpression elimination → ~117
        # µs/row vs ~6 µs/row for the vectorized pandas rule table),
        # and the JVM strip chain cost 29 core-s/1M rows vs ~5 for the
        # Python re equivalent — java.util.regex loses to CPython's sre
        # on every pattern here.  Shipping raw html (+185 B/row on the
        # Arrow channel) costs less than either.  Outputs pinned by the
        # goldens + oracle gate.
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
        return out.withColumn(
            "cell_prefix",
            F.when(
                F.col("h3_7").isNotNull(), F.shiftright(F.col("h3_7"), PREFIX_SHIFT)
            ).otherwise(F.lit(-1)).cast("int"),
        )

    e = chain(pages)
    if persist is None:
        persist = salt_sample is None
    if persist:
        from pyspark import StorageLevel

        e = e.persist(StorageLevel.MEMORY_AND_DISK)
    if salt_sample is not None:
        # sample the RAW pages, then enrich the 2% subset: Catalyst does
        # not push `sample` below ArrowEvalPython, so sampling e itself
        # would cost a FULL second UDF pass (measured: exactly halves
        # single-pass throughput at local[8]).  r6: the sample pass uses
        # the assignment-only chain — the salt histogram needs h3_7
        # only, so the 2% subset skips html strip + text extraction
        # (identical h3_7 values, hence an identical salt plan).
        plan = saltplan.salt_plan_presampled(
            chain(pages.sample(fraction=salt_sample, seed=42), text=False),
            "h3_7",
            target_rows=salt_target_rows,
            fraction=salt_sample,
        )
    else:
        plan = None
    e = saltplan.with_salt(e, "h3_7", "url", plan=plan, target_rows=salt_target_rows)
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
