"""Salting tests: the sampled plan's salt per row; salted partial agg == direct agg."""

import pyspark.sql.functions as F

from gips_spark.functions import udfs
from gips_spark.plans import salt as saltplan


def test_hot_cells_get_salt(pages, enriched):
    # the plan's arithmetic: over the whole table (fraction=1.0) it is
    # the hot cells of a plain count, n_salt = ceil(count / target), the
    # null cell included
    counts = enriched.groupBy("h3_7").count().collect()
    hot = {r["h3_7"]: -(-r["count"] // 20) for r in counts if r["count"] > 20}
    plan = saltplan.salt_plan(enriched, "h3_7", target_rows=20, fraction=1.0)
    assert {r["h3_7"]: r["n_salt"] for r in plan.collect()} == hot
    assert None in hot
    # the salting enrich_pages applies: the plan of the same 2% draw of
    # the raw pages' assignment-only cells; a row of a planned cell gets
    # pmod(xxhash64(url), n_salt), every other row 0
    cells = pages.sample(fraction=0.02, seed=42).select(
        udfs.geocode_and_cells(F.col("url"), F.col("text")).h3_7.alias("h3_7")
    )
    sampled = saltplan.salt_plan(cells, "h3_7", target_rows=20, fraction=0.02)
    n_salt = {r["h3_7"]: r["n_salt"] for r in sampled.collect()}
    assert None in n_salt and len(n_salt) > 1
    rows = enriched.select("h3_7", "salt", F.xxhash64("url").alias("k")).collect()
    assert any(r["h3_7"] not in n_salt for r in rows)
    want = [r["k"] % n_salt[r["h3_7"]] if r["h3_7"] in n_salt else 0 for r in rows]
    assert [r["salt"] for r in rows] == want
    # the NULL cell (non-geocodable rows — the biggest group of all) MUST
    # be salted too: unsalted it is a single 5×10^11-row reducer
    # partition at the 10^12-row posture (r2 null-safe salt join fix)
    assert len({r["salt"] for r in rows if r["h3_7"] is None}) > 1


def test_salted_partial_agg_equals_direct(enriched):
    """A6: partial per (cell, salt) then final per cell == direct groupBy."""
    direct = (
        enriched.groupBy("h3_7")
        .agg(F.count("*").alias("n"), F.sum(F.length("url")).alias("s"))
        .collect()
    )
    partial = (
        enriched.groupBy("h3_7", "salt")
        .agg(F.count("*").alias("n"), F.sum(F.length("url")).alias("s"))
        .groupBy("h3_7")
        .agg(F.sum("n").alias("n"), F.sum("s").alias("s"))
        .collect()
    )
    d = {r["h3_7"]: (r["n"], r["s"]) for r in direct}
    p = {r["h3_7"]: (r["n"], r["s"]) for r in partial}
    assert d == p


def test_skew_ratio_reports_hotspots(enriched):
    r = saltplan.skew_ratio(enriched.where(F.col("h3_7").isNotNull()), "h3_7")
    assert r >= 10.0  # fixture plants mega-cells ≥ 50× median at full size
