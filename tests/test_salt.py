"""Salting tests: hot cells fan out; salted partial agg == direct agg."""

import pyspark.sql.functions as F

from gips_spark.plans import salt as saltplan


def test_hot_cells_get_salt(enriched):
    # the exact plan (fraction=1.0) is the hot cells of a plain count,
    # n_salt = ceil(count / target), the null cell included
    counts = enriched.groupBy("h3_7").count().collect()
    hot = {r["h3_7"]: -(-r["count"] // 20) for r in counts if r["count"] > 20}
    plan = saltplan.salt_plan(enriched, "h3_7", target_rows=20, fraction=1.0)
    assert {r["h3_7"]: r["n_salt"] for r in plan.collect()} == hot
    assert None in hot
    hot_ids = [c for c in hot if c is not None]
    if not hot_ids:  # fixture guarantees hotspots at this threshold
        raise AssertionError("fixture produced no hot cells — skew missing")
    fanout = (
        enriched.where(F.col("h3_7").isin(hot_ids))
        .groupBy("h3_7")
        .agg(F.countDistinct("salt").alias("ns"))
        .collect()
    )
    assert all(r["ns"] > 1 for r in fanout)
    cold = (
        enriched.where(~F.col("h3_7").isin(hot_ids) & F.col("h3_7").isNotNull())
        .select(F.max("salt"))
        .first()[0]
    )
    assert cold == 0
    # the NULL cell (non-geocodable rows — the biggest group of all) MUST
    # be salted too: unsalted it is a single 5×10^11-row reducer
    # partition at the 10^12-row posture (r2 null-safe salt join fix)
    null_fanout = (
        enriched.where(F.col("h3_7").isNull())
        .select(F.countDistinct("salt"))
        .first()[0]
    )
    assert null_fanout > 1


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
