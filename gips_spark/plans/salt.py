"""Explicit histogram-driven salting for skewed mega-cells (SURVEY.md §4).

AQE's skew-join splitting only helps shuffle joins; it does NOT split a
hot `groupBy().applyInPandas` group or fix a range layout.  So the
engine estimates the cell histogram once per run from a sample of the
input (tile_assign.enrich_pages draws 2%) and assigns each hot cell a
salt fan-out ``n_salt = ceil(cell_rows / target_rows)``; records get
``salt = pmod(xxhash64(key), n_salt)``.  Aggregations then run
partial per (cell, salt) and final-combine per cell (SURVEY.md §2.4 A6),
so no single Python worker ever materializes an unsalted hot group.

The salt-factor table is tiny (only cells above target) and is
broadcast-joined — scalable to any input size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_TARGET_ROWS = 100_000


def salt_plan(
    df: DataFrame,
    cell_col: str,
    target_rows: int = DEFAULT_TARGET_ROWS,
    fraction: float = 1.0,
) -> DataFrame:
    """Histogram pass → (cell, n_salt) for cells whose estimated row
    count ``count / fraction`` exceeds `target_rows`.

    ``fraction=1.0`` is the exact histogram (``count / 1.0`` is exact
    below 2^53).  A smaller fraction means `df` is ALREADY a sample of
    that fraction: Catalyst does NOT push `sample` below an
    ArrowEvalPython projection (verified in-plan), so sampling the UDF
    *output* costs a full UDF pass — the caller must sample the RAW
    input and run the enrichment chain on the subset
    (tile_assign.enrich_pages does this).  Salting degree needs only the
    right ORDER of magnitude (underestimates merely leave a group ~2×
    larger), so a 2% sample is plenty for mega-cells; cells below
    ~50/fraction rows can't be estimated and can't be hot either."""
    est = (
        df.groupBy(cell_col)
        .count()
        .select(
            F.col(cell_col),
            (F.col("count") / F.lit(fraction)).alias("est_rows"),
        )
        .where(F.col("est_rows") > target_rows)
    )
    return est.select(
        cell_col,
        F.ceil(F.col("est_rows") / F.lit(target_rows)).cast("int").alias("n_salt"),
    )


def with_salt(
    df: DataFrame,
    cell_col: str,
    key_col: str,
    plan: DataFrame,
) -> DataFrame:
    """Add a `salt` column: ``pmod(xxhash64(key), n_salt)`` for the
    cells of `plan` (a `salt_plan` table), 0 for every other cell.

    The join is NULL-SAFE: the non-geocodable rows (cell NULL — roughly
    half of web pages) form the single largest "cell" and MUST be
    salted too, or `repartition(cell_prefix, salt)` sends them all to
    one reducer partition — a 5×10^11-row straggler at the 10^12-row
    posture (r2 fix; a plain equality join silently dropped the NULL
    plan row)."""
    plan = plan.withColumnRenamed(cell_col, "__salt_cell")
    out = df.join(
        F.broadcast(plan), df[cell_col].eqNullSafe(F.col("__salt_cell")), "left"
    ).drop("__salt_cell")
    return out.withColumn(
        "salt",
        F.when(
            F.col("n_salt").isNotNull(),
            F.pmod(F.xxhash64(F.col(key_col)), F.col("n_salt")).cast("int"),
        ).otherwise(F.lit(0)),
    ).drop("n_salt")


def skew_ratio(df: DataFrame, cell_col: str) -> float:
    """max/median rows-per-cell — the per-stage skew metric (north_star)."""
    hist = df.groupBy(cell_col).count()
    stats = hist.agg(
        F.max("count").alias("mx"),
        F.expr("percentile_approx(count, 0.5)").alias("med"),
    ).first()
    if not stats or not stats["med"]:
        return 1.0
    return float(stats["mx"]) / float(stats["med"])
