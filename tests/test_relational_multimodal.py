"""Relational inventory ops vs duckdb; multimodal decode; streaming."""

import duckdb
import numpy as np
import pyspark.sql.functions as F

from gips_spark.operators import multimodal, relational, textops


def test_inventory_filters_vs_duckdb(spark, scenes):
    got = relational.inventory(
        scenes,
        date_range=("2025-03-01", "2025-09-30"),
        doy_window=(100, 250),
        sensors=["landsat", "modis"],
        max_cloud=50.0,
    ).count()
    pdf = scenes.toPandas()
    want = duckdb.sql(
        """
        select count(*) from pdf
        where acq_date between date '2025-03-01' and date '2025-09-30'
          and dayofyear(acq_date) between 100 and 250
          and sensor in ('landsat', 'modis') and cloud_pct < 50.0
        """
    ).fetchone()[0]
    assert got == want


def test_best_scene_per_tile_date(spark, scenes):
    best = relational.best_scene_per_tile_date(scenes)
    dups = (
        best.groupBy("tile_id", "acq_date").count().where(F.col("count") > 1).count()
    )
    assert dups == 0
    assert best.count() == scenes.select("tile_id", "acq_date").distinct().count()


def test_calendar_and_summary_vs_duckdb(spark, scenes):
    pdf = scenes.toPandas()
    cal = relational.coverage_calendar(scenes).toPandas()
    want = duckdb.sql(
        "select acq_date, count(distinct tile_id) n_tiles from pdf group by 1 order by 1"
    ).df()
    assert (cal["n_tiles"].to_numpy() == want["n_tiles"].to_numpy()).all()
    summ = relational.inventory_summary(scenes).first()
    w = duckdb.sql(
        "select count(distinct acq_date), count(distinct tile_id), count(distinct sensor), count(*) from pdf"
    ).fetchone()
    assert (summ["n_dates"], summ["n_tiles"], summ["n_sensors"], summ["n_scenes"]) == w


def test_missing_products_anti_join(spark, scenes):
    done = scenes.select("scene_id").limit(100)
    missing = relational.missing_products(scenes, done)
    assert missing.count() == scenes.count() - 100
    assert missing.join(done, "scene_id", "inner").count() == 0


def test_range_join_scenes_in_window(spark, scenes, pages):
    out = relational.scenes_in_window(scenes, pages)
    joined = out.join(
        scenes.select("scene_id", "acq_date", "sensor"), "scene_id"
    ).withColumn(
        "lat_days",
        F.coalesce(
            *[
                F.when(F.col("sensor") == k, F.lit(v))
                for k, v in relational.ASSET_LATENCY_DAYS.items()
            ]
        ),
    )
    bad = joined.where(
        (F.col("warc_ts") < F.col("acq_date").cast("timestamp"))
        | (
            F.col("warc_ts")
            >= F.date_add(F.col("acq_date"), F.col("lat_days")).cast("timestamp")
        )
    ).count()
    assert bad == 0 and out.count() > 0


def test_tile_timeseries_window(spark):
    """W3 on every row: moving_mean is the mean of the tile's last 3
    values by date (fewer at its start) and prev_v the previous value,
    null on the tile's first date; rows arrive out of date order."""
    import datetime as dt

    import pandas as pd

    rng = np.random.default_rng(5)
    rows = [
        (tile, dt.date(2025, 1, 1) + dt.timedelta(days=int(d)), float(v))
        for tile in ("t_a", "t_b")
        for d, v in zip(rng.permutation(np.arange(0, 70, 10)), rng.uniform(0, 100, 7))
    ]
    scenes = spark.createDataFrame(rows, "tile_id string, acq_date date, cloud_pct double")
    got = relational.tile_timeseries(scenes).toPandas()
    got = got.sort_values(["tile_id", "acq_date"]).reset_index(drop=True)
    want = pd.DataFrame(rows, columns=["tile_id", "acq_date", "v"])
    want = want.sort_values(["tile_id", "acq_date"]).reset_index(drop=True)
    by_tile = want.groupby("tile_id")["v"]
    want["moving_mean"] = by_tile.transform(lambda v: v.rolling(3, min_periods=1).mean())
    want["prev_v"] = by_tile.shift(1)
    assert len(got) == 14 and (got["tile_id"] == want["tile_id"]).all()
    assert (got["acq_date"] == want["acq_date"]).all()
    assert (got["v"] == want["v"]).all()
    assert np.allclose(got["moving_mean"], want["moving_mean"], rtol=0, atol=1e-12)
    first = got["acq_date"] == got.groupby("tile_id")["acq_date"].transform("min")
    assert got.loc[first, "prev_v"].isna().all() and first.sum() == 2
    assert (got.loc[~first, "prev_v"] == want.loc[~first, "prev_v"]).all()


def test_textops_vs_duckdb(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    analyzed = textops.analyze_documents(docs)
    got = analyzed.agg(
        F.sum("n_chars").alias("c"), F.sum("n_tokens_ws").alias("t")
    ).first()
    pdf = docs.toPandas()
    # the whitespace-token expression of __spark_entry__._CORPUS_CLEAN_ORACLE
    want_c, want_t = duckdb.sql(
        r"""select sum(length(text)),
                   sum(CASE WHEN length(trim(text)) = 0 THEN 0
                       ELSE array_length(string_split_regex(trim(text), '\s+')) END)
            from pdf"""
    ).fetchone()
    assert got["c"] == want_c
    assert got["t"] == want_t


def test_streaming_cell_counts(spark, pages, tmp_path):
    from gips_spark.functions import cellindex, udfs
    from gips_spark.streaming import ingest

    # unique urls in the input: which crawl survives dropDuplicates is
    # arbitrary on both sides, so feed one version per url
    in_path = str(tmp_path / "in")
    base = pages.limit(500).dropDuplicates(["url"])
    # plus one page whose only geocode is a TAB-separated coordinate
    # phrase, at the earliest timestamp so its window is emitted
    tab = base.orderBy("warc_ts").limit(1).select(
        F.lit("https://tab.example.com/p/planted").alias("url"),
        "warc_ts",
        "html",
        F.lit("observed at -12.3456,\t45.6789 downtown").alias("text"),
        "lang",
    )
    base.unionByName(tab).write.parquet(in_path)
    out_path = str(tmp_path / "out")
    ingest.run_available_now(spark, in_path, out_path, str(tmp_path / "ck"))
    res = spark.read.parquet(out_path)
    assert res.count() > 0
    tab_cell = int(cellindex.latlng_to_cell(
        np.array([-12.3456]), np.array([45.6789]), udfs.H3_RES
    )[0])
    assert res.where(F.col("h3_7") == tab_cell).count() == 1
    assert res.where(F.col("n_pages") <= 0).count() == 0
    # Append-mode contract: windows newer than the final watermark stay in
    # state (by design), but every EMITTED (window, cell) row must carry
    # its exact final count — compare against the batch ground truth.
    from gips_spark.operators import tile_assign

    batch = tile_assign.enrich_pages(
        spark.read.parquet(in_path), do_repartition=False
    ).where(F.col("geocode_src") != "none")
    truth = (
        batch.groupBy(
            F.window("warc_ts", "1 day").alias("w"), F.col("h3_7")
        )
        .agg(F.count(F.lit(1)).alias("n_true"))
        .select(F.col("w.start").alias("window_start"), "h3_7", "n_true")
    )
    joined = res.join(truth, ["window_start", "h3_7"], "left")
    assert joined.where(
        F.col("n_true").isNull() | (F.col("n_true") != F.col("n_pages"))
    ).count() == 0
    # and the un-emitted remainder is exactly the open-window tail
    total = res.agg(F.sum("n_pages")).first()[0]
    assert 0 < total <= batch.count()


def test_gips_raw_codec_and_resize():
    """REAL decode path: codec round-trips exactly; bilinear resize
    preserves linear ramps (the defining property) and the identity."""
    import pytest

    rng = np.random.default_rng(11)
    frames = rng.integers(0, 256, (3, 16, 16), dtype=np.uint8)
    payload = multimodal.encode_gips_raw(frames)
    back = multimodal.decode_gips_raw(payload)
    assert back.shape == (3, 16, 16)
    assert np.array_equal((back * 255.0).round().astype(np.uint8), frames)

    # header validation is real
    with pytest.raises(ValueError):
        multimodal.decode_gips_raw(b"JPEG" + payload[4:])
    with pytest.raises(ValueError):
        multimodal.decode_gips_raw(payload[:-1])

    # bilinear on a linear ramp is exact (up to fp), identity is exact
    yy, xx = np.mgrid[0:16, 0:16]
    ramp = (2.0 * xx + 3.0 * yy) / 100.0
    up = multimodal.bilinear_resize(ramp, 32, 32)
    yy2, xx2 = np.mgrid[0:32, 0:32]
    # sample positions of the output grid in input coords
    ys = (yy2 + 0.5) * 16 / 32 - 0.5
    xs = (xx2 + 0.5) * 16 / 32 - 0.5
    want = (2.0 * np.clip(xs, 0, 15) + 3.0 * np.clip(ys, 0, 15)) / 100.0
    assert np.allclose(up, want, atol=1e-12)
    assert np.allclose(multimodal.bilinear_resize(ramp, 16, 16), ramp, atol=1e-12)


def test_decode_stats_matches_numpy_reference(spark):
    """decode_stats (the QA-stats surface behind mm_decode_stats) ==
    driver-side numpy reference in float64; header dims come from the
    decoded payload, and the 16→8 resize checksum pins every resized
    pixel via position weights."""
    ids = spark.range(17).select(F.col("id").alias("doc_id"))
    assets = multimodal.pattern_assets(ids, "doc_id")
    got = {
        (r["asset_id"], r["frame"]): r
        for r in multimodal.decode_stats(assets, resize_to=8, sample_every=2).collect()
    }
    wgt = np.arange(1, 65, dtype=np.float64)
    n_rows = 0
    for r in assets.collect():
        frames = multimodal.decode_gips_raw(bytes(r["payload"]))
        assert frames.shape == (r["n_frames"], 16, 16)
        for fr in range(0, r["n_frames"], 2):
            img = frames[fr]
            small = multimodal.bilinear_resize(img, 8, 8)
            row = got[(r["asset_id"], fr)]
            n_rows += 1
            assert (row["width"], row["height"]) == (16, 16)
            assert row["mean_px"] == img.mean()
            assert row["std_px"] == img.std()
            assert row["resize_checksum"] == small.ravel() @ wgt
    assert n_rows == len(got)
