"""The benchmark's workloads: what one op is, what setup loads, how an
op's output is reduced for the check, and the extra layer-split calls of
a traced run.

Every call into the program goes through ``r.call(span_name, fn)`` so a
traced run records a span and a Spark job group around it.  The program
is only called through its public functions; nothing here changes it.
"""

from __future__ import annotations

import os
import shutil
import statistics
import threading
import time

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from gips_spark.functions import cellindex, s2, textx, udfs
from gips_spark.operators import cell_directory, knn, pip_join, textops, tile_assign, zonal
from gips_spark.plans import salt as saltplan
from gips_spark.streaming import ingest

from probes import digest

KERNEL_ROWS = 65_536
#: repetitions of each layer-split call in a traced run; kept low so a
#: traced run, which measures every layer, ends within its time limit
KERNEL_REPS = 2
SPLIT_REPS = 2


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn, reps: int) -> float:
    return _timed_interleaved([fn], reps)[0]


def _timed_interleaved(fns, reps: int) -> list[float]:
    """Median wall time of each of ``fns``, called in turn ``reps``
    times, so host drift falls on all of them alike."""
    ts = [[] for _ in fns]
    for _ in range(reps):
        for i, fn in enumerate(fns):
            t0 = time.monotonic()
            fn()
            ts[i].append(time.monotonic() - t0)
    return [statistics.median(t) for t in ts]


class Assign:
    """``tile_assign.enrich_pages(salt_sample=0.02)`` → salted hash
    repartition → drop ``extracted_text`` → parquet, as in bench.py."""

    name = "assign"
    #: fixed warm-up ops after the load; with three, the first timed ops
    #: still ran slow
    warmup_ops = 4
    uses_python = True

    def __init__(self, inputs: str, work: str):
        self.pages_dir = os.path.join(inputs, "pages")
        self.out_root = os.path.join(work, "assign-out")

    def load(self, spark) -> None:
        self.spark = spark
        self.pages = spark.read.parquet(self.pages_dir)
        self.n_pages = self.pages.count()
        self.salt_rows = max(1000, self.n_pages // 200)

    def _enrich(self, **kw):
        return tile_assign.enrich_pages(
            self.pages, salt_target_rows=self.salt_rows, salt_sample=0.02, **kw
        )

    def op(self, r, n: int):
        out = os.path.join(self.out_root, str(n))
        self.spark.catalog.clearCache()
        r.call(
            "operators.tile_assign.enrich_pages",
            lambda: self._enrich().drop("extracted_text").write.parquet(out),
        )
        return out

    def finish(self, r, n: int, out: str):
        """Digest of the written table, which is then deleted."""
        with r.group(f"check{n}"):
            d = digest(self.spark.read.parquet(out))[0]
        shutil.rmtree(out, ignore_errors=True)
        return d

    def measure(self, r) -> dict:
        """Kernel / shuffle / sink split, salt skew, the single-process
        kernel micro-bench and the streaming ingest of the same pages."""
        self.load(r.spark)
        # the Arrow/Python kernel's counters, read from a collected plan;
        # first, so the timed calls below find the Python workers warm
        with r.group("kernel-counters"):
            _, agg = digest(self._enrich(do_repartition=False))
        plan = r.counters.plan_counters(agg)
        sink_out = os.path.join(self.out_root, "split")
        kernel, shuffled, sunk = _timed_interleaved(
            [lambda: _noop(self._enrich(do_repartition=False)),
             lambda: _noop(self._enrich()),
             lambda: self._enrich().drop("extracted_text").write.mode("overwrite").parquet(sink_out)],
            SPLIT_REPS,
        )
        m = {
            "operators.tile_assign.enrich_pages.kernel_s": kernel,
            "operators.tile_assign.enrich_pages.shuffle_s": shuffled - kernel,
            "operators.tile_assign.enrich_pages.sink_s": sunk - shuffled,
            "spark.python_worker_s": plan["python_worker_ms"] / 1e3,
            "spark.arrow_bytes_to_python": plan["arrow_bytes_to_python"],
            "spark.arrow_bytes_from_python": plan["arrow_bytes_from_python"],
        }
        with r.group("skew"):
            enr = self.spark.read.parquet(sink_out)
            m["plans.salt.skew_ratio"] = saltplan.skew_ratio(enr.where(F.col("h3_7").isNotNull()), "h3_7")
        shutil.rmtree(sink_out, ignore_errors=True)
        m.update(self._kernel_microbench())
        m.update(self._stream(r))
        return m

    def _kernel_microbench(self) -> dict:
        batch = pq.read_table(self.pages_dir, columns=["html", "url", "text"])
        pdf = batch.slice(0, KERNEL_ROWS).to_pandas()
        html, url, text = pdf["html"], pdf["url"], pdf["text"]
        geo = textx.geocode(url, text)
        ok = geo["lat"].notna().to_numpy()
        lat = geo["lat"].to_numpy()[ok]
        lon = geo["lon"].to_numpy()[ok]
        n_all, n_ok = len(pdf), max(1, int(ok.sum()))
        per_row = lambda fn, n: _timed(fn, KERNEL_REPS) / n * 1e9
        return {
            "functions.udfs.enrich_struct.ns_per_row": per_row(lambda: udfs.enrich_struct.func(html, url, text), n_all),
            "functions.textx.extract_text.ns_per_row": per_row(lambda: textx.extract_text(html), n_all),
            "functions.textx.geocode.ns_per_row": per_row(lambda: textx.geocode(url, text), n_all),
            "functions.cellindex.latlng_to_cell.ns_per_row": per_row(
                lambda: cellindex.latlng_to_cell(lat, lon, udfs.H3_RES), n_ok),
            "functions.s2.latlng_to_cell.ns_per_row": per_row(
                lambda: s2.latlng_to_cell(lat, lon, udfs.S2_LEVEL), n_ok),
        }

    def _stream(self, r) -> dict:
        """One drain of the page files into a fresh checkpoint, timed by a
        ``StreamingQueryListener``."""
        from pyspark.sql.streaming import StreamingQueryListener

        progress, done = [], threading.Event()

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                progress.append(dict(event.progress.durationMs))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                done.set()

        listener = Listener()
        self.spark.streams.addListener(listener)
        root = os.path.join(self.out_root, "stream")
        try:
            with r.group("stream"):
                ingest.run_available_now(
                    self.spark, self.pages_dir, os.path.join(root, "out"), os.path.join(root, "ck")
                )
            done.wait(30)
        finally:
            self.spark.streams.removeListener(listener)
            shutil.rmtree(root, ignore_errors=True)
        med = lambda k: statistics.median(p.get(k, 0) for p in progress) / 1e3 if progress else 0.0
        return {
            "streaming.ingest.batch_s": med("triggerExecution"),
            "streaming.ingest.add_batch_s": med("addBatch"),
            "streaming.ingest.wal_commit_s": med("walCommit"),
            "streaming.ingest.batches": len(progress),
        }


class Spatial:
    """The spatial layer, which has no workload of its own: one round over
    an enriched table built and persisted at load is directory → PIP over
    the extents → kNN (all queries, then 5) → zonal stats of the
    spectral products."""

    ROUNDS = 2

    def __init__(self, inputs: str):
        self.inputs = inputs

    def load(self, spark) -> None:
        self.spark = spark
        p = lambda f: os.path.join(self.inputs, f)
        pages = spark.read.parquet(p("spatial-pages"))
        self.enr = tile_assign.enrich_pages(
            pages, do_repartition=False, salt_sample=0.02, with_text=False
        ).persist()
        self.enr.count()
        self.extents = spark.read.parquet(p("extents.parquet"))
        self.queries = spark.read.parquet(p("queries.parquet"))
        first5 = pq.read_table(p("queries.parquet"), columns=["query_id"]).column(0).to_pylist()[:5]
        self.q5 = self.queries.where(F.col("query_id").isin(first5))
        self.raster = spark.read.parquet(p("raster"))

    def op(self, r, n: str):
        d = cell_directory.build_cell_directory(self.enr).persist()
        try:
            return (
                r.call("operators.cell_directory.build_cell_directory", lambda: digest(d)),
                r.call("operators.pip_join.pip_join_cells",
                       lambda: digest(pip_join.pip_join_cells(self.spark, self.enr, self.extents, d))),
                r.call("operators.knn.knn_join",
                       lambda: digest(knn.knn_join(self.spark, self.enr, self.queries, d))),
                r.call("operators.knn.knn_join_q5",
                       lambda: digest(knn.knn_join(self.spark, self.enr, self.q5, d))),
                r.call("operators.zonal.zonal_stats",
                       lambda: digest(zonal.zonal_stats(self.spark, zonal.compute_products(self.raster), self.extents))),
            )
        finally:
            d.unpersist(blocking=True)

    def measure(self, r) -> dict:
        """Rounds, each equal to the first; the scale path against its
        plain reference; products alone; PIP's useful ratio."""
        self.load(r.spark)
        rounds = [_digests(r.run_op(f"spatial{i}", self.op)[2]) for i in range(self.ROUNDS)]
        r.checker.check_same("spatial rounds", set(rounds), self.ROUNDS)
        with r.group("spatial-reference"):
            pip_ref = digest(pip_join.pip_join(self.spark, self.enr, self.extents))[0]
            knn_ref = digest(knn.knn_bruteforce(self.enr, self.queries))[0]
        r.checker.check_same("pip_join_cells == pip_join", {pip_ref, rounds[0][1]}, 1)
        r.checker.check_same("knn_join == knn_bruteforce", {knn_ref, rounds[0][2]}, 1)
        with r.group("spatial-probes"):
            products = _timed(lambda: digest(zonal.compute_products(self.raster)), SPLIT_REPS)
            d = cell_directory.build_cell_directory(self.enr).persist()
            cover = pip_join.extent_cell_cover(d, self.extents)
            pts = self.enr.where(F.col("geocode_src") != "none").select("url", "h3_7")
            candidates = pts.join(F.broadcast(cover), "h3_7").count()
            pairs = pip_join.pip_join_cells(self.spark, self.enr, self.extents, d).count()
            d.unpersist(blocking=True)
        self.enr.unpersist(blocking=True)
        return {
            "operators.zonal.compute_products_s": products,
            "operators.zonal.zonal_stats_s": r.op_median("operators.zonal.zonal_stats") - products,
            "operators.pip_join.useful_ratio": pairs / candidates if candidates else 0.0,
        }


def _digests(value) -> tuple:
    """The digests of an op that returns one (digest, plan) per call."""
    return tuple(v[0] for v in value)


class Textops:
    """One round of ``entropy_stats``, ``repetition_stats`` and
    ``decontaminate`` over the seeded documents."""

    name = "textops"
    #: fixed warm-up ops after the load; a fourth did not make the first
    #: timed ops any faster, as they speed up slowly over the whole run
    warmup_ops = 3
    uses_python = False  # JVM expressions only

    def __init__(self, inputs: str, work: str):
        self.inputs = inputs

    def load(self, spark) -> None:
        self.docs = spark.read.parquet(os.path.join(self.inputs, "docs"))
        self.bench = spark.read.parquet(os.path.join(self.inputs, "bench.parquet"))

    def op(self, r, n: str):
        return (
            r.call("operators.textops.entropy_stats", lambda: digest(textops.entropy_stats(self.docs))),
            r.call("operators.textops.repetition_stats", lambda: digest(textops.repetition_stats(self.docs))),
            r.call("operators.textops.decontaminate",
                   lambda: digest(textops.decontaminate(self.docs, self.bench, n=8))),
        )

    def finish(self, r, n: str, value):
        return _digests(value)

    def measure(self, r, rounds: int) -> dict:
        """``rounds`` rounds with a span around each call, each equal to
        the first, then the gram select alone."""
        self.load(r.spark)
        if rounds:
            out = {_digests(r.run_op(f"textops{i}", self.op)[2]) for i in range(rounds)}
            r.checker.check_same("textops rounds", out, rounds)
        grams = self.docs.select(textops.word_ngrams(F.col("text"), 8).alias("grams"))
        with r.group("word_ngrams"):
            return {"operators.textops.word_ngrams_s": _timed(lambda: digest(grams), SPLIT_REPS)}


def measure_layers(r, inputs: str, work: str) -> dict:
    """Every layer's split, whichever workload the traced run is of, so
    each per-layer metric is measured in every traced run.  The textops
    workload's own traced ops already hold its spans."""
    m = Assign(inputs, work).measure(r)
    m.update(Textops(inputs, work).measure(r, 0 if r.w.name == "textops" else SPLIT_REPS))
    m.update(Spatial(inputs).measure(r))
    return m


WORKLOADS = {w.name: w for w in (Assign, Textops)}
