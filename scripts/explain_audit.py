"""Plan audit: `.explain("formatted")` for the headline operators, with
automated checks for the plan properties the engine promises:

* parquet scans carry PushedFilters / pruned ReadSchema (no html column
  outside the ``with_text=True`` extract stage);
* small sides are BroadcastExchange (extents, cover lists, salt plan,
  knn candidates) — no SortMergeJoin against a dimension;
* the enrich path runs exactly one Arrow kernel per scan;
* WholeStageCodegen spans cover the relational tail.

Run: python scripts/explain_audit.py [sf_dir]  (writes PLANS.md)

The check list also runs in CI via tests/test_plans.py (VERDICT r3 next
#6) — a lost broadcast / new InMemoryRelation / row-wise Python stage
fails pytest, not just this out-of-band script.  `run_audit` is
ordered so nothing is persisted before the single-pass-assign check
(no clearCache needed: pytest's session-scoped cached fixtures must
survive an audit run).
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from gips_spark import get_spark  # noqa: E402
from gips_spark.operators import cell_directory, knn, pip_join, tile_assign  # noqa: E402
from gips_spark.sources import fixtures  # noqa: E402


def formatted(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def run_audit(spark, pages, salt_target_rows: int = 5000):
    """All plan checks against a PARQUET-backed `pages` DataFrame.
    Returns (sections, checks); persists nothing permanently (the one
    internal persist is unpersisted before returning)."""
    sections = {}
    checks = []

    # --- single-pass assign FIRST: nothing may be cached yet, so the
    # "no InMemoryRelation" check is meaningful without clearCache
    sp1 = formatted(
        tile_assign.enrich_pages(
            pages, salt_target_rows=salt_target_rows, salt_sample=0.02
        )
    )
    sections["assign single-pass (sampled salt, hash partition)"] = sp1
    checks.append(
        ("assign-sp: no InMemoryRelation (no persist)", "InMemoryRelation" not in sp1)
    )
    checks.append(("assign-sp: salt plan broadcast", "BroadcastExchange" in sp1))
    # the default chain is assignment-only: the main pass and the 2%
    # salt sample each run one geocode_and_cells node, and since no
    # kernel takes html, no scan reads it
    read_schemas = [ln for ln in sp1.splitlines() if ln.startswith("ReadSchema:")]
    checks.append(
        ("assign-sp: one geocode_and_cells Arrow node per scan, html in no ReadSchema",
         sp1.count("ArrowEvalPython (") == len(read_schemas) == sp1.count("geocode_and_cells(")
         and "enrich_struct" not in sp1
         and not any("html" in ln for ln in read_schemas))
    )

    # with_text=True: the main pass is the fused with-text kernel
    # (strip + extract + geocode + cells in one Arrow UDF; the JVM
    # regex paths lose to CPython sre on every pattern here, see
    # OPTIMIZATION_r06.md)
    spt = formatted(
        tile_assign.enrich_pages(
            pages, salt_target_rows=salt_target_rows, salt_sample=0.02, with_text=True
        )
    )
    sections["assign single-pass with_text=True (fused extract kernel)"] = spt
    checks.append(
        ("assign-text: one enrich_struct Arrow kernel, no row-wise Python",
         spt.count("enrich_struct(") == 1 and "BatchEvalPython" not in spt)
    )

    enr = tile_assign.enrich_pages(pages, salt_target_rows=salt_target_rows)
    p = formatted(enr)
    sections["assign (enrich → salt → repartition)"] = p
    checks.append(
        ("assign: geocode inside the fused kernel (no JVM regex cascade)",
         "regexp_extract" not in p)
    )
    checks.append(("assign: salt plan broadcast", "BroadcastExchange" in p))
    checks.append(
        (
            "assign: explicit partitioning on (cell_prefix, salt)",
            ("hashpartitioning(cell_prefix" in p.lower())
            or ("rangepartitioning(cell_prefix" in p.lower()),
        )
    )

    # column pruning: a query not touching html/extracted_text must not read them
    slim = pages.select("url", "warc_ts").where(F.col("warc_ts") > "2025-06-01")
    sp = formatted(slim)
    sections["column pruning + filter pushdown (url, warc_ts only)"] = sp
    checks.append(("pruning: html absent from ReadSchema", "html" not in sp))
    checks.append(("pushdown: PushedFilters non-empty", "PushedFilters: [IsNotNull" in sp or "GreaterThan" in sp))

    enr = enr.persist()
    enr.count()
    directory = cell_directory.build_cell_directory(enr).persist()
    directory.count()
    extents = fixtures.gen_extents(spark)

    pip = pip_join.pip_join_cells(spark, enr, extents, directory)
    pp = formatted(pip)
    sections["pip_join_cells (cover equi-join → ray-cast refine)"] = pp
    checks.append(("pip: cover list broadcast (no SMJ vs dim)", "BroadcastHashJoin" in pp and "SortMergeJoin" not in pp))

    queries = fixtures.gen_knn_queries(spark)
    kn = knn.knn_join(spark, enr, queries, directory)
    kp = formatted(kn)
    sections["knn_join (candidate equi-join → JVM haversine → top-k window)"] = kp
    checks.append(("knn: candidates broadcast", "BroadcastHashJoin" in kp))
    # distance math must be JVM-side (ASIN/SQRT in a Project, from
    # haversine_expr) — the only ArrowEvalPython allowed is inside the
    # cached enrich lineage (InMemoryRelation subtree)
    above_cache = kp.split("InMemoryRelation")[0]
    checks.append(("knn: JVM haversine (ASIN in plan)", "ASIN" in kp.upper()))
    checks.append(("knn: no python above the cache scan", "ArrowEvalPython" not in above_cache))
    checks.append(("knn: whole-stage codegen spans", "codegen id" in kp))

    # r2: coarse directory rollup — pure JVM agg over the directory
    coarse = knn.build_coarse_directory(directory)
    cp = formatted(coarse)
    sections["coarse directory (res-4 rollup for two-level kNN)"] = cp
    checks.append(
        ("coarse-dir: JVM-only partial agg", "HashAggregate" in cp and "ArrowEvalPython" not in cp.split("InMemoryRelation")[0])
    )

    # r4: distributed kNN — candidate/query joins run shuffle-side (no
    # scale-breaking driver broadcast of per-query candidates) and the
    # two pruning stages are Arrow-vectorized, not row-wise Python
    knd = knn.knn_join_distributed(spark, enr, queries, directory)
    kdp = formatted(knd)
    sections["knn_join_distributed (executor pruning → shuffle joins)"] = kdp
    checks.append(("knn-dist: no row-wise Python", "BatchEvalPython" not in kdp))
    checks.append(
        ("knn-dist: executor pruning stages (2× MapInPandas)", kdp.count("MapInPandas") >= 2)
    )
    # r5: planted-hotspot posture — the fine stage is fed by an explicit
    # hash re-spread on query_id (hot-prefix join output cannot ride one
    # partition into the Python kernel), and AQE skew-join is armed for
    # the prefix join itself
    checks.append(
        ("knn-dist: query_id re-spread before fine stage",
         "hashpartitioning(query_id" in kdp)
    )
    checks.append(
        ("knn-dist: AQE skew-join armed",
         spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
    )

    # r2: QA unpack — pure Column ops, zero Python
    from gips_spark.operators import qa as qa_ops

    qdf = spark.range(1000).select((F.col("id") % 65536).alias("qa"))
    qp = formatted(qa_ops.qa_unpack(qdf, "qa"))
    sections["qa_unpack (bitfield → columns)"] = qp
    checks.append(
        ("qa: zero Python in plan", "ArrowEvalPython" not in qp and "BatchEvalPython" not in qp)
    )

    # r2: footprint cover — mapInPandas over DISTINCT footprints only,
    # broadcast join back to scenes
    from gips_spark.operators import footprint as fp_ops

    scenes = fixtures.gen_scenes(spark)
    fc = fp_ops.footprint_cover(spark, scenes)
    fpp = formatted(fc)
    sections["footprint_cover (distinct-footprint kernel → broadcast join back)"] = fpp
    checks.append(
        ("footprint: dedup before kernel (HashAggregate under MapInPandas)",
         "MapInPandas" in fpp and "HashAggregate" in fpp)
    )

    # geocode shape — the one geocoder is the fused Arrow kernel
    # (udfs.geocode_and_cells, shared by assign, streaming and the entry
    # queries): exactly one Arrow eval node over a scan that never reads
    # html
    from gips_spark.functions import udfs as _udfs

    gp = formatted(
        pages.select(
            "url", _udfs.geocode_and_cells(F.col("url"), F.col("text")).alias("g")
        ).select("url", "g.*")
    )
    sections["geocode (fused Arrow geocode + cells kernel)"] = gp
    checks.append(
        ("geocode: one Arrow eval node, no row-wise Python",
         gp.count("ArrowEvalPython (") == 1 and "BatchEvalPython" not in gp)
    )
    checks.append(("geocode: scan without html", "html" not in gp))

    # r5: corpus_clean composition — Catalyst must prune the UNUSED
    # Arrow kernels in analyze_documents (lang_id, fingerprint, BPE
    # token count): the quality-filter + exact-dedup pipeline reads
    # only JVM-expression columns, so the whole plan is Python-free
    from gips_spark.operators import dedup as dd_ops
    from gips_spark.operators import textops as to_ops

    docs = spark.range(500).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("w x y z a b c d e f "), F.col("id").cast("string")).alias("text"),
    )
    kept = to_ops.quality_filter(
        to_ops.analyze_documents(docs), min_tokens=5, max_punct_ratio=0.3
    )
    canon = (
        dd_ops.exact_dedup(kept, "doc_id", "text")
        .where(F.col("id") == F.col("canonical_id"))
        .select(F.col("id").alias("doc_id"))
    )
    ccp = formatted(kept.select("doc_id", "n_chars", "n_tokens_ws").join(canon, "doc_id"))
    sections["corpus_clean (filter → dedup → canonical, unused UDFs pruned)"] = ccp
    checks.append(
        ("corpus-clean: unused Arrow kernels pruned (zero Python)",
         "EvalPython" not in ccp and "MapInPandas" not in ccp)
    )

    # r5: temporal gap-fill — spine explode + window fill must be pure
    # JVM (no Python stage anywhere), and the rollup shuffle is the
    # hash-partition on the grouping key
    from gips_spark.operators import temporal as tp_ops

    ev = spark.range(5000).select(
        (F.col("id") % 40).alias("user_id"),
        F.timestamp_seconds(F.lit(1704067200) + F.col("id") * 977).alias("ts"),
        (F.col("id") % 97).cast("double").alias("value"),
        F.col("id").alias("event_id"),
    )
    gfp = formatted(tp_ops.gapfill(tp_ops.resample_rollup(ev), method="linear"))
    sections["temporal gapfill (rollup → spine explode → window fill)"] = gfp
    checks.append(
        ("gapfill: pure JVM (no Python stage)",
         "EvalPython" not in gfp and "MapInPandas" not in gfp)
    )
    checks.append(("gapfill: JVM generator explode", "Generate" in gfp))
    ssp = formatted(tp_ops.sessionize(ev))
    sections["sessionize (lag → running sum → session agg)"] = ssp
    checks.append(("sessionize: pure JVM", "EvalPython" not in ssp))

    # r5: sampling/split — zero-shuffle narrow projections
    from gips_spark.operators import sampling as sm_ops

    docs = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 5).cast("string").alias("lang"),
    )
    spp = formatted(sm_ops.stratified_split(docs))
    sections["stratified_split (hash-bucket projection)"] = spp
    checks.append(("split: zero shuffle", "Exchange" not in spp))
    smp = formatted(sm_ops.stratified_sample(docs, "lang", {"0": 0.5, "1": 1.0}))
    checks.append(("sample: zero shuffle, pure JVM",
                   "Exchange" not in smp and "EvalPython" not in smp))

    # r5: pagerank iteration body — equi-joins only, never a cartesian
    from gips_spark.operators import graph as gr_ops

    e = docs.select(
        F.col("doc_id").alias("src"), ((F.col("doc_id") * 7 + 1) % 2000).alias("dst")
    )
    prp = formatted(gr_ops.pagerank(e, num_iters=2))
    sections["pagerank (2 iterations of edges⋈ranks → groupBy dst)"] = prp
    checks.append(
        ("pagerank: no cartesian/broadcast-nested-loop",
         "CartesianProduct" not in prp and "BroadcastNestedLoopJoin" not in prp)
    )
    checks.append(("pagerank: pure JVM loop", "EvalPython" not in prp))

    # r5: text-pipeline plan contracts (repetition / decontaminate /
    # entropy) — the three newest T-ops each promise a specific shape
    from gips_spark.operators import textops as tx_ops

    tdocs = docs.select(
        F.col("doc_id"),
        F.concat_ws(
            " ", F.lit("alpha beta"), F.col("doc_id").cast("string"), F.lit("alpha beta")
        ).alias("text"),
    )
    rp = formatted(tx_ops.repetition_stats(tdocs))
    sections["repetition_stats (tagged explode → (doc,kind,gram) counts)"] = rp
    checks.append(("repetition: pure JVM (no Python stage)", "EvalPython" not in rp))
    checks.append(("repetition: partial-count aggregate", "HashAggregate" in rp))
    dc = formatted(tx_ops.decontaminate(tdocs, tdocs.limit(20), n=2))
    sections["decontaminate (distinct grams → broadcast bench semi-join)"] = dc
    checks.append(("decontam: benchmark side broadcast", "BroadcastExchange" in dc))
    checks.append(
        ("decontam: corpus never sort-merge-joins", "SortMergeJoin" not in dc)
    )
    ep = formatted(tx_ops.entropy_stats(tdocs))
    sections["entropy_stats (zero-shuffle narrow projection)"] = ep
    checks.append(("entropy: zero shuffle", "Exchange" not in ep))
    checks.append(("entropy: pure JVM", "EvalPython" not in ep))

    # r5: packing + quota — one hash shuffle each, pure JVM
    from gips_spark.operators import packing as pk_ops
    from gips_spark.operators import sampling as sq_ops

    pkp = formatted(pk_ops.pack_sequences(tdocs, pack_tokens=64, n_buckets=8))
    sections["pack_sequences (bucket window cumsum)"] = pkp
    # formatted-mode explain puts "Exchange" (tree) and
    # "hashpartitioning(bucket…)" (Arguments:) on separate lines —
    # count the Exchange NODES (the strict ==1 executedPlan form is
    # pinned in tests/test_packing.py)
    checks.append(
        ("pack: single exchange, on bucket",
         pkp.count(") Exchange") == 1 and "hashpartitioning(bucket" in pkp)
    )
    checks.append(("pack: pure JVM", "EvalPython" not in pkp))
    gqp = formatted(sq_ops.group_quota(tdocs, "text", 3, id_col="doc_id"))
    sections["group_quota (bucketed two-level deterministic top-quota)"] = gqp
    checks.append(("quota: pure JVM window", "EvalPython" not in gqp))
    # r6 scale fix: stage 1 is a LOCAL top-quota windowed on
    # (group, pmod(order_hash, B)) — two Window nodes, and the first
    # exchange hashes on the bucketed composite key so a mega-domain
    # never lands in one task before the (≤ B×quota)-row final window
    checks.append(
        ("quota: bucketed stage-1 window (mega-domain safe)",
         gqp.count("Window") >= 2 and "pmod" in gqp)
    )

    directory.unpersist()
    enr.unpersist()
    return sections, checks


def main():
    spark = get_spark("explain", master="local[8]", shuffle_partitions=8)
    cache = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".bench_cache",
        "pages_100000",
    )
    if not os.path.isdir(cache):
        fixtures.gen_pages(spark, 100_000).write.parquet(cache)
    pages = spark.read.parquet(cache)

    sections, checks = run_audit(spark, pages)

    out = ["# PLANS — physical-plan audit (generated by scripts/explain_audit.py)", ""]
    out.append("## Checks")
    ok_all = True
    for name, ok in checks:
        out.append(f"- [{'x' if ok else ' '}] {name}")
        ok_all &= ok
    out.append("")
    for title, txt in sections.items():
        out.append(f"## {title}\n\n```\n{txt}\n```\n")
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {path}; all checks pass: {ok_all}")
    for name, ok in checks:
        print(("PASS " if ok else "FAIL ") + name)
    spark.stop()
    sys.exit(0 if ok_all else 1)


if __name__ == "__main__":
    main()
