"""Plan audit: `.explain("formatted")` for the headline operators, with
automated checks for the plan properties the engine promises:

* parquet scans carry PushedFilters / pruned ReadSchema (no html column
  outside the ``with_text=True`` extract stage);
* small sides are BroadcastExchange (extents, cover lists, salt plan,
  knn candidates) — no SortMergeJoin against a dimension;
* the enrich path runs exactly one Arrow kernel per scan;
* WholeStageCodegen spans cover the relational tail.

Run: python scripts/explain_audit.py  (writes PLANS.md)

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
import math
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import pyspark.sql.functions as F  # noqa: E402

from gips_spark import get_spark  # noqa: E402
from gips_spark.operators import cell_directory, knn, pip_join, tile_assign  # noqa: E402
from gips_spark.sources import fixtures  # noqa: E402


def formatted(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def masked(plan: str) -> str:
    """`plan` with what differs between two runs on one tree masked:
    expression ids (`#4521L` → `#_L`), exchange `plan_id`s, the size of
    a broadcast query stage (it follows the driver heap's page size)
    and the checkout's path.  PLANS.md holds masked plans, so its diff
    shows plan changes only; the checks read the raw plans."""
    plan = re.sub(r"#\d+", "#_", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=_", plan)
    plan = re.sub(r"(BroadcastQueryStage \(\d+\), Statistics\(sizeInBytes=)[^,)]*", r"\1_", plan)
    return plan.replace(ROOT, "<repo>")


def _kernel_input_partitions(df) -> list:
    """For each ArrowEvalPython node of `df`'s physical plan: the
    partition count of the first Exchange below it, or "scan" when no
    exchange lies between it and its leaf."""
    found = []

    def walk(node):
        if node.nodeName() == "ArrowEvalPython":
            c = node.child()
            while c.nodeName() != "Exchange" and c.children().size() == 1:
                c = c.children().apply(0)
            found.append(
                c.outputPartitioning().numPartitions() if c.nodeName() == "Exchange" else "scan"
            )
        for i in range(node.children().size()):
            walk(node.children().apply(i))

    walk(df._jdf.queryExecution().sparkPlan())
    return found


def _split_patterns(plan: str) -> list:
    """The pattern of every split() of text by whitespace, newline or
    '' in a plan string, sorted: each entry is one place the plan
    splits text."""
    return sorted(re.findall(r"split\(.*?, (\\s\+|\n|), -1\)", plan, flags=re.S))


def _initial_plan(df):
    """`df`'s physical plan; under AQE, the initial plan, where the
    exchanges are already placed."""
    plan = df._jdf.queryExecution().executedPlan()
    return plan.executedPlan() if plan.nodeName() == "AdaptiveSparkPlan" else plan


def _children(node) -> list:
    return [node.children().apply(i) for i in range(node.children().size())]


def _nodes_below(df, name: str) -> list:
    """For each node called `name` in `df`'s physical plan: the names of
    every node below it."""
    def names(node):
        return [n for c in _children(node) for n in [c.nodeName()] + names(c)]

    def find(node):
        own = [names(node)] if node.nodeName() == name else []
        return own + [sub for c in _children(node) for sub in find(c)]

    return find(_initial_plan(df))


def run_audit(spark, pages, salt_target_rows: int = 5000):
    """All plan checks against a PARQUET-backed `pages` DataFrame.
    Returns (sections, checks); persists nothing permanently (what it
    persists is unpersisted before returning)."""
    sections = {}
    checks = []

    # --- single-pass assign FIRST: nothing may be cached yet, so the
    # "no InMemoryRelation" check is meaningful without clearCache
    enr = tile_assign.enrich_pages(pages, salt_target_rows=salt_target_rows)
    sp1 = formatted(enr)
    sections["assign single-pass (sampled salt, hash partition)"] = sp1
    checks.append(
        ("assign-sp: no InMemoryRelation (no persist)", "InMemoryRelation" not in sp1)
    )
    checks.append(("assign-sp: salt plan broadcast", "BroadcastExchange" in sp1))
    checks.append(
        ("assign-sp: geocode inside the fused kernel (no JVM regex cascade)",
         "regexp_extract" not in sp1)
    )
    checks.append(
        ("assign-sp: explicit partitioning on (cell_prefix, salt)",
         re.search(r"hashpartitioning\(cell_prefix#\d+, salt#\d+", sp1) is not None)
    )
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
    # the main pass's kernel reads the scan's own partitions; the 2%
    # sample's kernel runs behind an exchange into ceil(P × 0.02) of
    # them, so it pays the fixed per-Python-task cost k times, not P
    k = math.ceil(pages.rdd.getNumPartitions() * 0.02)
    checks.append(
        (f"assign-sp: main kernel on the scan's partitions, sample kernel on {k}",
         sorted(_kernel_input_partitions(enr), key=str) == [k, "scan"])
    )

    # with_text=True: the main pass is the fused with-text kernel
    # (strip + extract + geocode + cells in one Arrow UDF; the JVM
    # regex paths cost more than the kernel, see OPTIMIZATION_r06.md)
    spt = formatted(
        tile_assign.enrich_pages(
            pages, salt_target_rows=salt_target_rows, with_text=True
        )
    )
    sections["assign single-pass with_text=True (fused extract kernel)"] = spt
    checks.append(
        ("assign-text: one enrich_struct Arrow kernel, no row-wise Python",
         spt.count("enrich_struct(") == 1 and "BatchEvalPython" not in spt)
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
    # the default strategy: one sorted-run fold per kind, no shuffle
    rdp = formatted(tx_ops.repetition_stats(tdocs))
    sections["repetition_stats default (sorted-run fold per kind)"] = rdp
    checks.append(
        ("repetition (default): zero shuffle, pure JVM",
         "Exchange" not in rdp and "EvalPython" not in rdp)
    )
    # tokens are projected once and every gram size reads that column
    checks.append(
        ("repetition: lines and tokens split once each",
         _split_patterns(rdp) == ["\n", r"\s+"])
    )
    # one gram chain: size n zips size n-1 with the tokens, so the
    # defaults (2, 3, 5) take 4 zip_with passes and only the 2-grams
    # zip slices of the tokens alone
    checks.append(
        ("repetition: each gram size extends the one below",
         rdp.count("zip_with(") == 4 and len(re.findall(r"zip_with\(slice\(_tk#", rdp)) == 1)
    )
    # a filter, not a limit: a limit's exchange would sit below the broadcast
    tbench = tdocs.where(F.col("doc_id") < 20)
    dc_df = tx_ops.decontaminate(tdocs, tbench, n=2)
    dc = formatted(dc_df)
    sections["decontaminate (distinct grams → broadcast bench semi-join)"] = dc
    checks.append(("decontam: benchmark side broadcast", "BroadcastExchange" in dc))
    # a left-semi join needs no distinct() on its build side
    bench_below = _nodes_below(dc_df, "BroadcastExchange")
    checks.append(
        ("decontam: no exchange or aggregate below the benchmark broadcast",
         len(bench_below) == 1
         and not any(n == "Exchange" or "Aggregate" in n for n in bench_below[0]))
    )
    checks.append(
        ("decontam: corpus never sort-merge-joins", "SortMergeJoin" not in dc)
    )
    dcg = formatted(tx_ops.decontaminate(tdocs, tbench, n=8, join_on="gram"))
    sections["decontaminate join_on='gram' (string-key oracle path)"] = dcg
    checks.append(
        ("decontam: one tokenization per input side (hash and gram paths)",
         _split_patterns(dc) == _split_patterns(dcg) == [r"\s+", r"\s+"])
    )
    ep = formatted(tx_ops.entropy_stats(tdocs))
    sections["entropy_stats (zero-shuffle narrow projection)"] = ep
    checks.append(("entropy: zero shuffle", "Exchange" not in ep))
    checks.append(("entropy: pure JVM", "EvalPython" not in ep))
    checks.append(
        ("entropy: one char split and one token split", _split_patterns(ep) == ["", r"\s+"])
    )
    # a char's count is a scan of the text, not a lambda call per char
    checks.append(
        ("entropy: no lambda over the char array",
         re.search(r"\b(filter|transform|aggregate|exists|forall|zip_with)\(_cs#", ep) is None)
    )

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
    cache = os.path.join(ROOT, ".bench_cache", "pages_100000")
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
        out.append(f"## {title}\n\n```\n{masked(txt)}\n```\n")
    path = os.path.join(ROOT, "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {path}; all checks pass: {ok_all}")
    for name, ok in checks:
        print(("PASS " if ok else "FAIL ") + name)
    spark.stop()
    sys.exit(0 if ok_all else 1)


if __name__ == "__main__":
    main()
