"""Property-based tests (hypothesis) — SURVEY.md §5 layer-1 hardening.

The example-based kernel tests pin known cases and statistical fractions;
this layer lets hypothesis SEARCH for violating inputs of the exact
invariants each kernel is supposed to satisfy, and shrink any violation
to a minimal counterexample.  `derandomize=True` keeps the gate
deterministic (same example corpus every run — no flaky CI from a fresh
random seed finding a new corner while a round is being graded).

Pure-numpy kernels get wide example budgets; Spark-backed properties
batch many generated rows into ONE job per example and cap max_examples
so the whole module stays ~a minute.
"""

from __future__ import annotations

import datetime as dt
import re

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from gips_spark.functions import geom, h3lite, s2, textx
from gips_spark.operators.dedup import _shingle_hashes
from entropy_reference import assert_entropy_matches_reference
from repetition_reference import assert_matches_reference

KERNEL = settings(
    max_examples=60,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow],
)
SPARKED = settings(
    max_examples=4,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

lat_st = st.floats(-89.99, 89.99, allow_nan=False, allow_infinity=False)
lon_st = st.floats(-180.0, 180.0, allow_nan=False, allow_infinity=False)
latlon_batch = st.lists(st.tuples(lat_st, lon_st), min_size=1, max_size=64)


# ---------------------------------------------------------------- h3lite
@KERNEL
@given(latlon_batch, st.sampled_from([4, 5, 6, 7]))
def test_h3_local_encode_decode_is_exact(pts, res):
    """cell → (face, i, j) → cell is a bijection on live cells — exact
    for EVERY input incl. seam/pole points (unlike the center roundtrip,
    which is documented statistical)."""
    lat = np.array([p[0] for p in pts])
    lon = np.array([p[1] for p in pts])
    cells = h3lite.latlng_to_cell(lat, lon, res)
    r, face, i, j = h3lite.cell_to_local(cells)
    assert np.all(r == res)
    assert np.array_equal(h3lite.local_to_cell(face, i, j, res), cells)


@KERNEL
@given(latlon_batch)
def test_h3_parent_chain_commutes(pts):
    """parent(parent(c, r-1), r-2) == parent(c, r-2): digit truncation
    must be prefix-consistent at every intermediate resolution."""
    lat = np.array([p[0] for p in pts])
    lon = np.array([p[1] for p in pts])
    c7 = h3lite.latlng_to_cell(lat, lon, 7)
    for mid in (6, 5):
        assert np.array_equal(
            h3lite.parent(h3lite.parent(c7, mid), 4), h3lite.parent(c7, 4)
        )
    # resolution field of every parent is the requested one
    assert np.all(((h3lite.parent(c7, 5) >> 56) & 0xF) == 5)


@KERNEL
@given(st.tuples(lat_st, lon_st), st.integers(1, 2))
def test_h3_k_ring_contains_center_and_size(pt, k):
    c = int(h3lite.latlng_to_cell(np.array([pt[0]]), np.array([pt[1]]), 7)[0])
    ring = h3lite.k_ring(c, k)
    assert c in set(ring.tolist())
    # hex grid: |k_ring| == 1+3k(k+1) away from pentagon distortions;
    # never more, and never fewer than the k=1 closed neighborhood
    assert 7 <= len(ring) <= 1 + 3 * k * (k + 1)
    assert len(np.unique(ring)) == len(ring)


# -------------------------------------------------------------------- s2
@KERNEL
@given(latlon_batch, st.sampled_from([10, 13, 20]))
def test_s2_center_roundtrip_exact(pts, level):
    """S2's quad tree has no face-Voronoi raggedness: center → cell is
    an EXACT fixpoint at every level (hypothesis hunts seam/corner
    inputs: lat=±45, lon=±90/±135 are face boundaries)."""
    lat = np.array([p[0] for p in pts])
    lon = np.array([p[1] for p in pts])
    cells = s2.latlng_to_cell(lat, lon, level)
    clat, clng = s2.cell_to_center_latlng(cells)
    assert np.array_equal(s2.latlng_to_cell(clat, clng, level), cells)
    assert np.all(s2.cell_level(cells) == level)


@KERNEL
@given(latlon_batch, st.sampled_from([(13, 10), (20, 13), (13, 5)]))
def test_s2_ancestor_consistency(pts, levels):
    """Computing the coarse cell directly == masking the fine cell: both
    read the same Hilbert-prefix bits."""
    fine, coarse = levels
    lat = np.array([p[0] for p in pts])
    lon = np.array([p[1] for p in pts])
    cf = s2.latlng_to_cell(lat, lon, fine)
    cc = s2.latlng_to_cell(lat, lon, coarse)
    assert np.array_equal(
        s2.leaf_to_level(cf.view(np.uint64), coarse).view(np.int64), cc
    )


# ------------------------------------------------------------------ geom
@KERNEL
@given(
    st.lists(st.tuples(lat_st, lon_st), min_size=3, max_size=3),
)
def test_haversine_is_a_metric(pts):
    (a, b, c) = pts
    d_ab = float(geom.haversine_m(a[0], a[1], b[0], b[1]))
    d_ba = float(geom.haversine_m(b[0], b[1], a[0], a[1]))
    d_ac = float(geom.haversine_m(a[0], a[1], c[0], c[1]))
    d_bc = float(geom.haversine_m(b[0], b[1], c[0], c[1]))
    assert d_ab >= 0.0
    assert abs(d_ab - d_ba) <= 1e-6 * max(d_ab, 1.0)
    assert float(geom.haversine_m(a[0], a[1], a[0], a[1])) == 0.0
    assert d_ab <= np.pi * 6_371_008.8 * (1 + 1e-12)
    # great-circle distance satisfies the triangle inequality
    assert d_ac <= d_ab + d_bc + 1e-3


def _convex(cx, cy, radii, angles):
    """Convex polygon from sorted angles + positive radii around (cx, cy)."""
    ang = np.sort(np.asarray(angles, dtype=np.float64))
    r = np.asarray(radii, dtype=np.float64)
    return np.column_stack([cx + r * np.cos(ang), cy + r * np.sin(ang)])


_poly_st = st.tuples(
    st.floats(-50, 50),
    st.floats(-50, 50),
    st.lists(st.floats(0.01, 8.0), min_size=3, max_size=8),
    st.lists(
        st.floats(0, 2 * np.pi, exclude_max=True),
        min_size=3,
        max_size=8,
        unique=True,
    ),
)


@KERNEL
@given(_poly_st, st.lists(_poly_st, min_size=1, max_size=6))
def test_clip_batch_equals_scalar_and_shrinks_area(subj_spec, clip_specs):
    """clip_convex_batch must be row-for-row identical to the scalar
    Sutherland–Hodgman, and clipping can only shrink |area|."""
    k = min(len(subj_spec[2]), len(subj_spec[3]))
    if k < 3:
        return
    subject = _convex(subj_spec[0], subj_spec[1], subj_spec[2][:k], subj_spec[3][:k])
    m = min(min(len(c[2]), len(c[3])) for c in clip_specs)
    if m < 3:
        return
    clips = np.stack([_convex(c[0], c[1], c[2][:m], c[3][:m]) for c in clip_specs])
    P, cnt = geom.clip_convex_batch(subject, clips)

    def shoelace(v):
        if len(v) < 3:
            return 0.0
        x, y = v[:, 0], v[:, 1]
        return 0.5 * abs(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1)))

    a_subj = shoelace(subject)
    for t in range(len(clips)):
        ref = geom.clip_convex(subject, clips[t])
        got = P[t, : cnt[t]]
        assert cnt[t] == len(ref)
        assert np.allclose(got, ref, atol=1e-9, rtol=0)
        assert shoelace(got) <= a_subj * (1 + 1e-9) + 1e-12
        assert shoelace(got) <= shoelace(clips[t]) * (1 + 1e-9) + 1e-12


# ----------------------------------------------------------------- textx
_ascii_text = st.text(
    alphabet=st.characters(min_codepoint=0x20, max_codepoint=0x7E), max_size=200
)


@KERNEL
@given(_ascii_text, _ascii_text)
def test_fingerprint_winnowing_properties(s, t):
    """rolling_fingerprint == min over all window hashes ⇒
    (1) short text hashes whole-string, (2) appending text can only
    keep-or-lower the unsigned min (windows of s survive verbatim in
    s+t), (3) determinism."""
    import pandas as pd

    w = 8
    fp = textx.rolling_fingerprint(pd.Series([s, s + t, s]), window=w)
    u = fp.to_numpy().view(np.uint64)
    assert u[0] == u[2]  # deterministic
    if len(s.encode()) <= w:
        assert u[0] == np.uint64(textx.fnv1a_u64(s.encode()))
    if len(s.encode()) > w:
        assert u[1] <= u[0]


@KERNEL
@given(_ascii_text, st.text(alphabet="abcdef ", min_size=1, max_size=40))
def test_shingle_sets_grow_monotonically(s, t):
    """Every 5-byte window of `s` is still a window of `s + t` ⇒ the
    shingle-hash SET can only grow, and minhash over it only drop."""
    n = 5
    if len(s.encode()) < n:
        return
    sh_s = set(_shingle_hashes(s, n).tolist())
    sh_st = set(_shingle_hashes(s + t, n).tolist())
    assert sh_s <= sh_st
    assert min(sh_st) <= min(sh_s)


@KERNEL
@given(_ascii_text)
def test_fnv1a_chain_composition(s):
    """FNV-1a is a left fold: hashing a concatenation == resuming the
    fold from the prefix's digest (the incremental-hash contract the
    SQL oracles rely on)."""
    b = s.encode()
    k = len(b) // 2
    h = textx.fnv1a_u64(b[:k])
    for byte in b[k:]:
        h ^= byte
        h = (h * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    assert h == textx.fnv1a_u64(b)


# ------------------------------------------------------------------- kNN
_knn_lat = st.one_of(st.floats(89.5, 90.0), st.floats(-90.0, -89.5), lat_st)
_knn_lon = st.one_of(st.floats(179.9, 180.0), st.floats(-180.0, -179.9), lon_st)
_knn_pt = st.tuples(_knn_lat, _knn_lon)


@st.composite
def _knn_case(draw):
    """Points near the poles and across the antimeridian, exact
    duplicates (ties at the k-th distance), queries on and off the
    points, k up to beyond the point count."""
    base = draw(st.lists(_knn_pt, min_size=1, max_size=30))
    pts = base + draw(st.lists(st.sampled_from(base), max_size=20))
    queries = draw(
        st.lists(
            st.tuples(
                st.one_of(_knn_pt, st.sampled_from(base)),
                st.integers(1, len(pts) + 3),
            ),
            min_size=1,
            max_size=6,
        )
    )
    return pts, queries


@KERNEL
@given(_knn_case())
def test_knn_kernels_keep_every_point_within_kth_distance(case):
    """The coarse + fine pruning kernels (no Spark: the directory is
    built in pandas from h3lite cells) keep, for every query, the cell
    of every point within its k-th smallest numpy haversine distance."""
    import pandas as pd

    from gips_spark.operators import knn

    pts, queries = case
    lat = np.array([p[0] for p in pts])
    lon = np.array([p[1] for p in pts])
    cells = h3lite.latlng_to_cell(lat, lon, 7)
    directory = (
        pd.DataFrame({"h3_7": cells, "lat": lat, "lon": lon})
        .groupby("h3_7")
        .agg(
            n_rows=("lat", "size"),
            min_lat=("lat", "min"), max_lat=("lat", "max"),
            min_lon=("lon", "min"), max_lon=("lon", "max"),
        )
        .reset_index()
    )
    directory["prefix"] = directory["h3_7"].to_numpy() >> h3lite.PREFIX_SHIFT
    coarse = (
        directory.groupby("prefix")
        .agg(
            n_rows=("n_rows", "sum"),
            min_lat=("min_lat", "min"), max_lat=("max_lat", "max"),
            min_lon=("min_lon", "min"), max_lon=("max_lon", "max"),
        )
        .reset_index()
    )
    qpdf = pd.DataFrame(
        {
            "query_id": np.arange(len(queries)),
            "lat": [q[0][0] for q in queries],
            "lon": [q[0][1] for q in queries],
            "k": [q[1] for q in queries],
        }
    )
    surv = knn._coarse_survivors(knn._coarse_arrays(coarse), qpdf)
    cand = knn._fine_select(surv.merge(directory, on="prefix"))
    for qid, ((qla, qlo), k) in enumerate(queries):
        d = geom.haversine_m(qla, qlo, lat, lon)
        kth = np.sort(d)[min(k, len(pts)) - 1]
        need = set(cells[d <= kth].tolist())
        got = set(cand.loc[cand["query_id"] == qid, "h3_7"].tolist())
        assert need <= got, (qid, k, need - got)


# ------------------------------------------------------- Spark-backed
_ws_text = st.text(
    alphabet=st.characters(
        whitelist_categories=(), whitelist_characters="aAbB xyZ\t\n\r.,!?"
    ),
    max_size=30,
)


@SPARKED
@given(st.lists(_ws_text, min_size=1, max_size=24))
def test_exact_dedup_matches_normalization_equality(spark, texts):
    """exact_dedup groups rows iff lower(trim(collapse-ws(text))) is
    byte-equal — recomputed here in pure Python (ASCII corpus keeps the
    Java/Python regex+lower semantics identical); canonical ids are the
    per-group minima."""
    from gips_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, text string"
    )
    got = {
        r["id"]: r["canonical_id"] for r in exact_dedup(df, "id", "text").collect()
    }
    norm = [re.sub(r"\s+", " ", t).strip().lower() for t in texts]
    want = {i: min(j for j in range(len(texts)) if norm[j] == norm[i])
            for i in range(len(texts))}
    assert got == want


@SPARKED
@given(
    st.lists(
        st.datetimes(
            min_value=dt.datetime(1900, 1, 2),
            max_value=dt.datetime(2100, 12, 30),
        ),
        min_size=1,
        max_size=32,
    )
)
def test_epoch_seconds_matches_python_datetime(spark, dts):
    """_epoch_seconds (calendar-field decomposition) == Python's naive
    datetime arithmetic to the microsecond, for BOTH timestamp flavors,
    across the full supported range (incl. pre-1970 negatives)."""
    from pyspark.sql import functions as F

    from gips_spark.operators.temporal import _epoch_seconds

    dts = [d.replace(microsecond=(d.microsecond // 1000) * 1000) for d in dts]
    df = spark.createDataFrame([(d.isoformat(sep=" "),) for d in dts], "s string")
    epoch = dt.datetime(1970, 1, 1)
    want = [(d - epoch) / dt.timedelta(seconds=1) for d in dts]
    for flavor in ("timestamp_ntz", "timestamp"):
        dd = df.select(F.col("s").cast(flavor).alias("ts"))
        got = [r[0] for r in dd.select(_epoch_seconds(dd, "ts")).collect()]
        assert got == pytest.approx(want, abs=1e-6), flavor


@SPARKED
@given(
    st.lists(st.integers(0, 50), min_size=1, max_size=40),
    st.sampled_from([16, 64, 256]),
)
def test_pack_sequences_conservation(spark, tok_counts, cap):
    """Packing properties under hypothesis-generated token counts:
    per bucket, start offsets are the exact prefix sums (conservation —
    no token lost or double-counted), offset_in_pack < cap, and
    pack_seq is consistent with start_tok."""
    from gips_spark.operators import packing

    rows = [(i, " ".join(["w"] * n)) for i, n in enumerate(tok_counts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = packing.pack_sequences(
        df, pack_tokens=cap, n_buckets=4, hash_method="portable"
    ).collect()
    assert len(out) == len(rows)
    by_bucket = {}
    for r in sorted(out, key=lambda r: r["doc_id"]):
        assert 0 <= r["offset_in_pack"] < cap
        assert r["pack_seq"] == r["start_tok"] // cap
        by_bucket.setdefault(r["bucket"], []).append(r)
    for rs in by_bucket.values():
        want = 0
        for r in rs:  # doc_id order == prefix-sum order
            assert r["start_tok"] == want
            want += r["n_tokens"]


@SPARKED
@given(st.lists(_ws_text, min_size=1, max_size=12))
def test_repetition_fractions_bounded(spark, texts):
    """All repetition fractions land in [0, 1] for arbitrary text."""
    from gips_spark.operators import textops

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    for r in textops.repetition_stats(df).collect():
        for c in (
            "dup_line_frac",
            "dup_line_char_frac",
            "top2_char_frac",
            "top3_char_frac",
            "dup5_char_frac",
        ):
            assert 0.0 <= r[c] <= 1.0, (c, dict(r.asDict()))


@SPARKED
@given(st.lists(st.text(alphabet="ab cd", min_size=0, max_size=60), min_size=1, max_size=10))
def test_decontaminate_self_benchmark_full_hit(spark, texts):
    """Using the corpus itself as the benchmark, every doc with ≥1
    5-gram must report hit_frac == 1 (its grams are all in the bench
    set); with a disjoint-alphabet benchmark, no doc is flagged."""
    from gips_spark.operators import textops

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    hits = textops.decontaminate(df, df, n=5).collect()
    with_grams = {
        i for i, t in enumerate(texts) if len(t.split()) >= 5
    }
    assert {r["doc_id"] for r in hits} == with_grams
    for r in hits:
        assert r["hit_frac"] == 1.0 and r["n_hit_grams"] == r["n_grams"]
    clean = spark.createDataFrame([(0, "z y x w v u t s")], "doc_id long, text string")
    assert textops.decontaminate(df, clean, n=5).count() == 0


# ------------------------------- textops / sampling differential tests
@st.composite
def _sparse_doc(draw):
    """A doc that often lacks a unit kind: NULL, empty, whitespace or
    blank lines only, or 1–4 tokens (no 5-grams), led by a tab or a
    newline; sometimes up to 12 tokens, so repeated grams occur too."""
    toks = draw(st.lists(st.sampled_from(["a", "bb", "c"]),
                         max_size=draw(st.sampled_from([0, 1, 4, 12]))))
    if not toks and draw(st.booleans()):
        return draw(st.sampled_from([None, ""]))
    lead = draw(st.sampled_from(["", " ", "\t", "\n", "\n \n", "\t\n"]))
    seps = draw(st.lists(st.sampled_from([" ", "  ", "\t", "\n", " \n\n ", "\r\n"]),
                         min_size=len(toks), max_size=len(toks)))
    return lead + "".join(t + s for t, s in zip(toks, seps))


_sparse_docs = st.lists(_sparse_doc(), min_size=8, max_size=40)


# words of several lengths and scripts: UTF-8 byte order (Spark's
# string order) is code-point order (Python's), but not UTF-16 order —
# U+FF21 sorts before U+1F600 in the first two, after it in the third
_REP_WORDS = ["a", "b", "ab", "bb", "z", "é", "ü", "日本", "\uff21", "\U0001f600"]
_REP_FIXED = [
    None, "", "\n \n", "\tx y x y", "one",
    # equal top counts between grams of different lengths: the gram
    # first in code-point order wins ("ab c" over "b d", "zz y" over
    # "é x", "\uff21 q" over "\U0001f600 qq")
    "ab c ab c b d b d",
    "é x é x zz y zz y",
    "\uff21 q \uff21 q \U0001f600 qq \U0001f600 qq",
]


@st.composite
def _rep_doc(draw):
    """A repetition-stats input: a doc over _REP_WORDS with repeated
    lines, or (with a drawn seed) a 2,000-token doc."""
    if draw(st.booleans()):
        import random

        rng = random.Random(draw(st.integers(0, 2**32 - 1)))
        toks = [rng.choice(_REP_WORDS) for _ in range(2000)]
        return "".join(t + rng.choice([" ", " ", "\t", "\n"]) for t in toks)
    line = st.lists(st.sampled_from(_REP_WORDS), min_size=1, max_size=8).map(" ".join)
    lines = draw(st.lists(line, min_size=1, max_size=6))
    return "\n".join(lines + lines[: draw(st.integers(0, len(lines)))])


@SPARKED
@given(st.lists(_rep_doc(), min_size=2, max_size=16), _sparse_docs)
def test_repetition_sorted_fold_matches_counter(spark, texts, sparse):
    """The sorted-run fold == a Counter recount of every column: ties
    on the top count go to the first gram in code-point order, and an
    empty or missing kind (the sparse docs) scores 0, not least(NULL,
    1.0) = 1.0."""
    assert_matches_reference(spark, list(enumerate(_REP_FIXED + texts + sparse)))


# code points that UTF-16 or UTF-8 count differently: astral-plane
# emoji (two UTF-16 units, four bytes), a combining acute accent (its
# own code point after its base letter), CJK and a fullwidth letter
_ENT_UNITS = ["a", "b", "ab", "aa", " ", "\t", "\n", "\U0001f600", "\U0001f4a9",
              "e\u0301", "\u0301", "日本", "\uff21"]
_ENT_FIXED = [None, "", " ", "   ", "\t a b a", "\n x\nx", "aaaa", "\U0001f600",
              "\U0001f600\U0001f600a", "e\u0301e\u0301e", "x \U0001f600 x \U0001f600"]


@SPARKED
@given(st.lists(st.lists(st.sampled_from(_ENT_UNITS), max_size=40).map("".join),
                min_size=1, max_size=24))
def test_entropy_stats_matches_counter(spark, texts):
    """entropy_stats == a Counter recount of every column: each
    distinct char's count from the text scan and each token's from the
    token array, over repeated, astral-plane and combining chars and
    NULL, empty, blank, tab-led and newline-led text."""
    assert_entropy_matches_reference(spark, list(enumerate(_ENT_FIXED + texts)))


@SPARKED
@given(_sparse_docs, st.lists(_sparse_doc(), min_size=1, max_size=6))
def test_decontaminate_hash_equals_gram_path(spark, texts, bench_texts):
    """join_on='hash' == join_on='gram' for n in {2, 5, 8}; the benchmark
    holds some corpus docs so that hits occur."""
    from gips_spark.operators import textops

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    bench = spark.createDataFrame(
        [(t,) for t in bench_texts + texts[::3]], "text string"
    )
    for n in (2, 5, 8):
        a = sorted(tuple(r) for r in textops.decontaminate(df, bench, n=n).collect())
        b = sorted(
            tuple(r)
            for r in textops.decontaminate(df, bench, n=n, join_on="gram").collect()
        )
        assert a == b, n


@SPARKED
@given(_sparse_docs)
def test_word_ngrams_match_python(spark, texts):
    """word_ngrams, the SQL-text gram builder the T-ops use and the
    gram chain repetition_stats uses (each size from the one below)
    all == plain-Python n-grams over str.split() (ASCII whitespace, so
    Java's \\s and Python agree); NULL ≡ ''."""
    from pyspark.sql import functions as F

    from gips_spark.operators import textops

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    ns = (1, 2, 3, 5)
    chain = df.selectExpr(
        "doc_id", "text", f"{textops._ws_tokens_sql('text')} AS _tk"
    ).selectExpr("*", "_tk AS c1")
    for n in range(2, max(ns) + 1):
        chain = chain.selectExpr("*", f"{textops._gram_step_sql(f'c{n - 1}', '_tk', n)} AS c{n}")
    got = {
        r["doc_id"]: r
        for r in chain.select(
            "doc_id",
            *[textops.word_ngrams(F.col("text"), n).alias(f"g{n}") for n in ns],
            *[F.expr(textops._grams_sql("_tk", n)).alias(f"s{n}") for n in ns],
            *[f"c{n}" for n in ns],
        ).collect()
    }
    for i, t in enumerate(texts):
        toks = (t or "").split()
        for n in ns:
            want = [" ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)]
            assert got[i][f"g{n}"] == want, (t, n)
            assert got[i][f"s{n}"] == want, (t, n)
            assert got[i][f"c{n}"] == want, (t, n)


@SPARKED
@given(
    st.lists(st.integers(1, 120), min_size=1, max_size=6),
    st.integers(1, 25),
    st.sampled_from([2, 4, 8, 64]),
    st.sampled_from(["xxhash64", "portable"]),
)
def test_group_quota_two_level_equals_one_window(spark, sizes, quota, buckets, method):
    """Two-level group_quota (bucketed local top-quota first) == the
    one-window form, rows and qranks, under random group skew."""
    from gips_spark.operators import sampling

    rows = [(i, f"g{g}") for g, n in enumerate(sizes) for i in range(g * 1000, g * 1000 + n)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    one = sampling.group_quota(df, "source", quota, method=method, prefilter_buckets=None)
    two = sampling.group_quota(df, "source", quota, method=method, prefilter_buckets=buckets)
    assert sorted(map(tuple, one.collect())) == sorted(map(tuple, two.collect()))
