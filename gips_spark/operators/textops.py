"""Text-analysis operators over a documents table (doc_id, text, ...).

Training-data pipeline components: language id, quality scoring, token
counting, fingerprinting — each one Arrow pass, JVM-side where a Column
expression suffices (token counts / ratios can also be expressed without
Python; both paths provided, the expression path is what oracle_sql
mirrors).

The T-ops (``entropy_stats``, ``repetition_stats``, ``decontaminate``)
write their per-row expressions as SQL text (``selectExpr`` /
``F.expr``): each projected column is one py4j call, where a Column
tree costs one round trip per node and a Python-lambda higher-order
function more.  Caller-supplied column names enter that text through
``_q``.  Both forms resolve to the same Catalyst expressions."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gips_spark.functions import udfs


def analyze_documents(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """→ per-document analysis columns (lang_pred, quality parts, tokens,
    fingerprint). Hot counters are JVM expressions; lang/fingerprint are
    Arrow kernels."""
    t = F.col(_q(text_col))
    ws_tokens = F.when(
        F.length(F.trim(t)) == 0, F.lit(0)
    ).otherwise(F.size(F.split(F.trim(t), r"\s+")))
    n_punct = F.length(t) - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    return docs.select(
        F.col(_q(id_col)),
        t.alias(text_col),
        F.length(t).alias("n_chars"),
        ws_tokens.alias("n_tokens_ws"),
        udfs.token_count_udf(t).alias("n_tokens"),
        n_punct.alias("n_punct"),
        (n_punct / F.greatest(F.length(t), F.lit(1))).alias("punct_ratio"),
        udfs.lang_id_udf(t).alias("lang_pred"),
        udfs.fingerprint_udf(t).alias("fingerprint"),
    )


def quality_filter(analyzed: DataFrame, min_tokens: int = 5, max_punct_ratio: float = 0.3) -> DataFrame:
    return analyzed.where(
        (F.col("n_tokens_ws") >= min_tokens) & (F.col("punct_ratio") <= max_punct_ratio)
    )


def language_histogram(analyzed: DataFrame) -> DataFrame:
    return (
        analyzed.groupBy("lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens_ws").alias("n_tokens"))
        .orderBy(F.desc("n_docs"), F.asc("lang_pred"))
    )


QUALITY_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_chars", T.LongType()),
        T.StructField("n_tokens", T.LongType()),
        T.StructField("punct_ratio", T.DoubleType()),
        T.StructField("stop_ratio", T.DoubleType()),
        T.StructField("mean_tok_len", T.DoubleType()),
        T.StructField("quality", T.DoubleType()),
    ]
)


def quality_scores(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """The full quality-feature kernel (textx.quality_score: length /
    punctuation / en-stopword ratios + clipped [0,1] score) as one
    Arrow pass — the numeric-feature sibling of analyze_documents."""
    from typing import Iterator

    import pandas as pd

    from gips_spark.functions import textx

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in QUALITY_SCHEMA.fields]
        for pdf in it:
            q = textx.quality_score(pdf["text"])
            q.insert(0, "doc_id", pdf["doc_id"].to_numpy())
            yield q[cols]

    return docs.select(F.col(_q(id_col)).alias("doc_id"), F.col(_q(text_col)).alias("text")).mapInPandas(
        kernel, schema=QUALITY_SCHEMA
    )


def tfidf_top_terms(
    docs: DataFrame, k: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document top-k TF-IDF terms (whitespace tokens; smooth
    idf = ln((N+1)/(df+1)) + 1).  Shape at scale: token explode →
    (doc, tok) count (one shuffle) → doc-frequency rollup over the
    ALREADY-distinct (doc, tok) pairs (never re-reads raw tokens) →
    join on tok (vocab-sized side, broadcast when small) → per-doc
    top-k window.  All JVM; the only scalar is the corpus doc count."""
    from pyspark.sql import Window as W

    doc = F.col(_q(id_col))
    tok = docs.select(
        doc, F.explode(F.split(F.col(_q(text_col)), " +")).alias("tok")
    ).where(F.col("tok") != "")
    tf = tok.groupBy(doc, "tok").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.count()
    idf = F.log(
        (F.lit(float(n_docs) + 1.0)) / (F.col("df") + F.lit(1.0))
    ) + F.lit(1.0)
    scored = tf.join(dfreq, "tok").select(
        doc, "tok", "tf", (F.col("tf") * idf).alias("score")
    )
    w = W.partitionBy(doc).orderBy(F.col("score").desc(), F.col("tok").asc())
    return scored.withColumn("trank", F.row_number().over(w)).where(
        F.col("trank") <= k
    )


def ws_tokens(text_col):
    """Whitespace tokens of a text Column, with NO phantom empties:
    ``filter(split(t, '\\s+'), x -> x != '')`` — unlike split(trim(t)),
    this also drops the empty string a LEADING tab/newline leaves
    behind (Spark `trim` strips only ASCII space, so '\\t a' kept its
    tab and split yielded a phantom '' token — code-review r5, verified
    live).  NULL text → empty array.  DuckDB mirror:
    ``list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')``.
    The T-ops splice the same expression as SQL text
    (``_ws_tokens_sql``).

    The lambda keeps Catalyst's subexpression elimination away from
    this expression: every reference re-splits the text.  Operators
    that use the tokens more than once project them ONCE as a column
    (``_tk``), which CollapseProject keeps because the consumers
    reference it several times."""
    return F.filter(
        F.split(F.coalesce(text_col, F.lit("")), r"\s+"), lambda x: x != ""
    )


def _q(name: str) -> str:
    """A caller-supplied column name as a SQL identifier: backtick-quoted,
    any backtick inside it doubled (so `t.x` is a column, not a field)."""
    return "`" + name.replace("`", "``") + "`"


def _ws_tokens_sql(text: str) -> str:
    """ws_tokens as SQL text over the SQL expression ``text``."""
    return rf"filter(split(coalesce({text}, ''), '\\s+'), x -> x != '')"


def _grams(toks, n: int):
    """array<string> of word `n`-grams of a token-array Column, single-
    space joined; fewer than n tokens → empty array.  ``toks`` is
    referenced 2n+2 times, so pass a column or a lambda variable, not
    an expression.  ``_grams_sql`` is the same expression as SQL text."""
    sz = F.size(toks)
    m = sz - F.lit(n - 1)  # gram count when sz >= n
    out = F.slice(toks, 1, m)
    for k in range(2, n + 1):
        out = F.zip_with(
            out, F.slice(toks, k, m), lambda a, b: F.concat(a, F.lit(" "), b)
        )
    # guard < n tokens: m <= 0 would make slice error under ANSI mode —
    # the CaseWhen keeps the otherwise branch unevaluated for short docs
    return F.when(sz < n, F.array().cast("array<string>")).otherwise(out)


def _grams_sql(toks: str, n: int) -> str:
    """``_grams`` as SQL text over the token-array column ``toks``."""
    m = f"size({toks}) - {n - 1}"
    out = f"slice({toks}, 1, {m})"
    for k in range(2, n + 1):
        out = f"zip_with({out}, slice({toks}, {k}, {m}), (a, b) -> concat(a, ' ', b))"
    return f"CASE WHEN size({toks}) < {n} THEN cast(array() AS array<string>) ELSE {out} END"


def _gram_step_sql(prev: str, toks: str, n: int) -> str:
    """SQL text: the `n`-grams of the token-array column ``toks`` from
    its (n-1)-grams ``prev`` (``toks`` itself for n = 2), one
    ``zip_with`` appending token k+n-1 to (n-1)-gram k.  Equal to
    ``_grams_sql(toks, n)``, which folds the same concatenations left
    to right in one expression: decontaminate builds its one size that
    way, without slicing each intermediate size."""
    m = f"size({toks}) - {n - 1}"
    return (
        f"CASE WHEN size({toks}) < {n} THEN cast(array() AS array<string>) ELSE "
        f"zip_with(slice({prev}, 1, {m}), slice({toks}, {n}, {m}), (a, b) -> concat(a, ' ', b)) END"
    )


def word_ngrams(text_col, n: int):
    """array<string> of word `n`-grams of a text Column (ws_tokens,
    single-space joined).  Pure JVM, no Python; mirrored verbatim by
    the DuckDB oracles via list_transform + list_slice.  Empty/short/
    NULL texts yield an empty array.

    r6 construction (guide §1.2 "per-task work", measured ~1.9× on the
    1M-doc bench, output pinned bit-identical): n-grams are built by
    zipping n SHIFTED slices of the token array — n `slice` calls per
    document — instead of `transform(sequence(...), i -> concat_ws(' ',
    slice(toks, i, n)))`, which allocated a fresh sub-array per GRAM
    inside an interpreted higher-order function (HOFs never enter
    whole-stage codegen, so per-element work is the multiplier that
    matters).  The tokens are bound to one lambda variable
    (``transform(array(tokens), toks -> grams)[0]``), so the text is
    split once, not at each of the 2n+2 token references."""
    return F.transform(F.array(ws_tokens(text_col)), lambda toks: _grams(toks, n))[0]


def _char_frac_sql(chars: str) -> str:
    """SQL text: ``chars`` over the document's chars, clipped to 1."""
    return f"least({chars} / cast(greatest(n_chars, 1) AS double), 1.0D)"


def repetition_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_ns: tuple = (2, 3),
    dup_ns: tuple = (5,),
) -> DataFrame:
    """Within-document repetition signals (the Gopher §A1.1 repetition
    filter family, Rae et al. 2021 — public): per document,

    * ``n_lines``, ``dup_line_frac`` — fraction of line OCCURRENCES that
      are repeats of an earlier-seen line: (n_lines - n_distinct)/n_lines;
    * ``dup_line_char_frac`` — chars across ALL occurrences of duplicated
      lines / total chars;
    * ``top{n}_char_frac`` (n in top_ns) — chars covered by the most
      frequent word n-gram (count × gram length, ties broken gram-ASC)
      / total chars, clipped to 1 (occurrences may overlap);
    * ``dup{n}_char_frac`` (n in dup_ns) — chars across all occurrences
      of word n-grams seen ≥2× / total chars, clipped to 1.

    A ZERO-shuffle narrow projection, everything JVM-side, zero Python.
    Per document the text is split once into its non-blank lines (kind
    'line', lines = split(text, '\\n')) and once into tokens, projected
    as ``_tk``.  The word n-grams ('g{n}' for n in top_ns ∪ dup_ns) come
    from one chain: ``_a_g{n}`` appends token k+n-1 to ``_a_g{n-1}``'s
    gram k with one ``zip_with`` (``_gram_step_sql``), for each n up to
    max(ns).  That is max(ns) - 1 passes over the tokens (4 at the
    defaults), where building each size from the tokens took the sum of
    n - 1 over ns (7).  NULL text ≡ empty text.

    Per kind, one ``aggregate`` fold over the document's units sorted
    ascending by ``sort_array``, which compares with the type's own
    ordering (``array_sort`` without a comparator evaluates a default
    comparator lambda, interpreted, per comparison): equal units are
    adjacent, so each run of one unit is its count, and the fold closes
    a run when the unit changes.  Each kind's accumulator holds the run
    (p = its unit, r = its length) and only the statistics its outputs
    read: n_distinct (nd) and dup_chars (dup) for lines, max_cnt (mc)
    and top_gram (tg) for a top_ns size, dup for a dup_ns size.  A
    closed run adds 1 to nd, ``r * length(p)`` to dup when ``r >= 2``,
    and replaces tg only when ``r > mc`` strictly, so the first gram in
    ascending order wins a tie (cnt DESC, gram ASC).  Spark orders
    strings by UTF-8 bytes, which is code-point order.  O(u log u) per
    document for u units, all bigint arithmetic.  A giant document is
    sorted in one task; at local[4] that beat a (doc, kind, gram) count
    shuffle even with fewer documents than cores (1 doc × 600k tokens:
    5.2 s against 8.5 s).
    """
    ns = sorted(set(top_ns) | set(dup_ns))
    t = f"coalesce({_q(text_col)}, '')"
    d = docs.selectExpr(
        f"{_q(id_col)} AS doc_id",
        f"length({t}) AS n_chars",
        f"filter(split({t}, '\\n'), x -> trim(x) != '') AS _a_line",
        f"{_ws_tokens_sql(t)} AS _tk",
    )
    gram = {n: "_tk" for n in ns if n < 2}  # each size's column; 1-grams are the tokens
    prev = "_tk"
    for n in range(2, max(ns, default=1) + 1):
        d = d.selectExpr("*", f"{_gram_step_sql(prev, '_tk', n)} AS _a_g{n}")
        prev = gram[n] = f"_a_g{n}"

    # the statistics with the run that ends at `a` counted in
    closed = {
        "nd": "a.nd + CASE WHEN a.r > 0 THEN 1L ELSE 0L END",
        "dup": "a.dup + CASE WHEN a.r >= 2 THEN a.r * length(a.p) ELSE 0L END",
        "mc": "greatest(a.mc, a.r)",
        "tg": "CASE WHEN a.r > a.mc THEN a.p ELSE a.tg END",
    }
    # 0 when the kind has no units
    closed["top"] = f"coalesce({closed['mc']} * length({closed['tg']}), 0L)"

    def struct(**fields) -> str:
        return "named_struct(" + ", ".join(f"'{k}', {v}" for k, v in fields.items()) + ")"

    def fold(units: str, outs: list) -> str:
        """One sorted-run fold over `units`, finishing in the struct of
        `outs` (fields of ``closed``)."""
        acc = [f for f in ("nd", "dup") if f in outs] + (["mc", "tg"] if "top" in outs else [])
        null = "cast(NULL AS string)"
        zero = struct(p=null, r="0L", **{f: null if f == "tg" else "0L" for f in acc})
        same = struct(p="a.p", r="a.r + 1L", **{f: f"a.{f}" for f in acc})
        new = struct(p="x", r="1L", **{f: closed[f] for f in acc})
        # x = a.p is NULL at the first unit, which opens the first run
        step = f"(a, x) -> CASE WHEN x = a.p THEN {same} ELSE {new} END"
        finish = "a -> " + struct(**{f: closed[f] for f in outs})
        return f"aggregate(sort_array({units}), {zero}, {step}, {finish})"

    folded = d.selectExpr(
        "doc_id",
        "n_chars",
        "cast(size(_a_line) AS bigint) AS n_lines",
        f"{fold('_a_line', ['nd', 'dup'])} AS _s_line",
        *[
            f"{fold(gram[n], ['top'] * (n in top_ns) + ['dup'] * (n in dup_ns))} AS _s_g{n}"
            for n in ns
        ],
    )
    out = [
        "n_lines",
        "round(CASE WHEN n_lines = 0 THEN 0.0D ELSE "
        "(n_lines - _s_line.nd) / cast(n_lines AS double) END, 9) AS dup_line_frac",
        f"round({_char_frac_sql('_s_line.dup')}, 9) AS dup_line_char_frac",
    ]
    for n in sorted(set(top_ns)):
        out.append(f"round({_char_frac_sql(f'_s_g{n}.top')}, 9) AS top{n}_char_frac")
    for n in sorted(set(dup_ns)):
        out.append(f"round({_char_frac_sql(f'_s_g{n}.dup')}, 9) AS dup{n}_char_frac")
    return folded.selectExpr("doc_id", "n_chars", *out)


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    join_on: str = "hash",
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any word
    `n`-gram with a benchmark/eval table (the GPT-3-style 13-gram /
    training-data overlap check — public; n defaults to 8).

    Returns (doc_id, n_hit_grams, n_grams, hit_frac) for contaminated
    documents only: n_hit_grams = DISTINCT doc n-grams present in the
    benchmark, n_grams = distinct n-grams in the doc, hit_frac their
    ratio.

    Shape at 100 TB: per-doc ``array_distinct`` BEFORE the explode (the
    corpus side never carries repeat grams into the shuffle), benchmark
    grams **broadcast** as the build side of a left-semi join, which
    emits each corpus (doc, gram) row at most once without a distinct()
    pre-pass — the corpus never shuffles; the only wide op is the
    final doc_id partial-count agg.  join_on='hash'
    (default) joins on xxhash64(gram) — 8-byte keys instead of strings
    on the wire; 'gram' joins raw strings (the oracle path — pinned
    equal to the hash path by pytest; a collision needs ~2^32 distinct
    benchmark grams by the birthday bound).
    """
    if join_on not in ("hash", "gram"):
        raise ValueError("join_on must be 'hash' or 'gram'")
    # built from the tokens projected once per side as ``_tk``
    grams = f"array_distinct({_grams_sql('_tk', n)}) AS grams"

    # r6 (guide §2.3 "shuffle keys, not payloads", applied to the
    # Generate): hash INSIDE the array and explode int64s — the explode
    # then materializes (long, int, long) rows instead of ~60-char gram
    # strings that were hashed-and-dropped one operator later.  Measured
    # 15.0s → 8.1s on the 1M-doc side, identical (doc_id, n_grams, k)
    # multiset.  The 'gram' path explodes transform(grams, g -> g), not
    # the bare column: InferFiltersFromGenerate adds size(grams) > 0 for
    # a bare attribute, and pushdown would inline the whole token and
    # gram expression into that filter below the token projection.
    keys = f"explode(transform(grams, g -> {'xxhash64(g)' if join_on == 'hash' else 'g'})) AS k"
    doc_side = (
        docs.selectExpr(f"{_q(id_col)} AS doc_id", f"{_ws_tokens_sql(_q(text_col))} AS _tk")
        .selectExpr("doc_id", grams)
        .selectExpr("doc_id", "size(grams) AS n_grams", keys)
    )
    bench_side = (
        benchmark.selectExpr(f"{_ws_tokens_sql(_q(bench_text_col))} AS _tk")
        .selectExpr(grams)
        .selectExpr(keys)
    )
    # a semi join emits each probe row at most once, so the build side
    # needs no distinct()
    hits = doc_side.join(F.broadcast(bench_side), "k", "left_semi").groupBy(
        "doc_id", "n_grams"
    ).agg(F.expr("count(1) AS n_hit_grams"))
    return hits.selectExpr(
        "doc_id",
        "n_hit_grams",
        "n_grams",
        "round(n_hit_grams / cast(n_grams AS double), 9) AS hit_frac",
    )


def entropy_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document diversity/entropy quality signals (the entropy /
    compression-ratio filter family used in corpus curation — public):
    character- and token-unigram Shannon entropy (nats), distinct
    counts, and the type-token ratio.

    Shape at 100 TB: a ZERO-SHUFFLE narrow projection — entropies are
    computed per row with higher-order array functions (aggregate over
    array_distinct), all JVM-side, and the text is split once into
    chars and once into tokens.  Each distinct symbol is counted once.
    A char's count is a native scan of the text, ``length(t) -
    length(replace(t, c, ''))`` (``split(t, '')`` splits by code point,
    so c is one code point), not an interpreted lambda call per char;
    a token keeps its filter-count over the token array, since a token
    can be a substring of another.  Per-row cost is O(distinct × len):
    bounded ~100×len for real text (alphabet-sized char set; the
    Zipfian token set is the worst case — for adversarial
    million-distinct-token docs, prefer a fold over the sorted tokens,
    as repetition_stats counts its units: O(len log len)).  Empty docs
    yield zero entropies, not NaN."""
    t = f"coalesce({_q(text_col)}, '')"
    # split('', '') yields [''] — guard empties so counts come out 0;
    # tokens via ws_tokens (drops the phantom '' a leading tab/newline
    # leaves behind — code-review r5)
    prep = docs.selectExpr(
        f"{_q(id_col)} AS doc_id",
        f"{t} AS _t",
        f"CASE WHEN length({t}) = 0 THEN cast(array() AS array<string>) "
        f"ELSE split({t}, '') END AS _cs",
        f"{_ws_tokens_sql(t)} AS _tk",
    )

    def h(arr: str, count: str) -> str:
        # each distinct symbol c's `count` is computed once, then
        # -p·ln(p) is folded in array_distinct order
        probs = f"transform(array_distinct({arr}), c -> ({count}) / cast(size({arr}) as double))"
        return f"aggregate({probs}, cast(0.0 as double), (acc, p) -> acc - p * ln(p))"

    # size(_cs) is length(_t) wherever the lambda runs (non-empty text)
    char_count = "size(_cs) - length(replace(_t, c, ''))"
    token_count = "size(filter(_tk, x -> x = c))"

    return prep.selectExpr(
        "doc_id",
        "cast(size(_cs) AS bigint) AS n_chars",
        "cast(size(_tk) AS bigint) AS n_tokens",
        "cast(size(array_distinct(_cs)) AS bigint) AS char_distinct",
        "cast(size(array_distinct(_tk)) AS bigint) AS token_distinct",
        # + 0.0 normalizes IEEE -0.0 (single-symbol docs: -1·ln(1)) so
        # byte-level value hashes can't split on the zero sign
        f"round({h('_cs', char_count)}, 6) + 0.0D AS char_entropy",
        f"round({h('_tk', token_count)}, 6) + 0.0D AS token_entropy",
        "round(CASE WHEN size(_tk) = 0 THEN 0.0D ELSE "
        "size(array_distinct(_tk)) / cast(size(_tk) AS double) END, 6) AS token_ttr",
    )
