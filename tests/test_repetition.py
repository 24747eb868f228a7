"""repetition_stats + decontaminate (textops) — hand-computed oracles
and plan gates.  Reference semantics: Gopher §A1.1 repetition filters
(Rae et al. 2021) and GPT-3-style n-gram decontamination — both public.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from gips_spark.operators import textops
from repetition_reference import assert_matches_reference

DOCS = [
    (1, "a b c a b c a b"),                    # 2-gram/5-gram repeats, 1 line
    (2, "x y\nx y\nz z z\nx y"),               # duplicate lines
    (3, ""),                                   # empty doc must survive with zeros
    (4, "one two three four five six seven"),  # no repeats
    (5, "p q r s t p q r s t p q r s t u"),    # heavy 5-gram repeats
]


@pytest.fixture(scope="module")
def rep(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    out = textops.repetition_stats(df).orderBy("doc_id").collect()
    return {r["doc_id"]: r for r in out}


def test_word_ngrams_zip_construction_reference(spark):
    """r6 (zipped-shifted-slices rewrite): word_ngrams must equal a
    plain-Python reference on every edge shape — short docs, exactly-n
    docs, tab/newline whitespace (ws_tokens, no phantom empties), NULL,
    and n=1."""
    rows = [
        (1, "a b c d e"),
        (2, "a b"),            # exactly n for n=2
        (3, "a"),              # shorter than any n>1
        (4, ""),               # empty
        (5, None),             # NULL ≡ empty
        (6, "\t a\nb  c \t"),  # mixed whitespace, leading tab
        (7, "x " * 50 + "y"),  # longer doc
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for n in (1, 2, 3, 5):
        got = {
            r["doc_id"]: r["g"]
            for r in df.select(
                "doc_id", textops.word_ngrams(F.col("text"), n).alias("g")
            ).collect()
        }
        for doc_id, text in rows:
            toks = (text or "").split()
            want = [
                " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
            ] if len(toks) >= n else []
            assert got[doc_id] == want, (doc_id, n, got[doc_id], want)


def test_repetition_hand_computed(rep):
    r1 = rep[1]  # "a b c a b c a b", 15 chars
    assert r1["n_lines"] == 1 and r1["dup_line_frac"] == 0.0
    # "a b" x3, len 3 -> 9/15
    assert r1["top2_char_frac"] == pytest.approx(0.6)
    # g3 all tie at cnt 2 -> gram-ASC picks "a b c": 2*5/15
    assert r1["top3_char_frac"] == pytest.approx(round(10 / 15, 9))
    # dup 5-grams: "a b c a b" x2 = 18 chars > 15 -> clipped
    assert r1["dup5_char_frac"] == 1.0

    r2 = rep[2]  # 4 lines, "x y" x3 duplicated, 17 chars
    assert r2["n_lines"] == 4
    assert r2["dup_line_frac"] == pytest.approx(0.5)  # (4-2)/4
    assert r2["dup_line_char_frac"] == pytest.approx(round(9 / 17, 9))

    r3 = rep[3]  # empty doc: all zeros, not dropped
    assert r3["n_chars"] == 0 and r3["n_lines"] == 0
    assert r3["dup5_char_frac"] == 0.0

    r4 = rep[4]
    assert r4["dup_line_frac"] == 0.0 and r4["dup5_char_frac"] == 0.0

    r5 = rep[5]
    assert r5["dup5_char_frac"] == 1.0  # 5 dup 5-grams x >=2 occurrences


def test_repetition_numpy_cross_check(spark):
    """The Counter recount on pseudo-random small-vocab docs — every
    column, every doc."""
    rng = np.random.default_rng(7)
    vocab = ["aa", "b", "ccc", "dd", "e"]
    docs = []
    for i in range(40):
        n = int(rng.integers(0, 30))
        words = [vocab[int(k)] for k in rng.integers(0, len(vocab), n)]
        # sprinkle newlines to create multi-line docs
        text = " ".join(words)
        if n > 6:
            text = text.replace(" dd ", "\n", 3)
        docs.append((i, text))
    assert_matches_reference(spark, docs)


def test_repetition_is_pure_jvm(spark):
    """Scale gate: the plan contains no Python/Arrow stage — split /
    transform / explode / aggregates are all JVM-side."""
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    plan = textops.repetition_stats(df)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "mapInPandas" not in plan.lower()


def test_decontaminate_hash_equals_gram_and_hand_case(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    bench = spark.createDataFrame(
        [(100, "p q r s t p q r s"), (101, "nothing matches here at all")],
        "doc_id long, text string",
    )
    a = textops.decontaminate(docs, bench, n=5, join_on="hash").collect()
    b = textops.decontaminate(docs, bench, n=5, join_on="gram").collect()
    key = lambda rows: sorted(tuple(r) for r in rows)
    assert key(a) == key(b)
    assert len(a) == 1 and a[0]["doc_id"] == 5
    # bench 5-grams: pqrst, qrstp, rstpq, stpqr, tpqrs (5 of doc 5's 6)
    assert a[0]["n_hit_grams"] == 5 and a[0]["n_grams"] == 6
    assert a[0]["hit_frac"] == pytest.approx(round(5 / 6, 9))


def test_decontaminate_broadcasts_benchmark(spark):
    """Scale gate: the benchmark gram set must arrive via
    BroadcastExchange — the corpus side never shuffles for the join."""
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    bench = spark.createDataFrame([(0, "p q r s t u v w")], "doc_id long, text string")
    plan = (
        textops.decontaminate(docs, bench, n=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastExchange" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_entropy_stats_numpy_cross_check(spark):
    """entropy_stats == scipy-free numpy/Counter recomputation on
    adversarial docs (empty, whitespace-only, single-symbol, mixed)."""
    from collections import Counter

    docs = [
        (1, "aab"),
        (2, ""),
        (3, "x y x y z"),
        (4, "   "),
        (5, "zzzzzz"),
        (6, "the quick brown fox the quick"),
        (7, "\n\n"),
        (8, "\ta b"),
    ]
    out = {
        r["doc_id"]: r
        for r in textops.entropy_stats(
            spark.createDataFrame(docs, "doc_id long, text string")
        ).collect()
    }

    def H(xs):
        if not xs:
            return 0.0
        c, n = Counter(xs), len(xs)
        return -sum((v / n) * np.log(v / n) for v in c.values())

    for i, t in docs:
        cs = list(t)
        tk = t.split() if t.strip() else []
        r = out[i]
        assert r["n_chars"] == len(cs) and r["n_tokens"] == len(tk)
        assert r["char_distinct"] == len(set(cs))
        assert r["token_distinct"] == len(set(tk))
        assert r["char_entropy"] == pytest.approx(round(H(cs), 6) + 0.0, abs=2e-6)
        assert r["token_entropy"] == pytest.approx(round(H(tk), 6) + 0.0, abs=2e-6)
        want_ttr = len(set(tk)) / len(tk) if tk else 0.0
        assert r["token_ttr"] == pytest.approx(round(want_ttr, 6), abs=1e-9)
        # sign-normalized: never -0.0 on the wire
        assert str(r["char_entropy"])[0] != "-" or r["char_entropy"] != 0.0


def test_entropy_stats_is_zero_shuffle_pure_jvm(spark):
    """Scale gate: a narrow projection — NO Exchange, no Python stage."""
    docs = spark.createDataFrame([(1, "a b"), (2, "c")], "doc_id long, text string")
    plan = textops.entropy_stats(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_entropy_bounds_property(spark):
    """0 <= H <= ln(distinct); TTR in [0,1]; uniform text maximizes."""
    import math

    docs = [(1, "a b c d"), (2, "a a a a"), (3, "q w e r t y u i")]
    for r in textops.entropy_stats(
        spark.createDataFrame(docs, "doc_id long, text string")
    ).collect():
        # +5e-7: round-6 may push H up by half a rounding step
        assert 0.0 <= r["token_entropy"] <= math.log(max(r["token_distinct"], 1)) + 5e-7
        assert 0.0 <= r["char_entropy"] <= math.log(max(r["char_distinct"], 1)) + 5e-7
        assert 0.0 <= r["token_ttr"] <= 1.0
    got = {
        r["doc_id"]: r
        for r in textops.entropy_stats(
            spark.createDataFrame(docs, "doc_id long, text string")
        ).collect()
    }
    assert got[1]["token_entropy"] == pytest.approx(np.log(4), abs=2e-6)
    assert got[2]["token_entropy"] == 0.0


def test_repetition_matches_counter_on_seeded_docs(spark):
    """repetition_stats == the Counter recount on 150 seeded docs over a
    vocabulary with repeats (one word holds a space), plus empty, blank,
    NULL and tab-led text; the plan is a narrow JVM projection."""
    rng = np.random.default_rng(17)
    vocab = ["aa", "b", "ccc", "dd", "e", "ff f"]
    docs = [(99990, ""), (99991, "  \n \n "), (99992, None), (99993, "\tx y x y")]
    for i in range(150):
        n = int(rng.integers(0, 35))
        words = [vocab[int(k)] for k in rng.integers(0, len(vocab), n)]
        text = " ".join(words)
        if n > 6:
            text = text.replace(" dd ", "\n", 3)
        docs.append((i, text))
    df = assert_matches_reference(spark, docs)
    plan = textops.repetition_stats(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "EvalPython" not in plan


def _split_patterns(df):
    """The pattern of every split() call in `df`'s executed plan, sorted:
    each entry is one place the plan splits the text."""
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    return sorted(re.findall(r"split\(.*?, (\\s\+|\n|), -1\)", plan, flags=re.S))


def test_text_split_once_per_input(spark):
    """Each T-op tokenizes a document once: the tokens are projected
    as a column and every gram size, count and fold reads that column.
    Inlining ws_tokens into word_ngrams split the text 2n+2 times per
    gram size (24 splits in repetition_stats, 34/52 in decontaminate)."""
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    bench = spark.createDataFrame([(0, "p q r s t u v w")], "doc_id long, text string")
    assert _split_patterns(textops.repetition_stats(docs)) == ["\n", r"\s+"]
    for join_on in ("hash", "gram"):
        got = _split_patterns(textops.decontaminate(docs, bench, n=8, join_on=join_on))
        assert got == [r"\s+", r"\s+"], (join_on, got)  # one per input side
    assert _split_patterns(textops.entropy_stats(docs)) == ["", r"\s+"]
    # standalone word_ngrams binds its tokens to one lambda variable
    # (it split the text 2n+2 = 18 times for n = 8)
    grams = docs.select(textops.word_ngrams(F.col("text"), 8).alias("g"))
    assert _split_patterns(grams) == [r"\s+"]


def test_tops_quote_caller_column_names(spark):
    """Caller-supplied column names are spliced into SQL text and
    `F.col` quoted: a space, a dot (F.col reads `t.x` as a struct field
    access) or a backtick in a name gives the same rows as the default
    names."""
    plain = spark.createDataFrame(DOCS, "doc_id long, text string")
    bench = spark.createDataFrame([("p q r s t p q r s",)], "text string")

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    for id_col, text_col, bench_col in [("doc id", "t.x", "a`b"), ("a`b", "doc id", "t.x")]:
        docs, names = plain.toDF(id_col, text_col), {"id_col": id_col, "text_col": text_col}
        assert rows(textops.entropy_stats(docs, **names)) == rows(textops.entropy_stats(plain))
        assert rows(textops.repetition_stats(docs, **names)) == rows(
            textops.repetition_stats(plain)
        )
        for join_on in ("hash", "gram"):
            got = textops.decontaminate(
                docs, bench.toDF(bench_col), n=5, join_on=join_on,
                bench_text_col=bench_col, **names,
            )
            want = textops.decontaminate(plain, bench, n=5, join_on=join_on)
            assert rows(got) == rows(want) != [], join_on
        for op in (textops.analyze_documents, textops.quality_scores, textops.tfidf_top_terms):
            assert rows(op(docs, **names)) == rows(op(plain)), op.__name__


# py4j commands the Column-tree builds took, one per Column node (less
# the object-release commands, whose timing follows Python's GC);
# repetition_stats is keyed by its document-local sorted fold
_COLUMN_TREE_COMMANDS = {
    "entropy_stats": 476,
    "repetition_stats_local": 1799,
    "decontaminate": 858,
    "decontaminate_gram": 842,
}


@pytest.mark.parametrize("op", sorted(_COLUMN_TREE_COMMANDS))
def test_tops_build_in_few_py4j_round_trips(spark, monkeypatch, op):
    """Each T-op's per-row expressions are SQL text, one JVM call per
    projected column: building the DataFrame takes at most a fifth of
    the py4j round trips of a Column tree.  The count repeats exactly."""
    from py4j import protocol
    from py4j.clientserver import ClientServerConnection

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    bench = spark.createDataFrame([("p q r s t u v w",)], "text string")
    build = {
        "entropy_stats": lambda: textops.entropy_stats(docs),
        "repetition_stats_local": lambda: textops.repetition_stats(docs),
        "decontaminate": lambda: textops.decontaminate(docs, bench, n=8),
        "decontaminate_gram": lambda: textops.decontaminate(docs, bench, n=8, join_on="gram"),
    }[op]
    build()
    sent = []
    send = ClientServerConnection.send_command

    def counting(self, command):
        if not command.startswith(protocol.MEMORY_COMMAND_NAME):
            sent.append(command)
        return send(self, command)

    counts = []
    for _ in range(2):
        sent.clear()
        with monkeypatch.context() as m:
            m.setattr(ClientServerConnection, "send_command", counting)
            build()
        counts.append(len(sent))
    assert counts[0] == counts[1]
    assert counts[0] <= _COLUMN_TREE_COMMANDS[op] // 5, counts
