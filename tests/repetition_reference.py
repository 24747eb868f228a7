"""Plain-Python reference for ``textops.repetition_stats``, shared by the
tests that check the operator against it."""

from __future__ import annotations

import re
from collections import Counter

import pytest

from gips_spark.operators import textops


def repetition_reference(text, top_ns=(2, 3), dup_ns=(5,)):
    """repetition_stats' row for one text, less doc_id, from
    collections.Counter.  Lines are blank when only spaces remain
    (Spark's trim strips only ' '); tokens split on Java's ASCII \\s."""
    t = text or ""
    frac = lambda c: round(min(c / max(len(t), 1), 1.0), 9)  # noqa: E731
    lines = Counter(ln for ln in t.split("\n") if ln.strip(" "))
    n_lines = sum(lines.values())
    row = [
        len(t),
        n_lines,
        round((n_lines - len(lines)) / n_lines, 9) if n_lines else 0.0,
        frac(sum(c * len(g) for g, c in lines.items() if c >= 2)),
    ]
    toks = [x for x in re.split(r"[ \t\n\x0b\f\r]+", t) if x]

    def grams(n):
        return Counter(" ".join(toks[j : j + n]) for j in range(len(toks) - n + 1))

    for n in sorted(set(top_ns)):
        top = min(grams(n).items(), key=lambda gc: (-gc[1], gc[0]), default=("", 0))
        row.append(frac(top[1] * len(top[0])))
    for n in sorted(set(dup_ns)):
        row.append(frac(sum(c * len(g) for g, c in grams(n).items() if c >= 2)))
    return row


def assert_matches_reference(spark, docs):
    """repetition_stats over ``docs``, a list of (doc_id, text), equals
    the reference in every column of every doc; returns the input frame."""
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: list(r)[1:] for r in textops.repetition_stats(df).collect()}
    assert len(got) == len(docs)
    for i, text in docs:
        want = repetition_reference(text)
        assert got[i][:2] == want[:2], (text, got[i], want)
        assert got[i][2:] == pytest.approx(want[2:], abs=1e-9), (text, got[i], want)
    return df
