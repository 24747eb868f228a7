"""Plain-Python reference for ``textops.entropy_stats``, shared by the
tests that check the operator against it."""

from __future__ import annotations

import math
import re
from collections import Counter

import pytest

from gips_spark.operators import textops


def _entropy(units) -> float:
    n = len(units)
    return -sum(c / n * math.log(c / n) for c in Counter(units).values()) if n else 0.0


def entropy_reference(text):
    """entropy_stats' row for one text, less doc_id, from
    collections.Counter, entropies unrounded.  Chars are code points
    (Spark's split(t, '')); tokens split on Java's ASCII \\s."""
    t = text or ""
    chars = list(t)
    toks = [x for x in re.split(r"[ \t\n\x0b\f\r]+", t) if x]
    return [
        len(chars),
        len(toks),
        len(set(chars)),
        len(set(toks)),
        _entropy(chars),
        _entropy(toks),
        len(set(toks)) / len(toks) if toks else 0.0,
    ]


def assert_entropy_matches_reference(spark, docs):
    """entropy_stats over ``docs``, a list of (doc_id, text), equals the
    reference: the counts exactly, the entropies and the type-token
    ratio (rounded to 6 places by the operator) to within 1e-6."""
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: list(r)[1:] for r in textops.entropy_stats(df).collect()}
    assert len(got) == len(docs)
    for i, text in docs:
        want = entropy_reference(text)
        assert got[i][:4] == want[:4], (text, got[i], want)
        assert got[i][4:] == pytest.approx(want[4:], abs=1e-6), (text, got[i], want)
