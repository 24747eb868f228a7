"""Frozen-golden byte-stability (FIXTURES.md §Goldens, SURVEY.md §5.2 L3/L6).

Engine outputs on the deterministic fixture must hash identically to the
frozen values — any drift in the extractor/geocoder/indexers/join
kernels is a contract break (regenerate deliberately via
scripts/gen_goldens.py --write and explain in the commit)."""

import json
import os
import sys

# the checkout this file lives in, not whichever one is on sys.path
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scripts.gen_goldens import GOLDEN_PATH, compute_hashes  # noqa: E402


def test_goldens_frozen(spark):
    want = json.load(open(GOLDEN_PATH))
    got = compute_hashes(spark)
    assert got == want
