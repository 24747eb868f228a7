"""Text kernel tests: extraction byte-exactness, geocoder rules, analysis."""

import os
import sys

import duckdb
import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from gips_spark.functions import textx

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as entry  # noqa: E402


def test_extract_text_golden():
    """Frozen extractor contract — byte-identical outputs (input_hint)."""
    html = pd.Series(
        [
            b"<html><head><title>T</title><script>var x=1;</script></head>"
            b"<body><nav>Home | About &amp; Contact</nav><!-- c --><p>Hello "
            b"world</p><footer>&#169; example &#252;ber</footer></body></html>",
            b"<p>plain</p>",
            b"",
        ]
    )
    got = textx.extract_text(html).tolist()
    assert got == [
        "T Home | About & Contact Hello world © example über",
        "plain",
        "",
    ]


def test_extract_deterministic_and_idempotent_per_input():
    html = pd.Series([b"<b>x</b> &amp; <i>y</i>"] * 100)
    out = textx.extract_text(html)
    assert out.nunique() == 1 and out.iloc[0] == "x & y"


@pytest.mark.parametrize(
    "html, want",
    [
        ([b"<p>a</p>", None], ["a", ""]),
        ([None, b"<p>a</p>"], ["", "a"]),
        ([None, b"\xff<p>a</p>"], ["", "\ufffd a"]),
    ],
)
def test_enrich_struct_null_html(html, want):
    """A null html anywhere in a bytes batch extracts to "" and the
    other rows still decode (utf-8, errors replaced)."""
    from gips_spark.functions import udfs

    n = len(html)
    out = udfs.enrich_struct.func(
        pd.Series(html, dtype=object),
        pd.Series(["https://x.example.com/p"] * n),
        pd.Series([""] * n),
    )
    assert out["extracted_text"].tolist() == want


def test_geocode_rule_priority():
    url = pd.Series(
        [
            "https://a.example.com/x/p1?lat=12.3456&lon=-45.1234",  # qs wins
            "https://a.example.com/news/berlin/p2",  # city_url
            "https://a.example.com/x/p3",  # text coord
            "https://a.example.com/x/p4",  # city_text
            "https://a.example.com/x/p5",  # none
        ]
    )
    text = pd.Series(
        [
            "located at 1.0000, 2.0000",  # qs beats coord_text
            "report from tokyo",  # city_url beats city_text
            "located at -33.8688, 151.2093",
            "report from sao paulo",
            "nothing here",
        ]
    )
    got = textx.geocode(url, text)
    assert got["geocode_src"].tolist() == [
        "latlon_qs",
        "city_url",
        "coord_text",
        "city_text",
        "none",
    ]
    assert got["lat"].iloc[0] == 12.3456 and got["lon"].iloc[0] == -45.1234
    assert got["lat"].iloc[1] == 52.5200  # berlin
    assert got["lat"].iloc[2] == -33.8688
    assert got["lat"].iloc[3] == -23.5505  # sao paulo
    assert pd.isna(got["lat"].iloc[4])


def test_geocode_rejects_out_of_range():
    url = pd.Series(["https://x.example.com/p?lat=95.0000&lon=10.0000"])
    text = pd.Series(["located at 12.0000, 191.0000"])
    got = textx.geocode(url, text)
    assert got["geocode_src"].iloc[0] == "none"


def test_geocode_masked_evaluation_fall_through():
    """r6 (masked highest-priority-first rewrite): an out-of-range match
    in a HIGHER tier must leave the row unresolved for LOWER tiers —
    the exact overwrite semantics of the r5 lowest-first implementation
    — and the literal prefilters ("lat=", ",") must never drop a row
    the regex would match."""
    url = pd.Series(
        [
            # invalid qs coords + city in path → falls through to city_url
            "https://a.example.com/berlin/p?lat=95.5000&lon=10.0000",
            # "lat=" present only inside another param name: prefilter
            # passes, regex correctly rejects, cctld resolves
            "https://x.example.de/p?plat=1.5",
            # valid qs must still win over everything
            "https://x.example.de/tokyo/p?lat=1.5000&lon=2.5000",
            # out-of-range text coord (has ",") → falls through to city_text
            "https://a.example.com/x/p",
        ]
    )
    text = pd.Series(
        [
            "nothing",
            "nothing",
            "report from berlin",
            "located at 91.0000, 10.0000 report from sao paulo",
        ]
    )
    got = textx.geocode(url, text)
    assert got["geocode_src"].tolist() == [
        "city_url", "cctld", "latlon_qs", "city_text",
    ]
    # non-RangeIndex input (sliced batch) must not misalign rows
    got2 = textx.geocode(url.iloc[[2, 3]], text.iloc[[2, 3]])
    assert got2["geocode_src"].tolist() == ["latlon_qs", "city_text"]


def test_geocode_coord_separators_match_duckdb():
    """The coord_text rule agrees with DuckDB's RE2 `regexp_extract` on
    the same pattern (the oracle SQL's) for every ASCII whitespace
    separator after the comma, not only a space.  A `", "` prefilter
    once dropped the tab/newline phrases.  RE2's \\s is [\\t\\n\\f\\r ],
    so \\v and U+00A0 (which Python re's \\s takes) do not match."""
    seps = [" ", "\t", "\n", "\r", "\f", "", "  ", "\v", "\xa0"]
    text = pd.Series([f"observed at 41.8719,{sep}-12.5674 downtown" for sep in seps])
    url = pd.Series(["https://x.example.com/p"] * len(seps))
    got = textx.geocode(url, text)
    df = pd.DataFrame({"i": range(len(seps)), "txt": text})  # noqa: F841
    want = duckdb.sql(
        "SELECT regexp_extract(txt, '" + textx.TEXT_COORD_PATTERN + "', 1) AS la, "
        "regexp_extract(txt, '" + textx.TEXT_COORD_PATTERN + "', 2) AS lo "
        "FROM df ORDER BY i"
    ).df()
    hit = (want["la"] != "").to_numpy()
    assert hit.tolist() == [True] * 5 + [False] * 4
    assert got["geocode_src"].tolist() == [
        "coord_text" if h else "none" for h in hit
    ]
    assert got["lat"][hit].tolist() == want["la"][hit].astype(float).tolist()
    assert got["lon"][hit].tolist() == want["lo"][hit].astype(float).tolist()


def _oracle(url: pd.Series, text: pd.Series) -> pd.DataFrame:
    """The geocode_docs oracle SQL (DuckDB, RE2) over the given url/text
    instead of its synthetic documents → (geocode_src, lat, lon)."""
    inp = pd.DataFrame({"doc_id": range(len(url)), "url": url, "txt": text})  # noqa: F841
    rule_table = entry._geocode_docs_oracle().split("), cities(", 1)[1]
    sql = "WITH d AS (SELECT doc_id, url, txt FROM inp), cities(" + rule_table
    return duckdb.sql(sql + " ORDER BY doc_id").df()


def _assert_matches_oracle(url: pd.Series, text: pd.Series) -> None:
    got = textx.geocode(url, text)
    want = _oracle(url, text)
    assert got["geocode_src"].tolist() == want["geocode_src"].tolist()
    for c in ("lat", "lon"):
        g, w = np.round(got[c].to_numpy(), 4), want[c].to_numpy(dtype=float)
        assert np.array_equal(g, w, equal_nan=True), (c, g, w)


@pytest.mark.parametrize(
    "text, src",
    [
        # RE2's \d is ASCII only
        ("observed at \u0664\u0661.8719, 12.5674", "none"),
        # RE2's \b is an ASCII word boundary: é is not a word character
        ("x \u00e9cairo y", "city_text"),
        # lower() maps U+0130 to a plain i, as DuckDB's does
        ("report from \u0130stanbul", "city_text"),
    ],
)
def test_geocode_re2_divergences_match_duckdb(text, src):
    """Inputs on which Python re and RE2 read the shared patterns
    differently: the geocoder gives the DuckDB oracle's answer."""
    url = pd.Series(["https://x.example.com/p"])
    assert textx.geocode(url, pd.Series([text]))["geocode_src"].tolist() == [src]
    _assert_matches_oracle(url, pd.Series([text]))


_SLUGS = [c[0] for c in textx.GAZETTEER]
_SEPS = [" ", "", "  ", "\t", "\n", "\r", "\f", "\v", "\xa0", ", ", "/"]
_NOISE = ["the", "Report", "x", "plat=1.5", "\u00e9", "\u0664\u0661", "\u0130", "-", ".", "?", "chi"]


@st.composite
def _number(draw):
    whole = draw(st.integers(0, 200))
    frac = draw(st.integers(0, 99999))
    places = draw(st.sampled_from([4, 4, 4, 3, 5]))
    sign = draw(st.sampled_from(["", "", "-"]))
    return f"{sign}{whole}.{frac % 10 ** places:0{places}d}"


@st.composite
def _url(draw):
    host = draw(st.sampled_from(["https://www1.example", "http://a.b.example", "https://x"]))
    tld = draw(st.sampled_from([c[0] for c in textx.CCTLD_CENTROIDS[:6]] + ["com", "xy", "io", "DE"]))
    path = draw(st.lists(st.sampled_from(_SLUGS + _NOISE), max_size=3))
    url = f"{host}.{tld}/" + "/".join(path) + draw(st.sampled_from(["", "/", "?", "/p1"]))
    if draw(st.booleans()):
        url += f"?lat={draw(_number())}&lon={draw(_number())}"
    return url


@st.composite
def _text(draw):
    piece = st.one_of(
        st.sampled_from(_NOISE),
        st.sampled_from(_SLUGS).map(lambda s: s.replace("-", " ")),
        st.sampled_from(_SLUGS).map(lambda s: s.replace("-", " ").title()),
        st.builds(lambda a, sep, b: f"{a},{sep}{b}", _number(), st.sampled_from(_SEPS), _number()),
    )
    parts = draw(st.lists(st.tuples(piece, st.sampled_from(_SEPS)), max_size=4))
    return "".join(p + sep for p, sep in parts)


@settings(max_examples=150, deadline=None, derandomize=True)
@given(st.lists(st.tuples(_url(), _text()), min_size=1, max_size=16))
def test_geocode_matches_duckdb_oracle_generated(rows):
    """Generated urls/texts built from gazetteer slugs, coordinate
    phrases, separators and noise: the geocoder equals the oracle SQL
    (the same pattern strings under DuckDB's RE2) row for row."""
    _assert_matches_oracle(pd.Series([u for u, _ in rows]), pd.Series([t for _, t in rows]))


def test_lang_id():
    t = pd.Series(
        [
            "the cat and the dog of the house",
            "der hund und die katze ist nicht da",
            "le chat et les chiens est des",
            "zzzz qqqq",
        ]
    )
    assert textx.lang_id(t).tolist() == ["en", "de", "fr", "und"]


def test_token_counts():
    t = pd.Series(["Hello, world! It's fine.", "", "one"])
    # Hello | , | world | ! | It's | fine | . → 7
    assert textx.token_count(t).tolist() == [7, 0, 1]
    assert textx.whitespace_token_count(t).tolist() == [4, 0, 1]


def test_quality_score_ranges():
    t = pd.Series(["the quick brown fox jumps over the lazy dog " * 10, "!!!"])
    q = textx.quality_score(t)
    assert 0.0 <= q["quality"].iloc[1] < q["quality"].iloc[0] <= 1.0


def test_fingerprint_deterministic_and_shift_robust():
    t = pd.Series(["abcdefghijklmnop", "abcdefghijklmnop", "XXabcdefghijklmnop"])
    fp = textx.rolling_fingerprint(t)
    assert fp.iloc[0] == fp.iloc[1]
    # min-window fingerprint survives a prefix shift when the minimal
    # window is still present
    assert fp.iloc[0] == fp.iloc[2] or fp.iloc[2] != 0


def test_geocode_cctld_tier():
    """Round-4 lowest-priority tier: ccTLD -> country centroid; any
    higher tier wins; unknown/generic tlds stay 'none'."""
    url = pd.Series(
        [
            "https://www1.example.de/artikel/p9",       # cctld fires
            "https://www1.example.de/x/p10",            # city_text beats cctld
            "https://www1.example.com/x/p11",           # generic tld -> none
            "https://www1.example.xy/x/p12",            # unknown 2-letter -> none
            "https://www1.example.jp/news/berlin/p13",  # city_url beats cctld
            "https://a.example.fr/p?lat=10.0000&lon=20.0000",  # qs beats cctld
        ]
    )
    text = pd.Series(
        ["nothing here", "report from tokyo", "nothing here",
         "nothing here", "nothing here", "nothing here"]
    )
    got = textx.geocode(url, text)
    assert got["geocode_src"].tolist() == [
        "cctld", "city_text", "none", "none", "city_url", "latlon_qs",
    ]
    assert got["lat"].iloc[0] == 51.1657 and got["lon"].iloc[0] == 10.4515
    assert got["lat"].iloc[1] == 35.6762  # tokyo, not germany
    assert got["lat"].iloc[4] == 52.5200  # berlin, not japan
