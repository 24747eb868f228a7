"""Text kernel tests: extraction byte-exactness, geocoder rules, analysis."""

import pandas as pd

from gips_spark.functions import textx


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
    once dropped the tab/newline phrases."""
    import duckdb

    seps = [" ", "\t", "\n", "\r", "\f", "", "  "]
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
    assert hit.tolist() == [True] * 5 + [False, False]
    assert got["geocode_src"].tolist() == [
        "coord_text" if h else "none" for h in hit
    ]
    assert got["lat"][hit].tolist() == want["la"][hit].astype(float).tolist()
    assert got["lon"][hit].tolist() == want["lo"][hit].astype(float).tolist()


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
