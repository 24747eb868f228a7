"""Deterministic text kernels: html→text extraction, rule-based geocoding,
language id, quality scoring, token counting, fingerprinting.

The kernels work on whole batches, never per-row Python loops in the
hot path.  The geocoder is Arrow-native (``geocode_arrow``: pyarrow
compute, RE2 regexes); the others operate on pandas Series (Arrow
batches inside pandas UDFs), with regex work in pandas' C string
machinery.

* ``extract_text`` is the byte-identical-per-url invariant of
  BASELINE.json's ``input_hint``: a frozen, deterministic pipeline
  (strip comments/script/style → drop tags → decode entities →
  normalize whitespace).  Any change to it invalidates goldens:
  regenerate them.
* ``geocode_arrow`` mirrors the reference's "filename parsing is the
  schema inference" idea (`gips/data/core.py :: Asset.__init__`,
  SURVEY.md §2.8 X1): coordinates are recovered from the url/text with
  an ordered rule table.  Rules are frozen code constants (no external
  data):
    1. url query string ``lat=<f>&lon=<f>``        → src 'latlon_qs'
    2. text coordinate phrase ``"<f>, <f>"``        → src 'coord_text'
    3. url path city slug from embedded gazetteer   → src 'city_url'
    4. city name in text from embedded gazetteer    → src 'city_text'
    5. url ccTLD from the embedded centroid table   → src 'cctld'
    6. nothing                                      → src 'none' (excluded
       from spatial ops downstream, per FIXTURES.md)
  Its regexes run under RE2, as the DuckDB oracle's do, on the same
  pattern strings, so the geocoder agrees with the oracle by
  construction.  ``geocode`` is its pandas adapter.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

# --------------------------------------------------------------- gazetteer
# ~48 major cities (public coordinates, 4-decimal precision). The first 12
# are the fixture hotspot cities (FIXTURES.md: K=12 urban hotspot disks).
GAZETTEER: list[tuple[str, float, float]] = [
    ("tokyo", 35.6762, 139.6503),
    ("new-york", 40.7128, -74.0060),
    ("london", 51.5074, -0.1278),
    ("sao-paulo", -23.5505, -46.6333),
    ("paris", 48.8566, 2.3522),
    ("berlin", 52.5200, 13.4050),
    ("moscow", 55.7558, 37.6173),
    ("seoul", 37.5665, 126.9780),
    ("sydney", -33.8688, 151.2093),
    ("mumbai", 19.0760, 72.8777),
    ("lagos", 6.5244, 3.3792),
    ("mexico-city", 19.4326, -99.1332),
    ("delhi", 28.7041, 77.1025),
    ("shanghai", 31.2304, 121.4737),
    ("cairo", 30.0444, 31.2357),
    ("beijing", 39.9042, 116.4074),
    ("dhaka", 23.8103, 90.4125),
    ("osaka", 34.6937, 135.5023),
    ("karachi", 24.8607, 67.0011),
    ("buenos-aires", -34.6037, -58.3816),
    ("chongqing", 29.4316, 106.9123),
    ("istanbul", 41.0082, 28.9784),
    ("kolkata", 22.5726, 88.3639),
    ("manila", 14.5995, 120.9842),
    ("rio-de-janeiro", -22.9068, -43.1729),
    ("tianjin", 39.3434, 117.3616),
    ("kinshasa", -4.4419, 15.2663),
    ("guangzhou", 23.1291, 113.2644),
    ("los-angeles", 34.0522, -118.2437),
    ("shenzhen", 22.5431, 114.0579),
    ("lahore", 31.5204, 74.3587),
    ("bangalore", 12.9716, 77.5946),
    ("bogota", 4.7110, -74.0721),
    ("jakarta", -6.2088, 106.8456),
    ("chennai", 13.0827, 80.2707),
    ("lima", -12.0464, -77.0428),
    ("bangkok", 13.7563, 100.5018),
    ("nagoya", 35.1815, 136.9066),
    ("hyderabad", 17.3850, 78.4867),
    ("tehran", 35.6892, 51.3890),
    ("chicago", 41.8781, -87.6298),
    ("chengdu", 30.5728, 104.0668),
    ("ho-chi-minh-city", 10.8231, 106.6297),
    ("johannesburg", -26.2041, 28.0473),
    ("madrid", 40.4168, -3.7038),
    ("toronto", 43.6532, -79.3832),
    ("singapore", 1.3521, 103.8198),
    ("rome", 41.9028, 12.4964),
]
HOTSPOT_CITIES = GAZETTEER[:12]

# ccTLD → country centroid (public coordinates, frozen constants) — the
# LOWEST-priority geocoder tier (SURVEY §7.2 item 7: "ccTLD table"): a
# `example.de/artikel` page with no city mention or coordinates geocodes
# to the country centroid with src='cctld' instead of 'none'.  Generic
# TLDs (.com/.org/.net) and generic-USE ccTLDs (.io) are deliberately
# absent.  Covers the fixture ccTLDs (de fr jp br us au) + the most
# common Common-Crawl country domains.
CCTLD_CENTROIDS: list[tuple[str, float, float]] = [
    ("de", 51.1657, 10.4515),
    ("fr", 46.2276, 2.2137),
    ("jp", 36.2048, 138.2529),
    ("br", -14.2350, -51.9253),
    ("us", 37.0902, -95.7129),
    ("au", -25.2744, 133.7751),
    ("uk", 55.3781, -3.4360),
    ("cn", 35.8617, 104.1954),
    ("in", 20.5937, 78.9629),
    ("ru", 61.5240, 105.3188),
    ("ca", 56.1304, -106.3468),
    ("es", 40.4637, -3.7492),
    ("it", 41.8719, 12.5674),
    ("nl", 52.1326, 5.2913),
    ("pl", 51.9194, 19.1451),
    ("mx", 23.6345, -102.5528),
    ("za", -30.5595, 22.9375),
    ("kr", 35.9078, 127.7669),
    ("ar", -38.4161, -63.6167),
    ("tr", 38.9637, 35.2433),
]

# slug alternation, longest-first so 'ho-chi-minh-city' beats 'chi'
_SLUGS_BY_LEN = sorted((c[0] for c in GAZETTEER), key=len, reverse=True)
#: shared pattern SOURCES: the DuckDB oracle SQL (__spark_entry__.py ::
#: _geocode_docs_oracle) runs these same strings under RE2, and so does
#: `geocode_arrow` (pyarrow's extract_regex is RE2), so the two agree by
#: construction: \s is [\t\n\f\r ], \d is [0-9] and \b is an ASCII word
#: boundary in both.  Changing a string here changes the oracle too.
URL_CITY_PATTERN = r"/(" + "|".join(_SLUGS_BY_LEN) + r")(?:/|$|\?)"
TEXT_CITY_PATTERN = (
    r"\b(" + "|".join(s.replace("-", " ") for s in _SLUGS_BY_LEN) + r")\b"
)
QS_LATLON_PATTERN = r"[?&]lat=(-?\d+\.\d+)&lon=(-?\d+\.\d+)"
TEXT_COORD_PATTERN = r"(-?\d{1,2}\.\d{4}),\s(-?\d{1,3}\.\d{4})"
#: last hostname label when it is a 2-letter tld
CCTLD_PATTERN = r"^https?://[^/?#]+\.([a-z]{2})(?:[/?#]|$)"


def _named(pattern: str, *names: str) -> str:
    """`pattern` with its capturing groups named in order (extract_regex
    returns named groups only); the matching is the pattern's own."""
    parts = re.split(r"(?<!\\)\((?!\?)", pattern)
    if len(parts) != len(names) + 1:
        raise ValueError(f"{pattern!r} has {len(parts) - 1} groups, not {len(names)}")
    return "".join(p + f"(?P<{n}>" for p, n in zip(parts, names)) + parts[-1]


_URL_CITY_RX = _named(URL_CITY_PATTERN, "key")
_TEXT_CITY_RX = _named(TEXT_CITY_PATTERN, "key")
_QS_LATLON_RX = _named(QS_LATLON_PATTERN, "lat", "lon")
_TEXT_COORD_RX = _named(TEXT_COORD_PATTERN, "lat", "lon")
_CCTLD_RX = _named(CCTLD_PATTERN, "key")

#: lookup tables as constant arrays: index_in over the keys, then take
_CITY_KEYS = pa.array([c[0] for c in GAZETTEER])
_CITY_LATLON = np.array([c[1:] for c in GAZETTEER], dtype=np.float64)
_CC_KEYS = pa.array([c[0] for c in CCTLD_CENTROIDS])
_CC_LATLON = np.array([c[1:] for c in CCTLD_CENTROIDS], dtype=np.float64)
#: geocode_src labels, indexed by rule (0 = unresolved)
_SRC_LABELS = pa.array(["none", "latlon_qs", "coord_text", "city_url", "city_text", "cctld"])

# ------------------------------------------------------------- extraction

_COMMENT_RE = re.compile(r"<!--.*?-->", re.DOTALL)
_SCRIPT_STYLE_RE = re.compile(
    r"<(script|style)\b[^>]*>.*?</\1\s*>", re.DOTALL | re.IGNORECASE
)
_TAG_RE = re.compile(r"<[^>]+>")
_WS_RE = re.compile(r"\s+")
_ENTITIES = {
    "&amp;": "&",
    "&lt;": "<",
    "&gt;": ">",
    "&quot;": '"',
    "&#39;": "'",
    "&nbsp;": " ",
}
_NUM_ENTITY_RE = re.compile(r"&#(\d+);")


def extract_text(html: pd.Series) -> pd.Series:
    """FROZEN deterministic html→text (byte-identical per url invariant).

    Accepts a Series of bytes or str, nulls allowed (→ ""); returns str.
    Pipeline order is part of the contract: comments → script/style →
    tags → entities → whitespace-normalize → strip.
    """
    s = html
    first = s.first_valid_index()
    if first is not None and isinstance(s[first], (bytes, bytearray)):
        s = s.map(lambda b: b.decode("utf-8", errors="replace"), na_action="ignore")
    s = s.astype("string").fillna("")
    s = s.str.replace(_COMMENT_RE, " ", regex=True)
    s = s.str.replace(_SCRIPT_STYLE_RE, " ", regex=True)
    s = s.str.replace(_TAG_RE, " ", regex=True)
    for ent, ch in _ENTITIES.items():
        s = s.str.replace(ent, ch, regex=False)
    s = s.str.replace(_NUM_ENTITY_RE, lambda m: chr(int(m.group(1))), regex=True)
    s = s.str.replace(_WS_RE, " ", regex=True).str.strip()
    return s.astype(object).fillna("")


# --------------------------------------------------------------- geocoder


def _groups(sub: pa.Array, rows: np.ndarray, rx: str):
    """First RE2 match of `rx` in `sub`, the rows `rows` of a column →
    (the rows that matched, their named groups).  Non-matches are
    filtered out before a group is read: StructArray.field ignores the
    struct's own validity, so a non-match would read as ''."""
    m = pc.extract_regex(sub, rx)
    hit = m.is_valid()
    return rows[hit.to_numpy(zero_copy_only=False)], m.filter(hit)


def geocode_arrow(url: pa.Array, text: pa.Array) -> pa.StructArray:
    """Ordered-rule geocoder on Arrow string arrays → StructArray(lat,
    lon, geocode_src); unresolved rows get null lat/lon and 'none'.

    Rules run highest priority first, each on the rows still unresolved
    only, so a row that matches a higher rule never pays the lower
    rules' regexes.  The two coordinate rules first keep the rows that
    hold a literal their regex requires ("lat=" / ",").  A match with
    out-of-range coordinates stays unresolved and falls through to the
    lower rules.  Null url/text never match.
    """
    n = len(url)
    latlon = np.full((n, 2), np.nan)
    src = np.zeros(n, dtype=np.int8)
    todo = np.ones(n, dtype=bool)

    def settle(rows, ll, rule):
        latlon[rows] = ll
        src[rows] = rule
        todo[rows] = False

    def coords(col, literal, rx, rule):
        has = pc.fill_null(pc.match_substring(col, literal), False)
        rows = np.flatnonzero(todo & has.to_numpy(zero_copy_only=False))
        rows, g = _groups(col.take(rows), rows, rx)
        ll = np.column_stack([pc.cast(g.field(k), pa.float64()).to_numpy() for k in ("lat", "lon")])
        ok = (np.abs(ll[:, 0]) <= 90.0) & (np.abs(ll[:, 1]) <= 180.0)
        settle(rows[ok], ll[ok], rule)

    def lookup(rows, keys, table, rule):
        i = pc.index_in(keys, value_set=table[0])
        ok = i.is_valid().to_numpy(zero_copy_only=False)
        settle(rows[ok], table[1][pc.fill_null(i, 0).to_numpy()[ok]], rule)

    cities = (_CITY_KEYS, _CITY_LATLON)
    # rules 1-2: lat/lon query-string params in the url; a coordinate
    # phrase in the text (the "," may be followed by any \s)
    coords(url, "lat=", _QS_LATLON_RX, 1)
    coords(text, ",", _TEXT_COORD_RX, 2)
    # rule 3: city slug in the url path
    rows = np.flatnonzero(todo)
    rows, g = _groups(url.take(rows), rows, _URL_CITY_RX)
    lookup(rows, g.field("key"), cities, 3)
    # rule 4: city name in the lowered text ("sao paulo" → "sao-paulo")
    rows = np.flatnonzero(todo)
    rows, g = _groups(pc.utf8_lower(text.take(rows)), rows, _TEXT_CITY_RX)
    lookup(rows, pc.replace_substring(g.field("key"), " ", "-"), cities, 4)
    # rule 5 (lowest): ccTLD → country centroid, known codes only
    rows = np.flatnonzero(todo)
    rows, g = _groups(url.take(rows), rows, _CCTLD_RX)
    lookup(rows, g.field("key"), (_CC_KEYS, _CC_LATLON), 5)

    return pa.StructArray.from_arrays(
        [
            pa.array(latlon[:, 0], mask=todo),
            pa.array(latlon[:, 1], mask=todo),
            _SRC_LABELS.take(pa.array(src)),
        ],
        names=["lat", "lon", "geocode_src"],
    )


def geocode(url: pd.Series, text: pd.Series) -> pd.DataFrame:
    """pandas adapter over `geocode_arrow` → DataFrame(lat, lon,
    geocode_src), NaN lat/lon where unresolved; the index is reset."""
    geo = geocode_arrow(_utf8(url), _utf8(text))
    return pd.DataFrame(
        {k: geo.field(k).to_numpy(zero_copy_only=False) for k in ("lat", "lon", "geocode_src")}
    )


def _utf8(s: pd.Series) -> pa.Array:
    return pa.array(s, type=pa.string(), from_pandas=True)


# ----------------------------------------------- text-analysis kernels

# tiny per-language stopword sets (n-gram heuristic seed, frozen constants)
_LANG_MARKERS = {
    "en": (" the ", " and ", " of ", " to ", " in "),
    "de": (" der ", " und ", " die ", " ist ", " nicht "),
    "fr": (" le ", " et ", " les ", " des ", " est "),
    "es": (" el ", " los ", " que ", " por ", " una "),
    "pt": (" o ", " em ", " uma ", " não ", " para "),
    "ru": (" и ", " в ", " не ", " что ", " это "),
    "ja": ("の", "に", "は", "を", "です"),
    "zh": ("的", "是", "在", "了", "我"),
}


def lang_id(text: pd.Series) -> pd.Series:
    """Marker-count language id (deterministic heuristic; ties → 'en'-first
    fixed language order)."""
    t = (" " + text.astype("string").fillna("") + " ").str.lower()
    best_lang = pd.Series(["und"] * len(t), dtype=object)
    best_score = np.zeros(len(t), dtype=np.int64)
    for lang, markers in _LANG_MARKERS.items():
        score = np.zeros(len(t), dtype=np.int64)
        for mk in markers:
            score += t.str.count(re.escape(mk)).to_numpy(dtype=np.int64)
        better = score > best_score
        best_score = np.where(better, score, best_score)
        best_lang = best_lang.where(~better, lang)
    return best_lang.where(best_score > 0, "und")


_TOKEN_RE = re.compile(r"[A-Za-z0-9]+(?:'[a-z]+)?|[^\sA-Za-z0-9]")


def token_count(text: pd.Series) -> pd.Series:
    """BPE-ish token count: word pieces + punctuation marks."""
    return text.astype("string").fillna("").str.count(_TOKEN_RE).astype("int64")


def whitespace_token_count(text: pd.Series) -> pd.Series:
    t = text.astype("string").fillna("").str.strip()
    n = t.str.count(r"\s+").astype("int64") + 1
    return n.where(t.str.len() > 0, 0)


def quality_score(text: pd.Series) -> pd.DataFrame:
    """Length/punctuation/stopword-ratio quality features + [0,1] score."""
    t = text.astype("string").fillna("")
    n_chars = t.str.len().astype("int64")
    n_tokens = whitespace_token_count(t)
    n_punct = t.str.count(r"[^\w\s]").astype("int64")
    n_stop = np.zeros(len(t), dtype=np.int64)
    low = " " + t.str.lower() + " "
    for mk in _LANG_MARKERS["en"]:
        n_stop += low.str.count(re.escape(mk)).to_numpy(dtype=np.int64)
    with np.errstate(divide="ignore", invalid="ignore"):
        punct_ratio = np.where(n_chars > 0, n_punct / n_chars.to_numpy(), 0.0)
        stop_ratio = np.where(n_tokens > 0, n_stop / n_tokens.to_numpy(), 0.0)
        mean_tok_len = np.where(
            n_tokens > 0, n_chars.to_numpy() / n_tokens.to_numpy(), 0.0
        )
    score = (
        np.clip(n_tokens.to_numpy() / 100.0, 0, 1) * 0.4
        + np.clip(stop_ratio * 10.0, 0, 1) * 0.3
        + np.clip(1.0 - punct_ratio * 5.0, 0, 1) * 0.3
    )
    return pd.DataFrame(
        {
            "n_chars": n_chars.to_numpy(dtype=np.int64),
            "n_tokens": n_tokens.to_numpy(dtype=np.int64),
            "punct_ratio": punct_ratio,
            "stop_ratio": stop_ratio,
            "mean_tok_len": mean_tok_len,
            "quality": score,
        }
    )


# --------------------------------------------------------- fingerprints

_FNV_OFFSET = np.uint64(0xCBF29CE484222325)
_FNV_PRIME = np.uint64(0x100000001B3)


def fnv1a_u64(data: bytes) -> int:
    """Scalar FNV-1a 64-bit (frozen constant hash — no Python hash())."""
    h = 0xCBF29CE484222325
    for b in data:
        h ^= b
        h = (h * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h


def rolling_fingerprint(text: pd.Series, window: int = 8) -> pd.Series:
    """Document fingerprint: min FNV-1a over rolling byte windows
    (winnowing-style robust fingerprint; deterministic int64)."""
    out = np.zeros(len(text), dtype=np.uint64)
    vals = text.astype("string").fillna("").to_numpy()
    for idx, s in enumerate(vals):
        b = s.encode("utf-8")
        if len(b) <= window:
            out[idx] = fnv1a_u64(b)
            continue
        arr = np.frombuffer(b, dtype=np.uint8)
        n = len(arr) - window + 1
        h = np.full(n, _FNV_OFFSET, dtype=np.uint64)
        for k in range(window):
            h ^= arr[k : k + n].astype(np.uint64)
            h *= _FNV_PRIME
        out[idx] = h.min()
    return pd.Series(out.view(np.int64))
