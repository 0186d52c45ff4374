"""Text-analysis operators for training-data pipelines (built-ins only).

Everything here compiles to JVM expressions (regexp_count /
regexp_replace / md5) — no Python in the hot path — and each has an
exact ANSI-SQL twin in the DuckDB oracle (plans/queries.py). The
language-ID heuristic mirrors extractor/textproc.detect_lang but is
expressed relationally so it runs inside whole-stage codegen at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Small pinned stopword signatures per language (subset of
# extractor/textproc._STOPWORDS chosen to be regex-friendly + identical in
# the DuckDB oracle SQL).
LANG_PATTERNS = {
    "de": r"\b(der|die|das|und|ist|nicht|mit|von|ein|eine)\b",
    "fr": r"\b(le|la|les|et|est|une|pas|avec|dans|pour)\b",
    "it": r"\b(il|la|le|che|è|una|non|con|di|per)\b",
    "en": r"\b(the|and|is|not|with|of|to|in|for|that)\b",
}
_LANG_ORDER = ("de", "fr", "it", "en")


def langid(df: DataFrame, text_col: str) -> DataFrame:
    """Relational language ID: argmax of per-language stopword hits.

    Ties resolve in fixed order de > fr > it > en; zero hits → 'und'.
    """
    t = F.lower(F.col(text_col))
    hits = {lang: F.regexp_count(t, F.lit(pat))
            for lang, pat in LANG_PATTERNS.items()}
    best = F.greatest(*[hits[lang] for lang in _LANG_ORDER])
    expr = F.when(best == 0, F.lit("und"))
    for lang in _LANG_ORDER:
        expr = expr.when(hits[lang] == best, F.lit(lang))
    out = df.withColumn("lang_pred", expr)
    for lang in _LANG_ORDER:
        out = out.withColumn(f"hits_{lang}", hits[lang].cast("int"))
    return out


def canonicalize_url(col):
    """Canonical URL form for crawl dedup / host accounting, built-ins
    only (6 regexp passes, codegen'd, shuffle-free):

    1. lowercase the scheme://host[:port] prefix (path/query case kept —
       paths are case-sensitive on most servers)
    2. drop the fragment
    3. drop default ports (https :443, http :80)
    4. drop tracking params (utm_*, gclid, fbclid), then normalize the
       separators the removal leaves behind
    5. drop the trailing path slash (before end or before '?')

    Deliberately NOT done: query-param reordering (needs a tokenize +
    sort — a higher-order split/array_sort if ever required) and
    IDN/percent-encoding normalization. Every regex is RE2-compatible
    (no lookaheads/backrefs in patterns), so the DuckDB oracle applies
    the identical passes; only the replacement-ref syntax differs
    ($1 Java / \\1 RE2)."""
    u = F.concat(
        F.lower(F.regexp_extract(col, r"^([a-zA-Z]+://[^/?#]*)", 1)),
        F.regexp_replace(col, r"^[a-zA-Z]+://[^/?#]*", ""))
    u = F.regexp_replace(u, r"#.*$", "")
    # default ports must be RIGHT-ANCHORED on a path/query boundary or
    # end-of-string, else ':80' eats the first digits of ':8080'
    u = F.regexp_replace(u, r"^(https://[^/:?#]*):443([/?]|$)", r"$1$2")
    u = F.regexp_replace(u, r"^(http://[^/:?#]*):80([/?]|$)", r"$1$2")
    # tracking params must be LEFT-ANCHORED on a separator, else the
    # pattern fires inside longer names ('my_gclid=') or values ('=gclid=')
    u = F.regexp_replace(
        u, r"([?&])(utm_[a-zA-Z]+|gclid|fbclid)=[^&#]*", r"$1")
    u = F.regexp_replace(u, r"&&+", "&")
    u = F.regexp_replace(u, r"\?&", "?")
    u = F.regexp_replace(u, r"[?&]+$", "")
    u = F.regexp_replace(u, r"/+\?", "?")
    u = F.regexp_replace(u, r"([^/])/$", r"$1")
    return u


def url_host(col):
    """Registered host of a (canonicalized) url — the crawl-politeness /
    skew-accounting grouping key."""
    return F.regexp_extract(col, r"^[a-zA-Z]+://([^/:?#]*)", 1)


__all__ = ["langid", "canonicalize_url", "url_host", "LANG_PATTERNS"]
