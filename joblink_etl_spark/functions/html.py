"""HTML signal extraction (reference F3/F4/F5/F14, P6).

Pure regex Column expressions — the reference mines HTML with JS
RegExp (apps-scripts/code-LLM-intergration.js:485-502, 968-975);
we use the Java regex engine via regexp_extract/regexp_replace with
(?i)/(?s) flags replacing JS 'i' flags and [\\s\\S] idioms.

The fetch cascade's gates (useful signal, first ATS link) also run on
Python strings inside its UDF: the ``*_py`` twins read the same
pattern constants, compiled by ``predicates.java_regex``.
"""

from __future__ import annotations

import re as _re

from pyspark.sql import Column
from pyspark.sql import functions as F

from .predicates import (
    is_ats_host,
    is_ats_host_py,
    is_generic_title,
    is_generic_title_py,
    java_regex,
    java_trim,
)
from .url import host_from_url, host_from_url_py

TITLE_RE = r"(?is)<title[^>]*>(.*?)</title>"
H1_RE = r"(?is)<h1[^>]*>(.*?)</h1>"
TAG_RE = "<[^>]+>"
WS_RE = r"\s+"
JSONLD_RE = r"(?i)<script[^>]+application/ld\+json"
HREF_RE = """(?i)href=["'](https?://[^"']+)["']"""

_TITLE, _H1, _TAG, _WS, _JSONLD, _HREF = map(
    java_regex, (TITLE_RE, H1_RE, TAG_RE, WS_RE, JSONLD_RE, HREF_RE)
)


def meta_re(key: str, attr: str = "property") -> str:
    """Pattern of the <meta {attr}=key content=...> value."""
    return (
        f"(?i)<meta[^>]+{attr}=[\"']{_re.escape(key)}[\"']"
        f"[^>]*content=[\"']([^\"']+)[\"']"
    )


def _extract(pattern: _re.Pattern, s: str) -> str:
    """regexp_extract(s, pattern, 1): '' when nothing matches."""
    m = pattern.search(s)
    return (m.group(1) or "") if m else ""


def get_meta(html: Column, key: str, attr: str = "property") -> Column:
    """<meta property|name=key content=...> extractor (reference
    getMeta_, code-LLM-intergration.js:485-489)."""
    return F.trim(F.regexp_extract(html, meta_re(key, attr), 1))


def get_title(html: Column) -> Column:
    """<title> text, whitespace-collapsed (reference getTitle_,
    code-LLM-intergration.js:492-495)."""
    return F.trim(F.regexp_replace(F.regexp_extract(html, TITLE_RE, 1), WS_RE, " "))


def get_h1(html: Column) -> Column:
    """First <h1>, inner tags stripped, ws collapsed (reference
    getH1_, code-LLM-intergration.js:498-502)."""
    inner = F.regexp_extract(html, H1_RE, 1)
    return F.trim(F.regexp_replace(F.regexp_replace(inner, TAG_RE, " "), WS_RE, " "))


def text_preview(html: Column, limit: int = 1200) -> Column:
    """Drop scripts/styles/tags, collapse ws, truncate (reference
    textPreview_, code-LLM-intergration.js:968-975)."""
    t = F.regexp_replace(html, r"(?is)<script.*?</script>", " ")
    t = F.regexp_replace(t, r"(?is)<style.*?</style>", " ")
    t = F.regexp_replace(t, TAG_RE, " ")
    t = F.trim(F.regexp_replace(t, WS_RE, " "))
    return F.substring(t, 1, limit)


def has_jsonld(html: Column) -> Column:
    return html.rlike(JSONLD_RE)


def has_useful_signal(html: Column) -> Column:
    """JSON-LD present OR a non-generic h1/og:title/title (reference
    hasUsefulSignal_, code-LLM-intergration.js:321-332)."""
    h1 = get_h1(html)
    og_title = get_meta(html, "og:title", "property")
    title = get_title(html)
    good_title = (
        ((h1 != "") & ~is_generic_title(h1))
        | ((og_title != "") & ~is_generic_title(og_title))
        | ((title != "") & ~is_generic_title(title))
    )
    return F.coalesce((html != "") & (has_jsonld(html) | good_title), F.lit(False))


_OG_TITLE = java_regex(meta_re("og:title", "property"))


def has_useful_signal_py(html: str | None) -> bool:
    """Python twin of has_useful_signal on one page."""
    if not html:
        return False
    if _JSONLD.search(html):
        return True
    h1 = java_trim(_WS.sub(" ", _TAG.sub(" ", _extract(_H1, html))))
    og_title = java_trim(_extract(_OG_TITLE, html))
    title = java_trim(_WS.sub(" ", _extract(_TITLE, html)))
    # '' is generic (length <= 2), so no separate emptiness test
    return not all(map(is_generic_title_py, (h1, og_title, title)))


def first_ats_link(html: Column) -> Column:
    """First <a href> whose host is a known ATS (reference
    findFirstAtsLinkIn_, :421-428); NULL when there is none."""
    hrefs = F.regexp_extract_all(html, F.lit(HREF_RE), 1)
    ats = F.filter(hrefs, lambda u: is_ats_host(host_from_url(u)))
    # try_element_at: ANSI mode makes element_at throw on empty arrays
    return F.try_element_at(ats, F.lit(1))


def first_ats_link_py(html: str) -> str | None:
    """Python twin of first_ats_link on one page."""
    return next(
        (u for u in _HREF.findall(html) if is_ats_host_py(host_from_url_py(u))), None
    )
