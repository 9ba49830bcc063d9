"""URL scalar functions (reference F1/F2/F8/F9).

All pure Column expressions — JVM-side, whole-stage-codegen friendly,
no Python in the hot path. Reference semantics from
apps-scripts/code-LLM-intergration.js (cited per function).
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from .predicates import java_regex

# The 14 tracking params stripped by canonicalization
# (reference code-LLM-intergration.js:615). Deletion is
# case-sensitive, matching JS URLSearchParams.delete.
TRACKING_PARAMS = [
    "utm_source", "utm_medium", "utm_campaign", "utm_term", "utm_content",
    "gh_src", "src", "source", "vq_campaign", "vq_source",
    "__jvst", "__jvsd", "codes", "gh_jid",
]


WWW_PREFIX_RE = r"^www\."
_WWW_PREFIX = java_regex(WWW_PREFIX_RE)


def host_from_url(u: Column) -> Column:
    """Hostname, lowercased, leading 'www.' stripped; '' when the URL
    doesn't parse (reference hostFromUrl_, code-LLM-intergration.js:124-127).
    """
    # try_parse_url: Spark 4 runs ANSI mode, where parse_url raises on
    # malformed input; the reference returns '' there (JS catch).
    host = F.lower(F.try_parse_url(u, F.lit("HOST")))
    return F.coalesce(F.regexp_replace(host, WWW_PREFIX_RE, ""), F.lit(""))


# java.net.URI (RFC 2396), which parse_url parses with, as far as its
# getHost() reaches. "Other" characters are the non-ASCII ones that are
# neither ISO controls nor Unicode space separators; a '%' anywhere
# must start a %hh escape.
_OTHER = "\u00a1-\u167f\u1681-\u1fff\u200b-\u2027\u202a-\u202e\u2030-\u205e\u2060-\u2fff\u3001-\U0010ffff"
_UNRESERVED = "A-Za-z0-9\\-_.!~*'()%" + _OTHER
_URI = re.compile(r"(?:([^/?#:]*):)?//([^/?#]*)([^?#]*)(?:\?([^#]*))?(?:#(.*))?", re.S)
_BAD_ESCAPE = re.compile(r"%(?![0-9A-Fa-f]{2})")
_SCHEME = re.compile(r"[A-Za-z][A-Za-z0-9+.\-]*")
_PATH = re.compile(f"[{_UNRESERVED}:@&=+$,;/]*")
_URIC = re.compile(f"[{_UNRESERVED};/?:@&=+$,\\[\\]]*")
_USERINFO = re.compile(f"[{_UNRESERVED};:&=+$,]*")
_LABEL = "[A-Za-z0-9](?:[A-Za-z0-9-]*[A-Za-z0-9])?"
_IPV4 = re.compile(r"([0-9]+)\.([0-9]+)\.([0-9]+)\.([0-9]+)(?=$|:)")
_HOSTNAME = re.compile(f"(?:{_LABEL}\\.)*({_LABEL})\\.?(?=$|:)")
_IPV6 = re.compile(r"\[[0-9A-Fa-f:.]+(?:%[^\]]+)?\]")
_PORT = re.compile(r"(?::([0-9]*))?$")


def _java_uri_host(u: str) -> str | None:
    """``new java.net.URI(u).getHost()``: None where the URI has no
    server-based authority or does not parse. IPv6 literals are checked
    for their characters only."""
    m = _URI.fullmatch(u)
    if not m or _BAD_ESCAPE.search(u):
        return None
    scheme, auth, path, query, frag = m.groups(default="")
    if m.group(1) is not None and not _SCHEME.fullmatch(scheme):
        return None
    if not (_PATH.fullmatch(path) and _URIC.fullmatch(query) and _URIC.fullmatch(frag)):
        return None
    # authority: [userinfo@]host[:port], userinfo up to the first '@'
    user, at, hostport = auth.partition("@")
    if not at:
        hostport = auth
    elif not _USERINFO.fullmatch(user):
        return None
    if hostport.startswith("["):
        h = _IPV6.match(hostport)
    else:
        h = _IPV4.match(hostport)
        if not (h and all(int(b) <= 255 for b in h.groups())):
            h = _HOSTNAME.match(hostport)
            # a dotted name's last label must start with a letter
            if h and h.start(1) > 0 and not h.group(1)[0].isalpha():
                return None
    port = h and _PORT.match(hostport, h.end())
    if not port or int(port.group(1) or 0) > 2**31 - 1:
        return None
    return hostport[: h.end()]


def host_from_url_py(u: str) -> str:
    """Python twin of host_from_url on one string."""
    host = _java_uri_host(u)
    return _WWW_PREFIX.sub("", host.lower()) if host else ""


def make_canonical(u: Column) -> Column:
    """Strip the 14 tracking params, preserve everything else
    (reference makeCanonical_, code-LLM-intergration.js:612-619).

    Implemented as base/query/fragment re-assembly with a
    higher-order filter over the split query string — exact param
    semantics matter because canonical URLs are the dedup key.
    Deviation from JS URL.toString(): no percent-encoding or
    host-case normalization of the non-query parts (we treat the
    input as already well-formed; dedup only needs determinism).
    """
    base = F.regexp_extract(u, r"^([^?#]*)", 1)
    query = F.regexp_extract(u, r"\?([^#]*)", 1)
    frag = F.regexp_extract(u, r"(#.*)$", 1)
    kept = F.filter(
        F.split(query, "&"),
        lambda p: (p != "")
        & ~F.split_part(p, F.lit("="), F.lit(1)).isin(TRACKING_PARAMS),
    )
    qs = F.array_join(kept, "&")
    return F.concat(
        base,
        F.when(qs != "", F.concat(F.lit("?"), qs)).otherwise(F.lit("")),
        frag,
    )


def nice_case(slug: Column) -> Column:
    """Slug 'acme-corp' → 'Acme Corp' (reference niceCase_,
    code-LLM-intergration.js:542). Uses initcap — identical for the
    lowercase slugs this ever receives (guessCompanyFromUrl_
    lowercases its input first); differs from JS only for mixed-case
    input, which cannot occur on that path.
    """
    return F.initcap(
        F.trim(F.regexp_replace(F.regexp_replace(slug, "[-_]+", " "), r"\s+", " "))
    )


# ATS URL → company-slug patterns, in reference priority order
# (guessCompanyFromUrl_, code-LLM-intergration.js:551-564). Applied to
# the LOWERCASED url, exactly as the reference does — which makes the
# final paylocity pattern (case-sensitive '/Details/') unreachable
# there too; kept for line-by-line parity.
ATS_SLUG_PATTERNS = [
    r"(?:job-boards|boards)\.greenhouse\.io/([^/?#]+)/jobs/",
    r"jobs\.lever\.co/([^/?#]+)/",
    r"jobs\.ashbyhq\.com/([^/?#]+)/",
    r"apply\.workable\.com/([^/?#]+)/",
    r"jobs\.smartrecruiters\.com/([^/?#]+)/",
    r"jobs\.jobvite\.com/([^/?#]+)/",
    r"ats\.rippling\.com/([^/?#]+)/",
    r"myworkdayjobs\.com/(?:[a-z-]+/)?([^/?#]+)/",
    r"workdayjobs\.com/(?:[a-z-]+/)?([^/?#]+)/",
    r"recruiting\.paylocity\.com/.*/Details/\d+/([^/?#]+)",
]


def guess_company_from_url(u: Column) -> Column:
    """First-matching ATS pattern → nice-cased slug, else ''
    (reference guessCompanyFromUrl_, code-LLM-intergration.js:551-564).
    coalesce() preserves the short-circuit priority order.
    """
    lu = F.lower(u)
    candidates = [
        F.nullif(F.regexp_extract(lu, p, 1), F.lit("")) for p in ATS_SLUG_PATTERNS
    ]
    return F.coalesce(nice_case(F.coalesce(*candidates, F.lit(""))), F.lit(""))
