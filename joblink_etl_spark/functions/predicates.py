"""Boolean predicates (reference P1, P3-P6).

Host-class regexes reproduced verbatim from
apps-scripts/code-LLM-intergration.js:281-294; generic-title stoplist
from :301-313.

Each pattern is one constant read by two spellings: the Column
predicate (Java regex, JVM-side) and a ``*_py`` twin on Python
strings, which the fetch cascade's gates run inside its UDF.
``java_regex`` compiles a constant for Python with Java's default
semantics (ASCII ``\\s``/``\\d``, ASCII-only ``(?i)``); ``rlike`` is
a search, so the twins call ``.search``, never ``.match``.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# reference isAtsHost_ (code-LLM-intergration.js:281-284)
ATS_HOST_RE = (
    r"(?i)(lever\.co|ashbyhq\.com|job-boards\.greenhouse\.io|boards\.greenhouse\.io"
    r"|myworkdayjobs\.com|workdayjobs\.com|smartrecruiters\.com|jobvite\.com"
    r"|apply\.workable\.com|ats\.rippling\.com|recruiting(?:2)?\.ultipro\.com"
    r"|icims\.com|oraclecloud\.com|brassring\.com|paylocity\.com)"
)

# reference isAggregatorHost_ (code-LLM-intergration.js:291-294)
AGGREGATOR_HOST_RE = (
    r"(?i)(jobright\.ai|allup\.world|ycombinator\.com|linkedin\.com|indeed\.com"
    r"|glassdoor\.com|levels\.fyi|builtin\.(?:com|nyc|chicago|sf)|wellfound\.com"
    r"|angel\.co|dice\.com|monster\.com|ziprecruiter\.com)"
)

# reference isGenericTitle_ stoplist (code-LLM-intergration.js:301-313);
# matched as case-insensitive substrings, so one alternation suffices.
GENERIC_TITLE_PHRASES = [
    "job details", "job detail", "careers", "career portal",
    "choose your sign in option", "sign in", "signin", "login", "log in",
    "home", "open positions", "all jobs", "search results", "job search",
    "apply now", "opportunities", "join our team",
]
GENERIC_TITLE_RE = "(" + "|".join(GENERIC_TITLE_PHRASES) + ")"


def java_regex(pattern: str) -> re.Pattern:
    """A Java-regex pattern constant compiled for Python strings."""
    return re.compile(pattern, re.ASCII)


def java_trim(s: str) -> str:
    """Spark ``trim``: strips ASCII spaces only (tabs and newlines stay)."""
    return s.strip(" ")


_ATS_HOST = java_regex(ATS_HOST_RE)
_AGGREGATOR_HOST = java_regex(AGGREGATOR_HOST_RE)
_GENERIC_TITLE = java_regex(GENERIC_TITLE_RE)


def is_valid_url(u: Column) -> Column:
    """reference P1 (code-LLM-intergration.js:182)."""
    return u.rlike("^https?://")


def is_ats_host(host: Column) -> Column:
    return host.rlike(ATS_HOST_RE)


def is_ats_host_py(host: str) -> bool:
    return _ATS_HOST.search(host) is not None


def is_aggregator_host(host: Column) -> Column:
    return host.rlike(AGGREGATOR_HOST_RE)


def is_aggregator_host_py(host: str) -> bool:
    return _AGGREGATOR_HOST.search(host) is not None


def is_generic_title(s: Column) -> Column:
    """True for boilerplate titles, empty, or length<=2 (reference
    isGenericTitle_, code-LLM-intergration.js:301-313)."""
    t = F.lower(F.trim(F.coalesce(s, F.lit(""))))
    return (F.length(t) <= 2) | t.rlike(GENERIC_TITLE_RE)


def is_generic_title_py(s: str | None) -> bool:
    t = java_trim(s or "").lower()
    return len(t) <= 2 or _GENERIC_TITLE.search(t) is not None
