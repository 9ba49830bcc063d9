"""Boolean predicates (reference P1, P3-P6).

Host-class regexes reproduced verbatim from
apps-scripts/code-LLM-intergration.js:281-294; generic-title stoplist
from :301-313.
"""

from __future__ import annotations

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


def is_valid_url(u: Column) -> Column:
    """reference P1 (code-LLM-intergration.js:182)."""
    return u.rlike("^https?://")


def is_ats_host(host: Column) -> Column:
    return host.rlike(ATS_HOST_RE)


def is_aggregator_host(host: Column) -> Column:
    return host.rlike(AGGREGATOR_HOST_RE)


def is_generic_title(s: Column) -> Column:
    """True for boilerplate titles, empty, or length<=2 (reference
    isGenericTitle_, code-LLM-intergration.js:301-313)."""
    t = F.lower(F.trim(F.coalesce(s, F.lit(""))))
    return (F.length(t) <= 2) | t.rlike(GENERIC_TITLE_RE)
