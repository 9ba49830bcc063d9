"""Tiered fetch cascade (SURVEY.md §2.9; reference fetchSmartFree_,
apps-scripts/code-LLM-intergration.js:439-480).

The reference branches per row (API → direct → renderer → aggregator
unwrap → last resort), and so does ``cascade_row``: the whole cascade
for one URL in plain Python, returning the row's RESULT_COLS.
``fetch_smart`` runs it through ONE struct-returning pandas UDF over
the URL column, so a fetch batch crosses into Python once: one
``ArrowEvalPython`` node, one Python worker per task, one Arrow round
trip per batch. Only the URL column crosses; the input's other columns
(the notes path carries the whole tracker row) stay in the JVM.

Each client is called at most once per row by construction: a tier
runs only when the earlier tiers' outcome asks for it. The gates
between tiers (useful signal, host class, first ATS link) are the
``*_py`` twins in functions/html.py, functions/predicates.py and
functions/url.py, compiled from the same pattern constants as their
Column spellings; tests/test_gate_parity.py pins their agreement.

The UDF is nondeterministic, so Catalyst neither re-executes nor
reorders it, and ``fetch_smart`` pins its output with one eager
bounded ``pin()``: the side-effecting calls run once per row, and
downstream plans (the decide tree) don't embed the fetch. At scale the
UDF runs per partition in a single stage; per-executor rate limiting
would live inside the client.
"""

from __future__ import annotations

import json
import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from ..functions.html import first_ats_link_py, has_useful_signal_py
from ..functions.predicates import is_aggregator_host_py
from ..functions.url import host_from_url_py
from ..pin import pin

# reference fetchViaAtsApis_ URL patterns (:363, :377)
GH_URL_RE = re.compile(r"https?://(?:boards|job-boards)\.greenhouse\.io/([^/?#]+)/jobs/(\d+)", re.I)
LEVER_URL_RE = re.compile(r"https?://jobs\.lever\.co/([^/?#]+)/([^/?#]+)", re.I)

PAGE_SCHEMA = StructType(
    [
        StructField("status", IntegerType()),
        StructField("final_url", StringType()),
        StructField("html", StringType()),
    ]
)

RESULT_SCHEMA = StructType(
    [
        StructField("status", IntegerType()),
        StructField("final_url", StringType()),
        StructField("html", StringType()),
        StructField("provider", StringType()),
        StructField("api_company", StringType()),
        StructField("api_role", StringType()),
        StructField("fetch_error", StringType()),
    ]
)
RESULT_COLS = RESULT_SCHEMA.fieldNames()

# a page the renderer did not return: no final URL, no HTML
_NO_PAGE = (0, None, None)


def _nice_case(slug: str) -> str:
    """Python twin of functions/url.nice_case (reference niceCase_
    :542) for slugs arriving through the API path."""
    words = re.sub(r"\s+", " ", re.sub(r"[-_]+", " ", slug)).strip().split(" ")
    return " ".join(w[:1].upper() + w[1:] for w in words if w)


def _api_fetch_one(client, url: str) -> tuple | None:
    """The ATS API tier: RESULT_COLS of a hit, None on a miss. Only a
    URL matching an API pattern calls the client. The final URL is
    rebuilt from slug and id, so it carries no tracking params."""
    m = GH_URL_RE.search(url)
    if m:
        slug, jid = m.group(1).lower(), m.group(2)
        status, _, body = client.fetch(
            f"https://boards-api.greenhouse.io/v1/boards/{slug}/jobs/{jid}"
        )
        if status < 400:
            try:
                role = json.loads(body).get("title") or ""
            except ValueError:
                role = ""
            final = f"https://boards.greenhouse.io/{slug}/jobs/{jid}"
            return (200, final, "", "gh-api", _nice_case(slug), role, "")
    m = LEVER_URL_RE.search(url)
    if m:
        slug, jid = m.group(1).lower(), m.group(2).lower()
        status, _, body = client.fetch(
            f"https://api.lever.co/v0/postings/{slug}/{jid}?mode=json"
        )
        if status < 400:
            try:
                data = json.loads(body)
                role = data.get("text") or data.get("title") or ""
            except ValueError:
                role = ""
            final = f"https://jobs.lever.co/{slug}/{jid}"
            return (200, final, "", "lever-api", _nice_case(slug), role, "")
    return None


def _api(client, url: str) -> tuple[tuple | None, str | None]:
    """(hit, error message): client exceptions are caught here."""
    try:
        return _api_fetch_one(client, url), None
    except Exception as e:  # noqa: BLE001
        return None, str(e)[:300]


def _fetch(client, url: str) -> tuple[tuple, str | None]:
    """((status, final_url, html), error message) of a direct fetch."""
    try:
        status, final_url, html = client.fetch(url)
        return (status, final_url, html), None
    except Exception as e:  # noqa: BLE001
        return _NO_PAGE, str(e)[:300]


def _render(client, url: str) -> tuple:
    """(status, final_url, html). Renderer failures are ABSORBED as
    ``_NO_PAGE``, matching the reference (fetchViaRenderer_ returns
    null on any error, :398-414) — only http/API client errors
    dead-letter."""
    try:
        r = client.render(url)
    except Exception:  # noqa: BLE001 — absorbed like the JS null
        r = None
    return tuple(r) if r else _NO_PAGE


def _fetched_ok(page: tuple) -> bool | None:
    """status < 400 and a useful page, in SQL's three-valued logic: a
    useful page with a NULL status tests NULL, which is neither ok nor
    thin."""
    status, _, html = page
    if not has_useful_signal_py(html):
        return False
    return None if status is None else status < 400


def _rendered_ok(page: tuple) -> bool:
    return page[1] is not None and has_useful_signal_py(page[2])


def _page(provider: str, page: tuple) -> tuple:
    status, final_url, html = page
    return (status, final_url, "" if html is None else html, provider, "", "", "")


def _error(provider: str, url: str, err: str) -> tuple:
    return (0, url, "", provider, "", "", err)


def cascade_row(http, renderer, url: str) -> tuple:
    """RESULT_COLS of one URL (tier flow of :439-480):

      1 ATS API  →  2 direct (useful?)  →  3 renderer (useful?)  →
      4 aggregator unwrap: API → direct → renderer on the first ATS
        href of the rendered (else direct) HTML  →  5 last resort:
        rendered page if the renderer returned one, else direct

    A client error on the API or direct tier dead-letters the row
    (``fetch_error``, provider 'gh-api' or 'direct'; the reference lets
    UrlFetchApp throws reach the item-level catch, :915-918). Errors on
    the unwrapped URL fall through to its next tier."""
    hit, err = _api(http, url)
    if err is not None:
        return _error("gh-api", url, err)
    if hit:
        return hit
    direct, err = _fetch(http, url)
    if err is not None:
        return _error("direct", url, err)
    direct_ok = _fetched_ok(direct)
    if direct_ok:
        return _page("direct", direct)
    rendered = _NO_PAGE
    if direct_ok is False:  # a thin page
        rendered = _render(renderer, url)
        if _rendered_ok(rendered):
            return _page("renderer", rendered)
        if is_aggregator_host_py(host_from_url_py(url)):
            html = next((h for h in (rendered[2], direct[2]) if h is not None), "")
            ats_url = first_ats_link_py(html)
            if ats_url is not None:
                hit, _ = _api(http, ats_url)
                if hit:
                    return hit
                d2, _ = _fetch(http, ats_url)
                d2_ok = _fetched_ok(d2)
                if d2_ok:
                    return _page("direct-unwrapped", d2)
                if d2_ok is False:
                    r2 = _render(renderer, ats_url)
                    if _rendered_ok(r2):
                        return _page("renderer-unwrapped", r2)
    if rendered[1] is not None:
        return _page("renderer", rendered)
    return _page("direct", direct)


def make_render_udf(client):
    """render_udf(url, gate) -> PAGE_SCHEMA; a false gate makes no
    call and returns the empty page."""

    @pandas_udf(PAGE_SCHEMA)
    def render_fetch(urls: pd.Series, gate: pd.Series) -> pd.DataFrame:
        rows = [_render(client, u) if g else _NO_PAGE for u, g in zip(urls, gate)]
        return pd.DataFrame(rows, columns=PAGE_SCHEMA.fieldNames())

    return render_fetch.asNondeterministic()


def fetch_smart(df: DataFrame, http_client, renderer_client, url_col: str = "url") -> DataFrame:
    """Run the full cascade (``cascade_row``); adds RESULT_COLS to
    every input row with a URL. Rows without one have nothing to
    fetch: dropped, not dead-lettered."""
    url = F.col(url_col)

    @pandas_udf(RESULT_SCHEMA)
    def cascade(urls: pd.Series) -> pd.DataFrame:
        rows = [cascade_row(http_client, renderer_client, u) for u in urls]
        return pd.DataFrame(rows, columns=RESULT_COLS)

    # input columns colliding with result names (e.g. a queue's own
    # 'status') are replaced by the fetch results
    passthrough = [c for c in df.columns if c not in RESULT_COLS]
    out = (
        df.filter(url.isNotNull())
        .withColumn("_fetched", cascade.asNondeterministic()(url))
        .select(*passthrough, "_fetched.*")
    )
    # Materialize and truncate lineage: (a) the single action runs the
    # side-effecting UDF once per row, (b) downstream plans (the decide
    # cascade is a large expression tree) don't embed the fetch. Fetch
    # batches are bounded (<= BATCH_SIZE rows).
    return pin(out, "bounded", eager=True)
