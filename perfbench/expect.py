"""URL classes of the fake clients' grammar, the outcome the pipeline
must reach for each, and the output checks. No Spark: outputs arrive
as Python rows or Arrow tables."""

from __future__ import annotations

import re
from collections import Counter

URL_CLASSES = (
    "greenhouse", "lever", "direct", "thin", "aggregator", "broken", "raise", "fail_llm",
)

# client calls one link of each class makes over a whole drain: the
# parse-side fetch cascade, the LLM rescue of weak parses, the notes
# re-fetch and the notes LLM call (http = SyntheticSiteHttpClient.fetch,
# render = FakeRendererClient.render, llm = extract + notes)
EXPECTED_CALLS = {
    "greenhouse": {"http": 2, "render": 0, "llm": 2},
    "lever": {"http": 2, "render": 0, "llm": 2},
    "direct": {"http": 2, "render": 0, "llm": 1},
    "thin": {"http": 2, "render": 2, "llm": 1},
    "aggregator": {"http": 4, "render": 2, "llm": 2},
    "broken": {"http": 2, "render": 3, "llm": 2},
    "raise": {"http": 1, "render": 0, "llm": 0},
    "fail_llm": {"http": 2, "render": 0, "llm": 1},
}
CALL_KINDS = ("http", "render", "llm")


def make_url(cls: str, jid: int, slug: str, site: int) -> str:
    return {
        "greenhouse": f"https://boards.greenhouse.io/{slug}/jobs/{jid}",
        "lever": f"https://jobs.lever.co/{slug}/{jid}",
        "direct": f"https://site{site}.example.com/direct/{jid}",
        "thin": f"https://site{site}.example.com/thin/{jid}",
        "aggregator": f"https://www.linkedin.com/jobs/view/{jid}",
        "broken": f"https://site{site}.example.com/broken/{jid}",
        "raise": f"https://site{site}.example.com/raise/{jid}",
        "fail_llm": f"https://site{site}.example.com/direct/FAIL-LLM/{jid}",
    }[cls]


_CLASS_RULES = [
    # order matters: the aggregator's unwrap target is a greenhouse URL
    # under the fakes' fixed 'wrapped-co' slug
    ("aggregator", re.compile(r"linkedin\.com/jobs/view|greenhouse\.io/(v1/boards/)?wrapped-co/")),
    ("fail_llm", re.compile(r"FAIL-LLM")),
    ("greenhouse", re.compile(r"greenhouse\.io/")),
    ("lever", re.compile(r"lever\.co/")),
    ("thin", re.compile(r"/thin/")),
    ("broken", re.compile(r"/broken/")),
    ("raise", re.compile(r"/raise/")),
    ("direct", re.compile(r"/direct/")),
]


def _nice_case(slug: str) -> str:
    """'acme-corp' -> 'Acme Corp', as the ATS API tier names companies."""
    return " ".join(w[:1].upper() + w[1:] for w in re.split(r"[-_]+", slug) if w)


def classify(url: str) -> str:
    """URL class of any URL a client sees, including the ATS API URLs
    the cascade derives from a link."""
    for cls, rx in _CLASS_RULES:
        if rx.search(url or ""):
            return cls
    return "other"


def expected_row(link: dict) -> dict:
    """Final tracker row the drain must produce for one link."""
    cls, jid, url = link["cls"], link["id"], link["url"]
    # the role cleaner drops a trailing job id of five digits or more
    llm_role = "LLM Role"
    ats = "parse:{{provider={p}, signals=ats-slug, conf=0.60}} | extract:{{mode=llm}}"
    direct = "parse:{provider=direct, signals=h1+og:site_name, conf=0.60}"
    table = {
        "greenhouse": (
            f"https://boards.greenhouse.io/{link['slug']}/jobs/{jid}",
            _nice_case(link["slug"]), llm_role, ats.format(p="gh-api"), "llm",
        ),
        "lever": (
            f"https://jobs.lever.co/{link['slug']}/{jid}",
            _nice_case(link["slug"]), llm_role, ats.format(p="lever-api"), "llm",
        ),
        "direct": (url, f"Site {jid}", "Staff Analyst", direct, "llm"),
        "thin": (
            url, f"Thin Co {jid}", "Rendered Analyst",
            "parse:{provider=renderer, signals=h1+og:site_name, conf=0.60}", "llm",
        ),
        "aggregator": (
            f"https://boards.greenhouse.io/wrapped-co/jobs/{jid}",
            "Wrapped Co", llm_role, ats.format(p="gh-api"), "llm",
        ),
        "broken": (
            url, f"LLM Co {jid}", llm_role,
            "parse:{provider=direct, signals=heuristic, conf=0.60} | extract:{mode=llm}", "llm",
        ),
        "fail_llm": (url, f"Site {jid}", "Staff Analyst", direct, "template"),
    }
    if cls == "raise":
        return {
            "canonical_link": "", "company_auto": "", "role_auto": "", "status": "error",
            "source": "connection refused", "notes": None,
        }
    canonical, company, role, source, notes = table[cls]
    return {
        "canonical_link": canonical, "company_auto": company, "role_auto": role,
        "status": "ok", "source": f"{source} | notes:{{mode={notes}}}", "notes": notes,
    }


def row_errors(link: dict, row: dict | None) -> list[str]:
    """Mismatches between one final tracker row and its expected
    outcome (empty when the row is right)."""
    if row is None:
        return [f"row {link['row_index']}: missing from tracker"]
    want = expected_row(link)
    errs = [
        f"row {link['row_index']} ({link['cls']}): {k}={row.get(k)!r}, want {want[k]!r}"
        for k in ("canonical_link", "company_auto", "role_auto", "status", "source")
        if row.get(k) != want[k]
    ]
    invite, followup = row.get("li_invite") or "", row.get("li_followup") or ""
    company, role = want["company_auto"], want["role_auto"]
    if want["notes"] is None:
        ok = invite == "" and followup == ""
    elif want["notes"] == "llm":
        ok = invite == f"Hi! I applied for {role} at {company} — would love to connect." and (
            followup.startswith("Thanks for connecting!")
        )
    else:
        ok = invite.startswith(f"Hi there — I applied for {role} at {company}.") and followup != ""
    if not ok:
        errs.append(f"row {link['row_index']} ({link['cls']}): notes {invite!r} / {followup!r}")
    return errs


def check_drain(links: list[dict], rows: list[dict], queue_left: int, notes_left: int) -> tuple[int, int, list[str]]:
    """(outputs attempted, outputs failed, messages) for one drain: one
    output per link, plus tracker-key uniqueness and each of the two
    queues ending empty."""
    by_key: dict[int, dict] = {}
    dup = set()
    for r in rows:
        if r["row_index"] in by_key:
            dup.add(r["row_index"])
        by_key[r["row_index"]] = r
    errs = [f"row {k}: duplicate tracker key" for k in sorted(dup)]
    failed = 1 if dup else 0
    for link in links:
        e = row_errors(link, by_key.get(link["row_index"]))
        failed += 1 if e else 0
        errs += e
    for name, left in (("parse", queue_left), ("notes", notes_left)):
        if left:
            failed += 1
            errs.append(f"{name} queue holds {left} queued rows after the drain")
    return len(links) + 3, failed, errs


def check_calls(links: list[dict], counts: dict, drains: int) -> tuple[int, int, list[str]]:
    """(outputs attempted, outputs failed, messages) for the client-call
    counts of ``drains`` drains over ``links``: each (class, call kind)
    must see exactly the calls EXPECTED_CALLS promises per link."""
    per_class = Counter(link["cls"] for link in links)
    errs = []
    for cls, n in sorted(per_class.items()):
        for kind in CALL_KINDS:
            got = counts.get((kind, cls), 0)
            want = EXPECTED_CALLS[cls][kind] * n * drains
            if got != want:
                errs.append(f"{cls}: {got} {kind} calls, want {want}")
    stray = {k: v for k, v in counts.items() if k[1] not in per_class}
    if stray:
        errs.append(f"calls for URLs outside the inputs: {stray}")
    return len(per_class) * len(CALL_KINDS), len(errs), errs


def table_mismatch(got, want) -> int:
    """Rows of one Arrow table missing from the other, as multisets
    compared by column name, in whichever direction misses more (a
    wrong row counts once); every row when a column is missing or its
    type class (``tools/oracle_check``) differs."""
    import duckdb

    from tools.oracle_check import _arrow_class

    cols = sorted(want.column_names)
    if sorted(got.column_names) != cols or [
        _arrow_class(got.schema.field(c).type) for c in cols
    ] != [_arrow_class(want.schema.field(c).type) for c in cols]:
        return max(got.num_rows, want.num_rows)
    con = duckdb.connect()
    try:
        con.register("g", got.select(cols))
        con.register("w", want.select(cols))
        return con.execute(
            "SELECT greatest((SELECT count(*) FROM (FROM g EXCEPT ALL FROM w)),"
            " (SELECT count(*) FROM (FROM w EXCEPT ALL FROM g)))"
        ).fetchone()[0]
    finally:
        con.close()
