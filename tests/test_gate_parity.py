"""The fetch cascade's Python gate helpers against their JVM Column
spellings: useful signal, host (and its ATS/aggregator class) and the
first ATS link. Both spellings read one pattern constant each; the
expected values below pin what the constants mean, so an edit to a
constant fails here even though both spellings follow it."""

from __future__ import annotations

from pyspark.sql import functions as F

from joblink_etl_spark.clients import FakeRendererClient, SyntheticSiteHttpClient
from joblink_etl_spark.functions import html as H
from joblink_etl_spark.functions import predicates as P
from joblink_etl_spark.functions import url as U
from perfbench.expect import URL_CLASSES, make_url
from tests.test_js_parity import HTMLS
from tests.test_js_parity import URLS as JS_URLS

_HTTP, _RENDERER = SyntheticSiteHttpClient(), FakeRendererClient()


def _fake_pages() -> dict[str, str]:
    """Direct and rendered page of every fake URL class's link and of
    the ATS link the aggregator page wraps."""
    pages = {}
    urls = {cls: make_url(cls, 4242, "acme-corp", 3) for cls in URL_CLASSES if cls != "raise"}
    urls["unwrapped"] = "https://boards.greenhouse.io/wrapped-co/jobs/4242"
    for cls, url in urls.items():
        pages[f"{cls}:direct"] = _HTTP.fetch(url)[2]
        rendered = _RENDERER.render(url)
        if rendered is not None:
            pages[f"{cls}:rendered"] = rendered[2]
    return pages


FAKE_PAGES = _fake_pages()

# useful signal of each fake page, as the cascade's tiers rely on it
FAKE_USEFUL = {
    "greenhouse:direct": True, "greenhouse:rendered": True,
    "lever:direct": True, "lever:rendered": True,
    "direct:direct": True, "direct:rendered": True,
    "thin:direct": False, "thin:rendered": True,
    "aggregator:direct": False, "aggregator:rendered": False,
    "broken:direct": False,
    "fail_llm:direct": True, "fail_llm:rendered": True,
    "unwrapped:direct": True, "unwrapped:rendered": True,
}

ODD_HTMLS = [
    "<title>Développeur Sénior — Paris</title>",
    "<h1>ſign in</h1>",  # long s: not 's' to Java's ASCII-only (?i)
    "<title>ab\u2003</title>",  # an em space is not Java's \s
    "<h1>\tab\t</h1>",
    "<title>\u00a0Home\u00a0</title>",
    "<title>İİ</title>",
    '<meta property="og:title" content="  Careers  ">',
    '<META PROPERTY="og:title" CONTENT="Platform Lead">',
    '<a HREF="https://example.com/x">x</a><a href=\'https://jobs.lever.co/acme/1\'>y</a>'
    '<a href="https://boards.greenhouse.io/acme/jobs/2">z</a>',
    '<a href="https://jobs.lever.co/a b/1">space</a><a href="https://apply.workable.com/acme/j/3/">w</a>',
    '<a href="https://www.linkedin.com/jobs/view/1">agg</a>',
    '<a href="http://ACME.MyWorkdayJobs.com/en-US/ext/job/1">wd</a>',
]
ODD_USEFUL = {
    ODD_HTMLS[0]: True, ODD_HTMLS[1]: True, ODD_HTMLS[2]: True, ODD_HTMLS[3]: False,
    ODD_HTMLS[4]: False, ODD_HTMLS[6]: False, ODD_HTMLS[7]: True,
}

ODD_URLS = [
    "linkedin.com/jobs/view/1",  # no scheme
    "//www.linkedin.com/jobs/view/1",
    "https://WWW.LinkedIn.COM/jobs/view/1",
    "https://www.www.indeed.com/x",
    " https://www.linkedin.com/jobs/view/1",
    "https://www.linkedin.com/jobs/view/1 ",
    "https://www.linkedin.com/jobs view/1",
    "https://www.linkedin.com\t/x",
    "https://user@jobs.lever.co:443/acme/1?x=1#top",
    "https://jobs.lever.co/acme/1#a#b",
    "https://jobs.lever.co/acme/%zz",
    "https://jobs.lever.co/acme/%41é",
    "https://jobs.lever.co/acme/\u3000",
    "https://jobs_lever.co/acme/1",
    "https://jobs.lever.co:99999999999/acme/1",
    "https://1.2.3.4/x",
    "https://1.2.3.256/x",
    "https://a.1b/x",
    "https://linkedin.com./x",
    "https://-linkedin.com/x",
    "https://bücher.example/x",
    "mailto:jobs@lever.co",
    "https:/jobs.lever.co/acme/1",
    "1https://jobs.lever.co/acme/1",
    "",
]
ODD_HOSTS = {
    "linkedin.com/jobs/view/1": "",
    "//www.linkedin.com/jobs/view/1": "linkedin.com",
    "https://WWW.LinkedIn.COM/jobs/view/1": "linkedin.com",
    "https://www.www.indeed.com/x": "www.indeed.com",
    " https://www.linkedin.com/jobs/view/1": "",
    "https://www.linkedin.com/jobs view/1": "",
    "https://user@jobs.lever.co:443/acme/1?x=1#top": "jobs.lever.co",
    "https://jobs.lever.co/acme/1#a#b": "",
    "https://jobs.lever.co/acme/%41é": "jobs.lever.co",
    "https://jobs_lever.co/acme/1": "",
    "mailto:jobs@lever.co": "",
}


def _jvm(spark, values: list, fns: dict) -> dict[str, list]:
    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)], "i long, v string")
    rows = df.select("i", *[fn(F.col("v")).alias(k) for k, fn in fns.items()]).orderBy("i").collect()
    return {k: [r[k] for r in rows] for k in fns}


def test_useful_signal_and_first_ats_link_match_jvm(spark):
    pages = list(FAKE_PAGES.values()) + HTMLS + ODD_HTMLS + [None]
    got = _jvm(spark, pages, {"useful": H.has_useful_signal, "ats": H.first_ats_link})
    assert [H.has_useful_signal_py(p) for p in pages] == got["useful"]
    assert [H.first_ats_link_py(p or "") for p in pages] == got["ats"]

    assert {k: H.has_useful_signal_py(p) for k, p in FAKE_PAGES.items()} == FAKE_USEFUL
    assert {p: H.has_useful_signal_py(p) for p in ODD_USEFUL} == ODD_USEFUL
    assert H.first_ats_link_py(FAKE_PAGES["aggregator:direct"]) == (
        "https://boards.greenhouse.io/wrapped-co/jobs/4242"
    )
    assert [H.first_ats_link_py(p) for p in ODD_HTMLS[-4:]] == [
        "https://jobs.lever.co/acme/1",
        "https://apply.workable.com/acme/j/3/",
        None,
        "http://ACME.MyWorkdayJobs.com/en-US/ext/job/1",
    ]


def test_host_helpers_match_jvm(spark):
    hrefs = [u for p in FAKE_PAGES.values() for u in H._HREF.findall(p)]
    urls = JS_URLS + ODD_URLS + hrefs + [make_url(c, 7, "acme", 1) for c in URL_CLASSES]
    got = _jvm(spark, urls, {"host": U.host_from_url})
    hosts = [U.host_from_url_py(u) for u in urls]
    assert hosts == got["host"]
    classes = _jvm(spark, hosts, {"ats": P.is_ats_host, "agg": P.is_aggregator_host})
    assert [P.is_ats_host_py(h) for h in hosts] == classes["ats"]
    assert [P.is_aggregator_host_py(h) for h in hosts] == classes["agg"]

    assert {u: U.host_from_url_py(u) for u in ODD_HOSTS} == ODD_HOSTS
    by_class = {c: U.host_from_url_py(make_url(c, 7, "acme", 1)) for c in URL_CLASSES}
    assert {c for c, h in by_class.items() if P.is_ats_host_py(h)} == {"greenhouse", "lever"}
    assert {c for c, h in by_class.items() if P.is_aggregator_host_py(h)} == {"aggregator"}
