"""End-to-end decision-cascade query with a DuckDB oracle.

Synthesizes 8 page shapes (JSON-LD, h1-only, ATS-slug URL, og-only,
aggregator, title-split, empty, generic-h1) from the documents table,
runs the real cascade (operators/decide.py, including the JSON-LD
pandas UDF) on the Spark side, and computes the expected outputs
shape-by-shape on the DuckDB side — verifying weights, priority
order, aggregator exclusion, title-split, clamps, and the decision
trail in one query (reference decideCompanyRole_,
code-LLM-intergration.js:692-777).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.decide import decide
from ..sources import table


def _synth_pages(docs: DataFrame) -> DataFrame:
    d = F.col("doc_id")
    ds = d.cast("string")
    org = F.concat(F.lit("Org"), ds)
    url = (
        F.when(d % 8 == 2, F.concat(F.lit("https://boards.greenhouse.io/acme-corp/jobs/"), ds, F.lit("?gh_src=x")))
        .when(d % 8 == 4, F.concat(F.lit("https://www.linkedin.com/jobs/view/"), ds))
        .otherwise(F.concat(F.lit("https://careers.example"), ds, F.lit(".com/job")))
    )
    html = (
        F.when(d % 8 == 0, F.concat(
            F.lit('<script type="application/ld+json">{"@type":"JobPosting","title":"Staff Engineer","hiringOrganization":{"name":"'),
            org, F.lit('"}}</script>')))
        .when(d % 8 == 1, F.concat(
            F.lit('<script type="application/ld+json">{"@type":"JobPosting","hiringOrganization":{"name":"'),
            org, F.lit('"}}</script><h1>Lead Engineer</h1>')))
        .when(d % 8 == 2, F.lit("<h1>Platform Engineer</h1>"))
        .when(d % 8 == 3, F.concat(
            F.lit('<meta property="og:title" content="Product Manager"><meta property="og:site_name" content="'),
            org, F.lit('">')))
        .when(d % 8 == 4, F.lit('<title>Senior Analyst</title><meta property="og:site_name" content="LinkedIn">'))
        .when(d % 8 == 5, F.concat(F.lit("<title>"), org, F.lit(" — Senior Engineer</title>")))
        .when(d % 8 == 6, F.lit(""))
        .otherwise(F.lit("<h1>Sign in</h1>"))
    )
    return docs.select(d.alias("doc_id"), url.alias("final_url"), html.alias("html"))


def decide_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    pages = _synth_pages(docs)
    out = decide(pages)
    return out.select(
        "doc_id",
        "company",
        "role",
        "canonical",
        F.round("conf", 2).alias("conf"),
        "decision",
    )


DECIDE_CASCADE_SQL = """
SELECT doc_id,
  CASE doc_id % 8
    WHEN 0 THEN 'Org' || doc_id::VARCHAR
    WHEN 1 THEN 'Org' || doc_id::VARCHAR
    WHEN 2 THEN 'Acme Corp'
    WHEN 3 THEN 'Org' || doc_id::VARCHAR
    WHEN 4 THEN ''
    WHEN 5 THEN 'Org' || doc_id::VARCHAR
    WHEN 6 THEN ''
    ELSE ''
  END AS company,
  CASE doc_id % 8
    WHEN 0 THEN 'Staff Engineer'
    WHEN 1 THEN 'Lead Engineer'
    WHEN 2 THEN 'Platform Engineer'
    WHEN 3 THEN 'Product Manager'
    WHEN 4 THEN 'Senior Analyst'
    WHEN 5 THEN 'Senior Engineer'
    WHEN 6 THEN ''
    ELSE 'Sign in'
  END AS role,
  CASE doc_id % 8
    WHEN 2 THEN 'https://boards.greenhouse.io/acme-corp/jobs/' || doc_id::VARCHAR
    WHEN 4 THEN 'https://www.linkedin.com/jobs/view/' || doc_id::VARCHAR
    ELSE 'https://careers.example' || doc_id::VARCHAR || '.com/job'
  END AS canonical,
  CASE doc_id % 8
    WHEN 0 THEN 1.0
    WHEN 1 THEN 0.85
    WHEN 2 THEN 0.7
    WHEN 3 THEN 0.5
    WHEN 4 THEN 0.15
    WHEN 5 THEN 0.55
    WHEN 6 THEN 0.0
    ELSE 0.35
  END::DOUBLE AS conf,
  CASE doc_id % 8
    WHEN 0 THEN 'jsonld-org+jsonld-title'
    WHEN 1 THEN 'jsonld-org+h1'
    WHEN 2 THEN 'ats-slug+h1'
    WHEN 3 THEN 'og:title+og:site_name'
    WHEN 4 THEN 'title'
    WHEN 5 THEN 'title+title-split'
    WHEN 6 THEN 'heuristic'
    ELSE 'h1'
  END AS decision
FROM documents
"""


# ---------------------------------------------------------------------------
# enqueue anti-join (J2/S5) — candidates from orders vs a synthetic queue.
# ---------------------------------------------------------------------------


def enqueue_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.enqueue import enqueue

    orders = table(spark, sf_dir, "orders")
    ok = F.col("o_orderkey")
    candidates = orders.select(
        F.concat(F.lit("Sheet"), (ok % 3).cast("string")).alias("sheet_name"),
        ok.alias("row_index"),
        F.when(ok % 4 == 3, F.concat(F.lit("not-a-url-"), ok.cast("string")))
        .otherwise(F.concat(F.lit("https://jobs.lever.co/co/"), ok.cast("string")))
        .alias("url"),
    )
    queue = orders.filter((ok % 5 == 0) | (ok % 5 == 1)).select(
        F.concat(F.lit("Sheet"), (ok % 3).cast("string")).alias("sheet_name"),
        ok.alias("row_index"),
        F.lit("x").alias("url"),
        F.when(ok % 5 == 0, F.when(ok % 10 == 0, F.lit("queued")).otherwise(F.lit("processing")))
        .otherwise(F.lit("error"))
        .alias("status"),
    )
    return enqueue(candidates, queue, now=F.lit("2024-01-01").cast("timestamp"))


ENQUEUE_ANTIJOIN_SQL = """
SELECT 'Sheet' || (o_orderkey % 3)::VARCHAR AS sheet_name,
       o_orderkey AS row_index,
       'https://jobs.lever.co/co/' || o_orderkey::VARCHAR AS url,
       'queued' AS status,
       0 AS tries,
       TIMESTAMP '2024-01-01' AS enqueued_at,
       '' AS next_attempt_at,
       '' AS last_error
FROM orders
WHERE o_orderkey % 4 <> 3      -- URL-validity filter (P1)
  AND o_orderkey % 5 <> 0      -- already queued/processing (J2 anti-join)
"""


# ---------------------------------------------------------------------------
# write-back merge (S13-S15) — tracker RMW with provenance token.
# ---------------------------------------------------------------------------


def writeback_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.writeback import merge_writeback

    cust = table(spark, sf_dir, "customer")
    ck = F.col("c_custkey")
    cks = ck.cast("string")
    tracker = cust.select(
        F.lit("Main").alias("sheet_name"),
        ck.alias("row_index"),
        F.concat(F.lit("https://jobs.lever.co/co/"), cks).alias("link"),
        F.lit("").alias("canonical_link"),
        F.when(ck % 4 == 1, F.lit("UserCo")).otherwise(F.lit("")).alias("company_auto"),
        F.lit("").alias("role_auto"),
        F.lit("queued").alias("status"),
        F.when(ck % 2 == 0, F.lit("parse:{provider=old, conf=0.10}")).otherwise(F.lit("")).alias("source"),
        F.lit("").alias("li_invite"),
        F.lit("").alias("li_followup"),
    )
    parsed = cust.filter(ck % 3 == 0).select(
        F.lit("Main").alias("sheet_name"),
        ck.alias("row_index"),
        F.concat(F.lit("https://jobs.lever.co/co/"), cks).alias("canonical"),
        F.concat(F.lit("Org"), cks).alias("company"),
        F.lit("Engineer").alias("role"),
        F.lit(0.7).alias("conf"),
        F.lit("ats-slug+h1").alias("decision"),
        F.lit("direct").alias("provider"),
    )
    out = merge_writeback(tracker, parsed)
    return out.select(
        "sheet_name", "row_index", "canonical_link",
        "company_auto", "role_auto", "status", "source",
    )


def writeback_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end partition-scoped MERGE: seed a 3-partition parquet
    tracker, apply a batch touching only partition 'A' via
    merge_writeback_incremental (partition-pruned read + dynamic
    partition overwrite), read the whole tracker back. Partitions
    B/C must come back bit-identical; only A's matched rows change."""
    import tempfile

    from ..operators.writeback import merge_writeback_incremental

    cust = table(spark, sf_dir, "customer")
    ck = F.col("c_custkey")
    cks = ck.cast("string")
    sheet = (
        F.when(ck % 3 == 0, F.lit("A")).when(ck % 3 == 1, F.lit("B")).otherwise(F.lit("C"))
    )
    tracker = cust.select(
        sheet.alias("sheet_name"),
        ck.alias("row_index"),
        F.concat(F.lit("https://jobs.lever.co/co/"), cks).alias("link"),
        F.lit("").alias("canonical_link"),
        F.when(ck % 4 == 1, F.lit("UserCo")).otherwise(F.lit("")).alias("company_auto"),
        F.lit("").alias("role_auto"),
        F.lit("queued").alias("status"),
        F.when(ck % 2 == 0, F.lit("parse:{provider=old, conf=0.10}")).otherwise(F.lit("")).alias("source"),
    )
    path = tempfile.mkdtemp(prefix="tracker_inc_")
    tracker.write.mode("overwrite").partitionBy("sheet_name").parquet(path)
    parsed = cust.filter(ck % 15 == 0).select(
        F.lit("A").alias("sheet_name"),
        ck.alias("row_index"),
        F.concat(F.lit("https://jobs.lever.co/co/"), cks).alias("canonical"),
        F.concat(F.lit("Org"), cks).alias("company"),
        F.lit("Engineer").alias("role"),
        F.lit(0.7).alias("conf"),
        F.lit("ats-slug+h1").alias("decision"),
        F.lit("direct").alias("provider"),
    )
    merge_writeback_incremental(spark, path, parsed)
    # the tracker's schema, not inference: a zero-row tracker writes
    # no data files to infer from
    return spark.read.schema(tracker.schema).parquet(path).select(
        "sheet_name", "row_index", "canonical_link",
        "company_auto", "role_auto", "status", "source",
    )


WRITEBACK_INCREMENTAL_SQL = """
SELECT CASE c_custkey % 3 WHEN 0 THEN 'A' WHEN 1 THEN 'B' ELSE 'C' END AS sheet_name,
       c_custkey AS row_index,
       CASE WHEN c_custkey % 15 = 0
            THEN 'https://jobs.lever.co/co/' || c_custkey::VARCHAR ELSE '' END AS canonical_link,
       CASE WHEN c_custkey % 15 = 0 THEN 'Org' || c_custkey::VARCHAR
            WHEN c_custkey % 4 = 1 THEN 'UserCo' ELSE '' END AS company_auto,
       CASE WHEN c_custkey % 15 = 0 THEN 'Engineer' ELSE '' END AS role_auto,
       CASE WHEN c_custkey % 15 = 0 THEN 'ok' ELSE 'queued' END AS status,
       CASE WHEN c_custkey % 15 = 0
              THEN 'parse:{provider=direct, signals=ats-slug+h1, conf=0.70}'
            WHEN c_custkey % 2 = 0 THEN 'parse:{provider=old, conf=0.10}'
            ELSE ''
       END AS source
FROM customer
"""


WRITEBACK_MERGE_SQL = """
SELECT 'Main' AS sheet_name,
       c_custkey AS row_index,
       CASE WHEN c_custkey % 3 = 0
            THEN 'https://jobs.lever.co/co/' || c_custkey::VARCHAR ELSE '' END AS canonical_link,
       CASE WHEN c_custkey % 3 = 0 THEN 'Org' || c_custkey::VARCHAR
            WHEN c_custkey % 4 = 1 THEN 'UserCo' ELSE '' END AS company_auto,
       CASE WHEN c_custkey % 3 = 0 THEN 'Engineer' ELSE '' END AS role_auto,
       CASE WHEN c_custkey % 3 = 0 THEN 'ok' ELSE 'queued' END AS status,
       CASE
         WHEN c_custkey % 3 = 0 AND c_custkey % 2 = 0
           THEN 'parse:{provider=direct, signals=ats-slug+h1, conf=0.70}'
         WHEN c_custkey % 3 = 0
           THEN 'parse:{provider=direct, signals=ats-slug+h1, conf=0.70}'
         WHEN c_custkey % 2 = 0
           THEN 'parse:{provider=old, conf=0.10}'
         ELSE ''
       END AS source
FROM customer
"""


# ---------------------------------------------------------------------------
# template notes (U3) — pure-SQL outreach generation + fill-blanks rule.
# ---------------------------------------------------------------------------

_NOTES_PROFILE = {
    "one-line hook": "builder of data systems",
    "top skills": "Spark, Python, SQL",
}


def notes_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.notes import apply_notes

    supp = table(spark, sf_dir, "supplier")
    sk = F.col("s_suppkey")
    sks = sk.cast("string")
    tracker = supp.select(
        sk.alias("row_index"),
        F.when(sk % 3 == 0, F.lit("")).otherwise(F.concat(F.lit("Org"), sks)).alias("company_auto"),
        F.when(sk % 2 == 0, F.lit("Engineer")).otherwise(F.lit("")).alias("role_auto"),
        F.when(sk % 5 == 0, F.lit("KEEP-INVITE")).otherwise(F.lit("")).alias("li_invite"),
        F.when(sk % 7 == 0, F.lit("KEEP-FOLLOWUP")).otherwise(F.lit("")).alias("li_followup"),
    )
    out = apply_notes(tracker, _NOTES_PROFILE)
    return out.select("row_index", "company_auto", "role_auto", "li_invite", "li_followup")


NOTES_TEMPLATE_SQL = """
WITH t AS (
  SELECT s_suppkey AS row_index,
         CASE WHEN s_suppkey % 3 = 0 THEN '' ELSE 'Org' || s_suppkey::VARCHAR END AS company_auto,
         CASE WHEN s_suppkey % 2 = 0 THEN 'Engineer' ELSE '' END AS role_auto,
         CASE WHEN s_suppkey % 5 = 0 THEN 'KEEP-INVITE' ELSE '' END AS li_invite,
         CASE WHEN s_suppkey % 7 = 0 THEN 'KEEP-FOLLOWUP' ELSE '' END AS li_followup
  FROM supplier
), gen AS (
  SELECT *,
    CASE WHEN company_auto = '' THEN 'your company' ELSE company_auto END AS comp,
    CASE WHEN role_auto = '' THEN 'this role' ELSE role_auto END AS rle
  FROM t
)
SELECT row_index, company_auto, role_auto,
  -- skip only when BOTH cells are filled; otherwise regenerate BOTH
  -- (reference processNotesBatch :1151-1154, :1181-1184)
  CASE WHEN li_invite <> '' AND li_followup <> '' THEN li_invite
       ELSE substr('Hi there — I applied for ' || rle || ' at ' || comp ||
                   '. I''m a builder of data systems and would love to connect.', 1, 280)
  END AS li_invite,
  CASE WHEN li_invite <> '' AND li_followup <> '' THEN li_followup
       ELSE 'Thanks for connecting! I just applied for ' || rle || ' at ' || comp ||
            '. My background includes Spark, Python, SQL.' ||
            ' If there’s a chance to chat, I’d value 10–15 minutes to share how I can contribute.'
  END AS li_followup
FROM gen
"""


# ---------------------------------------------------------------------------
# fetch_cascade — the full tiered fetch + decide over the deterministic
# fake clients on synthesized URLs. The fakes make every tier a pure
# function of the URL, so the oracle pins the EXPECTED output of each
# tier (which tier serves the URL, what the synthetic page decodes to)
# as a CASE over the 6 URL shapes.
# ---------------------------------------------------------------------------


def fetch_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..clients import FakeRendererClient, SyntheticSiteHttpClient
    from ..operators.decide import decide
    from ..operators.fetch import fetch_smart

    cust = table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 120)
    ck = F.col("c_custkey")
    cks = ck.cast("string")
    urls = cust.select(
        ck.alias("id"),
        F.when(ck % 6 == 0, F.concat(F.lit("https://boards.greenhouse.io/acme-corp/jobs/"), cks))
        .when(ck % 6 == 1, F.concat(F.lit("https://jobs.lever.co/mega/"), cks))
        .when(ck % 6 == 2, F.concat(F.lit("https://site1.example.com/direct/"), cks))
        .when(ck % 6 == 3, F.concat(F.lit("https://site1.example.com/thin/"), cks))
        .when(ck % 6 == 4, F.concat(F.lit("https://www.linkedin.com/jobs/view/"), cks))
        .otherwise(F.concat(F.lit("https://site9.example.com/broken/"), cks))
        .alias("url"),
    )
    fetched = fetch_smart(urls, SyntheticSiteHttpClient(), FakeRendererClient())
    out = decide(fetched, html_col="html", url_col="final_url")
    return out.select(
        "id", "url", "provider", "status", "company", "role",
        F.round("conf", 2).alias("conf"), "decision",
    )


FETCH_CASCADE_SQL = """
SELECT c_custkey AS id,
  CASE c_custkey % 6
    WHEN 0 THEN 'https://boards.greenhouse.io/acme-corp/jobs/' || c_custkey::VARCHAR
    WHEN 1 THEN 'https://jobs.lever.co/mega/' || c_custkey::VARCHAR
    WHEN 2 THEN 'https://site1.example.com/direct/' || c_custkey::VARCHAR
    WHEN 3 THEN 'https://site1.example.com/thin/' || c_custkey::VARCHAR
    WHEN 4 THEN 'https://www.linkedin.com/jobs/view/' || c_custkey::VARCHAR
    ELSE 'https://site9.example.com/broken/' || c_custkey::VARCHAR
  END AS url,
  CASE c_custkey % 6
    WHEN 0 THEN 'gh-api'      -- tier 1: ATS API pattern match
    WHEN 1 THEN 'lever-api'
    WHEN 2 THEN 'direct'      -- tier 2: rich direct page
    WHEN 3 THEN 'renderer'    -- tier 3: thin page escalates
    WHEN 4 THEN 'gh-api'      -- tier 4: aggregator unwraps to greenhouse API
    ELSE 'direct'             -- HTTP 500: direct result kept, no signal
  END AS provider,
  (CASE c_custkey % 6 WHEN 5 THEN 500 ELSE 200 END)::INTEGER AS status,
  CASE c_custkey % 6
    WHEN 0 THEN 'Acme Corp'   -- ats-slug from the URL (API JSON has no org)
    WHEN 1 THEN 'Mega'
    WHEN 2 THEN 'Site ' || c_custkey::VARCHAR
    WHEN 3 THEN 'Thin Co ' || c_custkey::VARCHAR
    WHEN 4 THEN 'Wrapped Co'
    ELSE ''
  END AS company,
  CASE c_custkey % 6
    WHEN 2 THEN 'Staff Analyst ' || c_custkey::VARCHAR
    WHEN 3 THEN 'Rendered Analyst ' || c_custkey::VARCHAR
    ELSE ''
  END AS role,
  (CASE c_custkey % 6
    WHEN 2 THEN 0.6 WHEN 3 THEN 0.6 WHEN 5 THEN 0.0 ELSE 0.35
  END)::DOUBLE AS conf,
  CASE c_custkey % 6
    WHEN 2 THEN 'h1+og:site_name'
    WHEN 3 THEN 'h1+og:site_name'
    WHEN 5 THEN 'heuristic'
    ELSE 'ats-slug'
  END AS decision
FROM customer
WHERE c_custkey < 120
"""


def decide_cascade_mvp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MVP-variant cascade over the same 8 page shapes — the oracle
    encodes exactly where it diverges from the final variant: the
    aggregator page KEEPS og:site_name as company (shape 4), and the
    'Company — Role' title is NOT split (shape 5)."""
    from ..operators.decide import decide_mvp

    docs = table(spark, sf_dir, "documents")
    pages = _synth_pages(docs)
    out = decide_mvp(pages)
    return out.select(
        "doc_id", "company", "role", "canonical",
        F.round("conf", 2).alias("conf"), "decision",
    )


DECIDE_CASCADE_MVP_SQL = """
SELECT doc_id,
  CASE doc_id % 8
    WHEN 0 THEN 'Org' || doc_id::VARCHAR
    WHEN 1 THEN 'Org' || doc_id::VARCHAR
    WHEN 2 THEN 'Acme Corp'
    WHEN 3 THEN 'Org' || doc_id::VARCHAR
    WHEN 4 THEN 'LinkedIn'
    WHEN 5 THEN ''
    WHEN 6 THEN ''
    ELSE ''
  END AS company,
  CASE doc_id % 8
    WHEN 0 THEN 'Staff Engineer'
    WHEN 1 THEN 'Lead Engineer'
    WHEN 2 THEN 'Platform Engineer'
    WHEN 3 THEN 'Product Manager'
    WHEN 4 THEN 'Senior Analyst'
    WHEN 5 THEN 'Org' || doc_id::VARCHAR || ' — Senior Engineer'
    WHEN 6 THEN ''
    ELSE 'Sign in'
  END AS role,
  CASE doc_id % 8
    WHEN 2 THEN 'https://boards.greenhouse.io/acme-corp/jobs/' || doc_id::VARCHAR
    WHEN 4 THEN 'https://www.linkedin.com/jobs/view/' || doc_id::VARCHAR
    ELSE 'https://careers.example' || doc_id::VARCHAR || '.com/job'
  END AS canonical,
  CASE doc_id % 8
    WHEN 0 THEN 1.0
    WHEN 1 THEN 0.85
    WHEN 2 THEN 0.7
    WHEN 3 THEN 0.5
    WHEN 4 THEN 0.4
    WHEN 5 THEN 0.15
    WHEN 6 THEN 0.0
    ELSE 0.35
  END::DOUBLE AS conf,
  CASE doc_id % 8
    WHEN 0 THEN 'jsonld-org+jsonld-title'
    WHEN 1 THEN 'jsonld-org+h1'
    WHEN 2 THEN 'ats-slug+h1'
    WHEN 3 THEN 'og:title+og:site_name'
    WHEN 4 THEN 'title+og:site_name'
    WHEN 5 THEN 'title'
    WHEN 6 THEN 'heuristic'
    ELSE 'h1'
  END AS decision
FROM documents
"""


# ---------------------------------------------------------------------------
# S4 header self-heal — the schema-repair layer as a data query.
# ---------------------------------------------------------------------------


def header_self_heal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 alias map + S4 self-healing read as a driver-checkable query
    (reference getHeaderMap_ code-LLM-intergration.js:74-79 and the
    NotesQueue header rewrite :111-119; alias shape HEADERS_PER_SHEET,
    code-Extractor-withoutLLM.js:14-31).

    Damages the customer table into a "sheet" with physical headers
    ("App Link", "Company (auto)"), a wrong-typed key (int, not
    long), three missing canonical columns, and one extra junk
    column — then runs the real apply_aliases + validate_or_heal
    stack and returns the healed canonical tracker rows. The oracle
    states the healed shape directly, so the driver hash-checks the
    rename map, the typed-null/'' fills, the cast, and the
    extra-column drop all at once.
    """
    from ..schemas import EXAMPLE_HEADER_ALIASES, TRACKER_SCHEMA, apply_aliases, validate_or_heal

    cust = table(spark, sf_dir, "customer")
    ck = F.col("c_custkey")
    damaged = cust.select(
        F.lit("Main").alias("sheet_name"),
        ck.cast("int").alias("row_index"),
        F.concat(F.lit("https://jobs.lever.co/co/"), ck.cast("string")).alias("App Link"),
        F.col("c_name").alias("Company (auto)"),
        F.when(ck % 4 == 0, F.lit("applied")).otherwise(F.lit("saved")).alias("status"),
        F.col("c_mktsegment").alias("junk_extra"),
    )
    return validate_or_heal(apply_aliases(damaged, EXAMPLE_HEADER_ALIASES), TRACKER_SCHEMA)


HEADER_SELF_HEAL_SQL = """
SELECT 'Main' AS sheet_name,
       c_custkey::BIGINT AS row_index,
       'https://jobs.lever.co/co/' || c_custkey::VARCHAR AS link,
       '' AS canonical_link,
       c_name AS company_auto,
       '' AS role_auto,
       CASE WHEN c_custkey % 4 = 0 THEN 'applied' ELSE 'saved' END AS status,
       '' AS source,
       '' AS li_invite,
       '' AS li_followup
FROM customer
"""


# ---------------------------------------------------------------------------
# J1 queue→tracker lookup — FIFO batch joined back to its tracker rows.
# ---------------------------------------------------------------------------


def queue_tracker_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: each selected queue item looks up its tracker row by
    (sheet_name, row_index) (reference processNextBatch reads the
    tracker row for every queue entry, code-LLM-intergration.js:
    870-926). Composes the real select_batch (O1 FIFO + A2 head-N)
    with the J1 broadcast lookup: the bounded batch (not the big
    tracker) is the broadcast side, so the tracker scan stays a
    single narrow pass at any scale."""
    from ..operators.enqueue import select_batch

    cust = table(spark, sf_dir, "customer")
    ck = F.col("c_custkey")
    cks = ck.cast("string")
    tracker = cust.select(
        F.concat(F.lit("Sheet"), (ck % 3).cast("string")).alias("sheet_name"),
        ck.alias("row_index"),
        F.concat(F.lit("https://jobs.lever.co/co/"), cks).alias("link"),
        F.when(ck % 7 == 0, F.lit("applied")).otherwise(F.lit("saved")).alias("status"),
    )
    queue = cust.filter(ck % 5 == 0).select(
        F.concat(F.lit("Sheet"), (ck % 3).cast("string")).alias("sheet_name"),
        ck.alias("row_index"),
        F.concat(F.lit("https://jobs.lever.co/co/"), cks).alias("url"),
        F.lit("queued").alias("status"),
        # deterministic stagger: FIFO order is (ck % 11, sheet, key)
        F.timestamp_seconds(F.lit(1704067200) + (ck % 11)).alias("enqueued_at"),
    )
    batch = select_batch(queue, 120)
    return tracker.join(
        F.broadcast(batch.select("sheet_name", "row_index", "url")),
        ["sheet_name", "row_index"],
    ).select(
        "sheet_name",
        "row_index",
        "url",
        "link",
        F.col("status").alias("tracker_status"),
    )


QUEUE_TRACKER_LOOKUP_SQL = """
WITH q AS (
  SELECT 'Sheet' || (c_custkey % 3)::VARCHAR AS sheet_name,
         c_custkey AS row_index,
         'https://jobs.lever.co/co/' || c_custkey::VARCHAR AS url,
         c_custkey % 11 AS stagger
  FROM customer WHERE c_custkey % 5 = 0
),
batch AS (
  SELECT * FROM q ORDER BY stagger, sheet_name, row_index LIMIT 120
)
SELECT b.sheet_name,
       b.row_index,
       b.url,
       'https://jobs.lever.co/co/' || b.row_index::VARCHAR AS link,
       CASE WHEN b.row_index % 7 = 0 THEN 'applied' ELSE 'saved' END AS tracker_status
FROM batch b
"""
