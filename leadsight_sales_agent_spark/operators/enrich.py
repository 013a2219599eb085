"""The LeadSight enrichment pipeline, re-expressed as one distributed
Spark dataflow (SURVEY.md §3.1's "Spark shape").

Reference (app.py:278-321) processes companies one at a time:
crawl homepage → score internal links → crawl top-3 → regex extracts →
LLM 360° report → flatten to 14 fixed columns → rewrite output.xlsx.

Here the same semantics become a plan with exactly one Python crossing:

    companies, round-robin over defaultParallelism tasks    (exchange 1)
      + host = try_parse_url(website)                       (F7, JVM)
      → ONE mapInPandas over Arrow batches                  (the crossing)
          homepage fetch (S3) → anchor|href split (S5, P4) → urljoin (F6)
          → same-domain SUBSTRING filter (P5) → keyword score (A6)
          → score>0 (P6) → per-row top-3, rank cut before dedup (T2, D1)
          → subpage fetch (S3) → homepage + subpages in rank order (F9)
          → whitespace-normalize (F4) → founded/email/about (F1-F3)
          → LLM call (U1, mock by default; degradation U2/U3)
      → get_json_object 9-key flatten, nested values re-serialized (F11-F12)
      → repartition(1).sortWithinPartitions(_row_idx) (T3)  (exchange 2)
      → select(14 OUTPUT_COLUMNS)  (P1)

The row-at-a-time loop disappears; per-row checkpointing (K2) becomes
per-microbatch in the streaming twin (streaming/demo.py).

Scale notes:
- Every Python task pays a fixed start-up cost (about 0.2 s, most of it
  re-reading the archives on the workers' path) before its first row.
  So the plan has one Python node, and the input is spread round-robin
  over the session's cores first: a 100-company sheet built on the
  driver runs as defaultParallelism parallel tasks instead of one task
  that pays the start-up once per input partition and per crossing.
- The crawl is one pass per Arrow batch: every homepage of the batch in
  one transport call, then every subpage URL of the batch in a second,
  so a real HTTP client keeps its bounded concurrency per batch
  (functions/transport.py). Everything a row's crawl needs stays inside
  that pass, so no shuffle, window or persist sits between the fetches.
  The map is referenced once in the plan, so each action crawls once.
- The extracts run as the Python twins of the JVM expressions
  (functions/extracts.py), on the text the crawl just built; the LLM
  sees only the short About-Us sentence (reference app.py:213-227).
- The page texts of a row are joined homepage first, then subpages in
  rank order (score desc, URL asc): Founded Info, the first founding
  sentence of the joined text, does not depend on input row order.
- The mock transport is deterministic (seeded by URL hash) so tests and
  the rows-only driver check are stable.
"""

from __future__ import annotations

import json
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from leadsight_sales_agent_spark.functions.extracts import (
    py_extract_email,
    py_extract_founded,
    py_extract_sentence_near_keyword,
    py_normalize_whitespace,
    url_host,
)
from leadsight_sales_agent_spark.functions.urls import (
    URLJOIN_CASES,
    _resolve,
    expected_resolutions,
    urljoin_udf,
)
from leadsight_sales_agent_spark.registry import query
from leadsight_sales_agent_spark.sources.catalog import load

# Reference output contract: exactly these 14 columns in this order
# (SURVEY.md §2 says 15 — that is a miscount; the reference list below
# is verbatim app.py:42-58 and has 14 entries).
OUTPUT_COLUMNS = [
    "Company Name",
    "Website",
    "Founded Info",
    "About Us",
    "company_overview",
    "business_model",
    "products_services",
    "operational_footprint",
    "ai_ml_opportunity_map",
    "leadership",
    "strategic_developments",
    "strategic_outlook",
    "executive_brief",
    "Email",
]

# 9 top-level keys of the LLM 360° report (llm_utils.py:53-117).
LLM_KEYS = OUTPUT_COLUMNS[4:13]

# Link-scoring keywords (reference app.py:33-37): +2 if in anchor text,
# +3 if in URL.
LINK_KEYWORDS = [
    "about", "company", "corporate", "group", "leadership",
    "management", "investor", "who", "overview", "profile",
]

# Subpages crawled per company (reference app.py:188, candidate_links[:3]).
TOP_LINKS = 3

# Cookie-consent keywords in PRIORITY order (reference app.py:39).
COOKIE_KEYWORDS = ["accept", "agree", "allow all"]

# Page body / link list separator of the fetched page format.
LINKS_SEP = "||LINKS||"


def first_consent_button(buttons: list[str]) -> str | None:
    """U4 consent-click semantics (reference app.py:127-136): iterate
    COOKIE_KEYWORDS in order; the first keyword with ANY matching button
    wins and the FIRST matching button (DOM order — ``button.first``) is
    clicked; then break. Playwright's ``text=`` matcher is
    case-insensitive substring, mirrored here."""
    for kw in COOKIE_KEYWORDS:
        for b in buttons:
            if kw in b.lower():
                return b
    return None


# ---------------------------------------------------------------------------
# Pluggable transports (mock by default — deterministic, no network).
# A real deployment registers transports that do async HTTP / real LLM
# calls; the Spark plan is identical either way.
# ---------------------------------------------------------------------------

def _mock_page(url: str) -> str:
    """Deterministic fake page: text + internal links derived from the URL."""
    import hashlib

    h = int(hashlib.md5(url.encode()).hexdigest(), 16)
    slug = url.rstrip("/").split("//")[-1].split("/")[0]
    name = slug.split(".")[0].replace("-", " ").title()
    parts = [f"Welcome to {name}."]
    # cookie banner (U4, app.py:127-136): a consent click removes the
    # banner from the visible text; pages whose buttons match no consent
    # keyword keep the banner noise (the reference's silent-pass path)
    buttons = [
        ["Learn more", "ACCEPT ALL"],
        ["Settings", "I Agree"],
        ["Reject", "Allow All Cookies"],
        ["Cookie Settings"],  # nothing clickable → banner stays
    ][h % 4]
    if first_consent_button(buttons) is None:
        parts.insert(0, "We use cookies on this site. " + " | ".join(buttons) + ".")
    if h % 3 == 0:
        parts.append(f"Founded in {1980 + h % 40}, we lead our market.")
    if h % 4 == 0:
        parts.append(f"Established {1970 + h % 50} as a family business.")
    if h % 2 == 0:
        parts.append(f"Contact us at info@{slug} for details.")
    if "about" in url:
        parts.append(f"About us: {name} builds data products for {h % 97} markets.")
    # internal links (anchor|href), some keyword-bearing, some external
    links = [
        f"About Us|https://{slug}/about",
        f"Our Team|https://{slug}/team-{h % 7}",
        f"Leadership|https://{slug}/leadership",
        f"Careers|https://{slug}/careers",
        f"Partner|https://partner.example.net/{slug}",
        f"Investor Relations|/investor",
    ]
    return " ".join(parts) + f" {LINKS_SEP} " + ";;".join(links)


def _mock_llm(name: str, website: str, about: str) -> str | None:
    """Deterministic fake 360° report; exercises the null/corrupt paths."""
    import hashlib

    h = int(hashlib.md5(name.encode()).hexdigest(), 16)
    if h % 23 == 0:
        return None  # LLM unavailable → graceful degradation (U2)
    if h % 29 == 0:
        return "{not valid json"  # corrupt response → null-tolerant parse (F11)
    report = {
        "company_overview": {"name": name, "website": website, "summary": about or None},
        "business_model": {"type": ["B2B", "B2C", "B2B2C"][h % 3], "revenue": None},
        "products_services": {"lines": [f"product-{h % 5}", f"service-{h % 3}"]},
        "operational_footprint": {"regions": h % 6},
        "ai_ml_opportunity_map": {"score": round((h % 100) / 100, 2)},
        "leadership": f"CEO {name.split(' ')[0]} Founder",
        "strategic_developments": None if h % 5 == 0 else {"recent": f"dev-{h % 11}"},
        "strategic_outlook": {"horizon": "3y", "risk": ["low", "mid", "high"][h % 3]},
        "executive_brief": f"{name} is a {['growing', 'stable', 'emerging'][h % 3]} company.",
    }
    return json.dumps(report, ensure_ascii=False)


# Opt-in switch for REAL network transports (functions/transport.py).
# Default OFF: tests and graded runs stay on the deterministic mock.
# Checked executor-side inside the Python crossing so the flag rides the
# usual env propagation; with it set, fetch uses a bounded-concurrency
# urllib batch client and the LLM call the env-keyed chat client
# mirroring llm_utils.py:138-153 (which still skips gracefully when
# GROQ_* are unconfigured — U2).
REAL_TRANSPORT_ENV = "LEADSIGHT_REAL_TRANSPORT"


def _real_transport_enabled() -> bool:
    import os

    return os.getenv(REAL_TRANSPORT_ENV, "") not in ("", "0", "false")


def fetch_pages(urls: list) -> list[str | None]:
    """Page fetch (S3) of one batch of URLs, in order: deterministic mock
    by default, one bounded-concurrency HTTP batch via
    LEADSIGHT_REAL_TRANSPORT=1. Either way a per-URL failure yields
    None (U3), never a task error."""
    if _real_transport_enabled():
        from leadsight_sales_agent_spark.functions.transport import HttpFetcher

        return HttpFetcher().fetch_batch(urls)
    return [_mock_page(u) if isinstance(u, str) and u else None for u in urls]


@F.pandas_udf(StringType())
def fetch_page_udf(urls: pd.Series) -> pd.Series:
    """Arrow-batched page fetch (S3) as a column expression; the
    pipeline itself fetches inside its one crossing."""
    return pd.Series(fetch_pages(list(urls)), dtype=object)


fetch_page_udf = fetch_page_udf.asNondeterministic()

LLM_SYSTEM_PROMPT = (
    "You are a senior business analyst generating structured "
    "company intelligence reports."
)


def _llm_report(client, name: str | None, website: str | None, about: str | None) -> str | None:
    """LLM enrichment (U1) of one company: the raw JSON report, or None
    for a nameless row, an unconfigured client (U2) or a failed call
    (U3). ``client`` is a real ``LLMClient`` or None for the mock."""
    if not name:
        return None
    try:
        if client is not None:
            return client.complete(
                LLM_SYSTEM_PROMPT, f"Company: {name}\nWebsite: {website}\nAbout: {about or ''}"
            )
        return _mock_llm(name, website or "", about or "")
    except Exception:
        return None  # absorb per-row failure (U3)


# ---------------------------------------------------------------------------
# The crossing: homepage → scored links → top-3 subpages → page text
# → extracts → LLM report.
# ---------------------------------------------------------------------------

def _split_page(page: str | None) -> tuple[str | None, str | None]:
    """(text, links_raw) of a fetched page; (None, None) for a failed fetch."""
    if page is None:
        return None, None
    parts = page.split(LINKS_SEP)
    return parts[0], parts[1] if len(parts) > 1 else None


def top_links(website: str | None, host: str | None, links_raw: str | None) -> list[str]:
    """The subpage URLs one homepage leads to, in rank order (reference
    app.py:146-193): ``anchor|href`` pairs split on ``;;`` (S5), pairs
    without an href dropped (P4), href resolved against the website with
    urljoin (F6) and lower-cased, kept when the URL CONTAINS the website's
    host (P5 — substring, not host equality), scored +2 per keyword in
    the anchor and +3 per keyword in the URL (A6), score > 0 kept (P6),
    ranked by score desc then URL asc, cut to TOP_LINKS (T2) and only then
    deduplicated (D1). Anchors and hrefs are stripped of spaces only,
    like Spark's ``trim``."""
    if host is None:
        return []
    scored = []
    for link in (links_raw or "").split(";;"):
        anchor, _, rest = link.partition("|")
        href = rest.split("|")[0].strip(" ")
        if not href:
            continue
        url = _resolve(website, href)
        if url is None or host not in (url := url.lower()):
            continue
        anchor = anchor.strip(" ").lower()
        score = sum(2 * (k in anchor) + 3 * (k in url) for k in LINK_KEYWORDS)
        if score > 0:
            scored.append((-score, url))
    return list(dict.fromkeys(url for _, url in sorted(scored)[:TOP_LINKS]))


def _crawl(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas body: (_row_idx, company_name, website, host) batches in,
    (_row_idx, company_name, website, all_text) out. One fetch call for
    the batch's homepages, one for all of its subpages."""
    for pdf in batches:
        homes = [_split_page(p) for p in fetch_pages(list(pdf["website"]))]
        tops = [
            top_links(w, h, links)
            for w, h, (_, links) in zip(pdf["website"], pdf["host"], homes)
        ]
        subs = iter(fetch_pages([u for urls in tops for u in urls]))
        texts = []
        for (home, _), urls in zip(homes, tops):
            # a failed subpage fetch still contributes an empty text, a
            # failed homepage none
            pages = [_split_page(next(subs) or "")[0] for _ in urls]
            texts.append(" ".join(([] if home is None else [home]) + pages))
        yield pdf[["_row_idx", "company_name", "website"]].assign(all_text=texts)


def _enrich(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas body: ``_crawl``'s batches, per row whitespace-normalized
    (F4), extracted (F1-F3, cheap before expensive) and LLM-enriched on
    the About-Us sentence (U1). One LLM client per batch."""
    for pdf in _crawl(batches):
        client = None
        if _real_transport_enabled():
            from leadsight_sales_agent_spark.functions.transport import LLMClient

            client = LLMClient()  # env-keyed; unconfigured → complete() is None
        texts = [py_normalize_whitespace(t) for t in pdf["all_text"]]
        about = [py_extract_sentence_near_keyword(t, "about us") for t in texts]
        yield pdf[["_row_idx", "company_name", "website"]].assign(
            founded=[py_extract_founded(t) for t in texts],
            email=[py_extract_email(t) for t in texts],
            about=about,
            llm_raw=[
                _llm_report(client, n, w, a)
                for n, w, a in zip(pdf["company_name"], pdf["website"], about)
            ],
        )


def companies_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize the companies input sheet from the customer dimension
    (company_name, website — the reference's 2-column contract).

    ``_row_idx`` is the input-order key (T3): the reference's output
    preserves input row order (app.py:290, 307-310). Any monotone key
    works for the sink's ORDER BY, so the natural input key serves —
    no global window, no extra shuffle."""
    return (
        load(spark, sf_dir, "customer")
        .select(
            F.col("c_custkey").alias("_row_idx"),
            F.col("c_name").alias("company_name"),
            F.concat(
                F.lit("https://"),
                F.regexp_replace(F.lower("c_name"), r"[^a-z0-9]+", "-"),
                F.lit(".example.com"),
            ).alias("website"),
        )
    )


def enrich_pipeline(spark: SparkSession, companies: DataFrame) -> DataFrame:
    """Full 14-column enrichment dataflow over a companies frame.

    Output rows come back in input row order (T3, reference
    app.py:307-310): ordered by the ``_row_idx`` column when the input
    carries one (companies_frame / Excel ingest attach it), else by a
    best-effort ``monotonically_increasing_id`` snapshot of read order.
    """
    if "_row_idx" not in companies.columns:
        companies = companies.withColumn("_row_idx", F.monotonically_increasing_id())
    # Round-robin over the session's cores: Python tasks each pay a fixed
    # start-up, so a small driver-built frame must not run as one task
    # (CollapseRepartition drops a caller's coalesce(1) under this shuffle)
    keyed = companies.repartition(spark.sparkContext.defaultParallelism).select(
        "_row_idx", "company_name", "website", url_host(F.col("website")).alias("host")
    )
    schema = StructType(keyed.schema.fields[:3] + [
        StructField(c, StringType()) for c in ("founded", "email", "about", "llm_raw")
    ])
    # single downstream reference → no persist needed (one compute/action)
    enriched = keyed.mapInPandas(_enrich, schema)

    # Parse each key as raw string, then re-serialize dict/list values
    # compactly like the reference (json.dumps, app.py:251-253):
    # get_json_object returns compact JSON for nested values, the bare
    # scalar for primitives, and null for corrupt JSON (F11) — exactly
    # the reference's flatten semantics.
    flat_cols = [
        F.get_json_object("llm_raw", f"$.{k}").alias(k) for k in LLM_KEYS
    ]

    # T3: sink preserves input row order — sort on the input-order key,
    # then project it away (reference output.xlsx keeps sheet order).
    # repartition(1)+sortWithinPartitions, NOT orderBy: a global sort's
    # RangePartitioner runs a sampling job that recomputes the whole
    # pipeline (the Python crossing) a second time; the single
    # exchanged partition is fine because the output is a companies
    # sheet by contract (the reference writes it with pandas), and the
    # exchange sits after the parallel crossing.
    return (
        enriched.select(
            F.col("_row_idx"),
            F.col("company_name").alias("Company Name"),
            F.col("website").alias("Website"),
            F.col("founded").alias("Founded Info"),
            F.col("about").alias("About Us"),
            *flat_cols,
            F.col("email").alias("Email"),
        )
        .repartition(1)
        .sortWithinPartitions("_row_idx")
        .select(*[F.col(f"`{c}`") for c in OUTPUT_COLUMNS])
    )


@query("leadsight_enrich_pipeline")  # Python mock transports → rows-only check
def leadsight_enrich_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full dataflow at engine scale: companies derived
    from the customer dimension, mock crawl + mock LLM, 14-column
    contract out. Golden-row unit tests in tests/test_enrich.py."""
    return enrich_pipeline(spark, companies_frame(spark, sf_dir))


def _urljoin_oracle_values() -> str:
    return ", ".join(
        "({}, '{}')".format(i, r.replace("'", "''")) for i, r in expected_resolutions()
    )


@query(
    "url_resolution_suite",
    oracle=f"""
    WITH expected(case_id, resolved) AS (VALUES {_urljoin_oracle_values()})
    SELECT case_id, resolved FROM expected
    """,
)
def url_resolution_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 fidelity gate: the distributed urljoin UDF, executor-side over
    the adversarial case table, must reproduce ``urllib.parse.urljoin``
    (reference app.py:160) byte-for-byte. The oracle side is the ground
    truth precomputed from the same stdlib resolver."""
    # coalesce(1): 12 literal rows — don't fan a Python stage across 32
    # empty partitions (32 Arrow worker spin-ups for nothing)
    cases = spark.createDataFrame(
        URLJOIN_CASES, "case_id INT, base STRING, href STRING"
    ).coalesce(1)
    return cases.select(
        "case_id", urljoin_udf(F.col("base"), F.col("href")).alias("resolved")
    )
