"""Re-record ``expected_rows.txt``, the enrichment output the
``serve_upload`` checks compare against.

    python3 perfbench/record_expected.py

Run from a checkout root. It enriches the 15,000-company sheet in
customer-key order (xlsx in, ``enrich_pipeline``, xlsx out) and writes,
per company, the digest of its 13 columns other than Founded Info and
the digests of every Founded Info value the company's pages can yield,
the one of the key-order run first.

Founded Info is the first founding sentence of the concatenated page
texts, and the engine concatenates a company's pages in an order that
depends on the input row order. So the values it may take are derived
from the pages themselves: the homepage and its top-3 links, fetched
through the engine's own fetch and urljoin UDF functions. The record is
refused unless two more enrichments, in reversed and in shuffled row
order, agree on the 13 other columns and keep every Founded Info value
among the derived ones. Re-record only when the engine's enrichment
output is meant to change, and say so in the change that does it.
"""

from __future__ import annotations

import os
import random
import re
import shutil
import sys

import checks
import datagen
import run

LINKS_SEP = "||LINKS||"


def crawled_pages(website: str, fetch, urljoin, keywords: list[str]) -> list[str]:
    """The homepage and the top-3 keyword-scored same-domain links it
    leads to, as the enrichment picks them (score, then URL)."""
    home = fetch([website])[0] or ""
    _, _, links_raw = home.partition(LINKS_SEP)
    pairs = [link.split("|") for link in links_raw.split(";;")]
    anchors = [p[0].strip() for p in pairs]
    hrefs = [p[1].strip() if len(p) > 1 else "" for p in pairs]
    keep = [i for i, h in enumerate(hrefs) if h]
    full = urljoin([website] * len(keep), [hrefs[i] for i in keep])
    domain = re.sub(r"^[a-z]+://", "", website).split("/")[0]
    scored = []
    for i, url in zip(keep, full):
        url = (url or "").lower()
        if domain not in url:
            continue
        anchor = anchors[i].lower()
        score = sum(2 * (k in anchor) + 3 * (k in url) for k in keywords)
        if score > 0:
            scored.append((-score, url))
    top = list(dict.fromkeys(url for _, url in sorted(scored)[:3]))
    return [home] + [p or "" for p in fetch(top)]


def founded_choices(pages: list[str], patterns: tuple[str, ...]) -> list[str | None]:
    """Every value the first-match-by-priority extraction can return for
    some order of the pages: the first match of the highest-priority
    pattern that matches any page, taken in each page that it matches."""
    texts = [re.sub(r"\s+", " ", p.split(LINKS_SEP)[0]) for p in pages]
    for pat in patterns:
        found = [m.group(0) for m in (re.search(pat, t) for t in texts) if m]
        if found:
            return list(dict.fromkeys(found))
    return [None]


def main() -> int:
    root = os.getcwd()
    work = os.path.join(root, run.WORK_DIR, "record")
    cpus = run._setup_env(root, work)

    from leadsight_sales_agent_spark.functions.extracts import FOUNDED_PATTERNS
    from leadsight_sales_agent_spark.functions.urls import urljoin_udf
    from leadsight_sales_agent_spark.operators.enrich import (
        LINK_KEYWORDS, OUTPUT_COLUMNS, enrich_pipeline, fetch_page_udf,
    )
    from leadsight_sales_agent_spark.session import get_spark
    from leadsight_sales_agent_spark.sources import excel

    import pandas as pd

    def fetch(urls):
        return list(fetch_page_udf.func(pd.Series(urls, dtype=object)))

    def urljoin(bases, hrefs):
        return list(urljoin_udf.func(pd.Series(bases, dtype=object), pd.Series(hrefs, dtype=object)))

    names = datagen.customer_names(15_000)
    rows = [[n, datagen.website(n)] for n in names]
    choices = [
        founded_choices(crawled_pages(site, fetch, urljoin, LINK_KEYWORDS), FOUNDED_PATTERNS)
        for _, site in rows
    ]
    src, dst = os.path.join(work, "in.xlsx"), os.path.join(work, "out.xlsx")
    spark = get_spark("perfbench-record", cpus=cpus)
    try:
        excel.write_excel_rows(src, ["company_name", "website"], rows)
        out = enrich_pipeline(spark, excel.read_excel(spark, src))
        excel.write_excel(out, dst, OUTPUT_COLUMNS)
        header, got = excel.read_excel_rows(dst)
        others = []
        for order in (rows[::-1], random.Random(7).sample(rows, len(rows))):
            frame = spark.createDataFrame(
                [[i, *r] for i, r in enumerate(order)],
                "_row_idx BIGINT, company_name STRING, website STRING",
            )
            others.append([list(r) for r in enrich_pipeline(spark, frame).collect()])
    finally:
        run._stop_spark(spark)
    if header != checks.OUTPUT_COLUMNS or [r[0] for r in got] != names:
        print("record_expected: output is not one row per company in order", file=sys.stderr)
        return 1
    by_name = {r[0]: r for r in got}
    bad = 0
    for other in others:
        for r in other:
            k = checks.company_index(r[0])
            same = checks.row_digest(r, skip=checks.FOUNDED) == checks.row_digest(
                by_name[r[0]], skip=checks.FOUNDED
            )
            bad += not same or r[checks.FOUNDED] not in choices[k]
    bad += sum(r[checks.FOUNDED] not in choices[i] for i, r in enumerate(got))
    if bad:
        print(f"record_expected: {bad} rows outside the derived record", file=sys.stderr)
        return 1
    with open(checks.EXPECTED_ROWS, "w") as f:
        for r, allowed in zip(got, choices):
            first = r[checks.FOUNDED]
            digests = [checks.cell_digest(v) for v in [first, *(v for v in allowed if v != first)]]
            f.write(f"{checks.row_digest(r, skip=checks.FOUNDED)} {','.join(digests)}\n")
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
