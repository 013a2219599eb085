"""F6 urljoin fidelity (functions/urls.py vs urllib.parse.urljoin —
reference app.py:160), fidelity of the crawl crossing's link scorer to
the Spark expressions it replaced, and T3 input-order preservation at
the enrich sink (reference app.py:290, 307-310)."""

from __future__ import annotations

from urllib.parse import urljoin

from pyspark.sql import Window
from pyspark.sql import functions as F

from leadsight_sales_agent_spark.functions.extracts import url_host
from leadsight_sales_agent_spark.functions.urls import URLJOIN_CASES, urljoin_udf
from leadsight_sales_agent_spark.operators.enrich import (
    LINK_KEYWORDS,
    companies_frame,
    enrich_pipeline,
    top_links,
)


class TestUrljoinFidelity:
    def test_matches_stdlib_on_adversarial_cases(self, spark):
        df = spark.createDataFrame(URLJOIN_CASES, "case_id INT, base STRING, href STRING")
        got = {
            r["case_id"]: r["resolved"]
            for r in df.select(
                "case_id", urljoin_udf(F.col("base"), F.col("href")).alias("resolved")
            ).collect()
        }
        for case_id, base, href in URLJOIN_CASES:
            assert got[case_id] == urljoin(base, href), (case_id, base, href)

    def test_null_and_empty_inputs_absorbed(self, spark):
        rows = [(1, None, "/x"), (2, "https://a.com", None), (3, None, None), (4, "", "/x")]
        df = spark.createDataFrame(rows, "case_id INT, base STRING, href STRING")
        got = {
            r["case_id"]: r["resolved"]
            for r in df.select(
                "case_id", urljoin_udf(F.col("base"), F.col("href")).alias("resolved")
            ).collect()
        }
        assert got[1] == "/x"      # no base → href passed through
        assert got[2] is None      # no href → null, never an error (U3)
        assert got[3] is None
        assert got[4] == "/x"


class TestInputOrderPreservation:
    def test_output_order_equals_input_order(self, spark, sf_dir):
        companies = companies_frame(spark, sf_dir)
        in_order = [r["company_name"] for r in companies.orderBy("_row_idx").collect()]
        out_order = [r["Company Name"] for r in enrich_pipeline(spark, companies).collect()]
        assert out_order == in_order  # T3: sink keeps sheet order

    def test_row_idx_not_in_output_contract(self, spark, sf_dir):
        out = enrich_pipeline(spark, companies_frame(spark, sf_dir))
        assert "_row_idx" not in out.columns


class TestCacheHygiene:
    def test_repeated_runs_do_not_accumulate_caches(self, spark, sf_dir):
        # the crawl is referenced once in the plan, so nothing is
        # persisted: three runs leave the session's cached RDDs as found
        persistent = spark.sparkContext._jsc.getPersistentRDDs
        before = sorted(persistent().keys())
        for _ in range(3):
            enrich_pipeline(spark, companies_frame(spark, sf_dir)).count()
        assert sorted(persistent().keys()) == before


def spark_top_links(links):
    """Per row, the rank-ordered top-3 URLs as the Spark expressions the
    crawl crossing replaced computed them: explode + trim split (S5, P4),
    urljoin UDF (F6), substring host filter (P5), keyword score (A6,
    P6), row_number() <= 3 per row (T2), then dedup (D1)."""
    pairs = links.select(
        "row",
        "website",
        F.explode(F.split(F.coalesce("links_raw", F.lit("")), ";;")).alias("link"),
    ).select(
        "row",
        "website",
        F.trim(F.get(F.split("link", r"\|"), 0)).alias("anchor"),
        F.trim(F.get(F.split("link", r"\|"), 1)).alias("href"),
    ).filter(F.col("href").isNotNull() & (F.col("href") != ""))
    full_url = F.lower(urljoin_udf.asNondeterministic()(F.col("website"), F.col("href")))
    scored = (
        pairs.withColumn("full_url", full_url)
        .filter(F.col("full_url").contains(url_host(F.col("website"))))
        .withColumn("anchor_lc", F.lower(F.trim("anchor")))
        .withColumn(
            "score",
            sum(
                F.when(F.col("anchor_lc").contains(k), 2).otherwise(0)
                + F.when(F.col("full_url").contains(k), 3).otherwise(0)
                for k in LINK_KEYWORDS
            ),
        )
        .filter(F.col("score") > 0)
    )
    w = Window.partitionBy("row").orderBy(F.desc("score"), F.asc("full_url"))
    top = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .groupBy("row", "full_url")
        .agg(F.min("rn").alias("rn"))
    )
    out: dict[int, list[str]] = {}
    for r in top.orderBy("row", "rn").collect():
        out.setdefault(r["row"], []).append(r["full_url"])
    return out


# (row, website, links_raw): adversarial link lists for the scorer.
SCORER_CASES = [
    # anchors and hrefs padded with spaces, tabs and newlines (Spark's
    # trim strips only spaces)
    (1, "https://acme.com", "  About Us  |  /about  ;;\tLeadership\t|\t/leadership;;"
        "\nWho we are\n|/who\n;;Team| https://acme.com/team "),
    # upper-case hrefs and anchors
    (2, "https://acme.com", "ABOUT|HTTPS://ACME.COM/ABOUT;;Investors|/INVESTOR/Relations"),
    # missing '|', empty href, a third field, an empty entry, and a
    # tab-only href (kept by trim, resolves to the website itself)
    (3, "https://acme.com", "About Us;;Company|;;Profile|/profile|extra;;;;Group| ;;About|\t"),
    # null link list
    (4, "https://acme.com", None),
    # null host: unparseable and null websites
    (5, "not a url", "About|/about;;About|https://acme.com/about"),
    (6, None, "About|https://acme.com/about"),
    # the host only as a substring of another host or of a path
    (7, "https://acme.com", "About|https://notacme.com/about;;"
        "Company|https://evil.example/acme.com/company;;Who|https://other.org/who"),
    # score ties broken by ascending URL, and the cut at three
    (8, "https://acme.com", "Leadership|/leadership;;About|/about;;"
        "Investor|/investor;;Overview|/overview;;Careers|/careers"),
    # one URL twice inside the top 3: the rank is cut before dedup, so
    # only two distinct pages survive and /leadership stays out
    (9, "https://acme.com", "About Us|/about;;About|/about;;Investor|/investor;;"
        "Leadership|/leadership"),
    # relative forms resolved by urljoin, and a non-ASCII anchor
    (10, "https://acme.com/a/b/", "Group|../group;;Profile|//acme.com/profile;;"
         "ÜBER UNS – ABOUT|?q=1"),
]


class TestLinkScorerFidelity:
    def test_python_scorer_matches_spark_expressions(self, spark):
        links = spark.createDataFrame(
            SCORER_CASES, "row INT, website STRING, links_raw STRING"
        ).withColumn("host", url_host(F.col("website")))
        expected = spark_top_links(links)
        got = {
            r["row"]: top_links(r["website"], r["host"], r["links_raw"])
            for r in links.collect()
        }
        assert {k: v for k, v in got.items() if v} == expected
        # the cases exercise what they claim to
        assert got[3] == ["https://acme.com/profile", "https://acme.com"]
        assert got[4] == got[5] == got[6] == []
        assert got[7] == ["https://evil.example/acme.com/company", "https://notacme.com/about"]
        assert got[8] == [
            "https://acme.com/about",
            "https://acme.com/investor",
            "https://acme.com/leadership",
        ]
        assert got[9] == ["https://acme.com/about", "https://acme.com/investor"]
        assert got[10] == [
            "https://acme.com/a/group",
            "https://acme.com/profile",
            "https://acme.com/a/b/?q=1",
        ]
