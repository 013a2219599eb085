"""Golden-shape + degradation tests for the enrichment pipeline
(operators/enrich.py; reference app.py:278-321 semantics).
"""

from __future__ import annotations

import json
import random
import re

import pandas as pd

from leadsight_sales_agent_spark.functions import transport
from leadsight_sales_agent_spark.operators.enrich import (
    LINKS_SEP,
    LLM_KEYS,
    OUTPUT_COLUMNS,
    REAL_TRANSPORT_ENV,
    _crawl,
    _enrich,
    _mock_llm,
    _mock_page,
    companies_frame,
    enrich_pipeline,
    first_consent_button,
    top_links,
)


class TestCookieConsent:
    """U4 (reference app.py:127-136): keyword-priority first-match."""

    def test_keyword_priority_beats_dom_order(self):
        # 'accept' outranks 'agree' even when the agree-button comes first
        assert first_consent_button(["I Agree", "Accept all"]) == "Accept all"
        # 'agree' outranks 'allow all' the same way
        assert first_consent_button(["Allow All", "I agree"]) == "I agree"

    def test_dom_order_breaks_ties_within_a_keyword(self):
        # reference clicks button.first among same-keyword matches
        assert first_consent_button(["ACCEPT", "Accept all"]) == "ACCEPT"

    def test_case_insensitive_substring_match(self):
        assert first_consent_button(["Do you AGREE?"]) == "Do you AGREE?"

    def test_no_match_returns_none(self):
        assert first_consent_button(["Cookie Settings", "Learn more"]) is None
        assert first_consent_button([]) is None


def toy_companies(spark, n=25):
    rows = [(f"Company {i} Inc", f"https://company-{i}.example.com") for i in range(n)]
    return spark.createDataFrame(rows, "company_name: string, website: string")


class TestMockTransports:
    def test_page_deterministic(self):
        assert _mock_page("https://a.example.com") == _mock_page("https://a.example.com")

    def test_llm_deterministic_and_json(self):
        out = _mock_llm("Acme", "https://acme.example.com", "about acme")
        assert out == _mock_llm("Acme", "https://acme.example.com", "about acme")
        if out and out.startswith("{") and "not valid" not in out:
            assert set(json.loads(out)) == set(LLM_KEYS)


class TestCrawl:
    def test_real_transport_fetches_each_batch_in_two_calls(self, monkeypatch):
        # one HttpFetcher batch for the homepages, one for every subpage
        # of the batch, so concurrency stays bounded per Arrow batch
        calls = []

        def fetch_batch(self, urls):
            calls.append(list(urls))
            return [_mock_page(u) for u in urls]

        sites = ["https://a-co.example.com", "https://b-co.example.com"]
        batch = pd.DataFrame({
            "_row_idx": [0, 1],
            "company_name": ["A Co", "B Co"],
            "website": sites,
            "host": ["a-co.example.com", "b-co.example.com"],
        })
        monkeypatch.setattr(transport.HttpFetcher, "fetch_batch", fetch_batch)
        monkeypatch.setenv(REAL_TRANSPORT_ENV, "1")
        (real,) = _crawl(iter([batch]))
        assert calls[0] == sites
        assert len(calls) == 2 and len(calls[1]) == 6  # top 3 per row
        monkeypatch.delenv(REAL_TRANSPORT_ENV)
        (mock,) = _crawl(iter([batch]))
        assert len(calls) == 2  # the mock path never reaches HttpFetcher
        assert real.equals(mock)
        assert list(real.columns) == ["_row_idx", "company_name", "website", "all_text"]

    def test_page_texts_join_homepage_first_then_rank_order(self):
        # the reference's all_text += " " + sub_text over the ranked links
        site, host = "https://a-co.example.com", "a-co.example.com"
        home = _mock_page(site)
        ranked = top_links(site, host, home.split(LINKS_SEP)[1])
        assert ranked == [f"{site}/about", f"{site}/investor", f"{site}/leadership"]
        batch = pd.DataFrame({
            "_row_idx": [0], "company_name": ["A Co"], "website": [site], "host": [host],
        })
        (out,) = _crawl(iter([batch]))
        pages = [home] + [_mock_page(u) for u in ranked]
        assert out["all_text"][0] == " ".join(p.split(LINKS_SEP)[0] for p in pages)


class TestFusedCrossing:
    def batch(self, names):
        sites = [f"https://co-{i}.example.com" for i in range(len(names))]
        return pd.DataFrame({
            "_row_idx": list(range(len(names))),
            "company_name": names,
            "website": sites,
            "host": [s.split("//")[1] for s in sites],
        })

    def test_output_columns_and_mock_report(self):
        (out,) = _enrich(iter([self.batch(["Acme Corp"])]))
        assert list(out.columns) == [
            "_row_idx", "company_name", "website", "founded", "email", "about", "llm_raw",
        ]
        assert out["about"][0].startswith("About us: Co 0 builds")
        assert out["llm_raw"][0] == _mock_llm(
            "Acme Corp", "https://co-0.example.com", out["about"][0]
        )

    def test_real_transport_llm_path(self, monkeypatch):
        # one client per Arrow batch; one call per named row with its
        # About-Us sentence in the prompt; a raising call nulls only its row
        clients, prompts = [], []
        init = transport.LLMClient.__init__

        def counting_init(self, *a, **k):
            clients.append(self)
            init(self, *a, **k)

        def complete(self, system, user):
            prompts.append(user)
            if user.startswith("Company: Boom"):
                raise RuntimeError("LLM down")
            return '{"executive_brief": "ok"}'

        monkeypatch.setattr(
            transport.HttpFetcher, "fetch_batch", lambda self, urls: [_mock_page(u) for u in urls]
        )
        monkeypatch.setattr(transport.LLMClient, "__init__", counting_init)
        monkeypatch.setattr(transport.LLMClient, "complete", complete)
        monkeypatch.setenv(REAL_TRANSPORT_ENV, "1")
        outs = list(_enrich(iter([
            self.batch(["Acme", "Boom Inc", "Cargo"]), self.batch(["", None]),
        ])))
        assert len(clients) == 2
        first = outs[0]
        assert len(prompts) == 3
        for user, name, site, about in zip(
            prompts, first["company_name"], first["website"], first["about"]
        ):
            assert about and about.startswith("About us:")
            assert user == f"Company: {name}\nWebsite: {site}\nAbout: {about}"
        assert list(first["llm_raw"]) == [
            '{"executive_brief": "ok"}', None, '{"executive_brief": "ok"}',
        ]
        assert list(outs[1]["llm_raw"]) == [None, None]  # nameless rows skip the call
        assert first["founded"].notna().all()  # the failed row keeps its extracts


class TestPipelineShape:
    def test_exact_14_column_contract(self, spark):
        out = enrich_pipeline(spark, toy_companies(spark))
        assert out.columns == OUTPUT_COLUMNS  # order matters (P1)

    def test_row_per_company_and_determinism(self, spark):
        df = toy_companies(spark, 20)
        a = sorted(map(str, enrich_pipeline(spark, df).collect()))
        b = sorted(map(str, enrich_pipeline(spark, df).collect()))
        assert len(a) == 20
        assert a == b

    def test_enrichment_values_present(self, spark, sf_dir):
        # sf0.001 companies (150) are enough to hit every mock path:
        # normal reports, the None path (h%23), the corrupt-JSON path (h%29)
        rows = enrich_pipeline(spark, companies_frame(spark, sf_dir)).collect()
        assert len(rows) == 150
        full = [r for r in rows if all(r[k] is not None for k in LLM_KEYS)]
        degraded = [r for r in rows if all(r[k] is None for k in LLM_KEYS)]
        assert full, "no fully-enriched rows"
        assert degraded, "graceful-degradation rows missing (U2)"
        # degradation must never drop the input columns
        assert all(r["Company Name"] and r["Website"] for r in rows)

    def test_nested_values_reserialized_compactly(self, spark):
        rows = enrich_pipeline(spark, toy_companies(spark, 10)).collect()
        overviews = [r["company_overview"] for r in rows if r["company_overview"]]
        assert overviews
        for o in overviews:
            parsed = json.loads(o)  # nested dict → compact JSON string (F12)
            assert parsed["name"]

    def test_plan_has_one_python_crossing_after_a_round_robin(self, spark):
        # crawl, extracts and LLM call share one mapInPandas, fed by a
        # round-robin over the session's cores; the upload-shaped input's
        # coalesce(1) is dropped under that shuffle
        rows = [(f"Company {i}", f"https://company-{i}.example.com") for i in range(25)]
        out = enrich_pipeline(spark, indexed(spark, rows).coalesce(1))
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert len(re.findall(r"\bMapInPandas\b", plan)) == 1
        assert not re.search(r"\b(ArrowEvalPython|BatchEvalPython)\b", plan)
        assert not re.search(r"InMemory(Relation|TableScan)", plan)
        n = spark.sparkContext.defaultParallelism
        assert len(re.findall(rf"RoundRobinPartitioning\({n}\)", plan)) == 1
        assert "RoundRobinPartitioning(" not in plan.replace(f"RoundRobinPartitioning({n})", "")
        below = plan.split(f"RoundRobinPartitioning({n})", 1)[1]
        assert "Scan ExistingRDD" in below and "Coalesce" not in below


def indexed(spark, rows):
    return spark.createDataFrame(
        [(i, n, w) for i, (n, w) in enumerate(rows)],
        "_row_idx BIGINT, company_name STRING, website STRING",
    )


class TestPerRowCrawl:
    def test_same_name_rows_crawl_their_own_subpages(self, spark):
        # two sheet rows share a name but not a website: each row gets
        # its own top-3 subpages (reference app.py:290 loops per row)
        rows = enrich_pipeline(spark, indexed(spark, [
            ("Acme", "https://acme-one.example.com"),
            ("Acme", "https://acme-two.example.com"),
        ])).collect()
        assert [r["Website"] for r in rows] == [
            "https://acme-one.example.com",
            "https://acme-two.example.com",
        ]
        # "About us: ..." is only on each site's own /about subpage
        assert rows[0]["About Us"].startswith("About us: Acme One builds")
        assert rows[1]["About Us"].startswith("About us: Acme Two builds")


class TestInputOrderIndependence:
    def test_every_column_identical_in_any_row_order(self, spark, sf_dir):
        # homepage first, then subpages in rank order: Founded Info (the
        # first founding sentence of the joined pages) and every other
        # column do not depend on where a company sits in the sheet
        companies = [
            (r["company_name"], r["website"])
            for r in companies_frame(spark, sf_dir).orderBy("_row_idx").collect()
        ]
        shuffled = random.Random(5).sample(companies, len(companies))
        runs = [
            {(r["Company Name"], r["Website"]): list(r) for r in
             enrich_pipeline(spark, indexed(spark, order)).collect()}
            for order in (companies, companies[::-1], shuffled)
        ]
        assert len(runs[0]) == len(companies)
        assert runs[1] == runs[0]
        assert runs[2] == runs[0]
