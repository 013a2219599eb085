"""Unit layer for the reference-fidelity scalar extractors (SURVEY §5.2).

Adversarial inputs per function: empty string, no match, multiple
matches (first wins), pattern priority, case rules, unicode.
Reference semantics: app.py:65-87 (via SURVEY §2.8 F1-F7).
"""

from __future__ import annotations

from hypothesis import HealthCheck, Phase, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from leadsight_sales_agent_spark.functions.extracts import (
    extract_email,
    extract_founded,
    extract_sentence_near_keyword,
    normalize_whitespace,
    py_extract_email,
    py_extract_founded,
    py_extract_sentence_near_keyword,
    py_normalize_whitespace,
    url_host,
)


def apply_one(spark, fn, text):
    df = spark.createDataFrame([(text,)], "t: string")
    return df.select(fn(F.col("t")).alias("out")).first()["out"]


class TestExtractFounded:
    def test_basic(self, spark):
        assert apply_one(spark, extract_founded, "Founded in 1999, we grew.") == "Founded in 1999"

    def test_without_in(self, spark):
        assert apply_one(spark, extract_founded, "Founded 2001") == "Founded 2001"

    def test_case_insensitive(self, spark):
        assert apply_one(spark, extract_founded, "fOuNdEd In 1984") == "fOuNdEd In 1984"

    def test_pattern_priority_founded_beats_established(self, spark):
        # 'Established' appears FIRST in the text, but the Founded pattern
        # has priority (reference app.py:71-75 checks patterns in order)
        text = "Established in 1980. Founded in 1999."
        assert apply_one(spark, extract_founded, text) == "Founded in 1999"

    def test_established(self, spark):
        assert apply_one(spark, extract_founded, "Established 1970 by a family") == "Established 1970"

    def test_since(self, spark):
        assert apply_one(spark, extract_founded, "serving since 1850!") == "since 1850"

    def test_first_match_wins(self, spark):
        text = "Founded in 1999 and Founded in 2005"
        assert apply_one(spark, extract_founded, text) == "Founded in 1999"

    def test_requires_four_digits(self, spark):
        assert apply_one(spark, extract_founded, "Founded in 99") is None

    def test_no_match_is_null(self, spark):
        assert apply_one(spark, extract_founded, "no dates here") is None

    def test_empty_is_null(self, spark):
        assert apply_one(spark, extract_founded, "") is None

    def test_unicode_no_throw(self, spark):
        assert apply_one(spark, extract_founded, "基礎 żółć Founded in 2020 🎉") == "Founded in 2020"


class TestExtractEmail:
    def test_first_match_wins(self, spark):
        text = "write info@x.com or bob@y.org"
        assert apply_one(spark, extract_email, text) == "info@x.com"

    def test_plus_and_dots(self, spark):
        assert apply_one(spark, extract_email, "a.b+c_d%e@sub.domain.io!") == "a.b+c_d%e@sub.domain.io"

    def test_uppercase_allowed_by_class(self, spark):
        # the pattern is case-sensitive but its classes include A-Z
        assert apply_one(spark, extract_email, "INFO@EXAMPLE.COM") == "INFO@EXAMPLE.COM"

    def test_no_tld_no_match(self, spark):
        assert apply_one(spark, extract_email, "user@localhost") is None

    def test_empty_is_null(self, spark):
        assert apply_one(spark, extract_email, "") is None


class TestExtractSentenceNearKeyword:
    def fn(self, c):
        return extract_sentence_near_keyword(c, "about us")

    def test_extracts_dot_delimited_span(self, spark):
        text = "Intro. We are about us experts here. Tail."
        assert apply_one(spark, self.fn, text) == "We are about us experts here"

    def test_case_insensitive(self, spark):
        assert apply_one(spark, self.fn, "ALL ABOUT US TODAY.") == "ALL ABOUT US TODAY"

    def test_first_span_only(self, spark):
        text = "first about us span. second about us span."
        assert apply_one(spark, self.fn, text) == "first about us span"

    def test_no_match_is_null(self, spark):
        assert apply_one(spark, self.fn, "nothing relevant.") is None

    def test_empty_is_null(self, spark):
        assert apply_one(spark, self.fn, "") is None


class TestNormalizeAndHost:
    def test_whitespace_collapse(self, spark):
        assert apply_one(spark, normalize_whitespace, "a\t\n  b \r c") == "a b c"

    def test_url_host(self, spark):
        assert apply_one(spark, url_host, "https://foo.example.com/x/y?z=1") == "foo.example.com"

    def test_url_host_no_scheme_is_null(self, spark):
        assert apply_one(spark, url_host, "not a url") is None


# Characters where Java's ASCII-only regex semantics and Python's default
# Unicode ones part: NBSP and U+2003/U+3000/U+0085/U+001C (Unicode
# whitespace, not Java's \s), full-width digits (Unicode \d), the Kelvin
# sign (folds to k), dotted capital I (lower-cases to i) and long s (folds
# to s); plus ASCII whitespace and the patterns' own letters.
_TRICKY = "\u00a0\u2003\u3000\u0085\u001c\x0b\t\n\r\f １２３４\u212a\u0130\u017f"
_FRAGMENTS = st.sampled_from([
    "Founded in ", "founded ", "ESTABLISHED in ", "Since ", "since",
    "\u017fince ", "E\u017ftabli\u017fhed ", "S\u0130nce ", "Establ\u0130shed ", "about us",
    "ABOUT US", "about\u00a0us", "\u212aelvin", "1999", "１９９９", "20", ". ", ".",
    "info@a-b.example.com", "X_y+z@\u212a.io", "mail@ex.c\u0130m", "  ",
])
_UNICODE = st.text(
    alphabet=st.one_of(
        st.sampled_from(_TRICKY),
        st.characters(blacklist_categories=("Cs",)),  # no lone surrogates
    ),
    max_size=12,
)
_TEXT = st.lists(st.one_of(_FRAGMENTS, _UNICODE), max_size=8).map("".join)


class TestPythonTwinsMatchJvm:
    """The enrichment map runs the Python twins; they must agree with the
    JVM expressions on any text, not only ASCII."""

    # no shrink phase: every example is a Spark job, so shrinking a
    # failure runs for many minutes; the assertion names the failing text
    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=list(HealthCheck),
        phases=[Phase.explicit, Phase.reuse, Phase.generate],
    )
    @given(st.lists(_TEXT, min_size=1, max_size=40))
    def test_unicode_text(self, spark, texts):
        df = spark.createDataFrame(list(enumerate(texts)), "i INT, t STRING")
        t = F.col("t")
        rows = df.select(
            "i",
            normalize_whitespace(t).alias("norm"),
            extract_founded(t).alias("founded"),
            extract_email(t).alias("email"),
            extract_sentence_near_keyword(t, "about us").alias("about"),
        ).collect()
        for r in rows:
            text = texts[r["i"]]
            assert (r["norm"], r["founded"], r["email"], r["about"]) == (
                py_normalize_whitespace(text),
                py_extract_founded(text),
                py_extract_email(text),
                py_extract_sentence_near_keyword(text, "about us"),
            ), repr(text)

    def test_pinned_divergences(self, spark):
        texts = [
            "\u017fince 1999",  # long s: Unicode folding would match Since
            "\u212a and Founded １９９９",  # full-width digits are no \d
            "Since\u00a01999",  # NBSP is no literal space
            "x\u2003\u00a0 about us \u00a0.",  # only spaces are trimmed
            "a\u3000\u0085\u001c b",  # Unicode whitespace stays
            None,
        ]
        df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i INT, t STRING")
        t = F.col("t")
        got = df.select(
            normalize_whitespace(t), extract_founded(t),
            extract_sentence_near_keyword(t, "about us"),
        ).collect()
        assert [tuple(r) for r in got] == [
            (py_normalize_whitespace(x), py_extract_founded(x),
             py_extract_sentence_near_keyword(x, "about us"))
            for x in texts
        ]
        assert [r[1] for r in got[:3]] == [None, None, None]
        assert got[3][2] == "x\u2003\u00a0 about us \u00a0"
        assert got[4][0] == "a\u3000\u0085\u001c b"
