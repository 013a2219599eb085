"""Property layer (SURVEY.md §5.2): hypothesis-driven differential
tests. Random inputs, three-way agreement:

- the reference-fidelity extractors (functions/extracts.py), both the
  JVM expressions and their executor-side Python twins, must match a
  literal Python re implementation of app.py:65-87 on arbitrary ASCII
  text (ASCII because Java and Python regexes intentionally differ on
  unicode case folding and non-ASCII digits — the engine mirrors the
  JVM semantics the plan runs on; tests/test_extracts.py compares the
  twins with the JVM beyond ASCII);
- the tie-safe mean (functions/numeric.py) must match exact
  Fraction arithmetic AND its DuckDB SQL twin, including negatives.

Each hypothesis example batches many rows into ONE Spark job so the
property layer stays fast. The Spark-backed tests skip hypothesis'
shrink phase (every shrink step would be another Spark job, so a
failure could shrink for many minutes); their assertions name the
failing input instead.
"""

from __future__ import annotations

import re
from fractions import Fraction

import duckdb
import pytest
from hypothesis import HealthCheck, Phase, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from leadsight_sales_agent_spark.functions.extracts import (
    extract_email,
    extract_founded,
    extract_sentence_near_keyword,
    py_extract_email,
    py_extract_founded,
    py_extract_sentence_near_keyword,
)
from leadsight_sales_agent_spark.functions.numeric import davg, sql_davg

# hypothesis phases for the Spark-backed tests: no shrinking
_NO_SHRINK = [Phase.explicit, Phase.reuse, Phase.generate]

# -- Python re implementations of the reference's exact semantics ------------
# (app.py:65-87: first-match-wins priority patterns, group(0), None on miss)

_FOUNDED_PATS = [
    re.compile(r"Founded (in )?(\d{4})", re.IGNORECASE | re.ASCII),
    re.compile(r"Established (in )?(\d{4})", re.IGNORECASE | re.ASCII),
    re.compile(r"Since (\d{4})", re.IGNORECASE | re.ASCII),
]
_EMAIL_PAT = re.compile(r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]+", re.ASCII)


def py_founded(text: str) -> str | None:
    for p in _FOUNDED_PATS:
        m = p.search(text)
        if m:
            return m.group(0)
    return None


def py_email(text: str) -> str | None:
    m = _EMAIL_PAT.search(text)
    return m.group(0) if m else None


def py_about(text: str) -> str | None:
    m = re.search(r"[^.]*about us[^.]*", text, re.IGNORECASE | re.ASCII)
    if not m:
        return None
    return m.group(0).strip() or None


_ASCII = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=60
)
_SIGNAL = st.sampled_from(
    [
        "Founded in 1999",
        "founded 1888 and ESTABLISHED 2003",
        "Since 2011.",
        "About us: we build rockets. ",
        "mail First.Last+tag@sub.domain.org now",
        "x@y.z",
        "Established in 20",  # too-short year: no match
        "since999",  # no word boundary requirements in reference
        "",
    ]
)
_DOC = st.one_of(
    _ASCII,
    st.tuples(_SIGNAL, _ASCII).map(lambda t: t[0] + " " + t[1]),
    st.tuples(_ASCII, _SIGNAL, _ASCII).map(lambda t: " ".join(t)),
)


class TestExtractorsDifferential:
    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=list(HealthCheck),
        phases=_NO_SHRINK,
    )
    @given(st.lists(_DOC, min_size=1, max_size=40))
    def test_extractors_match_python_reference(self, spark, texts):
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "i INT, text STRING"
        )
        rows = df.select(
            "i",
            extract_founded(F.col("text")).alias("founded"),
            extract_email(F.col("text")).alias("email"),
            extract_sentence_near_keyword(F.col("text"), "about us").alias("about"),
        ).collect()
        got = {r["i"]: (r["founded"], r["email"], r["about"]) for r in rows}
        for i, t in enumerate(texts):
            reference = (py_founded(t), py_email(t), py_about(t))
            twins = (
                py_extract_founded(t),
                py_extract_email(t),
                py_extract_sentence_near_keyword(t, "about us"),
            )
            assert got[i] == reference == twins, (t, got[i], reference, twins)


def _half_away_from_zero(mean: Fraction, scale: int) -> float:
    q = mean * 10**scale
    sign = -1 if q < 0 else 1
    return float(sign * ((abs(q) + Fraction(1, 2)).__floor__())) / 10**scale


class TestTieSafeMeanDifferential:
    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=list(HealthCheck),
        phases=_NO_SHRINK,
    )
    @given(
        st.lists(
            st.decimals(
                min_value=-10_000, max_value=10_000, places=2, allow_nan=False
            ).map(float),
            min_size=1,
            max_size=25,
        )
    )
    def test_davg_matches_fraction_and_duckdb(self, spark, vals):
        # exact expectation: values are 2-place decimals, so their
        # shortest double repr is the decimal itself
        mean = Fraction(sum(Fraction(str(v)) for v in vals), len(vals))
        expected = _half_away_from_zero(mean, 4)

        sdf = spark.createDataFrame([(v,) for v in vals], "x DOUBLE")
        got_spark = sdf.agg(davg(F.col("x"), 4).alias("m")).first()["m"]
        assert got_spark == expected, (vals, got_spark, expected)

        con = duckdb.connect()
        con.execute("CREATE TABLE t(x DOUBLE)")
        con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in vals])
        got_duck = con.execute(f"SELECT {sql_davg('x', 4)} FROM t").fetchone()[0]
        assert got_duck == expected, (vals, got_duck, expected)


class TestHashSamplingProperties:
    """Pure-Python checks of the sampling module's core claims (no
    Spark session needed — these pin the math the operators rely on)."""

    @given(st.integers(min_value=0, max_value=2**32 - 1),
           st.integers(min_value=0, max_value=2**32 - 1))
    def test_hex_string_compare_equals_numeric_compare(self, a, b):
        # fixed-width lowercase hex: lexicographic == numeric — the
        # invariant every hash-threshold sample depends on
        ha, hb = f"{a:08x}", f"{b:08x}"
        assert (ha < hb) == (a < b)

    @given(st.integers(min_value=0, max_value=10**12))
    def test_md5_hex_matches_duckdb_and_spark_convention(self, key):
        # hashlib == DuckDB md5() == Spark md5() for the same UTF-8
        # input (spot-verified cross-engine by the sampling oracles);
        # the sample key derivation must stay plain-string, no casts
        # that could render differently across engines
        import hashlib

        s = f"bern:{key}"
        h = hashlib.md5(s.encode()).hexdigest()
        assert len(h) == 32 and h == h.lower()

    @given(st.integers(min_value=0, max_value=999))
    def test_permille_threshold_monotone_and_bounded(self, rate):
        from leadsight_sales_agent_spark.operators.sampling import PERMILLE_UNIT

        t = rate * PERMILLE_UNIT
        assert 0 <= t < 2**32  # always a valid 8-hex-digit threshold
        # monotone: a higher rate never lowers the threshold
        assert (rate + 1) * PERMILLE_UNIT > t


class TestRenderFunctionParity:
    @given(
        st.lists(
            st.text(
                alphabet=st.characters(
                    codec="ascii", exclude_categories=("Cc",)
                ),
                min_size=0,
                max_size=60,
            ),
            min_size=1,
            max_size=80,
        )
    )
    @settings(
        max_examples=20,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
        phases=_NO_SHRINK,
    )
    def test_html_escape_chain_matches_python_reference(self, spark, texts):
        # The F14 escape chain must equal the literal Python chain
        # (same fixed order: & first so later entities never
        # double-escape) — including on inputs that already contain
        # entities like '&amp;' or lone '&'.
        def py_escape(s: str) -> str:
            for old, new in (
                ("&", "&amp;"),
                ("<", "&lt;"),
                (">", "&gt;"),
                ('"', "&quot;"),
                ("'", "&#39;"),
            ):
                s = s.replace(old, new)
            return s

        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "i INT, snippet STRING"
        )
        esc = F.col("snippet")
        for old, new in (
            ("&", "&amp;"),
            ("<", "&lt;"),
            (">", "&gt;"),
            ('"', "&quot;"),
            ("'", "&#39;"),
        ):
            esc = F.replace(esc, F.lit(old), F.lit(new))
        got = {r["i"]: r["e"] for r in df.select("i", esc.alias("e")).collect()}
        for i, t in enumerate(texts):
            assert got[i] == py_escape(t), (t, got[i])

    @given(st.lists(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=200))
    @settings(
        max_examples=20,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
        phases=_NO_SHRINK,
    )
    def test_byte_pretty_print_integer_tenths(self, spark, sizes):
        # F15: the integer-tenths rendering must equal the Python
        # floor-arithmetic reference at every unit boundary (1023 B,
        # 1.0 KB, 1023.9 KB, 1.0 MB, ...).
        def py_pretty(n: int) -> str:
            if n < 1024:
                return f"{n} B"
            if n < 1048576:
                t = (n * 10) // 1024
                return f"{t // 10}.{t % 10} KB"
            t = (n * 10) // 1048576
            return f"{t // 10}.{t % 10} MB"

        df = spark.createDataFrame(
            [(i, n) for i, n in enumerate(sizes)], "i INT, n_bytes BIGINT"
        )
        tenths_kb = F.expr("(n_bytes * 10) DIV 1024")
        tenths_mb = F.expr("(n_bytes * 10) DIV 1048576")
        rendered = (
            F.when(
                F.col("n_bytes") < 1024,
                F.concat(F.col("n_bytes").cast("string"), F.lit(" B")),
            )
            .when(
                F.col("n_bytes") < 1048576,
                F.concat(
                    (tenths_kb / 10).cast("bigint").cast("string"),
                    F.lit("."),
                    (tenths_kb % 10).cast("string"),
                    F.lit(" KB"),
                ),
            )
            .otherwise(
                F.concat(
                    (tenths_mb / 10).cast("bigint").cast("string"),
                    F.lit("."),
                    (tenths_mb % 10).cast("string"),
                    F.lit(" MB"),
                ),
            )
        )
        got = {r["i"]: r["s"] for r in df.select("i", rendered.alias("s")).collect()}
        for i, n in enumerate(sizes):
            assert got[i] == py_pretty(n), (n, got[i])


class TestHalfUpDivisionDevice:
    """The (2a + b) DIV (2b) half-up quotient is the backbone of every
    basis-point / cents / micro-unit output in the registry (~20
    queries). Pin it against exact Fraction arithmetic, across Spark,
    DuckDB `//`, and Python — one batched Spark job per example."""

    @pytest.fixture(autouse=True)
    def _bind_spark(self, spark):
        self.spark = spark

    @settings(
        max_examples=20,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
        phases=_NO_SHRINK,
    )
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=10**15),
                st.integers(min_value=1, max_value=10**12),
            ),
            min_size=1,
            max_size=50,
        )
    )
    def test_three_way_agreement_with_fraction(self, pairs):
        import duckdb as ddb

        spark = self.spark
        df = spark.createDataFrame(pairs, "a LONG, b LONG").selectExpr(
            "a", "b", "CAST((2 * a + b) DIV (2 * b) AS BIGINT) AS q"
        )
        got = {(r["a"], r["b"]): r["q"] for r in df.collect()}
        con = ddb.connect()
        for a, b in pairs:
            f = Fraction(a, b)
            # round half UP (away from zero for the non-negative domain)
            expect = int(f) + (1 if (f - int(f)) >= Fraction(1, 2) else 0)
            assert got[(a, b)] == expect, (a, b, got[(a, b)], expect)
            (dq,) = con.execute(
                f"SELECT CAST((2*{a}::HUGEINT + {b}) // (2*{b}::HUGEINT) AS BIGINT)"
            ).fetchone()
            assert dq == expect, (a, b, dq, expect)
