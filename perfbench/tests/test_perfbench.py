"""Tests of the benchmark's own checks and bookkeeping. No Spark needed:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import datagen  # noqa: E402
import record_expected  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
from workloads import Op  # noqa: E402


def _enriched(companies):
    """Fake 14-column output rows for the companies, and the record of
    them indexed by customer key."""
    rows, expected = [], [("", [])] * 100
    for name, site in companies:
        k = checks.company_index(name)
        row = [name, site, f"Founded in {1980 + k}", "About us", *[f"v{k}-{j}" for j in range(9)], None]
        rows.append(row)
        allowed = [row[checks.FOUNDED], f"Established {1970 + k}"]
        expected[k] = (
            checks.row_digest(row, skip=checks.FOUNDED),
            [checks.cell_digest(v) for v in allowed],
        )
    return rows, expected


@pytest.fixture
def sheet():
    companies = datagen.upload_batches(seed=3, pool=50, size=6, count=1)[0]
    rows, expected = _enriched(companies)
    return companies, rows, expected


def _failed(problems) -> int:
    _, failed = run.tally(0, 0, [Op(1.0, 6, 1.0, list(problems))])
    return failed


def test_intact_sheet_passes(sheet):
    companies, rows, expected = sheet
    problems, founded = checks.check_enriched(checks.OUTPUT_COLUMNS, rows, companies, expected)
    assert problems == [] and founded == 0
    assert _failed(problems) == 0


def test_dropped_row_fails(sheet):
    companies, rows, expected = sheet
    problems, _ = checks.check_enriched(checks.OUTPUT_COLUMNS, rows[:3] + rows[4:], companies, expected)
    assert problems
    assert _failed(problems) == 1


def test_swapped_columns_fail(sheet):
    companies, rows, expected = sheet
    header = list(checks.OUTPUT_COLUMNS)
    header[5], header[6] = header[6], header[5]
    swapped = [r[:5] + [r[6], r[5]] + r[7:] for r in rows]
    problems, _ = checks.check_enriched(header, swapped, companies, expected)
    assert problems and _failed(problems) == 1
    # same header, values swapped between two columns
    problems, _ = checks.check_enriched(checks.OUTPUT_COLUMNS, swapped, companies, expected)
    assert problems and _failed(problems) == 1


def test_reordered_rows_fail(sheet):
    companies, rows, expected = sheet
    problems, _ = checks.check_enriched(checks.OUTPUT_COLUMNS, rows[::-1], companies, expected)
    assert problems


def test_other_allowed_founded_info_is_counted_not_failed(sheet):
    companies, rows, expected = sheet
    k = checks.company_index(companies[2][0])
    rows[2] = list(rows[2])
    rows[2][checks.FOUNDED] = f"Established {1970 + k}"
    problems, founded = checks.check_enriched(checks.OUTPUT_COLUMNS, rows, companies, expected)
    assert problems == [] and founded == 1


@pytest.mark.parametrize("value", [None, "", "Established 1901", "Founded in 1899"])
def test_corrupted_founded_info_fails(sheet, value):
    companies, rows, expected = sheet
    rows[2] = list(rows[2])
    rows[2][checks.FOUNDED] = value
    problems, _ = checks.check_enriched(checks.OUTPUT_COLUMNS, rows, companies, expected)
    assert problems and _failed(problems) == 1


def test_founded_choices_follow_pattern_priority():
    pages = [
        "Welcome. Established 1990 here. ||LINKS|| a|b",
        "Founded in 2001, we lead.  Founded in 2002.",
        "Since 1950",
        "Founded   in 2003 too.",
    ]
    patterns = (r"(?i)Founded (in )?(\d{4})", r"(?i)Established (in )?(\d{4})", r"(?i)Since (\d{4})")
    assert record_expected.founded_choices(pages, patterns) == ["Founded in 2001", "Founded in 2003"]
    assert record_expected.founded_choices(pages[:1], patterns) == ["Established 1990"]
    assert record_expected.founded_choices(["Hello ||LINKS|| Founded in 1999"], patterns) == [None]


def test_upload_checks(sheet):
    companies, rows, expected = sheet
    results = [dict(zip(checks.OUTPUT_COLUMNS, r)) for r in rows]
    frames = [("company_done", {})] * len(rows)
    download = (checks.OUTPUT_COLUMNS, rows)
    assert checks.check_upload(200, frames, True, results, download, companies, expected) == ([], 0)
    bad = [
        (409, frames, True, results, download),
        (200, frames[1:], True, results, download),  # a company_done missing
        (200, frames, False, results, download),  # no event: close
        (200, frames, True, results[:-1], download),  # a dropped row
        (200, frames, True, results[::-1], download),  # rows out of order
        (200, frames, True, results, None),  # /download unreadable
        (200, frames, True, results, (checks.OUTPUT_COLUMNS[:13], [r[:13] for r in rows])),
    ]
    for args in bad:
        problems, _ = checks.check_upload(*args, companies, expected)
        assert problems and _failed(problems) == 1


def test_wrong_oracle_hash_fails():
    cols = ["k", "v"]
    spark_rows = [(1, 0.5), (2, 1.5)]
    assert checks.check_oracle_result("q", cols, spark_rows, ["v", "k"], [(1.5, 2), (0.5, 1)]) == []
    problems = checks.check_oracle_result("q", cols, spark_rows, cols, [(1, 0.5), (2, 1.25)])
    assert problems
    _, failed = run.tally(1, int(bool(problems)), [])
    assert failed == 1
    assert checks.check_oracle_result("q", cols, spark_rows, cols, spark_rows[:1])


def test_tally_counts_raised_operations():
    assert run.tally(2, 0, [Op(1.0, 1, 1.0), None]) == (4, 1)


def _benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_printed_metric_names_match_benchmark_json():
    spec = _benchmark_json()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    from workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def test_end_to_end_values_cover_every_metric():
    ops = [Op(2.0, 10, 1.0, cpu_s=5.0), Op(4.0, 10, 3.0, cpu_s=7.0)]
    values = run.end_to_end(2.5, ops)
    assert set(values) == set(run.END_TO_END)
    assert values["setup_s"] == 2.5 and values["op_p50_s"] == 3.0
    assert values["first_result_p50_s"] == 2.0


def test_self_time_subtracts_children():
    spans = [
        {"id": 1, "name": "bench.op", "start": 0.0, "end": 10.0, "parent": None, "op": None},
        {"id": 2, "name": "enrich.exec", "start": 1.0, "end": 7.0, "parent": 1, "op": 1},
        {"id": 3, "name": "excel.write", "start": 5.0, "end": 6.0, "parent": 2, "op": 1},
        {"id": 4, "name": "excel.read", "start": 6.5, "end": 8.0, "parent": 1, "op": 1},
    ]
    got = tracing.self_times(spans)
    assert got == pytest.approx({"bench": 10 - 7.0, "enrich": 5.0, "excel": 2.5})


def test_tail_needs_ten_samples_beyond():
    assert run.tail([1.0] * 19) is None
    t = run.tail([float(i) for i in range(20)])
    assert t["percentile"] == 50 and t["samples"] == 20
    assert run.tail([float(i) for i in range(100)])["percentile"] == 90


def test_inputs_follow_the_seed():
    assert datagen.upload_batches(1, 50, 5, 3) == datagen.upload_batches(1, 50, 5, 3)
    assert datagen.upload_batches(1, 50, 5, 3) != datagen.upload_batches(2, 50, 5, 3)
    a, b = datagen.tables(4, 0.001), datagen.tables(4, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not datagen.tables(5, 0.001)["lineitem"].equals(a["lineitem"])


def test_spans_inherit_parent_and_operation():
    t = tracing.Tracer(enabled=True)
    with t.span("bench.op") as root:
        with t.span("enrich.exec", op=root) as mid:
            with t.span("excel.write"):
                pass
    inner = next(s for s in t.spans if s["name"] == "excel.write")
    assert inner["parent"] == mid and inner["op"] == root
    off = tracing.Tracer(enabled=False)
    with off.span("bench.op") as sid:
        assert sid is None
    assert off.spans == []
