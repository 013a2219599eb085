"""Output checks. Each returns the problems it found; none means a pass.

These are pure functions over plain rows, so the benchmark's tests can
feed them corrupted outputs without a Spark session.
"""

from __future__ import annotations

import hashlib
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED_ROWS = os.path.join(HERE, "expected_rows.txt")

# The enrichment's 14-column output contract (the engine's OUTPUT_COLUMNS).
OUTPUT_COLUMNS = [
    "Company Name", "Website", "Founded Info", "About Us", "company_overview",
    "business_model", "products_services", "operational_footprint",
    "ai_ml_opportunity_map", "leadership", "strategic_developments",
    "strategic_outlook", "executive_brief", "Email",
]
FOUNDED = OUTPUT_COLUMNS.index("Founded Info")
LLM_COLUMNS = OUTPUT_COLUMNS[4:13]


def _cell(v: object) -> str:
    return "\x00" if v is None else str(v)


def row_digest(row: list, skip: int | None = None) -> str:
    vals = [_cell(v) for i, v in enumerate(row) if i != skip]
    return hashlib.sha1("\x1f".join(vals).encode()).hexdigest()[:8]


def cell_digest(v: object) -> str:
    return hashlib.sha1(_cell(v).encode()).hexdigest()[:8]


def company_index(name: str) -> int:
    """``Customer#000000042`` -> 42."""
    return int(name.rsplit("#", 1)[1])


def load_expected(path: str = EXPECTED_ROWS) -> list[tuple[str, list[str]]]:
    """Per company, in customer-key order: (digest of the 13 columns other
    than Founded Info, digests of the Founded Info values its pages can
    yield, the one of the customer-key-order run first). Written by
    ``record_expected.py``."""
    with open(path) as f:
        return [
            (rest, founded.split(","))
            for rest, founded in (line.split() for line in f if line.strip())
        ]


def check_enriched(
    header: list[str],
    rows: list[list],
    companies: list[list[str]],
    expected: list[tuple[str, list[str]]],
) -> tuple[list[str], int]:
    """The 14 OUTPUT_COLUMNS in order, one row per input company in
    input order, each row equal to the recorded one.

    Founded Info is the first founding sentence in the concatenated page
    texts, and the engine concatenates them in an order that depends on
    the input row order. So it must be one of the values the company's
    pages can yield; a row whose value is such a one, but not the one of
    the customer-key-order run, is counted (second return value). Every
    other column must match exactly."""
    problems: list[str] = []
    if list(header) != OUTPUT_COLUMNS:
        problems.append(f"columns {list(header)} != OUTPUT_COLUMNS")
        return problems, 0
    if len(rows) != len(companies):
        problems.append(f"{len(rows)} rows for {len(companies)} companies")
    founded_only = 0
    bad = 0
    for i, (row, comp) in enumerate(zip(rows, companies)):
        if len(row) != len(OUTPUT_COLUMNS) or [row[0], row[1]] != list(comp):
            bad += 1
            if bad <= 3:
                problems.append(f"row {i}: {row[:2]} is not input company {comp}")
            continue
        want_rest, want_founded = expected[company_index(comp[0])]
        founded = cell_digest(row[FOUNDED])
        if row_digest(row, skip=FOUNDED) != want_rest or founded not in want_founded:
            bad += 1
            if bad <= 3:
                problems.append(f"row {i} ({comp[0]}): values differ from the record")
        elif founded != want_founded[0]:
            founded_only += 1
    if bad > 3:
        problems.append(f"... {bad} bad rows in all")
    return problems, founded_only


def llm_ok_frac(rows: list[list]) -> float:
    """Rows whose LLM columns are not all null, over all rows."""
    if not rows:
        return 0.0
    idx = [OUTPUT_COLUMNS.index(c) for c in LLM_COLUMNS]
    ok = sum(1 for r in rows if any(r[i] is not None for i in idx))
    return ok / len(rows)


def check_upload(
    status: int,
    frames: list[tuple[str, dict]],
    closed: bool,
    results: list[dict],
    download: tuple[list[str], list[list]] | None,
    companies: list[list[str]],
    expected: list[tuple[str, list[str]]],
) -> tuple[list[str], int]:
    """One upload round trip: 200 on /upload, an SSE stream that ends
    with ``event: close``, one ``company_done`` per row, /results equal to
    the enriched rows in input order, /download a 14-column workbook
    holding the same rows. Also returns the /results rows whose Founded
    Info is another allowed value than the recorded one (see
    check_enriched)."""
    problems: list[str] = []
    if status != 200:
        problems.append(f"/upload returned {status}")
    if not closed:
        problems.append("SSE stream did not end with event: close")
    done = sum(1 for kind, _ in frames if kind == "company_done")
    if done != len(companies):
        problems.append(f"{done} company_done events for {len(companies)} companies")
    if any(kind == "error" for kind, _ in frames):
        problems.append("job reported an error event")
    as_rows = [[r.get(c) for c in OUTPUT_COLUMNS] for r in results]
    if results and list(results[0]) != OUTPUT_COLUMNS:
        problems.append(f"/results keys {list(results[0])} != OUTPUT_COLUMNS")
    p, founded = check_enriched(OUTPUT_COLUMNS, as_rows, companies, expected)
    problems += [f"/results: {x}" for x in p]
    if download is None:
        problems.append("/download did not return a workbook")
    else:
        header, rows = download
        if len(header) != 14:
            problems.append(f"/download has {len(header)} columns, not 14")
        p, _ = check_enriched(header, rows, companies, expected)
        problems += [f"/download: {x}" for x in p]
    return problems, founded


def _check_oracle():
    """``tools/check_oracle.py`` of the checkout, imported for its
    normalisation (norm_cell / normalize / type_class)."""
    root = os.path.dirname(HERE)
    if root not in sys.path:
        sys.path.insert(0, root)
    from tools import check_oracle

    return check_oracle


def value_hash(rows: list, cols: list[str]) -> str:
    """Order-insensitive hash of a result: the oracle gate's normalised
    multiset of rows, hashed."""
    norm = _check_oracle().normalize(rows, cols)
    return hashlib.sha256("\n".join(norm).encode()).hexdigest()[:16]


def check_oracle_result(
    name: str,
    spark_cols: list[str],
    spark_rows: list,
    oracle_cols: list[str],
    oracle_rows: list,
) -> list[str]:
    """Row count, column names and value hash equal on both engines."""
    problems: list[str] = []
    if len(spark_rows) != len(oracle_rows):
        problems.append(f"{name}: rowcount spark={len(spark_rows)} duckdb={len(oracle_rows)}")
    if sorted(spark_cols) != sorted(oracle_cols):
        problems.append(f"{name}: columns {sorted(spark_cols)} != {sorted(oracle_cols)}")
    elif value_hash(spark_rows, spark_cols) != value_hash(oracle_rows, oracle_cols):
        problems.append(f"{name}: value hash differs from the DuckDB oracle")
    return problems
