"""Excel ingest/egress (reference S1/K1: ``pd.read_excel("companies.xlsx")``
app.py:282, server.py:217; ``.to_excel("output.xlsx")`` app.py:307-310,
server.py:247-248).

The reference's whole I/O story is a 2-column .xlsx in and a 14-column
.xlsx out. This container has no openpyxl, so this module implements the
small needed subset of the public OOXML spreadsheet format (ECMA-376:
a zip of XML parts) with the stdlib only:

- **read**: first worksheet → list of rows; supports shared strings
  (``t="s"`` — what pandas/openpyxl emit), inline strings
  (``t="inlineStr"``), formula-cached strings (``t="str"``), booleans
  and numbers; header row becomes column names.
- **write**: one worksheet, inline strings (self-contained, no
  sharedStrings part), numbers as numbers, None as blank.

Scale note: spreadsheets are a DRIVER-SIDE format by contract — the
reference itself reads the sheet into a single pandas frame. The
distributed path is ``read_excel_many`` (an executor parse over a
binaryFile scan); ``read_excel`` attaches the ``_row_idx`` input-order
key so the enrich sink can preserve sheet order (T3).
"""

from __future__ import annotations

import re
import zipfile
from xml.etree import ElementTree as ET
from xml.sax.saxutils import escape

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StringType, StructField, StructType

_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_CELL_REF = re.compile(r"([A-Z]+)([0-9]+)")

# The reference's input contract (P3, server.py:309-313).
REQUIRED_COMPANY_COLUMNS = ("company_name", "website")


def _col_index(ref: str) -> int:
    """'A'→0, 'Z'→25, 'AA'→26 … (cell-reference column letters)."""
    m = _CELL_REF.match(ref)
    letters = m.group(1) if m else "A"
    idx = 0
    for ch in letters:
        idx = idx * 26 + (ord(ch) - ord("A") + 1)
    return idx - 1


def _shared_strings(zf: zipfile.ZipFile) -> list[str]:
    try:
        data = zf.read("xl/sharedStrings.xml")
    except KeyError:
        return []
    root = ET.fromstring(data)
    out = []
    for si in root.findall(f"{_NS}si"):
        # an <si> is either one <t> or a sequence of rich-text runs <r><t>
        out.append("".join(t.text or "" for t in si.iter(f"{_NS}t")))
    return out


def _first_sheet_path(zf: zipfile.ZipFile) -> str:
    names = zf.namelist()
    if "xl/worksheets/sheet1.xml" in names:
        return "xl/worksheets/sheet1.xml"
    sheets = sorted(n for n in names if n.startswith("xl/worksheets/sheet"))
    if not sheets:
        raise ValueError("no worksheet found in workbook")
    return sheets[0]


# Driver-side parse cap: one sheet of the reference's shape is a few
# hundred KB; anything bigger than this belongs on the executors
# (read_excel_many). 64 MB of OOXML is roughly a million rows — far
# past "one uploaded sheet".
MAX_DRIVER_XLSX_BYTES = 64 * 1024 * 1024


def read_excel_rows(src) -> tuple[list[str], list[list[object]]]:
    """Parse the first worksheet → (header, data rows). ``src`` is a
    filesystem path or a binary file-like (the executor path hands in
    BytesIO over a binaryFile scan's content column)."""
    with zipfile.ZipFile(src) as zf:
        shared = _shared_strings(zf)
        root = ET.fromstring(zf.read(_first_sheet_path(zf)))
        rows: list[list[object]] = []
        for row_el in root.iter(f"{_NS}row"):
            row: list[object] = []
            for c in row_el.findall(f"{_NS}c"):
                idx = _col_index(c.get("r", "A"))
                while len(row) < idx:
                    row.append(None)
                ctype = c.get("t", "n")
                v_el = c.find(f"{_NS}v")
                if ctype == "inlineStr":
                    is_el = c.find(f"{_NS}is")
                    val: object = (
                        "".join(t.text or "" for t in is_el.iter(f"{_NS}t"))
                        if is_el is not None
                        else None
                    )
                elif v_el is None or v_el.text is None:
                    val = None
                elif ctype == "s":
                    val = shared[int(v_el.text)]
                elif ctype == "str":
                    val = v_el.text
                elif ctype == "b":
                    val = v_el.text == "1"
                else:  # numeric
                    num = float(v_el.text)
                    val = int(num) if num.is_integer() else num
                row.append(val)
            rows.append(row)
    if not rows:
        return [], []
    header = [str(h) if h is not None else f"col{i}" for i, h in enumerate(rows[0])]
    width = len(header)
    data = [r[:width] + [None] * (width - len(r)) for r in rows[1:]]
    return header, data


def read_excel(spark: SparkSession, path: str) -> DataFrame:
    """S1: workbook → DataFrame (all columns string-typed, like the
    reference's str-coerced sheet; ``_row_idx`` preserves sheet order).

    Driver-side by contract, so guarded: a workbook past
    MAX_DRIVER_XLSX_BYTES refuses to parse on the driver and points at
    the distributed path instead of silently OOM-ing the JVM's Python
    sibling at scale."""
    import os

    import pyarrow as pa

    size = os.path.getsize(path)
    if size > MAX_DRIVER_XLSX_BYTES:
        raise ValueError(
            f"{path} is {size} bytes (> {MAX_DRIVER_XLSX_BYTES}); driver-side "
            "parse is for single uploaded sheets — use read_excel_many (executor "
            "parse over a binaryFile scan)"
        )
    header, data = read_excel_rows(path)
    if not header:
        raise ValueError(f"empty workbook: {path}")
    # an Arrow table plans as a LocalTableScan, 0 rows included; a list
    # of rows plans as a Scan ExistingRDD, one Python task per partition
    # (and a pandas frame falls back to that path when it has no rows)
    arrays = [
        pa.array([None if v is None else str(v) for v in col], pa.string())
        for col in (zip(*data) if data else [()] * len(header))
    ]
    arrays.insert(0, pa.array(range(len(data)), pa.int64()))
    # a StructType, not a DDL string: a header may hold any character
    schema = StructType(
        [StructField("_row_idx", LongType())]
        + [StructField(c, StringType()) for c in header]
    )
    table = pa.Table.from_arrays(arrays, names=schema.names)
    return spark.createDataFrame(table, schema).coalesce(1)


def validate_companies_contract(df: DataFrame) -> None:
    """P3 (server.py:309-313): reject input unless the required columns
    are present."""
    missing = [c for c in REQUIRED_COMPANY_COLUMNS if c not in df.columns]
    if missing:
        raise ValueError(
            f"input is missing required columns {missing}; "
            f"found {[c for c in df.columns if c != '_row_idx']}"
        )


_CONTENT_TYPES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
    '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
    '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
    "</Types>"
)
_ROOT_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
    "</Relationships>"
)
_WORKBOOK = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
    'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
    '<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>'
)
_WORKBOOK_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
    "</Relationships>"
)


def _cell_xml(v: object) -> str:
    if v is None:
        return "<c/>"
    if isinstance(v, bool):
        return f'<c t="b"><v>{int(v)}</v></c>'
    if isinstance(v, (int, float)):
        return f"<c><v>{v}</v></c>"
    return f'<c t="inlineStr"><is><t xml:space="preserve">{escape(str(v))}</t></is></c>'


def write_excel_rows(path: str, header: list[str], rows: list[list[object]]) -> None:
    """Write one worksheet (inline strings — self-contained part set)."""
    body = ["<row>" + "".join(_cell_xml(h) for h in header) + "</row>"]
    body += ["<row>" + "".join(_cell_xml(v) for v in r) + "</row>" for r in rows]
    sheet = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        "<sheetData>" + "".join(body) + "</sheetData></worksheet>"
    )
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("[Content_Types].xml", _CONTENT_TYPES)
        zf.writestr("_rels/.rels", _ROOT_RELS)
        zf.writestr("xl/workbook.xml", _WORKBOOK)
        zf.writestr("xl/_rels/workbook.xml.rels", _WORKBOOK_RELS)
        zf.writestr("xl/worksheets/sheet1.xml", sheet)


def write_excel(df: DataFrame, path: str, columns: list[str] | None = None) -> int:
    """K1: DataFrame → .xlsx, exact column order (reference reindex +
    to_excel, app.py:307-310). Collects driver-side — the output sheet
    is bounded by contract (one row per input company), exactly like the
    reference's ``pd.DataFrame(results).to_excel``. Returns row count."""
    cols = columns if columns is not None else [c for c in df.columns if c != "_row_idx"]
    from pyspark.sql import functions as F

    proj = df.select(
        *[F.col(f"`{c}`") if c in df.columns else F.lit(None).alias(c) for c in cols]
    )
    rows = [[r[c] for c in cols] for r in proj.collect()]
    write_excel_rows(path, cols, rows)
    return len(rows)


def read_excel_many(
    spark: SparkSession,
    path_glob: str,
    columns: list[str],
    recursive: bool = False,
) -> DataFrame:
    """S1 at scale: a DIRECTORY of workbooks as one DataFrame.

    The driver-side ``read_excel`` parses one uploaded sheet; a backfill
    of thousands of sheets must parse on the executors. Plan shape:
    ``binaryFile`` scan (one row per file: path + content bytes, split
    across tasks by Spark's file partitioner) → ``mapInPandas`` running
    the same stdlib OOXML parser per file — Arrow-batched, no
    driver-side bytes, linear scale-out in file count.

    ``columns`` pins the output contract (the caller knows its sheet
    schema — e.g. REQUIRED_COMPANY_COLUMNS): each workbook's header is
    matched by name, missing columns are null, extras dropped — so
    heterogeneous sheets union cleanly into one schema-stable frame.
    ``src_file``/``_row_idx`` preserve provenance and sheet order (T3)
    per input file.
    """
    cols = list(columns)
    out_schema = "src_file STRING, _row_idx BIGINT, " + ", ".join(
        f"`{c}` STRING" for c in cols
    )
    binary = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.xlsx")
        .option("recursiveFileLookup", str(recursive).lower())
        .load(path_glob)
        .select("path", "content")
    )

    def parse(batches):
        import io  # noqa: PLC0415 — runs on executors

        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            for path, content in zip(pdf["path"], pdf["content"]):
                header, data = read_excel_rows(io.BytesIO(bytes(content)))
                pos = {c: header.index(c) for c in cols if c in header}
                out: dict[str, list] = {
                    "src_file": [path] * len(data),
                    "_row_idx": list(range(len(data))),
                }
                for c in cols:
                    i = pos.get(c)
                    out[c] = [
                        None
                        if i is None or i >= len(r) or r[i] is None
                        else str(r[i])
                        for r in data
                    ]
                yield pd.DataFrame(out)

    return binary.mapInPandas(parse, out_schema)
