"""Excel ingest/egress round trip (sources/excel.py) — the reference's
I/O contract: companies.xlsx in (app.py:282), output.xlsx out
(app.py:307-310), 2-column input contract (server.py:309-313)."""

from __future__ import annotations

import zipfile

import pytest

from leadsight_sales_agent_spark.operators.enrich import OUTPUT_COLUMNS, enrich_pipeline
from leadsight_sales_agent_spark.sources.excel import (
    read_excel,
    read_excel_rows,
    validate_companies_contract,
    write_excel,
    write_excel_rows,
)


class TestRowRoundTrip:
    def test_values_survive(self, tmp_path):
        path = str(tmp_path / "t.xlsx")
        header = ["name", "n", "ratio", "flag", "empty"]
        rows = [
            ["Acme & Söhne <GmbH>", 42, 2.5, True, None],
            ["新世界", -1, 0.125, False, None],
        ]
        write_excel_rows(path, header, rows)
        h2, r2 = read_excel_rows(path)
        assert h2 == header
        assert r2 == rows

    def test_reads_shared_strings_workbooks(self, tmp_path):
        # pandas/openpyxl write string cells via xl/sharedStrings.xml
        # (t="s"); build one by hand to pin that read path.
        path = str(tmp_path / "shared.xlsx")
        ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
        with zipfile.ZipFile(path, "w") as zf:
            zf.writestr(
                "[Content_Types].xml",
                '<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
                '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
                '<Default Extension="xml" ContentType="application/xml"/></Types>',
            )
            zf.writestr(
                "xl/sharedStrings.xml",
                f'<?xml version="1.0"?><sst {ns}><si><t>company_name</t></si>'
                f"<si><t>website</t></si><si><t>Acme</t></si>"
                f"<si><r><t>https://</t></r><r><t>acme.com</t></r></si></sst>",
            )
            zf.writestr(
                "xl/worksheets/sheet1.xml",
                f'<?xml version="1.0"?><worksheet {ns}><sheetData>'
                '<row><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>'
                '<row><c r="A2" t="s"><v>2</v></c><c r="B2" t="s"><v>3</v></c></row>'
                "</sheetData></worksheet>",
            )
        header, rows = read_excel_rows(path)
        assert header == ["company_name", "website"]
        assert rows == [["Acme", "https://acme.com"]]  # rich-text runs joined

    def test_sparse_cells_become_nulls(self, tmp_path):
        path = str(tmp_path / "sparse.xlsx")
        ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
        with zipfile.ZipFile(path, "w") as zf:
            zf.writestr(
                "xl/worksheets/sheet1.xml",
                f'<?xml version="1.0"?><worksheet {ns}><sheetData>'
                '<row><c r="A1" t="inlineStr"><is><t>a</t></is></c>'
                '<c r="C1" t="inlineStr"><is><t>c</t></is></c></row>'
                '<row><c r="C2"><v>7</v></c></row>'
                "</sheetData></worksheet>",
            )
        header, rows = read_excel_rows(path)
        assert header == ["a", "col1", "c"]  # gap column auto-named
        assert rows == [[None, None, 7]]


class TestContract:
    def test_contract_validation(self, spark, tmp_path):
        good = str(tmp_path / "good.xlsx")
        write_excel_rows(good, ["company_name", "website"], [["A", "https://a.com"]])
        df = read_excel(spark, good)
        validate_companies_contract(df)  # no raise
        bad = str(tmp_path / "bad.xlsx")
        write_excel_rows(bad, ["company", "url"], [["A", "https://a.com"]])
        with pytest.raises(ValueError, match="company_name"):
            validate_companies_contract(read_excel(spark, bad))


def scan_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


class TestFrameBuild:
    """read_excel builds its frame from an Arrow table, which plans as a
    LocalTableScan; a list of rows would plan as a Scan ExistingRDD with
    one Python task per partition."""

    def read(self, spark, tmp_path, header, rows):
        path = str(tmp_path / "sheet.xlsx")
        write_excel_rows(path, header, rows)
        df = read_excel(spark, path)
        plan = scan_plan(df)
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
        return df

    def test_values_and_sheet_order(self, spark, tmp_path):
        df = self.read(spark, tmp_path, ["company_name", "website"], [
            ["Acme", "https://acme.test"], [7, 2.5], ["Bolt", None],
        ])
        assert df.schema.simpleString() == (
            "struct<_row_idx:bigint,company_name:string,website:string>"
        )
        assert [tuple(r) for r in df.collect()] == [
            (0, "Acme", "https://acme.test"), (1, "7", "2.5"), (2, "Bolt", None),
        ]

    def test_header_with_backticks(self, spark, tmp_path):
        # header names are not parsed as DDL
        df = self.read(spark, tmp_path, ["company_name", "notes `x`"], [["Acme", "n"]])
        assert df.columns == ["_row_idx", "company_name", "notes `x`"]
        assert [tuple(r) for r in df.collect()] == [(0, "Acme", "n")]

    def test_zero_row_sheet(self, spark, tmp_path):
        df = self.read(spark, tmp_path, ["company_name", "website"], [])
        assert df.columns == ["_row_idx", "company_name", "website"]
        assert df.collect() == []

    def test_all_blank_column(self, spark, tmp_path):
        df = self.read(spark, tmp_path, ["company_name", "website", "notes"], [
            ["Acme", "https://acme.test", None], ["Bolt", "https://bolt.test", None],
        ])
        assert [r["notes"] for r in df.collect()] == [None, None]
        assert dict(df.dtypes)["notes"] == "string"


class TestEndToEndContract:
    def test_2in_14out_round_trip(self, spark, tmp_path):
        """The reference's whole lifecycle: companies.xlsx → enrich →
        output.xlsx, input order preserved (S1→pipeline→K1/T3)."""
        inp = str(tmp_path / "companies.xlsx")
        names = [f"Zeta {i} Corp" for i in range(12)]
        write_excel_rows(
            inp,
            ["company_name", "website"],
            [[n, f"https://zeta-{i}.example.com"] for i, n in enumerate(names)],
        )
        companies = read_excel(spark, inp)
        validate_companies_contract(companies)
        out_df = enrich_pipeline(spark, companies)

        outp = str(tmp_path / "output.xlsx")
        n = write_excel(out_df, outp, columns=OUTPUT_COLUMNS)
        assert n == 12
        header, rows = read_excel_rows(outp)
        assert header == OUTPUT_COLUMNS  # exact 14-column contract (K1/P1)
        assert [r[0] for r in rows] == names  # sheet order preserved (T3)
        assert all(r[1] for r in rows)  # Website column populated


class TestManyWorkbooks:
    """S1 at scale: executor-side parse of a workbook directory
    (binaryFile scan + mapInPandas) with a pinned column contract."""

    def test_heterogeneous_sheets_union_into_contract(self, spark, tmp_path):
        from leadsight_sales_agent_spark.sources.excel import read_excel_many

        # Three sheets with different shapes: canonical, reordered with
        # an extra column, and one missing `website` entirely.
        write_excel_rows(
            str(tmp_path / "a.xlsx"),
            ["company_name", "website"],
            [["Acme", "https://acme.test"], ["Bolt", "https://bolt.test"]],
        )
        write_excel_rows(
            str(tmp_path / "b.xlsx"),
            ["notes", "website", "company_name"],
            [["fast-growing", "https://carbon.test", "Carbon"]],
        )
        write_excel_rows(
            str(tmp_path / "c.xlsx"),
            ["company_name"],
            [["Dyno"], ["Ember"]],
        )

        df = read_excel_many(
            spark, str(tmp_path), ["company_name", "website"]
        )
        assert df.columns == ["src_file", "_row_idx", "company_name", "website"]
        rows = {
            (r["src_file"].rsplit("/", 1)[-1], r["_row_idx"]): (
                r["company_name"],
                r["website"],
            )
            for r in df.collect()
        }
        assert rows == {
            ("a.xlsx", 0): ("Acme", "https://acme.test"),
            ("a.xlsx", 1): ("Bolt", "https://bolt.test"),
            ("b.xlsx", 0): ("Carbon", "https://carbon.test"),
            ("c.xlsx", 0): ("Dyno", None),
            ("c.xlsx", 1): ("Ember", None),
        }

    def test_non_xlsx_files_are_ignored(self, spark, tmp_path):
        from leadsight_sales_agent_spark.sources.excel import read_excel_many

        write_excel_rows(
            str(tmp_path / "only.xlsx"), ["company_name", "website"], [["A", "w"]]
        )
        (tmp_path / "noise.csv").write_text("company_name,website\nX,Y\n")
        df = read_excel_many(spark, str(tmp_path), ["company_name", "website"])
        assert df.count() == 1

    def test_driver_parse_refuses_oversized_sheet(self, spark, tmp_path, monkeypatch):
        from leadsight_sales_agent_spark.sources import excel as excel_mod

        path = str(tmp_path / "big.xlsx")
        write_excel_rows(path, ["company_name", "website"], [["A", "w"]])
        monkeypatch.setattr(excel_mod, "MAX_DRIVER_XLSX_BYTES", 16)
        with pytest.raises(ValueError, match="read_excel_many"):
            excel_mod.read_excel(spark, path)
