"""Export tests — golden-string ports of the reference export suite
(server/core/stream_query_test.go) plus formatting unit tests
(stream_query.go:653-730 semantics)."""

from __future__ import annotations

import csv
import datetime as dt
import io
import json

import pytest

from shaper_spark.exports import (
    format_value,
    interval_to_days,
    interval_to_string,
    resolve_download_query_id,
    stream_csv,
    stream_dashboard_export,
    stream_json,
    write_xlsx,
)


class TestResolveDownloadQueryID:
    # stream_query_test.go:72-140
    def test_single_matching_download_type(self):
        sqls = [
            "SELECT 'Shaper Demo Dashboard'::SECTION",
            "SELECT ('sessions-' || today())::DOWNLOAD_CSV AS CSV",
            "SELECT * FROM dataset",
        ]
        assert resolve_download_query_id(sqls, "csv") == 2

    def test_single_matching_json(self):
        sqls = [
            "SELECT 'S'::SECTION",
            "SELECT 'f'::DOWNLOAD_JSON AS J",
            "SELECT * FROM dataset",
        ]
        assert resolve_download_query_id(sqls, "json") == 2

    def test_single_data_query(self):
        sqls = ["SELECT 'Label'::LABEL", "SELECT 'Hello World'"]
        assert resolve_download_query_id(sqls, "csv") == 1

    def test_multiple_download_markers_fail(self):
        sqls = [
            "SELECT 'f'::DOWNLOAD_CSV",
            "SELECT * FROM t",
            "SELECT 'g'::DOWNLOAD_CSV",
            "SELECT * FROM t",
        ]
        with pytest.raises(ValueError):
            resolve_download_query_id(sqls, "csv")

    def test_multiple_data_queries_fail(self):
        with pytest.raises(ValueError):
            resolve_download_query_id(["SELECT 1 as id", "SELECT 2 as id"], "csv")

    def test_labels_plural_is_fine(self):
        # \bLABEL\b must not match LABELS (stream_query_test.go:126-135)
        sqls = [
            "SELECT 'GAUGE with RANGE, LABELS and COLORS'::LABEL",
            "SELECT 75::GAUGE, [0, 33, 66, 100]::RANGE, ['Bad', 'Okay', 'Good']::LABELS",
        ]
        assert resolve_download_query_id(sqls, "csv") == 1


class TestFormatValue:
    def test_basics(self):
        assert format_value(None) == ""
        assert format_value(1) == "1"
        assert format_value("x") == "x"
        assert format_value(True) == "true"
        assert format_value(False) == "false"
        assert format_value(1.5) == "1.5"

    def test_timestamp_rfc3339(self):
        assert (
            format_value(dt.datetime(2023, 1, 2, 10, 30, 45))
            == "2023-01-02T10:30:45Z"
        )

    def test_interval_string(self):
        # "10d 5h 30m 15.068s" (stream_query.go:698)
        td = dt.timedelta(days=10, hours=5, minutes=30, seconds=15, milliseconds=68)
        assert interval_to_string(td) == "10d 5h 30m 15.068s"

    def test_interval_zero(self):
        assert interval_to_string(dt.timedelta()) == "0.000s"

    def test_interval_subparts_skipped(self):
        assert interval_to_string(dt.timedelta(hours=2)) == "2h"
        assert interval_to_string(dt.timedelta(seconds=5)) == "5.000s"

    def test_interval_to_days(self):
        assert interval_to_days(dt.timedelta(hours=12)) == 0.5

    def test_uuid_bytes(self):
        b = bytes(range(16))
        assert format_value(b) == "00010203-0405-0607-0809-0a0b0c0d0e0f"

    def test_list_joined(self):
        assert format_value(["a", "b", 3]) == "a, b, 3"


class TestStreamers:
    def test_csv_golden(self, spark):
        # stream_query_test.go:15-37 golden: "id,name\n1,hello\n2,world\n"
        df = spark.sql("SELECT 1 as id, 'hello' as name UNION ALL SELECT 2, 'world'")
        buf = io.StringIO()
        n = stream_csv(df.orderBy("id"), buf)
        assert n == 2
        assert buf.getvalue() == "id,name\n1,hello\n2,world\n"

    def test_json_golden(self, spark):
        df = spark.sql("SELECT 1 as id, 'hello' as name UNION ALL SELECT 2, 'world'")
        buf = io.StringIO()
        n = stream_json(df.orderBy("id"), buf)
        assert n == 2
        parsed = json.loads(buf.getvalue())
        assert parsed == [{"id": 1, "name": "hello"}, {"id": 2, "name": "world"}]

    def test_csv_formats_temporals_and_arrays(self, spark):
        df = spark.sql(
            "SELECT TIMESTAMP '2023-01-02 10:30:45' AS ts, "
            "array('a','b') AS arr, DATE '2023-05-01' AS d"
        )
        buf = io.StringIO()
        stream_csv(df, buf)
        lines = buf.getvalue().splitlines()
        assert lines[0] == "ts,arr,d"
        assert lines[1] == '2023-01-02T10:30:45Z,"a, b",2023-05-01'

    def test_json_interval(self, spark):
        df = spark.sql("SELECT INTERVAL '1 02:00:00' DAY TO SECOND AS dur")
        buf = io.StringIO()
        stream_json(df, buf)
        assert json.loads(buf.getvalue()) == [{"dur": "1d 2h"}]

    def test_xlsx_roundtrip(self, spark):
        import xml.etree.ElementTree as ET
        import zipfile

        df = spark.sql(
            "SELECT 1 AS id, 'alpha' AS name, TIMESTAMP '2023-01-02 10:30:45' AS ts"
        )
        buf = io.BytesIO()
        n = write_xlsx(df, buf)
        assert n == 1
        z = zipfile.ZipFile(io.BytesIO(buf.getvalue()))
        ns = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main"}
        sheet = ET.fromstring(z.read("xl/worksheets/sheet1.xml"))
        strings = [
            t.text or ""
            for t in ET.fromstring(z.read("xl/sharedStrings.xml")).findall(".//m:t", ns)
        ]
        header, row = (
            [c.find("m:v", ns).text for c in r.findall("m:c", ns)]
            for r in sheet.findall(".//m:row", ns)
        )
        assert [strings[int(v)] for v in header] == ["id", "name", "ts"]
        assert row[0] == "1"
        assert strings[int(row[1])] == "alpha"
        # Excel serial days since 1899-12-30
        ts = dt.datetime(1899, 12, 30) + dt.timedelta(days=float(row[2]))
        assert abs(ts - dt.datetime(2023, 1, 2, 10, 30, 45)) < dt.timedelta(milliseconds=1)
        pane = sheet.find(".//m:pane", ns)
        assert (pane.get("topLeftCell"), pane.get("state")) == ("A2", "frozen")


class TestDashboardExport:
    def test_export_with_download_marker(self, spark):
        content = """
        SELECT 'My Dash'::SECTION;
        SELECT 'export-file'::DOWNLOAD_CSV AS f;
        SELECT 1 AS a, 'x' AS b UNION ALL SELECT 2, 'y';
        """
        buf = io.StringIO()
        n = stream_dashboard_export(spark, content, "csv", buf)
        assert n == 2
        assert buf.getvalue().splitlines()[0] == "a,b"

    def test_export_replays_variables(self, spark):
        # A dropdown earlier in the script parameterizes the download query;
        # the URL param picks the option (getVarPrefix replay semantics).
        content = """
        SELECT x::DROPDOWN AS pick FROM (VALUES ('aa'), ('bb')) t(x) ORDER BY 1;
        SELECT getvariable('pick') AS chosen;
        """
        buf = io.StringIO()
        stream_dashboard_export(
            spark, content, "csv", buf, query_id=1, params={"pick": "bb"}
        )
        assert buf.getvalue() == "chosen\nbb\n"

    def test_export_default_dropdown_value(self, spark):
        content = """
        SELECT x::DROPDOWN AS pick FROM (VALUES ('aa'), ('bb')) t(x) ORDER BY 1;
        SELECT getvariable('pick') AS chosen;
        """
        buf = io.StringIO()
        stream_dashboard_export(spark, content, "csv", buf, query_id=1)
        assert buf.getvalue() == "chosen\naa\n"

    def test_disallowed_statement_rejected(self, spark):
        with pytest.raises(ValueError):
            stream_dashboard_export(
                spark, "DROP TABLE x", "csv", io.StringIO(), query_id=0
            )


class TestValidateDashboardDownload:
    # get_dashboard_test.go:17-70
    def test_valid_reference(self, spark):
        from shaper_spark.exports import validate_dashboard_download

        content = "SELECT 'target-dash'::ID, 'Download'::DOWNLOAD_PDF"
        assert validate_dashboard_download(spark, content, "target-dash") is True

    def test_invalid_reference(self, spark):
        from shaper_spark.exports import validate_dashboard_download

        content = "SELECT 'target-dash'::ID, 'Download'::DOWNLOAD_PDF"
        assert validate_dashboard_download(spark, content, "other-dash") is False

    def test_variable_reference(self, spark):
        from shaper_spark.exports import validate_dashboard_download

        content = "SELECT getvariable('target_id')::ID, 'Download'::DOWNLOAD_PDF"
        assert (
            validate_dashboard_download(
                spark, content, "target-dash",
                variables={"target_id": "target-dash"},
            )
            is True
        )

    def test_pdf_without_id_targets_source(self, spark):
        from shaper_spark.exports import validate_dashboard_download

        content = "SELECT 'Download'::DOWNLOAD_PDF"
        assert (
            validate_dashboard_download(
                spark, content, "self-dash", source_dashboard_id="self-dash"
            )
            is True
        )


class TestExportReplaysLikeRender:
    """An export replays the statements before its target through the
    render walk and prepares the target the way a render prepares a
    statement, so it shows what the render shows."""

    def _csv(self, spark, content, query_id, params=None):
        buf = io.StringIO()
        stream_dashboard_export(
            spark, content, "csv", buf, query_id=query_id, params=params
        )
        return buf.getvalue()

    def test_pdf_button_does_not_skip_the_next_statement(self, spark):
        content = """
        SELECT 'R'::DOWNLOAD_PDF;
        SELECT x::DROPDOWN AS pick FROM (VALUES ('aa'), ('bb')) t(x) ORDER BY 1;
        SELECT getvariable('pick') AS chosen;
        """
        assert self._csv(spark, content, 2, {"pick": "bb"}) == "chosen\nbb\n"

    def test_temp_views_are_dropped(self, spark):
        from shaper_spark.engine import query_dashboard

        content = """
        CREATE TEMP VIEW probe_v AS SELECT 1 AS x;
        SELECT x FROM probe_v;
        """
        assert self._csv(spark, content, 1) == "x\n1\n"
        assert not spark.catalog.tableExists("probe_v")
        r = query_dashboard(spark, content)
        assert r.sections[0].queries[0].rows == [[1]]

    @pytest.mark.parametrize(
        "target",
        [
            "SELECT COLUMNS('r_regionkey|r_name') FROM region",
            "SELECT r_name AS name, r_regionkey AS k FROM region "
            "UNION ALL BY NAME SELECT 9 AS k, 'x' AS name",
        ],
        ids=["columns", "union_by_name"],
    )
    def test_target_prepared_like_render(self, spark, target):
        from shaper_spark.engine import query_dashboard

        (query,) = query_dashboard(spark, target).sections[0].queries
        header, *rows = csv.reader(io.StringIO(self._csv(spark, target, 0)))
        assert header == [c.name for c in query.columns]
        assert len(query.rows) == 5 + target.count("UNION")
        assert sorted(rows) == sorted(
            [format_value(v) for v in row] for row in query.rows
        )

    def test_validation_needs_a_rendering_script(self, spark):
        from pyspark.errors import AnalysisException

        from shaper_spark.exports import validate_dashboard_download

        content = """
        SELECT 'target-dash'::ID, 'Download'::DOWNLOAD_PDF;
        SELECT * FROM table_that_does_not_exist;
        """
        with pytest.raises(AnalysisException, match="table_that_does_not_exist"):
            validate_dashboard_download(spark, content, "target-dash")


class TestStdlibXlsx:
    """The stdlib XLSX writer: valid ZIP/XML, values and styles intact,
    checked by parsing the produced parts with stdlib tools."""

    def _sheet_and_strings(self, data):
        import zipfile
        import xml.etree.ElementTree as ET

        z = zipfile.ZipFile(io.BytesIO(data))
        ns = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main"}
        sheet = ET.fromstring(z.read("xl/worksheets/sheet1.xml"))
        sst = ET.fromstring(z.read("xl/sharedStrings.xml"))
        strings = [t.text or "" for t in sst.findall(".//m:t", ns)]
        return sheet, strings, ns, z

    def test_roundtrip_values(self, spark):
        from shaper_spark.exports import _write_xlsx_stdlib

        df = spark.sql(
            "SELECT 1 AS id, 'alpha' AS name, TIMESTAMP '2023-01-02 10:30:45' AS ts, "
            "INTERVAL '0 12:00:00' DAY TO SECOND AS dur, true AS flag"
        )
        buf = io.BytesIO()
        n = _write_xlsx_stdlib(df, buf)
        assert n == 1
        sheet, strings, ns, z = self._sheet_and_strings(buf.getvalue())
        rows = sheet.findall(".//m:row", ns)
        assert len(rows) == 2
        header = [
            strings[int(c.find("m:v", ns).text)]
            for c in rows[0].findall("m:c", ns)
        ]
        assert header == ["id", "name", "ts", "dur", "flag"]
        body = rows[1].findall("m:c", ns)
        assert body[0].find("m:v", ns).text == "1"
        assert strings[int(body[1].find("m:v", ns).text)] == "alpha"
        # datetime serial: 2023-01-02 10:30:45 → days since 1899-12-30
        serial = float(body[2].find("m:v", ns).text)
        assert abs(serial - 44928.43802083333) < 1e-6
        # interval as fractional days
        assert abs(float(body[3].find("m:v", ns).text) - 0.5) < 1e-9
        assert body[4].get("t") == "b"
        # required parts exist
        assert "xl/styles.xml" in z.namelist()
        assert "[Content_Types].xml" in z.namelist()

    def test_special_chars_escaped(self, spark):
        from shaper_spark.exports import _write_xlsx_stdlib

        df = spark.sql("SELECT '<b>&\"quoted\"</b>' AS s")
        buf = io.BytesIO()
        _write_xlsx_stdlib(df, buf)
        sheet, strings, ns, _ = self._sheet_and_strings(buf.getvalue())
        assert '<b>&"quoted"</b>' in strings

class TestHiddenSectionSkipping:
    """Statements under an empty SECTION TITLE are skipped before
    execution unless they are side effects or can start a section
    (hideNextContentSection + canStartSection, get_dashboard.go:443-467,
    762-769). Widget statements (SECTION/DROPDOWN/DOWNLOAD_/INPUT in
    text) can start a section, so they are never hidden — reference
    semantics, pinned here."""

    def test_hidden_content_query_not_executed(self, spark):
        from shaper_spark.exports import validate_dashboard_download

        # The bogus query would raise if executed; the reference skips
        # it (no section-starting keyword), so validation completes.
        content = """
        SELECT 'Hidden'::SECTION WHERE 1 = 0;
        SELECT * FROM table_that_does_not_exist;
        """
        assert (
            validate_dashboard_download(spark, content, "any-dash") is False
        )

    def test_replay_skips_hidden_content_query(self, spark):
        from shaper_spark import sqltool
        from shaper_spark.exports import replay_var_state

        content = """
        SELECT 'Hidden'::SECTION WHERE 1 = 0;
        SELECT * FROM table_that_does_not_exist;
        SELECT 'Visible'::SECTION;
        SELECT DISTINCT 'open'::DROPDOWN AS shown_var;
        """
        statements = sqltool.split_sql_queries(
            sqltool.strip_sql_comments(content)
        )
        vars_ = replay_var_state(spark, statements)
        assert "shown_var" in vars_.raw

    def test_download_pdf_can_start_section_so_still_validates(self, spark):
        from shaper_spark.exports import validate_dashboard_download

        # DOWNLOAD_ text can start a section (canStartSection), so a PDF
        # button after an empty section title is NOT hidden — reference
        # behavior, verified against get_dashboard.go:762-769.
        content = """
        SELECT 'Hidden'::SECTION WHERE 1 = 0;
        SELECT 'target-dash'::ID, 'Download'::DOWNLOAD_PDF;
        """
        assert (
            validate_dashboard_download(spark, content, "target-dash") is True
        )

    def test_new_section_unhides(self, spark):
        from shaper_spark.exports import validate_dashboard_download

        content = """
        SELECT 'Hidden'::SECTION WHERE 1 = 0;
        SELECT 'Visible again'::SECTION;
        SELECT 'target-dash'::ID, 'Download'::DOWNLOAD_PDF;
        """
        assert (
            validate_dashboard_download(spark, content, "target-dash") is True
        )

    def test_side_effects_still_run_while_hidden(self, spark):
        from shaper_spark import sqltool
        from shaper_spark.exports import replay_var_state

        content = """
        SELECT 'Hidden'::SECTION WHERE 1 = 0;
        SET VARIABLE sv = 7;
        """
        statements = sqltool.split_sql_queries(
            sqltool.strip_sql_comments(content)
        )
        vars_ = replay_var_state(spark, statements)
        assert vars_.raw.get("sv") == "7"


class TestHtmlReport:
    """DOWNLOAD_PDF stand-in: the GetResult tree renders to one
    self-contained HTML document (reference pdf.go:33-133 drives Chrome;
    this build serves printable HTML instead, MIGRATION.md)."""

    def test_roundtrip_dashboard_with_charts(self, spark):
        from shaper_spark.engine import query_dashboard
        from shaper_spark.htmlreport import render_dashboard_html
        from shaper_spark.session import register_sf_tables

        register_sf_tables(spark, "/root/testdata/sf0.001")
        r = query_dashboard(
            spark,
            """
            SELECT 'Weekly Report'::SECTION;
            SELECT date_trunc('week', ts)::XAXIS AS week,
                   count()::LINECHART AS n
            FROM events GROUP BY ALL ORDER BY ALL;
            SELECT 'Breakdown'::SECTION;
            SELECT event_type, count(*) AS n
            FROM events GROUP BY 1 ORDER BY 1;
            """,
            dashboard_id="html1",
        )
        page = render_dashboard_html(r.to_dict())
        assert page.startswith("<!DOCTYPE html>")
        # section structure preserved
        assert "Weekly Report" in page and "Breakdown" in page
        # chart query rendered as inline SVG, table query as a table
        assert "<svg" in page and "polyline" in page
        assert "<table>" in page and "event_type" in page
        # render types stamped for inspection
        assert 'data-render-type="linechart"' in page
        # no external assets — self-contained
        assert "http://" not in page and "https://" not in page

    def test_value_and_escape(self, spark):
        from shaper_spark.engine import query_dashboard
        from shaper_spark.htmlreport import render_dashboard_html

        r = query_dashboard(
            spark,
            "SELECT '<b>&'::TEXT_LARGE AS v;",
            dashboard_id="html2",
        )
        page = render_dashboard_html(r.to_dict(), title="T<i>tle")
        assert "&lt;b&gt;&amp;" in page
        assert "T&lt;i&gt;tle" in page

    def test_print_header_footer_contract(self, spark):
        """Page intent matches the reference PDF template: HEADER_IMAGE
        at top (max-height 40px, extra @page top margin), footer with
        formatted date + scheme-stripped FOOTER_LINK (pdf.go:259-340)."""
        import datetime as dt

        from shaper_spark.engine import query_dashboard
        from shaper_spark.htmlreport import render_dashboard_html

        r = query_dashboard(
            spark,
            """
            SELECT 'data:image/png;base64,iVBORw0KGgo='::HEADER_IMAGE;
            SELECT 'https://example.com/dash'::FOOTER_LINK;
            SELECT 42::TEXT_LARGE AS v;
            """,
            dashboard_id="html3",
        )
        page = render_dashboard_html(
            r.to_dict(),
            now=dt.datetime(2026, 8, 14),
        )
        assert '<img src="data:image/png;base64,iVBORw0KGgo=' in page
        assert "max-height:40px" in page
        assert "@page{margin-top:20mm}" in page
        # footer: default date format mirrors the reference default
        # "02.01.2006" → day.month.year
        assert "<span>14.08.2026</span>" in page
        # link display drops the scheme, href keeps it
        assert 'href="https://example.com/dash">example.com/dash</a>' in page
        assert "@media print" in page

    def test_no_header_image_no_extra_page_margin(self, spark):
        from shaper_spark.engine import query_dashboard
        from shaper_spark.htmlreport import render_dashboard_html

        r = query_dashboard(
            spark, "SELECT 1::TEXT_LARGE AS v;", dashboard_id="html4"
        )
        page = render_dashboard_html(r.to_dict())
        assert "@page{margin-top:20mm}" not in page
        assert "report-footer" in page
