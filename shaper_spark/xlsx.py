"""Minimal XLSX writer on the standard library (zipfile + XML).

XLSX is a ZIP of XML parts (ECMA-376 / ISO 29500 SpreadsheetML). This
implements the subset the XLSX export needs — one worksheet, shared
strings, number formats for datetimes (`m/d/yy h:mm`) and durations
(`[h]:mm:ss`), bold centered header, autofilter, frozen header row,
column widths. It is the XLSX export's only writer: no third-party
spreadsheet library is needed.
"""

from __future__ import annotations

import datetime as dt
import io
import zipfile
from typing import IO, Any
from xml.sax.saxutils import escape

__all__ = ["MiniWorkbook"]

_EPOCH = dt.datetime(1899, 12, 30)  # Excel serial date epoch

_CONTENT_TYPES = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
<Default Extension="xml" ContentType="application/xml"/>
<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>
<Override PartName="/xl/styles.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>
<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>
</Types>"""

_ROOT_RELS = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
</Relationships>"""

_WORKBOOK_RELS = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/styles" Target="styles.xml"/>
<Relationship Id="rId3" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/>
</Relationships>"""

# Styles: 0=default, 1=bold centered header, 2=datetime (numFmt 22),
# 3=duration [h]:mm:ss (numFmt 46), 4=right-aligned number, 5=left text.
_STYLES = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
<fonts count="2"><font><sz val="11"/><name val="Calibri"/></font>
<font><b/><sz val="11"/><name val="Calibri"/></font></fonts>
<fills count="1"><fill><patternFill patternType="none"/></fill></fills>
<borders count="1"><border/></borders>
<cellStyleXfs count="1"><xf/></cellStyleXfs>
<cellXfs count="6">
<xf/>
<xf fontId="1" applyFont="1" applyAlignment="1"><alignment horizontal="center" vertical="center"/></xf>
<xf numFmtId="22" applyNumberFormat="1" applyAlignment="1"><alignment horizontal="center"/></xf>
<xf numFmtId="46" applyNumberFormat="1" applyAlignment="1"><alignment horizontal="center"/></xf>
<xf applyAlignment="1"><alignment horizontal="right"/></xf>
<xf applyAlignment="1"><alignment horizontal="left" wrapText="1"/></xf>
</cellXfs>
</styleSheet>"""

HEADER_STYLE = 1
DATETIME_STYLE = 2
DURATION_STYLE = 3
NUMBER_STYLE = 4
TEXT_STYLE = 5


def _col_letter(idx: int) -> str:
    """1-based column index → A, B, …, AA."""
    out = ""
    while idx > 0:
        idx, rem = divmod(idx - 1, 26)
        out = chr(65 + rem) + out
    return out


class MiniWorkbook:
    """Single-sheet streaming-ish XLSX builder."""

    def __init__(self, sheet_name: str = "Sheet1"):
        self.sheet_name = sheet_name
        self._rows_xml: list[str] = []
        self._strings: dict[str, int] = {}
        self._n_rows = 0
        self._n_cols = 0
        self.widths: list[int] = []
        self.freeze_header = True
        self.autofilter = True

    def _sid(self, s: str) -> int:
        if s not in self._strings:
            self._strings[s] = len(self._strings)
        return self._strings[s]

    def add_row(self, cells: list[tuple[Any, int]]) -> None:
        """``cells``: (value, style) pairs. Value types: None, str,
        bool, int/float (number), datetime (serial), float-days with
        DURATION_STYLE for intervals."""
        self._n_rows += 1
        self._n_cols = max(self._n_cols, len(cells))
        r = self._n_rows
        parts = [f'<row r="{r}">']
        for j, (v, style) in enumerate(cells, start=1):
            ref = f"{_col_letter(j)}{r}"
            s_attr = f' s="{style}"' if style else ""
            if v is None:
                parts.append(f'<c r="{ref}"{s_attr}/>')
            elif isinstance(v, bool):
                parts.append(f'<c r="{ref}"{s_attr} t="b"><v>{int(v)}</v></c>')
            elif isinstance(v, dt.datetime):
                serial = (v.replace(tzinfo=None) - _EPOCH).total_seconds() / 86400.0
                parts.append(f'<c r="{ref}"{s_attr}><v>{serial!r}</v></c>')
            elif isinstance(v, (int, float)):
                parts.append(f'<c r="{ref}"{s_attr}><v>{v!r}</v></c>')
            else:
                sid = self._sid(str(v))
                parts.append(f'<c r="{ref}"{s_attr} t="s"><v>{sid}</v></c>')
        parts.append("</row>")
        self._rows_xml.append("".join(parts))

    def save(self, out: IO[bytes] | str) -> None:
        dim = f"A1:{_col_letter(max(self._n_cols, 1))}{max(self._n_rows, 1)}"
        cols_xml = ""
        if self.widths:
            cols = "".join(
                f'<col min="{i}" max="{i}" width="{w}" customWidth="1"/>'
                for i, w in enumerate(self.widths, start=1)
            )
            cols_xml = f"<cols>{cols}</cols>"
        freeze = (
            '<sheetViews><sheetView workbookViewId="0">'
            '<pane ySplit="1" topLeftCell="A2" activePane="bottomLeft" state="frozen"/>'
            "</sheetView></sheetViews>"
            if self.freeze_header and self._n_rows > 1
            else ""
        )
        autofilter = (
            f'<autoFilter ref="{dim}"/>' if self.autofilter and self._n_cols else ""
        )
        sheet = (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
            f'<dimension ref="{dim}"/>{freeze}{cols_xml}'
            f'<sheetData>{"".join(self._rows_xml)}</sheetData>{autofilter}'
            "</worksheet>"
        )
        strings = sorted(self._strings, key=self._strings.get)
        shared = (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
            f'count="{len(strings)}" uniqueCount="{len(strings)}">'
            + "".join(
                f'<si><t xml:space="preserve">{escape(s)}</t></si>' for s in strings
            )
            + "</sst>"
        )
        workbook = (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
            'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
            f'<sheets><sheet name="{escape(self.sheet_name)}" sheetId="1" r:id="rId1"/></sheets>'
            "</workbook>"
        )
        buf = out if not isinstance(out, str) else None
        target = out if isinstance(out, str) else io.BytesIO()
        with zipfile.ZipFile(target, "w", zipfile.ZIP_DEFLATED) as z:
            z.writestr("[Content_Types].xml", _CONTENT_TYPES)
            z.writestr("_rels/.rels", _ROOT_RELS)
            z.writestr("xl/workbook.xml", workbook)
            z.writestr("xl/_rels/workbook.xml.rels", _WORKBOOK_RELS)
            z.writestr("xl/styles.xml", _STYLES)
            z.writestr("xl/sharedStrings.xml", shared)
            z.writestr("xl/worksheets/sheet1.xml", sheet)
        if buf is not None and not isinstance(target, str):
            buf.write(target.getvalue())
