"""Sources and sinks (SURVEY §2.1 S12-S15, K1).

The engine's canonical stage format is parquet (pipeline.py); these
wrappers cover the reference's interop surface:

- CSV stage re-entry with the reference's NaN policy (S15/K1): the
  reference round-trips records through CSV between stages with
  ``na_values='nan', keep_default_na=False`` — i.e. only the literal
  string 'nan' is null; empty string is a *value*
  (/root/reference/templates/template_script.py:161-183, SURVEY §1.1).
- JDBC candidate-dimension source (S12/S13): the VSDB Postgres becomes
  ``spark.read.jdbc`` with predicate-pushdown-friendly query strings
  (/root/reference/votervoice/match.py:22-35). No database exists in the
  test environment, so this path is exercised only through its query
  construction, which is pure.
- Excel driver-table source (S14): pandas round-trip, import-gated
  (/root/reference/national/_2155/__main__.py:119-120).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from sig_etl_spark.session import local_frame


def write_stage_csv(df: DataFrame, path: str) -> None:
    """K1: header CSV sink with the reference's missing-value encoding
    (nulls written as the literal 'nan' so a CSV round-trip is lossless
    under read_stage_csv)."""
    df.write.mode("overwrite").option("header", True).option(
        "nullValue", "nan"
    ).csv(path)


def read_stage_csv(spark: SparkSession, path: str) -> DataFrame:
    """S15: stage re-entry from CSV. Only the literal 'nan' is null;
    empty strings survive as empty strings (keep_default_na=False
    semantics). All columns arrive as strings — the record-batch IR."""
    return (
        spark.read.option("header", True)
        .option("nullValue", "nan")
        .option("emptyValue", "")
        .option("inferSchema", False)
        .csv(path)
    )


def jdbc_query(
    spark: SparkSession,
    url: str,
    query: str,
    properties: dict[str, str] | None = None,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
) -> DataFrame:
    """S12: run a dimension query against an external DB.

    The WHERE clauses the reference interpolates as ``= ANY(%(list)s)``
    params should be baked into ``query`` (see vsdb.render_any_list) so
    the database — not Spark — does the filtering, exactly like the
    reference's pushdown. For big dimensions pass partition_column +
    bounds to parallelize the read.
    """
    reader = spark.read.format("jdbc").option("url", url)
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    if partition_column is None:
        reader = reader.option("query", query)
    else:
        # Spark rejects `query` combined with partitionColumn; a derived
        # table under `dbtable` is the supported spelling (the partition
        # predicates are ANDed onto the outer select).
        reader = (
            reader.option("dbtable", f"({query}) spark_q")
            .option("partitionColumn", partition_column)
            .option("numPartitions", num_partitions)
            .option("lowerBound", lower_bound)
            .option("upperBound", upper_bound)
        )
    return reader.load()


def render_any_list(column: str, values: list) -> str:
    """Render the reference's ``col = ANY(%(list)s)`` as portable SQL IN.

    Strings are quoted with doubled single quotes; the empty list renders
    FALSE (ANY over empty set).
    """
    if not values:
        return "FALSE"
    rendered = ", ".join(
        "'" + str(v).replace("'", "''") + "'" if isinstance(v, str) else str(v)
        for v in values
    )
    return f"{column} IN ({rendered})"


def _xlsx_col_index(ref: str) -> int:
    """'C5' -> 2 (0-based column index from an A1-style cell reference)."""
    idx = 0
    for ch in ref:
        if not ch.isalpha():
            break
        idx = idx * 26 + (ord(ch.upper()) - ord("A") + 1)
    return idx - 1


def _read_xlsx_rows(path: str, sheet: int = 0) -> list[list[str | None]]:
    """Minimal stdlib xlsx parse: zip container + sheet/sharedStrings XML.

    Covers what a driver table needs — shared strings, inline strings,
    numeric/boolean cells (raw stored text), sparse rows (missing cells
    -> None). No styles, dates-as-serials, or formula re-evaluation
    (formula cells yield their cached value, as pandas does).
    """
    import xml.etree.ElementTree as ET
    import zipfile

    ns = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main"}
    with zipfile.ZipFile(path) as zf:
        shared: list[str] = []
        if "xl/sharedStrings.xml" in zf.namelist():
            root = ET.fromstring(zf.read("xl/sharedStrings.xml"))
            for si in root.findall("m:si", ns):
                shared.append("".join(t.text or "" for t in si.iter(f"{{{ns['m']}}}t")))
        # Resolve sheet position through xl/workbook.xml's <sheets> order
        # (the order a spreadsheet UI shows), following each sheet's r:id
        # through workbook.xml.rels to its part. File numbering
        # (sheetN.xml) is NOT positional in externally-authored workbooks
        # whose sheets were reordered — sorting file names would silently
        # read the wrong sheet.
        rel_ns = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
        sheets: list[str] = []
        if "xl/workbook.xml" in zf.namelist():
            targets: dict[str, str] = {}
            rels_name = "xl/_rels/workbook.xml.rels"
            if rels_name in zf.namelist():
                for rel in ET.fromstring(zf.read(rels_name)):
                    tgt = rel.get("Target", "")
                    if tgt.startswith("/"):
                        tgt = tgt.lstrip("/")
                    else:
                        tgt = "xl/" + tgt
                    targets[rel.get("Id", "")] = tgt.replace("xl/./", "xl/")
            wb = ET.fromstring(zf.read("xl/workbook.xml"))
            resolved: list[str] = []
            all_resolved = True
            for sh in wb.iter(f"{{{ns['m']}}}sheet"):
                rid = sh.get(f"{{{rel_ns}}}id", "")
                tgt = targets.get(rid)
                if tgt is None or tgt not in zf.namelist():
                    # Damaged rels: compacting out the unresolvable sheet
                    # would silently shift every index after the gap, so
                    # discard workbook order entirely and use the
                    # file-name fallback below instead.
                    all_resolved = False
                    break
                resolved.append(tgt)
            if all_resolved:
                sheets = resolved
        if not sheets:
            # Damaged/minimal package without workbook metadata: fall back
            # to numeric file-name order (lexicographic would put sheet10
            # before sheet2).
            import re as _re

            def _sheet_no(n: str) -> tuple[int, str]:
                m = _re.search(r"sheet(\d+)\.xml$", n)
                return (int(m.group(1)) if m else 1 << 30, n)

            sheets = sorted(
                (
                    n
                    for n in zf.namelist()
                    if n.startswith("xl/worksheets/sheet") and n.endswith(".xml")
                ),
                key=_sheet_no,
            )
        if not sheets:
            raise ValueError(f"{path}: no worksheets found")
        root = ET.fromstring(zf.read(sheets[sheet]))
        rows: list[list[str | None]] = []
        for row in root.iter(f"{{{ns['m']}}}row"):
            cells: list[str | None] = []
            for c in row.findall("m:c", ns):
                col = _xlsx_col_index(c.get("r", ""))
                if col < 0:
                    col = len(cells)
                while len(cells) <= col:
                    cells.append(None)
                ctype = c.get("t", "n")
                if ctype == "inlineStr":
                    is_el = c.find("m:is", ns)
                    val = (
                        "".join(t.text or "" for t in is_el.iter(f"{{{ns['m']}}}t"))
                        if is_el is not None
                        else None
                    )
                else:
                    v = c.find("m:v", ns)
                    val = None if v is None else v.text
                    if ctype == "s" and val is not None:
                        val = shared[int(val)]
                cells[col] = val
            rows.append(cells)
        return rows


def read_excel(
    spark: SparkSession, path: str, sheet: int = 0, header: bool = True
) -> DataFrame:
    """S14: Excel driver table -> DataFrame of strings.

    Reference: /root/reference/national/_2155/__main__.py:119-120 —
    ``pandas.read_excel(args.zip, dtype=str)`` feeding the zip-code dim
    that drives the group's scan. All cells surface as strings (dtype=str
    semantics); empty cells are null; row 1 is the header by default.

    Parsed on the driver with the stdlib (zipfile + ElementTree — no
    openpyxl dependency): driver tables are dimension-sized by
    construction, and the resulting frame is what you feed
    ``F.broadcast`` in a J9-shaped dim-driven join. Terabyte fact data
    does not arrive as .xlsx.
    """
    rows = _read_xlsx_rows(path, sheet)
    if not rows:
        return local_frame(spark, [], "value string")
    width = max(len(r) for r in rows)
    padded = [r + [None] * (width - len(r)) for r in rows]
    if header:
        names = [
            str(v) if v is not None else f"col{i}"
            for i, v in enumerate(padded[0])
        ]
        data = padded[1:]
    else:
        names = [f"col{i}" for i in range(width)]
        data = padded
    # Header hygiene: duplicate header cells would collide in the schema
    # and backticks would break out of the DDL identifier quoting. Dedup
    # on a casefolded key — Spark resolves columns case-insensitively by
    # default, so 'ID' and 'id' are just as ambiguous as exact twins.
    used: set[str] = set()
    uniq: list[str] = []
    for n in names:
        cand, k = n, 1
        while cand.casefold() in used:
            k += 1
            cand = f"{n}_{k}"
        used.add(cand.casefold())
        uniq.append(cand)
    schema = ", ".join(f"`{n.replace('`', '``')}` string" for n in uniq)
    return local_frame(spark, data, schema)


def write_xlsx(path: str, columns: list[str], rows: list[list[str | None]]) -> None:
    """Minimal stdlib xlsx writer (inline strings only).

    The fixture twin of :func:`read_excel` — enough of the OOXML package
    (content types, rels, workbook, one worksheet) that any spreadsheet
    tool or our reader can open it. Driver tables are dimension-sized, so
    a driver-side writer is the right scale. None cells are omitted
    (sparse rows), matching how real exports leave blanks.
    """
    import zipfile
    from xml.sax.saxutils import escape

    def cell_ref(ci: int, ri: int) -> str:
        col = ""
        ci += 1
        while ci:
            ci, rem = divmod(ci - 1, 26)
            col = chr(ord("A") + rem) + col
        return f"{col}{ri}"

    def row_xml(ri: int, vals: list[str | None]) -> str:
        cells = "".join(
            f'<c r="{cell_ref(ci, ri)}" t="inlineStr"><is><t>{escape(str(v))}</t></is></c>'
            for ci, v in enumerate(vals)
            if v is not None
        )
        return f'<row r="{ri}">{cells}</row>'

    sheet = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        "<sheetData>"
        + row_xml(1, list(columns))
        + "".join(row_xml(i + 2, r) for i, r in enumerate(rows))
        + "</sheetData></worksheet>"
    )
    content_types = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
        "</Types>"
    )
    rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
        "</Relationships>"
    )
    workbook = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
        ' xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        '<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>'
    )
    workbook_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
        "</Relationships>"
    )
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("[Content_Types].xml", content_types)
        zf.writestr("_rels/.rels", rels)
        zf.writestr("xl/workbook.xml", workbook)
        zf.writestr("xl/_rels/workbook.xml.rels", workbook_rels)
        zf.writestr("xl/worksheets/sheet1.xml", sheet)
