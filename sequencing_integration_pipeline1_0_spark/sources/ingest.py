"""Ingestion (SURVEY §2.1 S1-S7).

Reference contract: every file is read ALL-STRING with a curated
NA-string vocabulary and a per-row provenance column
(ROSTER_COMPILE.Rmd:121-157, fuzzy.Rmd:97-155); extension-dispatched
polyglot reader with corrupt-file tolerance (read_all_data.Rmd:51-64).

Spark-first: one spark.read over the whole path list (NOT a Python loop
of unions — a thousand-file queue is one scan with partition-parallel
reads), provenance via input_file_name(), corrupt rows tolerated via
PERMISSIVE + columnNameOfCorruptRecord.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.cleaning import NA_STRINGS, normalize_na_df


def read_csv_allstring(spark: SparkSession, paths: Sequence[str] | str, *,
                       header: bool = True, sep: str = ",",
                       na_strings: Iterable[str] = NA_STRINGS,
                       provenance: str | None = "index",
                       schema: T.StructType | None = None,
                       corrupt_col: str | None = "_corrupt_record") -> DataFrame:
    """S1/S3: all-string CSV/TSV scan (+ .gz auto codec), NA vocabulary
    normalized to NULL, provenance column = source file path.

    The reference names its provenance column `index`
    (ROSTER_COMPILE.Rmd:135-157 map_df(.id='index'))."""
    reader = (spark.read
              .option("header", header)
              .option("sep", sep)
              .option("mode", "PERMISSIVE"))
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", False)  # all columns -> string
    if corrupt_col and schema is not None:
        reader = reader.option("columnNameOfCorruptRecord", corrupt_col)
    df = reader.csv(list(paths) if not isinstance(paths, str) else paths)
    if provenance:
        df = df.withColumn(provenance, F.input_file_name())
    exclude = {provenance} if provenance else set()
    df = normalize_na_df(df, [c for c in df.columns
                              if c not in exclude and c != corrupt_col],
                         na_strings)
    return df


def read_jsonl_allstring(spark: SparkSession,
                         paths: Sequence[str] | str, *,
                         na_strings: Iterable[str] = NA_STRINGS,
                         provenance: str | None = "index",
                         corrupt_col: str = "_corrupt_record") -> DataFrame:
    """JSON-lines ingestion under the same all-string contract as S1 —
    the de-facto LLM corpus interchange format (one JSON doc per line,
    .jsonl/.ndjson). primitivesAsString keeps numbers/booleans as
    strings (schema drift across shards can't flip a column's type
    mid-read); PERMISSIVE mode lands malformed lines in `corrupt_col`
    instead of failing the scan — corrupt rows are data to triage, the
    reference's divert-to-holding discipline (S12) applied per line.

    Scale shape: one spark.read over the whole path list (native JSON
    source, partition-parallel, pushdown-capable); provenance via
    input_file_name()."""
    df = (spark.read
          .option("primitivesAsString", True)
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", corrupt_col)
          .json(list(paths) if not isinstance(paths, str) else paths))
    if provenance:
        df = df.withColumn(provenance, F.input_file_name())
    exclude = {provenance, corrupt_col} if provenance else {corrupt_col}
    return normalize_na_df(df, [c for c in df.columns if c not in exclude],
                           na_strings)


def read_parquet(spark: SparkSession, path: str,
                 provenance: str | None = None) -> DataFrame:
    df = spark.read.parquet(path)
    if provenance:
        df = df.withColumn(provenance, F.input_file_name())
    return df


def read_orc(spark: SparkSession, path: str,
             provenance: str | None = None) -> DataFrame:
    """Native ORC scan (Spark ships the reader; same typed-columnar
    contract as parquet — predicate pushdown and column pruning
    included). Registered in read_any so an ORC-producing upstream
    (Hive-era warehouses commonly are) drops into the same polyglot
    path."""
    df = spark.read.orc(path)
    if provenance:
        df = df.withColumn(provenance, F.input_file_name())
    return df


#: S6 reader registry keyed on extension; xlsx handled via pandas since
#: Spark has no native xlsx source (SURVEY S2) — used only off the hot path.
def read_any(spark: SparkSession, path: str, **kw) -> DataFrame:
    ext = os.path.splitext(path)[1].lower().lstrip(".")
    if ext in ("csv", "txt"):
        return read_csv_allstring(spark, path, **kw)
    if ext in ("tsv", "tab"):
        return read_csv_allstring(spark, path, sep="\t", **kw)
    if ext == "gz":  # e.g. metadata.tsv.gz
        inner = os.path.splitext(os.path.splitext(path)[0])[1].lstrip(".")
        return read_csv_allstring(spark, path, sep="\t" if inner in ("tsv", "tab") else ",", **kw)
    if ext == "parquet":
        return read_parquet(spark, path)
    if ext == "orc":
        return read_orc(spark, path)
    if ext in ("json", "jsonl", "ndjson"):
        return read_jsonl_allstring(spark, path, **kw)
    if ext == "xlsx":
        return _grid_to_df(spark, _xlsx_grid(path, sheet=kw.get("sheet", 0)),
                           path, kw)
    if ext == "xls":
        # legacy BIFF is NOT a zip-of-XML — the SpreadsheetML reader
        # cannot parse it; the vendored stdlib CFB+BIFF8 subset reader
        # (xls_biff.py) produces the identical grid contract, so both
        # Excel generations post-process through one path
        from .xls_biff import xls_grid
        return _grid_to_df(spark, xls_grid(path, sheet=kw.get("sheet", 0)),
                           path, kw)
    raise ValueError(f"unsupported extension: {path}")


def _grid_to_df(spark: SparkSession, grid: list[list],
                path: str, kw: dict) -> DataFrame:
    """Shared xlsx/xls tail of read_any: first row is the header
    (pandas-style duplicate mangling), remaining rows all-string, NA
    vocabulary -> NULL, provenance column — the same ingest contract
    as the csv/jsonl branches (advice r4)."""
    import pandas as pd
    if not grid or not grid[0]:
        # zero-column pd.DataFrame -> createDataFrame raises an
        # opaque schema error; name the real problem instead
        raise ValueError(f"spreadsheet has no header row: {path}")
    hdr = _mangle_dupes(["" if v is None else str(v) for v in grid[0]])
    df = spark.createDataFrame(
        pd.DataFrame(grid[1:], columns=hdr, dtype="object"))
    prov = kw.get("provenance", "index")
    if prov:
        df = df.withColumn(prov, F.lit(path))
    exclude = {prov} if prov else set()
    return normalize_na_df(
        df, [c for c in df.columns if c not in exclude],
        kw.get("na_strings", NA_STRINGS))


def _mangle_dupes(hdr: list[str]) -> list[str]:
    """Pandas-style duplicate-header mangling ('X', 'X.1', 'X.2') —
    duplicate labels would make the downstream contract reindex raise
    on an axis with duplicate labels, failing the whole ingest for one
    sloppy submission sheet. The candidate loops (h.1, h.2, ...) until
    it collides with neither an already-emitted label nor a yet-to-come
    ORIGINAL header — a sheet mixing a duplicate with a pre-existing
    mangled name (A, A, A.1) must not re-create the duplicate it
    exists to prevent (advice r4): -> A, A.2, A.1."""
    seen: dict[str, int] = {}
    out = []
    for i, h in enumerate(hdr):
        if h not in seen:
            seen[h] = 0
            out.append(h)
            continue
        k = seen[h] + 1
        cand = f"{h}.{k}"
        while cand in seen or cand in hdr[i + 1:]:
            k += 1
            cand = f"{h}.{k}"
        seen[h] = k
        seen[cand] = 0
        out.append(cand)
    return out


_XLSX_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_XLSX_RNS = ("{http://schemas.openxmlformats.org/officeDocument/2006/"
             "relationships}")
_XLSX_RELNS = ("{http://schemas.openxmlformats.org/package/2006/"
               "relationships}")


def _xlsx_sheet_rows(path: str,
                     sheet: str | int = 0) -> list[tuple[int, dict]]:
    """Parse one worksheet of an .xlsx with NOTHING but the stdlib: an
    xlsx file is a zip of SpreadsheetML XML (ECMA-376), so
    zipfile + ElementTree suffice — no openpyxl. Resolves the sheet by
    name or position through workbook.xml + its rels, decodes shared
    strings / inline strings / booleans / raw numerics as strings
    (the all-string ingest contract, S1), and returns
    [(row_number, {0-based col idx: value})] sorted by row number.
    Cells carrying only a style (no value) read as absent. Date cells
    surface as raw Excel serial numbers — the reference's linelists
    carry dates as text, and F12's multi-format parser owns
    string->date anyway."""
    import xml.etree.ElementTree as ET
    import zipfile

    with zipfile.ZipFile(path) as z:
        wb = ET.fromstring(z.read("xl/workbook.xml"))
        entries = [(s.get("name"), s.get(f"{_XLSX_RNS}id"))
                   for s in wb.find(f"{_XLSX_NS}sheets")]
        if isinstance(sheet, int):
            if sheet >= len(entries):
                raise ValueError(f"sheet index {sheet} out of range "
                                 f"({len(entries)} sheets)")
            _, rid = entries[sheet]
        else:
            hits = [r for n, r in entries if n == sheet]
            if not hits:
                raise ValueError(f"sheet {sheet!r} not found; workbook has "
                                 f"{[n for n, _ in entries]}")
            rid = hits[0]
        rels = ET.fromstring(z.read("xl/_rels/workbook.xml.rels"))
        target = next(r.get("Target") for r in rels.iter(f"{_XLSX_RELNS}Relationship")
                      if r.get("Id") == rid)
        member = target.lstrip("/") if target.startswith("/") \
            else f"xl/{target}"
        shared: list[str] = []
        if "xl/sharedStrings.xml" in z.namelist():
            ss = ET.fromstring(z.read("xl/sharedStrings.xml"))
            shared = ["".join(t.text or "" for t in si.iter(f"{_XLSX_NS}t"))
                      for si in ss.findall(f"{_XLSX_NS}si")]
        ws = ET.fromstring(z.read(member))
        out: list[tuple[int, dict]] = []
        for rowel in ws.iter(f"{_XLSX_NS}row"):
            rnum = int(rowel.get("r", len(out) + 1))
            cells: dict[int, str] = {}
            next_ci = 0  # ECMA-376: an unreferenced <c> occupies the
            #              column after the PREVIOUS cell, value or not
            for c in rowel.findall(f"{_XLSX_NS}c"):
                letters = "".join(ch for ch in (c.get("r") or "")
                                  if ch.isalpha())
                ci = col_letters_to_idx(letters) if letters else next_ci
                next_ci = ci + 1
                ctype = c.get("t")
                if ctype == "inlineStr":
                    node = c.find(f"{_XLSX_NS}is")
                    val = ("".join(t.text or ""
                                   for t in node.iter(f"{_XLSX_NS}t"))
                           if node is not None else None)
                else:
                    v = c.find(f"{_XLSX_NS}v")
                    if v is None or v.text is None:
                        val = None
                    elif ctype == "s":
                        val = shared[int(v.text)]
                    elif ctype == "b":
                        val = "True" if v.text.strip() == "1" else "False"
                    else:  # numeric / formula-string ('str') / error
                        val = v.text
                if val is not None:
                    cells[ci] = val
            out.append((rnum, cells))
        out.sort(key=lambda rc: rc[0])
        return out


def _xlsx_grid(path: str, sheet: str | int = 0,
               usecols: Sequence[int] | None = None,
               skiprows: int | None = None) -> list[list]:
    """Worksheet -> rectangular grid of str/None (rows in SHEET-ROW
    order), restricted to `usecols` (0-based positions) and with the
    first `skiprows` rows dropped — the slicing vocabulary read_xlsx's
    cell_range maps onto.

    Empty rows that Excel omitted from the XML entirely (no <row>
    element) are materialized as all-None rows, so skiprows/header
    positions stay aligned with what the spreadsheet SHOWS — slicing
    the serialized rows positionally would silently shift every row
    below a blank one (the pandas path preserved blanks as NaN rows)."""
    parsed = _xlsx_sheet_rows(path, sheet)
    by_rnum = dict(parsed)
    max_rnum = max(by_rnum, default=0)
    rows = [by_rnum.get(r, {}) for r in range(1, max_rnum + 1)]
    rows = rows[skiprows or 0:]
    width = max((max(c) + 1 for c in rows if c), default=0)
    sel = list(usecols) if usecols is not None else list(range(width))
    return [[cells.get(i) for i in sel] for cells in rows]


def col_letters_to_idx(letters: str) -> int:
    """Spreadsheet column letters -> 0-based index ('A'->0, 'AB'->27)."""
    n = 0
    for ch in letters.strip().upper():
        if not ch.isalpha():
            raise ValueError(f"bad column letters: {letters!r}")
        n = n * 26 + (ord(ch) - ord("A") + 1)
    return n - 1


def parse_cell_range(rng: str) -> tuple[int, int, int | None, int | None]:
    """Parse an Excel range spec into (col_start, col_end, row_start,
    row_end), 0-based inclusive columns, 1-based inclusive rows (None =
    unbounded). Accepts the two forms the reference uses:
      'A:F'     — cell_cols, columns only (SGTF_template_matching.Rmd:66)
      'A2:F100' — full rectangle
    """
    import re as _re
    m = _re.fullmatch(r"([A-Za-z]+)(\d*):([A-Za-z]+)(\d*)", rng.strip())
    if not m:
        raise ValueError(f"bad cell range: {rng!r}")
    c1, r1, c2, r2 = m.groups()
    if bool(r1) != bool(r2):
        raise ValueError(f"bad cell range (mixed forms): {rng!r}")
    return (col_letters_to_idx(c1), col_letters_to_idx(c2),
            int(r1) if r1 else None, int(r2) if r2 else None)


def read_xlsx(spark: SparkSession, paths: Sequence[str] | str, *,
              columns: Sequence[str], sheet: str | int = 0,
              cell_range: str | None = None, header: bool = True,
              provenance: str | None = "index",
              na_strings: Iterable[str] = NA_STRINGS) -> DataFrame:
    """S2: xlsx ingestion with sheet + cell-range selection, mirroring
    the reference's read_xlsx(sheet='Linelist', range=cell_cols('A:F'))
    contract (SGTF_template_matching.Rmd:64-66; submissions arrive as
    Excel linelists constantly — phl/template paths).

    `columns` is the expected all-string contract (the reference
    declares col_headers up front and validates, :44-75) — it fixes the
    Spark schema at plan time; short files reindex to it (missing
    columns read as NULL, like the reference's is-missing warning path).

    Scale shape: parsing distributes over FILES — the path list becomes
    a DataFrame and each task parses its files with the stdlib
    SpreadsheetML reader (_xlsx_sheet_rows: zipfile + ElementTree — no
    openpyxl dependency) inside mapInPandas (Arrow-batched). A thousand
    submission files = one job with 32-way file parallelism, no driver
    loop."""
    import pandas as pd

    path_list = [paths] if isinstance(paths, str) else list(paths)
    out_cols = list(columns) + ([provenance] if provenance else [])
    schema = T.StructType(
        [T.StructField(c, T.StringType()) for c in out_cols])
    usecols = skiprows = nrows = None
    if cell_range:
        c1, c2, r1, r2 = parse_cell_range(cell_range)
        usecols = list(range(c1, c2 + 1))
        if r1 is not None:
            skiprows = r1 - 1
            nrows = r2 - r1 + 1 - (1 if header else 0)

    def parse(batches):
        for pdf in batches:
            frames = []
            for path in pdf["path"]:
                grid = _xlsx_grid(path, sheet=sheet,
                                  usecols=usecols, skiprows=skiprows)
                if header:
                    hdr = _mangle_dupes(
                        ["" if v is None else str(v)
                         for v in (grid[0] if grid else [])])
                    data = grid[1:]
                    if nrows is not None:
                        data = data[:nrows]
                    raw = pd.DataFrame(data, columns=hdr, dtype="object")
                else:
                    # no header row: map values POSITIONALLY onto the
                    # declared contract (label reindex over positions
                    # would silently null out every column). Extra
                    # trailing columns beyond the contract are dropped
                    # first — a stray value in a spare column must not
                    # fail the whole ingest.
                    data = grid if nrows is None else grid[:nrows]
                    raw = pd.DataFrame(data, dtype="object")
                    raw = raw.iloc[:, :len(list(columns))]
                    raw.columns = list(columns)[:len(raw.columns)]
                raw = raw.reindex(columns=list(columns))
                if provenance:
                    raw[provenance] = path
                frames.append(raw.astype("object"))
            if frames:
                yield pd.concat(frames, ignore_index=True)

    files = spark.createDataFrame([(p,) for p in path_list], "path string") \
                 .repartition(min(max(len(path_list), 1), 32))
    df = files.mapInPandas(parse, schema=schema)
    exclude = {provenance} if provenance else set()
    return normalize_na_df(df, [c for c in df.columns if c not in exclude],
                           na_strings)


def latest_file_per_dir(spark: SparkSession, root: str,
                        pattern: str = "*") -> DataFrame:
    """S7: directory-glob discovery with latest-by-mtime selection per
    dir (phl.Rmd:116-133), expressed as a file-listing DataFrame +
    window argmax so it scales to millions of queue files."""
    import glob as _glob
    rows = []
    for p in _glob.glob(os.path.join(root, "**", pattern), recursive=True):
        if os.path.isfile(p):
            rows.append((os.path.dirname(p), p, float(os.path.getmtime(p))))
    schema = "dir string, path string, mtime double"
    df = spark.createDataFrame(rows, schema=schema)
    from ..operators.aggregates import latest_per_group
    return latest_per_group(df, ["dir"], "mtime")
