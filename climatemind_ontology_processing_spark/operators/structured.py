"""Structured-data (JSON-LD) extraction from web pages.

The highest-precision triple source on the real web is not free text —
it is embedded schema.org markup: ``<script type="application/ld+json">``
blocks that sites publish for search engines.  A web-scale KG pipeline
mines these FIRST (precision ~1, no NLP) and falls back to
dictionary/pattern extraction (functions/triples, operators/hearst,
operators/openie) for the long tail.  The reference has no counterpart
(its input is a curated OWL file); this is the web generalization of its
"trusted structured source" role.

Spark-first shape: block extraction is ``regexp_extract_all`` (one
engine-portable regex, no lookarounds), field extraction is
``get_json_object`` — both JVM-side, whole-stage-codegen, zero Python.
Malformed JSON yields NULLs (dropped, counted by the caller via
anti-join) rather than failing the scan — on the open web a crashed
batch costs more than a skipped broken block; this is the one family
where skip-quietly is the documented CORRECT behavior, and the
(block - extracted) census is one cheap aggregate away.

Nesting note: ``get_json_object`` handles dotted paths into nested
objects; deeply nested @graph arrays need an explode pass per level —
out of scope here, documented.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

LDJSON_PATTERN = r'<script type="application/ld\+json">([^<]*)</script>'


def jsonld_blocks(pages: DataFrame, html_col: str = "html",
                  id_col: str = "url") -> DataFrame:
    """(id, block_idx, block) — every JSON-LD script body per page, in
    document order (0-based)."""
    return (pages
            .select(F.col(id_col),
                    F.posexplode(
                        F.regexp_extract_all(
                            F.col(html_col).cast("string"),
                            F.lit(LDJSON_PATTERN), F.lit(1)))
                    .alias("block_idx", "block")))


def jsonld_facts(pages: DataFrame, fields: tuple[str, ...],
                 html_col: str = "html", id_col: str = "url") -> DataFrame:
    """(id, block_idx, field, value) for every requested top-level field
    present in a block — the melt/EAV shape downstream triple builders
    consume as (subj=id#block, pred=field, obj=value).  Missing fields
    and unparseable blocks simply produce no row."""
    if not fields:
        raise ValueError("fields must be non-empty")
    if len(set(fields)) != len(fields):
        raise ValueError("duplicate field names (map keys would collide)")
    b = jsonld_blocks(pages, html_col, id_col)
    pairs = [x for f in fields
             for x in (F.lit(f), F.get_json_object("block", f"$.{f}"))]
    return (b.select(id_col, "block_idx",
                     F.explode(F.create_map(*pairs)).alias("field", "value"))
            .filter(F.col("value").isNotNull()))


# --- HTML table mining ------------------------------------------------------
# The second structured source after JSON-LD: data tables.  Flat tables
# only — a nested <table> inside a cell breaks the regex segmentation
# (documented; real parsers belong in an Arrow UDF if ever needed).  All
# three patterns are lookaround-free and lazy-quantified, so Java regex
# (Spark) and RE2 (DuckDB) agree — the pii.py portability discipline.
TABLE_PATTERN = r"(?is)<table[^>]*>(.*?)</table>"
ROW_PATTERN = r"(?is)<tr[^>]*>(.*?)</tr>"
CELL_PATTERN = r"(?is)<t[hd][^>]*>(.*?)</t[hd]>"


def html_table_cells(pages: DataFrame, html_col: str = "html",
                     id_col: str = "url") -> DataFrame:
    """(id, table_idx, row_idx, col_idx, cell) — every cell of every flat
    <table>, 0-based indices in document order, tags stripped and
    whitespace collapsed inside the cell text."""
    tables = pages.select(
        F.col(id_col),
        F.posexplode(F.regexp_extract_all(
            F.col(html_col).cast("string"),
            F.lit(TABLE_PATTERN), F.lit(1))).alias("table_idx", "_t"))
    rows = tables.select(
        id_col, "table_idx",
        F.posexplode(F.regexp_extract_all(
            "_t", F.lit(ROW_PATTERN), F.lit(1))).alias("row_idx", "_r"))
    clean = lambda c: F.trim(F.regexp_replace(
        F.regexp_replace(c, r"<[^>]+>", " "), r"\s+", " "))
    return rows.select(
        id_col, "table_idx", "row_idx",
        F.posexplode(F.regexp_extract_all(
            "_r", F.lit(CELL_PATTERN), F.lit(1))).alias("col_idx", "_c")
    ).select(id_col, "table_idx", "row_idx", "col_idx",
             clean(F.col("_c")).alias("cell"))


def html_table_facts(pages: DataFrame, html_col: str = "html",
                     id_col: str = "url") -> DataFrame:
    """Header-paired table facts: (id, table_idx, row_idx, header, cell)
    for every DATA cell (row_idx >= 1), joined to its column's header
    text from the table's first row — the (entity row, attribute column)
    melt that turns a web data table into KG triples
    (subj = id#table#row, pred = header, obj = cell).

    Columns beyond the header row's width get the positional fallback
    header ``col<i>`` (ragged tables must not silently drop cells).  The
    header join is per (page, table) — broadcast-friendly and never
    corpus-wide."""
    cells = html_table_cells(pages, html_col, id_col)
    headers = (cells.filter(F.col("row_idx") == 0)
               .select(id_col, "table_idx", "col_idx",
                       F.col("cell").alias("_h")))
    data = cells.filter(F.col("row_idx") >= 1)
    return (data.join(headers, [id_col, "table_idx", "col_idx"], "left")
            .select(id_col, "table_idx", "row_idx",
                    F.coalesce(F.col("_h"),
                               F.concat(F.lit("col"),
                                        F.col("col_idx").cast("string")))
                    .alias("header"),
                    "col_idx", "cell"))
