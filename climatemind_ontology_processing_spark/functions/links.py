"""Hyperlink extraction + anchor-text alias mining over crawled HTML.

The reference's entity dictionary is hand-authored (ontology labels via
owlready2); at web scale the highest-precision free alias source is
anchor text — the visible text of links pointing at an entity's page
(the classic Wikipedia/web entity-linking dictionary construction).
This module extracts (page_url, href, anchor) rows from raw HTML and
aggregates them into a per-target alias dictionary that
``functions.triples.extract_triples`` can consume as its broadcast
alias map.

Extraction is a frozen pure-Python scanner (same determinism contract,
decode chain, and tag/entity conventions as ``functions.text.html_to_text``)
applied through ``mapInPandas`` — Arrow-batched, no per-row Python UDF
surface.  Aggregation is plain JVM-side groupBy over
(canonical target, normalized alias) keys: map-side combinable, no
shuffle wider than the distinct alias pairs.
"""
from __future__ import annotations

import html as html_mod
import re
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .text import _COMMENT_RE, _SCRIPT_RE, _TAG_RE, decode_html
from .urlnorm import canonical_url

_A_RE = re.compile(r"<a\b([^>]*)>(.*?)</a\s*>", re.IGNORECASE | re.DOTALL)
_HREF_RE = re.compile(
    r"""\bhref\s*=\s*(?:"([^"]*)"|'([^']*)'|([^\s>]+))""", re.IGNORECASE)
_WS_RE = re.compile(r"\s+")

LINK_SCHEMA = T.StructType([
    T.StructField("page_url", T.StringType()),
    T.StructField("href", T.StringType()),
    T.StructField("anchor", T.StringType()),
])


def scan_links(raw: bytes) -> list[tuple[str, str]]:
    """(href, anchor_text) pairs from one raw HTML document.

    href: first href attribute of each <a> (double-quoted, single-quoted
    or bare), entity-unescaped, whitespace-trimmed.  anchor: the <a>
    element's visible text — nested tags stripped, entities unescaped,
    all whitespace collapsed to single spaces.  Links with an empty href
    or empty visible text (image-only anchors) are dropped.  Comments
    and script/style subtrees are removed first (a commented-out link is
    not a link).
    """
    doc = decode_html(raw)
    doc = _COMMENT_RE.sub(" ", doc)
    doc = _SCRIPT_RE.sub(" ", doc)
    out = []
    for m in _A_RE.finditer(doc):
        hm = _HREF_RE.search(m.group(1))
        if not hm:
            continue
        href = html_mod.unescape(
            (hm.group(1) or hm.group(2) or hm.group(3) or "")).strip()
        anchor = html_mod.unescape(_TAG_RE.sub(" ", m.group(2)))
        anchor = _WS_RE.sub(" ", anchor).strip()
        if href and anchor:
            out.append((href, anchor))
    return out


def extract_links(pages: DataFrame, html_col: str = "html",
                  url_col: str = "url") -> DataFrame:
    """pages(url, html:binary) -> (page_url, href, anchor), one row per
    link occurrence (a page linking a target twice emits two rows —
    occurrence counts are evidence for the alias dictionary)."""
    h_name, u_name = html_col, url_col

    def scan_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            urls, hrefs, anchors = [], [], []
            for url, raw in zip(pdf[u_name], pdf[h_name]):
                if raw is None:
                    continue
                for href, anchor in scan_links(bytes(raw)):
                    urls.append(url)
                    hrefs.append(href)
                    anchors.append(anchor)
            yield pd.DataFrame(
                {"page_url": urls, "href": hrefs, "anchor": anchors})

    return pages.select(u_name, h_name).mapInPandas(
        scan_batches, schema=LINK_SCHEMA)


def anchor_aliases(links: DataFrame, top_k: int | None = None,
                   min_pages: int = 1) -> DataFrame:
    """Alias dictionary from link rows: (target, alias, n_links,
    n_pages) where target = canonical href (``urlnorm.canonical_url``)
    and alias = lowercased anchor text.  ``top_k`` keeps the k
    most-linked aliases per target (ties alias-ascending);
    ``min_pages`` drops aliases attested on fewer distinct pages
    (single-page anchors are navigation noise at web scale)."""
    agg = (links
           .select(canonical_url(F.col("href")).alias("target"),
                   F.lower(F.col("anchor")).alias("alias"),
                   "page_url")
           .groupBy("target", "alias")
           .agg(F.count("*").cast("long").alias("n_links"),
                F.countDistinct("page_url").cast("long").alias("n_pages"))
           .filter(F.col("n_pages") >= F.lit(int(min_pages))))
    if top_k is not None:
        w = Window.partitionBy("target").orderBy(
            F.col("n_links").desc(), F.col("alias").asc())
        agg = (agg.withColumn("_rk", F.row_number().over(w))
               .filter(F.col("_rk") <= int(top_k)).drop("_rk"))
    return agg


def alias_commonness(aliases: DataFrame) -> DataFrame:
    """The entity-linking prior P(target | alias) from an alias
    dictionary (the ``anchor_aliases`` output): for every alias, each
    candidate target's link share as an integer micro probability plus
    its rank — the "commonness" model of Wikipedia-anchor entity linking
    (Milne & Witten 2008).  Returns (alias, target, n_links,
    commonness_micro, rank) with rank 1 = most likely sense;
    commonness_micro = floor(1e6 * n_links / total_links(alias)).
    One groupBy + one window over the (small) dictionary — the corpus
    itself is never touched."""
    tot = (aliases.groupBy("alias")
           .agg(F.sum("n_links").cast("long").alias("_tot")))
    w = Window.partitionBy("alias").orderBy(
        F.col("n_links").desc(), F.col("target").asc())
    return (aliases.join(tot, "alias")
            .select("alias", "target", "n_links",
                    F.expr("(n_links * 1000000) div _tot").cast("long")
                    .alias("commonness_micro"),
                    F.row_number().over(w).alias("rank")))
