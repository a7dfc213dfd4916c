"""Scrape ingest source (reference S1-S5, utils/extract.py).

The reference fetches 50 HTML pages sequentially with a 1.5 s politeness
sleep and parses product cards with BeautifulSoup into a pandas frame
(reference utils/extract.py:90-141). Here one scan serves both
the live site and saved pages:

- fetch_pages: the only HTTP code. The reference's serial crawl
  (stdlib urllib, politeness delay between pages, per-page error skip)
  writes each fetched page as an .html file into a directory;
- ingest_html_files: spark.read.text(wholetext) over such a directory,
  parsed *inside executors* via mapInPandas, so the parse scales with
  the cluster. Tests feed it saved pages (mirroring the reference's
  mocked tests, tests/test_extract.py:26-41).

Card semantics reproduced exactly (utils/extract.py:35-87): title from
h3.product-title (card skipped if missing), price from span.price
(default "N/A"), p-tags scanned for Rating:/Colors/Size:/Gender:.
BeautifulSoup isn't required: a small stdlib html.parser tree walk
implements the same selectors.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from html.parser import HTMLParser
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession

from simple_etl_pipeline_spark.schemas import RAW_PRODUCT_SCHEMA

BASE_URL = "https://fashion-studio.dicoding.dev"
TOTAL_PAGES = 50

CARD_CLASSES = {"collection-card", "product-card", "item-card"}
CARD_FALLBACK_SUBSTRINGS = ("product", "collection", "item")


def build_page_url(base_url: str, page: int) -> str:
    """Page 1 is the bare base URL; page N is {base}/pageN
    (reference utils/extract.py:96-100)."""
    return base_url if page == 1 else f"{base_url}/page{page}"


@dataclass
class _Node:
    tag: str
    attrs: dict[str, str]
    children: list["_Node"] = field(default_factory=list)
    text_parts: list[str] = field(default_factory=list)

    @property
    def classes(self) -> set[str]:
        return set(self.attrs.get("class", "").split())

    def text(self) -> str:
        out = "".join(self.text_parts)
        for ch in self.children:
            out += ch.text()
        return out

    def walk(self) -> Iterator["_Node"]:
        yield self
        for ch in self.children:
            yield from ch.walk()


_VOID_TAGS = {"br", "img", "hr", "input", "meta", "link"}


class _TreeBuilder(HTMLParser):
    def __init__(self) -> None:
        super().__init__()
        self.root = _Node("root", {})
        self.stack = [self.root]

    def handle_starttag(self, tag, attrs):
        node = _Node(tag, dict(attrs))
        self.stack[-1].children.append(node)
        if tag not in _VOID_TAGS:
            self.stack.append(node)

    def handle_endtag(self, tag):
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                break

    def handle_data(self, data):
        self.stack[-1].text_parts.append(data)


def _select_cards(root: _Node) -> list[_Node]:
    cards = [
        n for n in root.walk() if n.tag == "div" and n.classes & CARD_CLASSES
    ]
    if cards:
        return cards
    return [
        n
        for n in root.walk()
        if n.tag == "div"
        and any(s in c for c in n.classes for s in CARD_FALLBACK_SUBSTRINGS)
    ]


def parse_product_card(card: _Node, timestamp: str) -> dict | None:
    """One card -> raw record (reference utils/extract.py:35-87)."""
    title = None
    for n in card.walk():
        if n.tag == "h3" and "product-title" in n.classes:
            title = n.text().strip()
            break
    if not title:
        return None  # required title (utils/extract.py:44-48)

    price = "N/A"  # default (utils/extract.py:51-56)
    for n in card.walk():
        if n.tag == "span" and "price" in n.classes:
            price = n.text().strip()
            break

    rating = "N/A"
    colors = "N/A"
    size = "N/A"
    gender = "N/A"
    for n in card.walk():
        if n.tag != "p":
            continue
        text = n.text().strip()
        if text.startswith("Rating:"):
            rating = text.replace("Rating:", "").strip()
        elif "Colors" in text:
            colors = text  # whole text kept (utils/extract.py:69-70)
        elif text.startswith("Size:"):
            size = text.replace("Size:", "").strip()
        elif text.startswith("Gender:"):
            gender = text.replace("Gender:", "").strip()

    return {
        "title": title,
        "price": price,
        "rating": rating,
        "colors": colors,
        "size": size,
        "gender": gender,
        "timestamp": timestamp,
    }


def parse_products_html(html: str, timestamp: str = "1970-01-01T00:00:00") -> list[dict]:
    """All product records in one HTML document."""
    builder = _TreeBuilder()
    builder.feed(html)
    records = []
    for card in _select_cards(builder.root):
        rec = parse_product_card(card, timestamp)
        if rec is not None:
            records.append(rec)
    return records


def ingest_html_files(
    spark: SparkSession, path: str, run_timestamp: str = "1970-01-01T00:00:00"
) -> DataFrame:
    """Distributed parse of saved HTML pages -> raw product DataFrame.

    One whole-file row per page; parsing happens in executors via
    mapInPandas (Arrow-batched). A single run_timestamp literal keeps
    output deterministic (the reference stamps per-card wall clock,
    utils/extract.py:83 — non-reproducible by design; we don't copy
    that flaw).
    """
    import pandas as pd

    pages = spark.read.text(path, wholetext=True)

    def parse_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in RAW_PRODUCT_SCHEMA.fields]
        for pdf in batches:
            rows = []
            for html in pdf["value"]:
                rows.extend(parse_products_html(html, run_timestamp))
            yield pd.DataFrame(rows, columns=cols)

    return pages.mapInPandas(parse_batch, RAW_PRODUCT_SCHEMA)


def fetch_pages(
    out_dir: str,
    base_url: str = BASE_URL,
    total_pages: int = TOTAL_PAGES,
    delay_seconds: float = 1.5,
    timeout: float = 10.0,
) -> list[str]:
    """Crawl the site into out_dir (network!), one page{N}.html per
    fetched page, for ingest_html_files to read. Mirrors the reference's
    loop (utils/extract.py:90-141): pages are fetched one at a time with
    the politeness delay between them, and a page that fails is skipped.
    out_dir must not exist yet (FileExistsError otherwise), so a page
    that fails now is never read from an earlier crawl. Returns the
    written file paths."""
    import os
    import time
    import urllib.request

    os.makedirs(out_dir)
    written: list[str] = []
    for page in range(1, total_pages + 1):
        url = build_page_url(base_url, page)
        try:
            with urllib.request.urlopen(url, timeout=timeout) as resp:
                html = resp.read().decode("utf-8", errors="replace")
        except Exception:  # noqa: BLE001 — per-page skip, like the reference
            pass
        else:
            path = os.path.join(out_dir, f"page{page}.html")
            with open(path, "w", encoding="utf-8") as f:
                f.write(html)
            written.append(path)
        if page < total_pages:
            time.sleep(delay_seconds)
    return written
