"""Scrape-source spec, mirroring the reference's mocked extract tests
(/root/reference/tests/test_extract.py; FIXTURES.md §4)."""

from __future__ import annotations

from simple_etl_pipeline_spark.sources.scrape import (
    build_page_url,
    ingest_html_files,
    parse_products_html,
)

CARD_HTML = """
<div class="product-card">
    <h3 class="product-title">Test Product</h3>
    <span class="price">$99.99</span>
    <p>Rating: 4.5 / 5</p>
    <p>3 Colors</p>
    <p>Size: M</p>
    <p>Gender: Unisex</p>
</div>
"""


def test_parse_full_card():
    recs = parse_products_html(f"<html><body>{CARD_HTML}</body></html>", "T0")
    assert len(recs) == 1
    r = recs[0]
    assert r["title"] == "Test Product"
    assert r["price"] == "$99.99"
    assert r["rating"] == "4.5 / 5"
    assert r["colors"] == "3 Colors"
    assert r["size"] == "M"
    assert r["gender"] == "Unisex"
    assert r["timestamp"] == "T0"


def test_missing_title_skips_card():
    html = '<div class="product-card"><span class="price">$5</span></div>'
    assert parse_products_html(html) == []


def test_missing_price_defaults_na():
    html = '<div class="product-card"><h3 class="product-title">X</h3></div>'
    recs = parse_products_html(html)
    assert recs[0]["price"] == "N/A"


def test_fallback_card_class():
    html = '<div class="fancy-product-box"><h3 class="product-title">Y</h3></div>'
    recs = parse_products_html(html)
    assert [r["title"] for r in recs] == ["Y"]


def test_empty_page():
    assert parse_products_html("<html><body><p>nothing</p></body></html>") == []


def test_page_url_rule():
    assert build_page_url("https://x", 1) == "https://x"
    assert build_page_url("https://x", 7) == "https://x/page7"


def test_ingest_html_files(spark, tmp_path):
    for i in range(3):
        (tmp_path / f"page{i}.html").write_text(
            f"<html><body>{CARD_HTML.replace('Test Product', f'Product {i}')}</body></html>"
        )
    df = ingest_html_files(spark, str(tmp_path), run_timestamp="2026-01-01T00:00:00")
    rows = df.orderBy("title").collect()
    assert [r.title for r in rows] == ["Product 0", "Product 1", "Product 2"]
    assert all(r.timestamp == "2026-01-01T00:00:00" for r in rows)
    assert df.schema.fieldNames() == [
        "title", "price", "rating", "colors", "size", "gender", "timestamp",
    ]


def test_fetch_pages_writes_served_pages_for_ingest(spark, tmp_path):
    """fetch_pages crawls page 1 at the bare base URL and page N at
    {base}/pageN, skips a page that fails (404), and writes the rest
    where ingest_html_files reads them; it refuses a directory that
    exists, so no page of an earlier crawl is read. Served from
    loopback only."""
    import threading

    import pytest
    from http.server import BaseHTTPRequestHandler, HTTPServer

    from simple_etl_pipeline_spark.sources.scrape import fetch_pages

    served = {
        "/": CARD_HTML.replace("Test Product", "Page 1 Product"),
        "/page3": CARD_HTML.replace("Test Product", "Page 3 Product"),
    }
    requested = []

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):
            requested.append(self.path)
            body = served.get(self.path)
            if body is None:
                self.send_error(404)
                return
            data = f"<html><body>{body}</body></html>".encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def log_message(self, *args):
            pass

    server = HTTPServer(("127.0.0.1", 0), Handler)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    try:
        out = tmp_path / "pages"
        written = fetch_pages(
            str(out),
            base_url=f"http://127.0.0.1:{server.server_port}",
            total_pages=3,
            delay_seconds=0,
        )
        with pytest.raises(FileExistsError):
            fetch_pages(str(out), base_url="http://127.0.0.1:1", total_pages=1)
    finally:
        server.shutdown()
        server.server_close()
    assert requested == ["/", "/page2", "/page3"]
    on_disk = sorted(out.iterdir())
    assert [p.name for p in on_disk] == ["page1.html", "page3.html"]
    assert sorted(written) == [str(p) for p in on_disk]
    df = ingest_html_files(spark, str(out))
    assert sorted(r.title for r in df.collect()) == ["Page 1 Product", "Page 3 Product"]


def test_jdbc_reader_config(spark):
    import pytest as _pytest

    import simple_etl_pipeline_spark.sinks as sinks
    from simple_etl_pipeline_spark.sources.jdbc import (
        build_jdbc_reader,
        jdbc_reader_options,
    )

    params = {"host": "h", "database": "d", "user": "u", "password": "p"}
    with _pytest.raises(sinks.LoadError, match="missing connection params"):
        jdbc_reader_options("t", {"host": "h"})
    with _pytest.raises(sinks.LoadError, match="lower_bound"):
        jdbc_reader_options("t", params, partition_column="id")

    opts = jdbc_reader_options(
        "events", params,
        partition_column="event_id", lower_bound=0, upper_bound=1_000_000,
        num_partitions=16,
    )
    assert opts["url"] == "jdbc:postgresql://h:5432/d"
    assert opts["dbtable"] == "public.events"
    assert opts["partitionColumn"] == "event_id"
    assert (opts["lowerBound"], opts["upperBound"]) == ("0", "1000000")
    assert opts["numPartitions"] == "16"

    r = build_jdbc_reader(
        spark, "events", params,
        partition_column="event_id", lower_bound=0, upper_bound=1_000_000,
    )
    assert hasattr(r, "load")
