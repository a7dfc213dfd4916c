from __future__ import annotations

import csv
import json
import logging

import pytest
from pyspark.sql import functions as F

from simple_etl_pipeline_spark import pipeline
from simple_etl_pipeline_spark.operators.transform import transform_data
from simple_etl_pipeline_spark.pipeline import run_pipeline

PAGE = """
<html><body>
<div class="product-card">
  <h3 class="product-title">Shirt 1</h3>
  <span class="price">$10.00</span>
  <p>Rating: 4.0 / 5</p><p>3 Colors</p><p>Size: M</p><p>Gender: Men</p>
</div>
<div class="product-card">
  <h3 class="product-title">Unknown Product</h3>
  <span class="price">N/A</span>
  <p>Rating: N/A</p><p>Unknown Colors</p><p>Size: </p><p>Gender: </p>
</div>
</body></html>
"""

DIRTY_PAGE = """
<html><body>
<div class="product-card">
  <h3 class="product-title">Unknown Product</h3>
  <span class="price">Price Unavailable</span>
  <p>Rating: Not Rated</p><p>3 Colors</p><p>Size: M</p><p>Gender: Men</p>
</div>
</body></html>
"""

@pytest.fixture()
def pipeline_log(caplog):
    caplog.set_level(logging.INFO, logger=pipeline.__name__)
    return caplog


def _pages(tmp_path, *htmls):
    pages = tmp_path / "pages"
    pages.mkdir()
    for i, html in enumerate(htmls):
        (pages / f"p{i}.html").write_text(html)
    return str(pages)


def test_pipeline_end_to_end(spark, tmp_path, pipeline_log):
    pages = tmp_path / "pages"
    out = tmp_path / "out"
    pages.mkdir()
    (pages / "p1.html").write_text(PAGE)

    assert run_pipeline(spark, str(pages), str(out), preview=False) is True
    # one structured counts line, read from the write's own observations
    [line] = [r.getMessage() for r in pipeline_log.records if "pipeline counts" in r.getMessage()]
    counts = json.loads(line.split("pipeline counts ", 1)[1])
    assert counts == {
        "raw_rows": 2,
        "dirty_rows_by_column_overlapping": {"title": 1, "rating": 1, "price": 1},
        "clean_rows": 1,
    }
    with open(out / "products.csv") as f:
        rows = list(csv.DictReader(f))
    assert len(rows) == 1  # dirty card dropped
    assert rows[0]["title"] == "Shirt 1"
    assert float(rows[0]["price"]) == 160000.0  # $10 x 16000


def test_pipeline_empty_extraction_aborts(spark, tmp_path, pipeline_log):
    pages = tmp_path / "empty_pages"
    pages.mkdir()
    (pages / "p1.html").write_text("<html><body>no cards</body></html>")
    assert run_pipeline(spark, str(pages), str(tmp_path / "o"), preview=False) is False
    assert not (tmp_path / "o").exists()
    assert "extraction produced no rows" in pipeline_log.text


def test_pipeline_empty_with_two_sinks_aborts(spark, tmp_path, pipeline_log):
    """With two sinks the clean frame is persisted; an empty one must
    still abort cleanly, before the second sink writes anything."""
    opened = []
    pages = _pages(tmp_path, "<html><body>no cards</body></html>")
    ok = run_pipeline(
        spark,
        pages,
        str(tmp_path / "o"),
        save_sheets=True,
        sheets_options={"credentials_path": "unused.json", "client_factory": lambda: opened.append(1)},
        preview=False,
    )
    assert ok is False
    assert opened == []
    assert not (tmp_path / "o").exists()
    assert "produced no rows" in pipeline_log.text


def test_pipeline_all_dirty_aborts(spark, tmp_path, pipeline_log):
    pages = _pages(tmp_path, DIRTY_PAGE)
    assert run_pipeline(spark, pages, str(tmp_path / "o"), preview=False) is False
    assert not (tmp_path / "o").exists()
    assert "transform produced no rows" in pipeline_log.text
    assert "extraction produced no rows" not in pipeline_log.text


def _failing_transform(raw):
    # the write's own job fails, after the counters were attached
    return transform_data(raw).withColumn("title", F.raise_error(F.lit("boom")).cast("string"))


@pytest.mark.parametrize("failure", ["unwritable_path", "write_job_fails"])
def test_pipeline_failed_write_is_a_sink_failure(spark, tmp_path, pipeline_log, monkeypatch, failure):
    """A failed write is the CSV sink's failure, never "no rows": after
    a failed action the observed counters read 0."""
    out = "/proc/definitely/not/writable"
    if failure == "write_job_fails":
        out = str(tmp_path / "o")
        monkeypatch.setattr(pipeline, "transform_data", _failing_transform)
    pages = _pages(tmp_path, PAGE)
    assert run_pipeline(spark, pages, out, preview=False) is False
    assert "csv sink failed: failed to save CSV" in pipeline_log.text
    assert "produced no rows" not in pipeline_log.text
    assert "pipeline counts" not in pipeline_log.text
    if failure == "write_job_fails":
        assert not (tmp_path / "o").exists()


def test_pipeline_csv_run_is_at_most_two_jobs(spark, tmp_path):
    """The write is the only action: one job for the one-partition
    shuffle's map stage (AQE submits it on its own) and one for the
    write. The observed counters add none."""
    pages = _pages(tmp_path, *[PAGE] * 5)
    sc = spark.sparkContext
    group = "test_pipeline_csv_run_jobs"
    sc.setJobGroup(group, "run_pipeline job count")
    try:
        assert run_pipeline(spark, pages, str(tmp_path / "o"), preview=False) is True
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 1 <= len(jobs) <= 2, jobs
