"""Sink spec, mirroring the reference's mocked load tests
(/root/reference/tests/test_load.py): CSV round-trip, empty-df errors,
JDBC param validation, Sheets via injected fake client, fan-out
isolation."""

from __future__ import annotations

import csv
import os

import pytest
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from simple_etl_pipeline_spark.sinks import EmptyOutputError, LoadError, load_data, save_to_csv
from simple_etl_pipeline_spark.sinks.jdbc import build_jdbc_writer
from simple_etl_pipeline_spark.sinks.sheets import save_to_google_sheets


@pytest.fixture()
def small_df(spark):
    return spark.createDataFrame(
        [("A", 1.0), ("B", 2.0)], "title string, price double"
    )


def test_csv_roundtrip(small_df, tmp_path):
    path = save_to_csv(small_df, str(tmp_path), filename="out.csv")
    assert path.endswith("/out.csv")
    with open(path) as f:
        rows = list(csv.reader(f))
    assert rows[0] == ["title", "price"]
    assert sorted(r[0] for r in rows[1:]) == ["A", "B"]


def test_csv_empty_raises(spark, tmp_path):
    empty = spark.createDataFrame([], "title string")
    with pytest.raises(LoadError, match="empty"):
        save_to_csv(empty, str(tmp_path))


def test_csv_unwritable_path_raises(small_df):
    with pytest.raises(LoadError):
        save_to_csv(small_df, "/proc/definitely/not/writable")


def _failing(df):
    # the write job itself fails, in the executors
    return df.withColumn("title", F.raise_error(F.lit("boom")).cast("string"))


@pytest.mark.parametrize("single_file", [True, False])
@pytest.mark.parametrize("case", ["empty", "failed"])
def test_csv_empty_or_failed_call_leaves_no_output(spark, small_df, tmp_path, single_file, case):
    """A directory the call created is gone again, and no staging
    directory is left behind."""
    out = tmp_path / "new" / "out"
    df = spark.createDataFrame([], "title string") if case == "empty" else _failing(small_df)
    with pytest.raises(EmptyOutputError if case == "empty" else LoadError):
        save_to_csv(df, str(out), single_file=single_file)
    assert os.listdir(tmp_path) == []


def _tree(root):
    """Every directory and file under root, with the files' bytes."""
    out = {}
    for d, dirs, files in os.walk(root):
        out.update({os.path.relpath(os.path.join(d, n), root): None for n in dirs})
        for n in files:
            with open(os.path.join(d, n), "rb") as f:
                out[os.path.relpath(os.path.join(d, n), root)] = f.read()
    return out


@pytest.mark.parametrize("single_file", [True, False])
def test_csv_failed_write_keeps_previous_output(small_df, tmp_path, single_file):
    save_to_csv(small_df, str(tmp_path), single_file=single_file)
    before = _tree(tmp_path)
    with pytest.raises(LoadError, match="failed to save CSV"):
        save_to_csv(_failing(small_df), str(tmp_path), single_file=single_file)
    assert _tree(tmp_path) == before


def test_csv_directory_output_replaces_previous(spark, small_df, tmp_path):
    save_to_csv(small_df, str(tmp_path), single_file=False)
    target = save_to_csv(small_df.limit(1), str(tmp_path), single_file=False)
    assert target.endswith("/products")
    rows = []
    for part in sorted(os.listdir(target)):
        if part.startswith("part-"):
            with open(os.path.join(target, part)) as f:
                rows += list(csv.DictReader(f))
    assert len(rows) == 1
    assert sorted(os.listdir(tmp_path)) == ["products"]


def test_jdbc_param_validation(small_df):
    with pytest.raises(LoadError, match="missing connection params"):
        build_jdbc_writer(small_df, "t", {"host": "h", "user": "u"})
    with pytest.raises(LoadError, match="if_exists"):
        build_jdbc_writer(
            small_df,
            "t",
            {"host": "h", "database": "d", "user": "u", "password": "p"},
            if_exists="nope",
        )
    # valid params build a writer without touching a database
    w = build_jdbc_writer(
        small_df, "t", {"host": "h", "database": "d", "user": "u", "password": "p"}
    )
    assert w is not None


class FakeWorksheet:
    def __init__(self):
        self.updates = []

    def clear(self):
        pass

    def update(self, values):
        self.updates.append(values)


class FakeSheet:
    id = "fake123"
    url = "https://docs.google.com/spreadsheets/d/fake123"

    def __init__(self):
        self.ws = FakeWorksheet()
        self.shared = []

    def worksheet(self, name):
        return self.ws

    def share(self, who, perm_type, role):
        self.shared.append((who, perm_type, role))


class FakeClient:
    def __init__(self, sheet):
        self.sheet = sheet

    def open_by_key(self, key):
        return self.sheet

    def create(self, title):
        return self.sheet


def test_sheets_with_fake_client(small_df):
    sheet = FakeSheet()
    url = save_to_google_sheets(
        small_df,
        credentials_path="unused.json",
        spreadsheet_id="abc",
        client_factory=lambda: FakeClient(sheet),
    )
    assert url == sheet.url
    header, *data = sheet.ws.updates[0]
    assert header == ["title", "price"]
    assert len(data) == 2
    assert sheet.shared == [(None, "anyone", "reader")]


def test_sheets_sink_is_one_job(spark):
    """The empty check, the row cap and the upload all read one
    bounded collect: one Spark job."""
    df = spark.range(50).select(F.col("id").cast("string").alias("title"))
    sheet = FakeSheet()
    sc = spark.sparkContext
    group = "test_sheets_sink_jobs"
    sc.setJobGroup(group, "sheets sink job count")
    try:
        save_to_google_sheets(
            df, "unused.json", spreadsheet_id="abc",
            client_factory=lambda: FakeClient(sheet),
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert len(sheet.ws.updates[0]) == 51  # header + every row


def test_sheets_row_cap(spark, monkeypatch):
    from simple_etl_pipeline_spark.sinks import sheets

    monkeypatch.setattr(sheets, "MAX_SHEET_ROWS", 3)
    factory = lambda: FakeClient(FakeSheet())  # noqa: E731
    save_to_google_sheets(spark.range(3), "unused.json", client_factory=factory)
    with pytest.raises(LoadError, match="capped at 3"):
        save_to_google_sheets(spark.range(4), "unused.json", client_factory=factory)


def test_sheets_empty_raises(spark):
    empty = spark.createDataFrame([], "title string")
    with pytest.raises(LoadError, match="empty"):
        save_to_google_sheets(empty, "unused.json", client_factory=lambda: None)


def test_fanout_requires_destination(small_df):
    with pytest.raises(ValueError, match="at least one destination"):
        load_data(small_df, save_csv=False, save_sheets=False, save_postgres=False)


def test_fanout_error_isolation(small_df, tmp_path):
    """Sheets fails (no gspread, no factory) but CSV succeeds — each sink
    is isolated (reference utils/load.py:282-286 semantics)."""
    results = load_data(
        small_df,
        save_csv=True,
        save_sheets=True,
        csv_options={"output_path": str(tmp_path)},
        sheets_options={"credentials_path": "/nonexistent.json"},
    )
    assert results["csv"].endswith("products.csv")
    assert results["sheets"] is None
    assert "sheets_error" in results


def _recording_factory(df, seen):
    def factory():
        seen.append(df.storageLevel)
        return FakeClient(FakeSheet())

    return factory


def test_fanout_one_sink_does_not_persist(small_df):
    """One sink's write is the only action, so nothing is cached."""
    seen = []
    results = load_data(
        small_df,
        save_csv=False,
        save_sheets=True,
        sheets_options={"credentials_path": "unused.json", "client_factory": _recording_factory(small_df, seen)},
    )
    assert results["sheets"] == FakeSheet.url
    assert seen == [StorageLevel.NONE]
    assert small_df.storageLevel == StorageLevel.NONE


def test_fanout_two_sinks_persist_during_fanout(small_df, tmp_path):
    seen = []
    results = load_data(
        small_df,
        save_csv=True,
        save_sheets=True,
        csv_options={"output_path": str(tmp_path)},
        sheets_options={"credentials_path": "unused.json", "client_factory": _recording_factory(small_df, seen)},
    )
    assert results["csv"].endswith("products.csv")
    assert results["sheets"] == FakeSheet.url
    assert seen == [StorageLevel.MEMORY_AND_DISK]
    assert small_df.storageLevel == StorageLevel.NONE


def test_fanout_empty_frame_stops_before_other_sinks(spark, tmp_path):
    """The CSV sink finds no rows, so no later sink writes anything."""
    empty = spark.createDataFrame([], "title string")
    seen = []
    results = load_data(
        empty,
        save_csv=True,
        save_sheets=True,
        csv_options={"output_path": str(tmp_path / "o")},
        sheets_options={"credentials_path": "unused.json", "client_factory": _recording_factory(empty, seen)},
    )
    assert results["empty"] == "csv"
    assert "empty" in results["csv_error"]
    assert results["sheets"] is None and "sheets_error" not in results
    assert seen == []
    assert not (tmp_path / "o").exists()
    assert empty.storageLevel == StorageLevel.NONE
