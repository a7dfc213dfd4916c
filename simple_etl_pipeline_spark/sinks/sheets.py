"""Google Sheets sink (reference K2, utils/load.py:76-159).

Sheets is a small-result sink by nature (API quota ~10M cells): the
adapter collects via toPandas *after* a guard limit — never on the full
data path. gspread is an optional dependency; a clean LoadError is
raised when absent. client_factory injection keeps it unit-testable
without credentials (mirroring the reference's mocked tests,
tests/test_load.py:55-105).
"""

from __future__ import annotations

from datetime import date

from pyspark.sql import DataFrame

import simple_etl_pipeline_spark.sinks as sinks

SCOPES = [
    "https://spreadsheets.google.com/feeds",
    "https://www.googleapis.com/auth/drive",
]
MAX_SHEET_ROWS = 100_000


def save_to_google_sheets(
    df: DataFrame,
    credentials_path: str,
    spreadsheet_id: str | None = None,
    sheet_name: str = "Products",
    create_if_not_exists: bool = True,
    client_factory=None,
) -> str:
    """Write df to a worksheet; returns the spreadsheet URL."""
    # one job: one row past the cap is enough to tell an over-cap result
    pdf = df.limit(MAX_SHEET_ROWS + 1).toPandas()
    if pdf.empty:
        raise sinks.EmptyOutputError("cannot save empty DataFrame to Google Sheets")

    if client_factory is None:
        try:
            import gspread
        except ImportError as exc:
            raise sinks.LoadError(
                "gspread is not installed; Google Sheets sink unavailable"
            ) from exc

        def client_factory():
            return gspread.service_account(filename=credentials_path, scopes=SCOPES)

    if len(pdf) > MAX_SHEET_ROWS:
        raise sinks.LoadError(
            f"result has more than {MAX_SHEET_ROWS} rows; "
            f"Sheets sink is capped at {MAX_SHEET_ROWS}"
        )

    try:
        client = client_factory()
        if spreadsheet_id:
            try:
                sh = client.open_by_key(spreadsheet_id)
            except Exception:
                if not create_if_not_exists:
                    raise sinks.LoadError(
                        f"spreadsheet {spreadsheet_id} not found"
                    ) from None
                sh = client.create(f"Products ETL {date.today().isoformat()}")
        else:
            sh = client.create(f"Products ETL {date.today().isoformat()}")

        try:
            ws = sh.worksheet(sheet_name)
            ws.clear()
        except Exception:
            ws = sh.add_worksheet(
                title=sheet_name, rows=len(pdf) + 10, cols=len(pdf.columns) + 5
            )
        ws.update(
            [pdf.columns.tolist()] + pdf.astype(object).where(pdf.notna(), "").values.tolist()
        )
        sh.share(None, perm_type="anyone", role="reader")
        return getattr(sh, "url", f"https://docs.google.com/spreadsheets/d/{sh.id}")
    except sinks.LoadError:
        raise
    except Exception as exc:
        raise sinks.LoadError(f"failed to save to Google Sheets: {exc}") from exc
