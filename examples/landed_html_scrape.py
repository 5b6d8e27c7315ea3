"""S1 as a runnable lander — the last reference entry point without an
in-repo analogue (reference data-pipeline/scraper/main.py:31-60: headless
Chrome → trade-summary HTML table → pd.read_html → date stamp →
column-name sanitize → keyed push).

Engine stance (SURVEY §2.1): the BROWSER is out of engine scope — a
lander owns the socket/DOM; the engine starts at the landed payload.
This example is that lander, runnable offline: the HTML table parse is
stdlib ``html.parser`` (a landed snapshot needs no Selenium; the live
path is gated behind an import that is absent in this build), and
everything the reference did driver-side in pandas happens IN SPARK:

* numeric typing (comma-grouped prices → double) is a distributed
  cast, not a pandas coercion;
* the reference's dynamic ``str.replace`` column sanitize is the
  engine's canonical ``sanitize_columns`` (same regex, schemas.py);
* the scrape-date stamp is ``current_date`` evaluated in
  Asia/Colombo, matching scraper/main.py:33-34;
* the daily idempotence check (prefix-match skip, main.py:69-77) is
  the same keyed dedup bronze_ingest uses.

Run:  python examples/landed_html_scrape.py
"""

from __future__ import annotations

import os
import sys
from html.parser import HTMLParser

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from cse_datapipeline_and_mls_spark.schemas import sanitize_columns  # noqa: E402
from cse_datapipeline_and_mls_spark.session import get_spark  # noqa: E402

# A landed trade-summary snapshot (shape of the reference's source table:
# symbol, company, price columns with comma grouping, signed change).
CANNED_HTML = """
<html><body>
<table id="DataTables_Table_0">
  <thead><tr>
    <th>Company Name</th><th>Symbol</th><th>Last Trade (Rs.)</th>
    <th>Change (Rs.)</th><th>Change (%)</th><th>Trade Volume</th>
  </tr></thead>
  <tbody>
    <tr><td>Alpha Holdings</td><td>ALPH.N0000</td><td>1,250.50</td>
        <td>12.25</td><td>0.99</td><td>10,500</td></tr>
    <tr><td>Beta Industries</td><td>BETA.N0000</td><td>89.75</td>
        <td>-1.50</td><td>-1.64</td><td>250,000</td></tr>
    <tr><td>Gamma Bank</td><td>GAMM.X0000</td><td>305.00</td>
        <td>0.00</td><td>0.00</td><td>75,320</td></tr>
    <tr><td>Beta Industries</td><td>BETA.N0000</td><td>89.75</td>
        <td>-1.50</td><td>-1.64</td><td>250,000</td></tr>
  </tbody>
</table>
</body></html>
"""


class TableParser(HTMLParser):
    """First-<table> extractor: header cells + row cells as strings —
    the stdlib stand-in for pd.read_html on a landed snapshot."""

    def __init__(self) -> None:
        super().__init__()
        self.header: list[str] = []
        self.rows: list[list[str]] = []
        self._row: list[str] | None = None
        self._cell: list[str] | None = None
        self._in_header = False
        self._done = False

    def handle_starttag(self, tag, attrs):
        if self._done:
            return
        if tag == "thead":
            self._in_header = True
        elif tag == "tr":
            self._row = []
        elif tag in ("td", "th"):
            self._cell = []

    def handle_endtag(self, tag):
        if self._done:
            return
        if tag == "thead":
            self._in_header = False
        elif tag in ("td", "th") and self._cell is not None:
            (self.header if self._in_header else self._row).append(
                " ".join("".join(self._cell).split())
            )
            self._cell = None
        elif tag == "tr" and self._row:
            if not self._in_header:
                self.rows.append(self._row)
            self._row = None
        elif tag == "table":
            self._done = True

    def handle_data(self, data):
        if self._cell is not None:
            self._cell.append(data)


def fetch_trade_summary(url: str | None = None) -> tuple[list[str], list[list[str]]]:
    """Live path gated (Selenium absent in this build); default = the
    landed snapshot."""
    if url is not None:
        try:
            from selenium import webdriver  # noqa: F401
        except ImportError as e:
            raise NotImplementedError(
                "live scrape needs a browser driver; land the page HTML and "
                "pass it through parse_landed_html instead"
            ) from e
    p = TableParser()
    p.feed(CANNED_HTML)
    return p.header, p.rows


def land_trade_summary(
    spark: SparkSession, header: list[str], rows: list[list[str]]
) -> DataFrame:
    """Landed strings → typed, sanitized, date-stamped, deduped table —
    every transformation distributed (the reference did all of this in
    driver-side pandas)."""
    raw = spark.createDataFrame(rows, schema=header)
    df = sanitize_columns(raw)
    num = lambda c: F.regexp_replace(F.col(c), ",", "").cast("double")  # noqa: E731
    typed = df.select(
        F.col("Company_Name").alias("company_name"),
        F.col("Symbol").alias("symbol"),
        num("Last_Trade_(Rs_)").alias("last_trade"),
        num("Change_(Rs_)").alias("change"),
        num("Change_(%)").alias("change_pct"),
        num("Trade_Volume").cast("long").alias("trade_volume"),
        F.date_format(
            F.from_utc_timestamp(F.current_timestamp(), "Asia/Colombo"), "yyyy-MM-dd"
        ).alias("trade_date"),
    )
    # daily idempotence: one row per (symbol, date), reference's
    # prefix-match skip
    return typed.dropDuplicates(["symbol", "trade_date"])


def main() -> None:
    spark = get_spark("landed-html")
    header, rows = fetch_trade_summary()
    landed = land_trade_summary(spark, header, rows)
    out = landed.orderBy("symbol").collect()
    for r in out:
        print(" ", r.asDict())
    assert len(out) == 3  # duplicate BETA row deduped
    assert abs(out[0]["last_trade"] - 1250.50) < 1e-9
    print(f"landed {len(out)} symbols for {out[0]['trade_date']}")


if __name__ == "__main__":
    main()
