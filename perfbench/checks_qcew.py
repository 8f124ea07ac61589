"""DuckDB twins of the ``qcew_etl`` dashboard reads, over the Parquet
layout the timed ETL wrote (view ``qcew_clean``), plus the row-count rule
for the write half."""

from __future__ import annotations

import glob

_AGG = """
WITH base AS (
  SELECT {y} AS year, {q} AS qtr, substr(naics_code, 1, 4) AS naics4,
         (first_month_employment + second_month_employment
          + third_month_employment) / 3.0 AS total_employment,
         total_wages
  FROM qcew_clean WHERE substr(naics_code, 1, 4) <> '' {where}
)
SELECT year, qtr, naics4,
       CAST(sum(total_wages) AS BIGINT) AS total_wages,
       avg(total_employment) AS total_employment,
       count(*) AS dummy,
       CAST(sum(total_wages) * 0.014  AS DOUBLE) AS fondo_contributions,
       CAST(sum(total_wages) * 0.0145 AS DOUBLE) AS medicare_contributions,
       CAST(sum(total_wages) * 0.062  AS DOUBLE) AS ssn_contributions
FROM base GROUP BY year, qtr, naics4 HAVING count(*) > 4
"""

_LEGACY = """
SELECT CAST(year AS BIGINT) AS year, CAST(qtr AS BIGINT) AS qtr,
       naics4 AS first_4_naics_code, total_wages AS total_wages_sum,
       total_employment AS total_employment_sum, CAST(dummy AS INTEGER) AS dummy
FROM ({agg})
"""

_PERIOD = {
    "yearly": "CAST(f.year AS BIGINT)",
    "fiscal": "CAST(f.f_year AS BIGINT)",
    "quarterly": "CAST(f.year AS VARCHAR) || '-q' || CAST(f.qtr AS VARCHAR)",
}

_LABELED = """
WITH enr AS (
  SELECT f.*, {period} AS time_period,
         substr(CAST(f.naics_code AS VARCHAR), 1, 4) AS naics_4digit
  FROM read_csv_auto('{facts}') f
)
SELECT enr.*, '(N' || enr.naics_4digit || ') ' || d.naics_desc AS lbl
FROM enr LEFT JOIN read_csv_auto('{desc}', all_varchar=1) d
  ON enr.naics_4digit = d.naics_4digit
WHERE enr.naics_4digit <> '0'
  AND NOT EXISTS (SELECT 1 FROM read_csv_auto('{invalid}', all_varchar=1) i
                  WHERE i.naics_data = enr.naics_4digit)
"""

_MONTHLY = """
SELECT year, qtr, e AS employment FROM (
  SELECT year, qtr, first_month_employment AS e FROM qcew_clean
  UNION ALL SELECT year, qtr, second_month_employment FROM qcew_clean
  UNION ALL SELECT year, qtr, third_month_employment FROM qcew_clean
) WHERE year IN (2015, 2016) AND qtr IS NOT NULL
"""


def wage_label(code: str) -> str:
    """The dashboard label ``tests.qcew_fixtures.gen_dims`` gives a code."""
    return f"(N{code}) Industry {code}"


def expected_reads(corpus: dict, codes: list[str]) -> dict[str, str]:
    """Read-op name -> DuckDB SQL whose rows the op must return."""
    sql = {}
    for y in (2015, 2016):
        for q in (1, 2, 3, 4):
            sql[f"naics4:{y}q{q}"] = _AGG.format(
                y="file_year", q="file_qtr",
                where=f"AND file_year = {y} AND file_qtr = {q}")
    overall = _AGG.format(y="year", q="qtr", where="")
    sql["naics4:all"] = overall
    sql["naics4:legacy"] = _LEGACY.format(agg=overall)
    for frame, period in _PERIOD.items():
        labeled = _LABELED.format(
            period=period, facts=corpus["facts"][frame], desc=corpus["desc"],
            invalid=corpus["invalid"])
        sql[f"wages:{frame}:labels"] = (
            f"SELECT DISTINCT lbl FROM ({labeled}) WHERE lbl IS NOT NULL ORDER BY lbl")
        for code in codes:
            sql[f"wages:{frame}:{code}"] = (
                f"SELECT time_period, sum(CAST(total_wages AS DOUBLE)) AS nominas "
                f"FROM ({labeled}) WHERE total_wages IS NOT NULL "
                f"AND trim(CAST(total_wages AS VARCHAR)) <> '' "
                f"AND lbl = '{wage_label(code)}' GROUP BY time_period")
    sql["ts:yearly"] = (
        f"SELECT year, avg(employment) AS employment, make_date(year, 1, 1) AS date "
        f"FROM ({_MONTHLY}) GROUP BY year")
    sql["ts:quarterly"] = (
        f"SELECT year, qtr, avg(employment) AS employment, "
        f"make_date(year, qtr * 3, 1) AS date FROM ({_MONTHLY}) GROUP BY year, qtr")
    return sql


def nonblank_lines(input_glob: str) -> int:
    """Input records the ETL must write: every line that is not blank."""
    n = 0
    for path in glob.glob(input_glob):
        with open(path, encoding="latin-1") as f:
            n += sum(1 for line in f if line.strip())
    return n
