"""Date attribute bundle — the Dim_Date column contract (SURVEY §2.9/F9).

The reference's DIM_DATE carries 34 calendar + fiscal attributes
(/root/reference/private_ddl/example_dim_date.sql:12-28 and the
VW_Dim_Date column list, rahil/create_views.py:63-77; values in
rahil/logs/dim_etl_run_20250514_204523.log:62-73). This module derives
all 34 from a single DateType column with built-in Catalyst expressions
only. Fiscal year = calendar shifted so FY starts in July (offset
configurable); fiscal weeks count from the fiscal year start; holiday
indicators are deterministic fixed-date rules (company holidays = US
holidays + Dec 24 / Dec 31).

Two load-audit columns are deliberately replaced: the reference's
SQL_TIMESTAMP / EFFECTIVE_DATE default to the load wall-clock
(nondeterministic — they would break cross-engine value hashing and
idempotent rebuilds); the SCD bookkeeping contract is kept via the
deterministic CURRENT_ROW_IND ('Y') and EXPIRATION_DATE ('9999-12-31')
defaults, emitted as a string sentinel (a 9999 DATE overflows
nanosecond timestamp ranges in pandas/Arrow interchange).

All functions return plain Columns so the same bundle serves the batch
date-dim generator and any query needing inline date attributes.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .scalar import date_key

FISCAL_START_MONTH = 7  # FY starts July 1 (reference fiscal = calendar + offset)


def date_attributes(d: Column | str) -> dict[str, Column]:
    """All Dim_Date attributes keyed by output column name.

    ISO-week functions are used (Spark weekofyear is ISO; weekday() is
    0=Monday) so the DuckDB oracle (weekofyear / isodow) agrees exactly.
    """
    c = F.col(d) if isinstance(d, str) else d
    month = F.month(c)
    fy = (F.when(month >= FISCAL_START_MONTH, F.year(c) + 1)
          .otherwise(F.year(c)))
    fiscal_month = ((month - FISCAL_START_MONTH + 12) % 12) + 1
    fiscal_quarter = ((fiscal_month - 1) / 3).cast("int") + 1
    # ISO weekday 0=Mon..6=Sun from Spark's dayofweek (1=Sun..7=Sat)
    iso_wd0 = (F.dayofweek(c) + 5) % 7
    week_begin = F.date_sub(c, iso_wd0)
    us_holiday = (((month == 1) & (F.dayofmonth(c) == 1))
                  | ((month == 7) & (F.dayofmonth(c) == 4))
                  | ((month == 12) & (F.dayofmonth(c) == 25)))
    # fiscal-year start date: July 1 of the previous calendar year for
    # Jan-Jun, July 1 of the current year for Jul-Dec
    fy_start = F.make_date(
        F.year(c) - F.when(month < FISCAL_START_MONTH, 1).otherwise(0),
        F.lit(FISCAL_START_MONTH), F.lit(1))
    fiscal_doy = F.datediff(c, fy_start) + 1
    return {
        "date_pkey": date_key(c),
        "date_value": c,
        "year_num": F.year(c),
        "quarter_num": F.quarter(c),
        "month_num": month,
        "day_num_in_month": F.dayofmonth(c),
        "day_num_in_year": F.dayofyear(c),
        "week_num_in_year": F.weekofyear(c),
        "day_name": F.date_format(c, "EEEE"),
        "day_abbrev": F.date_format(c, "EEE"),
        "month_name": F.date_format(c, "MMMM"),
        "month_abbrev": F.date_format(c, "MMM"),
        "year_month": F.date_format(c, "yyyy-MM"),
        "yearmo_num": (F.year(c) * 100 + month),
        "is_weekday": F.when(iso_wd0 <= 4, F.lit("Y")).otherwise(F.lit("N")),
        "is_month_end": F.when(c == F.last_day(c), F.lit("Y")).otherwise(F.lit("N")),
        "is_holiday": F.when(us_holiday, F.lit("Y")).otherwise(F.lit("N")),
        "week_begin_date": week_begin,
        "week_end_date": F.date_add(week_begin, 6),
        "fiscal_year_num": fy,
        "fiscal_month_num": fiscal_month,
        "fiscal_quarter_num": fiscal_quarter,
        "fiscal_yearmo_num": (fy * 100 + fiscal_month),
        # --- the 11 remaining reference columns (34-column contract) ---
        "full_date_desc": F.concat(
            F.date_format(c, "MMMM"), F.lit(" "),
            F.dayofmonth(c).cast("string"), F.lit(", "),
            F.year(c).cast("string")),
        "day_num_in_week": (iso_wd0 + 1).cast("int"),
        "company_holiday_ind": F.when(
            us_holiday | ((month == 12) & F.dayofmonth(c).isin(24, 31)),
            F.lit("Y")).otherwise(F.lit("N")),
        "week_begin_date_nkey": date_key(week_begin),
        "week_end_date_nkey": date_key(F.date_add(week_begin, 6)),
        "year_quarter_num": (F.year(c) * 10 + F.quarter(c)),
        "fiscal_week_num": ((fiscal_doy - 1) / 7).cast("int") + 1,
        "fiscal_year_quarter_num": (fy * 10 + fiscal_quarter),
        "fiscal_half_year": F.when(fiscal_month <= 6, 1).otherwise(2),
        "current_row_ind": F.lit("Y"),
        "expiration_date": F.lit("9999-12-31"),
    }


def oracle_date_attributes_sql(d: str = "d") -> str:
    """DuckDB expressions producing the identical attribute set — the
    SQL half of the date-dim contract, kept beside the Spark half so the
    two can't drift independently (both read FISCAL_START_MONTH)."""
    m = FISCAL_START_MONTH
    return f"""
        CAST(strftime({d}, '%Y%m%d') AS INT) AS date_pkey,
        {d} AS date_value,
        CAST(year({d}) AS INT) AS year_num,
        CAST(quarter({d}) AS INT) AS quarter_num,
        CAST(month({d}) AS INT) AS month_num,
        CAST(day({d}) AS INT) AS day_num_in_month,
        CAST(dayofyear({d}) AS INT) AS day_num_in_year,
        CAST(weekofyear({d}) AS INT) AS week_num_in_year,
        dayname({d}) AS day_name,
        strftime({d}, '%a') AS day_abbrev,
        monthname({d}) AS month_name,
        strftime({d}, '%b') AS month_abbrev,
        strftime({d}, '%Y-%m') AS year_month,
        CAST(year({d}) * 100 + month({d}) AS INT) AS yearmo_num,
        CASE WHEN isodow({d}) <= 5 THEN 'Y' ELSE 'N' END AS is_weekday,
        CASE WHEN {d} = last_day({d}) THEN 'Y' ELSE 'N' END AS is_month_end,
        CASE WHEN (month({d}) = 1 AND day({d}) = 1)
               OR (month({d}) = 7 AND day({d}) = 4)
               OR (month({d}) = 12 AND day({d}) = 25)
             THEN 'Y' ELSE 'N' END AS is_holiday,
        {d} - CAST(isodow({d}) - 1 AS INT) AS week_begin_date,
        {d} + CAST(7 - isodow({d}) AS INT) AS week_end_date,
        CAST(CASE WHEN month({d}) >= {m} THEN year({d}) + 1 ELSE year({d}) END AS INT)
            AS fiscal_year_num,
        CAST(((month({d}) - {m} + 12) % 12) + 1 AS INT) AS fiscal_month_num,
        CAST(((month({d}) - {m} + 12) % 12) // 3 + 1 AS INT) AS fiscal_quarter_num,
        CAST((CASE WHEN month({d}) >= {m} THEN year({d}) + 1 ELSE year({d}) END) * 100
             + ((month({d}) - {m} + 12) % 12) + 1 AS INT) AS fiscal_yearmo_num,
        monthname({d}) || ' ' || CAST(day({d}) AS VARCHAR) || ', '
            || CAST(year({d}) AS VARCHAR) AS full_date_desc,
        CAST(isodow({d}) AS INT) AS day_num_in_week,
        CASE WHEN (month({d}) = 1 AND day({d}) = 1)
               OR (month({d}) = 7 AND day({d}) = 4)
               OR (month({d}) = 12 AND day({d}) IN (24, 25, 31))
             THEN 'Y' ELSE 'N' END AS company_holiday_ind,
        CAST(strftime({d} - CAST(isodow({d}) - 1 AS INT), '%Y%m%d') AS INT)
            AS week_begin_date_nkey,
        CAST(strftime({d} + CAST(7 - isodow({d}) AS INT), '%Y%m%d') AS INT)
            AS week_end_date_nkey,
        CAST(year({d}) * 10 + quarter({d}) AS INT) AS year_quarter_num,
        CAST(date_diff('day',
                       make_date(CAST(year({d})
                                      - CASE WHEN month({d}) < {m} THEN 1
                                             ELSE 0 END AS INT), {m}, 1),
                       {d}) // 7 + 1 AS INT) AS fiscal_week_num,
        CAST((CASE WHEN month({d}) >= {m} THEN year({d}) + 1 ELSE year({d}) END) * 10
             + ((month({d}) - {m} + 12) % 12) // 3 + 1 AS INT)
            AS fiscal_year_quarter_num,
        CAST(CASE WHEN ((month({d}) - {m} + 12) % 12) + 1 <= 6 THEN 1 ELSE 2 END
             AS INT) AS fiscal_half_year,
        'Y' AS current_row_ind,
        '9999-12-31' AS expiration_date
    """
