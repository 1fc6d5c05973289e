"""Scalar function library (SURVEY.md §2.8 F1-F15).

Everything here is built-in column expressions — JVM-side, inside
whole-stage codegen. No Python UDFs: at 100 TB a row-at-a-time Python
function in the hot path is a 10-100x slowdown (SURVEY.md §1.4).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def parse_timestamp_multi(col: Column, formats: list[str]) -> Column:
    """F4: multi-format timestamp parse, NULL if nothing matches
    (eligibility.py:297-314 change_date; lch_eligibility.py:84-94).

    The reference strips fractional seconds first; try_to_timestamp with a
    fractional-aware format covers that without a UDF.
    """
    attempts = [F.try_to_timestamp(col, F.lit(fmt)) for fmt in formats]
    return F.coalesce(*attempts)


def parse_date_multi(col: Column, formats: list[str]) -> Column:
    """F4 variant emitting DATE (the reference emits '%Y-%m-%d' strings)."""
    return parse_timestamp_multi(col, formats).cast("date")


def age_years(born: Column, anchor: Column) -> Column:
    """F6: birthday-corrected age in whole years
    (resubmission_update.sql:123-139; the naive DATEDIFF(YEAR) variant at
    resubmission.sql:34 overcounts before the birthday)."""
    year_diff = F.year(anchor) - F.year(born)
    before_birthday = (F.month(anchor) < F.month(born)) | (
        (F.month(anchor) == F.month(born)) & (F.dayofmonth(anchor) < F.dayofmonth(born))
    )
    return (year_diff - F.when(before_birthday, 1).otherwise(0)).cast("long")
