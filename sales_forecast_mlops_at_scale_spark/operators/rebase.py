"""Relative-date rebasing (SURVEY.md §2.7 F13).

The reference shifts its whole seed history so the newest row lands on
"yesterday", via two row-wise pandas lambdas
(``/root/reference/services/data-producer/scripts/put_data_in_postgres.py:40-47``):
``days_from_latest = (latest - date).days`` then
``new_date = yesterday - days_from_latest``.

Pure built-ins here — ``date_sub(lit(yesterday), datediff(lit(latest), date))``
— no UDF, no collect beyond one scalar agg for the anchor.  The anchor
``max(date)`` is a 1-row aggregate; computing it is a full-column min/max
scan that parquet answers from footer statistics at scale.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def rebase_dates(
    df: DataFrame,
    date_col: str,
    *,
    as_of: _dt.date,
    out_col: str | None = None,
    anchor: _dt.date | None = None,
) -> DataFrame:
    """Shift ``date_col`` so its maximum becomes ``as_of - 1 day``.

    ``anchor`` (the current max) may be passed to avoid the extra scan when
    the caller already knows it; otherwise it is computed with one agg.
    """
    out_col = out_col or date_col
    if anchor is None:
        anchor = df.agg(F.max(F.col(date_col).cast("date"))).collect()[0][0]
    yesterday = as_of - _dt.timedelta(days=1)
    days_from_latest = F.datediff(F.lit(anchor), F.col(date_col).cast("date"))
    return df.withColumn(out_col, F.date_sub(F.lit(yesterday), days_from_latest))

