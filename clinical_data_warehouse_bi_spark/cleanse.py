"""Cleansing / conformance expressions (SURVEY.md sections 2.2, 2.8, 2.9).

Pure Column-expression builders — everything stays JVM-side inside
whole-stage codegen; no Python UDFs anywhere on this path.

Reference parity notes (cited file:line are in /root/reference):
- sentinel timestamps: Stage_area.sql:41-48, 62-69 map NULL/blank
  admit/disch/in/out times to '1900-01-01 00:00:00' /
  '2999-12-31 23:59:59'.
- keyword OR-LIKE filters: Stage_area.sql:92-95, 105-109, 136-138.
- regex-guarded numeric parse: Stage_area.sql:145-147
  (`REGEXP '^[0-9]+(\\.[0-9]+)?$'` then CAST AS DECIMAL(10,2)).
- calendar attributes: Stage_area.sql:289-301 / DWH.sql:124-135
  (MONTH/YEAR/WEEKDAY+1/DAYNAME/MONTHNAME/DAYOFWEEK IN (1,7)).
  MariaDB WEEKDAY (0=Mon) + 1 == Spark `weekday()` (0=Mon) + 1;
  MariaDB DAYOFWEEK (1=Sun) == Spark `dayofweek()` — exact matches.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

SENTINEL_LOW = "1900-01-01 00:00:00"
SENTINEL_HIGH = "2999-12-31 23:59:59"

#: regex gate used by the reference before numeric casts
NUMERIC_RE = r"^[0-9]+(\.[0-9]+)?$"


def sentinel_timestamp(col: Column | str, sentinel: str = SENTINEL_LOW) -> Column:
    """P7: NULL-or-blank string timestamp -> sentinel, else cast."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.when(c.isNull() | (F.trim(c) == ""), F.lit(sentinel).cast("timestamp"))
        .otherwise(c.cast("timestamp"))
    )


def keyword_filter(col: Column | str, keywords: list[str]) -> Column:
    """P3: OR-chain of LIKE '%kw%' over a lowercased column.

    Catalyst folds this into a single predicate pushed to the scan.
    This OR-chain is the only form: one `rlike("kw1|kw2|...")` would
    push down the same way with one regex eval, but is not provided.
    """
    c = F.lower(F.col(col) if isinstance(col, str) else col)
    pred = F.lit(False)
    for kw in keywords:
        pred = pred | c.like(f"%{kw.lower()}%")
    return pred


def regex_guarded_numeric(col: Column | str) -> Column:
    """M1/P5/F7: value-as-string -> DECIMAL(10,2) iff it matches the
    numeric regex, else NULL (the reference's UPDATE ... WHERE REGEXP
    idiom as a pure recompute)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c.rlike(NUMERIC_RE), c.cast("decimal(10,2)"))


def normalized_key(col: Column | str) -> Column:
    """J4 join key: TRIM(LOWER(x)) both sides (Stage_area.sql:219-220)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.lower(c))


def calendar_columns(ts_col: str = "event_datetime") -> list[Column]:
    """The dim_date attribute set (timestamp-grain date dimension)."""
    c = F.col(ts_col)
    return [
        c.alias(ts_col),
        F.month(c).alias("month_num"),
        F.year(c).alias("year_num"),
        (F.weekday(c) + F.lit(1)).alias("weekday_num"),
        F.date_format(c, "EEEE").alias("day_name"),
        F.date_format(c, "MMMM").alias("month_name"),
        F.dayofweek(c).isin(1, 7).alias("is_weekend"),
    ]
