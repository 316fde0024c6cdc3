"""Scalar expression helpers (SURVEY.md §2.8) — thin, composable wrappers
over pyspark.sql.functions capturing the reference's recurring idioms."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def hour_str(ts: Column | str) -> Column:
    """Zero-padded hour-of-day string — the reference's strftime('%H')
    (lecture3/13:47); string-typed on purpose for golden equality."""
    return F.date_format(ts, "HH")


def date_str(ts: Column | str) -> Column:
    """'YYYY-MM-DD' string — the {{ds}} partition key format."""
    return F.date_format(ts, "yyyy-MM-dd")


def epoch_ms_to_ts(ms: Column | str) -> Column:
    """Epoch-millis → timestamp (klines closeTime, lecture3/15:69)."""
    return F.timestamp_millis(F.col(ms) if isinstance(ms, str) else ms)


def ts_to_epoch_ms(ts: Column | str) -> Column:
    return F.unix_millis(F.col(ts) if isinstance(ts, str) else ts)


def pct_change(new: Column, old: Column) -> Column:
    """(new-old)/old*100 guarded against zero/negative base
    (lecture3/14:62-64)."""
    return F.when(old > 0, (new - old) / old * 100.0)


def clean_name(c: Column | str) -> Column:
    """lowercase + whitespace→underscore (tutorial1:156)."""
    col = F.col(c) if isinstance(c, str) else c
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", "_")


def flag_as_int(cond: Column) -> Column:
    """Boolean comparison → 0/1 int ((a>b).astype(int), gold_war:145)."""
    return F.when(cond, 1).otherwise(0)


def sql_ident(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier, for helpers that build
    expressions as SQL strings: a column called ``my text``, ``a.b`` or
    ``select`` parses as that one top-level column (embedded backticks
    are doubled)."""
    return "`" + name.replace("`", "``") + "`"
