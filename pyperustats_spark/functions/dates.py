"""Frequency-aware date expressions.

The reference parses BCRP period strings per frequency — ``%Y`` (annual),
``%b.%Y`` (monthly), ``%d.%b.%y`` (daily), ``Q1.23`` (quarterly) — after
mapping Spanish month abbreviations to English, and derives an
end-of-quarter timestamp plus a ``yq`` label
(see ``/root/reference/perustats/BCRP/utils.py:147-200`` and
``models.py:43-57``). These are pure column expressions: they run inside
whole-stage codegen with no Python in the loop.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Spanish → English month abbreviations used by the BCRP API
# (reference: perustats/BCRP/models.py:51-57).
SPANISH_MONTHS = {"Ene": "Jan", "Abr": "Apr", "Ago": "Aug", "Set": "Sep", "Dic": "Dec"}

VALID_FREQUENCIES = ("D", "M", "Q", "A")


def spanish_months_to_english(col: Column) -> Column:
    """Replace Spanish month abbreviations with English ones."""
    out = col
    for es, en in SPANISH_MONTHS.items():
        out = F.replace(out, F.lit(es), F.lit(en))
    return out


def parse_period(col: Column, frequency: str) -> Column:
    """Parse a BCRP-style period string into a timestamp.

    D: ``15.Jun.23`` / ``15.Ene.23``  → that day
    M: ``Jun.2023``                   → first day of month
    Q: ``Q1.23``                      → last day of the quarter (the
       reference converts quarterly periods to end-of-quarter timestamps)
    A: ``2023``                       → Jan 1 of the year
    """
    frequency = frequency.upper()
    c = spanish_months_to_english(col)
    if frequency == "D":
        return F.to_timestamp(c, "d.MMM.yy")
    if frequency == "M":
        return F.to_timestamp(c, "MMM.yyyy")
    if frequency == "Q":
        # "Q1.23" → year 2023, quarter 1 → end of quarter
        q = F.substring(c, 2, 1).cast("int")
        yy = F.substring(c, 4, 2).cast("int") + F.lit(2000)
        month = q * 3  # last month of quarter
        return F.last_day(F.make_date(yy, month, F.lit(1))).cast("timestamp")
    if frequency == "A":
        return F.to_timestamp(c, "yyyy")
    raise ValueError(f"Unknown frequency: {frequency!r}")


def format_period(ts: Column, frequency: str) -> Column:
    """Inverse of :func:`parse_period`: timestamp → the API period
    string for *frequency* (reference ``_format_date_for_frequency``,
    perustats/BCRP/models.py:89-131).

    D → ``2023-06-15``, M → ``2023-06``, Q → ``2023-2``, A → ``2023``.
    """
    frequency = frequency.upper()
    if frequency == "D":
        return F.date_format(ts, "yyyy-MM-dd")
    if frequency == "M":
        return F.date_format(ts, "yyyy-MM")
    if frequency == "Q":
        return F.concat(
            F.year(ts).cast("string"), F.lit("-"), F.quarter(ts).cast("string"))
    if frequency == "A":
        return F.date_format(ts, "yyyy")
    raise ValueError(f"Unknown frequency: {frequency!r}")


def quarter_label(ts: Column) -> Column:
    """``yq`` label like ``2023Q1`` (reference keeps a ``yq`` column for
    quarterly frames, perustats/BCRP/utils.py:183)."""
    return F.concat(F.year(ts).cast("string"), F.lit("Q"), F.quarter(ts).cast("string"))
