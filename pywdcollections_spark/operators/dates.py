"""Date datatype coercion — a DOCUMENTED DEVIATION extension.

The reference's write_prop has no date writer: DATE_PROPS values fall
through the dispatch and are dropped (pywdcollections.py:1084-1085),
which the default pipeline mirrors as 'writer_not_implemented'
(operators/validate.py). This module is the SURVEY.md §1.2 extension —
``timestamp + precision flag`` (Wikidata precision codes: 9=year,
10=month, 11=day) — offered as an OPT-IN coercion so users who want
real date claims can promote them without breaking reference parity.

Pure built-in expressions (whole-stage codegen; no Python crossing).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

PRECISION_YEAR, PRECISION_MONTH, PRECISION_DAY = 9, 10, 11


def flexible_date(col: Column) -> Column:
    """Parse 'YYYY' | 'YYYY-MM' | 'YYYY-MM-DD' (reference harvests all
    three shapes from established/date params) into a
    struct(ts timestamp, precision int); NULL fields when unparseable."""
    s = F.trim(col)
    is_y = s.rlike(r"^\d{4}$")
    is_ym = s.rlike(r"^\d{4}-(0[1-9]|1[0-2])$")
    is_ymd = s.rlike(r"^\d{4}-(0[1-9]|1[0-2])-(0[1-9]|[12]\d|3[01])$")
    # try_to_timestamp, NOT to_timestamp: Spark 4 defaults to ANSI mode,
    # where a shape-valid but calendar-invalid date ('2021-02-30')
    # would throw mid-job instead of yielding NULL
    ts = (F.when(is_y, F.try_to_timestamp(F.concat(s, F.lit("-01-01"))))
           .when(is_ym, F.try_to_timestamp(F.concat(s, F.lit("-01"))))
           .when(is_ymd, F.try_to_timestamp(s)))
    prec = (F.when(is_y, F.lit(PRECISION_YEAR))
             .when(is_ym, F.lit(PRECISION_MONTH))
             .when(is_ymd, F.lit(PRECISION_DAY)))
    # calendar-invalid -> fully unparsed (no precision without a ts)
    prec = F.when(ts.isNotNull(), prec)
    return F.struct(ts.alias("ts"), prec.alias("precision"))


def parse_monolingual(col: Column, default_lang: str = "en") -> Column:
    """Opt-in coercion for the monolingual_text datatype (P6375 is
    registered but the reference's write_prop has no monolingual
    writer — same fallthrough policy as dates, mirrored by default):
    'lang:text' splits into its parts, anything else takes
    ``default_lang`` (the harvest site's language in the pipeline).
    Returns struct(lang string, text string)."""
    s = F.trim(col)
    tagged = s.rlike(r"^[a-z]{2,3}:.+")
    lang = F.when(tagged, F.regexp_extract(s, r"^([a-z]{2,3}):", 1)) \
            .otherwise(F.lit(default_lang))
    text = F.when(tagged, F.trim(F.regexp_replace(s, r"^[a-z]{2,3}:", ""))) \
            .otherwise(s)
    return F.struct(lang.alias("lang"), text.alias("text"))
