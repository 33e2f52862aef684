"""Scalar cleaning/parsing expressions (reference F1-F17 surface).

The reference cleans driver-side with pandas ``.apply`` lambdas
(``dags/open_f1_historical.py:60-106``) and in-SQL with
nullif/trim/lower/try_to_double (``dbt/models/staging/
stg_openf1_race_control_historical.sql:57-69``). Here every parser is a
built-in Column expression — JVM-side, whole-stage-codegen'd, no Python
in the hot path. Each function documents the reference behavior it
reproduces bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# F10 — dags/open_f1_historical.py:61: the exact sentinel set scrubbed
# to NULL across every column at ingest.
NULL_SENTINELS = ("", " ", "None", "none", "NULL", "null", "NaN", "nan", "NAN")


def try_cast(col: Column, dtype: str) -> Column:
    """F2/F13 helper: NULL-on-failure cast (``Column.try_cast``,
    Spark 4; equivalent to plain cast under ansi=false but explicit
    about intent and ANSI-proof)."""
    return col.try_cast(dtype)


def clean_null_sentinels(col: Column) -> Column:
    """F10: null-sentinel strings -> NULL. The reference tests
    ``x.strip() in null_equivalents`` (dags/open_f1_historical.py:66),
    i.e. membership is checked on the *stripped* value — ``'  '`` and
    ``' None '`` are sentinels too."""
    return F.when(F.trim(col).isin(*NULL_SENTINELS), F.lit(None)).otherwise(col)


def stringify_all(df: DataFrame) -> DataFrame:
    """F11+F12: every column stringified for the all-VARCHAR raw layer;
    nested arrays/maps/structs JSON-encoded first
    (``dags/open_f1_historical.py:69-76``)."""
    cols = []
    for f in df.schema.fields:
        kind = f.dataType.typeName()
        c = F.col(f.name)
        if kind in ("array", "map", "struct"):
            c = F.to_json(c)
        cols.append(c.cast("string").alias(f.name))
    return df.select(*cols)


def to_int_or_none_str(col: Column) -> Column:
    """F13: ``str(int(float(str(x))))`` — "44.0" -> "44", garbage ->
    NULL (``dags/open_f1_historical.py:82-85``). Python int() truncates
    toward zero; so does cast(double as int)."""
    return try_cast(try_cast(col, "double"), "int").cast("string")


def parse_lap_gap(col: Column) -> Column:
    """F14: ``parse_lap_gap`` (``dags/open_f1_historical.py:88-101``) —
    '+1 LAP' / '2 LAPS' -> first integer token as string; plain number
    -> float-parsed then str(); garbage -> NULL.

    The pandas original scans tokens for the first int after seeing
    "LAP"; a regexp_extract of the first integer in the string
    reproduces it for every observed input shape.
    """
    has_lap = F.upper(col).contains("LAP")
    first_int = F.regexp_extract(col, r"(-?\d+)", 1)
    return F.when(
        col.isNull(), F.lit(None)
    ).when(
        has_lap,
        F.when(first_int == "", F.lit(None)).otherwise(
            try_cast(first_int, "int").cast("string")
        ),
    ).otherwise(
        # str(float(x)) parity: "2.456" -> "2.456", "3" -> "3.0"
        _py_float_repr(try_cast(col, "double"))
    )


def _py_float_repr(d: Column) -> Column:
    """Render a double the way Python ``str(float)`` does for the
    simple decimal values seen in gaps: integral doubles get a
    trailing '.0'; others use the shortest decimal form Spark already
    emits."""
    s = d.cast("string")
    return F.when(d.isNull(), F.lit(None)).when(
        # negative zero: floor() loses the sign (str(-0.0) = '-0.0');
        # the plain string cast preserves it
        (d == 0) & (s == "-0.0"), F.lit("-0.0")
    ).when(
        d == F.floor(d), F.concat(F.floor(d).cast("string"), F.lit(".0"))
    ).otherwise(s)


def nullif_none(col: Column) -> Column:
    """F3: ``nullif(x, 'None')`` (``stg_openf1_race_control_
    historical.sql:57-63``)."""
    return F.nullif(col, F.lit("None"))


def sector_to_double(col: Column) -> Column:
    """F2+F4: ``case when trim(lower(sector)) in ('nan','none','')
    then null else try_to_double(sector) end``
    (``stg_openf1_race_control_historical.sql:66-69``)."""
    norm = F.trim(F.lower(col))
    return F.when(
        norm.isin("nan", "none", ""), F.lit(None).cast("double")
    ).otherwise(try_cast(col, "double"))


# the sentinel IN-list as SQL string literals (no sentinel holds a quote)
_SENTINELS_SQL = ", ".join(f"'{s}'" for s in NULL_SENTINELS)


def scrub_dataframe(df: DataFrame) -> DataFrame:
    """F10 applied across all columns (string cols only — typed cols
    can't hold sentinel strings), the whole-frame ingest scrub.

    One ``selectExpr`` of ``CASE WHEN trim(c) IN (...) THEN NULL ELSE c
    END`` per string column — the same expression as
    ``clean_null_sentinels``, built as SQL text so a wide frame costs
    one py4j call instead of ~12 per column (the realtime leg scrubs
    every poll)."""
    exprs = []
    for f in df.schema.fields:
        c = "`" + f.name.replace("`", "``") + "`"
        if f.dataType.typeName() == "string":
            exprs.append(f"CASE WHEN trim({c}) IN ({_SENTINELS_SQL}) "
                         f"THEN NULL ELSE {c} END AS {c}")
        else:
            exprs.append(c)
    return df.selectExpr(*exprs)
