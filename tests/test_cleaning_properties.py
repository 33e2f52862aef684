"""Property-based parity tests for the F10/F13/F14 cleaning parsers.

The reference cleans with Python lambdas (``dags/open_f1_historical.py:
60-101``); our engine re-expresses them as column expressions. These
tests pit the Spark expressions against straight-Python reimplementations
of the reference semantics over hypothesis-generated dirty inputs,
constrained to the parser's domain (OpenF1 gap/number strings — the
reference never sees 1e20-style scientific notation, and upstream
sentinel scrubbing owns the 'nan'/'inf' words).
"""

from __future__ import annotations

import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from formula1_data_pipeline_spark.functions.cleaning import (
    NULL_SENTINELS,
    clean_null_sentinels,
    parse_lap_gap,
    to_int_or_none_str,
)

# --- straight-Python reference semantics (dags/open_f1_historical.py) ---


def ref_scrub(x: str | None) -> str | None:
    if x is None or x.strip() in NULL_SENTINELS:
        return None
    return x


def ref_to_int_or_none(x: str | None) -> str | None:
    if x is None:
        return None
    try:
        return str(int(float(str(x))))
    except (ValueError, OverflowError):
        return None


def ref_parse_lap_gap(x: str | None) -> str | None:
    if x is None:
        return None
    if "LAP" in x.upper():
        m = re.search(r"-?\d+", x)
        return str(int(m.group())) if m else None
    try:
        return str(float(x))
    except ValueError:
        return None


# --- input domain ---------------------------------------------------------

_num = st.one_of(
    st.integers(-99, 99).map(str),
    st.floats(
        min_value=-9999, max_value=9999, allow_nan=False,
        allow_infinity=False,
    ).map(lambda f: str(round(f, 3))),
)

dirty_strings = st.one_of(
    st.none(),
    st.sampled_from(list(NULL_SENTINELS) + ["  None ", " NULL", "nan "]),
    _num,
    _num.map(lambda s: f"+{s} LAP"),
    _num.map(lambda s: f"{s} LAPS"),
    st.sampled_from(["LAP", "garbage", "DNF", "1:23.456", "--", "+", "."]),
    _num.map(lambda s: f" {s} "),
)


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(dirty_strings, min_size=1, max_size=60))
def test_parsers_match_reference_semantics(spark, values):
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(values)],
        T.StructType([
            T.StructField("i", T.IntegerType()),
            T.StructField("raw", T.StringType()),
        ]),
    )
    clean = clean_null_sentinels(F.col("raw"))
    got = {
        r["i"]: r
        for r in df.select(
            "i",
            clean.alias("clean"),
            parse_lap_gap(clean).alias("gap"),
            to_int_or_none_str(clean).alias("int_str"),
        ).collect()
    }
    for i, v in enumerate(values):
        c = ref_scrub(v)
        assert got[i]["clean"] == c, (v, "scrub")
        assert got[i]["gap"] == ref_parse_lap_gap(c), (v, "gap")
        assert got[i]["int_str"] == ref_to_int_or_none(c), (v, "int")


def test_scrub_dataframe_quotes_names_and_keeps_schema(spark):
    """The whole-frame scrub is one SQL projection: column names with a
    space or a backtick must round-trip, typed columns pass through,
    and every string column scrubs exactly like clean_null_sentinels."""
    from formula1_data_pipeline_spark.functions.cleaning import scrub_dataframe

    schema = T.StructType([
        T.StructField("lap no", T.IntegerType()),
        T.StructField("odd`name", T.StringType()),
        T.StructField("plain", T.StringType()),
    ])
    values = [*NULL_SENTINELS, "  None ", "44", " x ", None]
    df = spark.createDataFrame(
        [(i, v, v) for i, v in enumerate(values)], schema)
    out = scrub_dataframe(df)
    assert out.schema == T.StructType([
        T.StructField("lap no", T.IntegerType()),
        T.StructField("odd`name", T.StringType()),
        T.StructField("plain", T.StringType()),
    ])
    ref = df.select(
        "`lap no`",
        clean_null_sentinels(F.col("`odd``name`")).alias("a"),
        clean_null_sentinels(F.col("plain")).alias("b"),
    ).collect()
    got = out.collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in ref]
    assert [r[1] for r in got] == [ref_scrub(v) for v in values]
