"""The 15 reference-equivalent models, Spark-first.

Each function mirrors one dbt model (same name, same output columns,
same semantics) from ``/root/reference/dbt/models/``; citations in each
docstring. All models are pure ``dict[str, DataFrame] -> DataFrame``
and registered in ``REGISTRY`` with their ref edges — ``REGISTRY.run``
is the ``dbt run`` equivalent.

Raw inputs expected (all-string columns, the reference's all-VARCHAR
landing layer): ``raw_openf1_laps_historical``, ``raw_openf1_laps_
realtime``, ``raw_openf1_position_historical``, ``raw_openf1_position_
realtime``, ``raw_openf1_race_control_historical``,
``raw_openf1_race_control_realtime``.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from formula1_data_pipeline_spark.functions.cleaning import (
    nullif_none,
    sector_to_double,
    try_cast,
)
from formula1_data_pipeline_spark.operators.asof import asof_join
from formula1_data_pipeline_spark.operators.dedup_priority import dedup_by_priority
from formula1_data_pipeline_spark.operators.windows import count_distinct_over
from formula1_data_pipeline_spark.plans.registry import ModelRegistry

REGISTRY = ModelRegistry()

# ---------------------------------------------------------------------------
# staging — cast/filter/rename the all-string raw layer
# ---------------------------------------------------------------------------

_LAP_GRAIN = ["meeting_key", "session_key", "driver_number", "lap_number"]
_SESSION_DRIVER = ["meeting_key", "session_key", "driver_number"]


def _laps_typed(raw: DataFrame, is_realtime: bool) -> DataFrame:
    """Shared cast/rename projection for both laps staging models
    (stg_openf1_laps_historical.sql:12-40)."""
    return raw.select(
        try_cast(F.col("meeting_key"), "int").alias("meeting_key"),
        try_cast(F.col("session_key"), "int").alias("session_key"),
        try_cast(F.col("driver_number"), "int").alias("driver_number"),
        try_cast(F.col("lap_number"), "int").alias("lap_number"),
        try_cast(F.col("date_start"), "timestamp").alias("lap_start_time"),
        try_cast(F.col("duration_sector_1"), "double").alias("sector1_time"),
        try_cast(F.col("duration_sector_2"), "double").alias("sector2_time"),
        try_cast(F.col("duration_sector_3"), "double").alias("sector3_time"),
        try_cast(F.col("lap_duration"), "double").alias("lap_time"),
        try_cast(F.col("i1_speed"), "double").alias("i1_speed_kph"),
        try_cast(F.col("i2_speed"), "double").alias("i2_speed_kph"),
        try_cast(F.col("st_speed"), "double").alias("st_speed_kph"),
        try_cast(F.col("is_pit_out_lap"), "boolean").alias("is_pit_out_lap"),
        try_cast(F.col("year"), "int").alias("season_year"),
        F.col("segments_sector_1"),
        F.col("segments_sector_2"),
        F.col("segments_sector_3"),
        F.lit(is_realtime).alias("is_realtime"),
    )


def _not_null(df: DataFrame, cols: list[str]) -> DataFrame:
    cond = F.lit(True)
    for c in cols:
        cond = cond & F.col(c).isNotNull()
    return df.filter(cond)


@REGISTRY.register("stg_openf1_laps_historical",
                   sources=("raw_openf1_laps_historical",))
def stg_openf1_laps_historical(deps: Mapping[str, DataFrame]) -> DataFrame:
    """stg_openf1_laps_historical.sql: not-null grain filter on the raw
    strings (:5-8), cast/rename (:13-36), is_realtime=false (:39)."""
    raw = _not_null(deps["raw_openf1_laps_historical"],
                    ["meeting_key", "session_key", "driver_number", "lap_number"])
    return _laps_typed(raw, is_realtime=False)


@REGISTRY.register("stg_openf1_laps_realtime",
                   sources=("raw_openf1_laps_realtime",))
def stg_openf1_laps_realtime(deps: Mapping[str, DataFrame]) -> DataFrame:
    """stg_openf1_laps_realtime.sql: same as historical plus W2 —
    realtime reloads duplicate laps, keep the latest record per lap by
    raw date_start desc (:5-25), is_realtime=true (:55)."""
    raw = _not_null(deps["raw_openf1_laps_realtime"],
                    ["meeting_key", "session_key", "driver_number", "lap_number"])
    latest = dedup_by_priority(
        raw,
        keys=["meeting_key", "session_key", "driver_number", "lap_number"],
        order=[F.col("date_start").desc()],
    )
    return _laps_typed(latest, is_realtime=True)


def _position_typed(raw: DataFrame, is_realtime: bool) -> DataFrame:
    return raw.select(
        try_cast(F.col("date"), "timestamp").alias("event_timestamp"),
        try_cast(F.col("session_key"), "int").alias("session_key"),
        try_cast(F.col("meeting_key"), "int").alias("meeting_key"),
        try_cast(F.col("driver_number"), "int").alias("driver_number"),
        try_cast(F.col("position"), "int").alias("race_position"),
        try_cast(F.col("year"), "int").alias("season_year"),
        F.lit(is_realtime).alias("is_realtime"),
    )


@REGISTRY.register("stg_openf1_position_historical",
                   sources=("raw_openf1_position_historical",))
def stg_openf1_position_historical(deps: Mapping[str, DataFrame]) -> DataFrame:
    """stg_openf1_position_historical.sql:4-27."""
    raw = _not_null(deps["raw_openf1_position_historical"],
                    ["meeting_key", "session_key", "driver_number", "date"])
    return _position_typed(raw, is_realtime=False)


@REGISTRY.register("stg_openf1_position_realtime",
                   sources=("raw_openf1_position_realtime",))
def stg_openf1_position_realtime(deps: Mapping[str, DataFrame]) -> DataFrame:
    """stg_openf1_position_realtime.sql:4-27."""
    raw = _not_null(deps["raw_openf1_position_realtime"],
                    ["meeting_key", "session_key", "driver_number", "date"])
    return _position_typed(raw, is_realtime=True)


def _race_control_typed(raw: DataFrame, is_realtime: bool,
                        strict_sector: bool) -> DataFrame:
    """stg_openf1_race_control_{historical,realtime}.sql renamed CTE.

    historical cleans sector with trim/lower sentinel check +
    try_to_double (:66-69); realtime uses nullif(...,'None') + cast
    (:31) — both reproduced exactly.
    """
    sector = (
        try_cast(nullif_none(F.col("sector")), "double")
        if strict_sector
        else sector_to_double(F.col("sector"))
    )
    return raw.select(
        try_cast(F.col("meeting_key"), "int").alias("meeting_key"),
        try_cast(F.col("session_key"), "int").alias("session_key"),
        try_cast(F.col("date"), "timestamp").alias("event_timestamp"),
        try_cast(nullif_none(F.col("driver_number")), "int").alias("driver_number"),
        try_cast(nullif_none(F.col("lap_number")), "int").alias("lap_number"),
        nullif_none(F.col("category")).alias("category"),
        nullif_none(F.col("flag")).alias("flag"),
        nullif_none(F.col("scope")).alias("scope"),
        sector.alias("sector"),
        F.col("message"),
        F.lit(is_realtime).alias("is_realtime"),
    )


@REGISTRY.register("stg_openf1_race_control_historical",
                   sources=("raw_openf1_race_control_historical",))
def stg_openf1_race_control_historical(deps: Mapping[str, DataFrame]) -> DataFrame:
    """stg_openf1_race_control_historical.sql:44-77."""
    raw = _not_null(deps["raw_openf1_race_control_historical"],
                    ["meeting_key", "session_key", "date", "message"])
    return _race_control_typed(raw, is_realtime=False, strict_sector=False)


@REGISTRY.register("stg_openf1_race_control_realtime",
                   sources=("raw_openf1_race_control_realtime",))
def stg_openf1_race_control_realtime(deps: Mapping[str, DataFrame]) -> DataFrame:
    """stg_openf1_race_control_realtime.sql:4-40."""
    raw = _not_null(deps["raw_openf1_race_control_realtime"],
                    ["meeting_key", "session_key", "date", "message"])
    return _race_control_typed(raw, is_realtime=True, strict_sector=True)


# ---------------------------------------------------------------------------
# intermediate — union + priority dedup, as-of join, window features
# ---------------------------------------------------------------------------


@REGISTRY.register("int_openf1_laps_all",
                   refs=("stg_openf1_laps_historical", "stg_openf1_laps_realtime"))
def int_openf1_laps_all(deps: Mapping[str, DataFrame]) -> DataFrame:
    """int_openf1_laps_all.sql: UNION ALL (U1, :3-53) then dedup per lap
    grain, realtime beats historical, newer lap_start_time wins
    (W1, :55-63, rn=1 :87)."""
    unioned = deps["stg_openf1_laps_historical"].unionByName(
        deps["stg_openf1_laps_realtime"]
    )
    return dedup_by_priority(
        unioned,
        keys=_LAP_GRAIN,
        order=[F.col("is_realtime").desc(), F.col("lap_start_time").desc()],
    )


@REGISTRY.register("int_openf1_position_all",
                   refs=("stg_openf1_position_historical",
                         "stg_openf1_position_realtime"))
def int_openf1_position_all(deps: Mapping[str, DataFrame]) -> DataFrame:
    """int_openf1_position_all.sql: union (:3-27) + dedup on
    (grain, event_timestamp), realtime wins (:30-38, rn=1 :50)."""
    unioned = deps["stg_openf1_position_historical"].unionByName(
        deps["stg_openf1_position_realtime"]
    )
    return dedup_by_priority(
        unioned,
        keys=[*_SESSION_DRIVER, "event_timestamp"],
        order=[F.col("is_realtime").desc()],
    )


@REGISTRY.register("int_openf1_race_control_all",
                   refs=("stg_openf1_race_control_historical",
                         "stg_openf1_race_control_realtime"))
def int_openf1_race_control_all(deps: Mapping[str, DataFrame]) -> DataFrame:
    """int_openf1_race_control_all.sql: union (:3-34) + dedup on
    (meeting, session, event_timestamp, message), realtime wins
    (:36-44, rn=1 :59). Terminal model — no downstream consumer."""
    unioned = deps["stg_openf1_race_control_historical"].unionByName(
        deps["stg_openf1_race_control_realtime"]
    )
    return dedup_by_priority(
        unioned,
        keys=["meeting_key", "session_key", "event_timestamp", "message"],
        order=[F.col("is_realtime").desc()],
    )


@REGISTRY.register("int_session_driver_laps",
                   refs=("int_openf1_laps_all", "int_openf1_position_all"))
def int_session_driver_laps(deps: Mapping[str, DataFrame]) -> DataFrame:
    """int_session_driver_laps.sql: the as-of join (J1, :41-100) — each
    lap gets the most recent race position at-or-before lap start; laps
    with no prior sample keep NULL race_position (inequality lives in
    the LEFT JOIN's ON clause, so unmatched laps survive).

    Spark-first: single-shuffle union-sort forward-fill
    (operators.asof.asof_join, strategy='sorted') instead of the
    join-explode-rank shape — same semantics, linear at scale.
    """
    laps = deps["int_openf1_laps_all"].select(
        "meeting_key", "session_key", "driver_number", "lap_number",
        "lap_start_time", "lap_time", "sector1_time", "sector2_time",
        "sector3_time", "i1_speed_kph", "i2_speed_kph", "st_speed_kph",
        "is_pit_out_lap", "season_year", "is_realtime",
    )
    positions = deps["int_openf1_position_all"].select(
        "meeting_key", "session_key", "driver_number",
        "event_timestamp", "race_position",
    )
    out = asof_join(
        laps, positions,
        on=_SESSION_DRIVER,
        left_ts="lap_start_time",
        right_ts="event_timestamp",
        payload=["race_position"],
        strategy="sorted",
    )
    return out.withColumnRenamed("event_timestamp_asof", "position_timestamp") \
              .select(*laps.columns, "race_position", "position_timestamp")


@REGISTRY.register("int_driver_lap_features", refs=("int_session_driver_laps",))
def int_driver_lap_features(deps: Mapping[str, DataFrame]) -> DataFrame:
    """int_driver_lap_features.sql — the feature factory (171 lines):
    lag/lead (W3, :26-34), 5-lap rolling avg/stddev (W4/W5, :37-47),
    partition min best laps (W6, :50-57), count(distinct) over session
    (W7, :59-62 — rewritten as size(collect_set) per SURVEY §4),
    derived features (:72-102) and 7 CASE label ladders (:112-166).
    """
    df = deps["int_session_driver_laps"]

    w_drv = Window.partitionBy(*_SESSION_DRIVER).orderBy("lap_number")
    w_drv5 = w_drv.rowsBetween(-4, Window.currentRow)
    w_drv_all = Window.partitionBy(*_SESSION_DRIVER)
    w_sess = Window.partitionBy("meeting_key", "session_key")

    base = df.select(
        "*",
        F.lag("lap_time").over(w_drv).alias("prev_lap_time"),
        F.lead("lap_time").over(w_drv).alias("next_lap_time"),
        F.avg("lap_time").over(w_drv5).alias("rolling_avg_5_laps"),
        F.stddev_samp("lap_time").over(w_drv5).alias("rolling_stddev_5_laps"),
        F.min("lap_time").over(w_drv_all).alias("best_lap_time_driver"),
        F.min("lap_time").over(w_sess).alias("best_lap_time_session"),
        count_distinct_over("driver_number", w_sess).alias("driver_count_in_session"),
        F.lag("race_position").over(w_drv).alias("__prev_position"),
    )

    feats = base.select(
        "*",
        (F.col("prev_lap_time") - F.col("lap_time")).alias("pace_momentum"),
        F.col("rolling_stddev_5_laps").alias("pace_stability_index"),
        (F.col("lap_time") - F.col("best_lap_time_driver")).alias("degradation_index"),
        (F.col("__prev_position") - F.col("race_position")).alias("position_momentum"),
        (
            F.coalesce(
                F.col("best_lap_time_session")
                / F.nullif(F.col("lap_time"), F.lit(0)),
                F.lit(0),
            ) * 60
            + F.when(
                F.col("race_position").isNotNull()
                & (F.col("driver_count_in_session") > 1),
                (
                    (F.col("driver_count_in_session") - F.col("race_position"))
                    .cast("double")
                    / (F.col("driver_count_in_session") - 1)
                ) * 40,
            ).otherwise(0)
        ).alias("performance_score_raw"),
    ).drop("__prev_position")

    pm = F.col("pace_momentum")
    deg = F.col("degradation_index")
    psi = F.col("pace_stability_index")
    posm = F.col("position_momentum")
    score = F.col("performance_score_raw")

    return feats.select(
        "*",
        F.when((pm > 0.3) & (deg < 1.0), "ATTACKING_PACE")
         .when(deg > 2.5, "HIGH_TYRE_DEGRADATION")
         .when(psi < 0.15, "HIGHLY_CONSISTENT_PACE")
         .otherwise("BASELINE_RACE_PACE").alias("pace_state"),
        F.when(posm > 0, "GAINING_POSITIONS")
         .when(posm < 0, "LOSING_POSITIONS")
         .otherwise("HOLDING_POSITION").alias("track_position_state"),
        F.when(pm > 0.25, "Strong Pace Gain")
         .when(pm > 0.05, "Pace Improving")
         .when(pm > -0.05, "Pace Stable")
         .when(pm > -0.25, "Pace Dropping")
         .otherwise("Significant Pace Loss").alias("pace_momentum_label"),
        F.when(deg < 1.0, "Tyres Fresh")
         .when(deg < 2.5, "Low Degradation")
         .when(deg < 4.0, "Moderate Degradation")
         .otherwise("Severe Degradation").alias("tyre_state"),
        F.when(psi < 0.10, "Very Consistent")
         .when(psi < 0.25, "Consistent")
         .otherwise("Variable Pace").alias("consistency_label"),
        F.when(posm > 0, "Gaining Positions")
         .when(posm < 0, "Losing Positions")
         .otherwise("Holding Position").alias("position_trend_label"),
        F.when(score >= 80, "Excellent")
         .when(score >= 60, "Good")
         .when(score >= 40, "Average")
         .otherwise("Poor").alias("performance_rating"),
    )


# ---------------------------------------------------------------------------
# marts — materialized tables
# ---------------------------------------------------------------------------

_FCT_LAP_COLS = [
    "meeting_key", "session_key", "driver_number", "lap_number",
    "lap_start_time", "lap_time", "sector1_time", "sector2_time",
    "sector3_time", "i1_speed_kph", "i2_speed_kph", "st_speed_kph",
    "is_pit_out_lap", "season_year", "is_realtime", "race_position",
    "prev_lap_time", "next_lap_time", "rolling_avg_5_laps",
    "pace_momentum", "pace_stability_index", "degradation_index",
    "position_momentum", "performance_score_raw", "pace_state",
    "track_position_state",
]


@REGISTRY.register("fct_driver_laps", refs=("int_driver_lap_features",),
                   materialized="table", partition_key="season_year",
                   stats_cols=("session_key",))
def fct_driver_laps(deps: Mapping[str, DataFrame]) -> DataFrame:
    """fct_driver_laps.sql: projection of the feature table (:3-33)."""
    return deps["int_driver_lap_features"].select(*_FCT_LAP_COLS)


def _race_summary_cols() -> list[tuple[str, Column]]:
    """The aggregate list (A1-A3) shared by fct_driver_race_summary.sql:
    7-30 and final_f1.sql:37-63 (byte-equivalent in the reference)."""
    return [
        ("first_lap", F.min("lap_number")),
        ("last_lap", F.max("lap_number")),
        ("best_position", F.min("race_position")),
        ("worst_position", F.max("race_position")),
        ("best_lap_time", F.min("lap_time")),
        ("avg_lap_time", F.avg("lap_time")),
        ("avg_psi", F.avg("pace_stability_index")),
        ("avg_degradation", F.avg("degradation_index")),
        ("avg_performance_score", F.avg("performance_score_raw")),
        ("pit_stop_count",
         F.sum(F.when(F.col("is_pit_out_lap"), 1).otherwise(0))),
    ]


def _race_summary_agg(laps: DataFrame) -> DataFrame:
    """Per-(meeting, session, driver) GROUP BY of the summary list."""
    return laps.groupBy(*_SESSION_DRIVER).agg(
        *[agg.alias(name) for name, agg in _race_summary_cols()])


@REGISTRY.register("fct_driver_race_summary", refs=("int_driver_lap_features",),
                   materialized="table", stats_cols=("session_key",))
def fct_driver_race_summary(deps: Mapping[str, DataFrame]) -> DataFrame:
    """fct_driver_race_summary.sql: per-(meeting, session, driver)
    aggregates (A1 multi-agg, A2 conditional count, A3 ordinal
    grouping)."""
    return _race_summary_agg(deps["int_driver_lap_features"])


@REGISTRY.register("final_f1", refs=("int_driver_lap_features",),
                   materialized="table", partition_key="season_year",
                   stats_cols=("session_key",))
def final_f1(deps: Mapping[str, DataFrame]) -> DataFrame:
    """final_f1.sql: per-lap detail LEFT JOIN its own session summary
    (J2, :65-83), computed as window aggregates over the (meeting,
    session, driver) partition (SURVEY.md J2 idiom). A self-join reads
    the feature chain twice, and on session-partitioned raw tables
    dynamic partition pruning copies that chain into the summary side
    as subqueries. NULL-key rows never match the LEFT JOIN, so they get
    NULL summary columns."""
    w = Window.partitionBy(*_SESSION_DRIVER)
    keyed = F.col(_SESSION_DRIVER[0]).isNotNull()
    for k in _SESSION_DRIVER[1:]:
        keyed = keyed & F.col(k).isNotNull()
    return deps["int_driver_lap_features"].select(
        *_FCT_LAP_COLS,
        *[F.when(keyed, agg.over(w)).alias(name)
          for name, agg in _race_summary_cols()],
    )
