"""Weather pack: Assignment 4's Bigtable time-series queries (T14).

Reference: Bigtable.java:94-184 — hourly downsample at load (S-02/Q-A16),
then point lookup, range-filtered MAX (Q-A17), day-slice scan, and
month-window max across stations (F-08/F-09).

Runs on the synthesized `weather_raw` fixture. The hourly view is the
shared CTE in both engines, so the downsample operator itself is under
the oracle contract.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from bigdatamanagement_spark.fixtures import fixture_path, read_fixture
from bigdatamanagement_spark.operators.downsample import hourly_downsample


def hourly(spark: SparkSession) -> DataFrame:
    return hourly_downsample(read_fixture(spark, "weather_raw"))


_V = f"""
WITH weather_raw AS (SELECT * FROM read_parquet('{fixture_path("weather_raw")}')),
     weather_hourly AS (
        SELECT * EXCLUDE (rn, minute) FROM (
            SELECT *, CAST(split_part("time", ':', 1) AS INT) AS hour,
                   CAST(split_part("time", ':', 2) AS INT) AS minute,
                   ROW_NUMBER() OVER (
                       PARTITION BY station, "date", CAST(split_part("time", ':', 1) AS INT)
                       ORDER BY CAST(split_part("time", ':', 2) AS INT) ASC) AS rn
            FROM weather_raw
        ) WHERE rn = 1
     )
"""


def temperature_at(spark, sf_dir) -> DataFrame:
    """T14-q1 (Bigtable.java:124-128): temperature for YVR 2022-10-01 10:00."""
    return (
        hourly(spark)
        .filter(
            (F.col("station") == "YVR")
            & (F.col("date") == F.lit("2022-10-01").cast("date"))
            & (F.col("hour") == 10)
        )
        .select("station", "date", "hour", "temperature")
    )


def max_windspeed_sept_pdx(spark, sf_dir) -> DataFrame:
    """T14-q2 (Bigtable.java:129-145): max hourly windspeed, PDX, Sept 2022.
    'M' (missing) speeds cast to NULL and fall out of MAX."""
    return (
        hourly(spark)
        .filter(
            (F.col("station") == "PDX")
            & (F.year("date") == 2022)
            & (F.month("date") == 9)
        )
        .agg(F.max(F.col("speed").try_cast("int")).alias("max_windspeed"))
    )


def day_slice_sea(spark, sf_dir) -> DataFrame:
    """T14-q3 (Bigtable.java:146-165): all hourly readings for SeaTac
    2022-10-02 (golden: 24 rows) — the readRowRanges row-key range scan,
    here a partition-prunable (station, date) predicate."""
    return (
        hourly(spark)
        .filter(
            (F.col("station") == "SEA") & (F.col("date") == F.lit("2022-10-02").cast("date"))
        )
        .select(
            "station", "date", "hour", "time", "temperature", "dewpoint",
            "relhum", "speed", "pressure",
        )
        .orderBy("hour")
    )


def max_temp_jul_aug(spark, sf_dir) -> DataFrame:
    """T14-q4 (Bigtable.java:166-184): max temperature, any station,
    July + August 2022."""
    return (
        hourly(spark)
        .filter((F.year("date") == 2022) & (F.month("date").isin(7, 8)))
        .agg(F.max("temperature").alias("max_temperature"))
    )


def max_diurnal_range_per_station(spark, sf_dir) -> DataFrame:
    """T14-q5 (Bigtable.java:195-199, the 'create your own query' slot):
    per station, the day with the LARGEST diurnal temperature range
    (max − min hourly temperature) — a grouped min/max + per-station
    argmax with (range DESC, date ASC) tiebreak. The per-station window
    partitions on station (bounded cardinality), never a global sort."""
    from pyspark.sql import Window

    daily = (
        hourly(spark)
        .groupBy("station", "date")
        .agg(
            F.min("temperature").alias("t_min"),
            F.max("temperature").alias("t_max"),
        )
        .withColumn("t_range", F.col("t_max") - F.col("t_min"))
    )
    w = Window.partitionBy("station").orderBy(
        F.desc("t_range"), F.asc("date")
    )
    return (
        daily.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("station", "date", "t_min", "t_max", "t_range")
        .orderBy("station")
    )


QUERIES = {
    "t14_q1_temperature_at": temperature_at,
    "t14_q2_max_windspeed_sept_pdx": max_windspeed_sept_pdx,
    "t14_q3_day_slice_sea": day_slice_sea,
    "t14_q4_max_temp_jul_aug": max_temp_jul_aug,
    "t14_q5_max_diurnal_range_per_station": max_diurnal_range_per_station,
}

ORACLE = {
    "t14_q1_temperature_at": _V
    + """
    SELECT station, "date", hour, temperature
    FROM weather_hourly
    WHERE station = 'YVR' AND "date" = DATE '2022-10-01' AND hour = 10
    """,
    "t14_q2_max_windspeed_sept_pdx": _V
    + """
    SELECT MAX(TRY_CAST(speed AS INT)) AS max_windspeed
    FROM weather_hourly
    WHERE station = 'PDX' AND year("date") = 2022 AND month("date") = 9
    """,
    "t14_q3_day_slice_sea": _V
    + """
    SELECT station, "date", hour, "time", temperature, dewpoint, relhum, speed, pressure
    FROM weather_hourly
    WHERE station = 'SEA' AND "date" = DATE '2022-10-02'
    ORDER BY hour
    """,
    "t14_q4_max_temp_jul_aug": _V
    + """
    SELECT MAX(temperature) AS max_temperature
    FROM weather_hourly
    WHERE year("date") = 2022 AND month("date") IN (7, 8)
    """,
    "t14_q5_max_diurnal_range_per_station": _V
    + """
    , daily AS (
        SELECT station, "date",
               MIN(temperature) AS t_min,
               MAX(temperature) AS t_max,
               MAX(temperature) - MIN(temperature) AS t_range
        FROM weather_hourly
        GROUP BY station, "date"
    )
    SELECT station, "date", t_min, t_max, t_range FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY station ORDER BY t_range DESC, "date" ASC
        ) AS rn
        FROM daily
    ) WHERE rn = 1
    ORDER BY station
    """,
}
