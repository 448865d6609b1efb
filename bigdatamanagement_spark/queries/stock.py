"""Stock pack: Assignment 3's MySQL-on-RDS queries (T13).

Reference: SQLonRDS.java:229-264. Replays the reference sequence: the
pre-query DELETE (S-08: ``priceDate < '2022-08-20' OR companyId = 2``)
is applied as an immutable-view filter re-registration, THEN queries 1-3
run. Exact `stock` fixture (fixtures/stock_*.parquet).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from bigdatamanagement_spark.fixtures import fixture_path, read_fixture

_DELETE_PRED = "(price_date < DATE '2022-08-20' OR company_id = 2)"


def tables(spark: SparkSession) -> dict[str, DataFrame]:
    company = read_fixture(spark, "stock_company")
    sp = read_fixture(spark, "stock_stockprice")
    # S-08: DELETE as filter of the complement (engine is immutable-view based)
    sp = sp.filter(~((F.col("price_date") < F.lit("2022-08-20").cast("date")) | (F.col("company_id") == 2)))
    return {"company": company, "stockprice": sp}


_V = f"""
WITH company AS (SELECT * FROM read_parquet('{fixture_path("stock_company")}')),
     stockprice AS (SELECT * FROM read_parquet('{fixture_path("stock_stockprice")}')
                    WHERE NOT {_DELETE_PRED})
"""


def big_or_small_companies(spark, sf_dir) -> DataFrame:
    """T13-Q1 (SQLonRDS.java:238-244): disjunctive numeric filter + sort."""
    return (
        tables(spark)["company"]
        .filter((F.col("num_employees") > 10000) | (F.col("annual_revenue") < 1000000))
        .select("name", "annual_revenue", "num_employees")
        .orderBy("name")
    )


def weekly_stats(spark, sf_dir) -> DataFrame:
    """T13-Q2 (SQLonRDS.java:246-255): multi-aggregate per group over a
    BETWEEN date range, ordered by avg volume desc."""
    t = tables(spark)
    return (
        t["company"]
        .join(t["stockprice"], t["company"].id == t["stockprice"].company_id)
        .filter(F.col("price_date").between("2022-08-22", "2022-08-26"))
        .groupBy("id", "name", "ticker")
        .agg(
            F.min("low").alias("lowest_price"),
            F.max("high").alias("highest_price"),
            F.round(F.avg("close"), 4).alias("avg_close_price"),
            F.round(F.avg("volume"), 4).alias("avg_volume"),
        )
        .select("name", "ticker", "lowest_price", "highest_price", "avg_close_price", "avg_volume")
        .orderBy(F.desc("avg_volume"))
    )


def resilient_companies(spark, sf_dir) -> DataFrame:
    """T13-Q3 (SQLonRDS.java:257-264): left join with constant predicate in
    the ON clause (Q-J05) + left join against a derived aggregate subquery
    (Q-J06) + disjunctive NULL-tolerant filter."""
    t = tables(spark)
    c, sp = t["company"], t["stockprice"]
    s30 = sp.alias("s30")
    avg_week = (
        sp.filter(F.col("price_date").between("2022-08-15", "2022-08-19"))
        .groupBy("company_id")
        .agg(F.avg("close").alias("avg_close"))
        .alias("aw")
    )
    joined = (
        c.join(
            s30,
            (c.id == F.col("s30.company_id"))
            & (F.col("s30.price_date") == F.lit("2022-08-30").cast("date")),
            "left",
        )
        .join(avg_week, c.id == F.col("aw.company_id"), "left")
    )
    return (
        joined.filter(
            F.col("ticker").isNull()
            | (
                F.col("s30.close").isNotNull()
                & F.col("aw.avg_close").isNotNull()
                & (F.col("s30.close") >= F.col("aw.avg_close") * 0.9)
            )
        )
        .select("name", "ticker", F.col("s30.close").alias("closing_price_aug30"))
    )


def max_drawdown(spark, sf_dir) -> DataFrame:
    """T13-ext — maximum drawdown per company: the deepest peak-to-
    trough fall of the close price (in exact cents) over the surviving
    price history, plus the running-peak on the worst day. The risk
    statistic every stock screen adds to the reference's min/max/avg
    vocabulary (`SQLonRDS.java:246-255`), built from a per-company
    running max window (company is the parallelism unit — at scale
    this is the partitioned form of operators/rank.global_running_max).
    """
    sp = tables(spark)["stockprice"]
    cents = F.expr("CAST(round(close * 100, 0) AS BIGINT)")
    w = (
        Window.partitionBy("company_id")
        .orderBy("price_date")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dd = sp.select(
        "company_id",
        "price_date",
        cents.alias("c"),
    ).select(
        "company_id",
        (F.max("c").over(w) - F.col("c")).alias("dd_cents"),
        F.max("c").over(w).alias("peak_cents"),
    )
    return (
        dd.groupBy("company_id")
        .agg(
            F.max("dd_cents").cast("long").alias("max_drawdown_cents"),
            F.max("peak_cents").cast("long").alias("peak_cents"),
        )
        .orderBy("company_id")
    )


def weekly_ohlc(spark, sf_dir) -> DataFrame:
    """T13-ext — OHLC resample: daily bars roll up to weekly candles
    per company — open = first trading day's open, close = last day's
    close (both via min_by/max_by on the date), high/low = extrema,
    volume summed. The downsample idiom of the Bigtable hourly
    first-reading rule (S-02) applied to the stock domain at week
    grain; one (company, week)-keyed aggregate, no window."""
    sp = tables(spark)["stockprice"]
    return (
        sp.groupBy(
            "company_id",
            # ISO year qualifies the week: without it W52/W1 straddling
            # New Year and same-numbered weeks of different years collapse
            F.expr("extract(YEAROFWEEK FROM price_date)").cast("int").alias("iso_year"),
            F.weekofyear("price_date").cast("int").alias("week"),
        )
        .agg(
            F.expr("min_by(open, price_date)").alias("w_open"),
            F.max("high").alias("w_high"),
            F.min("low").alias("w_low"),
            F.expr("max_by(close, price_date)").alias("w_close"),
            F.sum("volume").cast("long").alias("w_volume"),
            F.count(F.lit(1)).cast("long").alias("n_days"),
        )
        .orderBy("company_id", "iso_year", "week")
    )


QUERIES = {
    "t13_max_drawdown": max_drawdown,
    "t13_weekly_ohlc": weekly_ohlc,
    "t13_q1_big_or_small_companies": big_or_small_companies,
    "t13_q2_weekly_stats": weekly_stats,
    "t13_q3_resilient_companies": resilient_companies,
}

ORACLE = {
    "t13_max_drawdown": _V
    + """
    , dd AS (
        SELECT company_id,
               max(CAST(round(close * 100, 0) AS BIGINT)) OVER (
                   PARTITION BY company_id ORDER BY price_date
                   ROWS UNBOUNDED PRECEDING) AS peak,
               CAST(round(close * 100, 0) AS BIGINT) AS c
        FROM stockprice
    )
    SELECT company_id,
           CAST(max(peak - c) AS BIGINT) AS max_drawdown_cents,
           CAST(max(peak) AS BIGINT) AS peak_cents
    FROM dd GROUP BY company_id ORDER BY company_id
    """,
    "t13_weekly_ohlc": _V
    + """
    SELECT company_id,
           CAST(date_part('isoyear', price_date) AS INT) AS iso_year,
           CAST(weekofyear(price_date) AS INT) AS week,
           min_by(open, price_date) AS w_open,
           max(high) AS w_high,
           min(low) AS w_low,
           max_by(close, price_date) AS w_close,
           CAST(sum(volume) AS BIGINT) AS w_volume,
           CAST(count(*) AS BIGINT) AS n_days
    FROM stockprice
    GROUP BY 1, 2, 3 ORDER BY company_id, iso_year, week
    """,
    "t13_q1_big_or_small_companies": _V
    + """
    SELECT name, annual_revenue, num_employees
    FROM company
    WHERE num_employees > 10000 OR annual_revenue < 1000000
    ORDER BY name ASC
    """,
    "t13_q2_weekly_stats": _V
    + """
    SELECT c.name, c.ticker, MIN(s.low) AS lowest_price, MAX(s.high) AS highest_price,
           ROUND(AVG(s.close), 4) AS avg_close_price, ROUND(AVG(s.volume), 4) AS avg_volume
    FROM company c JOIN stockprice s ON c.id = s.company_id
    WHERE s.price_date BETWEEN '2022-08-22' AND '2022-08-26'
    GROUP BY c.id, c.name, c.ticker
    ORDER BY avg_volume DESC
    """,
    "t13_q3_resilient_companies": _V
    + """
    SELECT c.name, c.ticker, s30.close AS closing_price_aug30
    FROM company c
    LEFT JOIN stockprice s30
      ON c.id = s30.company_id AND s30.price_date = DATE '2022-08-30'
    LEFT JOIN (
        SELECT company_id, AVG(close) AS avg_close
        FROM stockprice
        WHERE price_date BETWEEN '2022-08-15' AND '2022-08-19'
        GROUP BY company_id
    ) aw ON c.id = aw.company_id
    WHERE c.ticker IS NULL
       OR (s30.close IS NOT NULL AND aw.avg_close IS NOT NULL
           AND s30.close >= aw.avg_close * 0.9)
    """,
}
