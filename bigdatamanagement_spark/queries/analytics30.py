"""Log-rank / Huber / strategy-backtest / service-level pack (T48):
the two-group log-rank test on signup→purchase survival (the
inferential member of the KM / hazard-table family — "do the two
cohorts convert at the same rate over time?"), the Huber M-estimator
of daily revenue location (two fixed IRLS rounds, the estimator the
median/winsorized/MAD entries bracket), an SMA-crossover trading
backtest on the stock fixture (exact-cents P&L, signals by integer
cross-multiplication — the A3 stock domain's strategy readout), and a
newsvendor service-level backtest (does the t45 stocking quantile hit
its target service level out of sample?).

Reference anchors (SURVEY §2): log-rank completes the survival family
(KM t22, hazard t34) over the same signup→purchase clock; Huber
completes the robust-location family (median/winsorized t20, MAD t19,
Sn t45); the SMA backtest reads the reference's stock schema
(`SQLonRDS.java:116-137`) the way max-drawdown (t13) does; the
service backtest closes the loop on the t45 newsvendor quantiles.

Scale notes (100 TB):
- log-rank: one user-keyed aggregate → the day-grain (time, group)
  count grid; at-risk counts are ONE reverse-cumulative window on
  that bounded grid; every per-day term is floored to exact integers
  (documented order) so the O/E/V sums commute — no double ever sums.
- Huber: the day grain again; the two IRLS rounds are two tiny
  aggregates against broadcast 1-row centers (scale k frozen from
  round 0, the standard prescription).
- SMA: per-company windows on the fixture; signal = 5·sum3 > 3·sum5
  (integer cents cross-multiplication — no division, no doubles).
- service backtest: one (brand, week) aggregate; train/test split on
  the global median week; the 80% stock level is the exact
  ceil(0.8·n) order statistic of TRAIN weeks only.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from bigdatamanagement_spark.catalog import load_testdata
from bigdatamanagement_spark.fixtures import fixture_path, read_fixture

_MICRO = 1_000_000


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_testdata(spark, sf_dir, tables=("events",), register=False)[
        "events"
    ]


# --- T48a: two-group log-rank test -------------------------------------------

_LOGRANK_Z = (
    "((CAST(o1 AS DOUBLE) * 1000000.0 - CAST(e1_micro AS DOUBLE))"
    " / sqrt(CAST(v_micro AS DOUBLE) * 1000000.0))"
)


def logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T48a — two-group log-rank test on signup→purchase survival:
    users split by the seedless md5 parity (the t19/t34 discipline);
    time = whole days from first signup to first subsequent purchase
    (event) or to the corpus end (censored). At each death day t the
    hypergeometric O−E term folds from the at-risk counts; the z
    statistic is one shared expression over the exact integer sums
    O1 = Σd1, E1_micro = Σ (d·n1·1e6) DIV n and
    V_micro = Σ ((n1·1e6 DIV n)·(n−n1) DIV n)·(d·(n−d) DIV (n−1))
    (flooring order documented — every per-day term is an exact
    BIGINT, so the sums commute across partitionings and engines).

    Scale: one user-keyed aggregate; the at-risk table is a single
    reverse-cumulative window on the day grain."""
    ev = _events(spark, sf_dir)
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.min(
                F.when(F.col("event_type") == "signup", F.col("ts"))
            ).alias("s"),
            F.max(F.col("ts")).alias("last_ts"),
        )
        .filter(F.col("s").isNotNull())
    )
    first_purch = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("raw_p"))
    )
    horizon = ev.agg(F.max(F.col("ts")).alias("hmax"))
    subj = (
        per_user.join(first_purch, "user_id", "left")
        .join(F.broadcast(horizon))
        .select(
            "user_id",
            F.expr(
                "CASE WHEN raw_p IS NOT NULL AND raw_p >= s THEN"
                " datediff(CAST(raw_p AS DATE), CAST(s AS DATE))"
                " ELSE datediff(CAST(hmax AS DATE), CAST(s AS DATE)) END"
            ).cast("long").alias("t"),
            F.expr(
                "CASE WHEN raw_p IS NOT NULL AND raw_p >= s"
                " THEN 1 ELSE 0 END"
            ).alias("ev"),
            F.expr(
                "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 8),"
                " 16, 10) AS BIGINT) % 2"
            ).alias("g"),
        )
    )
    grid = subj.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("c_all"),
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0))
        .cast("long")
        .alias("c1_all"),
        F.sum("ev").cast("long").alias("d"),
        F.sum(F.when(F.col("g") == 1, F.col("ev")).otherwise(0))
        .cast("long")
        .alias("d1"),
    )
    wrev = Window.orderBy("t").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    risk = grid.select(
        "t",
        "d",
        "d1",
        F.sum("c_all").over(wrev).cast("long").alias("n"),
        F.sum("c1_all").over(wrev).cast("long").alias("n1"),
    ).filter((F.col("d") > 0) & (F.col("n") > 1))
    sums = risk.agg(
        F.count(F.lit(1)).cast("long").alias("n_death_days"),
        F.sum("d").cast("long").alias("n_deaths"),
        F.sum("d1").cast("long").alias("o1"),
        F.sum(F.expr("(d * n1 * 1000000) DIV n")).cast("long").alias(
            "e1_micro"
        ),
        F.sum(
            F.expr(
                "(((n1 * 1000000) DIV n) * (n - n1) DIV n)"
                " * ((d * (n - d)) DIV (n - 1))"
            )
        ).cast("long").alias("v_micro"),
    )
    n_users = subj.agg(F.count(F.lit(1)).cast("long").alias("n_subjects"))
    return sums.join(F.broadcast(n_users)).select(
        "n_subjects",
        "n_death_days",
        "n_deaths",
        "o1",
        "e1_micro",
        "v_micro",
        F.expr(_LOGRANK_Z).alias("z"),
    )


# --- T48b: Huber M-estimator of daily revenue --------------------------------


def huber_location(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T48b — Huber M-estimator of daily purchase revenue (whole
    dollars, the t46 grain): start at the lower median m0, freeze the
    scale k = (3·MAD_raw) DIV 2 (raw lower-median MAD, ≥1 guard), run
    TWO fixed IRLS rounds m_{r+1} = Σ(w·x) DIV Σw with the Huber
    weights w = 1e6 inside the k-band else (k·1e6) DIV |x−m_r| — all
    integer (weights are exact micros, the weighted mean floors
    once). The M-estimator the median (50% breakdown, 64% efficiency)
    and the mean (0% breakdown) bracket — 95% efficiency at the
    normal while still bounding any single day's influence.

    Scale: the day grain; each round is one aggregate against a
    broadcast 1-row center."""
    ev = _events(spark, sf_dir).filter(F.col("event_type") == "purchase")
    daily = (
        ev.groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.expr(
                "SUM(CAST(round(value * 100, 0) AS BIGINT)) DIV 100"
            ).alias("x")
        )
        .localCheckpoint(eager=True)
    )
    wmed = Window.orderBy("x", "day")
    nrow = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    m0 = (
        daily.select(
            "x",
            F.row_number().over(wmed).cast("long").alias("rk"),
            F.count(F.lit(1)).over(nrow).cast("long").alias("n"),
        )
        .filter(F.col("rk") == F.expr("(n + 1) DIV 2"))
        .select(F.col("x").alias("m0"), "n")
    )
    wdev = Window.orderBy(F.abs(F.col("x") - F.col("m0")), F.col("day"))
    mad = (
        daily.join(F.broadcast(m0))
        .select(
            F.abs(F.col("x") - F.col("m0")).alias("dev"),
            "m0",
            "n",
            F.row_number().over(wdev).cast("long").alias("rk"),
        )
        .filter(F.col("rk") == F.expr("(n + 1) DIV 2"))
        .select(
            "m0",
            "n",
            F.greatest(F.expr("(3 * dev) DIV 2"), F.lit(1)).alias("k"),
        )
    )

    def irls_round(center_col: str, out_col: str, state: DataFrame) -> DataFrame:
        w = (
            F.when(
                F.abs(F.col("x") - F.col(center_col)) <= F.col("k"),
                F.lit(_MICRO).cast("long"),
            ).otherwise(
                F.expr(f"(k * 1000000) DIV abs(x - {center_col})")
            )
        )
        return (
            daily.join(F.broadcast(state))
            .select(*state.columns, "x", w.alias("w"))
            .groupBy(*state.columns)
            .agg(
                F.expr("SUM(w * x) DIV SUM(w)").alias(out_col),
            )
        )

    m1 = irls_round("m0", "m1", mad)
    m2 = irls_round("m1", "m2", m1)
    return m2.select(
        F.col("n").alias("n_days"),
        F.col("m0").alias("median_dollars"),
        F.col("k").alias("k_dollars"),
        F.col("m1").alias("huber_round1"),
        F.col("m2").alias("huber_round2"),
    )


# --- T48c: SMA crossover backtest (stock fixture) -----------------------------


def sma_crossover_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T48c — SMA(3)/SMA(5) crossover backtest on the FULL stock
    fixture price history (pre-delete — the strategy wants the whole
    series; the T13 replay's DELETE is a that-pack artifact): long
    when the 3-day average closes above the 5-day average, judged by
    the integer cross-multiplication 5·sum3 > 3·sum5 on exact cents
    (no division, no doubles anywhere near a signal); next-day
    mark-to-market P&L pos_{t-1}·(close_t − close_{t-1}) in exact
    cents, plus the trade count (position flips). The A3 stock
    domain's strategy readout next to max-drawdown (t13).

    Scale: per-company windows; the fixture is reference-sized by
    construction (BASELINE.md: 36 rows), and the same plan is one
    keyed window pass at any size."""
    sp = read_fixture(spark, "stock_stockprice")
    cents = F.expr("CAST(round(close * 100, 0) AS BIGINT)")
    w = Window.partitionBy("company_id").orderBy("price_date")
    w3 = w.rowsBetween(-2, 0)
    w5 = w.rowsBetween(-4, 0)
    sig = sp.select(
        "company_id",
        "price_date",
        cents.alias("c"),
        F.sum(cents).over(w3).alias("sum3"),
        F.count(F.lit(1)).over(w3).alias("n3"),
        F.sum(cents).over(w5).alias("sum5"),
        F.count(F.lit(1)).over(w5).alias("n5"),
    ).select(
        "company_id",
        "price_date",
        "c",
        F.when(
            (F.col("n3") == 3) & (F.col("n5") == 5),
            F.expr("CASE WHEN 5 * sum3 > 3 * sum5 THEN 1 ELSE 0 END"),
        ).alias("pos"),
    )
    lagged = sig.select(
        "company_id",
        "price_date",
        "c",
        "pos",
        F.lag("pos").over(w).alias("prev_pos"),
        F.lag("c").over(w).alias("prev_c"),
    )
    return (
        lagged.groupBy("company_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.sum(F.when(F.col("pos").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_signal_days"),
            F.sum(
                F.when(
                    F.col("prev_pos").isNotNull() & F.col("pos").isNotNull(),
                    F.abs(F.col("pos") - F.col("prev_pos")),
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_trades"),
            F.sum(
                F.when(
                    F.col("prev_pos") == 1,
                    F.col("c") - F.col("prev_c"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("pnl_cents"),
        )
        .orderBy("company_id")
    )


# --- T48d: newsvendor service-level backtest ----------------------------------


def newsvendor_service_backtest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """T48d — out-of-sample service level of the t45 newsvendor rule:
    per brand, the 80% stocking quantile (exact ceil(0.8·n) order
    statistic) is fitted on TRAIN weeks (week ≤ the global median
    week) and judged on TEST weeks — achieved service = share of test
    weeks whose demand fits under the stock, in exact micro. The
    backtest the stocking decision owes its user: a rule that
    promises 80% and delivers 40% out of sample is a distribution
    shift alarm.

    Scale: one (brand, week) aggregate; one rank window on train; the
    test probe is a broadcast join of the ≤|brands| stock levels."""
    t = load_testdata(
        spark, sf_dir, tables=("lineitem", "part"), register=False
    )
    weekly = (
        t["lineitem"]
        .join(
            F.broadcast(t["part"].select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy(
            "p_brand",
            F.expr("CAST(weekofyear(l_shipdate) AS BIGINT)").alias("wk"),
        )
        .agg(F.expr("CAST(SUM(l_quantity) AS BIGINT)").alias("q"))
        .localCheckpoint(eager=True)
    )
    mid = weekly.agg(
        F.expr("(MIN(wk) + MAX(wk)) DIV 2").alias("mid")
    )
    split = weekly.join(F.broadcast(mid)).select(
        "p_brand", "wk", "q", (F.col("wk") <= F.col("mid")).alias("is_train")
    )
    train = split.filter("is_train")
    wtr = Window.partitionBy("p_brand").orderBy("q")
    stock = (
        train.select(
            "p_brand",
            "q",
            F.row_number().over(wtr).cast("long").alias("rk"),
            F.count(F.lit(1))
            .over(Window.partitionBy("p_brand"))
            .cast("long")
            .alias("n_train"),
        )
        .filter(F.col("rk") == F.expr("CAST(ceil(0.8 * n_train) AS BIGINT)"))
        .select("p_brand", "n_train", F.col("q").alias("stock_level"))
    )
    test = split.filter(~F.col("is_train")).groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("long").alias("n_test"),
        F.collect_list("q").alias("qs"),
    )
    return (
        stock.join(test, "p_brand")
        .select(
            "p_brand",
            "n_train",
            "n_test",
            "stock_level",
            F.expr(
                "CAST(size(filter(qs, q -> q <= stock_level)) AS BIGINT)"
            ).alias("hits"),
        )
        .select(
            "p_brand",
            "n_train",
            "n_test",
            "stock_level",
            "hits",
            F.expr("(hits * 1000000) DIV n_test").alias("service_micro"),
        )
        .orderBy("p_brand")
    )


QUERIES = {
    "t48_logrank_test": logrank_test,
    "t48_huber_location": huber_location,
    "t48_sma_crossover_backtest": sma_crossover_backtest,
    "t48_newsvendor_service_backtest": newsvendor_service_backtest,
}


def _stock_v() -> str:
    return f"""
        stockprice AS (
            SELECT * FROM read_parquet('{fixture_path("stock_stockprice")}')
        )
    """


ORACLE = {
    "t48_logrank_test": f"""
        WITH per_user AS (
            SELECT user_id,
                   MIN(CASE WHEN event_type = 'signup' THEN ts END) AS s
            FROM events GROUP BY 1
        ),
        fp AS (
            SELECT user_id, MIN(ts) AS raw_p
            FROM events WHERE event_type = 'purchase' GROUP BY 1
        ),
        horizon AS (SELECT MAX(ts) AS hmax FROM events),
        subj AS (
            SELECT u.user_id,
                   CAST(CASE WHEN f.raw_p IS NOT NULL AND f.raw_p >= u.s
                        THEN datediff('day', CAST(u.s AS DATE),
                                      CAST(f.raw_p AS DATE))
                        ELSE datediff('day', CAST(u.s AS DATE),
                                      CAST(h.hmax AS DATE)) END
                        AS BIGINT) AS t,
                   CASE WHEN f.raw_p IS NOT NULL AND f.raw_p >= u.s
                        THEN 1 ELSE 0 END AS ev,
                   (('0x' || substring(md5(u.user_id::VARCHAR), 1, 8))
                        ::BIGINT) % 2 AS g
            FROM per_user u
            LEFT JOIN fp f ON u.user_id = f.user_id
            CROSS JOIN horizon h
            WHERE u.s IS NOT NULL
        ),
        grid AS (
            SELECT t,
                   CAST(COUNT(*) AS BIGINT) AS c_all,
                   CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS c1_all,
                   CAST(SUM(ev) AS BIGINT) AS d,
                   CAST(SUM(CASE WHEN g = 1 THEN ev ELSE 0 END) AS BIGINT)
                       AS d1
            FROM subj GROUP BY 1
        ),
        risk AS (
            SELECT t, d, d1,
                   CAST(SUM(c_all) OVER (ORDER BY t
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                       AS BIGINT) AS n,
                   CAST(SUM(c1_all) OVER (ORDER BY t
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                       AS BIGINT) AS n1
            FROM grid
        ),
        sums AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_death_days,
                   CAST(SUM(d) AS BIGINT) AS n_deaths,
                   CAST(SUM(d1) AS BIGINT) AS o1,
                   CAST(SUM((d * n1 * 1000000) // n) AS BIGINT) AS e1_micro,
                   CAST(SUM((((n1 * 1000000) // n) * (n - n1) // n)
                            * ((d * (n - d)) // (n - 1))) AS BIGINT)
                       AS v_micro
            FROM risk WHERE d > 0 AND n > 1
        ),
        nu AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_subjects FROM subj)
        SELECT n_subjects, n_death_days, n_deaths, o1, e1_micro, v_micro,
               {_LOGRANK_Z} AS z
        FROM sums CROSS JOIN nu
    """,
    "t48_huber_location": """
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day,
                   SUM(CAST(round(value * 100, 0) AS BIGINT)) // 100 AS x
            FROM events WHERE event_type = 'purchase'
            GROUP BY 1
        ),
        m0 AS (
            SELECT x AS m0, n FROM (
                SELECT x,
                       CAST(row_number() OVER (ORDER BY x, day) AS BIGINT)
                           AS rk,
                       CAST(COUNT(*) OVER () AS BIGINT) AS n
                FROM daily
            ) WHERE rk = (n + 1) // 2
        ),
        mad AS (
            SELECT m0, n, greatest((3 * dev) // 2, 1) AS k FROM (
                SELECT m0.m0, m0.n, abs(d.x - m0.m0) AS dev,
                       CAST(row_number() OVER (ORDER BY abs(d.x - m0.m0),
                                               d.day) AS BIGINT) AS rk
                FROM daily d CROSS JOIN m0
            ) WHERE rk = (n + 1) // 2
        ),
        r1 AS (
            SELECT m0, n, k, SUM(w * x) // SUM(w) AS m1 FROM (
                SELECT m.m0, m.n, m.k, d.x,
                       CASE WHEN abs(d.x - m.m0) <= m.k THEN 1000000
                            ELSE (m.k * 1000000) // abs(d.x - m.m0) END AS w
                FROM daily d CROSS JOIN mad m
            ) GROUP BY 1, 2, 3
        ),
        r2 AS (
            SELECT m0, n, k, m1, SUM(w * x) // SUM(w) AS m2 FROM (
                SELECT r.m0, r.n, r.k, r.m1, d.x,
                       CASE WHEN abs(d.x - r.m1) <= r.k THEN 1000000
                            ELSE (r.k * 1000000) // abs(d.x - r.m1) END AS w
                FROM daily d CROSS JOIN r1 r
            ) GROUP BY 1, 2, 3, 4
        )
        SELECT n AS n_days, m0 AS median_dollars, k AS k_dollars,
               CAST(m1 AS BIGINT) AS huber_round1,
               CAST(m2 AS BIGINT) AS huber_round2
        FROM r2
    """,
    "t48_sma_crossover_backtest": f"""
        WITH {_stock_v()},
        sig AS (
            SELECT company_id, price_date,
                   CAST(round(close * 100, 0) AS BIGINT) AS c,
                   CASE WHEN COUNT(*) OVER w3 = 3
                             AND COUNT(*) OVER w5 = 5
                        THEN CASE WHEN
                            5 * SUM(CAST(round(close * 100, 0) AS BIGINT))
                                OVER w3
                            > 3 * SUM(CAST(round(close * 100, 0) AS BIGINT))
                                OVER w5
                            THEN 1 ELSE 0 END
                        ELSE NULL END AS pos
            FROM stockprice
            WINDOW w3 AS (PARTITION BY company_id ORDER BY price_date
                          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
                   w5 AS (PARTITION BY company_id ORDER BY price_date
                          ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
        ),
        lagged AS (
            SELECT company_id, c, pos,
                   lag(pos) OVER (PARTITION BY company_id
                                  ORDER BY price_date) AS prev_pos,
                   lag(c) OVER (PARTITION BY company_id
                                ORDER BY price_date) AS prev_c
            FROM sig
        )
        SELECT company_id,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(CASE WHEN pos IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_signal_days,
               CAST(SUM(CASE WHEN prev_pos IS NOT NULL AND pos IS NOT NULL
                             THEN abs(pos - prev_pos) ELSE 0 END)
                    AS BIGINT) AS n_trades,
               CAST(SUM(CASE WHEN prev_pos = 1 THEN c - prev_c ELSE 0 END)
                    AS BIGINT) AS pnl_cents
        FROM lagged GROUP BY 1 ORDER BY 1
    """,
    "t48_newsvendor_service_backtest": """
        WITH weekly AS (
            SELECT p_brand, CAST(weekofyear(l_shipdate) AS BIGINT) AS wk,
                   CAST(SUM(l_quantity) AS BIGINT) AS q
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY 1, 2
        ),
        mid AS (SELECT (MIN(wk) + MAX(wk)) // 2 AS mid FROM weekly),
        split AS (
            SELECT p_brand, wk, q, wk <= mid AS is_train
            FROM weekly CROSS JOIN mid
        ),
        stock AS (
            SELECT p_brand, n_train, q AS stock_level FROM (
                SELECT p_brand, q,
                       CAST(row_number() OVER (PARTITION BY p_brand
                                               ORDER BY q) AS BIGINT) AS rk,
                       CAST(COUNT(*) OVER (PARTITION BY p_brand)
                            AS BIGINT) AS n_train
                FROM split WHERE is_train
            ) WHERE rk = CAST(ceil(0.8 * n_train) AS BIGINT)
        ),
        test AS (
            SELECT s.p_brand,
                   CAST(COUNT(*) AS BIGINT) AS n_test,
                   CAST(SUM(CASE WHEN t.q <= s.stock_level THEN 1 ELSE 0 END)
                        AS BIGINT) AS hits
            FROM split t JOIN stock s ON t.p_brand = s.p_brand
            WHERE NOT t.is_train
            GROUP BY 1
        )
        SELECT s.p_brand, s.n_train, t.n_test, s.stock_level, t.hits,
               (t.hits * 1000000) // t.n_test AS service_micro
        FROM stock s JOIN test t ON s.p_brand = t.p_brand
        ORDER BY s.p_brand
    """,
}
