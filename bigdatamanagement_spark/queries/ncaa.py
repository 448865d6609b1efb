"""NCAA pack: Assignment 2's BigQuery queries (T16), all 11 tasks.

Reference: Assignment 2 docx Tasks 1-11 (SQL embedded in the report).
Runs on the synthesized ncaa_* fixtures. Exercises: composite-key joins
(Q5), theta self-join pair dedup with LEAST/GREATEST (Q8), conditional
aggregate ratios (Q7), CAST of numeric strings (Q7/Q9), HAVING on
count(distinct) (Q10), RANK window (Q11).

Determinism shims: every LIMIT-truncated ordering gets full tiebreak
keys in BOTH engines (SURVEY §5.3).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from bigdatamanagement_spark.fixtures import fixture_path, read_fixture

_TABLES = (
    "teams", "team_colors", "games", "players_games",
    "tournament_games", "pbp", "historical_teams_seasons",
)


def tables(spark: SparkSession) -> dict[str, DataFrame]:
    return {n: read_fixture(spark, f"ncaa_{n}") for n in _TABLES}


_V = (
    "WITH "
    + ", ".join(
        f"{n} AS (SELECT * FROM read_parquet('{fixture_path(f'ncaa_{n}')}'))"
        for n in _TABLES
    )
)


def q1_stanford_venue(spark, sf_dir) -> DataFrame:
    return (
        tables(spark)["teams"]
        .filter(F.col("market") == "Stanford")
        .select("venue_name", "venue_capacity")
    )


def q2_games_at_maples(spark, sf_dir) -> DataFrame:
    return (
        tables(spark)["games"]
        .filter((F.col("venue_name") == "Maples Pavilion") & (F.col("season") == 2013))
        .agg(F.count("*").alias("games_at_maples_pavilion"))
    )


def q3_ff_red_teams(spark, sf_dir) -> DataFrame:
    """F-02: UPPER(SUBSTR(color,2,2)) = 'FF'."""
    t = tables(spark)
    return (
        t["team_colors"]
        .join(t["teams"], "code_ncaa")
        .filter(F.upper(F.substring("color", 2, 2)) == "FF")
        .select("market", "color")
        .orderBy("market")
    )


def q4_stanford_home_wins(spark, sf_dir) -> DataFrame:
    t = tables(spark)
    g, tm = t["games"], t["teams"]
    return (
        g.join(tm, g.h_id == tm.id)
        .filter(
            (F.col("school_ncaa") == "Stanford")
            & F.col("season").between(2013, 2017)
            & (F.col("h_points") > F.col("a_points"))
        )
        .agg(
            F.count("*").alias("games_won"),
            F.round(F.avg("h_points"), 2).alias("avg_stanford"),
            F.round(F.avg("a_points"), 2).alias("avg_opponent"),
        )
    )


def q5_hometown_players(spark, sf_dir) -> DataFrame:
    """Q-J15: join on equality of two column pairs + COUNT(DISTINCT)."""
    t = tables(spark)
    p, tm = t["players_games"], t["teams"]
    return (
        p.join(tm, p.team_id == tm.id)
        .filter(
            (F.col("birthplace_city") == F.col("venue_city"))
            & (F.col("birthplace_state") == F.col("venue_state"))
        )
        .agg(F.countDistinct("player_id").alias("num_players"))
    )


def q6_biggest_margin(spark, sf_dir) -> DataFrame:
    """Q-S05: ORDER BY computed expr DESC LIMIT 1 (tiebreak appended)."""
    return (
        tables(spark)["tournament_games"]
        .select(
            "win_name", "lose_name", "win_pts", "lose_pts",
            (F.col("win_pts") - F.col("lose_pts")).alias("margin"),
        )
        .orderBy(F.desc("margin"), F.desc("win_pts"), F.asc("win_name"), F.asc("lose_name"))
        .limit(1)
    )


def q7_upset_percentage(spark, sf_dir) -> DataFrame:
    """Q-A11: conditional aggregate ratio with CAST of seed strings."""
    tg = tables(spark)["tournament_games"]
    upsets = F.sum(
        F.when(F.col("win_seed").cast("bigint") > F.col("lose_seed").cast("bigint"), 1).otherwise(0)
    )
    return tg.agg(F.round(F.lit(100.0) * upsets / F.count("*"), 2).alias("upset_percentage"))


def q8_same_state_same_color(spark, sf_dir) -> DataFrame:
    """Q-J09: theta self-join pair enumeration + LEAST/GREATEST (F-03)."""
    t = tables(spark)
    c1, c2 = t["team_colors"].alias("c1"), t["team_colors"].alias("c2")
    t1, t2 = t["teams"].alias("t1"), t["teams"].alias("t2")
    return (
        c1.join(
            c2,
            (F.col("c1.color") == F.col("c2.color"))
            & (F.col("c1.code_ncaa") < F.col("c2.code_ncaa")),
        )
        .join(t1, F.col("c1.code_ncaa") == F.col("t1.code_ncaa"))
        .join(t2, F.col("c2.code_ncaa") == F.col("t2.code_ncaa"))
        .filter(F.col("t1.venue_state") == F.col("t2.venue_state"))
        .select(
            F.least("t1.name", "t2.name").alias("teama"),
            F.greatest("t1.name", "t2.name").alias("teamb"),
            F.col("t1.venue_state").alias("state"),
        )
        .orderBy("teama", "teamb")
    )


def q9_stanford_point_sources(spark, sf_dir) -> DataFrame:
    """Q-A14: grouped SUM by 3 keys, top-3, NULL guards (Q-P10)."""
    t = tables(spark)
    pg, p = t["pbp"], t["players_games"]
    return (
        pg.join(p, "player_id")
        .filter(
            (F.col("team_market") == "Stanford")
            & F.col("season").between(2013, 2017)
            & F.col("birthplace_city").isNotNull()
            & F.col("birthplace_state").isNotNull()
            & F.col("birthplace_country").isNotNull()
            & F.col("points_scored").isNotNull()
        )
        .groupBy(
            F.col("birthplace_city").alias("city"),
            F.col("birthplace_state").alias("state"),
            F.col("birthplace_country").alias("country"),
        )
        .agg(F.sum("points_scored").cast("bigint").alias("total_points"))
        .orderBy(F.desc("total_points"), "city", "state", "country")
        .limit(3)
    )


def q10_deep_rosters(spark, sf_dir) -> DataFrame:
    """Q-A10 + Q-A09: HAVING on COUNT(DISTINCT) over a HAVING'd subagg."""
    t = tables(spark)
    first_half = (
        t["pbp"]
        .filter((F.col("season") >= 2013) & (F.col("period") == 1))
        .groupBy("team_id", "player_id", "game_id")
        .agg(F.sum("points_scored").alias("pts_fh"))
        .filter(F.col("pts_fh") >= 15)
    )
    meeting = (
        first_half.groupBy("team_id")
        .agg(F.countDistinct("player_id").alias("num_players"))
        .filter(F.col("num_players") > 5)
    )
    return (
        meeting.join(t["teams"], meeting.team_id == t["teams"].id)
        .select(F.col("market").alias("team_market"), "num_players")
        .orderBy(F.desc("num_players"), F.asc("team_market"))
        .limit(5)
    )


def q11_top_performers(spark, sf_dir) -> DataFrame:
    """Q11: RANK() OVER (PARTITION BY season ORDER BY wins DESC) = 1."""
    h = tables(spark)["historical_teams_seasons"]
    w = Window.partitionBy("season").orderBy(F.desc("wins"))
    leaders = (
        h.filter(
            F.col("season").between(1900, 2000)
            & F.col("market").isNotNull()
            & F.col("wins").isNotNull()
        )
        .withColumn("rnk", F.rank().over(w))
        .filter(F.col("rnk") == 1)
    )
    return (
        leaders.groupBy(F.col("market").alias("team_market"))
        .agg(F.count("*").alias("top_performer_count"))
        .orderBy(F.desc("top_performer_count"), F.asc("team_market"))
        .limit(5)
    )


QUERIES = {
    "t16_q1_stanford_venue": q1_stanford_venue,
    "t16_q2_games_at_maples": q2_games_at_maples,
    "t16_q3_ff_red_teams": q3_ff_red_teams,
    "t16_q4_stanford_home_wins": q4_stanford_home_wins,
    "t16_q5_hometown_players": q5_hometown_players,
    "t16_q6_biggest_margin": q6_biggest_margin,
    "t16_q7_upset_percentage": q7_upset_percentage,
    "t16_q8_same_state_same_color": q8_same_state_same_color,
    "t16_q9_stanford_point_sources": q9_stanford_point_sources,
    "t16_q10_deep_rosters": q10_deep_rosters,
    "t16_q11_top_performers": q11_top_performers,
}

ORACLE = {
    "t16_q1_stanford_venue": _V
    + " SELECT venue_name, venue_capacity FROM teams WHERE market = 'Stanford'",
    "t16_q2_games_at_maples": _V
    + """
    SELECT COUNT(*) AS games_at_maples_pavilion
    FROM games WHERE venue_name = 'Maples Pavilion' AND season = 2013
    """,
    "t16_q3_ff_red_teams": _V
    + """
    SELECT t.market, c.color
    FROM team_colors c JOIN teams t ON c.code_ncaa = t.code_ncaa
    WHERE UPPER(SUBSTR(c.color, 2, 2)) = 'FF'
    ORDER BY t.market
    """,
    "t16_q4_stanford_home_wins": _V
    + """
    SELECT COUNT(*) AS games_won,
           ROUND(AVG(g.h_points), 2) AS avg_stanford,
           ROUND(AVG(g.a_points), 2) AS avg_opponent
    FROM games g JOIN teams t ON g.h_id = t.id
    WHERE t.school_ncaa = 'Stanford' AND g.season BETWEEN 2013 AND 2017
      AND g.h_points > g.a_points
    """,
    "t16_q5_hometown_players": _V
    + """
    SELECT COUNT(DISTINCT p.player_id) AS num_players
    FROM players_games p JOIN teams t ON p.team_id = t.id
    WHERE p.birthplace_city = t.venue_city AND p.birthplace_state = t.venue_state
    """,
    "t16_q6_biggest_margin": _V
    + """
    SELECT win_name, lose_name, win_pts, lose_pts, (win_pts - lose_pts) AS margin
    FROM tournament_games
    ORDER BY margin DESC, win_pts DESC, win_name ASC, lose_name ASC
    LIMIT 1
    """,
    "t16_q7_upset_percentage": _V
    + """
    SELECT ROUND(100.0 * SUM(CASE WHEN CAST(win_seed AS BIGINT) > CAST(lose_seed AS BIGINT)
                                  THEN 1 ELSE 0 END) / COUNT(*), 2) AS upset_percentage
    FROM tournament_games
    """,
    "t16_q8_same_state_same_color": _V
    + """
    SELECT LEAST(t1.name, t2.name) AS teama, GREATEST(t1.name, t2.name) AS teamb,
           t1.venue_state AS state
    FROM team_colors c1
    JOIN team_colors c2 ON c1.color = c2.color AND c1.code_ncaa < c2.code_ncaa
    JOIN teams t1 ON c1.code_ncaa = t1.code_ncaa
    JOIN teams t2 ON c2.code_ncaa = t2.code_ncaa
    WHERE t1.venue_state = t2.venue_state
    ORDER BY teama, teamb
    """,
    "t16_q9_stanford_point_sources": _V
    + """
    SELECT p.birthplace_city AS city, p.birthplace_state AS state,
           p.birthplace_country AS country,
           CAST(SUM(pg.points_scored) AS BIGINT) AS total_points
    FROM pbp pg JOIN players_games p ON pg.player_id = p.player_id
    WHERE pg.team_market = 'Stanford' AND pg.season BETWEEN 2013 AND 2017
      AND p.birthplace_city IS NOT NULL AND p.birthplace_state IS NOT NULL
      AND p.birthplace_country IS NOT NULL AND pg.points_scored IS NOT NULL
    GROUP BY 1, 2, 3
    ORDER BY total_points DESC, city, state, country
    LIMIT 3
    """,
    "t16_q10_deep_rosters": _V
    + """
    , first_half_totals AS (
        SELECT team_id, player_id, game_id, SUM(points_scored) AS pts_fh
        FROM pbp WHERE season >= 2013 AND period = 1
        GROUP BY team_id, player_id, game_id
        HAVING SUM(points_scored) >= 15
    ),
    players_meeting AS (
        SELECT team_id, COUNT(DISTINCT player_id) AS num_players
        FROM first_half_totals GROUP BY team_id
        HAVING COUNT(DISTINCT player_id) > 5
    )
    SELECT t.market AS team_market, pmc.num_players
    FROM players_meeting pmc JOIN teams t ON pmc.team_id = t.id
    ORDER BY pmc.num_players DESC, t.market ASC
    LIMIT 5
    """,
    "t16_q11_top_performers": _V
    + """
    , season_leaders AS (
        SELECT market, season, wins,
               RANK() OVER (PARTITION BY season ORDER BY wins DESC) AS rnk
        FROM historical_teams_seasons
        WHERE season BETWEEN 1900 AND 2000 AND market IS NOT NULL AND wins IS NOT NULL
    )
    SELECT market AS team_market, COUNT(*) AS top_performer_count
    FROM season_leaders WHERE rnk = 1
    GROUP BY market
    ORDER BY top_performer_count DESC, market ASC
    LIMIT 5
    """,
}
