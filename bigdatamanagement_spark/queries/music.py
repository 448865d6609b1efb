"""Music pack: Assignment 1's SQLite notebook queries (T09-T12).

Reference: Assignment 1 ipynb cells 6-21. Runs on the exact `music`
fixture (fixtures/music_*.parquet); ``sf_dir`` is accepted for contract
uniformity but the fixture is scale-free.

Every oracle SQL reads the SAME parquet files through DuckDB
read_parquet(), so the driver's hash compare exercises these too.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from bigdatamanagement_spark.fixtures import fixture_path, read_fixture
from bigdatamanagement_spark.operators.recommend import (
    colisten_recommend,
    with_recommendation_ids,
)


def tables(spark: SparkSession) -> dict[str, DataFrame]:
    t = {
        name: read_fixture(spark, f"music_{name}")
        for name in ("users", "songs", "listens")
    }
    return t


_V = f"""
WITH users AS (SELECT * FROM read_parquet('{fixture_path("music_users")}')),
     songs AS (SELECT * FROM read_parquet('{fixture_path("music_songs")}')),
     listens AS (SELECT * FROM read_parquet('{fixture_path("music_listens")}'))
"""


# --- T12 basics pack ------------------------------------------------------

def classic_songs(spark, sf_dir) -> DataFrame:
    """Q-P01 (ipynb cell 6): projection + equality filter."""
    return tables(spark)["songs"].filter(F.col("genre") == "Classic").select("title", "artist")


def classic_songs_like(spark, sf_dir) -> DataFrame:
    """Q-P02 (cell 7): conjunctive filter + LIKE 'Ye%' prefix."""
    s = tables(spark)["songs"]
    return s.filter((F.col("genre") == "Classic") & F.col("title").like("Ye%")).select(
        "title", "artist"
    )


def distinct_genres(spark, sf_dir) -> DataFrame:
    """Q-P03 (cells 8-9): SELECT DISTINCT single column (NULL kept)."""
    return tables(spark)["songs"].select("genre").distinct()


def artist_genre_counts(spark, sf_dir) -> DataFrame:
    """Q-A01 (cells 10-11): COUNT(*) grouped by 2 cols."""
    return (
        tables(spark)["songs"]
        .groupBy("artist", "genre")
        .agg(F.count("*").alias("num_songs"))
    )


def taylor_genre_counts(spark, sf_dir) -> DataFrame:
    """Q-A01 + WHERE (cell 10)."""
    return (
        tables(spark)["songs"]
        .filter(F.col("artist") == "Taylor Swift")
        .groupBy("artist", "genre")
        .agg(F.count("*").alias("num_songs"))
    )


def one_large_table(spark, sf_dir) -> DataFrame:
    """Q-J02 (cell 12): Songs ⟕ Listens ⟕ Users denormalized view."""
    t = tables(spark)
    return (
        t["songs"]
        .join(t["listens"], "song_id", "left")
        .join(t["users"], "user_id", "left")
        .select(
            "song_id", "title", "artist", "genre", "listen_id", "user_id",
            "rating",
            F.col("listen_time").cast("timestamp_ntz").alias("listen_time"),
            "name", "email",
        )
    )


def highly_rated_songs(spark, sf_dir) -> DataFrame:
    """Q-J01 (cell 13): inner join + filter rating > 4.6."""
    t = tables(spark)
    return (
        t["songs"]
        .join(t["listens"], "song_id")
        .filter(F.col("rating") > 4.6)
        .select("song_id", "title", "artist", "rating")
    )


def avg_rating_per_song(spark, sf_dir) -> DataFrame:
    """Q-A02 (cell 13): grouped AVG after join."""
    t = tables(spark)
    return (
        t["songs"]
        .join(t["listens"], "song_id")
        .groupBy("song_id", "title", "artist")
        .agg(F.round(F.avg("rating"), 4).alias("avg_rating"))
    )


def popular_songs(spark, sf_dir) -> DataFrame:
    """Q-A05 (cell 14): listen counts per song, ordered desc."""
    t = tables(spark)
    return (
        t["songs"]
        .join(t["listens"], "song_id")
        .groupBy("song_id", "title", "artist")
        .agg(F.count("*").alias("num_listens"))
        .orderBy(F.desc("num_listens"), F.asc("song_id"))
    )


def ed_taylor_songs(spark, sf_dir) -> DataFrame:
    """Q-P07 (cell 15): IN value list."""
    return (
        tables(spark)["songs"]
        .filter(F.col("artist").isin("Ed Sheeran", "Taylor Swift"))
        .select("title", "artist")
    )


def pop_rock_union(spark, sf_dir) -> DataFrame:
    """Q-U01 (cell 15): SQL UNION dedups — union().distinct() (SURVEY §5.3)."""
    s = tables(spark)["songs"]
    pop = s.filter(F.col("genre") == "Pop").select("title", "artist")
    rock = s.filter(F.col("genre") == "Rock").select("title", "artist")
    return pop.union(rock).distinct()


def null_listen_songs(spark, sf_dir) -> DataFrame:
    """Q-J11/Q-P09 (cell 16): IN (SELECT ...) semi-join on NULL listen_time."""
    t = tables(spark)
    null_listens = t["listens"].filter(F.col("listen_time").isNull()).select("song_id")
    return (
        t["songs"]
        .join(null_listens, "song_id", "left_semi")
        .select("title", "artist")
    )


# --- T09 / T10 / T11 recommendation pipeline ------------------------------

def colisten_recs(spark, sf_dir) -> DataFrame:
    """T09 (cells 17-19): co-listen pairs shared by >1 distinct user,
    minus already-heard."""
    return colisten_recommend(tables(spark)["listens"], min_users=1)


def colisten_recs_with_ids(spark, sf_dir) -> DataFrame:
    """T09 insert form (cell 19): ROW_NUMBER ids + frozen timestamp."""
    return with_recommendation_ids(colisten_recs(spark, sf_dir))


def same_day_recs(spark, sf_dir) -> DataFrame:
    """T10 (cell 21): same-day listen recommendations (golden: empty —
    the reference's own cell-21 output is zero rows on its fixture)."""
    return colisten_recommend(tables(spark)["listens"], same_day=True)


def same_day_recs_active(spark, sf_dir) -> DataFrame:
    """T10b (cell 21 semantics, non-vacuous): the SAME same-day operator
    on the music_listens_sameday fixture variant (reference listens +
    three same-day cross-user rows), so the golden is NON-EMPTY and an
    inverted join inequality or wrong date truncation cannot hide
    behind 0 ≡ 0. Golden: {(1,3),(1,4),(2,5),(2,6),(3,7),(4,1)}."""
    listens = read_fixture(spark, "music_listens_sameday")
    return colisten_recommend(listens, same_day=True)


def minnie_recs(spark, sf_dir) -> DataFrame:
    """T11 (cell 20): 3-way join report for user Minnie."""
    t = tables(spark)
    recs = colisten_recs(spark, sf_dir)
    return (
        recs.join(t["users"], "user_id")
        .join(t["songs"], "song_id")
        .filter(F.col("name") == "Minnie")
        .select("name", "title", "artist")
    )


QUERIES = {
    "t12_classic_songs": classic_songs,
    "t12_classic_songs_like": classic_songs_like,
    "t12_distinct_genres": distinct_genres,
    "t12_artist_genre_counts": artist_genre_counts,
    "t12_taylor_genre_counts": taylor_genre_counts,
    "t12_one_large_table": one_large_table,
    "t12_highly_rated_songs": highly_rated_songs,
    "t12_avg_rating_per_song": avg_rating_per_song,
    "t12_popular_songs": popular_songs,
    "t12_ed_taylor_songs": ed_taylor_songs,
    "t12_pop_rock_union": pop_rock_union,
    "t12_null_listen_songs": null_listen_songs,
    "t09_colisten_recs": colisten_recs,
    "t09_colisten_recs_with_ids": colisten_recs_with_ids,
    "t10_same_day_recs": same_day_recs,
    "t10b_same_day_recs_active": same_day_recs_active,
    "t11_minnie_recs": minnie_recs,
}

_T09_CTE = """
song_similarity AS (
    SELECT u1.song_id AS song1, u2.song_id AS song2
    FROM listens u1
    JOIN listens u2 ON u1.user_id = u2.user_id AND u1.song_id <> u2.song_id
    GROUP BY u1.song_id, u2.song_id
    HAVING COUNT(DISTINCT u1.user_id) > 1
),
potential_recs AS (
    SELECT DISTINCT l.user_id, ss.song2 AS song_id
    FROM song_similarity ss
    JOIN listens l ON l.song_id = ss.song1
    WHERE ss.song2 NOT IN (SELECT song_id FROM listens WHERE user_id = l.user_id)
)
"""

ORACLE = {
    "t12_classic_songs": _V + "SELECT title, artist FROM songs WHERE genre = 'Classic'",
    "t12_classic_songs_like": _V
    + "SELECT title, artist FROM songs WHERE genre = 'Classic' AND title LIKE 'Ye%'",
    "t12_distinct_genres": _V + "SELECT DISTINCT genre FROM songs",
    "t12_artist_genre_counts": _V
    + "SELECT artist, genre, COUNT(*) AS num_songs FROM songs GROUP BY artist, genre",
    "t12_taylor_genre_counts": _V
    + "SELECT artist, genre, COUNT(*) AS num_songs FROM songs "
    "WHERE artist = 'Taylor Swift' GROUP BY artist, genre",
    "t12_one_large_table": _V
    + """
    SELECT s.song_id, s.title, s.artist, s.genre, l.listen_id, l.user_id,
           l.rating, l.listen_time, u.name, u.email
    FROM songs s
    LEFT JOIN listens l ON s.song_id = l.song_id
    LEFT JOIN users u ON l.user_id = u.user_id
    """,
    "t12_highly_rated_songs": _V
    + """
    SELECT s.song_id, s.title, s.artist, l.rating
    FROM songs s JOIN listens l ON s.song_id = l.song_id
    WHERE l.rating > 4.6
    """,
    "t12_avg_rating_per_song": _V
    + """
    SELECT s.song_id, s.title, s.artist, ROUND(AVG(l.rating), 4) AS avg_rating
    FROM songs s JOIN listens l ON s.song_id = l.song_id
    GROUP BY s.song_id, s.title, s.artist
    """,
    "t12_popular_songs": _V
    + """
    SELECT s.song_id, s.title, s.artist, COUNT(*) AS num_listens
    FROM songs s JOIN listens l ON s.song_id = l.song_id
    GROUP BY s.song_id, s.title, s.artist
    ORDER BY num_listens DESC, s.song_id ASC
    """,
    "t12_ed_taylor_songs": _V
    + "SELECT title, artist FROM songs WHERE artist IN ('Ed Sheeran', 'Taylor Swift')",
    "t12_pop_rock_union": _V
    + """
    SELECT title, artist FROM songs WHERE genre = 'Pop'
    UNION
    SELECT title, artist FROM songs WHERE genre = 'Rock'
    """,
    "t12_null_listen_songs": _V
    + """
    SELECT title, artist FROM songs
    WHERE song_id IN (SELECT song_id FROM listens WHERE listen_time IS NULL)
    """,
    "t09_colisten_recs": _V + "," + _T09_CTE + "SELECT user_id, song_id FROM potential_recs",
    "t09_colisten_recs_with_ids": _V
    + ","
    + _T09_CTE
    + """
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY user_id, song_id) AS INTEGER) AS recommendation_id,
           user_id, song_id,
           TIMESTAMP '2024-09-01 00:00:00' AS recommendation_time
    FROM potential_recs
    """,
    "t10_same_day_recs": _V
    + """
    , same_day AS (
        SELECT DISTINCT l1.user_id AS user_id, l2.song_id AS song_id
        FROM listens l1
        JOIN listens l2 ON CAST(l1.listen_time AS DATE) = CAST(l2.listen_time AS DATE)
                       AND l1.user_id <> l2.user_id
        WHERE l1.listen_time IS NOT NULL AND l2.listen_time IS NOT NULL
    )
    SELECT user_id, song_id FROM same_day
    WHERE song_id NOT IN (SELECT song_id FROM listens ll WHERE ll.user_id = same_day.user_id)
    """,
    "t10b_same_day_recs_active": f"""
    WITH listens AS (
        SELECT * FROM read_parquet('{fixture_path("music_listens_sameday")}')
    ),
    same_day AS (
        SELECT DISTINCT l1.user_id AS user_id, l2.song_id AS song_id
        FROM listens l1
        JOIN listens l2 ON CAST(l1.listen_time AS DATE) = CAST(l2.listen_time AS DATE)
                       AND l1.user_id <> l2.user_id
        WHERE l1.listen_time IS NOT NULL AND l2.listen_time IS NOT NULL
    )
    SELECT user_id, song_id FROM same_day
    WHERE song_id NOT IN (SELECT song_id FROM listens ll WHERE ll.user_id = same_day.user_id)
    """,
    "t11_minnie_recs": _V
    + ","
    + _T09_CTE
    + """
    SELECT u.name, s.title, s.artist
    FROM potential_recs r
    JOIN users u ON r.user_id = u.user_id
    JOIN songs s ON r.song_id = s.song_id
    WHERE u.name = 'Minnie'
    """,
}
