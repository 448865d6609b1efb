"""KV/leaderboard pack: Assignment 5's Redis queries (T15).

Reference: Assignment 5/redis_client.py:148-465. The reference's
client-side SCAN loops (query3/query4 fallback) become engine-side
filters — the capability upgrade of SURVEY §3.4: scan+filter runs
distributed instead of in the client process. The RediSearch secondary
index is a no-op here (parquet column stats + pushdown play that role).

Runs on the synthesized kv_users/kv_scores fixtures.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from bigdatamanagement_spark.fixtures import fixture_path, read_fixture

POINT_USER = "user:301"

_USER_FIELDS = (
    "user_key", "first_name", "last_name", "email", "gender", "ip_address",
    "country", "country_code", "city", "longitude", "latitude", "last_login",
)


def tables(spark: SparkSession) -> dict[str, DataFrame]:
    return {
        "users": read_fixture(spark, "kv_users"),
        "scores": read_fixture(spark, "kv_scores"),
    }


_V = f"""
WITH users AS (SELECT * FROM read_parquet('{fixture_path("kv_users")}')),
     scores AS (SELECT * FROM read_parquet('{fixture_path("kv_scores")}'))
"""


def user_attributes(spark, sf_dir) -> DataFrame:
    """T15-q1 (redis_client.py:148-169 HGETALL): full hash read (N-06)."""
    return tables(spark)["users"].filter(F.col("user_key") == POINT_USER).select(*_USER_FIELDS)


def user_coordinates(spark, sf_dir) -> DataFrame:
    """T15-q2 (redis_client.py:171-208 HMGET): field-subset read, float
    coercion + epoch-string access (F-18 exercised via last_login_ts)."""
    return (
        tables(spark)["users"]
        .filter(F.col("user_key") == POINT_USER)
        .select(
            "user_key",
            "longitude",
            "latitude",
            F.timestamp_seconds(F.col("last_login").cast("long")).cast("timestamp_ntz").alias("last_login_ts"),
        )
    )


def even_prefix_users(spark, sf_dir) -> DataFrame:
    """T15-q3 (redis_client.py:210-275): keys + last names of users whose
    numeric id does NOT start with an odd digit (Q-P12). The reference's
    SCAN-loop + per-key HGET becomes one distributed filter + project."""
    u = tables(spark)["users"]
    first_digit = F.substring(F.split(F.col("user_key"), ":").getItem(1), 1, 1)
    return (
        u.filter(first_digit.isin("0", "2", "4", "6", "8"))
        .select("user_key", "last_name")
        .orderBy("user_key")
    )


def female_china_russia(spark, sf_dir) -> DataFrame:
    """T15-q4 (redis_client.py:320-446): composite predicate — females in
    China or Russia with latitude in [40, 46] (Q-P13)."""
    u = tables(spark)["users"]
    return (
        u.filter(
            (F.col("gender") == "female")
            & F.col("country").isin("China", "Russia")
            & F.col("latitude").between(40, 46)
        )
        .select("user_key", "first_name", "last_name", "country", "latitude", "email")
        .orderBy("user_key")
    )


def top10_leaderboard_emails(spark, sf_dir) -> DataFrame:
    """T15-q5 (redis_client.py:448-465): ZREVRANGE top-10 of leaderboard:2
    + email enrichment (Q-S07/Q-W03). Tiebreak user_id ASC (FIXTURES §C2)."""
    t = tables(spark)
    top = (
        t["scores"]
        .filter(F.col("leaderboard") == "leaderboard:2")
        .orderBy(F.desc("score"), F.asc("user_id"))
        .limit(10)
    )
    return (
        top.join(t["users"], top.user_id == t["users"].user_key, "left")
        .select("user_id", "score", "email")
        .orderBy(F.desc("score"), F.asc("user_id"))
    )


def pii_masked_users(spark, sf_dir) -> DataFrame:
    """T15-ext — PII masking over the user store (the training-data
    privacy op the corpus tables can't exercise non-vacuously: this
    fixture has real email/IP/geo columns). Email keeps first char +
    domain; IP zeroes the last octet (/24 coarsening); lat/lon rounded
    to 1 decimal (~11 km) — all JVM regexp/arithmetic, deterministic
    strings, exact DuckDB mirror."""
    u = tables(spark)["users"]
    return (
        u.select(
            "user_key",
            F.regexp_replace("email", r"(^.)[^@]*(@.*$)", r"$1***$2").alias("masked_email"),
            F.regexp_replace("ip_address", r"\.\d+$", ".0").alias("masked_ip"),
            F.round("longitude", 1).alias("coarse_lon"),
            F.round("latitude", 1).alias("coarse_lat"),
            "country",
        )
        .orderBy("user_key")
    )


def zinter_recent_top10(spark, sf_dir) -> DataFrame:
    """T15-z1 — ZINTERSTORE … WEIGHTS 1 0 + ZREVRANGE analog: intersect
    the `leaderboard:2` sorted set with a DERIVED sorted set of
    recently-active users (last_login epoch ≥ the corpus midpoint,
    scored by login time but weighted 0 — the classic Redis pattern of
    filtering one leaderboard by membership in another), then top-10
    by the surviving score with country enrich. The server-side set
    algebra `redis_client.py` stores sets for but never queries —
    engine upgrade of the §2 sorted-set model.

    Scale: intersection = one equi-join member-keyed (the activity set
    projects to (member) after its threshold filter); top-k is bounded
    (TakeOrderedAndProject)."""
    t = tables(spark)
    # integer division: double-then-cast truncates in Spark but rounds
    # in DuckDB when min+max is odd
    mid = t["users"].select(
        F.col("last_login").cast("long").alias("ll")
    ).agg(F.expr("(min(ll) + max(ll)) div 2").alias("m"))
    recent = (
        t["users"]
        .join(F.broadcast(mid))
        .filter(F.col("last_login").cast("long") >= F.col("m"))
        .select(F.col("user_key").alias("user_id"), "country")
    )
    top = (
        t["scores"]
        .filter(F.col("leaderboard") == "leaderboard:2")
        .join(recent, "user_id")
        .select("user_id", F.col("score").cast("long").alias("zscore"), "country")
        .orderBy(F.desc("zscore"), F.asc("user_id"))
        .limit(10)
    )
    return top.orderBy(F.desc("zscore"), F.asc("user_id"))


def zunion_weighted_stats(spark, sf_dir) -> DataFrame:
    """T15-z2 — ZUNIONSTORE WEIGHTS 2 1 AGGREGATE MAX analog, profiled
    by membership class: every member of either leaderboard gets
    combined score max(2·s₂, 1·s₃); output per class ('both',
    'only:2', 'only:3') the member count and total combined score.
    Same single member-keyed aggregate — conditional maxes stand in
    for the weighted union, so set algebra costs one shuffle."""
    s = tables(spark)["scores"]
    agg = s.groupBy("user_id").agg(
        F.max(F.when(F.col("leaderboard") == "leaderboard:2", 2 * F.col("score"))).alias("w2"),
        F.max(F.when(F.col("leaderboard") == "leaderboard:3", F.col("score"))).alias("w3"),
    )
    return (
        agg.select(
            F.when(F.col("w2").isNotNull() & F.col("w3").isNotNull(), "both")
            .when(F.col("w2").isNotNull(), "only:2")
            .otherwise("only:3")
            .alias("membership"),
            F.greatest(F.coalesce("w2", F.lit(0)), F.coalesce("w3", F.lit(0)))
            .cast("long")
            .alias("zmax"),
        )
        .groupBy("membership")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.sum("zmax").cast("long").alias("sum_score"),
        )
        .orderBy("membership")
    )


def geo_grid_density(spark, sf_dir) -> DataFrame:
    """T15-g2 — spatial grid aggregation: users bucketed into 2°×2°
    cells by integer quantization (the interleave-free grid id that
    plays the geohash role), top-20 densest cells with exact member
    checksums. This cell id IS the blocking/shuffle key of every
    distributed spatial join (pair work bounded per cell, neighbor
    probes = 9 cell lookups) — the scalable counterpart of the
    single-point radius query (t15_geo_radius_counts).

    Scale: one keyed aggregate; the density map is |occupied cells|
    rows regardless of user count."""
    u = tables(spark)["users"]
    cell = u.select(
        F.expr("CAST(floor((latitude + 90) / 2) AS BIGINT) * 180 "
               "+ CAST(floor((longitude + 180) / 2) AS BIGINT)").alias("cell_id"),
        F.col("user_key"),
        "latitude",
        "longitude",
    )
    return (
        cell.groupBy("cell_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.expr(
                "CAST(sum(CAST(round(latitude * 10000, 0) AS BIGINT)) AS BIGINT)"
            ).alias("lat_sum_e4"),
            F.expr(
                "CAST(sum(CAST(round(longitude * 10000, 0) AS BIGINT)) AS BIGINT)"
            ).alias("lon_sum_e4"),
        )
        .orderBy(F.desc("n_users"), F.asc("cell_id"))
        .limit(20)
    )


def ip_block_country_audit(spark, sf_dir) -> DataFrame:
    """T15-g3 — GeoIP-style consistency audit: build a /8 IP-block
    registry from the data itself (each block's majority country,
    ties broken alphabetically), then count users whose recorded
    country disagrees with their block's majority — the
    data-enrichment + referential-consistency pattern behind every
    IP-geolocation pipeline. Output per block (top-20 by users):
    block, majority country, users, mismatches.

    Scale: the registry is one (block, country) aggregate reduced by
    a deterministic struct-max argmax (map-side partials, no sort);
    the audit joins the tiny registry back broadcast."""
    u = tables(spark)["users"].select(
        F.split(F.col("ip_address"), r"\.").getItem(0).cast("int").alias("block"),
        "country",
        "user_key",
    )
    bc = u.groupBy("block", "country").agg(F.count(F.lit(1)).alias("c"))
    # argmax by (count DESC, country ASC): max of (c, negated-ordering
    # trick avoided — use min over struct(-c, country))
    reg = (
        bc.select(
            "block",
            F.struct((-F.col("c")).alias("nc"), F.col("country").alias("mc")).alias("s"),
        )
        .groupBy("block")
        .agg(F.min("s").alias("s"))
        .select("block", F.col("s.mc").alias("majority_country"))
    )
    return (
        u.join(F.broadcast(reg), "block")
        .groupBy("block", "majority_country")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum(
                F.when(F.col("country") != F.col("majority_country"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_mismatch"),
        )
        .orderBy(F.desc("n_users"), F.asc("block"))
        .limit(20)
    )


def k_anonymity_audit(spark, sf_dir) -> DataFrame:
    """T15-p2 — k-anonymity audit of the user store under the
    quasi-identifier tuple (gender, country, city): for each k in
    {2, 5, 10}, how many equivalence classes fall below k and how many
    users that re-identification risk covers, plus the smallest class
    size. The measurement side of the PII-masking op
    (t15_pii_masked_users) — masking policy is chosen FROM this audit.

    Scale: one QI-keyed aggregate builds the class-size table
    (|classes| rows); the per-k summary folds over it with a tiny
    broadcast of the k list."""
    u = tables(spark)["users"]
    classes = u.groupBy("gender", "country", "city").agg(
        F.count(F.lit(1)).alias("sz")
    )
    ks = u.sparkSession.createDataFrame([(2,), (5,), (10,)], schema="k int")
    return (
        classes.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_classes"),
            F.sum(F.when(F.col("sz") < F.col("k"), 1).otherwise(0))
            .cast("long")
            .alias("n_classes_below_k"),
            F.sum(F.when(F.col("sz") < F.col("k"), F.col("sz")).otherwise(0))
            .cast("long")
            .alias("n_users_at_risk"),
            F.min("sz").cast("long").alias("min_class_size"),
        )
        .orderBy("k")
    )


GEO_LAT, GEO_LON, GEO_RADIUS_KM = 40.0, 116.0, 2000.0


def geo_radius_counts(spark, sf_dir) -> DataFrame:
    """T15-ext — geo radius query (the geospatial family none of the
    reference stores exercise beyond storing lat/lon): per-country
    count of users within 2000 km of (40N, 116E) by haversine great-
    circle distance, plus the nearest user's distance in whole km.
    Pure JVM trig (radians/sin/cos/asin/sqrt) with a pinned op order
    mirrored in SQL; distances floor to integer km so a shared-ulp
    wobble cannot flip the rendering (boundary membership at the exact
    radius is the one theoretically unstable comparison — at km
    granularity over continental distances it never lands there).
    At scale this is the pre-filter shape for spatial joins: a cheap
    bounding-box predicate prunes before trig (here the corpus is one
    fixture, so the haversine runs directly)."""
    u = tables(spark)["users"]
    lat1, lon1 = F.radians(F.lit(GEO_LAT)), F.radians(F.lit(GEO_LON))
    lat2, lon2 = F.radians(F.col("latitude")), F.radians(F.col("longitude"))
    h = (
        F.sin((lat2 - lat1) / 2) * F.sin((lat2 - lat1) / 2)
        + F.cos(lat1) * F.cos(lat2) * F.sin((lon2 - lon1) / 2) * F.sin((lon2 - lon1) / 2)
    )
    dist_km = F.lit(2.0 * 6371.0) * F.asin(F.sqrt(h))
    return (
        u.select("country", dist_km.alias("d"))
        .filter(F.col("d") <= GEO_RADIUS_KM)
        .groupBy("country")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.floor(F.min("d")).cast("long").alias("nearest_km"),
        )
        .orderBy("country")
    )


QUERIES = {
    "t15_geo_radius_counts": geo_radius_counts,
    "t15_pii_masked_users": pii_masked_users,
    "t15_q1_user_attributes": user_attributes,
    "t15_q2_user_coordinates": user_coordinates,
    "t15_q3_even_prefix_users": even_prefix_users,
    "t15_q4_female_china_russia": female_china_russia,
    "t15_q5_top10_leaderboard_emails": top10_leaderboard_emails,
    "t15_zinter_recent_top10": zinter_recent_top10,
    "t15_zunion_weighted_stats": zunion_weighted_stats,
    "t15_geo_grid_density": geo_grid_density,
    "t15_ip_block_country_audit": ip_block_country_audit,
    "t15_k_anonymity_audit": k_anonymity_audit,
}

ORACLE = {
    "t15_geo_radius_counts": _V
    + f"""
    , d AS (
        SELECT country,
               2.0 * 6371.0 * asin(sqrt(
                   sin((radians(latitude) - radians({GEO_LAT})) / 2)
                   * sin((radians(latitude) - radians({GEO_LAT})) / 2)
                   + cos(radians({GEO_LAT})) * cos(radians(latitude))
                   * sin((radians(longitude) - radians({GEO_LON})) / 2)
                   * sin((radians(longitude) - radians({GEO_LON})) / 2)
               )) AS d
        FROM users
    )
    SELECT country, COUNT(*) AS n_users,
           CAST(floor(MIN(d)) AS BIGINT) AS nearest_km
    FROM d WHERE d <= {GEO_RADIUS_KM}
    GROUP BY 1 ORDER BY 1
    """,
    "t15_pii_masked_users": _V
    + r"""
    SELECT user_key,
           regexp_replace(email, '(^.)[^@]*(@.*$)', '\1***\2') AS masked_email,
           regexp_replace(ip_address, '\.\d+$', '.0') AS masked_ip,
           ROUND(longitude, 1) AS coarse_lon,
           ROUND(latitude, 1) AS coarse_lat,
           country
    FROM users
    ORDER BY user_key
    """,
    "t15_q1_user_attributes": _V
    + f"SELECT {', '.join(_USER_FIELDS)} FROM users WHERE user_key = '{POINT_USER}'",
    "t15_q2_user_coordinates": _V
    + f"""
    SELECT user_key, longitude, latitude,
           epoch_ms(CAST(last_login AS BIGINT) * 1000) AS last_login_ts
    FROM users WHERE user_key = '{POINT_USER}'
    """,
    "t15_q3_even_prefix_users": _V
    + """
    SELECT user_key, last_name FROM users
    WHERE substr(split_part(user_key, ':', 2), 1, 1) IN ('0','2','4','6','8')
    ORDER BY user_key
    """,
    "t15_q4_female_china_russia": _V
    + """
    SELECT user_key, first_name, last_name, country, latitude, email
    FROM users
    WHERE gender = 'female' AND country IN ('China', 'Russia')
      AND latitude BETWEEN 40 AND 46
    ORDER BY user_key
    """,
    "t15_q5_top10_leaderboard_emails": _V
    + """
    SELECT s.user_id, s.score, u.email
    FROM (SELECT * FROM scores WHERE leaderboard = 'leaderboard:2'
          ORDER BY score DESC, user_id ASC LIMIT 10) s
    LEFT JOIN users u ON s.user_id = u.user_key
    ORDER BY s.score DESC, s.user_id ASC
    """,
    "t15_zinter_recent_top10": _V
    + """
    , mid AS (
        SELECT (min(CAST(last_login AS BIGINT))
                   + max(CAST(last_login AS BIGINT))) // 2 AS m
        FROM users
    ),
    recent AS (
        SELECT user_key AS user_id, country
        FROM users, mid WHERE CAST(last_login AS BIGINT) >= mid.m
    )
    SELECT s.user_id, CAST(s.score AS BIGINT) AS zscore, r.country
    FROM scores s JOIN recent r USING (user_id)
    WHERE s.leaderboard = 'leaderboard:2'
    ORDER BY zscore DESC, s.user_id ASC LIMIT 10
    """,
    "t15_k_anonymity_audit": _V
    + """
    , classes AS (
        SELECT gender, country, city, count(*) AS sz
        FROM users GROUP BY 1, 2, 3
    ),
    ks AS (SELECT unnest([2, 5, 10]) AS k)
    SELECT ks.k,
           CAST(count(*) AS BIGINT) AS n_classes,
           CAST(sum(CASE WHEN sz < ks.k THEN 1 ELSE 0 END) AS BIGINT)
               AS n_classes_below_k,
           CAST(sum(CASE WHEN sz < ks.k THEN sz ELSE 0 END) AS BIGINT)
               AS n_users_at_risk,
           CAST(min(sz) AS BIGINT) AS min_class_size
    FROM classes, ks GROUP BY ks.k ORDER BY ks.k
    """,
    "t15_geo_grid_density": _V
    + """
    , cell AS (
        SELECT CAST(floor((latitude + 90) / 2) AS BIGINT) * 180
               + CAST(floor((longitude + 180) / 2) AS BIGINT) AS cell_id,
               latitude, longitude
        FROM users
    )
    SELECT cell_id, CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(CAST(round(latitude * 10000, 0) AS BIGINT)) AS BIGINT)
               AS lat_sum_e4,
           CAST(sum(CAST(round(longitude * 10000, 0) AS BIGINT)) AS BIGINT)
               AS lon_sum_e4
    FROM cell GROUP BY cell_id
    ORDER BY n_users DESC, cell_id ASC LIMIT 20
    """,
    "t15_ip_block_country_audit": _V
    + """
    , u AS (
        SELECT CAST(string_split(ip_address, '.')[1] AS INT) AS block,
               country FROM users
    ),
    bc AS (SELECT block, country, count(*) AS c FROM u GROUP BY 1, 2),
    reg AS (
        SELECT block, country AS majority_country
        FROM (SELECT block, country,
                     row_number() OVER (PARTITION BY block
                         ORDER BY c DESC, country ASC) AS rn
              FROM bc)
        WHERE rn = 1
    )
    SELECT u.block, r.majority_country,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(CASE WHEN u.country <> r.majority_country
               THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch
    FROM u JOIN reg r USING (block)
    GROUP BY 1, 2 ORDER BY n_users DESC, u.block ASC LIMIT 20
    """,
    "t15_zunion_weighted_stats": _V
    + """
    , agg AS (
        SELECT user_id,
               max(CASE WHEN leaderboard = 'leaderboard:2'
                   THEN 2 * score END) AS w2,
               max(CASE WHEN leaderboard = 'leaderboard:3'
                   THEN score END) AS w3
        FROM scores GROUP BY user_id
    )
    SELECT CASE WHEN w2 IS NOT NULL AND w3 IS NOT NULL THEN 'both'
                WHEN w2 IS NOT NULL THEN 'only:2' ELSE 'only:3' END
               AS membership,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum(greatest(coalesce(w2, 0), coalesce(w3, 0))) AS BIGINT)
               AS sum_score
    FROM agg GROUP BY 1 ORDER BY membership
    """,
}
