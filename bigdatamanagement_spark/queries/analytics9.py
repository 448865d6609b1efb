"""Spatial-clustering / robust-trend / link-prediction pack (T27):
grid-density hotspot clustering (the DBSCAN shape on the 2-degree
cell grid), Theil-Sen robust trend of the daily event series,
common-neighbor + Adamic-Adar link prediction on the co-purchase
graph, exact closest-pair-by-country haversine search, Fano-factor
dispersion of daily counts per event type, and the GROUP BY ALL SQL
surface.

Reference anchors (SURVEY §2): the reference stores lat/lon on every
Redis user hash (`redis_client.py:74-93`) and queries them only with a
BETWEEN box (Q-P13) — the hotspot clustering and closest-pair search
are the spatial analyses that data was collected for; the co-purchase
link prediction extends the same graph t19 (lift), t20 (BFS), t25
(k-core) and t26 (LPA) walk; Theil-Sen and Fano are the robust twins
of the OLS trend (t18) and variance readouts the reference's grouped
aggregates feed.

Scale notes (100 TB):
- hotspots: density is ONE cell-keyed aggregate; adjacency is an
  equi-join on exploded 3x3 neighbor keys (never a theta join);
  components via the same O(log n) star-contraction operator the
  linkage pipeline uses. Cells, not points, enter the graph stage.
- Theil-Sen: pairs are enumerated over the DAY-grain series (|days|
  choose 2, not |events| choose 2); the median picks two ranked rows.
- link prediction: wedge enumeration is bounded by sum(deg^2) of the
  filtered (>=2 co-orders) graph; at true scale a degree cap / skew
  salt bounds the hot vertex (the t19_orderkey_skew_profile lesson).
- closest pair: blocked by country (the linkage blocking discipline);
  distances floor to exact meter BIGINTs so the argmin never compares
  raw doubles.
- Fano / GROUP BY ALL: single aggregates over day-grain /
  (status, priority) domains.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from bigdatamanagement_spark.catalog import load_testdata
from bigdatamanagement_spark.fixtures import fixture_path, read_fixture
from bigdatamanagement_spark.operators.cluster import assign_clusters
from bigdatamanagement_spark.queries.analytics7 import _copurchase_edges

_DENSE_MIN_USERS = 5
_LINK_TOP_K = 20


def _users_view() -> str:
    return f"WITH users AS (SELECT * FROM read_parquet('{fixture_path('kv_users')}'))"


def _users(spark: SparkSession) -> DataFrame:
    return read_fixture(spark, "kv_users")


def geo_hotspot_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T27a — grid-density hotspot clustering (the DBSCAN shape made
    exact): users quantize into the 2-degree cells of
    t15_geo_grid_density; cells with >= 5 users are "dense"; dense
    cells that touch (8-neighborhood) merge into hotspot clusters via
    the star-contraction component operator. Per cluster: id (min cell
    id), cell count, user count, and the row/col bounding box — the
    "where are our geographic concentrations" readout. Longitude wrap
    at the antimeridian is not bridged (documented; no fixture cell
    touches it).

    Scale: density = ONE cell-keyed aggregate; adjacency = equi-join
    on exploded 3x3 neighbor cell ids (9 keys/cell, never a theta
    join); components contract in O(log n) rounds. Points never enter
    the graph stage — only the (bounded) dense-cell set does."""
    u = _users(spark)
    cells = (
        u.select(
            F.expr("CAST(floor((latitude + 90) / 2) AS BIGINT)").alias("r"),
            F.expr("CAST(floor((longitude + 180) / 2) AS BIGINT)").alias("c"),
        )
        .groupBy("r", "c")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .filter(F.col("n_users") >= _DENSE_MIN_USERS)
        .select((F.col("r") * 180 + F.col("c")).alias("cell_id"), "r", "c", "n_users")
        .localCheckpoint()
    )
    nbrs = cells.select(
        F.col("cell_id").alias("a"),
        F.explode(
            F.array(
                *[
                    (F.col("r") + dr) * 180 + (F.col("c") + dc)
                    for dr in (-1, 0, 1)
                    for dc in (-1, 0, 1)
                    if (dr, dc) != (0, 0)
                ]
            )
        ).alias("nb"),
    )
    pairs = (
        nbrs.join(cells.select(F.col("cell_id").alias("nb")), "nb")
        .filter(F.col("a") < F.col("nb"))
        .select("a", F.col("nb").alias("b"))
        .distinct()
    )
    clustered = assign_clusters(cells, "cell_id", pairs, "a", "b")
    return (
        clustered.groupBy("cluster_rep")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.sum("n_users").cast("long").alias("n_users"),
            F.min("r").cast("long").alias("r_min"),
            F.max("r").cast("long").alias("r_max"),
            F.min("c").cast("long").alias("c_min"),
            F.max("c").cast("long").alias("c_max"),
        )
        .withColumnRenamed("cluster_rep", "hotspot_id")
        .orderBy("hotspot_id")
    )


_TS_MEDIAN = "((CAST(lo AS DOUBLE) + CAST(hi AS DOUBLE)) / 2.0)"


def theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T27b — Theil-Sen robust trend of the daily event-count series:
    the median of all pairwise slopes (x_j - x_i)/(j - i) over the
    positional day index — the estimator a single outlier day cannot
    move, unlike the exact-moment OLS of t18. Slopes evaluate ONE
    shared expression string; the median averages the two middle
    ranked slopes (equal-slope ties commute), everything else exact
    BIGINT.

    Scale: pairs enumerate over the DAY-grain aggregate (|days| choose
    2), never the raw stream; the median is two ranked-row picks."""
    ev = load_testdata(spark, sf_dir, tables=("events",), register=False)["events"]
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("x")
    )
    t_w = Window.orderBy("day")
    idx = daily.select(
        F.row_number().over(t_w).cast("long").alias("t"), F.col("x").cast("long").alias("x")
    ).localCheckpoint()
    a = idx.select(F.col("t").alias("ti"), F.col("x").alias("xi"))
    b = idx.select(F.col("t").alias("tj"), F.col("x").alias("xj"))
    slopes = (
        a.join(b, F.col("ti") < F.col("tj"))
        .select(
            F.expr(
                "CAST(xj - xi AS DOUBLE) / CAST(tj - ti AS DOUBLE)"
            ).alias("slope")
        )
    )
    m_w = Window.orderBy("slope")
    ranked = slopes.select(
        "slope", F.row_number().over(m_w).cast("long").alias("rn")
    )
    tot = ranked.agg(F.count(F.lit(1)).cast("long").alias("m"))
    mid = ranked.join(F.broadcast(tot)).filter(
        (F.col("rn") == F.expr("(m + 1) DIV 2"))
        | (F.col("rn") == F.expr("m DIV 2 + 1"))
    )
    agg = mid.groupBy("m").agg(
        F.min("slope").alias("lo"), F.max("slope").alias("hi")
    )
    n_days = idx.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    return (
        agg.join(F.broadcast(n_days))
        .select(
            "n_days",
            F.col("m").alias("n_pairs"),
            F.expr(_TS_MEDIAN).alias("slope_per_day"),
        )
    )


def link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T27c — link prediction on the part co-purchase graph: for every
    NON-adjacent pair at distance 2, the common-neighbor count and the
    Adamic-Adar score (sum over common neighbors of 1/ln(degree)) —
    "which two parts will be co-bought next". Adamic-Adar is kept
    exact as floored micro-nats (floor(1e6/ln(deg)) per neighbor, the
    NB-classifier discipline), so the sum is order-free BIGINT
    arithmetic; top-20 by (common neighbors desc, aa desc, pair asc).

    Scale: wedge enumeration through each middle vertex is bounded by
    sum(deg^2) of the >=2-co-order graph; at true scale a degree cap /
    salt bounds hot vertices. Degrees broadcast (|vertices| small
    relative to wedges)."""
    edges = _copurchase_edges(spark, sf_dir).localCheckpoint()
    bidir = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = (
        bidir.groupBy(F.col("a").alias("v"))
        .agg(F.count(F.lit(1)).alias("deg"))
        # a degree-1 vertex can never be a wedge middle, and ln(1) = 0
        # would divide-by-zero under ANSI mode — prune before the expr
        .filter(F.col("deg") >= 2)
    )
    aa_w = F.expr("CAST(floor(1000000.0 / ln(CAST(deg AS DOUBLE))) AS BIGINT)")
    mid = (
        bidir.select(F.col("a").alias("w"), F.col("b").alias("u"))
        .join(deg.select(F.col("v").alias("w"), aa_w.alias("aa_w")), "w")
    )
    wedges = (
        mid.alias("l")
        .join(
            mid.select("w", F.col("u").alias("u2")).alias("r"),
            "w",
        )
        .filter(F.col("u") < F.col("u2"))
        .select(F.col("u").alias("a"), F.col("u2").alias("b"), "aa_w")
    )
    non_edges = wedges.join(edges, ["a", "b"], "left_anti")
    scored = non_edges.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("long").alias("common_neighbors"),
        F.sum("aa_w").cast("long").alias("adamic_adar_micro"),
    )
    return scored.orderBy(
        F.desc("common_neighbors"),
        F.desc("adamic_adar_micro"),
        F.asc("a"),
        F.asc("b"),
    ).limit(_LINK_TOP_K)


# Haversine in whole meters, ONE shared expression string over the two
# endpoint columns (identical parse tree on both engines; floor to
# BIGINT meters so no raw-double ever enters a comparison).
_DIST_M = (
    "CAST(floor(2.0 * 6371000.0 * asin(sqrt("
    "sin((radians(lat2) - radians(lat1)) / 2)"
    " * sin((radians(lat2) - radians(lat1)) / 2)"
    " + cos(radians(lat1)) * cos(radians(lat2))"
    " * sin((radians(lon2) - radians(lon1)) / 2)"
    " * sin((radians(lon2) - radians(lon1)) / 2)"
    "))) AS BIGINT)"
)


def closest_pair_by_country(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T27d — exact closest pair of users per country (haversine,
    floored to whole meters; ties -> smallest user-key pair): the
    proximity question the reference's lat/lon columns exist to
    answer, blocked by country exactly like the linkage join blocks by
    nation. Only countries with >= 2 users report.

    Scale: the self-join is blocked per country; within a hot block
    the grid-cell candidate join (t15_geo_grid_density's cell id)
    bounds pair work — here blocks are small enough to enumerate
    exactly, and the floored-meter BIGINT keeps the argmin
    comparison-stable."""
    u = _users(spark).select(
        "country", F.col("user_key").alias("uk"), "latitude", "longitude"
    )
    a = u.select(
        "country",
        F.col("uk").alias("ua"),
        F.col("latitude").alias("lat1"),
        F.col("longitude").alias("lon1"),
    )
    b = u.select(
        "country",
        F.col("uk").alias("ub"),
        F.col("latitude").alias("lat2"),
        F.col("longitude").alias("lon2"),
    )
    pairs = a.join(b, ["country"]).filter(F.col("ua") < F.col("ub"))
    scored = pairs.select(
        "country", "ua", "ub", F.expr(_DIST_M).alias("dist_m")
    )
    best = scored.groupBy("country").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.min(
            F.struct(
                F.col("dist_m").alias("d"),
                F.col("ua").alias("ua"),
                F.col("ub").alias("ub"),
            )
        ).alias("best"),
    )
    return best.select(
        "country",
        "n_pairs",
        F.col("best.ua").alias("ua"),
        F.col("best.ub").alias("ub"),
        F.col("best.d").alias("dist_m"),
    ).orderBy("country")


_FANO = (
    "(CAST(n_days * sum_sq - sum_x * sum_x AS DOUBLE)"
    " / (CAST(n_days - 1 AS DOUBLE) * CAST(sum_x AS DOUBLE)))"
)


def fano_daily_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T27e — Fano factor (index of dispersion, sample-variance /
    mean) of the daily count series per event type: 1 = Poisson
    arrivals, > 1 = bursty, < 1 = more regular than chance — the
    process-control readout on top of the same day-grain aggregate the
    anomaly queries (t19/t20) consume. Exact BIGINT moments (n, sum,
    sum of squares); the ratio evaluates ONE shared expression string.

    Scale: one (type, day) aggregate then one |types|-row reduce."""
    ev = load_testdata(spark, sf_dir, tables=("events",), register=False)["events"]
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("x")
    )
    agg = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("x").cast("long").alias("sum_x"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sum_sq"),
    )
    return agg.select(
        "event_type",
        "n_days",
        "sum_x",
        "sum_sq",
        F.expr(_FANO).alias("fano"),
    ).orderBy("event_type")


_GBA_SQL = """
    SELECT o_orderstatus, o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM orders
    GROUP BY ALL
    ORDER BY o_orderstatus, o_orderpriority
"""


def group_by_all_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T27f — the GROUP BY ALL SQL surface (every non-aggregate select
    item becomes a key): the modern-warehouse ergonomics layer over
    the reference's grouped aggregates, proven to plan identically to
    the explicit GROUP BY (Catalyst resolves ALL at analysis time —
    equivalence pinned in tests). The SAME SQL text runs on both
    engines.

    Scale: identical plan to the explicit form — one hash aggregate
    with map-side partials."""
    load_testdata(spark, sf_dir, tables=("orders",), register=True)
    return spark.sql(_GBA_SQL)


QUERIES = {
    "t27_geo_hotspot_clusters": geo_hotspot_clusters,
    "t27_theil_sen_trend": theil_sen_trend,
    "t27_link_prediction": link_prediction,
    "t27_closest_pair_by_country": closest_pair_by_country,
    "t27_fano_daily_dispersion": fano_daily_dispersion,
    "t27_group_by_all": group_by_all_surface,
}


def _oracle_hotspots() -> str:
    return f"""
        {_users_view().replace("WITH ", "WITH RECURSIVE ", 1)},
        cells AS (
            SELECT CAST(floor((latitude + 90) / 2) AS BIGINT) AS r,
                   CAST(floor((longitude + 180) / 2) AS BIGINT) AS c,
                   COUNT(*) AS n_users
            FROM users GROUP BY 1, 2 HAVING COUNT(*) >= {_DENSE_MIN_USERS}
        ),
        ids AS (SELECT r * 180 + c AS cell_id, r, c, n_users FROM cells),
        pairs AS (
            SELECT a.cell_id AS pa, b.cell_id AS pb
            FROM ids a JOIN ids b
              ON abs(a.r - b.r) <= 1 AND abs(a.c - b.c) <= 1
                 AND a.cell_id < b.cell_id
        ),
        edges AS (
            SELECT pa AS u, pb AS v FROM pairs
            UNION SELECT pb, pa FROM pairs
        ),
        reach(n, rt) AS (
            SELECT cell_id, cell_id FROM ids
            UNION
            SELECT e.u, reach.rt FROM edges e JOIN reach ON reach.n = e.v
        ),
        comp AS (SELECT n AS cell_id, MIN(rt) AS hotspot_id FROM reach GROUP BY n)
        SELECT hotspot_id,
               CAST(COUNT(*) AS BIGINT) AS n_cells,
               CAST(SUM(n_users) AS BIGINT) AS n_users,
               CAST(MIN(r) AS BIGINT) AS r_min,
               CAST(MAX(r) AS BIGINT) AS r_max,
               CAST(MIN(c) AS BIGINT) AS c_min,
               CAST(MAX(c) AS BIGINT) AS c_max
        FROM ids JOIN comp USING (cell_id)
        GROUP BY 1 ORDER BY 1
    """


def _oracle_closest_pair() -> str:
    return f"""
        {_users_view()},
        pairs AS (
            SELECT a.country,
                   a.user_key AS ua, b.user_key AS ub,
                   a.latitude AS lat1, a.longitude AS lon1,
                   b.latitude AS lat2, b.longitude AS lon2
            FROM users a JOIN users b
              ON a.country = b.country AND a.user_key < b.user_key
        ),
        scored AS (
            SELECT country, ua, ub, {_DIST_M} AS dist_m FROM pairs
        ),
        best AS (
            SELECT country, ua, ub, dist_m,
                   row_number() OVER (PARTITION BY country
                                      ORDER BY dist_m, ua, ub) AS rn,
                   COUNT(*) OVER (PARTITION BY country) AS n_pairs
            FROM scored
        )
        SELECT country, CAST(n_pairs AS BIGINT) AS n_pairs, ua, ub, dist_m
        FROM best WHERE rn = 1 ORDER BY country
    """


ORACLE = {
    "t27_theil_sen_trend": f"""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
            FROM events GROUP BY 1
        ),
        idx AS (
            SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t, x
            FROM daily
        ),
        slopes AS (
            SELECT CAST(b.x - a.x AS DOUBLE) / CAST(b.t - a.t AS DOUBLE)
                       AS slope
            FROM idx a JOIN idx b ON a.t < b.t
        ),
        ranked AS (
            SELECT slope,
                   CAST(row_number() OVER (ORDER BY slope) AS BIGINT) AS rn,
                   CAST(COUNT(*) OVER () AS BIGINT) AS m
            FROM slopes
        ),
        mid AS (
            SELECT m, MIN(slope) AS lo, MAX(slope) AS hi
            FROM ranked
            WHERE rn = (m + 1) // 2 OR rn = m // 2 + 1
            GROUP BY m
        )
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM idx) AS n_days,
               m AS n_pairs, {_TS_MEDIAN} AS slope_per_day
        FROM mid
    """,
    "t27_link_prediction": f"""
        WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        e0 AS (
            SELECT a.l_partkey AS a, b.l_partkey AS b
            FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
                 AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2 HAVING COUNT(*) >= 2
        ),
        bidir AS (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
        deg AS (
            SELECT a AS v, COUNT(*) AS deg,
                   CAST(floor(1000000.0 / ln(CAST(COUNT(*) AS DOUBLE)))
                        AS BIGINT) AS aa_w
            FROM bidir GROUP BY 1 HAVING COUNT(*) >= 2
        ),
        wedges AS (
            SELECT l.b AS a, r.b AS b, d.aa_w
            FROM bidir l JOIN bidir r ON l.a = r.a AND l.b < r.b
            JOIN deg d ON d.v = l.a
        ),
        non_edges AS (
            SELECT w.a, w.b, w.aa_w FROM wedges w
            WHERE NOT EXISTS (
                SELECT 1 FROM e0 e WHERE e.a = w.a AND e.b = w.b
            )
        )
        SELECT a, b,
               CAST(COUNT(*) AS BIGINT) AS common_neighbors,
               CAST(SUM(aa_w) AS BIGINT) AS adamic_adar_micro
        FROM non_edges GROUP BY 1, 2
        ORDER BY common_neighbors DESC, adamic_adar_micro DESC, a ASC, b ASC
        LIMIT {_LINK_TOP_K}
    """,
    "t27_fano_daily_dispersion": f"""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS x
            FROM events GROUP BY 1, 2
        ),
        agg AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_days,
                   CAST(SUM(x) AS BIGINT) AS sum_x,
                   CAST(SUM(x * x) AS BIGINT) AS sum_sq
            FROM daily GROUP BY 1
        )
        SELECT event_type, n_days, sum_x, sum_sq, {_FANO} AS fano
        FROM agg ORDER BY event_type
    """,
    "t27_group_by_all": _GBA_SQL,
    # fixture-path oracles (path is deterministic at import; synthesis
    # happens on first query run, mirroring queries/kv.py)
    "t27_geo_hotspot_clusters": _oracle_hotspots(),
    "t27_closest_pair_by_country": _oracle_closest_pair(),
}
