"""Deterministic fixture tables for the reference's non-TPC-H packs.

Two exact fixtures (music — Assignment 1 ipynb cell-5; stock —
SQLonRDS.java:149-189) and three synthesized ones (weather, users/scores,
ncaa) generated with seeded RNG per FIXTURES.md §C constraints.

Written as parquet under ``<repo>/fixtures/`` so the Spark queries and
the DuckDB oracle SQL (via read_parquet('<abs path>')) see byte-identical
inputs. Regeneration is idempotent: same seed → same rows.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from bigdatamanagement_spark.catalog import read_parquet

FIXTURES_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures")

_TS = dt.datetime


def _ts(s: str | None) -> dt.datetime | None:
    return dt.datetime.strptime(s, "%Y-%m-%d %H:%M:%S") if s else None


def build_music() -> dict[str, pa.Table]:
    """Exact music-streaming fixture (ipynb cell-4/5; FIXTURES.md §A)."""
    users = pa.table(
        {
            "user_id": pa.array([1, 2, 3, 4], pa.int32()),
            "name": ["Mickey", "Minnie", "Daffy", "Pluto"],
            "email": [f"{n.lower()}@example.com" for n in ["Mickey", "Minnie", "Daffy", "Pluto"]],
        }
    )
    songs_rows = [
        (1, "Evermore", "Taylor Swift", "Pop"),
        (2, "Willow", "Taylor Swift", "Pop"),
        (3, "Shape of You", "Ed Sheeran", "Rock"),
        (4, "Photograph", "Ed Sheeran", "Rock"),
        (5, "Shivers", "Ed Sheeran", "Rock"),
        (6, "Yesterday", "Beatles", "Classic"),
        (7, "Yellow Submarine", "Beatles", "Classic"),
        (8, "Hey Jude", "Beatles", "Classic"),
        (9, "Bad Blood", "Taylor Swift", "Rock"),
        (10, "DJ Mix", "DJ", None),
    ]
    songs = pa.table(
        {
            "song_id": pa.array([r[0] for r in songs_rows], pa.int32()),
            "title": [r[1] for r in songs_rows],
            "artist": [r[2] for r in songs_rows],
            "genre": [r[3] for r in songs_rows],
        }
    )
    listens_rows = [
        (1, 1, 1, 4.5, "2024-08-30 14:35:00"),
        (2, 1, 2, 4.2, None),
        (3, 1, 6, 3.9, "2024-08-29 10:15:00"),
        (4, 2, 2, 4.7, None),
        (5, 2, 7, 4.6, "2024-08-28 09:20:00"),
        (6, 2, 8, 3.9, "2024-08-27 16:45:00"),
        (7, 3, 1, 2.9, None),
        (8, 3, 2, 4.9, "2024-08-26 12:30:00"),
        (9, 3, 6, None, None),
    ]
    listens = pa.table(
        {
            "listen_id": pa.array([r[0] for r in listens_rows], pa.int32()),
            "user_id": pa.array([r[1] for r in listens_rows], pa.int32()),
            "song_id": pa.array([r[2] for r in listens_rows], pa.int32()),
            "rating": pa.array([r[3] for r in listens_rows], pa.float64()),
            "listen_time": pa.array([_ts(r[4]) for r in listens_rows], pa.timestamp("us")),
        }
    )
    # Same-day-ACTIVE variant: the exact reference listens PLUS rows
    # that create same-day cross-user listens. On the reference's own
    # fixture the same-day query (ipynb cell 21) returns ZERO rows, so
    # t10's golden-empty check alone is vacuous (0 ≡ 0 would also pass
    # an inverted join or wrong date truncation). t10b runs the same
    # operator on this variant and pins a NON-EMPTY golden; the
    # reference-exact music_listens stays untouched for t09-t12 parity.
    sameday_extra = [
        (10, 4, 3, 4.0, "2024-08-30 09:00:00"),  # Pluto, same day as Mickey's Evermore
        (11, 2, 4, 4.1, "2024-08-29 11:00:00"),  # Minnie, same day as Mickey's Yesterday
        (12, 3, 5, 3.8, "2024-08-28 23:59:00"),  # Daffy, same DATE as Minnie's 09:20 listen
    ]
    sameday_rows = listens_rows + sameday_extra
    listens_sameday = pa.table(
        {
            "listen_id": pa.array([r[0] for r in sameday_rows], pa.int32()),
            "user_id": pa.array([r[1] for r in sameday_rows], pa.int32()),
            "song_id": pa.array([r[2] for r in sameday_rows], pa.int32()),
            "rating": pa.array([r[3] for r in sameday_rows], pa.float64()),
            "listen_time": pa.array([_ts(r[4]) for r in sameday_rows], pa.timestamp("us")),
        }
    )
    return {
        "music_users": users,
        "music_songs": songs,
        "music_listens": listens,
        "music_listens_sameday": listens_sameday,
    }


def build_stock() -> dict[str, pa.Table]:
    """Exact stock fixture (SQLonRDS.java:149-189; FIXTURES.md §B)."""
    company_rows = [
        (1, "Apple", "AAPL", 387540000000.00, 154000),
        (2, "GameStop", "GME", 611000000.00, 12000),
        (3, "Handy Repair", None, 2000000.00, 50),
        (4, "Microsoft", "MSFT", 198270000000.00, 221000),
        (5, "StartUp", None, 50000.00, 3),
    ]
    company = pa.table(
        {
            "id": pa.array([r[0] for r in company_rows], pa.int32()),
            "name": [r[1] for r in company_rows],
            "ticker": [r[2] for r in company_rows],
            "annual_revenue": pa.array([r[3] for r in company_rows], pa.float64()),
            "num_employees": pa.array([r[4] for r in company_rows], pa.int32()),
        }
    )
    # (company_id, date, open, high, low, close, volume) — verbatim values.
    sp = [
        (1, "2022-08-15", 171.52, 173.39, 171.35, 173.19, 54091700),
        (1, "2022-08-16", 172.78, 173.71, 171.66, 173.03, 56377100),
        (1, "2022-08-17", 172.77, 176.15, 172.57, 174.55, 79542000),
        (1, "2022-08-18", 173.75, 174.90, 173.12, 174.15, 62290100),
        (1, "2022-08-19", 173.03, 173.74, 171.31, 171.52, 70211500),
        (1, "2022-08-22", 169.69, 169.86, 167.14, 167.57, 69026800),
        (1, "2022-08-23", 167.08, 168.71, 166.65, 167.23, 54147100),
        (1, "2022-08-24", 167.32, 168.11, 166.25, 167.53, 53841500),
        (1, "2022-08-25", 168.78, 170.14, 168.35, 170.03, 51218200),
        (1, "2022-08-26", 170.57, 171.05, 163.56, 163.62, 78823500),
        (1, "2022-08-29", 161.15, 162.90, 159.82, 161.38, 73314000),
        (1, "2022-08-30", 162.13, 162.56, 157.72, 158.91, 77906200),
        (2, "2022-08-15", 39.75, 40.39, 38.81, 39.68, 5243100),
        (2, "2022-08-16", 39.17, 45.53, 38.60, 42.19, 23602800),
        (2, "2022-08-17", 42.18, 44.36, 40.41, 40.52, 9766400),
        (2, "2022-08-18", 39.27, 40.07, 37.34, 37.93, 8145400),
        (2, "2022-08-19", 35.18, 37.19, 34.67, 36.49, 9525600),
        (2, "2022-08-22", 34.31, 36.20, 34.20, 34.50, 5798600),
        (2, "2022-08-23", 34.70, 34.99, 33.45, 33.53, 4836300),
        (2, "2022-08-24", 34.00, 34.94, 32.44, 32.50, 5620300),
        (2, "2022-08-25", 32.84, 32.89, 31.50, 31.96, 4726300),
        (2, "2022-08-26", 31.50, 32.38, 30.63, 30.94, 4289500),
        (2, "2022-08-29", 30.48, 32.75, 30.38, 31.55, 4292700),
        (2, "2022-08-30", 31.62, 31.87, 29.42, 29.84, 5060200),
        (4, "2022-08-15", 291.00, 294.18, 290.11, 293.47, 18085700),
        (4, "2022-08-16", 291.99, 294.04, 290.42, 292.71, 18102900),
        (4, "2022-08-17", 289.74, 293.35, 289.47, 291.32, 18253400),
        (4, "2022-08-18", 290.19, 291.91, 289.08, 290.17, 17186200),
        (4, "2022-08-19", 288.90, 289.25, 285.56, 286.15, 20557200),
        (4, "2022-08-22", 282.08, 282.46, 277.22, 277.75, 25061100),
        (4, "2022-08-23", 276.44, 278.86, 275.40, 276.44, 17527400),
        (4, "2022-08-24", 275.41, 277.23, 275.11, 275.79, 18137000),
        (4, "2022-08-25", 277.33, 279.02, 274.52, 278.85, 16583400),
        (4, "2022-08-26", 279.08, 280.34, 267.98, 268.09, 27532500),
        (4, "2022-08-29", 265.85, 267.40, 263.85, 265.23, 20338500),
        (4, "2022-08-30", 266.67, 267.05, 260.66, 262.97, 22767100),
    ]
    stockprice = pa.table(
        {
            "company_id": pa.array([r[0] for r in sp], pa.int32()),
            "price_date": pa.array([dt.date.fromisoformat(r[1]) for r in sp], pa.date32()),
            "open": pa.array([r[2] for r in sp], pa.float64()),
            "high": pa.array([r[3] for r in sp], pa.float64()),
            "low": pa.array([r[4] for r in sp], pa.float64()),
            "close": pa.array([r[5] for r in sp], pa.float64()),
            "volume": pa.array([r[6] for r in sp], pa.int64()),
        }
    )
    return {"stock_company": company, "stock_stockprice": stockprice}


def build_weather() -> dict[str, pa.Table]:
    """Synthesized weather fixture (FIXTURES.md §C1): 3 stations, 1 year
    sub-hourly, multiple readings in some hours, occasional 'M' speeds.
    Mirrors the Assignment 4 CSV shape (seatac.csv:1-3)."""
    rng = random.Random(42)
    rows = {k: [] for k in (
        "station", "pseudo_julian_date", "date", "time", "temperature",
        "dewpoint", "relhum", "speed", "gust", "pressure",
    )}
    start = dt.date(2021, 10, 4)
    for si, station in enumerate(("SEA", "YVR", "PDX")):
        base_minute = (53, 0, 45)[si]
        for day in range(366):
            d = start + dt.timedelta(days=day)
            for hour in range(24):
                n_readings = 1 if rng.random() < 0.8 else rng.randint(2, 3)
                for j in range(n_readings):
                    minute = min(base_minute + j * 17, 59) if j else base_minute
                    temp = int(
                        50
                        + 30 * _season(d)
                        + 12 * _diurnal(hour)
                        + rng.randint(-4, 4)
                        + (3 if station == "PDX" else 0)
                    )
                    rows["station"].append(station)
                    rows["pseudo_julian_date"].append(2459400.0 + day + hour / 24.0)
                    rows["date"].append(d)
                    rows["time"].append(f"{hour}:{minute:02d}")
                    rows["temperature"].append(temp)
                    rows["dewpoint"].append(temp - rng.randint(5, 20))
                    rows["relhum"].append(round(rng.uniform(20.0, 99.0), 1))
                    rows["speed"].append("M" if rng.random() < 0.05 else str(rng.randint(0, 25)))
                    rows["gust"].append("M" if rng.random() < 0.9 else str(rng.randint(20, 45)))
                    rows["pressure"].append(round(rng.uniform(995.0, 1035.0), 1))
    return {
        "weather_raw": pa.table(
            {
                "station": rows["station"],
                "pseudo_julian_date": pa.array(rows["pseudo_julian_date"], pa.float64()),
                "date": pa.array(rows["date"], pa.date32()),
                "time": rows["time"],
                "temperature": pa.array(rows["temperature"], pa.int32()),
                "dewpoint": pa.array(rows["dewpoint"], pa.int32()),
                "relhum": pa.array(rows["relhum"], pa.float64()),
                "speed": rows["speed"],
                "gust": rows["gust"],
                "pressure": pa.array(rows["pressure"], pa.float64()),
            }
        )
    }


def _season(d: dt.date) -> float:
    import math

    return math.sin((d.timetuple().tm_yday - 80) / 365.0 * 2 * math.pi)


def _diurnal(hour: int) -> float:
    import math

    return math.sin((hour - 6) / 24.0 * 2 * math.pi)


_COUNTRIES = [
    ("China", "CN"), ("Russia", "RU"), ("United States", "US"), ("Brazil", "BR"),
    ("France", "FR"), ("Indonesia", "ID"), ("Portugal", "PT"), ("Poland", "PL"),
]
_FIRST = ["Ada", "Boris", "Chen", "Daria", "Emil", "Fang", "Grete", "Hugo",
          "Inge", "Jun", "Katya", "Liang", "Mara", "Nikolai", "Olga", "Pavel"]
_LAST = ["Ivanov", "Li", "Silva", "Dubois", "Kowalski", "Santos", "Wang",
         "Petrov", "Costa", "Nowak", "Zhang", "Smirnov"]


def build_users_scores() -> dict[str, pa.Table]:
    """Synthesized Redis-style users + leaderboard scores (FIXTURES.md §C2)."""
    rng = random.Random(42)
    n = 2000
    u = {k: [] for k in (
        "user_key", "first_name", "last_name", "email", "gender", "ip_address",
        "country", "country_code", "city", "longitude", "latitude", "last_login",
    )}
    for i in range(1, n + 1):
        country, code = _COUNTRIES[rng.randrange(len(_COUNTRIES))]
        first = _FIRST[rng.randrange(len(_FIRST))]
        last = _LAST[rng.randrange(len(_LAST))]
        u["user_key"].append(f"user:{i}")
        u["first_name"].append(first)
        u["last_name"].append(last)
        u["email"].append(f"{first.lower()}.{last.lower()}{i}@example.org")
        u["gender"].append("female" if rng.random() < 0.5 else "male")
        u["ip_address"].append(f"{rng.randint(1,254)}.{rng.randint(0,255)}.{rng.randint(0,255)}.{rng.randint(1,254)}")
        u["country"].append(country)
        u["country_code"].append(code)
        u["city"].append(f"City{rng.randint(1,99)}")
        u["longitude"].append(round(rng.uniform(-180, 180), 7))
        u["latitude"].append(round(rng.uniform(35, 55), 7))
        u["last_login"].append(str(rng.randint(1_500_000_000, 1_700_000_000)))
    users = pa.table(
        {
            **{k: u[k] for k in u if k not in ("longitude", "latitude")},
            "longitude": pa.array(u["longitude"], pa.float64()),
            "latitude": pa.array(u["latitude"], pa.float64()),
        }
    )
    s = {"user_id": [], "score": [], "leaderboard": []}
    for i in range(1, n + 1):
        if rng.random() < 0.75:
            s["user_id"].append(f"user:{i}")
            # ties in the top-10 on purpose (min(score, 498) clamp for a band)
            score = rng.randint(0, 500)
            s["score"].append(498 if 495 <= score <= 499 else score)
            s["leaderboard"].append(f"leaderboard:{rng.choice([2, 3])}")
    scores = pa.table(
        {
            "user_id": s["user_id"],
            "score": pa.array(s["score"], pa.int32()),
            "leaderboard": s["leaderboard"],
        }
    )
    return {"kv_users": users, "kv_scores": scores}


_STATES = ["CA", "TX", "NY", "WA", "IL"]
_COLORS = ["#FF0000", "#FFCC00", "#0033AA", "#008844"]  # two #FF-prefixed


def build_ncaa() -> dict[str, pa.Table]:
    """Synthesized NCAA fixture (FIXTURES.md §C3) for the Assignment 2
    BigQuery pack (T16). Constraints baked in: Stanford @ Maples Pavilion
    (Q1/Q2/Q4/Q9), #FFxxxx colors (Q3), same-state same-color pairs (Q8),
    seed upsets (Q7), players born in venue city (Q5), >5 high-scoring
    players for some teams (Q10), 1900-2000 win history (Q11)."""
    rng = random.Random(7)
    n_teams = 40
    teams = {k: [] for k in (
        "id", "code_ncaa", "market", "name", "school_ncaa",
        "venue_name", "venue_capacity", "venue_city", "venue_state",
    )}
    for i in range(n_teams):
        market = "Stanford" if i == 0 else f"Market{i:02d}"
        teams["id"].append(f"team-{i:03d}")
        teams["code_ncaa"].append(100 + i)
        teams["market"].append(market)
        teams["name"].append("Cardinal" if i == 0 else f"Name{i:02d}")
        teams["school_ncaa"].append(market)
        teams["venue_name"].append("Maples Pavilion" if i == 0 else f"Arena {i:02d}")
        teams["venue_capacity"].append(5000 + 100 * i)
        teams["venue_city"].append("Stanford" if i == 0 else f"City{i % 12:02d}")
        teams["venue_state"].append("CA" if i == 0 else _STATES[i % len(_STATES)])
    colors = {
        "code_ncaa": teams["code_ncaa"],
        "color": [_COLORS[i % len(_COLORS)] for i in range(n_teams)],
    }

    games = {k: [] for k in ("game_id", "season", "venue_name", "h_id", "a_id", "h_points", "a_points")}
    gid = 0
    for season in range(2012, 2018):
        for _ in range(40):
            h = rng.randrange(n_teams)
            a = rng.randrange(n_teams)
            if h == a:
                a = (a + 1) % n_teams
            games["game_id"].append(f"g-{gid:05d}")
            gid += 1
            games["season"].append(season)
            games["venue_name"].append(teams["venue_name"][h])
            games["h_id"].append(teams["id"][h])
            games["a_id"].append(teams["id"][a])
            games["h_points"].append(rng.randint(50, 100))
            games["a_points"].append(rng.randint(50, 100))

    # guaranteed Stanford home games (Q2/Q4): wins and losses each season
    for season in range(2013, 2018):
        for k in range(4):
            a = rng.randrange(1, n_teams)
            won = k < 3  # 3 wins, 1 loss per season
            hp = rng.randint(70, 95)
            games["game_id"].append(f"g-{gid:05d}")
            gid += 1
            games["season"].append(season)
            games["venue_name"].append("Maples Pavilion")
            games["h_id"].append(teams["id"][0])
            games["a_id"].append(teams["id"][a])
            games["h_points"].append(hp)
            games["a_points"].append(hp - rng.randint(2, 20) if won else hp + rng.randint(1, 10))

    players = {k: [] for k in ("player_id", "team_id", "birthplace_city", "birthplace_state", "birthplace_country")}
    per_team = 8
    for i in range(n_teams):
        for j in range(per_team):
            pid = f"p-{i:03d}-{j}"
            players["player_id"].append(pid)
            players["team_id"].append(teams["id"][i])
            if rng.random() < 0.12:  # born where the team plays (Q5)
                players["birthplace_city"].append(teams["venue_city"][i])
                players["birthplace_state"].append(teams["venue_state"][i])
                players["birthplace_country"].append("USA")
            elif rng.random() < 0.08:  # NULL birthplace rows (Q-P10 guard)
                players["birthplace_city"].append(None)
                players["birthplace_state"].append(None)
                players["birthplace_country"].append(None)
            else:
                players["birthplace_city"].append(f"Born{rng.randint(0, 20):02d}")
                players["birthplace_state"].append(_STATES[rng.randrange(len(_STATES))])
                players["birthplace_country"].append("USA" if rng.random() < 0.8 else "Canada")

    tourney = {k: [] for k in ("win_name", "lose_name", "win_pts", "lose_pts", "win_seed", "lose_seed")}
    for _ in range(60):
        w, l = rng.sample(range(n_teams), 2)
        wp = rng.randint(60, 105)
        tourney["win_name"].append(teams["name"][w])
        tourney["lose_name"].append(teams["name"][l])
        tourney["win_pts"].append(wp)
        tourney["lose_pts"].append(wp - rng.randint(1, 30))
        ws, ls = rng.randint(1, 16), rng.randint(1, 16)
        tourney["win_seed"].append(str(ws))
        tourney["lose_seed"].append(str(ls))

    pbp = {k: [] for k in ("game_id", "season", "period", "team_id", "team_market", "player_id", "points_scored")}
    hot_teams = {0, 3, 7}  # these get >5 players with 15+ first-half games (Q10)
    for g in range(gid):
        season = games["season"][g]
        for tid in (games["h_id"][g], games["a_id"][g]):
            ti = int(tid.split("-")[1])
            for j in range(per_team):
                pid = f"p-{ti:03d}-{j}"
                market = teams["market"][ti]
                hot = ti in hot_teams and season >= 2013 and rng.random() < 0.35
                for period in (1, 2):
                    n_ev = rng.randint(0, 3) if not (hot and period == 1) else rng.randint(6, 9)
                    for _ in range(n_ev):
                        pbp["game_id"].append(games["game_id"][g])
                        pbp["season"].append(season)
                        pbp["period"].append(period)
                        pbp["team_id"].append(tid)
                        pbp["team_market"].append(market)
                        pbp["player_id"].append(pid)
                        pbp["points_scored"].append(None if rng.random() < 0.05 else rng.choice([2, 2, 3]))

    hist = {"market": [], "season": [], "wins": []}
    markets = [m for m in teams["market"]] + [None]
    for season in range(1900, 2001):
        for m in rng.sample(markets, 12):
            hist["market"].append(m)
            hist["season"].append(season)
            hist["wins"].append(None if rng.random() < 0.04 else rng.randint(0, 30))

    def _tbl(d: dict, ints: tuple[str, ...] = ()) -> pa.Table:
        return pa.table({k: (pa.array(v, pa.int32()) if k in ints else v) for k, v in d.items()})

    return {
        "ncaa_teams": _tbl(teams, ("code_ncaa", "venue_capacity")),
        "ncaa_team_colors": _tbl(colors, ("code_ncaa",)),
        "ncaa_games": _tbl(games, ("season", "h_points", "a_points")),
        "ncaa_players_games": _tbl(players),
        "ncaa_tournament_games": _tbl(tourney, ("win_pts", "lose_pts")),
        "ncaa_pbp": _tbl(pbp, ("season", "period", "points_scored")),
        "ncaa_historical_teams_seasons": _tbl(hist, ("season", "wins")),
    }


def write_all(out_dir: str = FIXTURES_DIR) -> list[str]:
    os.makedirs(out_dir, exist_ok=True)
    written = []
    for builder in (build_music, build_stock, build_weather, build_users_scores, build_ncaa):
        for name, table in builder().items():
            path = os.path.join(out_dir, f"{name}.parquet")
            pq.write_table(table, path)
            written.append(path)
    return written


def fixture_path(name: str) -> str:
    return os.path.join(FIXTURES_DIR, f"{name}.parquet")


def ensure_fixtures() -> None:
    # music_listens_sameday is the NEWEST fixture table — checking it
    # (not just music_users) regenerates stale fixture dirs in place.
    if not os.path.exists(fixture_path("music_users")) or not os.path.exists(
        fixture_path("music_listens_sameday")
    ):
        write_all()


def read_fixture(spark, name: str):
    """Fixture table ``name`` via the catalog's per-session parquet memo."""
    ensure_fixtures()
    return read_parquet(spark, fixture_path(name))


if __name__ == "__main__":
    for p in write_all():
        print(p)
