"""Catalog: load the driver testdata tables and register temp views.

Mirrors the reference's DDL lifecycle (S-07: SQLonRDS.java:100-140,
AmazonRedshift.java:79-220 — DROP IF EXISTS / CREATE / USE) as a
view-registration layer: the engine is immutable-view based, so
"CREATE TABLE + bulk INSERT" collapses to reading parquet and
``createOrReplaceTempView``.

Scale notes: parquet scans get predicate pushdown + column pruning from
Catalyst for free; views are registered over the RAW parquet schema
(timestamp o_orderdate etc.) and each query does its own normalization
(date casts), mirrored exactly in its oracle SQL, so Spark and DuckDB
always see the same inputs.

Testdata tables and fixtures (music, kv, stock, ncaa, weather) share one
reader, ``read_parquet``, memoized per (session, path): an unmemoized
``spark.read.parquet`` runs one Spark job per call to list files and read
the footer schema. Files that change inside a session (the IVF/PQ stores
``queries/index_layout`` appends to, the MERGE snapshot in
``streaming/windows``) are read fresh: a memoized DataFrame pins the file
listing of its first read and would miss later files.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from bigdatamanagement_spark.session import session_key

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Lazy plans: a memo hit saves planning work only; every action still
# scans the files.
_DF_MEMO: dict[tuple[str, str], DataFrame] = {}


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, memoized per (session, path)."""
    key = (session_key(spark), path)
    df = _DF_MEMO.get(key)
    if df is None:
        df = _DF_MEMO[key] = spark.read.parquet(path)
    return df


def load_testdata(
    spark: SparkSession,
    sf_dir: str,
    tables: tuple[str, ...] = TESTDATA_TABLES,
    register: bool = True,
) -> dict[str, DataFrame]:
    """Load parquet tables from ``sf_dir`` and (optionally) register views.

    Missing files are skipped so the same call works on testdata dirs
    that lack the extension tables.
    """
    # "layout:<base_sf_dir>:<prefix>" resolves each table through the
    # STANDING LAYOUT CATALOG first: a saved table "<prefix>_<name>"
    # (partitioned/bucketed — see tools/layout_bench.py) is used when it
    # exists, else the flat parquet under base_sf_dir. Query code is
    # untouched — the same callables run against either physical layout,
    # which is exactly how a 100 TB deployment swaps in materialized
    # fact-table layouts without rewriting queries.
    layout_prefix = None
    if sf_dir.startswith("layout:"):
        _, sf_dir, layout_prefix = sf_dir.split(":", 2)
    dfs: dict[str, DataFrame] = {}
    for name in tables:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if layout_prefix is not None:
            tbl = f"{layout_prefix}_{name}"
            key = (session_key(spark), f"table:{tbl}:{path}")
            df = _DF_MEMO.get(key)
            if df is None and spark.catalog.tableExists(tbl):
                df = spark.table(tbl)
                # Materialized layouts carry extra PHYSICAL columns
                # (partition keys like ship_month — tools/layout_bench.py);
                # project back to the flat parquet's logical column set so
                # both layouts present identical schemas to queries
                # (star-expansion / columns-driven code would otherwise
                # silently diverge between layouts).
                if os.path.exists(path):
                    import pyarrow.parquet as _pq

                    flat_cols = _pq.read_schema(path).names
                    if [c for c in df.columns if c not in flat_cols]:
                        df = df.select(*flat_cols)
                _DF_MEMO[key] = df
            if df is not None:
                dfs[name] = df
                if register:
                    df.createOrReplaceTempView(name)
                continue
        if not os.path.exists(path):
            continue
        df = dfs[name] = read_parquet(spark, path)
        if register:
            df.createOrReplaceTempView(name)
    return dfs


def drop_views(spark: SparkSession, names: tuple[str, ...] = TESTDATA_TABLES) -> None:
    """DROP VIEW IF EXISTS analog of the reference's dependency-ordered drops."""
    for name in names:
        spark.catalog.dropTempView(name)
