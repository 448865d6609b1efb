"""Fixture-backed queries run no Spark job while they are constructed.

Fixture reads go through catalog.read_parquet, which memoizes each
DataFrame per (session, path). Once a session has read a fixture, building
another query over it needs no file-listing or footer-schema job."""

import __spark_entry__ as entry

FIXTURE_PACKS = ("t09", "t10", "t11", "t12", "t13", "t14", "t15", "t16")


def test_warm_fixture_queries_construct_without_jobs(spark, sf_dir):
    queries = {n: f for n, f in entry.queries().items() if n.startswith(FIXTURE_PACKS)}
    assert len(queries) >= 40
    for build in queries.values():
        build(spark, sf_dir)  # the first reads warm the memo
    sc = spark.sparkContext
    jobs = {}
    try:
        for name, build in queries.items():
            sc.setJobGroup(f"construct-{name}", name)
            build(spark, sf_dir)
            ran = sc.statusTracker().getJobIdsForGroup(f"construct-{name}")
            if ran:
                jobs[name] = len(ran)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs == {}
