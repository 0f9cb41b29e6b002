"""The 100 TB cluster profile is real conf, not prose: every key must be
settable on a live session (no typos, no removed knobs), the values must
parse, and the sizing math must track the cluster shape parameter."""

import pytest

from esxsnmp_tsdb_spark import cluster, session


@pytest.fixture(scope="module")
def spark():
    return session.get_session()


def test_profile_keys_apply_and_round_trip(spark):
    profile = cluster.cluster_profile()
    saved = {}
    applied = []
    try:
        for k, v in profile.items():
            try:
                saved[k] = spark.conf.get(k, None)
                spark.conf.set(k, v)
            except Exception:
                continue  # static conf on a live session — allowed
            applied.append(k)
            assert spark.conf.get(k) == v, k
        # The plan-shaping knobs MUST be runtime-settable (tune() relies
        # on it when the driver owns the session).
        for k in (
            "spark.sql.shuffle.partitions",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        ):
            assert k in applied, f"{k} must be runtime-settable"
    finally:
        for k in applied:
            if saved.get(k) is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, saved[k])


def test_apply_reports_skipped_keys(spark):
    profile = cluster.cluster_profile()
    saved = {k: spark.conf.get(k, None) for k in profile}
    try:
        skipped = cluster.apply(spark)
        # every skip must be a real profile key, and the plan-shaping knobs
        # must never be among them (a typoed key would land here visibly)
        assert set(skipped) <= set(profile)
        for k in (
            "spark.sql.shuffle.partitions",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        ):
            assert k not in skipped
    finally:
        for k in profile:
            try:
                if saved.get(k) is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, saved[k])
            except Exception:
                pass


def test_profile_scales_with_cluster_shape():
    small = cluster.cluster_profile(total_cores=800)
    big = cluster.cluster_profile(total_cores=8000)
    assert int(small["spark.sql.shuffle.partitions"]) == 2000
    assert int(big["spark.sql.shuffle.partitions"]) == 20000


def test_ddl_and_layout_name_the_contract_columns():
    for col in ("path", "tse", "flags", "day"):
        assert col in cluster.OBS_TABLE_DDL
    assert "CLUSTERED BY (path)" in cluster.OBS_TABLE_DDL
    assert "PARTITIONED BY (day)" in cluster.OBS_TABLE_DDL
    assert cluster.LADDER_STORE_LAYOUT["cascade"].startswith("level[i]")


def test_obs_table_ddl_executes_and_plans_zero_exchange_windows(spark):
    """The DDL must run, not just parse: EXECUTE it (8 buckets at
    fixture scale), write one day of sf0.01 obs through the documented writer path, and
    assert (a) the per-series window family plans with zero exchanges on
    the resulting table and (b) a day predicate partition-prunes."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from esxsnmp_tsdb_spark.functions import tsdb
    from esxsnmp_tsdb_spark.operators._workdirs import op_dir
    from esxsnmp_tsdb_spark.plans import plan_str
    from esxsnmp_tsdb_spark.sources import register_views

    loc = op_dir("obs_ddl_test")
    spark.sql("DROP TABLE IF EXISTS obs_ddl_test")
    spark.sql(
        cluster.obs_table_ddl(8, "obs_ddl_test")
        + f" LOCATION '{loc}/t'"
    )
    try:
        obs = tsdb.obs_from_events(
            register_views(spark, "/root/testdata/sf0.01")["events"]
        ).withColumn("day", F.to_date(F.from_unixtime("tse")))
        one_day = obs.filter(F.col("day") == "2024-01-10")
        n_in = one_day.count()
        assert n_in > 0
        # documented writer path (cluster.py): repartition(day, path) then
        # insert — Spark applies the table's bucket/sort spec on write
        one_day.repartition("day", "path").select(
            "path", "tse", "value", "flags", "day"
        ).write.insertInto("obs_ddl_test")

        t = spark.table("obs_ddl_test")
        assert t.count() == n_in

        # (a) per-series lag window + slot group-by: zero exchanges
        w = Window.partitionBy("path").orderBy("tse")
        windowed = (
            t.withColumn("delta", F.col("value") - F.lag("value").over(w))
            .groupBy("path", tsdb.slot_of(F.col("tse"), 3600).alias("slot"))
            .agg(F.sum("delta").alias("d"))
        )
        plan = plan_str(windowed, "simple")
        assert plan.count("Exchange") == 0, plan

        # (b) a day predicate reaches the scan as partition pruning
        pruned = plan_str(t.filter(F.col("day") == "2024-01-10"), "formatted")
        assert "PartitionFilters" in pruned and "day" in pruned
    finally:
        spark.sql("DROP TABLE IF EXISTS obs_ddl_test")


def test_session_reexport_matches():
    assert session.cluster_profile() == cluster.cluster_profile()
