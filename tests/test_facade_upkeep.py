"""``update_all_aggregates`` writes its levels concurrently, one thread per
level, under the var lock: a failing level must not leave a thread running
or the lock held, and every level's job keeps the caller's job group and
the session's tags and runs in its own SQL execution."""

from __future__ import annotations

import threading
import time
import warnings

import pytest
from pyspark.sql.readwriter import DataFrameWriter

from esxsnmp_tsdb_spark.api import AGG_DIR, TSDB
from esxsnmp_tsdb_spark.functions.tsdb import ROW_VALID

T0 = 1_704_067_200
LADDER = ("+5m", "+1h", "+1d")


@pytest.fixture()
def var(spark, tmp_path):
    v = TSDB.create(spark, str(tmp_path / "tsdb")).add_set("r").add_var(
        "v", step=30
    )
    for spec in LADDER:
        v.add_aggregate(spec)
    v.insert_batch([(T0 + k * 30, float(k), ROW_VALID) for k in range(240)])
    return v


def _within(seconds: float, fn):
    """Run ``fn`` in a daemon thread; fail instead of hanging if it has not
    returned after ``seconds`` (a worker waiting on the held var lock would
    never return).  Returns the exception ``fn`` raised, or None."""
    box = []

    def run():
        try:
            fn()
        except BaseException as e:  # noqa: BLE001 - handed to the caller
            box.append(e)
        else:
            box.append(None)

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(seconds)
    assert not t.is_alive(), f"{fn} still running after {seconds} s"
    return box[0]


def test_failed_level_surfaces_after_the_other_writes(var, monkeypatch):
    failing = f"{AGG_DIR}/+1h/data"
    write = DataFrameWriter.parquet
    workers, returned = set(), []

    def flaky(self, path, *args, **kwargs):
        workers.add(threading.current_thread())
        # the failure comes first, once every level has its own thread;
        # the others still run, the coarsest (submitted after the failing
        # level) the longest
        if path.endswith(failing):
            time.sleep(0.05)
            raise RuntimeError("disk full")
        time.sleep(0.6 if "+1d" in path else 0.3)
        write(self, path, *args, **kwargs)
        returned.append(path)

    monkeypatch.setattr(DataFrameWriter, "parquet", flaky)
    with warnings.catch_warnings(record=True) as seen:
        warnings.simplefilter("always")
        err = _within(120, var.update_all_aggregates)
    assert isinstance(err, RuntimeError) and "disk full" in str(err)
    # raised only once both other levels had written and returned
    assert sorted(p.rsplit("/", 2)[1] for p in returned) == ["+1d", "+5m"]
    assert len(workers) == len(LADDER)
    assert not any(t.is_alive() for t in workers)
    assert not [w for w in seen if "Spark session is not provided" in str(w.message)]

    # the lock was released: an insert goes through, and the next upkeep
    # rewrites every level, the one that failed included
    monkeypatch.setattr(DataFrameWriter, "parquet", write)
    assert _within(120, lambda: var.insert(T0 + 240 * 30, 1.0)) is None
    assert _within(120, var.update_all_aggregates) is None
    hour = var.get_aggregate("+1h").select(T0, T0 + 3 * 3600).collect()
    assert [r.n for r in hour] == [120, 120, 1]


def test_level_jobs_keep_the_session_tags(spark, var):
    sc = spark.sparkContext
    tag = "facade-upkeep"
    spark.addTag(tag)
    sc.setJobGroup(tag, tag, False)
    try:
        var.update_all_aggregates()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.removeTag(tag)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    jobs = sc.statusTracker().getJobIdsForGroup(tag)
    assert len(jobs) == 1 + len(LADDER)
    for job in jobs:
        tags = store.job(job).jobTags()
        assert any(tags.apply(i).endswith(tag) for i in range(tags.size())), job


def test_each_level_write_is_its_own_sql_execution(spark, var):
    # threads sharing one wrapper would share one clone of the caller's
    # local properties, and each write would overwrite the others' SQL
    # execution id in it: every level's job would land in one execution
    store = spark._jsparkSession.sharedState().statusStore()
    var.update_all_aggregates()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = store.executionsList()
    n = 1 + len(LADDER)  # the checkpoint, then one write per level
    tail = range(execs.size() - n, execs.size())
    assert [execs.apply(i).jobs().size() for i in tail] == [1] * n
