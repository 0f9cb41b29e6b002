"""Façade-level streaming ingest demo: a file-stream
poller delivers consecutive time slices, a ``foreachBatch`` persister
writes each micro-batch into a ``TSDBVar`` exactly the way the
reference's ``TSDBPollPersister`` wrote vars († §3.2: poll → var.insert →
``update_all_aggregates``), and the façade's select of the maintained
``TSDB_AGGREGATES/+1h`` level then equals a driver-side model of the
one-shot ladder — the incremental-equals-batch conservation that
`stream_ladder_full_pipeline` proves at operator level, here tied through
the object lifecycle end to end."""

from __future__ import annotations

from pyspark.sql import functions as F

from esxsnmp_tsdb_spark.api import TSDB
from esxsnmp_tsdb_spark.functions.tsdb import obs_from_events
from esxsnmp_tsdb_spark.sources import register_views
from esxsnmp_tsdb_spark.streaming import drive, stage_ordered_slices
from tests.conftest import SF_SMOKE


def test_poller_stream_maintains_facade_aggregate(spark, tmp_path):
    obs = obs_from_events(register_views(spark, SF_SMOKE)["events"])
    path0 = obs.select("path").orderBy("path").first().path
    rows = obs.filter(F.col("path") == path0).select("tse", "value")
    t_lo, t_hi = rows.agg(F.min("tse"), F.max("tse")).first()
    c1 = t_lo + (t_hi - t_lo) // 3
    c2 = t_lo + 2 * (t_hi - t_lo) // 3

    src = str(tmp_path / "src")
    stage_ordered_slices(
        [
            rows.filter(F.col("tse") < c1),
            rows.filter((F.col("tse") >= c1) & (F.col("tse") < c2)),
            rows.filter(F.col("tse") >= c2),
        ],
        src,
    )

    db = TSDB.create(spark, str(tmp_path / "tsdb"))
    var = db.add_set("router0").add_var("inOctets", step=300)
    var.add_aggregate("+1h")

    epochs = []

    def persist(batch, epoch_id):
        # the reference persister's loop: write the poll batch into the
        # var, then refresh its aggregate ladder († TSDBPollPersister →
        # update_all_aggregates).  tse-sorted so the per-slot LWW winner
        # is the chronologically last sample regardless of collect order.
        recs = sorted(
            (r.tse, r.value) for r in batch.select("tse", "value").collect()
        )
        if recs:
            var.insert_batch(recs)
            var.update_all_aggregates()
            epochs.append(len(recs))

    stream = (
        spark.readStream.schema("tse long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/part=*")
    )
    drive(stream, persist, str(tmp_path / "ckpt"))
    assert len(epochs) == 3 and all(n > 0 for n in epochs)

    # driver-side model of the one-shot ladder over everything delivered:
    # slot LWW (last tse wins), then hourly (avg=total/n, min, max, n)
    model_rows = sorted(
        (r.tse, r.value)
        for r in obs.filter(F.col("path") == path0)
        .select("tse", "value")
        .collect()
    )
    by_slot = {}
    for tse, v in model_rows:
        by_slot[tse - tse % 300] = v
    by_hour: dict[int, list[float]] = {}
    for slot, v in by_slot.items():
        by_hour.setdefault(slot - slot % 3600, []).append(v)
    want = {
        h: (sum(vs) / len(vs), sum(vs), min(vs), max(vs), len(vs))
        for h, vs in by_hour.items()
    }

    agg = db.get_var("router0/inOctets/TSDB_AGGREGATES/+1h")
    got = {
        r.slot: (r.average, r.total, r.vmin, r.vmax, r.n)
        for r in agg.select(min(want), max(want) + 3600).collect()
        if r.flags != 0
    }
    assert set(got) == set(want)
    for h in want:
        g, w = got[h], want[h]
        assert abs(g[0] - w[0]) < 1e-9 and abs(g[1] - w[1]) < 1e-9
        assert g[2] == w[2] and g[3] == w[3] and g[4] == w[4]

    # and the raw level is complete: every delivered slot is selectable
    raw = var.select(min(by_slot), max(by_slot) + 300)
    occupied = {r.slot for r in raw.collect() if r.flags != 0}
    assert occupied == set(by_slot)
