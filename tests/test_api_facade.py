"""Reference-lifecycle round trip through the object façade (api.py —
SURVEY §3.1/§3.2: create → add_set → add_var → insert → select/get/
get_last, slot overwrite, invalid-row materialization, metadata reload)."""

from __future__ import annotations

import tempfile

import pytest

from esxsnmp_tsdb_spark.api import TSDB, TSDBVar
from esxsnmp_tsdb_spark.functions.tsdb import ROW_HIDDEN, ROW_VALID


@pytest.fixture(scope="module")
def db(spark):
    with tempfile.TemporaryDirectory() as root:
        yield TSDB.create(spark, root + "/tsdb")


def test_lifecycle_roundtrip(spark, db):
    rtr = db.add_set("router1")
    var = rtr.add_var("inOctets", step=300, heartbeat=900)
    var.insert_batch([(600, 10.0, ROW_VALID), (900, 20.0, ROW_VALID)])
    var.insert(1800, 50.0)

    # reopen from disk: tree walk + metadata reload († TSDB(path))
    db2 = TSDB(spark, db.fs_path)
    assert db2.list_sets() == ["router1"]
    assert db2.list_vars() == ["router1/inOctets"]
    v2 = db2.get_var("router1/inOctets")
    assert isinstance(v2, TSDBVar)
    assert v2.step == 300 and v2.heartbeat == 900

    got = {r.slot: (r.flags, r.value) for r in v2.select(600, 2100).collect()}
    # written slots valid, never-written slots materialized invalid (†)
    assert got[600] == (ROW_VALID, 10.0)
    assert got[900] == (ROW_VALID, 20.0)
    assert got[1200] == (0, None)
    assert got[1500] == (0, None)
    assert got[1800] == (ROW_VALID, 50.0)
    assert len(got) == 5
    # flags mask drops the invalid spine rows († select(flags=...))
    assert {r.slot for r in v2.select(600, 2100, flags=ROW_VALID).collect()} == {
        600,
        900,
        1800,
    }


def test_slot_overwrite_last_write_wins(spark, db):
    var = db.get_set("router1").add_var("errs", step=300)
    var.insert(310, 1.0)
    var.insert(320, 2.0)  # same slot (300): later insert wins
    row = var.get(300)
    assert (row.tse, row.value) == (320, 2.0)
    assert var.get_last().value == 2.0


def test_get_last_skips_invalid(spark, db):
    var = db.get_set("router1").add_var("drops", step=300)
    var.insert(300, 5.0)
    var.insert(600, 7.0, flags=0)  # invalid tail row
    assert var.get_last().value == 5.0


def test_node_type_errors(spark, db):
    with pytest.raises(KeyError):
        db.get_var("router1")  # a set, not a var
    with pytest.raises(KeyError):
        db.get_set("router1/inOctets")  # a var, not a set
    with pytest.raises(FileExistsError):
        TSDB.create(spark, db.fs_path)


def test_get_rejects_traversal(spark, db):
    for bad in ("..", "../x", "router1/..", "router1//inOctets", "."):
        with pytest.raises(KeyError):
            db._get(bad)


def test_select_empty_range_yields_no_rows(spark, db):
    var = db.get_var("router1/inOctets")
    assert var.select(900, 900).collect() == []
    assert var.select(900, 650).collect() == []
    # a 1-second window inside a slot still returns that slot's row
    assert [r.slot for r in var.select(900, 901).collect()] == [900]


def test_select_mid_slot_window_sees_slot_winner(spark, db):
    # the window ends mid-slot, past the stale row but before the LWW
    # winner: select must still resolve the slot from ALL its rows —
    # clipping at `end` would resurrect the overwritten (310, 1.0)
    var = db.get_var("router1/errs")  # holds 310→1.0 then 320→2.0
    rows = var.select(300, 315).collect()
    assert [(r.slot, r.tse, r.value) for r in rows] == [(300, 320, 2.0)]
    # ...and a window that ends before any row still shows the slot as
    # occupied, not as an invalid placeholder
    rows = var.select(300, 305).collect()
    assert [(r.slot, r.value) for r in rows] == [(300, 2.0)]


def test_select_non_aligned_empty_and_inverted_windows(spark, db):
    var = db.get_var("router1/inOctets")
    assert var.select(100, 100).collect() == []  # empty, non-aligned
    assert var.select(400, 350).collect() == []  # inverted, non-aligned
    # empty + non-empty select results union cleanly (same slot type)
    u = var.select(900, 900).unionByName(var.select(900, 901))
    assert [r.slot for r in u.collect()] == [900]


def test_add_node_kind_mismatch_raises(spark, db):
    with pytest.raises(KeyError):
        db.add_var("router1")  # exists as a set
    with pytest.raises(KeyError):
        db.get_set("router1").add_set("inOctets")  # exists as a var


def test_two_handles_same_var_keep_lww_order(spark, db):
    db.get_set("router1").add_var("octets4", step=300)
    v1 = db.get_var("router1/octets4")
    v2 = db.get_var("router1/octets4")  # coexisting handle, stale cache
    v1.insert(310, 1.0)
    v2.insert(320, 2.0)
    v1.insert(305, 3.0)  # v1's cached LAST_SEQ predates v2's insert
    row = db.get_var("router1/octets4").get(300)
    assert (row.tse, row.value) == (305, 3.0)  # chronologically last wins


def test_negative_tse_slot_matches_engine_slot_math(spark, db):
    # Spark's % is truncation-mod: slot_of(-10) = 0, not -300; the
    # façade's driver-side slot math must agree or get() misses the row
    var = db.get_set("router1").add_var("octets5", step=300)
    var.insert(-10, 4.0)
    row = var.get(-10)
    assert (row.tse, row.value) == (-10, 4.0)


def test_within_batch_lww_is_insert_order(spark, db):
    var = db.get_set("router1").add_var("octets2", step=300)
    # same slot twice in ONE batch: the LAST insert wins even though its
    # tse is smaller († TSDBVar.insert applied sequentially)
    var.insert_batch([(320, 2.0), (310, 1.0)])
    row = var.get(300)
    assert (row.tse, row.value) == (310, 1.0)


def test_select_matches_dict_model_random_workload(spark, db):
    """Model check: random inserts through coexisting handles, then
    select/get over randomly-aligned windows must equal a driver-side
    dict replay of the slot LWW semantics (insert order wins per slot,
    windows are slot-addressed)."""
    import random

    rng = random.Random(1106)
    step = 300

    def model_slot(tse: int) -> int:
        rem = tse % step if tse >= 0 else -((-tse) % step)
        return tse - rem

    grp = db.add_set("modelgrp")
    for case in range(3):
        var_path = f"modelgrp/model{case}"
        grp.add_var(f"model{case}", step=step)
        handles = [db.get_var(var_path) for _ in range(2)]
        model: dict[int, tuple[int, float, int]] = {}  # slot -> (tse, v, fl)
        for _ in range(6):
            batch = [
                (
                    rng.randrange(-600, 3600),
                    round(rng.uniform(0, 50), 3),
                    ROW_VALID if rng.random() < 0.8 else 0,
                )
                for _ in range(rng.randrange(1, 6))
            ]
            rng.choice(handles).insert_batch(batch)
            for tse, v, fl in batch:
                model[model_slot(tse)] = (tse, v, fl)
        begin = rng.randrange(-700, 3700)
        end = begin + rng.randrange(1, 2500)
        got = {
            r.slot: (r.tse, r.value, r.flags)
            for r in db.get_var(var_path).select(begin, end).collect()
        }
        lo, hi = model_slot(begin), model_slot(end - 1)
        want = {
            s: model.get(s, (s, None, 0))
            for s in range(lo, hi + step, step)
        }
        assert got == want, f"case {case}: window [{begin}, {end})"


def test_insert_batch_empty_and_last_update_monotone(spark, db):
    var = db.get_set("router1").add_var("octets3", step=300)
    var.insert(3600, 1.0)
    assert var.metadata["LAST_UPDATE"] == "3600"
    seq = var.metadata["LAST_SEQ"]
    var.insert_batch([])  # no-op, no metadata churn
    assert var.metadata["LAST_SEQ"] == seq
    var.insert(300, 9.0)  # backfill must not rewind LAST_UPDATE
    assert var.metadata["LAST_UPDATE"] == "3600"
    assert var.get(300).value == 9.0


def test_select_flags_hidden_semantics(spark, db):
    """SURVEY §8 ledger: displayable = flags & 0b11 == 0b01 is the
    select(flags=…) predicate — hidden-but-valid rows are excluded by
    flags=ROW_VALID and opted back in by ROW_VALID | ROW_HIDDEN; the
    unmasked select's invalid-spine materialization is unchanged."""
    var = db.get_set("router1").add_var("hiddenv", step=300)
    var.insert(300, 1.0)                                  # displayable
    var.insert(600, 2.0, flags=ROW_VALID | ROW_HIDDEN)    # valid-but-hidden
    var.insert(1200, 3.0)                                 # displayable

    # unmasked: every slot, including the never-written 900 spine row
    got = {r.slot: r.flags for r in var.select(300, 1500).collect()}
    assert got == {
        300: ROW_VALID,
        600: ROW_VALID | ROW_HIDDEN,
        900: 0,
        1200: ROW_VALID,
    }
    # displayable mask: hidden excluded, spine invalid rows excluded
    assert {r.slot for r in var.select(300, 1500, flags=ROW_VALID).collect()} \
        == {300, 1200}
    # opting hidden back in
    assert {
        r.slot
        for r in var.select(
            300, 1500, flags=ROW_VALID | ROW_HIDDEN
        ).collect()
    } == {300, 600, 1200}


def test_aggregate_ladder_roundtrip(spark, db):
    """Ladder upkeep matches the operator: insert raw →
    update_all_aggregates → the stored 1h level equals the ts_agg_cascade computation (weighted mean =
    sum/count cascaded through the 5m level) for the same window, and the
    aggregate var is reachable via the reference's
    get_var('…/TSDB_AGGREGATES/+1h') path shape."""
    rtr = db.add_set("aggrtr")
    var = rtr.add_var("octets", step=300)
    # two full hours of 5-minute samples, plus a hidden-but-valid row and
    # an invalid row: maintenance counts hidden, skips invalid
    batch = [(t, float(t % 3600) / 100.0, ROW_VALID) for t in range(0, 7200, 300)]
    var.insert_batch(batch)
    var.insert(1500, 99.0, flags=ROW_VALID | ROW_HIDDEN)  # overwrites slot 1500
    var.insert(1800, 77.0, flags=0)                       # invalid: not counted

    agg1h = var.add_aggregate("+1h")
    assert var.list_aggregates() == ["+1h"]
    var.update_all_aggregates()

    # model: LWW per slot, valid rows only (hidden still counts)
    model = {t: float(t % 3600) / 100.0 for t in range(0, 7200, 300)}
    model[1500] = 99.0
    del model[1800]  # invalid overwrite removes the slot from maintenance
    expect = {}
    for hour in (0, 3600):
        vals = [v for t, v in model.items() if hour <= t < hour + 3600]
        expect[hour] = (
            sum(vals) / len(vals), sum(vals), min(vals), max(vals), len(vals)
        )

    got = {
        r.slot: (r.average, r.total, r.vmin, r.vmax, r.n)
        for r in agg1h.select(0, 7200).collect()
    }
    assert set(got) == set(expect)
    for hour, (avg, tot, mn, mx, n) in expect.items():
        g = got[hour]
        assert abs(g[0] - avg) < 1e-9 and abs(g[1] - tot) < 1e-9
        assert g[2] == mn and g[3] == mx and g[4] == n

    # reference path shape († get_var("…/TSDB_AGGREGATES/+1h"))
    v2 = db.get_var("aggrtr/octets/TSDB_AGGREGATES/+1h")
    assert v2.is_aggregate and v2.step == 3600
    assert v2.get_last().slot == 3600
    # never-materialized agg slots come back as invalid spine rows
    spine = {r.slot: r.flags for r in agg1h.select(0, 10800).collect()}
    assert spine[7200] == 0 and spine[3600] == ROW_VALID

    # 'last' consolidation: the latest 5m sample of each hour
    last_by_hour = {h: model[max(t for t in model if h <= t < h + 3600)]
                    for h in (0, 3600)}
    got_last = {r.slot: r.last for r in agg1h.select(0, 7200).collect()}
    assert got_last == last_by_hour


def test_aggregate_cascade_matches_direct_after_reupdate(spark, db):
    """Levels chain (1h from 5m-in-var, 1d from 1h): after new inserts
    and a re-update, each level equals direct recomputation — the
    build_ladder conservation invariant through the façade."""
    var = db.get_var("aggrtr/octets")
    var.add_aggregate("+1d")
    assert var.list_aggregates() == ["+1h", "+1d"]
    var.insert(3900, 1000.0)  # overwrite one slot, then re-update
    var.update_all_aggregates()
    rows_1h = {r.slot: r for r in var.get_aggregate("+1h").select(0, 7200).collect()}
    rows_1d = [r for r in var.get_aggregate(86400).select(0, 86400).collect()
               if r.flags != 0]
    assert len(rows_1d) == 1
    d = rows_1d[0]
    # 1d total/n are the sums of the 1h level (cascade ≡ direct)
    assert abs(d.total - sum(r.total for r in rows_1h.values())) < 1e-9
    assert d.n == sum(r.n for r in rows_1h.values())
    assert abs(d.average - d.total / d.n) < 1e-9
    assert rows_1h[3600].vmax == 1000.0


def test_aggregate_validation_errors(spark, db):
    var = db.get_var("aggrtr/octets")
    with pytest.raises(ValueError):
        var.add_aggregate(450)  # not a multiple of step 300
    with pytest.raises(ValueError):
        var.add_aggregate("+7h")  # 25200 breaks the 3600→86400 chain
    agg = var.get_aggregate("+1h")
    with pytest.raises(ValueError):
        agg.insert(0, 1.0)  # aggregates are maintained, not inserted
    with pytest.raises(ValueError):
        agg.add_aggregate("+1d")  # no aggregates of aggregates
    with pytest.raises(KeyError):
        var.get_aggregate("+6h")  # never configured
    # idempotent re-add returns the existing level
    again = var.add_aggregate(3600)
    assert again.fs_path == agg.fs_path
    assert var.list_aggregates() == ["+1h", "+1d"]


def test_compact_preserves_rows_and_lww(spark, db):
    """Façade twin of storage_compaction_integrity:
    compaction folds the one-file-per-batch history into one file while
    keeping every select row — including LWW winners across batches —
    identical."""
    var = db.get_set("router1").add_var("compactme", step=300)
    for i in range(6):
        var.insert_batch([(300 * i + 10, float(i), ROW_VALID),
                          (300 * i + 20, float(i) + 0.5, ROW_VALID)])
    var.insert(310, 42.0)  # LWW overwrite of slot 300 from a later batch
    before = sorted(
        (r.slot, r.tse, r.value, r.flags)
        for r in var.select(0, 2100).collect()
    )
    assert var.file_count() == 7
    var.compact()
    assert var.file_count() == 1
    after = sorted(
        (r.slot, r.tse, r.value, r.flags)
        for r in var.select(0, 2100).collect()
    )
    assert after == before
    assert var.get(300).value == 42.0  # cross-batch LWW winner survives
    # appends keep working after the rewrite
    var.insert(2400, 9.0)
    assert var.get(2400).value == 9.0
    assert var.file_count() == 2


def test_timerange_routes_to_stored_level(spark, db):
    """§3.3 through the façade: a 2h request re-consolidates the stored
    1h level (pick_level: 3600 divides 7200, 86400 does not); a 1d
    request reads the 1d level directly; cf routing picks the right
    consolidation column."""
    var = db.get_var("aggrtr/octets")  # maintained by the earlier tests

    rows_1h = {
        r.slot: r
        for r in var.get_aggregate("+1h").select(0, 7200).collect()
        if r.flags != 0
    }
    # cf=average at 2h: weighted mean = sum(total)/sum(n) of covered hours
    got = {r.slot: (r.value, r.n)
           for r in var.timerange(0, 7200, step=7200, cf="average").collect()}
    tot = sum(r.total for r in rows_1h.values())
    n = sum(r.n for r in rows_1h.values())
    assert set(got) == {0}
    assert abs(got[0][0] - tot / n) < 1e-9 and got[0][1] == n

    # cf=delta at 2h: plain sum of totals
    d = var.timerange(0, 7200, step=7200, cf="delta").collect()[0]
    assert abs(d.value - tot) < 1e-9

    # 1d request reads the stored 1d level (no re-consolidation)
    day = var.timerange(0, 86400, step=86400, cf="max").collect()[0]
    assert day.value == max(r.vmax for r in rows_1h.values())

    # no level (raw included) divides a 450 s request
    with pytest.raises(ValueError):
        var.timerange(0, 7200, step=450).collect()

    # step=None falls through to the raw slot select
    raw = var.timerange(600, 1200)
    assert [r.slot for r in raw.collect()] == [600, 900]

    # step == the var's own step: served from raw (each LWW slot a
    # 1-sample consolidation), occupied slots match select
    fine = {r.slot: (r.value, r.n)
            for r in var.timerange(0, 3600, step=300).collect()}
    sel = {r.slot: r.value for r in var.select(0, 3600).collect()
           if r.flags != 0}
    assert {s: v for s, (v, _n) in fine.items()} == sel
    assert all(n == 1 for _v, n in fine.values())

    # a 90-minute request re-consolidates from raw (no stored divisor)
    mid = {r.slot: r.n for r in var.timerange(0, 7200, step=5400).collect()}
    assert set(mid) == {0, 5400}

    # unaligned begin still serves the whole covered first bucket
    assert {r.slot for r in var.timerange(601, 7200, step=3600).collect()} \
        == {0, 3600}


def test_timerange_skips_unbuilt_level(spark, db):
    """A configured-but-never-built aggregate must not swallow the query:
    routing excludes it and serves from the levels that exist."""
    var = db.get_set("aggrtr").add_var("unbuilt", step=300)
    var.insert_batch([(t, 1.0) for t in range(0, 3600, 300)])
    var.add_aggregate("+1h")  # no update_all_aggregates
    got = var.timerange(0, 3600, step=3600, cf="delta").collect()
    assert len(got) == 1 and got[0].value == 12.0 and got[0].n == 12


def test_timerange_raw_wins_tie_with_same_step_level(spark, db):
    """A stored level with the var's own step ties with the raw level;
    raw serves the request, so a row inserted after the last ladder
    rebuild is in the answer instead of the stale level's."""
    var = db.add_set("tie").add_var("v30", step=30)
    var.insert_batch([(0, 1.0), (30, 2.0)])
    var.add_aggregate("+30s")
    var.update_all_aggregates()
    var.insert(60, 3.0)  # newer than the built +30s level
    got = {r.slot: r.value for r in var.timerange(0, 90, step=30).collect()}
    assert got == {0: 1.0, 30: 2.0, 60: 3.0}
    stored = var.get_aggregate("+30s").select(0, 90, flags=ROW_VALID)
    assert [r.slot for r in stored.collect()] == [0, 30]


def test_compact_recovers_interrupted_swap(spark, db):
    """Crash-window recovery: if compaction died between its two renames
    (data dir gone, ._old intact), reads heal the swap instead of seeing
    an empty var, and a stale ._compact leftover never blocks the next
    compaction."""
    import os
    import shutil

    var = db.get_set("router1").add_var("crashy", step=300)
    for i in range(3):
        var.insert(300 * i, float(i))
    before = sorted(
        (r.slot, r.value) for r in var.select(0, 900).collect()
        if r.flags != 0
    )
    data = var._data
    # simulate: died between rename(path, old) and rename(tmp, path),
    # with an incomplete ._compact also on disk
    os.rename(data, data + "._old")
    os.makedirs(data + "._compact")
    with open(os.path.join(data + "._compact", "part-junk.parquet"), "w") as f:
        f.write("not parquet")
    # read path heals the swap
    after = sorted(
        (r.slot, r.value) for r in var.select(0, 900).collect()
        if r.flags != 0
    )
    assert after == before
    # and compaction runs clean despite the stale temp dir
    var.compact()
    assert var.file_count() >= 1
    assert not os.path.isdir(data + "._compact")
    assert not os.path.isdir(data + "._old")
    final = sorted(
        (r.slot, r.value) for r in var.select(0, 900).collect()
        if r.flags != 0
    )
    assert final == before


def test_insert_after_interrupted_swap_keeps_history(spark, db):
    """The review's nastiest scenario: compaction dies mid-swap, then an
    INSERT arrives before any read.  The locked heal inside insert_batch
    must restore the ._old history before the parquet append recreates
    the dir — otherwise history is hidden now and deleted by the next
    compaction's recovery."""
    import os

    var = db.add_set("router1").add_var("crashy2", step=300)
    for i in range(3):
        var.insert(300 * i, float(i))
    os.rename(var._data, var._data + "._old")  # simulated mid-swap crash
    var.insert(900, 99.0)  # first touch is a WRITE, not a read
    got = {r.slot: r.value for r in var.select(0, 1200).collect()
           if r.flags != 0}
    assert got == {0: 0.0, 300: 1.0, 600: 2.0, 900: 99.0}
    var.compact()  # and compaction still can't eat anything
    got2 = {r.slot: r.value for r in var.select(0, 1200).collect()
            if r.flags != 0}
    assert got2 == got


def test_timerange_empty_window_and_corrupt_level(spark, db):
    """Empty/inverted windows return empty (never ValueError from level
    routing), and a level directory left empty by a killed overwrite is
    treated as unbuilt rather than served as silently-empty."""
    import os

    var = db.add_set("aggrtr").add_var("corrupt", step=300)
    var.insert_batch([(t, 2.0) for t in range(0, 3600, 300)])
    agg = var.add_aggregate("+1h")
    # simulate a killed overwrite: dir exists, no committed part-files
    os.makedirs(agg._data, exist_ok=True)
    got = var.timerange(0, 3600, step=3600, cf="delta").collect()
    assert len(got) == 1 and got[0].value == 24.0  # served from raw
    # compacting the empty level must NOT commit a 0-row part file —
    # that would flip the level from "unbuilt" to "built but empty" and
    # re-route timerange to it
    agg.compact()
    assert agg.file_count() == 0
    got2 = var.timerange(0, 3600, step=3600, cf="delta").collect()
    assert len(got2) == 1 and got2[0].value == 24.0  # still from raw
    # empty and inverted windows short-circuit before pick_level
    assert var.timerange(100, 100, step=450).collect() == []
    assert var.timerange(500, 400, step=450).collect() == []
    # ...but a bad cf is a caller bug regardless of the window
    with pytest.raises(ValueError, match="consolidation"):
        var.timerange(100, 100, step=450, cf="avg")


def test_compaction_crash_state_machine(spark, db):
    """Every crash point of compact_flat's write -> rename -> rename ->
    cleanup sequence heals to identical LWW winners, from any entry
    point.  The mid-swap state (between the two renames) is exercised
    above; this pins the other two: tmp-only (died before the swap) and
    pre-cleanup (swap done, backup not yet removed) — the latter must
    KEEP the live dir, not roll back."""
    import os
    import shutil

    base = db.add_set("crashsm")
    expect = {0: 0.0, 300: 1.0, 600: 2.0}

    def fresh(name):
        var = base.add_var(name, step=300)
        for i in range(3):
            var.insert(300 * i, float(i))
        return var

    def winners(var):
        return {r.slot: r.value for r in var.select(0, 1200).collect()
                if r.flags != 0}

    # Died before the swap: a complete ._compact copy beside the live
    # dir.  Heal drops the temp and keeps the live dir.
    v1 = fresh("s1")
    shutil.copytree(v1._data, v1._data + "._compact")
    assert winners(v1) == expect
    v1.compact()
    assert winners(v1) == expect
    assert not os.path.isdir(v1._data + "._compact")

    # Died after the swap, before removing the backup: live dir is the
    # compacted result, ._old the pre-compaction history.  The mutator
    # entry point heals under its lock, keeps the live dir, drops the
    # backup — and must NOT roll back to ._old.
    v3 = fresh("s3")
    shutil.copytree(v3._data, v3._data + "._old")
    v3.insert(900, 9.0)
    assert not os.path.isdir(v3._data + "._old")
    assert winners(v3) == {**expect, 900: 9.0}

    # recover_swap is idempotent: double-heal on a clean dir is a no-op.
    from esxsnmp_tsdb_spark.sources.compaction import recover_swap

    recover_swap(v3._data)
    recover_swap(v3._data)
    assert winners(v3) == {**expect, 900: 9.0}
