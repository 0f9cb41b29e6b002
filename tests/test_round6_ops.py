"""Behavioral invariants for the round-6 operator batch (analytics8,
curation8) — semantics the oracle hash can't state directly."""

from __future__ import annotations

from pyspark.sql import functions as F

from esxsnmp_tsdb_spark.operators import analytics8, curation8
from esxsnmp_tsdb_spark.operators.dedup import _docs_with_near_copies
from esxsnmp_tsdb_spark.sources import register_views
from tests.conftest import SF_SMOKE


def test_seasonal_anomaly_only_extreme_z(spark):
    """Every reported row clears the threshold on the rounded z, and the
    bucket keys are consistent with the row's own timestamp."""
    rep = analytics8.ts_seasonal_anomaly(spark, SF_SMOKE).cache()
    assert (
        rep.filter(F.abs(F.col("z")) <= analytics8.SEASONAL_Z).count() == 0
    )
    # hod/day_type must be re-derivable from tse alone
    dow = (F.floor(F.col("tse") / 86400) + 4) % 7
    bad = rep.filter(
        (F.col("hod") != F.floor((F.col("tse") % 86400) / 3600))
        | (
            F.col("day_type")
            != F.when(dow.isin(0, 6), "weekend").otherwise("weekday")
        )
    )
    assert bad.count() == 0


def test_sla_maintenance_accounting(spark):
    """Schedulable slots bound uptime; calendar constants are exact for
    the Jan-10..Jan-20 window (one Sunday → 24 maintenance slots)."""
    rep = analytics8.ts_sla_maintenance_window(spark, SF_SMOKE).cache()
    rows = rep.collect()
    assert rows, "no paths reported"
    for r in rows:
        assert r.n_slots == 2880  # 10 days of 300s slots
        assert r.n_maint == 24  # one Sunday x 2h of 300s slots
        assert 0 <= r.n_up <= r.n_slots - r.n_maint
        assert 0 <= r.avail_ppm <= 1_000_000
        assert r.breach == (r.avail_ppm < analytics8.SLA_PPM_TARGET)


def test_semdedup_cells_partition_corpus(spark):
    """Cells partition the corpus: Σ n_vecs = 2·|embeddings| (original ∪
    planted near-copy), kept+dropped = n_vecs per cell, and the planted
    cosine-≈0.99 copies force a nonzero drop count."""
    rep = curation8.dedup_semantic_cells(spark, SF_SMOKE).cache()
    n_vecs = register_views(spark, SF_SMOKE)["embeddings"].count()
    tot = rep.agg(F.sum("n_vecs").alias("s")).collect()[0].s
    assert tot == 2 * n_vecs
    assert rep.filter(
        F.col("n_kept") + F.col("n_dropped") != F.col("n_vecs")
    ).count() == 0
    assert rep.filter(F.col("n_dropped") < 0).count() == 0
    assert rep.agg(F.sum("n_dropped").alias("d")).collect()[0].d > 0


def test_winnowing_detects_planted_near_copies(spark):
    """The drop-last-token mutations share almost all fingerprints with
    their originals: every (d, d+100000) pair must surface with
    overlap_ppm near 1e6, and overlap_ppm is bounded by 1e6."""
    rep = curation8.doc_winnowing_overlap(spark, SF_SMOKE).cache()
    assert rep.filter(F.col("overlap_ppm") > 1_000_000).count() == 0
    docs = register_views(spark, SF_SMOKE)["documents"]
    # docs long enough to have >= WINNOW_MIN_SHARED fingerprints even
    # after losing one token
    k, w = curation8.WINNOW_K, curation8.WINNOW_W
    min_toks = k + w - 1 + curation8.WINNOW_MIN_SHARED + 1
    eligible = (
        docs.filter(
            F.size(F.split(F.col("text"), " ")) >= min_toks
        ).count()
    )
    planted = rep.filter(
        (F.col("doc_b") == F.col("doc_a") + 100000)
        & (F.col("overlap_ppm") >= 900_000)
    ).count()
    assert planted >= eligible * 0.9, (planted, eligible)


def test_mtbf_mttr_integer_identities(spark):
    """Per row: mttr*n ≈ downtime (within the half-up quantum), downtime
    never exceeds span, and incident counts are positive."""
    rep = analytics8.ts_mtbf_mttr(spark, SF_SMOKE).cache()
    assert rep.count() > 0
    assert rep.filter(F.col("n_incidents") <= 0).count() == 0
    assert rep.filter(F.col("downtime_sec") < 0).count() == 0
    # half-up rounding: |mttr * n - downtime| <= n/2
    bad = rep.filter(
        F.abs(F.col("mttr_sec") * F.col("n_incidents") - F.col("downtime_sec"))
        * 2
        > F.col("n_incidents")
    )
    assert bad.count() == 0


def test_cdc_chunks_survive_tail_edit(spark):
    """Content-defined boundaries localize the drop-last-token edit:
    a large majority of reported reuse rows are full (doc, mutated-doc)
    chunk pairs, i.e. most chunks of a doc re-appear verbatim."""
    rep = curation8.chunk_dedup_cdc(spark, SF_SMOKE).cache()
    # every doc pairs with its mutation => thousands of shared chunks
    assert rep.count() > 100
    assert rep.filter(F.col("n_docs") < 2).count() == 0
    assert rep.filter(F.col("n_occ") < F.col("n_docs")).count() == 0


def test_bpe_step_is_total_ordered_topk(spark):
    rep = curation8.bpe_merge_pair_step(spark, SF_SMOKE).cache()
    rows = rep.orderBy("rank").collect()
    assert len(rows) == curation8.BPE_TOP
    assert [r.rank for r in rows] == list(range(1, curation8.BPE_TOP + 1))
    # ranks follow (n desc, left, right) exactly
    keys = [(-r.n, r.left_tok, r.right_tok) for r in rows]
    assert keys == sorted(keys)


def test_hll_merge_month_at_least_max_day(spark):
    """The month's exact distinct count can never be below any single
    day's, and every scope's sketch landed in tolerance."""
    from esxsnmp_tsdb_spark.operators.sketches import (
        approx_distinct_hll_merge,
    )

    out = approx_distinct_hll_merge(spark, SF_SMOKE).cache()
    assert out.filter(~F.col("est_ok")).count() == 0
    month = out.filter(F.col("scope") == "month").collect()[0].n_exact
    max_day = (
        out.filter(F.col("scope") != "month")
        .agg(F.max("n_exact").alias("m"))
        .collect()[0]
        .m
    )
    assert month >= max_day


def test_skew_report_shares_consistent(spark):
    """Ranks are a contiguous prefix ordered by (n desc, key); shares
    and cumulative shares are monotone and bounded by 1e6."""
    from esxsnmp_tsdb_spark.operators.relational3 import (
        SKEW_TOP,
        skew_key_report,
    )

    rows = skew_key_report(spark, SF_SMOKE).orderBy("rank").collect()
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    assert len(rows) <= SKEW_TOP
    ns = [r.n for r in rows]
    assert ns == sorted(ns, reverse=True)
    cums = [r.cum_share_ppm for r in rows]
    assert cums == sorted(cums)
    assert all(0 < r.share_ppm <= r.cum_share_ppm <= 1_000_000 for r in rows)
    assert all(r.total >= r.n * r.rank // 1 for r in rows)


def test_lift_matrix_symmetric_support_bounds(spark):
    """Pair support can't exceed either side's basket count, lift is
    positive, and the matrix holds only upper-triangle pairs."""
    from esxsnmp_tsdb_spark.operators.events4 import event_lift_matrix

    rep = event_lift_matrix(spark, SF_SMOKE).cache()
    assert rep.count() > 0
    assert rep.filter(F.col("type_a") >= F.col("type_b")).count() == 0
    assert rep.filter(F.col("lift") <= 0).count() == 0


def test_stream_hll_matches_batch_twin(spark):
    """The streamed sketch table must produce the same report as the
    batch op — same scopes, same exacts, everything in tolerance (the
    op itself asserts estimate-level equality with the one-shot
    sketch; this pins the user-facing shape)."""
    from esxsnmp_tsdb_spark.operators.sketches import (
        approx_distinct_hll_merge,
    )
    from esxsnmp_tsdb_spark.operators.streaming_ops3 import (
        stream_distinct_hll,
    )

    live = stream_distinct_hll(spark, SF_SMOKE).cache()
    batch = approx_distinct_hll_merge(spark, SF_SMOKE).cache()
    assert live.filter(~F.col("est_ok")).count() == 0
    a = {(r.scope, r.n_exact) for r in live.collect()}
    b = {(r.scope, r.n_exact) for r in batch.collect()}
    assert a == b


def test_period_detect_finds_bounded_period(spark):
    """One winner per class, period within the scanned lag range, r in
    [-1, 1] after rounding."""
    from esxsnmp_tsdb_spark.operators.analytics8 import (
        PERIOD_MAX_LAG,
        ts_period_detect,
    )

    rows = ts_period_detect(spark, SF_SMOKE).collect()
    assert rows
    classes = [r.event_type for r in rows]
    assert len(classes) == len(set(classes))
    for r in rows:
        assert 1 <= r.period_hours <= PERIOD_MAX_LAG
        assert -1.000001 <= r.autocorr <= 1.000001


def test_pit_join_covers_every_fact_exactly_once(spark):
    """Versions partition each user's timeline: Σ n_events across
    versions == |events|, and validity windows never overlap."""
    from esxsnmp_tsdb_spark.operators.events3 import (
        _ev,
        scd2_point_in_time_join,
    )

    rep = scd2_point_in_time_join(spark, SF_SMOKE).cache()
    total = rep.agg(F.sum("n_events").alias("s")).collect()[0].s
    n_ev = _ev(spark, SF_SMOKE).count()
    assert total == n_ev
    # no overlapping windows per user: valid_from of version k+1 must
    # exceed valid_to of version k
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("version")
    bad = (
        rep.withColumn("next_from", F.lead("valid_from").over(w))
        .filter(
            F.col("next_from").isNotNull()
            & (F.col("next_from") <= F.col("valid_to"))
        )
        .count()
    )
    assert bad == 0


def test_k_anonymity_only_small_classes(spark):
    """Every reported class is genuinely below k, and re-grouping the
    corpus reproduces each reported k exactly."""
    from esxsnmp_tsdb_spark.operators.curation8 import (
        KANON_K,
        KANON_LEN_BUCKET,
        privacy_k_anonymity,
    )

    rep = privacy_k_anonymity(spark, SF_SMOKE).cache()
    assert rep.count() > 0
    assert rep.filter(F.col("k") >= KANON_K).count() == 0
    docs = register_views(spark, SF_SMOKE)["documents"]
    truth = docs.groupBy(
        "lang",
        "source",
        F.expr(f"n_chars div {KANON_LEN_BUCKET}").alias("len_bucket"),
    ).agg(F.count(F.lit(1)).alias("true_k"))
    joined = rep.join(truth, ["lang", "source", "len_bucket"], "left")
    assert joined.filter(
        F.col("true_k").isNull() | (F.col("true_k") != F.col("k"))
    ).count() == 0


def test_sla_maintenance_covers_every_path(spark):
    """The report row set is the full path universe — a fully-down
    series must appear with n_up = 0 and breach = true, not vanish."""
    from esxsnmp_tsdb_spark.functions import tsdb

    rep = analytics8.ts_sla_maintenance_window(spark, SF_SMOKE)
    n_paths = (
        tsdb.obs_from_events(register_views(spark, SF_SMOKE)["events"])
        .select("path")
        .distinct()
        .count()
    )
    assert rep.count() == n_paths


def test_histogram_ladder_merge_law(spark):
    """Month bucket counts equal the sum of day bucket counts, and the
    total mass equals the valid-observation count."""
    from esxsnmp_tsdb_spark.functions import tsdb
    from esxsnmp_tsdb_spark.operators.sketches import ts_histogram_ladder

    out = ts_histogram_ladder(spark, SF_SMOKE).cache()
    month = {
        r.bucket: r.n
        for r in out.filter(F.col("scope") == "month").collect()
    }
    days = (
        out.filter(F.col("scope") != "month")
        .groupBy("bucket")
        .agg(F.sum("n").alias("s"))
        .collect()
    )
    assert {r.bucket: r.s for r in days} == month
    n_valid = (
        tsdb.obs_from_events(register_views(spark, SF_SMOKE)["events"])
        .filter(F.col("flags") == 1)
        .count()
    )
    assert sum(month.values()) == n_valid


def test_freshness_report_consistency(spark):
    """Series/obs totals reconcile with the fixture; staleness derives
    from the row's own last_tse; stale counts bounded by series counts."""
    from esxsnmp_tsdb_spark.operators.ingest2 import (
        FRESH_NOW,
        api_freshness_report,
    )

    rep = api_freshness_report(spark, SF_SMOKE).cache()
    ev = register_views(spark, SF_SMOKE)["events"]
    assert rep.agg(F.sum("n_obs").alias("s")).collect()[0].s == ev.count()
    assert rep.filter(
        F.col("staleness_sec") != FRESH_NOW - F.col("last_tse")
    ).count() == 0
    assert rep.filter(
        F.col("n_stale_series") > F.col("n_series")
    ).count() == 0


def test_poll_drift_percentiles_ordered(spark):
    """p50 <= p95 <= max per series, gaps positive counts."""
    from esxsnmp_tsdb_spark.operators.ingest2 import ts_poll_interval_drift

    rep = ts_poll_interval_drift(spark, SF_SMOKE).cache()
    assert rep.count() > 0
    assert rep.filter(F.col("p50_gap") > F.col("p95_gap")).count() == 0
    assert rep.filter(F.col("p95_gap") > F.col("max_gap")).count() == 0
    assert rep.filter(F.col("n_gaps") <= 0).count() == 0


def test_stl_residual_anomaly_flags_extreme_residuals(spark):
    """The detector finds something on the fixture (non-vacuous), and
    every flagged row clears the MAD cut on the rounded score with a
    positive finite value."""
    from esxsnmp_tsdb_spark.operators.analytics8 import (
        ts_stl_residual_anomaly,
    )
    from esxsnmp_tsdb_spark.operators.analytics4 import MAD_CUT

    rep = ts_stl_residual_anomaly(spark, SF_SMOKE).cache()
    assert rep.count() > 0  # an empty report can't regress silently
    assert rep.filter(F.col("score") <= MAD_CUT).count() == 0
    # scores are positive and finite
    assert rep.filter(
        F.col("score").isNull() | (F.col("score") <= 0)
    ).count() == 0


def test_hard_negatives_cross_label_topk(spark):
    """Every mined pair crosses labels, ranks are a 1..k prefix per
    anchor, and cosines are non-increasing within an anchor."""
    from esxsnmp_tsdb_spark.operators.curation8 import (
        HARDNEG_TOP,
        mine_hard_negatives,
    )

    rep = mine_hard_negatives(spark, SF_SMOKE).cache()
    assert rep.count() > 0
    emb = register_views(spark, SF_SMOKE)["embeddings"].select(
        "vec_id", "label"
    )
    la = emb.withColumnRenamed("vec_id", "anchor_id").withColumnRenamed(
        "label", "label_a"
    )
    lb = emb.withColumnRenamed("vec_id", "neg_id").withColumnRenamed(
        "label", "label_b"
    )
    joined = rep.join(la, "anchor_id").join(lb, "neg_id")
    assert joined.filter(F.col("label_a") == F.col("label_b")).count() == 0
    assert rep.filter(
        (F.col("rank") < 1) | (F.col("rank") > HARDNEG_TOP)
    ).count() == 0
    from pyspark.sql import Window

    w = Window.partitionBy("anchor_id").orderBy("rank")
    bad = (
        rep.withColumn("prev_cos", F.lag("cos").over(w))
        .filter(
            F.col("prev_cos").isNotNull()
            & (F.col("cos") > F.col("prev_cos"))
        )
        .count()
    )
    assert bad == 0


def test_lead_lag_one_winner_per_pair(spark):
    from esxsnmp_tsdb_spark.operators.analytics8 import (
        XCORR_MAX_LAG,
        ts_lead_lag_correlation,
    )

    rows = ts_lead_lag_correlation(spark, SF_SMOKE).collect()
    assert rows
    seen = set()
    for r in rows:
        assert r.class_a < r.class_b
        assert (r.class_a, r.class_b) not in seen
        seen.add((r.class_a, r.class_b))
        assert -XCORR_MAX_LAG <= r.best_lag <= XCORR_MAX_LAG
        assert -1.000001 <= r.xcorr <= 1.000001


def test_mixture_epochs_identity(spark):
    """epochs * available ≈ target tokens (half-up quantum), and the
    target shares cover every language present in the target table."""
    from esxsnmp_tsdb_spark.operators.curation8 import (
        MIX_BUDGET_TOKENS,
        MIX_TARGET_PPM,
        dataset_mixture_epochs,
    )

    rows = dataset_mixture_epochs(spark, SF_SMOKE).collect()
    # FULL coverage of the target mix: a language missing from the
    # corpus must still appear (n_tokens=0, NULL epochs), never vanish
    assert {r.lang for r in rows} == set(MIX_TARGET_PPM)
    for r in rows:
        assert r.target_tokens == r.target_ppm * MIX_BUDGET_TOKENS // 10**6
        if r.n_tokens == 0:
            assert r.epochs_ppm is None
            continue
        # half-up: |epochs_ppm * n_tokens - target_tokens * 1e6| <= n/2
        assert (
            abs(r.epochs_ppm * r.n_tokens - r.target_tokens * 10**6) * 2
            <= r.n_tokens
        )


def test_snapshot_gc_keeps_live_days(spark):
    """Post-GC snapshot-2 read covers all 10 days, and the superseded
    v1 day directory is genuinely gone (the in-op asserts enforce the
    referenced-set rule; this pins the user-visible result)."""
    import os

    from esxsnmp_tsdb_spark.operators._workdirs import op_dir
    from esxsnmp_tsdb_spark.operators.storage2 import SNAP_CHANGED
    from esxsnmp_tsdb_spark.operators.storage3 import storage_snapshot_gc

    out = storage_snapshot_gc(spark, SF_SMOKE).cache()
    assert out.count() == 10
    assert out.filter(F.col("day") == SNAP_CHANGED).count() == 1
    root = op_dir("snapshot_gc", fresh=False)
    assert not os.path.exists(
        os.path.join(root, "data_v1", f"day_p={SNAP_CHANGED}")
    )
    assert not os.path.exists(os.path.join(root, "manifest_s1.json"))


def test_semantic_outliers_are_directional_tail(spark):
    """Flagged vectors sit below τ on the rounded best-centroid cosine;
    centroid seed vectors (cosine 1.0 to themselves) can never appear."""
    from esxsnmp_tsdb_spark.operators.curation8 import (
        CELL_SEED_MOD,
        OOD_TAU,
        doc_semantic_outliers,
    )

    rep = doc_semantic_outliers(spark, SF_SMOKE).cache()
    assert rep.count() > 0
    assert rep.filter(F.col("best_cos") >= OOD_TAU).count() == 0
    assert rep.filter(F.col("vec_id") % CELL_SEED_MOD == 0).count() == 0


def test_stream_histogram_matches_batch_twin(spark):
    """The streamed histogram state reproduces the batch ladder exactly
    (the op itself asserts cell-level equality with the one-shot
    histogram; this pins the user-facing shape)."""
    from esxsnmp_tsdb_spark.operators.sketches import ts_histogram_ladder
    from esxsnmp_tsdb_spark.operators.streaming_ops3 import (
        stream_histogram_ladder,
    )

    live = {
        (r.scope, r.bucket): r.n
        for r in stream_histogram_ladder(spark, SF_SMOKE).collect()
    }
    batch = {
        (r.scope, r.bucket): r.n
        for r in ts_histogram_ladder(spark, SF_SMOKE).collect()
    }
    assert live == batch


def test_contract_report_has_red_and_green(spark):
    """The contract table carries both passing and failing checks on
    the fixture (a gate that can only pass is untested wiring), and
    pass == (n_violations == 0) per row."""
    from esxsnmp_tsdb_spark.operators.ingest3 import data_quality_contract

    rows = data_quality_contract(spark, SF_SMOKE).collect()
    assert len(rows) == 6
    assert any(r.pass_ if hasattr(r, "pass_") else r["pass"] for r in rows)
    assert any(
        not (r.pass_ if hasattr(r, "pass_") else r["pass"]) for r in rows
    )
    for r in rows:
        ok = r.pass_ if hasattr(r, "pass_") else r["pass"]
        assert ok == (r.n_violations == 0)


def test_gdpr_erasure_removes_only_subject(spark):
    """Post-erasure store: subject absent (in-op assert), everyone
    else's row count intact vs the fixture."""
    from esxsnmp_tsdb_spark.functions import tsdb
    from esxsnmp_tsdb_spark.operators._shared import T_JAN10, T_JAN20
    from esxsnmp_tsdb_spark.operators.storage3 import (
        ERASED_USER,
        storage_gdpr_erasure,
    )

    out = storage_gdpr_erasure(spark, SF_SMOKE)
    total = out.agg(F.sum("n").alias("s")).collect()[0].s
    obs = tsdb.obs_from_events(
        register_views(spark, SF_SMOKE)["events"]
    ).filter((F.col("tse") >= T_JAN10) & (F.col("tse") < T_JAN20))
    expect = obs.filter(
        F.element_at(F.split("path", "/"), 1) != str(ERASED_USER)
    ).count()
    assert total == expect


def test_incident_windows_are_disjoint_and_cover(spark):
    """Within a class, merged windows are disjoint and ordered; each
    window's incident count is >= its path count; window ids are a
    contiguous 1..k sequence."""
    from esxsnmp_tsdb_spark.operators.analytics8 import (
        ts_incident_merge_windows,
    )

    rows = ts_incident_merge_windows(spark, SF_SMOKE).collect()
    assert rows
    by_class = {}
    for r in rows:
        by_class.setdefault(r["class"], []).append(r)
    for cls, rs in by_class.items():
        rs.sort(key=lambda r: r.win_id)
        assert [r.win_id for r in rs] == list(range(1, len(rs) + 1)), cls
        for r in rs:
            assert r.win_start <= r.win_end
            assert r.n_incidents >= r.n_paths >= 1
        for a, b in zip(rs, rs[1:]):
            assert b.win_start > a.win_end, (cls, a, b)


def test_semdedup_blas_margin_invariant(spark):
    """`dedup_semantic_cells` decides ``cos >= SEM_TAU`` on a
    float64 BLAS Gram matrix whose summation order differs from the
    oracle's sequential fold — safe only while every in-cell cosine sits
    far from the threshold.  Pin that margin as a tested invariant: if a
    fixture or mutation change ever parks a cosine near τ, this fails
    before a cross-engine hash mismatch can."""
    import numpy as np

    from esxsnmp_tsdb_spark.functions.vector import norm
    from esxsnmp_tsdb_spark.operators.similarity import _dbl

    e = curation8._emb_with_near_copies(
        register_views(spark, SF_SMOKE)["embeddings"]
    ).select("vec_id", "embedding", norm(_dbl(F.col("embedding"))).alias("nrm"))
    assigned = (
        curation8._assign_cells(e)
        .select("vec_id", "cid", "embedding", "nrm")
        .toPandas()
    )
    margin = 1.0
    for _cid, grp in assigned.groupby("cid"):
        n = len(grp)
        if n < 2:
            continue
        vn = np.stack(grp["embedding"].to_numpy()).astype(np.float64)
        nrm = grp["nrm"].to_numpy(dtype=np.float64)
        vn /= np.where(nrm == 0.0, 1.0, nrm)[:, None]
        gram = vn @ vn.T
        iu, ju = np.triu_indices(n, 1)
        margin = min(margin, float(np.abs(gram[iu, ju] - curation8.SEM_TAU).min()))
    # reordering a float64 sum perturbs ~1e-12; demand 9 orders more
    assert margin > 1e-3, f"in-cell cosine within {margin} of SEM_TAU"


def test_assign_cells_zero_norm_deterministic(spark):
    """A zero-norm embedding scores NULL against every
    centroid; the argmax must still assign it — deterministically to the
    smallest cid, matching the oracle's NULLS-last row_number — instead
    of leaving cid NULL."""
    from esxsnmp_tsdb_spark.functions.vector import norm
    from esxsnmp_tsdb_spark.operators.similarity import _dbl

    base = register_views(spark, SF_SMOKE)["embeddings"]
    dim = len(base.first().embedding)
    degenerate = spark.range(1).select(
        F.lit(999_999).alias("vec_id"),
        F.array_repeat(F.lit(0.0).cast("float"), dim).alias("embedding"),
    )
    e = base.select("vec_id", "embedding").unionAll(degenerate).select(
        "vec_id", "embedding", norm(_dbl(F.col("embedding"))).alias("nrm")
    )
    assigned = curation8._assign_to(e, curation8._cell_seeds(e))
    row = assigned.filter(F.col("vec_id") == 999_999).collect()[0]
    min_cid = curation8._cell_seeds(e).agg(F.min("cid").alias("m")).collect()[0].m
    assert row.cid == min_cid
    assert row.best_cos is None  # the sentinel never leaks into best_cos


def test_pretraining_mix_funnel_and_ppm(spark):
    """pipeline_pretraining_mix invariants the oracle hash can't state:
    the funnel is monotone per language (each stage only removes docs),
    every stage keeps something at smoke scale, the per-lang token budget
    is respected, and mix_ppm is exactly the half-up ppm of each lang's
    sampled tokens over the total."""
    from esxsnmp_tsdb_spark.operators import training_mix as tm

    rows = tm.pipeline_pretraining_mix(spark, SF_SMOKE).collect()
    assert sorted(r.lang for r in rows) == sorted(tm.MIX_LANGS)
    total = sum(r.tokens_sampled for r in rows)
    assert total > 0
    for r in rows:
        assert (
            r.docs_quality
            >= r.docs_exact
            >= r.docs_near
            >= r.docs_clean
            >= r.docs_sampled
            > 0
        ), r
        assert 0 < r.tokens_sampled <= tm.MIX_BUDGET_TOKENS, r
        # half-up integer ppm, recomputed exactly
        assert r.mix_ppm == (2 * r.tokens_sampled * 1_000_000 + total) // (
            2 * total
        ), r
    # half-up quantization keeps the shares within ±1 ppm per lang of 1e6
    assert abs(sum(r.mix_ppm for r in rows) - 1_000_000) <= len(rows)


def test_pretraining_mix_dedup_stage_accounting(spark):
    """Stage-removal accounting against independently recomputed fixture
    counts.

    Exact stage: every original passing the quality gate forms an
    identical-text pair with its +100000 copy, and exactly one member of
    each pair is removed — so per lang the stage removes AT LEAST
    orig_q docs (mutant texts colliding with other docs can only remove
    more).

    Near stage: every quality-surviving long (≥10-token) mutant is a
    guaranteed verified duplicate of its original (subset shingle sets:
    J = |B|/|A| = (n-6)/(n-5) ≥ 0.8 ⟺ n ≥ 10, and the original — the
    smallest id of its text group — always survives the exact stage), so
    it is removed by the exact stage (text collision) or the near stage.
    Exact-stage collisions beyond the orig_q pairs are observable as
    extra = (docs_quality - orig_q) - docs_exact, giving the bound
    docs_exact - docs_near ≥ mut10_q - extra per lang."""
    from esxsnmp_tsdb_spark.operators import training_mix as tm

    rows = {
        r.lang: r for r in tm.pipeline_pretraining_mix(spark, SF_SMOKE).collect()
    }
    quality_gate = (
        (F.length("text") >= tm.MIX_MIN_CHARS)
        & (
            tm.MIX_CLEAN_DEN * F.length(F.regexp_replace("text", "[^a-z ]", ""))
            >= tm.MIX_CLEAN_NUM * F.length("text")
        )
        & F.col("lang").isin(*tm.MIX_LANGS)
    )
    docs = register_views(spark, SF_SMOKE)["documents"]
    orig_q = {
        r.lang: r.n
        for r in docs.filter(quality_gate)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    mut10_q = {
        r.lang: r.n
        for r in tm._mix_corpus(docs)
        .filter(
            (F.col("doc_id") >= 200000)
            & quality_gate
            # dense-shingle threshold: 5*(n-6) >= 4*(n-5) <=> n >= 10
            & (F.size(F.split("text", " ")) >= 10)
        )
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for lang, r in rows.items():
        exact_removed = r.docs_quality - r.docs_exact
        assert exact_removed >= orig_q[lang], lang
        extra = exact_removed - orig_q[lang]
        near_removed = r.docs_exact - r.docs_near
        assert near_removed >= mut10_q.get(lang, 0) - extra, lang
        assert near_removed > 0, lang  # the stage demonstrably fires
