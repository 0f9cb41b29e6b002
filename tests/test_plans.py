"""Physical-plan assertions (SURVEY.md §4): pushdown, pruning, join
strategy, top-k, codegen — the properties that decide whether a plan
survives a 100× scale-up, checked mechanically per operator."""

from __future__ import annotations

import pytest

from esxsnmp_tsdb_spark import registry
from esxsnmp_tsdb_spark.plans import (
    assert_contains,
    codegen_span_count,
    plan_str,
    pushed_filters,
    read_schema,
)
from tests.conftest import SF_ORACLE

registry.load_all()
Q = registry.QUERIES


def test_projection_filter_pushdown(spark, sf_encodings):
    df = Q["projection_filter"](spark, sf_encodings)
    # The year range reaches the parquet scan on l_shipdate as stored...
    pf = pushed_filters(df)
    assert "GreaterThanOrEqual(l_shipdate" in pf and "LessThan(l_shipdate" in pf, pf
    # ...and the scan reads only the projected+filter columns, not all 11.
    rs = read_schema(df)
    assert "l_extendedprice" in rs
    assert "l_returnflag" not in rs and "l_discount" not in rs


def test_range_scan_filter_pushdown(spark, sf_encodings):
    df = Q["ts_range_scan"](spark, sf_encodings)
    # The epoch-range predicate MUST land on the parquet scan as pushed
    # filters on ts as stored — a timestamp or a NANOS long — for
    # row-group min/max skipping (the chunk-mapper analog).  A filter on
    # the rebuilt or unix_timestamp()-wrapped column would leave
    # PushedFilters without the range; sources.load_range prevents that.
    pf = pushed_filters(df)
    assert "GreaterThanOrEqual(ts" in pf and "LessThan(ts" in pf, pf
    assert "props" not in read_schema(df)  # unused column pruned


def test_point_lookup_and_last_known_pushdown(spark, sf_encodings):
    # The O(1) slot read and the as-of lookup both carry ts range
    # predicates into the scan (row-group skipping at scale).
    assert "LessThan(ts" in pushed_filters(Q["ts_point_lookup"](spark, sf_encodings))
    assert "LessThan(ts" in pushed_filters(Q["ts_last_known"](spark, sf_encodings))


def test_broadcast_join_is_broadcast(spark):
    assert_contains(Q["broadcast_join"](spark, SF_ORACLE), "BroadcastHashJoin")


def test_sort_merge_join_is_smj(spark):
    assert_contains(Q["sort_merge_join"](spark, SF_ORACLE), "SortMergeJoin")


def test_semi_anti_join_shapes(spark):
    assert "LeftSemi" in plan_str(Q["semi_join"](spark, SF_ORACLE))
    assert "LeftAnti" in plan_str(Q["anti_join"](spark, SF_ORACLE))


def test_topk_is_take_ordered(spark):
    # Global top-k must be per-partition heaps + merge, never a full sort.
    assert_contains(Q["sort_limit_topk"](spark, SF_ORACLE), "TakeOrderedAndProject")


def test_hash_aggregate_partial_final(spark):
    # Two HashAggregate nodes = map-side partial + final (pre-shuffle combine).
    plan = plan_str(Q["hash_aggregate"](spark, SF_ORACLE))
    assert plan.count("HashAggregate") >= 2
    assert codegen_span_count(Q["hash_aggregate"](spark, SF_ORACLE)) >= 1


def test_downsample_single_shuffle(spark):
    # One consolidation = exactly one exchange (partial agg upstream).
    plan = plan_str(Q["ts_downsample_avg"](spark, SF_ORACLE))
    assert plan.count("Exchange") <= 2  # agg shuffle (+AQE read), no extras


def test_asof_join_no_join_explosion(spark):
    # The as-of is the union+window formulation: no Join node at all.
    plan = plan_str(Q["asof_join"](spark, SF_ORACLE))
    assert "Join" not in plan or "SortMergeJoin" not in plan
    assert "Window" in plan


def test_sim_search_broadcasts_query_vector(spark):
    plan = plan_str(Q["sim_search_topk"](spark, SF_ORACLE))
    assert "Broadcast" in plan


def test_day_partitioned_scan_prunes_partitions(spark):
    # The written copy is day-partitioned; the 10-day range query must
    # carry the predicate as PartitionFilters (partition pruning — the
    # chunk-mapper analog for the stored layout).
    plan = plan_str(Q["storage_day_partitioned_scan"](spark, SF_ORACLE))
    assert "PartitionFilters: [" in plan
    assert "isnotnull(day" in plan or "(day" in plan, plan


def test_rolling_1h_single_shuffle_range_frame(spark):
    plan = plan_str(Q["ts_rolling_1h"](spark, SF_ORACLE))
    # One shuffle on path feeds the window; the frame is a RANGE spec.
    assert plan.count("Exchange") <= 2  # window shuffle (+AQE read)
    assert "RangeFrame" in plan or "specifiedwindowframe(RangeFrame" in plan


def test_event_funnel_single_shuffle(spark):
    # Three chained min-windows + per-user reduce ride ONE hash exchange;
    # the only SinglePartition is the final 3-row funnel aggregate.
    plan = plan_str(Q["event_funnel"](spark, SF_ORACLE), mode="simple")
    assert plan.count("Exchange hashpartitioning") == 1


def test_ivf_pq_indexed_prunes_to_one_cell(spark):
    """The ingest-persisted ANN index must make the probe a partition-
    pruned scan: exactly one cell directory is read at query time, and
    the pruning is static (in PartitionFilters, not a post-scan
    Filter)."""
    import glob
    import os

    df = Q["sim_search_ivf_pq_indexed"](spark, SF_ORACLE)
    plan = plan_str(df)
    assert "PartitionFilters: [isnotnull(cell" in plan, plan
    # the literal cell equality rides the partition filter
    assert "(cell" in plan.split("PartitionFilters: [", 1)[1].split("]")[0]
    # pruning is meaningful: the index really has many cell partitions
    from esxsnmp_tsdb_spark.operators.similarity2 import build_ivf_pq_index

    root = build_ivf_pq_index(spark, SF_ORACLE)
    cells = glob.glob(os.path.join(root, "codes", "cell=*"))
    assert len(cells) > 1, cells
    # and an executed probe really reads files from ONE cell directory
    # (inputFiles() lists pre-pruning; input_file_name() is what ran)
    from pyspark.sql import functions as F

    probe = spark.read.parquet(os.path.join(root, "codes")).filter(
        F.col("cell") == 0
    )
    probed = {
        os.path.basename(os.path.dirname(r[0]))
        for r in probe.select(F.input_file_name()).distinct().collect()
    }
    assert probed == {"cell=0"}, probed


def test_lsh_indexed_prunes_to_one_bucket(spark):
    """The persisted LSH bucket index: the probe is a statically
    partition-pruned scan of the query's bucket directory."""
    df = Q["sim_search_lsh_indexed"](spark, SF_ORACLE)
    plan = plan_str(df)
    assert "PartitionFilters: [isnotnull(bucket" in plan, plan
    assert "(bucket" in plan.split("PartitionFilters: [", 1)[1].split("]")[0]


def test_utilization_report_single_exchange(spark):
    """The counter window, delta window, and the per-series rollup must
    all ride ONE hashpartitioning(path) exchange; the capacity dim joins
    broadcast.  A second Exchange would mean the rollup re-shuffles what
    the window already co-located."""
    import re

    spark.catalog.clearCache()  # a cached twin from another test module
    # would splice an InMemoryRelation into the plan and double-count
    p = plan_str(Q["ts_utilization_report"](spark, SF_ORACLE))
    assert "BroadcastHashJoin" in p
    # formatted-plan node list: "(n) Exchange" is a shuffle,
    # "(n) BroadcastExchange" is not
    n_shuffles = len(re.findall(r"\(\d+\) Exchange\b", p))
    assert n_shuffles == 1, f"expected 1 hash exchange, plan has {n_shuffles}"


def test_blocklist_joins_broadcast(spark):
    """The term list must broadcast against the exploded token stream —
    never shuffle tokens on the term key."""
    p = plan_str(Q["blocklist_filter"](spark, SF_ORACLE))
    assert "BroadcastHashJoin" in p
    assert "Generate" in p and "explode" in p


def test_late_data_report_single_exchange(spark):
    import re

    spark.catalog.clearCache()  # see test_utilization_report_single_exchange
    p = plan_str(Q["ingest_late_data_report"](spark, SF_ORACLE))
    n_shuffles = len(re.findall(r"\(\d+\) Exchange\b", p))
    assert n_shuffles == 1, f"expected 1 hash exchange, plan has {n_shuffles}"


def test_seasonal_anomaly_profile_broadcasts(spark):
    """The class profile (classes x 48 rows) must broadcast back onto the
    fact side: exactly ONE hash exchange (the profile group-by) — the
    scored obs stream itself is never shuffled."""
    import re

    spark.catalog.clearCache()  # see test_utilization_report_single_exchange
    p = plan_str(Q["ts_seasonal_anomaly"](spark, SF_ORACLE))
    assert "BroadcastHashJoin" in p
    n_shuffles = len(re.findall(r"\(\d+\) Exchange\b", p))
    assert n_shuffles == 1, f"expected 1 hash exchange, plan has {n_shuffles}"


def test_sla_maintenance_no_per_path_spine(spark):
    """The maintenance calendar aggregates to ONE scalar row and joins as
    a broadcast (BroadcastNestedLoopJoin); the per-path side is the
    two-phase distinct aggregate, the path-universe distinct (which the
    up-counts join as a broadcast-hash, not a shuffle), and the
    calendar's own scalar agg — four exchanges, none proportional to
    paths x slots."""
    import re

    spark.catalog.clearCache()
    p = plan_str(Q["ts_sla_maintenance_window"](spark, SF_ORACLE))
    assert "BroadcastNestedLoopJoin" in p  # 1-row calendar
    assert "CartesianProduct" not in p
    n_shuffles = len(re.findall(r"\(\d+\) Exchange\b", p))
    assert n_shuffles <= 4, f"expected <=4 hash exchanges, plan has {n_shuffles}"


def test_semdedup_plan_shape(spark):
    """Centroids broadcast against the corpus (BroadcastNestedLoopJoin is
    the k-way scoring fan-out), the argmax assignment partial-aggregates
    map-side (a partial_max_by SortAggregate below the vec_id exchange —
    sort-based because the carried embedding array is not hash-
    aggregable — so N rows shuffle, never N×K), and the in-cell prune is
    ONE Arrow-batched applyInPandas keyed on cid (FlatMapGroupsInPandas)
    — never an unblocked pairwise square, never row-at-a-time Python."""
    spark.catalog.clearCache()
    p = plan_str(Q["dedup_semantic_cells"](spark, SF_ORACLE))
    assert "BroadcastNestedLoopJoin" in p  # corpus x broadcast centroids
    assert "FlatMapGroupsInPandas" in p  # per-cell BLAS prune
    assert "BatchEvalPython" not in p  # ... and nothing row-at-a-time
    assert "CartesianProduct" not in p
    # the scored fan-out must partial-aggregate before it shuffles: the
    # N×K rows fold to N map-side, so the vec_id exchange moves one row
    # per vector
    assert "partial_max_by" in p, "argmax lost its map-side combine"


def test_incremental_dedup_reads_index_not_corpus(spark):
    """The incremental dedup ops' whole point is batch-proportional cost:
    the corpus side of the probe join must be a read of the persisted
    index, never a recompute from raw — so the raw table appears exactly
    once in the plan (the batch side), and the index path appears."""
    spark.catalog.clearCache()
    p = plan_str(Q["dedup_minhash_indexed"](spark, SF_ORACLE))
    assert p.count("documents.parquet") == 1, "corpus re-shingled from raw"
    assert "minhash_index" in p  # persisted signature scan
    assert "CartesianProduct" not in p

    spark.catalog.clearCache()
    p2 = plan_str(Q["dedup_semantic_indexed"](spark, SF_ORACLE))
    assert p2.count("embeddings.parquet") == 1, "corpus re-assigned from raw"
    assert "semcell_index" in p2  # persisted centroid + member scans
    assert "BroadcastNestedLoopJoin" in p2  # batch x broadcast centroids
    assert "CartesianProduct" not in p2


def test_smallbatch_probe_broadcasts_batch_never_index(spark):
    """The small-arriving-batch probe's scale invariant: the BATCH side
    of the (band, sig) join broadcasts and the persisted index streams
    map-side — so the index is never exchanged no matter how large the
    corpus grows, and the index scan is dynamically partition-pruned to
    the bands the batch actually touches.  Every documents scan in the
    plan must be the filtered batch slice (the DPP subquery re-derives
    the batch; that is batch-proportional, not a corpus recompute)."""
    spark.catalog.clearCache()
    df = Q["dedup_minhash_indexed_smallbatch"](spark, SF_ORACLE)
    p = plan_str(df, "simple")
    assert "BroadcastHashJoin" in p
    assert "minhash_index" in p  # persisted signature scan
    # the probe keys are NEVER a shuffle key: the only exchanges are the
    # batch's own minhash agg / fan-out and the hits DISTINCT
    assert "hashpartitioning(band" not in p, "index side was exchanged"
    # the broadcast subtree is the batch, not the index: in DFS print
    # order the first scan after a BroadcastExchange is inside it
    after = p.split("BroadcastExchange", 1)[1]
    first_scan = after[after.index("FileScan") :].splitlines()[0]
    assert "minhash_index" not in first_scan, "the INDEX was broadcast"
    assert "documents.parquet" in first_scan
    # index scan is DPP-pruned on band by the broadcast batch
    assert "dynamicpruning" in p
    # no unfiltered corpus scan: every documents scan carries the
    # batch-slice filter in its pushed DataFilters
    doc_scans = [l for l in p.splitlines() if "documents.parquet" in l]
    assert doc_scans and all("% 97" in l for l in doc_scans), (
        "unfiltered corpus scan"
    )


def test_sqrtn_semantic_probe_reads_sqrtn_index(spark):
    """The √N-seeded semantic probe must read its own stride-suffixed
    index directory (not the mod-50 default), scan raw embeddings once
    (the batch side), and keep the batch×centroids assignment as a
    broadcast nested loop — same shape as the static-stride sibling,
    different (√N) cell geometry."""
    spark.catalog.clearCache()
    p = plan_str(Q["dedup_semantic_indexed_sqrtn"](spark, SF_ORACLE))
    assert p.count("embeddings.parquet") == 1, "corpus re-assigned from raw"
    import math

    import duckdb

    from esxsnmp_tsdb_spark.operators.curation8 import CELL_SEED_MOD

    n = duckdb.connect().execute(
        f"SELECT count(*) FROM '{SF_ORACLE}/embeddings.parquet'"
    ).fetchone()[0]
    stride = max(1, math.ceil(math.sqrt(n)))
    # Same suffix rule as build_semantic_cell_index: when the
    # sqrt(N) stride happens to equal CELL_SEED_MOD the index reuses the
    # default (suffix-less) directory — hard-coding "__m{stride}/" would
    # fail on a ~CELL_SEED_MOD²-vector fixture despite correct behavior.
    suffix = "" if stride == CELL_SEED_MOD else f"__m{stride}"
    assert f"semcell_index__{SF_ORACLE.strip('/').replace('/', '_')}{suffix}/" in p, (
        "probe not reading the sqrt(N)-stride index dir"
    )
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p


def test_winnowing_join_on_fingerprint_aggregate(spark):
    """Fingerprint selection is a bounded ROWS window; every join keys on
    the fingerprint or doc_id (equi — at sf0.001 AQE broadcasts the small
    fp aggregate, at scale it degrades to a shuffle hash join on fp);
    the doc-pair square must never appear as a nested-loop."""
    spark.catalog.clearCache()
    p = plan_str(Q["doc_winnowing_overlap"](spark, SF_ORACLE))
    assert "BroadcastHashJoin" in p  # sizes dim + (at this sf) fp join
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_topk_report_ops_use_takeordered(spark):
    """Global top-k in the diagnostics/report ops must plan as
    TakeOrderedAndProject (k rows per partition to the driver), never a
    global sort or single-partition window."""
    for key in ("skew_key_report", "bpe_merge_pair_step"):
        spark.catalog.clearCache()
        p = plan_str(Q[key](spark, SF_ORACLE))
        assert "TakeOrderedAndProject" in p, key


def test_single_exchange_report_ops(spark):
    """MTBF/MTTR and the k-anonymity screen are one-shuffle shapes: the
    lag window + rollup share the path partitioning / the QI group-by is
    the only exchange."""
    import re

    for key in ("ts_mtbf_mttr", "privacy_k_anonymity"):
        spark.catalog.clearCache()
        p = plan_str(Q[key](spark, SF_ORACLE))
        n = len(re.findall(r"\(\d+\) Exchange\b", p))
        assert n == 1, f"{key}: expected 1 hash exchange, got {n}"


def test_pit_join_is_keyed_not_cartesian(spark):
    """The SCD2 point-in-time join must key on the business key with the
    validity window as residual — a nested-loop or cartesian here means
    the range predicate swallowed the equi key."""
    spark.catalog.clearCache()
    p = plan_str(Q["scd2_point_in_time_join"](spark, SF_ORACLE))
    assert ("BroadcastHashJoin" in p) or ("SortMergeJoin" in p)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_minhash_eval_scans_signature_stage_once(spark):
    """The dedup-eval tail: both eval ops must serve
    every consumer branch from checkpointed shingle/signature tables —
    a refactor that drops the localCheckpoint re-derives the shingle
    explode per join side and silently multiplies the corpus pass."""
    spark.catalog.clearCache()
    p = plan_str(Q["minhash_jaccard_estimate"](spark, SF_ORACLE))
    # all seven consumer branches read the two checkpoints...
    assert "Scan ExistingRDD" in p
    # ...and the raw corpus is scanned ZERO times in the final plan
    assert "documents.parquet" not in p, "shingle stage re-derived from raw"

    spark.catalog.clearCache()
    p2 = plan_str(Q["minhash_band_sensitivity"](spark, SF_ORACLE))
    assert "Scan ExistingRDD" in p2
    # the only permitted raw scan is the 1-row n_docs count
    assert p2.count("documents.parquet") <= 1, "signature stage re-derived"
