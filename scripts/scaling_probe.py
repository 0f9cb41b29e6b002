#!/usr/bin/env python
"""Measured scale-up probe: does the engine's wall time grow linearly
with the data, with an unchanged shuffle count?

Local mode cannot demonstrate a 1000-executor cluster, but it CAN
falsify the scaling claim cheaply: replicate the `events` fixture N×
along the SERIES axis (user_id/event_type make the obs path, so offset
user_id per replica — the 100 TB growth axis is more interfaces, not a
longer window), keep every other fixture identical, and time the
obs-path operators warm at 1× and N×.  A plan that funnels through one
task, re-shuffles per consumer, or grows its exchange count shows
super-linear time here; a partition-parallel plan shows ~N× on the
explode/shuffle-heavy ops and less on ops dominated by fixed per-job
overhead.

    python scripts/scaling_probe.py            # N=10, default ops
    python scripts/scaling_probe.py --factor 4 --ops ts_rate,ts_downsample_avg

Prints one JSON line: per-op {1x, Nx, ratio} plus the exchange counts
read from each plan (must be equal at both scales).

The event_id offset per replica is a multiple of 10 so the derived
flags distribution (event_id % 10) is preserved exactly.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from esxsnmp_tsdb_spark import registry
from esxsnmp_tsdb_spark.operators._workdirs import op_dir
from esxsnmp_tsdb_spark.plans import plan_str
from esxsnmp_tsdb_spark.session import get_session
from esxsnmp_tsdb_spark.sources.catalog import TABLES

BASE_SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DEFAULT_OPS = (
    "ts_range_scan",
    "ts_slot_dedup",
    "ts_rate",
    "ts_downsample_avg",
    "ts_agg_cascade",
    "ts_bin_split",
    "range_interval_join",  # r7: the events-side range self-join
)
DEFAULT_DOC_OPS = (
    "dedup_exact",
    "dedup_near_minhash",
    "dedup_minhash_indexed",  # r7: the persisted band-index probe path
    "text_tokenize_stats",
    "quality_filter_funnel",
    "pipeline_pretraining_mix",
)
# The join-heavy relational family, scaled along
# the orders/lineitem axis (orders AND lineitem replicated together so
# l_orderkey keeps its referent).  tpch_q1 is the scan-agg control.
DEFAULT_TPCH_OPS = ("tpch_q1", "tpch_q5", "tpch_q18")
# The indexed-similarity family on the embeddings axis; brute-force
# sim_search_topk is the linear control.
DEFAULT_EMB_OPS = (
    "sim_search_topk",
    "sim_search_ivf_pq_indexed",
    "dedup_semantic_indexed",
)


def _write_scaled(spark, tables: dict, factor: int, workdir: str) -> str:
    """Shared scaffolding: for each ``table -> replica_fn`` union
    ``factor`` replicas (replica k built by ``replica_fn(base_df, k)``),
    write to a scratch dir, and symlink every other fixture from
    BASE_SF."""
    d = op_dir(workdir, fresh=True)
    for table, replica_fn in tables.items():
        base = spark.read.parquet(f"{BASE_SF}/{table}.parquet")
        scaled = replica_fn(base, 0)
        for k in range(1, factor):
            scaled = scaled.unionAll(replica_fn(base, k))
        scaled.write.mode("overwrite").parquet(f"{d}/{table}.parquet")
    for t in TABLES:
        if t in tables:
            continue
        os.symlink(f"{BASE_SF}/{t}.parquet", f"{d}/{t}.parquet")
    return d


def build_scaled_dir(spark, factor: int) -> str:
    """events replicated ``factor``× along the series axis; every other
    table symlinked from BASE_SF."""
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{BASE_SF}/events.parquet")
    bounds = ev.agg(
        F.max("user_id").alias("mu"), F.max("event_id").alias("me")
    ).collect()[0]
    u_off = int(bounds.mu) + 1
    e_off = (int(bounds.me) // 10 + 1) * 10  # multiple of 10: flags preserved

    def replica(base, k):
        return base.select(
            (F.col("event_id") + k * e_off).alias("event_id"),
            "ts",
            (F.col("user_id") + k * u_off).alias("user_id"),
            "event_type",
            "value",
            "props",
        )

    return _write_scaled(spark, {"events": replica}, factor, "scaling_probe")


def build_scaled_docs_dir(spark, factor: int) -> str:
    """documents replicated ``factor``× along the corpus axis.  Replica
    texts get a distinct ``r<k>`` prefix token so shingle/hash volume
    grows linearly (the non-duplicate 100 TB corpus shape) instead of
    manufacturing factor-sized duplicate groups whose pair counts would
    grow quadratically by construction.  The doc_id offset is derived
    from the fixture as a multiple of 970 (= 97·10) so the EVAL_MOD
    eval-slice membership and every mod-10 derived property are
    preserved per replica; the whole scaled id range must stay below the
    +100000 manufactured-copy arm the dedup ops add, or replica ids
    would collide with copy ids and pair counts would explode
    quadratically — asserted, not assumed."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{BASE_SF}/documents.parquet")
    max_id = int(docs.agg(F.max("doc_id").alias("m")).collect()[0].m)
    off = (max_id // 970 + 1) * 970
    if (factor - 1) * off + max_id >= 100_000:
        raise SystemExit(
            f"--factor {factor} on max doc_id {max_id} would push replica "
            f"ids into the +100000 manufactured-copy range; use a smaller "
            f"factor or fixture"
        )

    def replica(base, k):
        return base.select(
            (F.col("doc_id") + k * off).alias("doc_id"),
            (
                F.col("text")
                if k == 0
                else F.concat(F.lit(f"r{k} "), F.col("text"))
            ).alias("text"),
            "lang",
            "source",
            (
                F.col("n_chars")
                if k == 0
                else (F.col("n_chars") + len(f"r{k} ")).alias("n_chars")
            ),
        )

    return _write_scaled(spark, {"documents": replica}, factor, "scaling_probe_docs")


def build_scaled_tpch_dir(spark, factor: int) -> str:
    """orders AND lineitem replicated ``factor``× along the orders axis
    (more orders per customer — the TPC-H fact-growth shape; dimensions
    stay fixed).  Both tables get the SAME orderkey offset so every
    replica lineitem still joins its replica order.  The offset is a
    multiple of 630 = lcm(7, 45, 30), the moduli behind the derived
    shipmode/commitdate/receiptdate columns (tpch2.LINEITEM_EXT_CTE), so
    filter selectivities are preserved exactly per replica and the
    linearity claim is about the engine, not drifting predicates."""
    from pyspark.sql import functions as F

    orders = spark.read.parquet(f"{BASE_SF}/orders.parquet")
    max_ok = int(orders.agg(F.max("o_orderkey").alias("m")).collect()[0].m)
    off = (max_ok // 630 + 1) * 630

    def orders_replica(base, k):
        # keep ALL columns (offset in place) so a fixture schema change
        # cannot silently drop columns from the scaled dir
        return base.withColumn("o_orderkey", F.col("o_orderkey") + k * off)

    def lineitem_replica(base, k):
        return base.select(
            (F.col("l_orderkey") + k * off).alias("l_orderkey"),
            *[c for c in base.columns if c != "l_orderkey"],
        )

    return _write_scaled(
        spark,
        {"orders": orders_replica, "lineitem": lineitem_replica},
        factor,
        "scaling_probe_tpch",
    )


def build_scaled_emb_dir(spark, factor: int) -> str:
    """embeddings replicated ``factor``× along the corpus axis.  Replica
    vectors are ROTATED by k positions (norm-preserving, direction-
    changing) so replicas spread across IVF cells / LSH buckets instead
    of piling degenerate mass into the 1× cells — the realistic
    more-documents shape.  The vec_id offset is a multiple of
    4850 = lcm(25, 50, 97): the centroid-seed rules (vec_id % 25 / % 50
    == 0, similarity2/curation8) and the query-batch rule (% 97 == 3,
    similarity.BATCH_Q_MOD) then hold with identical density per
    replica — the cell count grows with the corpus exactly as a
    re-trained IVF would."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{BASE_SF}/embeddings.parquet")
    row = emb.select(
        F.max("vec_id").alias("m"),
        F.max(F.size("embedding")).alias("dim"),
        F.min(F.size("embedding")).alias("dim_min"),
    ).collect()[0]
    off = (int(row.m) // 4850 + 1) * 4850
    dim = int(row.dim)
    # The rotation below slices [rot+1 .. dim] + [1 .. rot]; a shorter
    # vector would be silently truncated/mis-rotated, skewing the probe.
    assert int(row.dim_min) == dim, (
        f"ragged embedding fixture: size range [{row.dim_min}, {dim}]"
    )

    def replica(base, k):
        rot = k % dim
        vec = (
            F.col("embedding")
            if rot == 0
            else F.concat(
                F.slice("embedding", rot + 1, dim - rot),
                F.slice("embedding", 1, rot),
            )
        )
        return base.select(
            (F.col("vec_id") + k * off).alias("vec_id"),
            vec.alias("embedding"),
            "label",
        )

    return _write_scaled(spark, {"embeddings": replica}, factor, "scaling_probe_emb")


def time_op(spark, build_df, sf_dir: str, passes: int = 3) -> float:
    """``build_df``: (spark, sf_dir) -> DataFrame (registry callable or a
    --batch-fixed builder)."""
    best = float("inf")
    for _ in range(passes):
        t0 = time.time()
        build_df(spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = min(best, time.time() - t0)
    return round(best, 3)


# --batch-fixed: the default probe scales the indexed
# dedup ops' ARRIVING BATCH together with the corpus (the batch is
# manufactured from the corpus table), so both join sides grow N× and the
# ratio over-reads.  The real incremental-ingest shape is a batch that is
# both FIXED and SMALL relative to the corpus — the ~1% `% 97 == 3` slice
# (the convention similarity.BATCH_Q_MOD established) of the 1× fixture.
# Small matters as much as fixed: a batch the size of the whole 1× corpus
# touches every index cell, so the members read cannot partition-prune and
# the centroid-assignment term (batch × cells) grows with the corpus no
# matter how the index is laid out.  With a small batch, DPP prunes the
# cell read to the touched cells and per-cell membership stays flat, so
# probe time should grow ≪ the corpus factor.  Builders reuse the ops' own
# library functions — same plan, only the batch source differs.
BATCH_FIXED_OPS = {
    "dedup_minhash_indexed": ("documents", "documents", "doc_id"),
    "dedup_semantic_indexed": ("embeddings", "embeddings", "vec_id"),
    # the registered sqrt(N) deployment rule: the SCALED corpus's index is
    # seeded at the op's own census-derived stride (ceil(sqrt(N))), no
    # --seed-scale flag needed — this is the probe point that shows the
    # batch x cells assignment term staying sub-linear
    "dedup_semantic_indexed_sqrtn": ("embeddings", "embeddings", "vec_id"),
}
BATCH_FIXED_MOD = 97  # id % 97 == 3 — similarity.BATCH_Q_MOD convention


def batch_fixed_builder(spark, key: str, sqrt_seed_factor: int | None = None):
    from pyspark.sql import functions as F

    from esxsnmp_tsdb_spark.operators import dedup2
    from esxsnmp_tsdb_spark.sources.catalog import load_table

    _, table, id_col = BATCH_FIXED_OPS[key]
    batch = load_table(spark, BASE_SF, table).filter(
        F.col(id_col) % BATCH_FIXED_MOD == 3
    )  # path-bound: stays 1×, ~1% of the 1× corpus
    if key == "dedup_minhash_indexed":
        batch = batch.select("doc_id", "text")
        return lambda spark, sf: dedup2.minhash_index_hits(
            spark, sf, batch_docs=batch, broadcast_batch=True
        )

    if key == "dedup_semantic_indexed_sqrtn":
        # the registered op's own census-derived stride, applied to BOTH
        # scales — the deployment shape end-to-end, no override knob
        return lambda spark, sf: dedup2.semantic_index_hits(
            spark,
            sf,
            batch_emb=batch,
            broadcast_batch=True,
            seed_mod=dedup2.sqrtn_stride(spark, sf),
        )

    # --seed-scale sqrt: the SCALED corpus's index is seeded at
    # CELL_SEED_MOD × √factor — the √N deployment sizing rule
    # (docs/CLUSTER.md) — while the 1× index keeps the default stride.
    # Isolates the C ∝ N assignment/listing term the default seeding
    # leaves in the batch-fixed ratio.
    def build(spark, sf):
        mod = None
        if sqrt_seed_factor and sf != BASE_SF:
            from esxsnmp_tsdb_spark.operators.curation8 import CELL_SEED_MOD

            mod = CELL_SEED_MOD * max(1, math.isqrt(sqrt_seed_factor))
        return dedup2.semantic_index_hits(
            spark, sf, batch_emb=batch, broadcast_batch=True, seed_mod=mod
        )

    return build


AXES = {
    "events": (build_scaled_dir, DEFAULT_OPS),
    "documents": (build_scaled_docs_dir, DEFAULT_DOC_OPS),
    "lineitem": (build_scaled_tpch_dir, DEFAULT_TPCH_OPS),
    "embeddings": (build_scaled_emb_dir, DEFAULT_EMB_OPS),
}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--table", choices=tuple(AXES), default="events")
    ap.add_argument("--ops", default=None)
    ap.add_argument(
        "--seed-scale",
        choices=("default", "sqrt"),
        default="default",
        help="with --batch-fixed on the embeddings axis: seed the SCALED "
        "index at CELL_SEED_MOD*sqrt(factor) (the deployment sizing rule) "
        "instead of the oracle-static stride",
    )
    ap.add_argument(
        "--batch-fixed",
        action="store_true",
        help="hold the indexed-dedup arriving batch at 1x while the "
        "corpus/index scales (the incremental-ingest shape); restricts "
        "ops to the axis's BATCH_FIXED_OPS",
    )
    args = ap.parse_args()
    build, defaults = AXES[args.table]
    if args.batch_fixed:
        defaults = tuple(
            k for k, (axis, *_) in BATCH_FIXED_OPS.items() if axis == args.table
        )
        if not defaults:
            raise SystemExit(f"--batch-fixed has no ops on the {args.table} axis")
    ops = [o for o in (args.ops or ",".join(defaults)).split(",") if o]
    if args.batch_fixed:
        bad = [o for o in ops if o not in defaults]
        if bad:
            raise SystemExit(
                f"--batch-fixed supports only {sorted(defaults)} on the "
                f"{args.table} axis; got {bad}"
            )

    registry.load_all()
    spark = get_session()
    scaled = build(spark, args.factor)

    out = {
        "factor": args.factor,
        "table": args.table,
        "base_sf": BASE_SF,
        # time_op's min-of-3 is UNGUARDED (no steal guard, by
        # design — the probe is cheap and re-runnable); on a noisy host a
        # ratio can read super-linear spuriously.  The exchange-count
        # equality is the noise-immune signal; treat a bad ratio as a
        # prompt to re-measure under bench.py's guarded discipline.
        "timing_note": "ratios unguarded min-of-3; exchange counts are the noise-immune signal",
        "ops": {},
    }
    if args.batch_fixed:
        out["batch_fixed"] = True
        if args.seed_scale != "default":
            out["seed_scale"] = args.seed_scale
    for key in ops:
        build_df = (
            batch_fixed_builder(
                spark,
                key,
                sqrt_seed_factor=(
                    args.factor if args.seed_scale == "sqrt" else None
                ),
            )
            if args.batch_fixed
            else registry.QUERIES[key]
        )
        ex1 = plan_str(build_df(spark, BASE_SF), "simple").count("Exchange")
        exn = plan_str(build_df(spark, scaled), "simple").count("Exchange")
        t1 = time_op(spark, build_df, BASE_SF)
        tn = time_op(spark, build_df, scaled)
        out["ops"][key] = {
            "t_1x": t1,
            f"t_{args.factor}x": tn,
            "ratio": round(tn / t1, 2) if t1 else None,
            "exchanges_1x": ex1,
            f"exchanges_{args.factor}x": exn,
        }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
