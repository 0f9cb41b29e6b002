#!/usr/bin/env python
"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is materialized through the JVM-side `noop` sink — full plan
execution, no driver-side row transfer, so the number is the engine's wall
time, not pandas serialization.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from esxsnmp_tsdb_spark import registry
from esxsnmp_tsdb_spark.plans import plan_violations
from esxsnmp_tsdb_spark.session import get_session

# One headline per operator family (SURVEY.md §2.1-§2.6).
HEADLINE = [
    "ts_range_scan",        # §2.1 chunk-pruned scan
    "ts_slot_dedup",        # §2.1 last-write-wins window
    "ts_time_spine",        # §2.1 dense grid join
    "ts_rate",              # §2.2 counter → rate
    "ts_downsample_avg",    # §2.2 consolidation (flagship)
    "ts_agg_cascade",       # §2.2 two-level ladder
    "ts_bin_split",         # §2.2 boundary allocation (explode-heavy)
    "hash_aggregate",       # §2.4 TPC-H Q1 shape
    "tpch_q3",              # §2.4 3-way join + top-k
    "tpch_q5",              # §2.4 6-way join
    "tpch_q18",             # §2.4 HAVING semi-join
    # The two most expensive registered TPC-H shapes: q9 is the widest
    # multi-join (6 tables, part-filtered fact explosion), q21 stacks
    # semi- + anti-join over a self-joined lineitem; both are the shapes
    # most likely to catch a join-strategy regression first.  The guard
    # seeds per-query history, so growing the set never resets it.
    "tpch_q9",              # §2.4 6-way join + profit rollup
    "tpch_q21",             # §2.4 semi+anti self-join stack
    "hash_join_inner",      # §2.4 fact⋈dim shuffle join
    "broadcast_join",       # §2.4 broadcast fact⋈dim
    "asof_join",            # §2.4 union+window as-of
    "window_rank",          # §2.4 top-k per group
    "sort_limit_topk",      # §2.4 TakeOrdered
    "dedup_near_minhash",   # §2.5 LSH dedup
    "quality_filter_funnel",  # §2.5 curation funnel (conditional agg)
    "sim_search_topk",      # §2.5 vector top-k
    "text_tokenize_stats",  # §2.5 explode-aggregate
    "multimodal_decode",    # §2.5 Pandas-UDF path
    # The 5 slowest full-sweep ops: the dedup-eval /
    # clustering family now rides the same steal-guarded min-of-N
    # discipline as the rest of the headline, so a reuse regression in
    # the checkpointed signature/cell stages shows up per-round.
    "dedup_connected_components",  # §2.5 large-star/small-star CC
    "dedup_semantic_cells",        # §2.5 SemDeDup intra-cell prune
    "minhash_jaccard_estimate",    # §2.5 sketch-accuracy eval
    "dedup_cluster_size_stats",    # §2.5 CC + size rollup
    "dedup_threshold_sweep",       # §2.5 cosine threshold sweep
    # The composed pretraining recipe — the flagship multi-stage
    # chain (quality → exact → verified-near dedup → decontaminate →
    # budget → manifest) rides the same guarded min-of-N discipline, so
    # a reuse regression in its shared shingle/signature checkpoints
    # shows up in its own timing.  The guard seeds per-query history,
    # so a headline-set change never resets it.
    "pipeline_pretraining_mix",    # §2.5 composed pipeline
    # The two registered incremental-ingest probe shapes — the
    # small broadcast batch against the persisted minhash index, and the
    # sqrt(N)-seeded semantic cell index (the 100 TB deployment sizing).
    "dedup_minhash_indexed_smallbatch",  # §2.5 broadcast-batch index probe
    "dedup_semantic_indexed_sqrtn",      # §2.5 sqrt(N)-cell index probe
]

# The §2.1/§2.2 window family `sources.load_obs` routes onto the bucketed
# obs layout: the ops the bucketed_vs_flat block below re-times routed,
# and that `scripts/shuffle_audit.py --bucketed` audits routed.
BUCKETED_KEYS = (
    "ts_slot_dedup",
    "ts_rate",
    "ts_downsample_avg",
    "ts_agg_cascade",
    "ts_bin_split",
)


def materialize(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def read_steal_s() -> float | None:
    """Host-wide CPU steal (seconds since boot) from /proc/stat — the
    mechanical form of the host-noise evidence BASELINE.md carries in
    prose: a bench record with high steal delta is a
    noisy-host record, and a future reader can verify that from the
    artifact instead of trusting the narrative."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
        # cpu user nice system idle iowait irq softirq steal ...
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_session("bench")
    queries = registry.queries()

    # SPARK_GRAFT_BENCH_ALL=1: time every registered batch op (full per-op
    # table for BASELINE.md), not just the headline set.  Streaming ops and
    # the write op run eagerly with checkpoint setup dominating — excluded.
    bench_set = HEADLINE
    sweep_seed = None
    if os.environ.get("SPARK_GRAFT_BENCH_ALL") == "1":
        skip = {k for k in queries if k.startswith("stream_")} | {
            "ingest_batch_append"
        }
        bench_set = sorted(k for k in queries if k not in skip)
        # Seed-randomized sweep order: the sweep is single-pass, so with
        # alphabetical order any late-run host steal always lands on the
        # same ops (the `ts_*` tail), masquerading as a family
        # regression.  A seeded
        # shuffle de-correlates op identity from run position while
        # keeping the order reproducible: the seed is recorded in the
        # artifact, and diff_sweep.py compares per-op times by KEY, so
        # differing orders across rounds never affect the diff protocol.
        import random

        sweep_seed = int(os.environ.get("SPARK_GRAFT_SWEEP_SEED", "12"))
        random.Random(sweep_seed).shuffle(bench_set)

    # JIT/session warmup outside timed region.
    materialize(queries["scan_parquet"](spark, sf_dir))

    # min-of-N per query: this VM sees sporadic host CPU steal; the min is
    # the engine's achievable time, the noise is the host's.
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "2"))
    violations: dict[str, list[str]] = {}
    for key in bench_set:
        # Plan hygiene gate (outside the timed region): the bench is also
        # a plan regression test — zero single-partition windows, zero
        # cartesians, zero row-at-a-time Python UDFs in what it times.
        bad = plan_violations(queries[key](spark, sf_dir))
        if bad:
            violations[key] = bad

    def timed_pass(per_query: dict[str, float]) -> None:
        for key in bench_set:
            best = per_query.get(key, float("inf"))
            for _ in range(repeats):
                t0 = time.perf_counter()
                materialize(queries[key](spark, sf_dir))
                best = min(best, time.perf_counter() - t0)
            per_query[key] = round(best, 3)
            # Keep accumulated shuffle/broadcast state of earlier queries
            # from bleeding into the next measurement (one local JVM).
            spark.sparkContext._jvm.System.gc()

    # Steal guard: this VM sees sporadic host CPU
    # steal, so a slow run must be distinguished from a slow build.  The
    # guard seeds a PER-QUERY historical best map from every prior BENCH
    # record at the same sf — not just records whose headline set matches
    # exactly — and compares this run against history on the overlapping
    # subset.  That way growing/shrinking the headline set (r5 grew it
    # 21 → 26 and silently dropped to one unguarded pass) never resets the
    # guard: queries with history are still guarded, brand-new queries are
    # simply outside the comparison until their first record lands.
    # One pass over the BENCH_r*.json history extracts BOTH per-query
    # flat bests (this guard) and bucketed bests (the routed re-pin
    # below), so the history files are globbed and parsed once.
    hist_q: dict[str, float] = {}
    bkt_hist: dict[str, float] = {}
    if bench_set is HEADLINE:
        import glob

        here = os.path.dirname(os.path.abspath(__file__))
        # Driver records at the root PLUS the committed quiet-window
        # smoke records under docs/: the smoke
        # floor is this host's true historical best — seeding the guard
        # from it re-pins suspects against the quiet floor instead of a
        # steal-inflated driver record.
        records = sorted(glob.glob(os.path.join(here, "BENCH_r*.json")))
        records += sorted(
            glob.glob(os.path.join(here, "docs", "BENCH_r*_smoke*.json"))
        )
        for f in records:
            try:
                rec = json.load(open(f))
            except (ValueError, OSError):
                continue
            rec = rec.get("parsed", rec)  # driver wraps the bench line
            if not rec or str(rec.get("sf")) != sf:
                continue  # different fixture scale
            for k, v in rec.get("queries", {}).items():
                if isinstance(v, (int, float)):
                    hist_q[k] = min(hist_q.get(k, float("inf")), v)
            for k, v in (rec.get("bucketed_vs_flat") or {}).items():
                if isinstance(v, dict) and isinstance(
                    v.get("bucketed_s"), (int, float)
                ):
                    bkt_hist[k] = min(
                        bkt_hist.get(k, float("inf")), v["bucketed_s"]
                    )
    covered = [k for k in bench_set if k in hist_q]
    best_hist = round(sum(hist_q[k] for k in covered), 3) if covered else None

    steal_t0 = read_steal_s()
    per_query: dict[str, float] = {}
    timed_pass(per_query)
    passes = 1
    max_passes = int(os.environ.get("SPARK_GRAFT_BENCH_MAX_PASSES", "3"))
    while (
        best_hist is not None
        and sum(per_query[k] for k in covered) > 1.3 * best_hist
        and passes < max_passes
    ):
        timed_pass(per_query)
        passes += 1

    # Per-op re-pin: the 1.3x total gate misses a single-op outlier (one
    # GC-unlucky query can read 2x its floor while the total stays under
    # the gate — r5 recorded ts_bin_split at 1.68x baseline this way).
    # Re-time just the ops far above their own history, min-folding;
    # bounded, so a genuine regression still terminates and reports.
    for _ in range(max_passes):
        suspects = [k for k in covered if per_query[k] > 1.5 * hist_q[k]]
        if not suspects:
            break
        for key in suspects:
            for _r in range(repeats):
                t0 = time.perf_counter()
                materialize(queries[key](spark, sf_dir))
                per_query[key] = min(
                    per_query[key], round(time.perf_counter() - t0, 3)
                )
            spark.sparkContext._jvm.System.gc()

    # Bucketed-vs-flat side-by-side: the registered BUCKETED_KEYS ops
    # re-timed with `sources.load_obs` routed onto the OBS_TABLE_DDL
    # bucketed layout (storage2.bucketed_obs_table), next to the flat
    # numbers just measured — the exchange savings the 4096-bucket claim
    # in docs/CLUSTER.md rests on, measured on the production query, not
    # a copy of it.  One routed measurement per op fills both the
    # `routed_*` and the `bucketed_*` fields; flat-vs-routed value parity
    # is pinned in tests/test_bucketed_routing.py.  Headline mode only
    # (the full sweep already runs long); SPARK_GRAFT_BENCH_BUCKETED=0
    # opts out.
    bucketed: dict[str, dict] | None = None
    if bench_set is HEADLINE and os.environ.get(
        "SPARK_GRAFT_BENCH_BUCKETED", "1"
    ) == "1":
        from esxsnmp_tsdb_spark.operators.storage2 import bucketed_obs_table
        from esxsnmp_tsdb_spark.plans import plan_str
        from esxsnmp_tsdb_spark.sources import ROUTE_BUCKETED_CONF

        flat_ex = {
            key: plan_str(queries[key](spark, sf_dir), "simple").count(
                "Exchange"
            )
            for key in BUCKETED_KEYS
        }
        t0 = time.perf_counter()
        bucketed_obs_table(spark, sf_dir)  # one-time layout build, timed apart
        bucketed = {"_layout_build_s": round(time.perf_counter() - t0, 3)}

        def time_routed(key: str, best: float) -> float:
            for _ in range(repeats):
                t0 = time.perf_counter()
                materialize(queries[key](spark, sf_dir))
                best = min(best, round(time.perf_counter() - t0, 3))
            spark.sparkContext._jvm.System.gc()
            return best

        prior_route = spark.conf.get(ROUTE_BUCKETED_CONF, None)
        spark.conf.set(ROUTE_BUCKETED_CONF, "true")
        try:
            for key in BUCKETED_KEYS:
                rplan = plan_str(queries[key](spark, sf_dir), "simple")
                # A routed time is recorded only from a plan that reads
                # bkt_obs: if a routing precondition silently failed
                # (stamp mismatch, table missing), load_obs serves flat
                # obs, and a flat time must not carry the routed label.
                reads_bkt = "bkt_obs" in rplan
                best = time_routed(key, float("inf")) if reads_bkt else None
                ex = rplan.count("Exchange") if reads_bkt else None
                bucketed[key] = {
                    "flat_s": per_query.get(key),
                    "bucketed_s": best,
                    "flat_exchanges": flat_ex[key],
                    "bucketed_exchanges": ex,
                    "routed_s": best,
                    "routed_exchanges": ex,
                    "routed_reads_bkt": reads_bkt,
                }

            # Routed-side re-pin: the flat numbers above get up to
            # `max_passes` steal-guarded passes plus a per-op re-pin, so
            # the routed side gets the same discipline — a stolen routed
            # pass is retried, not recorded.  Each key's best is seeded
            # from every prior BENCH record at this sf (bkt_hist, loaded
            # in the single history pass above); re-time suspects >1.5x
            # it, min-fold, bounded.
            for _ in range(max_passes):
                suspects = [
                    k
                    for k in BUCKETED_KEYS
                    if k in bkt_hist
                    and bucketed[k]["routed_s"] is not None
                    and bucketed[k]["routed_s"] > 1.5 * bkt_hist[k]
                ]
                if not suspects:
                    break
                for key in suspects:
                    best = time_routed(key, bucketed[key]["routed_s"])
                    bucketed[key]["routed_s"] = best
                    bucketed[key]["bucketed_s"] = best
        finally:
            if prior_route is None:
                spark.conf.unset(ROUTE_BUCKETED_CONF)
            else:
                spark.conf.set(ROUTE_BUCKETED_CONF, prior_route)

    steal_t1 = read_steal_s()
    steal_cpu_s = (
        round(steal_t1 - steal_t0, 3)
        if steal_t0 is not None and steal_t1 is not None
        else None
    )
    total = round(sum(per_query.values()), 3)
    line = json.dumps(
        {
            "metric": "headline_total_sec",
            "value": total,
            "unit": "sec",
            "queries": per_query,
            "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            "plan_violations": violations,
            "passes": passes,
            "best_historical": best_hist,
            "guard_covered": len(covered),
            # Host CPU steal during the timed region (seconds, whole
            # host): the noise context for this record's numbers.
            "steal_cpu_s": steal_cpu_s,
            # Window family routed onto the OBS_TABLE_DDL bucketed layout
            # vs the flat-parquet headline numbers (None in full-sweep
            # mode).
            "bucketed_vs_flat": bucketed,
            # Full-sweep op order seed (None for headline runs): the
            # sweep shuffles op order with this seed so host steal can't
            # systematically land on one alphabetical family.
            "sweep_order_seed": sweep_seed,
        }
    )
    print(line)
    # Full-sweep runs persist their per-op table so a
    # tail regression in an unbenched op is diffable round-over-round
    # instead of living only in BASELINE.md prose.
    if os.environ.get("SPARK_GRAFT_BENCH_ALL") == "1":
        out = os.environ.get(
            "SPARK_GRAFT_SWEEP_OUT",
            os.path.join(
                os.path.dirname(os.path.abspath(__file__)),
                "docs",
                "SWEEP_latest.json",
            ),
        )
        with open(out, "w") as fh:
            fh.write(line + "\n")
    if violations:
        raise SystemExit(f"plan hygiene gate failed: {violations}")


if __name__ == "__main__":
    main()
