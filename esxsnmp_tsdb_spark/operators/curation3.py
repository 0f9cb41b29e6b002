"""LLM-pipeline curation ops, batch 3 (EXT): benchmark decontamination,
cross-source keep-best dedup, and one exact Lloyd step over the
embedding table.

Like the rest of the dedup/curation family, every op here is engineered
to be DuckDB-oracle hash-checkable — deterministic eval-set selection
(modulus on doc_id, no RNG), explicit tiebreaks on every argmin/argmax,
and rounding before any cross-engine float comparison or discrete
decision.

Scale posture:

* ``decontamination_overlap`` is the training-data hygiene pass every
  LLM corpus needs: n-gram overlap against a benchmark/eval set.  The
  eval side is tiny by construction (held-out benchmarks are MBs, the
  corpus is TBs), so its distinct gram-hash set BROADCASTS and the
  corpus side never shuffles — a map-side hash-semi-join per partition.
* ``cross_source_dedup_priority`` is exact dedup where the survivor is
  chosen by source priority, not arbitrarily — the "keep the highest-
  quality copy" rule.  Only 32-byte hashes plus tiny priority ints
  shuffle, one exchange on the hash.
* ``kmeans_one_step`` materializes the assign+update halves of Lloyd's
  iteration as two hash aggregates over an exploded (vector, dim) view;
  centroids are k·d rows (640 here) and ride a broadcast join.  The
  |corpus| × k blowup happens AFTER the dim-join reduces each pair to
  one partial, so the shuffled volume is n·k distance partials, not
  n·k·d.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from esxsnmp_tsdb_spark.registry import op
from esxsnmp_tsdb_spark.sources import register_views

DECON_K = 4  # tokens per gram for decontamination (4-gram: non-empty hit
# set at every fixture SF — 8-gram found zero overlap at sf0.01, which made
# the oracle check a vacuous 0==0)
EVAL_MOD = 11  # doc_id % EVAL_MOD == 0 -> held-out eval set (~9%)
KM_DIM = 64  # embedding dimensionality (fixtures: FLOAT[64])


@op(
    "decontamination_overlap",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, source, doc_id % {EVAL_MOD} = 0 AS is_eval,
         string_split(text, ' ') AS tk
  FROM documents
),
grams AS (
  SELECT doc_id, source, is_eval,
         md5(array_to_string(list_slice(tk, s.s, s.s + {DECON_K - 1}), ' ')) AS h
  FROM toks,
       LATERAL (SELECT unnest(range(1, len(tk) - {DECON_K - 2}, 1)) AS s) s
  WHERE len(tk) >= {DECON_K}
),
eval_h AS (SELECT DISTINCT h FROM grams WHERE is_eval),
hits AS (
  SELECT g.doc_id, g.source, count(*) AS n_grams,
         CAST(sum(CASE WHEN e.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_hits
  FROM grams g LEFT JOIN eval_h e ON g.h = e.h
  WHERE NOT g.is_eval
  GROUP BY g.doc_id, g.source
)
SELECT doc_id, source, n_grams, n_hits,
       round(n_hits * 1.0 / n_grams, 6) AS hit_ratio
FROM hits WHERE n_hits >= 1
""",
)
def decontamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    verbatim {K}-gram with the held-out eval set (doc_id % {MOD} == 0 —
    deterministic, so both engines carve the identical split).

    The eval set is ~1% of the corpus, so its distinct gram hashes are
    broadcast and the train side is scanned ONCE with a map-side hash
    lookup — no corpus shuffle at all before the per-doc rollup.  This
    is the contamination check run before every training run; at 100 TB
    the eval-gram set is still MBs and the plan shape is unchanged."""
    docs = register_views(spark, sf_dir)["documents"]
    tk = F.split("text", " ")
    starts = F.when(
        F.size(tk) >= DECON_K,
        F.sequence(F.lit(1), F.size(tk) - (DECON_K - 1)),
    ).otherwise(F.array().cast("array<int>"))
    grams = docs.select(
        "doc_id",
        "source",
        (F.col("doc_id") % EVAL_MOD == 0).alias("is_eval"),
        F.explode(starts).alias("s"),
        tk.alias("tk"),
    ).select(
        "doc_id",
        "source",
        "is_eval",
        F.md5(F.concat_ws(" ", F.slice(F.col("tk"), F.col("s"), DECON_K))).alias("h"),
    )
    eval_h = grams.filter("is_eval").select("h").distinct()
    hits = (
        grams.filter(~F.col("is_eval"))
        .join(F.broadcast(eval_h.withColumn("hit", F.lit(1))), "h", "left")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("bigint").alias("n_hits"),
        )
        .filter(F.col("n_hits") >= 1)
    )
    return hits.select(
        "doc_id",
        "source",
        "n_grams",
        "n_hits",
        F.round(F.col("n_hits") / F.col("n_grams"), 6).alias("hit_ratio"),
    )


@op(
    "cross_source_dedup_priority",
    oracle="""
WITH ranked AS (
  SELECT source,
         row_number() OVER (
           PARTITION BY md5(text)
           ORDER BY CAST(substring(source, 4) AS INTEGER), doc_id) AS rn
  FROM documents
)
SELECT source, count(*) AS n_docs,
       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
FROM ranked GROUP BY source
""",
)
def cross_source_dedup_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-best exact dedup: among byte-identical documents, the copy
    from the highest-priority source survives (priority = the numeric
    source suffix; ties broken by doc_id) — the standard "prefer the
    curated mirror over the crawl" rule, reported as a per-source
    kept/dropped census.

    The survivor choice is a row_number over (hash) — partitioned
    window, one exchange in which only 32-byte hashes, the priority
    int, and doc ids travel; document text never shuffles."""
    docs = register_views(spark, sf_dir)["documents"]
    prio = F.substring("source", 4, 10).cast("int")
    w = Window.partitionBy(F.md5("text")).orderBy(prio, "doc_id")
    ranked = docs.select(
        "source", F.row_number().over(w).alias("rn")
    )
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).cast("bigint").alias("n_kept"),
        F.sum(F.when(F.col("rn") > 1, 1).otherwise(0)).cast("bigint")
        .alias("n_dropped"),
    )


@op(
    "kmeans_one_step",
    oracle=f"""
WITH dims AS (SELECT unnest(range(1, {KM_DIM + 1})) AS d),
vd AS (
  SELECT vec_id, label, d.d AS dim, CAST(embedding[d.d] AS DOUBLE) AS v
  FROM embeddings, dims d
),
cent AS (
  SELECT label AS c, dim, round(avg(v), 6) AS cv
  FROM vd GROUP BY label, dim
),
dist AS (
  SELECT vd.vec_id, vd.label, cent.c,
         round(sum((vd.v - cent.cv) * (vd.v - cent.cv)), 6) AS d2
  FROM vd JOIN cent ON vd.dim = cent.dim
  GROUP BY vd.vec_id, vd.label, cent.c
),
assign AS (
  SELECT vec_id, label, c AS new_c, d2,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, c) AS rn
  FROM dist
)
SELECT new_c AS cluster, count(*) AS n,
       CAST(sum(CASE WHEN new_c <> label THEN 1 ELSE 0 END) AS BIGINT)
         AS n_moved,
       CAST(sum(CAST(round(d2 * 1000000) AS BIGINT)) AS BIGINT)
         AS inertia_micro
FROM assign WHERE rn = 1 GROUP BY new_c
""",
)
def kmeans_one_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact Lloyd iteration over the embedding table, seeded from
    the label means (deterministic — no RNG init): recompute centroids,
    reassign every vector to its nearest centroid (rounded distance,
    centroid-id tiebreak), report per-cluster size, migration count,
    and inertia.

    Plan shape: dims explode JVM-side (``posexplode``), centroid update
    is one (label, dim) hash aggregate producing k·d = 640 rows that
    BROADCAST back; the assign half reduces each (vector, centroid)
    pair to a single distance partial in one hash aggregate, so the
    shuffle carries n·k short rows — the n·k·d intermediate exists only
    map-side.  Iterating = looping this op; each step is the same two
    aggregates (the driver-loop + localCheckpoint pattern doc_pagerank
    already uses)."""
    emb = register_views(spark, sf_dir)["embeddings"]
    vd = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("pos", "v0"),
    ).select(
        "vec_id",
        "label",
        (F.col("pos") + 1).alias("dim"),
        F.col("v0").cast("double").alias("v"),
    )
    cent = vd.groupBy(F.col("label").alias("c"), "dim").agg(
        F.round(F.avg("v"), 6).alias("cv")
    )
    dist = (
        vd.join(F.broadcast(cent), "dim")
        .groupBy("vec_id", "label", "c")
        .agg(
            F.round(
                F.sum((F.col("v") - F.col("cv")) * (F.col("v") - F.col("cv"))), 6
            ).alias("d2")
        )
    )
    assign = dist.withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("vec_id").orderBy("d2", "c")),
    ).filter(F.col("rn") == 1)
    # Inertia is reported in exact integer micro-units: each (already
    # rounded) per-vector distance becomes a bigint and the sum is pure
    # integer arithmetic — no float summation-order drift across engines.
    return assign.groupBy(F.col("c").alias("cluster")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("c") != F.col("label"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_moved"),
        F.sum(F.round(F.col("d2") * 1_000_000).cast("bigint"))
        .cast("bigint")
        .alias("inertia_micro"),
    )
