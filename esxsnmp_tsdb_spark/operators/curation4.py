"""§2.5 curation, batch 4 (EXT): index-tuning evaluations — the MinHash
banding S-curve and the embedding-cosine threshold sweep.  A dedup
pipeline is only as good as its knobs; these two ops produce the tables
an operator actually reads before picking band counts and cosine cut-
offs at 100 TB.

Both reuse the dedup suite's deterministic infrastructure (md5 MinHash,
manufactured near-dup corpus, label-blocked pair join), so the oracle
runs the identical closed forms.

Scale posture: band sensitivity computes ONE signature table (8 bands)
and ONE band-bucket join, then rolls the per-pair first-agreeing-band
index up into every (1, 2, 4, 8)-band configuration — the sweep costs
one LSH pass, not one per configuration.  The threshold sweep scores
each blocked pair once and rolls counts into every threshold with a
conditional aggregate — one pair join for the whole curve."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from esxsnmp_tsdb_spark.functions.vector import dot, norm
from esxsnmp_tsdb_spark.operators.dedup import (
    NEAR_CTE,
    SHINGLE_SQL,
    _docs_with_near_copies,
    _shingled,
)
from esxsnmp_tsdb_spark.registry import op
from esxsnmp_tsdb_spark.session import local_frame
from esxsnmp_tsdb_spark.sources import register_views

SWEEP_BANDS = 8  # signatures carry 8 bands; configs take prefixes
BAND_CONFIGS = (1, 2, 4, 8)
COS_TAUS = (0.15, 0.20, 0.25, 0.30, 0.35)


@op(
    "minhash_band_sensitivity",
    oracle=f"""
WITH {NEAR_CTE}, {SHINGLE_SQL},
hashed AS (
  SELECT doc_id, md5(shingle) AS h1, md5('x:' || shingle) AS h2
  FROM shingled
),
sigs0 AS MATERIALIZED (
  SELECT doc_id,
         {", ".join(f"min(CAST('0x' || substr(h{b // 4 + 1}, {8 * (b % 4) + 1}, 8) AS BIGINT)) AS s{b}" for b in range(SWEEP_BANDS))}
  FROM hashed GROUP BY doc_id
),
sigs AS (
  {" UNION ALL ".join(f"SELECT doc_id, {b} AS band, s{b} AS sig FROM sigs0" for b in range(SWEEP_BANDS))}
),
agree AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, min(a.band) AS min_band
  FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig
                         AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
nd AS (SELECT count(*) AS n_docs FROM documents),
cfg AS (SELECT unnest([{', '.join(map(str, BAND_CONFIGS))}]) AS n_bands)
SELECT c.n_bands,
       count(CASE WHEN a.min_band < c.n_bands THEN 1 END) AS n_candidates,
       count(CASE WHEN a.min_band < c.n_bands
                   AND a.doc_b = a.doc_a + 100000 THEN 1 END) AS n_true,
       round(count(CASE WHEN a.min_band < c.n_bands
                         AND a.doc_b = a.doc_a + 100000 THEN 1 END)
             * 1.0 / max(nd.n_docs), 6) AS recall,
       round(count(CASE WHEN a.min_band < c.n_bands
                         AND a.doc_b = a.doc_a + 100000 THEN 1 END)
             * 1.0 / nullif(count(CASE WHEN a.min_band < c.n_bands
                                        THEN 1 END), 0), 6) AS precision
FROM cfg c CROSS JOIN agree a CROSS JOIN nd
GROUP BY c.n_bands
""",
)
def minhash_band_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH banding S-curve, measured: candidate volume, true-near-dup
    hits, recall, and precision for 1/2/4/8-band MinHash over the
    manufactured near-dup corpus — the table you consult before setting
    the band knob on a real corpus.

    One 8-band signature table and one bucket join serve every
    configuration: a pair's FIRST agreeing band index says which prefix
    configurations would have caught it, so the sweep is a conditional
    rollup over the single `agree` table — adding configurations costs
    nothing.  The signature table feeds both sides of the agree
    self-join, so it is localCheckpoint-ed: ONE shingle+md5+min pass,
    not two lineage replays (plan-asserted in tests/test_plans.py).

    The 8 permutations are the four disjoint 32-bit slices of TWO md5s
    per shingle (two hash evaluations instead of eight); bands 0-3 slice
    ``md5(shingle)`` exactly like ``dedup._minhash_sigs``, so the
    n_bands=4 sweep row counts the very candidate set
    ``dedup_near_minhash`` emits."""
    docs2 = _docs_with_near_copies(register_views(spark, sf_dir)["documents"])
    sh = _shingled(docs2)
    hashed = sh.select(
        "doc_id",
        F.md5("shingle").alias("h1"),
        F.md5(F.concat(F.lit("x:"), F.col("shingle"))).alias("h2"),
    )
    band_min = [
        F.min(
            F.conv(
                F.substring(f"h{b // 4 + 1}", 8 * (b % 4) + 1, 8), 16, 10
            ).cast("bigint")
        ).alias(f"s{b}")
        for b in range(SWEEP_BANDS)
    ]
    stack_args = ", ".join(f"{b}, s{b}" for b in range(SWEEP_BANDS))
    sigs = (
        hashed.groupBy("doc_id")
        .agg(*band_min)
        .selectExpr("doc_id", f"stack({SWEEP_BANDS}, {stack_args}) AS (band, sig)")
        .localCheckpoint()
    )
    a, b = sigs.alias("a"), sigs.alias("b")
    agree = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.min("a.band").alias("min_band"))
    )
    nd = register_views(spark, sf_dir)["documents"].agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    cfg = local_frame(spark, [(c,) for c in BAND_CONFIGS], "n_bands int")
    caught = F.col("min_band") < F.col("n_bands")
    true_pair = F.col("doc_b") == F.col("doc_a") + 100000
    n_cand = F.count(F.when(caught, 1))
    n_true = F.count(F.when(caught & true_pair, 1))
    return (
        agree.crossJoin(F.broadcast(cfg))
        .crossJoin(F.broadcast(nd))
        .groupBy("n_bands")
        .agg(
            n_cand.alias("n_candidates"),
            n_true.alias("n_true"),
            F.round(n_true / F.max("n_docs"), 6).alias("recall"),
            F.round(n_true / F.nullif(n_cand, F.lit(0)), 6).alias("precision"),
        )
    )


@op(
    "dedup_threshold_sweep",
    oracle=f"""
WITH e AS (SELECT vec_id, label, embedding, len(embedding) AS d FROM embeddings),
pairs AS (
  SELECT a.vec_id AS va, b.vec_id AS vb,
         list_sum(list_transform(range(1, a.d + 1),
             i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(range(1, a.d + 1),
              i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
          * sqrt(list_sum(list_transform(range(1, b.d + 1),
              i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))))
           AS cos
  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
),
taus AS (SELECT unnest([{', '.join(map(str, COS_TAUS))}]) AS tau)
SELECT t.tau,
       count(CASE WHEN round(p.cos, 6) >= t.tau THEN 1 END) AS n_pairs,
       count(DISTINCT CASE WHEN round(p.cos, 6) >= t.tau THEN p.va END)
         AS n_left_docs
FROM taus t CROSS JOIN pairs p
GROUP BY t.tau
""",
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pair counts as a function of the cosine threshold — the
    sweep that picks the dedup cutoff: too low and the dedup eats real
    data, too high and duplicates survive.

    The label-blocked pair join (the IVF-cell blocker from
    `dedup_embedding_cosine`) runs ONCE; every threshold is a
    conditional count over the same scored pair stream.  Norms are
    hoisted per vector (one fold each, same expression order as
    ``cosine`` so the rounded value is bit-identical) — each pair costs
    one dot fold, not three.  Thresholding on the rounded cosine keeps
    the cut decision identical cross-engine.

    Both tallies ride ONE two-level aggregate over the single pair
    stream (see `_sweep_counts`): K conditional counts per left vector,
    then a global roll-up — n_pairs(τ) = Σ per-va hits, n_left_docs(τ) =
    #{va: max(cos) ≥ τ}, a distinct count without an Expand.  The pair
    stream is scanned once and never multiplied by K, as a
    ``crossJoin(taus)`` would."""
    e = register_views(spark, sf_dir)["embeddings"].select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    ).withColumn("nrm", norm(F.col("v")))
    a, b = e.alias("a"), e.alias("b")
    pairs = a.join(
        b,
        (F.col("a.label") == F.col("b.label"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("va"),
        F.round(
            dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm")),
            6,
        ).alias("cos_r"),
    )
    return _sweep_counts(pairs)


def _sweep_counts(pairs: DataFrame) -> DataFrame:
    """(tau, n_pairs, n_left_docs) per COS_TAUS over a (va, cos_r) pair
    stream — single-pass twin of the oracle's
    ``taus CROSS JOIN pairs GROUP BY tau``:

    * ``n_pairs(τ)``  = count of pairs with cos_r ≥ τ — computed as a
      per-va conditional count summed globally;
    * ``n_left_docs(τ)`` = count DISTINCT va among those pairs — a va
      has a qualifying pair iff its max cos_r ≥ τ, so the distinct
      count is a conditional count over per-va maxima (no Expand);
    * zero input pairs → zero output rows (the oracle's cross join has
      nothing to group), enforced by the ``n_va > 0`` gate — with pairs
      present every τ row exists even at zero hits, exactly like the
      oracle's GROUP BY.

    NULL cos_r (a zero-norm vector) never satisfies ``>=`` and is
    skipped by max() — same rows as the old when()/countDistinct pair.
    """
    per_va = pairs.groupBy("va").agg(
        F.max("cos_r").alias("mx"),
        *[
            F.count(F.when(F.col("cos_r") >= F.lit(t), 1)).alias(f"np{i}")
            for i, t in enumerate(COS_TAUS)
        ],
    )
    rolled = per_va.agg(
        F.count(F.lit(1)).alias("n_va"),
        *[F.sum(F.col(f"np{i}")).alias(f"np{i}") for i in range(len(COS_TAUS))],
        *[
            F.count(F.when(F.col("mx") >= F.lit(t), 1)).alias(f"nl{i}")
            for i, t in enumerate(COS_TAUS)
        ],
    )
    rows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(t).alias("tau"),
                    F.col(f"np{i}").alias("n_pairs"),
                    F.col(f"nl{i}").alias("n_left_docs"),
                )
                for i, t in enumerate(COS_TAUS)
            ]
        )
    )
    return (
        rolled.filter(F.col("n_va") > 0)
        .select(rows.alias("r"))
        .select("r.tau", "r.n_pairs", "r.n_left_docs")
    )
