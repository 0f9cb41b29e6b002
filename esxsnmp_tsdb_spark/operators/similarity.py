"""§2.5 similarity search (EXT): brute-force cosine top-k as the exact
baseline, an LSH-bucketed ANN variant as the scale path, all-pairs kNN
blocked by label, and the multimodal join.

Determinism: LSH hyperplanes are integer-valued pseudo-random vectors from
an LCG on (dim_index, plane_index) — the same closed-form expression on
both engines, no RNG state.  Dot products fold left-to-right in both
dialects, so floats are bit-identical and safe to round-then-compare.

Scale: brute-force top-k broadcasts the (tiny) query vector and reduces
with TakeOrdered — no shuffle of the corpus.  The ANN variant prunes to
hash buckets first; label-blocked kNN never materializes the corpus².
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from esxsnmp_tsdb_spark.functions.topk import ranked_topk
from esxsnmp_tsdb_spark.functions.vector import cosine, dot, norm
from esxsnmp_tsdb_spark.registry import op
from esxsnmp_tsdb_spark.sources import register_views
from esxsnmp_tsdb_spark.sources.catalog import fixture_memo

QUERY_VEC_ID = 0
TOP_K = 10
N_PLANES = 6

# Deterministic integer "hyperplane" weight for (dim i [0-based], plane j):
# LCG fold, centered.  Valid Spark SQL and DuckDB.
def _plane_w(i: str, j: str) -> str:
    return (
        f"((CAST(1103515245 AS BIGINT) * (({i}) * 8 + ({j})) + 12345) % 65536 - 32768)"
    )


DOT_SQL = """list_sum(list_transform(range(1, {d} + 1),
    i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"""


def _dbl(col):
    return F.transform(col, lambda x: x.cast("double"))


@op(
    "sim_search_topk",
    oracle=f"""
WITH q AS (SELECT embedding AS qv, len(embedding) AS d FROM embeddings
           WHERE vec_id = {QUERY_VEC_ID}),
scored AS (
  SELECT e.vec_id, e.label,
         {DOT_SQL.format(d='q.d', a='e.embedding', b='q.qv')} /
         (sqrt({DOT_SQL.format(d='q.d', a='e.embedding', b='e.embedding')}) *
          sqrt({DOT_SQL.format(d='q.d', a='q.qv', b='q.qv')})) AS cos
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id != {QUERY_VEC_ID}
)
SELECT vec_id, label, round(cos, 6) AS cos, rank FROM (
  SELECT *, row_number() OVER (ORDER BY cos DESC, vec_id) AS rank FROM scored
) WHERE rank <= {TOP_K}
""",
)
def sim_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k for one query vector — the exact ANN
    baseline.  The query vector is a 1-row broadcast; scoring is a map-only
    pass in whole-stage codegen (zip_with/aggregate), and the global top-k
    plans as TakeOrderedAndProject (per-partition k-row heaps + driver
    merge), so nothing shuffles the corpus and no single task sees more
    than its own partition."""
    e = register_views(spark, sf_dir)["embeddings"]
    q = e.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qv")
    )
    scored = (
        e.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            cosine(_dbl(F.col("embedding")), _dbl(F.col("qv"))).alias("cos_raw"),
        )
    )
    return ranked_topk(
        scored, TOP_K, [F.col("cos_raw").desc(), F.col("vec_id")]
    ).select("vec_id", "label", F.round("cos_raw", 6).alias("cos"), "rank")


LSH_BUCKET_SQL = f"""list_sum(list_transform(range(0, {N_PLANES}),
           j -> CASE WHEN list_sum(list_transform(range(1, d + 1),
                  i -> CAST(embedding[i] AS DOUBLE) *
                       {_plane_w('i - 1', 'j')})) > 0
                THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END))"""


def _lsh_oracle(probe_pred: str) -> str:
    """Shared LSH oracle skeleton; `probe_pred` selects candidate buckets."""
    return f"""
WITH e AS (SELECT vec_id, label, embedding, len(embedding) AS d FROM embeddings),
bucketed AS (
  SELECT vec_id, label, embedding, d,
         {LSH_BUCKET_SQL} AS bucket
  FROM e
),
q AS (SELECT embedding AS qv, d AS qd, bucket AS qbucket FROM bucketed
      WHERE vec_id = {QUERY_VEC_ID}),
cand AS (
  SELECT b.vec_id, b.label,
         {DOT_SQL.format(d='q.qd', a='b.embedding', b='q.qv')} /
         (sqrt({DOT_SQL.format(d='q.qd', a='b.embedding', b='b.embedding')}) *
          sqrt({DOT_SQL.format(d='q.qd', a='q.qv', b='q.qv')})) AS cos
  FROM bucketed b CROSS JOIN q
  WHERE {probe_pred} AND b.vec_id != {QUERY_VEC_ID}
)
SELECT vec_id, label, round(cos, 6) AS cos, rank FROM (
  SELECT *, row_number() OVER (ORDER BY cos DESC, vec_id) AS rank FROM cand
) WHERE rank <= {TOP_K}
"""


def _plane_weight(i: int, j: int) -> float:
    """Python twin of `_plane_w` for 0-based dim i, plane j.  The LCG
    argument is non-negative here, so Python's % and Spark SQL's %
    agree; weights are integers < 2^16, exact in double."""
    return float((1103515245 * (i * 8 + j) + 12345) % 65536 - 32768)


def _emb_dim(spark: SparkSession, sf_dir: str) -> int:
    """Embedding width of ``sf_dir``'s fixture — one ``first()`` probe,
    memoized per (session, fixture stamp) so repeated query construction
    never re-runs the probe and a regenerated fixture refuses the stale
    width."""

    def probe() -> int:
        row = (
            register_views(spark, sf_dir)["embeddings"]
            .select(F.size("embedding"))
            .first()
        )
        return row[0] if row else 0

    return fixture_memo(spark, "emb_dim", sf_dir, ("embeddings",), probe)


def _lsh_bucket_expr(d: int):
    """Random-hyperplane LSH bucket id as a pure Catalyst expression
    (the Spark twin of the oracle's list_sum/list_transform).

    ``d`` is the corpus' fixed embedding width (from `_emb_dim`): the
    per-plane weights are emitted as LITERAL double arrays and each
    plane's dot is a ``zip_with`` fold, so the per-element LCG
    arithmetic constant-folds away (A/B at sf0.1: bucketing the corpus
    0.33 s → 0.19 s, values bit-identical — same multiply, same
    left-to-right fold order).  A row whose width is not ``d`` raises:
    ``zip_with`` would null-pad it into bucket 0, while the oracle
    buckets it by its real width."""
    # The width check seeds the accumulator: once per row, not per plane.
    acc = F.when(
        F.size("embedding") != d,
        F.raise_error(
            F.concat(
                F.lit(f"LSH bucketing expects embeddings of width {d}, got "),
                F.size("embedding").cast("string"),
            )
        ),
    ).otherwise(F.lit(0).cast("bigint"))
    for j in range(N_PLANES):
        wj = F.lit([_plane_weight(i, j) for i in range(d)])
        dot_j = F.aggregate(
            F.zip_with(
                F.col("embedding"), wj, lambda x, w: x.cast("double") * w
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        acc = acc + F.when(
            dot_j > 0, F.lit(2**j).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint"))
    return acc


def _lsh_query(spark: SparkSession, sf_dir: str, probe_cond) -> DataFrame:
    """Bucket the corpus, broadcast the 1-row query, join on
    `probe_cond(bucket, qbucket)`, brute-force the survivors, top-k."""
    e = register_views(spark, sf_dir)["embeddings"]
    bucketed = e.select(
        "vec_id",
        "label",
        "embedding",
        _lsh_bucket_expr(_emb_dim(spark, sf_dir)).alias("bucket"),
    )
    q = bucketed.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qv"), F.col("bucket").alias("qbucket")
    )
    cand = (
        bucketed.filter(F.col("vec_id") != QUERY_VEC_ID)
        .join(F.broadcast(q), probe_cond(F.col("bucket"), F.col("qbucket")))
        .select(
            "vec_id",
            "label",
            cosine(_dbl(F.col("embedding")), _dbl(F.col("qv"))).alias("cos_raw"),
        )
    )
    return ranked_topk(
        cand, TOP_K, [F.col("cos_raw").desc(), F.col("vec_id")]
    ).select("vec_id", "label", F.round("cos_raw", 6).alias("cos"), "rank")


@op("sim_search_ann_lsh", oracle=_lsh_oracle("b.bucket = q.qbucket"))
def sim_search_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scale path: random-hyperplane LSH bucketing (deterministic
    integer planes), then brute-force only inside the query's bucket.

    At 100 TB the bucket id is precomputed at ingest and the table is
    partitioned by it — a query reads one bucket (~1/2^planes of the data)
    instead of the corpus.  Recall<1 by design; the exact twin is
    `sim_search_topk`."""
    return _lsh_query(spark, sf_dir, lambda b, qb: b == qb)


_PROBE_XORS = [0] + [1 << j for j in range(N_PLANES)]


@op(
    "sim_search_lsh_multiprobe",
    oracle=_lsh_oracle(
        f"xor(b.bucket, q.qbucket) IN ({', '.join(map(str, _PROBE_XORS))})"
    ),
)
def sim_search_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH: probe the query's bucket AND every bucket at
    Hamming distance 1 (one hyperplane bit flipped) — the standard
    recall-recovery move, trading (planes+1)× candidate volume for far
    fewer missed near-neighbors at the same index.

    The probe set is a static IN-list on the bucket id, so at 100 TB it is
    a partition-pruning predicate over the bucket-partitioned index —
    (planes+1) partitions read instead of 1, still ≪ full scan."""
    return _lsh_query(
        spark,
        sf_dir,
        lambda b, qb: b.bitwiseXOR(qb).isin(_PROBE_XORS),
    )


@op(
    "knn_pairs",
    oracle=f"""
WITH e AS (SELECT vec_id, label, embedding, len(embedding) AS d FROM embeddings),
pairs AS (
  SELECT a.vec_id, b.vec_id AS neighbor_id,
         {DOT_SQL.format(d='a.d', a='a.embedding', b='b.embedding')} /
         (sqrt({DOT_SQL.format(d='a.d', a='a.embedding', b='a.embedding')}) *
          sqrt({DOT_SQL.format(d='b.d', a='b.embedding', b='b.embedding')})) AS cos
  FROM e a JOIN e b ON a.label = b.label AND a.vec_id != b.vec_id
)
SELECT vec_id, neighbor_id, round(cos, 6) AS cos FROM (
  SELECT *, row_number() OVER (PARTITION BY vec_id
                               ORDER BY cos DESC, neighbor_id) AS rn
  FROM pairs
) WHERE rn = 1
""",
)
def knn_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-1 neighbor per vector, blocked by label (the coarse quantizer):
    per-block pair join + per-vector window.  The block join bounds cost at
    Σ blockᵢ² instead of N²; at 100 TB blocks come from k-means/IVF cells
    maintained at ingest.

    Norms are precomputed per VECTOR before the join (O(N) folds), so each
    of the O(Σ blockᵢ²) pairs evaluates one dot fold instead of three —
    3× less interpreted higher-order work in the hot loop, with
    bit-identical results (same fold, same data, just hoisted)."""
    # Double-cast hoisted to the per-VECTOR projection:
    # it used to run inside the per-pair dot — two O(d) array transforms
    # per pair, O(Σblock²) of them — and now runs once per vector per
    # join side.  float→double is exact, so every pair's cosine is
    # bit-identical; the join shuffles float64 arrays (2× bytes) but the
    # pair count, not the vector count, is what scales.
    e = register_views(spark, sf_dir)["embeddings"].select(
        "vec_id", "label", _dbl(F.col("embedding")).alias("v")
    ).withColumn("nrm", norm(F.col("v")))
    a = e.alias("a")
    b = e.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_id"),
            F.col("b.vec_id").alias("neighbor_id"),
            (
                dot(F.col("a.v"), F.col("b.v"))
                / (F.col("a.nrm") * F.col("b.nrm"))
            ).alias("cos_raw"),
        )
    )
    # Top-1 via max_by aggregation, not a row_number window (aggregate
    # before the shuffle): the window shuffled every
    # PAIR row (O(Σblockᵢ²)) to sort it; the groupBy partial-aggregates
    # map-side, so at most one row per (vec_id, input partition) reaches
    # the exchange.  Ordering key (cos_raw DESC, neighbor_id ASC) is
    # encoded as max over struct(cos_raw, -neighbor_id) — identical
    # winner (cosines are never NULL here: unit-norm fixture, and the
    # oracle's row_number argmax assumes the same).  A/B at sf0.1:
    # 2.58 s → 2.43 s, exceptAll diff 0.
    key = F.struct(
        F.col("cos_raw").alias("c"), (-F.col("neighbor_id")).alias("n")
    )
    return (
        pairs.groupBy("vec_id")
        .agg(
            F.max_by("neighbor_id", key).alias("neighbor_id"),
            F.max(key).alias("k"),
        )
        .select("vec_id", "neighbor_id", F.round(F.col("k.c"), 6).alias("cos"))
    )


@op(
    "sim_search_ivf",
    oracle=f"""
WITH e AS (SELECT vec_id, label, embedding, len(embedding) AS d FROM embeddings),
centroids AS (SELECT vec_id AS cid, embedding AS cv, d AS cd FROM e
              WHERE vec_id % 50 = 0),
assigned AS (
  SELECT vec_id, label, embedding, d, cid FROM (
    SELECT e.vec_id, e.label, e.embedding, e.d, c.cid,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {DOT_SQL.format(d='e.d', a='e.embedding', b='c.cv')} /
                      (sqrt({DOT_SQL.format(d='e.d', a='e.embedding', b='e.embedding')}) *
                       sqrt({DOT_SQL.format(d='c.cd', a='c.cv', b='c.cv')})) DESC,
                      c.cid) AS rn
    FROM e CROSS JOIN centroids c
  ) WHERE rn = 1
),
q AS (SELECT embedding AS qv, d AS qd, cid AS qcid FROM assigned
      WHERE vec_id = {QUERY_VEC_ID}),
cand AS (
  SELECT a.vec_id, a.label,
         {DOT_SQL.format(d='q.qd', a='a.embedding', b='q.qv')} /
         (sqrt({DOT_SQL.format(d='q.qd', a='a.embedding', b='a.embedding')}) *
          sqrt({DOT_SQL.format(d='q.qd', a='q.qv', b='q.qv')})) AS cos
  FROM assigned a CROSS JOIN q
  WHERE a.cid = q.qcid AND a.vec_id != {QUERY_VEC_ID}
)
SELECT vec_id, label, round(cos, 6) AS cos, rank FROM (
  SELECT *, row_number() OVER (ORDER BY cos DESC, vec_id) AS rank FROM cand
) WHERE rank <= {TOP_K}
""",
)
def sim_search_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN: coarse quantizer = 10 deterministic seed
    centroids (every 50th vector); vectors are assigned to their nearest
    centroid cell; a query probes only its own cell.

    At 100 TB the assignment happens at ingest (k-means centroids refreshed
    offline), the table is partitioned by cell id, and a query reads ~1/k
    of the corpus per probe — this op is the query-side plan.  Cell scoring
    and assignment are all zip_with/aggregate folds in codegen; the
    centroid set (10 rows) broadcasts."""
    # Double-cast hoisted to the per-vector projection:
    # one O(d) transform per vector instead of two per (row, centroid)
    # scored pair and two per candidate — bit-identical (float→double is
    # exact).
    e = register_views(spark, sf_dir)["embeddings"].select(
        "vec_id", "label", _dbl(F.col("embedding")).alias("v")
    ).withColumn("nrm", norm(F.col("v")))
    cent = e.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("cid"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cnrm"),
    )
    # norms hoisted per vector/centroid: the k-way scoring fans each row
    # out k times, but pays one dot fold per (row, centroid), not three.
    scored = e.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "label",
        "v",
        "cid",
        (
            dot(F.col("v"), F.col("cv"))
            / (F.col("nrm") * F.col("cnrm"))
        ).alias("c_cos"),
    )
    # Argmax via max_by aggregation, not a row_number window: the
    # window shuffled all N×K scored rows — each carrying the
    # 64-double vector — to sort them; the groupBy partial-aggregates
    # map-side so only one row per vector reaches the exchange (the same
    # shape curation8._assign_to already uses).  Ties to the smaller cid
    # via max over struct(c_cos, -cid); label/v are group-constant so
    # first() is deterministic.  Cosines are never NULL here (unit-norm
    # fixture; the oracle's row_number argmax assumes the same).
    akey = F.struct(F.col("c_cos").alias("c"), (-F.col("cid")).alias("n"))
    assigned = scored.groupBy("vec_id").agg(
        F.first("label").alias("label"),
        F.first("v").alias("v"),
        F.max_by("cid", akey).alias("cid"),
    )
    q = assigned.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("v").alias("qv"), F.col("cid").alias("qcid")
    )
    cand = (
        assigned.filter(F.col("vec_id") != QUERY_VEC_ID)
        .join(F.broadcast(q), F.col("cid") == F.col("qcid"))
        .select(
            "vec_id",
            "label",
            cosine(F.col("v"), F.col("qv")).alias("cos_raw"),
        )
    )
    return ranked_topk(
        cand, TOP_K, [F.col("cos_raw").desc(), F.col("vec_id")]
    ).select("vec_id", "label", F.round("cos_raw", 6).alias("cos"), "rank")


@op(
    "multimodal_join",
    oracle="""
SELECT d.doc_id, d.lang, d.source, d.n_chars, e.label, len(e.embedding) AS dim
FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
""",
)
def multimodal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text + vector + labels in one frame (documents ⋈ embeddings on
    doc_id = vec_id) — the canonical multimodal training-data join."""
    t = register_views(spark, sf_dir)
    return (
        t["documents"]
        .join(t["embeddings"], F.col("doc_id") == F.col("vec_id"))
        .select(
            "doc_id",
            "lang",
            "source",
            "n_chars",
            "label",
            F.size("embedding").cast("bigint").alias("dim"),
        )
    )


@op(
    "embedding_centroid_per_label",
    oracle="""
WITH dims AS (
  SELECT unnest(range(1, (SELECT max(len(embedding)) FROM embeddings) + 1))
    AS dim
)
SELECT label, dim,
       round(avg(CAST(embedding[dim] AS DOUBLE)), 6) AS centroid,
       count(*) AS n_vectors
FROM embeddings CROSS JOIN dims
WHERE dim <= len(embedding)
GROUP BY label, dim
""",
)
def embedding_centroid_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding (the k-means M-step / class centroid used
    by IVF index maintenance and embedding-space diagnostics), one row
    per (label, dimension).

    Scale: posexplode fans each vector into dim rows map-side; the
    aggregate is partially combined before the one shuffle on
    (label, dim) — cardinality #labels x dim, independent of corpus
    size.  No vector is ever collected; the fold stays in codegen."""
    e = register_views(spark, sf_dir)["embeddings"]
    return (
        e.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", (F.col("pos") + 1).cast("bigint").alias("dim"))
        .agg(
            F.round(F.avg(F.col("v").cast("double")), 6).alias("centroid"),
            F.count(F.lit(1)).alias("n_vectors"),
        )
    )


BATCH_Q_MOD = 97  # vec_id % 97 == 3 selects the deterministic query batch
BATCH_TOP_K = 5


@op(
    "sim_search_batch",
    oracle=f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qv, len(embedding) AS d
           FROM embeddings WHERE vec_id % {BATCH_Q_MOD} = 3),
scored AS (
  SELECT q.qid, e.vec_id,
         {DOT_SQL.format(d='q.d', a='e.embedding', b='q.qv')} /
         (sqrt({DOT_SQL.format(d='q.d', a='e.embedding', b='e.embedding')}) *
          sqrt({DOT_SQL.format(d='q.d', a='q.qv', b='q.qv')})) AS cos
  FROM embeddings e JOIN q ON e.vec_id != q.qid
)
SELECT qid, vec_id, round(cos, 6) AS cos, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id)
         AS rank
  FROM scored
) WHERE rank <= {BATCH_TOP_K}
""",
)
def sim_search_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch ANN: top-{BATCH_TOP_K} neighbors for a SET of query vectors
    in one pass — the serving-path shape (requests arrive batched, the
    corpus is scanned once for all of them, not once per query).

    The query batch is a broadcast; scoring is the same codegen'd
    map-only pass as `sim_search_topk` fanned out ×|batch|; the top-k is
    a window PARTITIONED BY query id — per-query state, never a global
    window, so corpus scale only widens the map stage."""
    e = register_views(spark, sf_dir)["embeddings"]
    q = e.filter(F.col("vec_id") % BATCH_Q_MOD == 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            cosine(_dbl(F.col("embedding")), _dbl(F.col("qv"))).alias("cos_raw"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_raw").desc(), "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= BATCH_TOP_K)
        .select("qid", "vec_id", F.round("cos_raw", 6).alias("cos"), "rank")
    )
