"""§2.5 dataset-curation ops, second batch (EXT — training-data pipeline):
per-domain quotas, sequence packing, corpus n-gram top-k, exact-substring
(chunk-hash) overlap detection, and embedding-norm outlier screening.

Same determinism rules as ``curation.py``/``dedup.py``: pseudo-random
choices are md5-derived integers, token math is the shared
space-split tokenizer, floats are rounded before any cross-engine compare,
and ordered windows always carry a key tiebreak.

Scale posture: every op is map-side expansion + one or two keyed shuffles;
no op materializes pairs, collects to the driver, or sorts globally except
through TakeOrdered-shaped bounded top-k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from esxsnmp_tsdb_spark.operators.dedup import _hex16
from esxsnmp_tsdb_spark.registry import op
from esxsnmp_tsdb_spark.sources import register_views

QUOTA = 30  # max docs kept per source by domain_quota_sample
BLOCK = 256  # tokens per packed training block (seq_packing)
CHUNK_K = 8  # tokens per exact-substring chunk
CHUNK_STRIDE = 4  # chunk stride (50% overlap)

_DOC_HASH = _hex16("CAST(doc_id AS STRING)")
_DOC_HASH_DUCK = _hex16("CAST(doc_id AS VARCHAR)")


@op(
    "domain_quota_sample",
    oracle=f"""
WITH ranked AS (
  SELECT source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY {_DOC_HASH_DUCK}, doc_id) AS rn
  FROM documents
)
SELECT source, count(*) AS n_total,
       CAST(sum(CASE WHEN rn <= {QUOTA} THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       round(sum(CASE WHEN rn <= {QUOTA} THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
         AS keep_ratio
FROM ranked GROUP BY source
""",
)
def domain_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quota enforcement (the anti-over-representation step of
    corpus curation): keep at most QUOTA docs per source, chosen by a
    content-free hash rank so the pick is reproducible across engines and
    cluster sizes.

    One shuffle on ``source``; the rank window is per-source (bounded by
    domain cardinality, never global).  At 100 TB a hot domain makes a
    hot partition — the mitigation is the same two-level trick as
    ``salted_aggregate``, but the honest default is the plain window
    because ranks can't be salted without a second pass."""
    docs = register_views(spark, sf_dir)["documents"]
    w = Window.partitionBy("source").orderBy(F.expr(_DOC_HASH), "doc_id")
    kept = (F.row_number().over(w) <= QUOTA).cast("int")
    return (
        docs.select("source", kept.alias("kept"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum("kept").cast("bigint").alias("n_kept"),
            F.round(F.sum("kept") / F.count(F.lit(1)), 6).alias("keep_ratio"),
        )
    )


@op(
    "seq_packing",
    oracle=f"""
WITH toks AS (
  SELECT source, doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
  FROM documents
),
packed AS (
  SELECT source, tok,
         sum(tok) OVER (PARTITION BY source ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM toks
)
SELECT source, count(*) AS n_docs,
       CAST(sum(tok) AS BIGINT) AS tot_tokens,
       CAST(floor((sum(tok) + {BLOCK - 1}) / {BLOCK}.0) AS BIGINT) AS n_blocks,
       CAST(sum(CASE WHEN (cum - tok) // {BLOCK} < (cum - 1) // {BLOCK}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_straddling
FROM packed GROUP BY source
""",
)
def seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard sequence packing audit: documents are concatenated
    in doc_id order per source and chopped into fixed BLOCK-token
    training blocks (the standard LM data-packing layout); reports blocks
    needed and how many documents straddle a block boundary.

    The running token total is an O(n) ROWS frame per source (one
    shuffle); block ids are integer division so both engines agree
    exactly.  Straddle test: a doc spanning [cum−tok, cum−1] crosses a
    boundary iff its start block < end block."""
    docs = register_views(spark, sf_dir)["documents"]
    toks = docs.select(
        "source",
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("tok"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = toks.withColumn("cum", F.sum("tok").over(w))
    straddle = (
        F.floor((F.col("cum") - F.col("tok")) / BLOCK)
        < F.floor((F.col("cum") - 1) / BLOCK)
    ).cast("int")
    return (
        packed.select("source", "tok", straddle.alias("straddle"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tok").cast("bigint").alias("tot_tokens"),
            F.floor((F.sum("tok") + (BLOCK - 1)) / BLOCK)
            .cast("bigint")
            .alias("n_blocks"),
            F.sum("straddle").cast("bigint").alias("n_straddling"),
        )
    )


@op(
    "ngram_topk",
    oracle="""
WITH toks AS (
  SELECT string_split(text, ' ') AS tk FROM documents
),
bg AS (
  SELECT unnest(list_transform(range(1, len(tk)),
                               i -> tk[i] || ' ' || tk[i + 1])) AS bigram
  FROM toks WHERE len(tk) >= 2
)
SELECT bigram, count(*) AS n
FROM bg GROUP BY bigram
ORDER BY n DESC, bigram
LIMIT 25
""",
)
def ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-25 word bigrams — the boilerplate detector that
    feeds repetition filters.  Bigram expansion is a JVM-side
    ``transform`` over index sequences (guarded for 1-token docs — a
    descending ``sequence`` would throw); the count partial-aggregates
    map-side and the top-25 is TakeOrdered with a lexical tiebreak so
    equal counts rank identically on both engines."""
    docs = register_views(spark, sf_dir)["documents"]
    tk = F.split("text", " ")
    # zip_with over two shifted slices instead of transform(sequence) +
    # per-index element_at, which is per-bigram work: the dynamic-
    # ordinal element_at pair evaluated interpreted per bigram — measured
    # 2.42 s → 0.35 s for the whole op at sf0.1, byte-identical output
    # (exceptAll both ways = 0).  A 1-token doc slices to two empty
    # arrays → zero bigrams, same as the old otherwise-branch; split
    # never yields a 0-element array, so the slice length is never
    # negative.
    bigrams = F.zip_with(
        F.slice(tk, 1, F.size(tk) - 1),
        F.slice(tk, 2, F.size(tk) - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return (
        docs.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "bigram")
        .limit(25)
    )


@op(
    "exact_substring_dedup",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
),
ch AS (
  SELECT doc_id,
         md5(array_to_string(list_slice(tk, s.s, s.s + {CHUNK_K - 1}), ' ')) AS h
  FROM toks,
       LATERAL (SELECT unnest(range(1, len(tk) - {CHUNK_K - 2}, {CHUNK_STRIDE}))
                AS s) s
  WHERE len(tk) >= {CHUNK_K}
),
shared AS (
  SELECT h FROM ch GROUP BY h HAVING count(DISTINCT doc_id) >= 2
)
SELECT doc_id, count(*) AS n_chunks,
       CAST(sum(CASE WHEN shared.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_shared,
       round(sum(CASE WHEN shared.h IS NOT NULL THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS shared_ratio
FROM ch LEFT JOIN shared ON ch.h = shared.h
GROUP BY doc_id
HAVING sum(CASE WHEN shared.h IS NOT NULL THEN 1 ELSE 0 END) >= 1
""",
)
def exact_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring overlap detection à la suffix-array dedup, scaled
    down to chunk-hash form: every CHUNK_K-token window (stride
    CHUNK_STRIDE) is hashed; a chunk seen in ≥2 distinct documents marks
    both documents as sharing verbatim text.  Reports per-document chunk
    overlap for affected docs.

    Only 32-char chunk hashes ever shuffle (shuffle 1: per-hash distinct
    doc count; shuffle 2: per-doc roll-up) — the corpus square is never
    formed, and chunk expansion is a JVM-side ``transform`` over a
    stride-4 index sequence.  This is the scalable stand-in for the
    reference-class suffix-array pass, which cannot be expressed as a
    dataflow without a global sort."""
    docs = register_views(spark, sf_dir)["documents"]
    tk = F.split("text", " ")
    starts = F.when(
        F.size(tk) >= CHUNK_K,
        F.sequence(F.lit(1), F.size(tk) - (CHUNK_K - 1), F.lit(CHUNK_STRIDE)),
    ).otherwise(F.array().cast("array<int>"))
    ch = docs.select(
        "doc_id",
        F.explode(starts).alias("s"),
        tk.alias("tk"),
    ).select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.slice(F.col("tk"), F.col("s"), CHUNK_K))).alias("h"),
    )
    shared = (
        ch.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h", F.lit(1).alias("is_shared"))
    )
    return (
        ch.join(shared, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.coalesce(F.col("is_shared"), F.lit(0)))
            .cast("bigint")
            .alias("n_shared"),
        )
        .filter(F.col("n_shared") >= 1)
        .select(
            "doc_id",
            "n_chunks",
            "n_shared",
            F.round(F.col("n_shared") / F.col("n_chunks"), 6).alias("shared_ratio"),
        )
    )


@op(
    "embedding_norm_outliers",
    oracle="""
WITH n AS (
  SELECT vec_id, label,
         sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
              i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))
           AS vnorm
  FROM embeddings
),
stats AS (
  SELECT label, avg(vnorm) AS mu, stddev(vnorm) AS sigma
  FROM n GROUP BY label
)
SELECT vec_id, n.label, round(vnorm, 6) AS vnorm,
       round((vnorm - mu) / sigma, 4) AS zscore
FROM n JOIN stats ON n.label = stats.label
WHERE abs(round((vnorm - mu) / sigma, 4)) > 2.0
""",
)
def embedding_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding QC: vectors whose L2 norm sits > 2σ from their label's
    mean (dead or exploded embeddings poison both dedup thresholds and
    ANN recall, so this screen runs before either).

    Per-vector norms are sequential-fold doubles (bit-stable per engine
    pair, proven by the dedup_embedding_cosine oracle); label stats are
    one small aggregate broadcast back onto the vector stream — one
    shuffle on label + a broadcast join, no window.  The z-score is
    rounded before the >2σ compare on both engines so partial-aggregation
    summation order can't flip membership."""
    e = register_views(spark, sf_dir)["embeddings"]
    vnorm = F.sqrt(
        F.aggregate(
            F.col("embedding"),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    n = e.select("vec_id", "label", vnorm.alias("vnorm"))
    stats = n.groupBy("label").agg(
        F.avg("vnorm").alias("mu"), F.stddev("vnorm").alias("sigma")
    )
    z = F.round((F.col("vnorm") - F.col("mu")) / F.col("sigma"), 4)
    return (
        n.join(F.broadcast(stats), "label")
        .withColumn("zscore", z)
        .filter(F.abs(F.col("zscore")) > 2.0)
        .select("vec_id", "label", F.round("vnorm", 6).alias("vnorm"), "zscore")
    )


PR_DAMP = 0.85
PR_ITERS = 3
PR_MAX_BUCKET = 5  # chunk hashes shared by more docs are boilerplate — skip


@op(
    "doc_pagerank",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
),
ch AS (
  SELECT DISTINCT doc_id,
         md5(array_to_string(list_slice(tk, s.s, s.s + {CHUNK_K - 1}), ' ')) AS h
  FROM toks,
       LATERAL (SELECT unnest(range(1, len(tk) - {CHUNK_K - 2}, {CHUNK_STRIDE}))
                AS s) s
  WHERE len(tk) >= {CHUNK_K}
),
ok AS (
  SELECT h FROM ch GROUP BY h
  HAVING count(*) BETWEEN 2 AND {PR_MAX_BUCKET}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
  FROM ch a JOIN ch b ON a.h = b.h AND a.doc_id < b.doc_id
  JOIN ok ON ok.h = a.h
),
edges AS (SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs),
deg AS (SELECT u, count(*) AS d FROM edges GROUP BY u),
n AS (SELECT count(*) AS cnt FROM deg),
pr0 AS (SELECT u, round(1.0 / (SELECT cnt FROM n), 9) AS pr FROM deg),
pr1 AS (
  SELECT e.v AS u,
         round((SELECT 0.15 / cnt FROM n) + {PR_DAMP} * sum(p.pr / d.d), 9) AS pr
  FROM edges e JOIN pr0 p ON e.u = p.u JOIN deg d ON d.u = e.u
  GROUP BY e.v
),
pr2 AS (
  SELECT e.v AS u,
         round((SELECT 0.15 / cnt FROM n) + {PR_DAMP} * sum(p.pr / d.d), 9) AS pr
  FROM edges e JOIN pr1 p ON e.u = p.u JOIN deg d ON d.u = e.u
  GROUP BY e.v
),
pr3 AS (
  SELECT e.v AS u,
         round((SELECT 0.15 / cnt FROM n) + {PR_DAMP} * sum(p.pr / d.d), 9) AS pr
  FROM edges e JOIN pr2 p ON e.u = p.u JOIN deg d ON d.u = e.u
  GROUP BY e.v
)
SELECT u AS doc_id, round(pr, 6) AS pagerank FROM pr3
ORDER BY pagerank DESC, doc_id
""",
)
def doc_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the verbatim-overlap document graph ({PR_ITERS}
    damped iterations): nodes are documents sharing an exact 8-token
    chunk, edges undirected — the "template hub" detector that surfaces
    the most-copied documents in a corpus.

    The iterative algorithm is EXACTLY oracle-checked (rare for graph
    ops): the DuckDB twin unrolls the same {PR_ITERS} iterations as
    chained CTEs, and every iteration rounds to 9 decimals on both engines so
    summation-order ulps can never compound across iterations.

    Scale shape: edge generation is the chunk-hash equi-join (hub hashes
    capped at {PR_MAX_BUCKET} docs — boilerplate never becomes a clique);
    each iteration is one join + one keyed reduce over (edges ⋈ ranks),
    the standard distributed-PageRank dataflow — the driver only unrolls
    the loop, it never touches data."""
    docs = register_views(spark, sf_dir)["documents"]
    tk = F.split("text", " ")
    starts = F.when(
        F.size(tk) >= CHUNK_K,
        F.sequence(F.lit(1), F.size(tk) - (CHUNK_K - 1), F.lit(CHUNK_STRIDE)),
    ).otherwise(F.array().cast("array<int>"))
    ch = (
        docs.select("doc_id", F.explode(starts).alias("s"), tk.alias("tk"))
        .select(
            "doc_id",
            F.md5(F.concat_ws(" ", F.slice(F.col("tk"), F.col("s"), CHUNK_K))).alias(
                "h"
            ),
        )
        .distinct()
    )
    ok = (
        ch.groupBy("h")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd").between(2, PR_MAX_BUCKET))
        .select(F.col("h").alias("okh"))
    )
    a = ch.alias("a")
    b = ch.alias("b")
    pairs = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .join(ok, F.col("a.h") == F.col("okh"))
        .select(F.col("a.doc_id").alias("u"), F.col("b.doc_id").alias("v"))
        .distinct()
    )
    # The edge list feeds every iteration (×2 sides) — localCheckpoint so
    # the chunk-hash expansion runs once, not once per lineage replay.
    edges = pairs.union(
        pairs.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint()
    deg = edges.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    base = deg.agg(
        F.round(1.0 / F.count(F.lit(1)), 9).alias("pr_init"),
        (0.15 / F.count(F.lit(1))).alias("b"),
    )
    pr = deg.join(F.broadcast(base)).select("u", F.col("pr_init").alias("pr"))
    for _ in range(PR_ITERS):
        contrib = (
            edges.join(pr, "u")
            .join(deg, "u")
            .groupBy("v")
            .agg(F.sum(F.col("pr") / F.col("d")).alias("s"))
        )
        pr = (
            contrib.join(F.broadcast(base))
            .select(
                F.col("v").alias("u"),
                F.round(F.col("b") + PR_DAMP * F.col("s"), 9).alias("pr"),
            )
        )
    return pr.select(
        F.col("u").alias("doc_id"), F.round("pr", 6).alias("pagerank")
    ).orderBy(F.col("pagerank").desc(), "doc_id")
